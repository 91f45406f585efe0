package graft.functions

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeArrayData, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec

/** Property tests: every regex-free kernel must agree with the
  * declarative (regex / collection) reference implementation on
  * ADVERSARIAL input — whitespace runs of every Java-`\s` character,
  * control chars, unicode, empties — not just the well-behaved bench
  * corpus. This is the contract that lets the kernels replace the
  * interpreted forms without an oracle gap. */
class KernelPropertySpec extends AnyFunSuite {

  private def forAll[A](gen: Gen[A])(f: A => Unit): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(200),
      Prop.forAll(gen) { a => f(a); true })
    assert(res.passed, res.status.toString)
  }

  /** Strings heavy in whitespace variants, digits, symbols, unicode. */
  private val nastyChar: Gen[Char] = Gen.frequency(
    6 -> Gen.oneOf(' ', '\t', '\n', '\u000B', '\f', '\r'),
    6 -> Gen.alphaChar,
    2 -> Gen.numChar,
    2 -> Gen.oneOf('!', '?', '.', ',', '@', '#', '\u0001', '\u007F'),
    1 -> Gen.oneOf('Ä', 'ß', 'É', 'λ', '中'))
  private val nastyString: Gen[String] =
    Gen.chooseNum(0, 60).flatMap(n => Gen.stringOfN(n, nastyChar))

  private def refNorm(s: String): String =
    s.replaceAll("\\s+", " ").trim.toLowerCase(java.util.Locale.ROOT)

  test("normalize ≡ replaceAll/trim/toLowerCase on adversarial strings") {
    forAll(nastyString) { s =>
      assert(TextStatKernels.normalize(UTF8String.fromString(s)) ==
        refNorm(s), s"input=${s.map(_.toInt).mkString(",")}")
    }
  }

  test("wsTokenCount / bagNorm ≡ split-based references") {
    forAll(nastyString) { s =>
      val u = UTF8String.fromString(s)
      val toks = refNorm(s).split(" ", -1)
      assert(TextStatKernels.wsTokenCount(u) == toks.length.toLong)
      assert(TextStatKernels.bagNorm(u).toString ==
        toks.sorted.mkString(" "))
    }
  }

  test("bpeCount ≡ regex match count over the normal form") {
    val p = java.util.regex.Pattern.compile("[a-z]+|[0-9]+|[^a-z0-9 ]")
    forAll(nastyString) { s =>
      val m = p.matcher(refNorm(s))
      var n = 0L
      while (m.find()) n += 1
      assert(TextStatKernels.bpeCount(UTF8String.fromString(s)) == n)
    }
  }

  test("repetitionStats agrees with brute-force counting") {
    forAll(nastyString) { s =>
      val st = TextStatKernels.repetitionStats(UTF8String.fromString(s))
      val toks = refNorm(s).split(" ", -1).toSeq
      def grams(n: Int) = toks.sliding(n).filter(_.length == n)
        .map(_.mkString(" ")).toSeq
      assert(st.getLong(0) == toks.length.toLong)
      assert(st.getLong(1) ==
        toks.groupBy(identity).values.map(_.length).max.toLong)
      val bi = grams(2)
      assert(st.getLong(2) == (if (bi.isEmpty) 0L
        else bi.groupBy(identity).values.map(_.length).max.toLong))
      val tri = grams(3)
      assert(st.getLong(3) == tri.length.toLong)
      assert(st.getLong(4) == tri.distinct.length.toLong)
    }
  }

  test("intersectCount ≡ set intersection size on distinct arrays") {
    val arrGen = Gen.listOf(Gen.oneOf("a", "b", "c", "d", "e", "f", "g"))
      .map(_.distinct)
    forAll(Gen.zip(arrGen, arrGen)) { case (a, b) =>
      def ad(xs: List[String]) =
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          xs.map(x => UTF8String.fromString(x): Any).toArray)
      assert(TextStatKernels.intersectCount(ad(a), ad(b)) ==
        a.toSet.intersect(b.toSet).size.toLong)
    }
  }

  /** Short strings over ASCII, 2-, 3- and 4-byte UTF-8 characters
    * (bytes ≥ 0x80, where a signed byte compare would misorder), of
    * length 0–4 so that prefix pairs ("ab" vs "abc") are common. */
  private val gramGen: Gen[String] = Gen.chooseNum(0, 4).flatMap(n =>
    Gen.listOfN(n, Gen.oneOf("a", "b", "z", "\u0080", "é", "ß", "中",
      "\uD83D\uDE00")).map(_.mkString))
  /** Element-distinct arrays in binary (`sort_array`) order; one in
    * five is empty. */
  private val sortedGrams: Gen[Seq[UTF8String]] = Gen.frequency(
    1 -> Gen.const(Nil),
    4 -> Gen.listOf(gramGen).map(_.distinct.map(UTF8String.fromString)
      .sortWith(_.compareTo(_) < 0)))

  private def generic(xs: Seq[UTF8String]): ArrayData =
    new GenericArrayData(xs.toArray[Any])
  private val toUnsafe =
    UnsafeProjection.create(Array[DataType](ArrayType(StringType, false)))
  private def unsafe(xs: Seq[UTF8String]): UnsafeArrayData =
    toUnsafe(InternalRow(generic(xs))).getArray(0).copy()

  test("sortedIntersectCount's byte path ≡ its UTF8String path ≡ set " +
      "intersection size, on multibyte, prefix and empty arrays") {
    forAll(Gen.zip(sortedGrams, sortedGrams)) { case (a, b) =>
      val want = a.toSet.intersect(b.toSet).size.toLong
      val bytes = TextStatKernels.sortedIntersectCount(unsafe(a), unsafe(b))
      val utf8 = TextStatKernels.sortedIntersectCount(generic(a), generic(b))
      assert(bytes == want && utf8 == want, s"a=$a b=$b")
      assert(TextStatKernels.sortedIntersectCount(unsafe(a), generic(b)) ==
        want)
    }
    val prefix = Seq("ab", "abc").map(UTF8String.fromString)
    assert(TextStatKernels.sortedIntersectCount(
      unsafe(prefix), unsafe(prefix.drop(1))) == 1L)
  }

  test("count_below ≡ the aggregate lambda it replaces, codegen'd and " +
      "interpreted: duplicate bounds, keys on a bound, negative keys, " +
      "empty and null bounds, null keys") {
    val s = SparkSpec.spark
    val bounds: Gen[Seq[Long]] =
      Gen.listOf(Gen.chooseNum(-5L, 5L)).map(_.take(9).sorted)
    val row: Gen[Row] = for {
      k <- Gen.frequency(1 -> Gen.const(null),
        1 -> Gen.oneOf(Long.MinValue, Long.MaxValue),
        12 -> Gen.chooseNum(-6L, 6L))
      b <- Gen.frequency(1 -> Gen.const(null), 1 -> Gen.const(Nil),
        10 -> bounds)
    } yield Row(k, b)
    val rows = Gen.listOfN(400, row)
      .pureApply(Gen.Parameters.default, org.scalacheck.rng.Seed(20261019L))
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("bnd", ArrayType(LongType, containsNull = false))))
    // built per mode: a Dataset keeps its physical plan once executed
    def df = s.createDataFrame(s.sparkContext.parallelize(rows, 2), schema)
      .select(col("k"), col("bnd"),
        expr("aggregate(bnd, 0, (acc, b) -> acc + IF(k > b, 1, 0))")
          .as("lambda"),
        TextStatFunctions.countBelow(col("k"), col("bnd")).as("search"))
    val modes = Seq(
      true -> Seq("spark.sql.codegen.wholeStage" -> "true",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
      false -> Seq("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
    for ((codegen, confs) <- modes) {
      val mode = if (codegen) "codegen" else "interpreted"
      val before = confs.map { case (key, _) => key -> s.conf.getOption(key) }
      confs.foreach { case (key, v) => s.conf.set(key, v) }
      try {
        val q = df
        val got = q.collect()
        assert(q.queryExecution.executedPlan
          .exists(_.isInstanceOf[WholeStageCodegenExec]) == codegen, mode)
        assert(got.length == rows.length)
        got.foreach { r =>
          assert(r.get(2) == r.get(3), s"$mode: $r")
        }
        assert(got.exists(r => r.isNullAt(1) && r.isNullAt(3)), mode)
      } finally before.foreach {
        case (key, Some(v)) => s.conf.set(key, v)
        case (key, None) => s.conf.unset(key)
      }
    }
  }
}
