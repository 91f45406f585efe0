package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass kernels for the text-ANALYSIS queries (ta_stats,
  * ta_langid, ta_tokens, ta_fingerprint) and the n-gram-Jaccard
  * verification stage. The declarative forms — `size(filter(toks,
  * isin))`, `array_distinct`, `array_intersect` — are higher-order /
  * collection expressions that Catalyst evaluates interpreted, and
  * `CollapseProject` re-derives the token array per consumer column,
  * so ta_langid paid 4 × (regex-normalize + split + interpreted
  * filter) per row. Each kernel here makes exactly one pass over the
  * text and returns every needed count at once. `countBelow` is the
  * prefix scan's bucket search ([[CountBelow]]).
  *
  * CONTRACT: bit-identical to the SQL forms the DuckDB oracle runs
  * (`TextAnalysis.*Oracle`): normalize = lower(trim(collapse-`\s+`)),
  * tokens = split on single space with trailing empties kept.
  */
object TextStatKernels {

  /** Exactly `text.replaceAll("\\s+", " ").trim.toLowerCase(ROOT)`,
    * without the regex engine: collapse Java-`\s` runs to one space,
    * `String.trim` semantics at the edges, then ROOT lowercase. */
  def normalize(text: UTF8String): String = {
    val s = text.toString
    val n = s.length
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    var inWs = false
    while (i < n) {
      val c = s.charAt(i)
      // Java regex \s = [ \t\n\x0B\f\r]
      val ws = c == ' ' || c == '\t' || c == '\n' || c == '\u000B' ||
        c == '\f' || c == '\r'
      if (ws) inWs = true
      else {
        if (inWs && sb.length() > 0) sb.append(' ')
        inWs = false
        sb.append(c)
      }
      i += 1
    }
    // trailing collapsed space never emitted; String.trim also strips
    // leading/trailing control chars <= ' ' that survived collapsing
    var out = sb.toString
    out = out.trim
    out.toLowerCase(java.util.Locale.ROOT)
  }

  /** Tokens of the normal form, `split(" ", -1)` semantics ("" → [""]). */
  private def toks(text: UTF8String): Array[String] =
    normalize(text).split(" ", -1)

  /** [[toks]] as Catalyst array data (the `TokenArr` kernel body). */
  def tokenArr(text: UTF8String): ArrayData =
    new GenericArrayData(
      toks(text).map(x => UTF8String.fromString(x): Any))

  /** [n_chars_norm, n_tokens, n_distinct_tokens, n_in_set] in one
    * pass; `set` is the stopword set. */
  def tokenStats(text: UTF8String, set: java.util.HashSet[String]): ArrayData = {
    val norm = normalize(text)
    val t = norm.split(" ", -1)
    val seen = new java.util.HashSet[String](t.length * 2)
    var nStop = 0L
    var i = 0
    while (i < t.length) {
      seen.add(t(i))
      if (set.contains(t(i))) nStop += 1
      i += 1
    }
    new GenericArrayData(Array[Any](
      UTF8String.fromString(norm).numChars().toLong,
      t.length.toLong, seen.size.toLong, nStop))
  }

  /** Per-set token-occurrence counts: `masks` maps token → bitmask of
    * the sets containing it; returns `nSets` counts in one pass. */
  def tokenSetCounts(text: UTF8String,
      masks: java.util.HashMap[String, java.lang.Long],
      nSets: Int): ArrayData = {
    val t = toks(text)
    val counts = new Array[Long](nSets)
    var i = 0
    while (i < t.length) {
      val m = masks.get(t(i))
      if (m != null) {
        var bits = m.longValue()
        while (bits != 0L) {
          val j = java.lang.Long.numberOfTrailingZeros(bits)
          counts(j) += 1
          bits &= bits - 1
        }
      }
      i += 1
    }
    new GenericArrayData(counts.map(x => x: Any))
  }

  /** Match count of `[a-z]+|[0-9]+|[^a-z0-9 ]` over the normal form —
    * letter runs + digit runs + single other symbols, the BPE-ish
    * pre-tokenizer shape, sans regex engine. */
  def bpeCount(text: UTF8String): Long = {
    val s = normalize(text)
    val n = s.length
    var count = 0L
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c >= 'a' && c <= 'z') {
        while (i < n && s.charAt(i) >= 'a' && s.charAt(i) <= 'z') i += 1
        count += 1
      } else if (c >= '0' && c <= '9') {
        while (i < n && s.charAt(i) >= '0' && s.charAt(i) <= '9') i += 1
        count += 1
      } else if (c == ' ') i += 1
      else { count += 1; i += 1 }
    }
    count
  }

  /** Whitespace token count of the normal form: single spaces only
    * post-normalize, so `split(" ", -1).length` = spaces + 1 (and ""
    * splits to [""], also spaces + 1). */
  def wsTokenCount(text: UTF8String): Long = {
    val s = normalize(text)
    var spaces = 0L
    var i = 0
    while (i < s.length) { if (s.charAt(i) == ' ') spaces += 1; i += 1 }
    spaces + 1
  }

  /** Sorted token multiset of the normal form joined by single spaces
    * — the order-insensitive "bag" fingerprint material; sort order is
    * Java `String.compareTo`, identical to Spark's `array_sort` UTF-8
    * binary order on ASCII/BMP text. */
  def bagNorm(text: UTF8String): UTF8String = {
    val t = normalize(text).split(" ", -1)
    java.util.Arrays.sort(t.asInstanceOf[Array[Object]])
    UTF8String.fromString(String.join(" ", t: _*))
  }

  /** Repetition signals over the normal form's token stream in one
    * pass: [n_tokens, top_token_cnt, top_bigram_cnt, n_trigrams,
    * n_distinct_trigrams] — the inputs to Gopher-style repetitiveness
    * filters (most-frequent-token share, most-frequent-bigram share,
    * duplicate-trigram share). */
  def repetitionStats(text: UTF8String): ArrayData = {
    val t = toks(text)
    val n = t.length
    val uni = new java.util.HashMap[String, Int](n * 2)
    var topUni = 0
    var i = 0
    while (i < n) {
      val c = uni.merge(t(i), 1, (a, b) => a + b)
      if (c > topUni) topUni = c
      i += 1
    }
    val bi = new java.util.HashMap[String, Int](n * 2)
    var topBi = 0
    i = 0
    while (i + 1 < n) {
      val c = bi.merge(t(i) + " " + t(i + 1), 1, (a, b) => a + b)
      if (c > topBi) topBi = c
      i += 1
    }
    val tri = new java.util.HashSet[String](n * 2)
    val nTri = math.max(0, n - 2)
    i = 0
    while (i + 2 < n) {
      tri.add(t(i) + " " + t(i + 1) + " " + t(i + 2))
      i += 1
    }
    new GenericArrayData(Array[Any](
      n.toLong, topUni.toLong, topBi.toLong, nTri.toLong,
      tri.size.toLong))
  }

  /** Raw consecutive n-gram strings of the normal form's tokens
    * (space-joined, order-preserving, duplicates kept); empty array
    * when the doc has fewer than `n` tokens. */
  def tokenNgrams(text: UTF8String, n: Int): ArrayData = {
    val t = toks(text)
    val count = math.max(0, t.length - n + 1)
    val out = new Array[Any](count)
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i < count) {
      sb.setLength(0)
      var j = i
      while (j < i + n) {
        if (j > i) sb.append(' ')
        sb.append(t(j))
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** |a ∩ b| for element-distinct string arrays — the size of
    * `array_intersect` without materializing the intersection (or the
    * union: |a ∪ b| = |a| + |b| − |a ∩ b| for distinct inputs). */
  def intersectCount(a: ArrayData, b: ArrayData): Long = {
    val (small, large) =
      if (a.numElements() <= b.numElements()) (a, b) else (b, a)
    val ns = small.numElements()
    val set = new java.util.HashSet[UTF8String](ns * 2)
    var i = 0
    while (i < ns) { set.add(small.getUTF8String(i)); i += 1 }
    val nl = large.numElements()
    var hits = 0L
    i = 0
    while (i < nl) {
      if (set.contains(large.getUTF8String(i))) hits += 1
      i += 1
    }
    hits
  }

  /** |a ∩ b| for element-distinct string arrays that are BOTH sorted
    * ascending (binary order — `sort_array`'s order): a single merge
    * pass, no per-call hash set (~10× cheaper per call than
    * [[intersectCount]] on ~30-element trigram arrays). Caller must
    * guarantee the sort order and no null elements; the result is the
    * same set size either way.
    *
    * Cost: on [[UnsafeArrayData]] (what a codegen'd stage hands in)
    * the merge compares the elements' bytes in place and allocates
    * nothing; any other `ArrayData` compares `UTF8String`s, two
    * allocations per comparison. All 132 355 pairs of 515 sorted
    * 30-trigram arrays (md5-hex names, q176's planted-block shape),
    * one thread on a 4-core x86 box: 334–524 ms per pass on the
    * `UTF8String` path, 105–146 ms on the byte path, same counts. */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Long = (a, b) match {
    case (ua: UnsafeArrayData, ub: UnsafeArrayData) =>
      unsafeSortedIntersectCount(ua, ub)
    case _ =>
      val na = a.numElements()
      val nb = b.numElements()
      var i = 0
      var j = 0
      var hits = 0L
      while (i < na && j < nb) {
        val c = a.getUTF8String(i).compareTo(b.getUTF8String(j))
        if (c == 0) { hits += 1; i += 1; j += 1 }
        else if (c < 0) i += 1
        else j += 1
      }
      hits
  }

  /** The number of `bounds` strictly below `key`, by binary search
    * (the [[CountBelow]] kernel). `bounds` must be ascending with no
    * null element; duplicates are fine. */
  def countBelow(key: Long, bounds: ArrayData): Int = {
    var lo = 0
    var hi = bounds.numElements()
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (bounds.getLong(mid) < key) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** [[sortedIntersectCount]]'s merge over the arrays' bytes. A
    * string element's slot holds (offset << 32 | size), offset from
    * the array's base — what `UnsafeArrayData.getUTF8String` reads. */
  private def unsafeSortedIntersectCount(a: UnsafeArrayData,
      b: UnsafeArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    val ao = a.getBaseObject
    val ab = a.getBaseOffset
    val bo = b.getBaseObject
    val bb = b.getBaseOffset
    var i = 0
    var j = 0
    var hits = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      val c = compareBytes(ao, ab + (x >> 32), x.toInt,
        bo, bb + (y >> 32), y.toInt)
      if (c == 0) { hits += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    hits
  }

  /** `UTF8String.compareTo`'s order on raw bytes: unsigned byte by
    * byte, then the shorter string first. */
  private def compareBytes(o1: AnyRef, p1: Long, n1: Int,
      o2: AnyRef, p2: Long, n2: Int): Int = {
    val n = math.min(n1, n2)
    var k = 0
    while (k < n) {
      val d = (Platform.getByte(o1, p1 + k) & 0xff) -
        (Platform.getByte(o2, p2 + k) & 0xff)
      if (d != 0) return d
      k += 1
    }
    n1 - n2
  }
}

/** text → whitespace-normalized lowercase normal form (codegen'd). */
case class NormText(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "norm_text"
  override def nullSafeEval(t: Any): Any =
    UTF8String.fromString(
      TextStatKernels.normalize(t.asInstanceOf[UTF8String]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.functions.TextStatKernels.normalize($c))")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** text → [n_chars_norm, n_tokens, n_distinct_tokens, n_stopwords]. */
case class TokenStats(child: Expression, stop: Seq[String])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "token_stats"

  @transient private lazy val stopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    stop.foreach(s.add)
    s
  }

  override def nullSafeEval(t: Any): Any =
    TextStatKernels.tokenStats(t.asInstanceOf[UTF8String], stopSet)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stopSet", stopSet, "java.util.HashSet")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextStatKernels.tokenStats($c, $ref)")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** text → per-set marker-token counts (language-ID scores) in one
  * pass; `sets` may share tokens (bitmask dispatch). */
case class TokenSetCounts(child: Expression, sets: Seq[Seq[String]])
    extends UnaryExpression {
  require(sets.length <= 64, "bitmask dispatch caps at 64 sets")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "token_set_counts"

  @transient private lazy val masks: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long]()
    sets.zipWithIndex.foreach { case (set, j) =>
      set.foreach { tok =>
        val prev = m.get(tok)
        val bits = (if (prev == null) 0L else prev.longValue()) | (1L << j)
        m.put(tok, java.lang.Long.valueOf(bits))
      }
    }
    m
  }

  override def nullSafeEval(t: Any): Any =
    TextStatKernels.tokenSetCounts(
      t.asInstanceOf[UTF8String], masks, sets.length)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("masks", masks, "java.util.HashMap")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextStatKernels.tokenSetCounts($c, $ref, ${sets.length})")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** text → token array of the normal form (split-on-single-space with
  * trailing empties kept), minus the regex engine. */
case class TokenArr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "token_arr"
  override def nullSafeEval(t: Any): Any =
    TextStatKernels.tokenArr(t.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextStatKernels.tokenArr($c)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** text → whitespace token count of the normal form. */
case class WsTokenCount(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "ws_token_count"
  override def nullSafeEval(t: Any): Any =
    TextStatKernels.wsTokenCount(t.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextStatKernels.wsTokenCount($c)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** text → sorted-token "bag" normal form (order-insensitive). */
case class BagNorm(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "bag_norm"
  override def nullSafeEval(t: Any): Any =
    TextStatKernels.bagNorm(t.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextStatKernels.bagNorm($c)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** text → [n_tokens, top_token_cnt, top_bigram_cnt, n_trigrams,
  * n_distinct_trigrams] repetition signals. */
case class RepetitionStats(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "repetition_stats"
  override def nullSafeEval(t: Any): Any =
    TextStatKernels.repetitionStats(t.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextStatKernels.repetitionStats($c)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** text → consecutive n-gram strings of the normal form's tokens. */
case class TokenNgrams(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "token_ngrams"
  override def nullSafeEval(t: Any): Any =
    TextStatKernels.tokenNgrams(t.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextStatKernels.tokenNgrams($c, $n)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** text → BPE-ish pre-tokenizer match count over the normal form. */
case class BpeCount(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "bpe_count"
  override def nullSafeEval(t: Any): Any =
    TextStatKernels.bpeCount(t.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextStatKernels.bpeCount($c)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** (array<string>, array<string>) → |a ∩ b| without materializing. */
case class IntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "intersect_count"
  override def nullSafeEval(a: Any, b: Any): Any =
    TextStatKernels.intersectCount(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.TextStatKernels.intersectCount($a, $b)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}

/** (sorted array<string>, sorted array<string>) → |a ∩ b| by merge —
  * see [[TextStatKernels.sortedIntersectCount]]'s precondition. */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_intersect_count"
  override def nullSafeEval(a: Any, b: Any): Any =
    TextStatKernels.sortedIntersectCount(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.TextStatKernels.sortedIntersectCount($a, $b)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}

/** (BIGINT key, ascending array<bigint> bounds) → the number of
  * bounds strictly below the key, by binary search: the range bucket
  * of `OrderStats.quantileBuckets`' prefix scan. It replaces the
  * lambda `aggregate(bnd, 0, (acc, b) -> acc + IF(key > b, 1, 0))`,
  * which Spark evaluates interpreted (higher-order functions have no
  * codegen) with one lambda call per bound per row, and returns what
  * the lambda returns: null for null bounds, 0 for a null key. The
  * bounds must be ascending with no null element, as
  * `approx_percentile` returns them for ascending percentages. */
case class CountBelow(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, ArrayType(LongType, _)) => TypeCheckSuccess
      case (k, b) => TypeCheckFailure(
        s"count_below: needs (bigint, array<bigint>), got ($k, $b)")
    }
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = right.nullable
  override def prettyName: String = "count_below"
  override def eval(input: InternalRow): Any = {
    val bounds = right.eval(input)
    if (bounds == null) null
    else {
      val key = left.eval(input)
      if (key == null) 0
      else TextStatKernels.countBelow(
        key.asInstanceOf[Long], bounds.asInstanceOf[ArrayData])
    }
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val key = left.genCode(ctx)
    val bounds = right.genCode(ctx)
    ev.copy(code = code"""
      |${bounds.code}
      |boolean ${ev.isNull} = ${bounds.isNull};
      |int ${ev.value} = 0;
      |if (!${ev.isNull}) {
      |  ${key.code}
      |  if (!${key.isNull}) {
      |    ${ev.value} = graft.functions.TextStatKernels.countBelow(
      |      ${key.value}, ${bounds.value});
      |  }
      |}""".stripMargin)
  }
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}

object TextStatFunctions {
  def normText(c: Column): Column =
    Bridge.column(NormText(Bridge.expression(c)))
  def tokenArr(c: Column): Column =
    Bridge.column(TokenArr(Bridge.expression(c)))
  def tokenStats(c: Column, stop: Seq[String]): Column =
    Bridge.column(TokenStats(Bridge.expression(c), stop))
  def tokenSetCounts(c: Column, sets: Seq[Seq[String]]): Column =
    Bridge.column(TokenSetCounts(Bridge.expression(c), sets))
  def bpeCount(c: Column): Column =
    Bridge.column(BpeCount(Bridge.expression(c)))
  def wsTokenCount(c: Column): Column =
    Bridge.column(WsTokenCount(Bridge.expression(c)))
  def bagNorm(c: Column): Column =
    Bridge.column(BagNorm(Bridge.expression(c)))
  def intersectCount(a: Column, b: Column): Column =
    Bridge.column(IntersectCount(Bridge.expression(a), Bridge.expression(b)))
  def sortedIntersectCount(a: Column, b: Column): Column =
    Bridge.column(SortedIntersectCount(
      Bridge.expression(a), Bridge.expression(b)))
  def countBelow(key: Column, bounds: Column): Column =
    Bridge.column(CountBelow(Bridge.expression(key), Bridge.expression(bounds)))
  def repetitionStats(c: Column): Column =
    Bridge.column(RepetitionStats(Bridge.expression(c)))
  def tokenNgrams(c: Column, n: Int): Column =
    Bridge.column(TokenNgrams(Bridge.expression(c), n))
}
