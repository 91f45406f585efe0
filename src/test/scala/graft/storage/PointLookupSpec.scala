package graft.storage

import java.nio.file.{Files, Path, Paths}

import scala.util.Using

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.core._
import graft.core.PrimValue.{BoolVal, FloatVal, IntVal, StrVal}
import graft.crud.CrudEngine
import graft.graphql.Executor
import graft.tools.JobCount

/** `ParquetBackend.lookup` and `rows` — the driver-side point and
  * whole-table reads — against the SPI's DataFrame defaults: same
  * answers, no Spark job. */
class PointLookupSpec extends AnyFunSuite {
  lazy val spark = SparkSpec.spark

  /** Forwards the four DataFrame methods only, so `lookup` (slice +
    * filter + head) and `rows` (select + collect) are the SPI defaults,
    * as in any decorator that does not forward them. */
  private final class SpiDefaults(inner: StorageBackend)
      extends StorageBackend {
    def table(m: ModelDefinition): DataFrame = inner.table(m)
    def slice(m: ModelDefinition, v: PrimValue): DataFrame = inner.slice(m, v)
    def writeSlice(m: ModelDefinition, v: PrimValue, df: DataFrame): Unit =
      inner.writeSlice(m, v, df)
    def overwrite(m: ModelDefinition, df: DataFrame): Unit =
      inner.overwrite(m, df)
  }

  private def model(pkType: String): ModelDefinition =
    Registry.parseDefinition(
      s"""{"model_name":"item","storage_type":"parquet",
         |"attributes":{"id":"$pkType","count":"Integer","label":"String",
         |"flag":"Boolean","score":"Float","counts":["Integer"],
         |"labels":["String"],"flags":["Boolean"],"scores":["Float"]},
         |"primary_key":"id","required":["id"]}"""
        .stripMargin.replace("\n", "")).toOption.get

  /** Row `i` of the fixture: every fifth row has null optionals, every
    * seventh has empty arrays. */
  private def row(id: Any, i: Int): Row =
    if (i % 5 == 0) Row(id, null, null, null, null, null, null, null, null)
    else {
      val n = if (i % 7 == 0) 0 else i % 4 + 1
      Row(id, i * 1000L - 7, s"läbel-$i", i % 2 == 0, i * 0.25 - 3,
        Seq.tabulate(n)(k => (i + k).toLong), Seq.tabulate(n)(k => s"s$k/$i"),
        Seq.tabulate(n)(k => (i + k) % 3 == 0), Seq.tabulate(n)(k => k * 1.5 - i))
    }

  private def store(root: Path = Files.createTempDirectory("point-lookup"))
      : ParquetBackend = new ParquetBackend(spark, root.toString, buckets = 8)

  private def assertParity(b: ParquetBackend, m: ModelDefinition,
      keys: Seq[PrimValue]): Unit = {
    val default = new SpiDefaults(b)
    keys.foreach { k =>
      assert(b.lookup(m, k) == default.lookup(m, k), s"key $k")
    }
    assertRowsParity(b, m)
  }

  private def allColumns(m: ModelDefinition): Seq[String] =
    m.attributes.map(_._1)

  /** `rows(m, cols)` equals `table(m).select(cols)` collected, as a
    * multiset, for every column, a proper subset and every column
    * reordered; its rows hold exactly `cols`, in that order. */
  private def assertRowsParity(b: ParquetBackend, m: ModelDefinition): Unit = {
    def bag(rs: Seq[Row]): Map[Row, Int] = rs.groupMapReduce(identity)(_ => 1)(_ + _)
    val all = allColumns(m)
    Seq(all, Seq("labels", "id", "label", "score"), all.reverse).foreach { cols =>
      val got = b.rows(m, cols)
      val want = b.table(m).select(cols.map(col): _*).collect().toSeq
      assert(got.size == want.size && bag(got) == bag(want), cols)
      assert(got.forall(_.schema.fieldNames.toSeq == cols), cols)
    }
  }

  /** pk type → stored keys and absent keys. */
  private val pkCases: Seq[(String, Seq[PrimValue], Seq[PrimValue])] = Seq(
    ("Integer", (-20 until 180).map(i => IntVal(i.toLong)),
      Seq(IntVal(180), IntVal(-21), IntVal(Long.MaxValue))),
    ("String", (0 until 200).map(i => StrVal(s"k-$i-ü")),
      Seq(StrVal(""), StrVal("k-1"), StrVal("k-200-ü"))),
    ("Boolean", Seq(BoolVal(true)), Seq(BoolVal(false))),
    ("Float", (0 until 200).map(i => FloatVal(i * 0.75 - 40)),
      Seq(FloatVal(0.1), FloatVal(1e300), FloatVal(-40.5))))

  pkCases.foreach { case (pkType, ids, absent) =>
    test(s"$pkType pk: lookup equals the DataFrame default on every key") {
      val m = model(pkType)
      val b = store()
      // nothing stored yet: every bucket directory is missing
      assertParity(b, m, ids.take(3) ++ absent)
      val rows = ids.zipWithIndex.map { case (id, i) => row(id.raw, i) }
      // three input partitions → up to three files per bucket
      new CrudEngine(spark, b).bulkLoad(m, spark.createDataFrame(
        java.util.List.of(rows: _*), m.schema).repartition(3))
      assertParity(b, m, ids ++ absent)
      assert(ids.forall(b.lookup(m, _).isDefined))
      assert(b.rows(m, allColumns(m)).size == ids.size)
    }
  }

  test("buckets holding several files after bulk load plus updates") {
    val m = model("Integer")
    val root = Files.createTempDirectory("point-lookup")
    val b = store(root)
    val e = new CrudEngine(spark, b)
    e.bulkLoad(m, spark.createDataFrame(java.util.List.of(
      (0 until 64).map(i => row(i.toLong, i)): _*), m.schema).repartition(4))
    (0 until 64 by 3).foreach(i =>
      assert(e.updateOne(m, i.toString, s"""{"label":"u$i","counts":[]}""").isRight))
    (100 until 110).foreach(i =>
      assert(e.createOne(m, s"""{"id":$i,"scores":[0.5]}""").isRight))
    (1 until 64 by 5).foreach(i => assert(e.deleteOne(m, i.toString).isRight))
    val keys = (0 until 120).map(i => IntVal(i.toLong))
    val files = (0 until 8).map { k =>
      val dir = root.resolve(s"items/_bucket=$k")
      Using.resource(Files.list(dir))(
        _.filter(_.toString.endsWith(".parquet")).count())
    }
    assert(files.forall(_ > 1), s"files per bucket: $files")
    assertParity(b, m, keys)
  }

  test("a file without a declared column reads it as null; INT32/FLOAT widen") {
    val m = model("Integer")
    val b = store()
    val rows = (0 until 40).map(i => row(i.toLong, i))
    new CrudEngine(spark, b).bulkLoad(m, spark.createDataFrame(
      java.util.List.of(rows: _*), m.schema).drop("label", "scores")
      .withColumn("count", col("count").cast("int"))
      .withColumn("score", col("score").cast("float")))
    val keys = (0 until 41).map(i => IntVal(i.toLong))
    assertParity(b, m, keys)
    val got = b.lookup(m, IntVal(3)).get
    assert(got.isNullAt(2) && got.isNullAt(8))
    assert(got.getLong(1) == 2993L && got.getDouble(4) == -2.25)
  }

  test("readOne launches no Spark job; each write launches one fewer") {
    val m = model("Integer")
    def loaded(): ParquetBackend = {
      val b = store()
      // one file per bucket, so the default lookup is exactly one job
      new CrudEngine(spark, b).bulkLoad(m, spark.createDataFrame(
        java.util.List.of((0 until 40).map(i => row(i.toLong, i)): _*),
        m.schema).coalesce(1))
      b
    }
    val fast = new CrudEngine(spark, loaded())
    val slow = new CrudEngine(spark, new SpiDefaults(loaded()))

    val reads = Seq("3", "17", "39", "40", "-5", "1000")
    val (fastReads, fastJobs) = JobCount(spark)(reads.map(fast.readOne(m, _)))
    val (slowReads, slowJobs) = JobCount(spark)(reads.map(slow.readOne(m, _)))
    assert(fastReads == slowReads)
    assert(fastReads.count(_.isRight) == 3)
    assert(fastJobs == 0)
    assert(slowJobs == reads.size)

    // each op in its own bucket, so every existence check meets one file
    def inBucket(b: Int, from: Int): Int =
      Iterator.from(from).find(i => StorageBackend.bucketOf(i.toLong, 8) == b).get
    val ops: Seq[(String, CrudEngine => Either[String, _])] = Seq(
      "create" -> (_.createOne(m, s"""{"id":${inBucket(0, 100)}}""")),
      "update" -> (_.updateOne(m, inBucket(1, 0).toString, """{"label":"x"}""")),
      "delete" -> (_.deleteOne(m, inBucket(2, 0).toString)))
    ops.foreach { case (name, op) =>
      val (a, fastN) = JobCount(spark)(op(fast))
      val (b, slowN) = JobCount(spark)(op(slow))
      assert(a.isRight && a == b, name)
      assert(slowN - fastN == 1, s"$name: $slowN jobs before, $fastN now")
    }
  }

  test("rows is empty without a model directory or with only a temp dir") {
    val m = model("Integer")
    val root = Files.createTempDirectory("point-lookup")
    val b = store(root)
    assert(b.rows(m, allColumns(m)).isEmpty && b.table(m).collect().isEmpty)
    // a write that died before its swap leaves a `.tmp-*` directory
    // holding complete data files; they are not part of the table
    spark.createDataFrame(java.util.List.of(row(1L, 1)), m.schema)
      .write.parquet(root.resolve("items/.tmp-crashed").toString)
    assert(b.rows(m, allColumns(m)).isEmpty && b.table(m).collect().isEmpty)
    assertParity(b, m, Seq(IntVal(1)))
  }

  test("GraphQL readMany launches no Spark job") {
    val m = model("Integer")
    val b = store()
    new CrudEngine(spark, b).bulkLoad(m, spark.createDataFrame(
      java.util.List.of((0 until 40).map(i => row(i.toLong, i)): _*),
      m.schema).repartition(3))
    val fast = new CrudEngine(spark, b)
    val slow = new CrudEngine(spark, new SpiDefaults(b))
    val query = "{ items { id label counts scores } }"
    def readMany(e: CrudEngine): String = Executor.toJson(
      new Executor(new Registry(Vector(m)), e).handlePost(query, None, Map.empty))
    val (fastJson, fastJobs) = JobCount(spark)(readMany(fast))
    val (_, slowJobs) = JobCount(spark)(readMany(slow))
    assert(fastJobs == 0)
    assert(slowJobs >= 1)
    assert(fastJson.startsWith("""{"data":{"items":[""") &&
      """\{"id":""".r.findAllIn(fastJson).size == 40, fastJson)
    val cols = Seq("id", "label", "counts", "scores")
    assert(fast.readAll(m, cols).toSet == slow.readAll(m, cols).toSet)
  }

  test("slice and lookup leave the open file descriptor count flat") {
    val fds = Paths.get("/proc/self/fd")
    assume(Files.isDirectory(fds), "needs /proc")
    def open(): Int = Using.resource(Files.list(fds))(_.count().toInt)
    val m = model("Integer")
    val b = store()
    new CrudEngine(spark, b).bulkLoad(m, spark.createDataFrame(
      java.util.List.of((0 until 40).map(i => row(i.toLong, i)): _*), m.schema))
    def round(i: Int): Unit = {
      val k = IntVal((i % 50).toLong)
      if (i % 2 == 0) b.slice(m, k) else b.lookup(m, k)
    }
    (0 until 50).foreach(round) // warm-up: lazily opened jars and caches
    val before = open()
    (0 until 2000).foreach(round)
    System.gc()
    assert(open() - before < 50, s"open fds: $before before")
  }
}
