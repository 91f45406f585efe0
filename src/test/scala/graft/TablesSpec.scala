package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.JobCount

/** Pins the `Tables.spread` contract: parallelize unsplittable small
  * scans, change nothing once the input is already parallel (the
  * at-scale no-op guarantee), and never disturb row content. Pins the
  * `Tables.load` schema memo: a table's schema is inferred once per
  * session and again only when its files change. */
class TablesSpec extends AnyFunSuite {
  lazy val spark = SparkSpec.spark

  test("spread parallelizes a single-partition scan without changing rows") {
    val df = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    assume(df.rdd.getNumPartitions <
      spark.sparkContext.defaultParallelism)
    val out = Tables.spread(df)
    assert(out.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
    val a = df.agg(count(lit(1)), sum(col("doc_id")),
      sum(length(col("text")))).head
    val b = out.agg(count(lit(1)), sum(col("doc_id")),
      sum(length(col("text")))).head
    assert(a == b)
  }

  test("spread is a no-op when the input is already parallel") {
    import spark.implicits._
    val wide = spark.range(0, 1000)
      .repartition(spark.sparkContext.defaultParallelism * 2)
    val out = Tables.spread(wide.toDF())
    // no new exchange: same partitioning object, plan unchanged
    assert(out.rdd.getNumPartitions == wide.rdd.getNumPartitions)
    assert((out.queryExecution.logical eq
      wide.toDF().queryExecution.logical) ||
      !out.queryExecution.optimizedPlan.toString.contains("Repartition"))
  }

  test("filters still push below the spread exchange") {
    val df = Tables.spread(Tables.load(spark, "/root/testdata/sf0.001",
      "lineitem")).filter(col("l_quantity") < 10)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("LessThan(l_quantity"))
  }

  /** A fresh directory holding `t.parquet` with `cols` (one row). */
  private def tableDir(cols: String*): String = {
    val dir = java.nio.file.Files.createTempDirectory("tables-memo")
    write(dir.toString, cols: _*)
    dir.toString
  }

  private def write(dir: String, cols: String*): Unit =
    spark.range(1).select(cols.map(c => col("id").as(c)): _*)
      .write.mode("overwrite").parquet(s"$dir/t.parquet")

  test("a second load of an unchanged table runs no Spark job and " +
      "returns the same schema") {
    val dir = tableDir("a", "b")
    val (first, inferJobs) = JobCount(spark)(Tables.load(spark, dir, "t"))
    assert(inferJobs >= 1, "the first load infers the schema")
    val (second, jobs) = JobCount(spark)(Tables.load(spark, dir, "t"))
    assert(jobs === 0)
    assert(second.schema === first.schema)
    assert(second.collect().toSeq === first.collect().toSeq)
  }

  test("a table rewritten with different columns is re-inferred") {
    val dir = tableDir("a", "b")
    assert(Tables.load(spark, dir, "t").columns.toSeq === Seq("a", "b"))
    write(dir, "a", "c")
    val again = Tables.load(spark, dir, "t")
    assert(again.columns.toSeq === Seq("a", "c"))
    assert(again.collect().toSeq === Seq(org.apache.spark.sql.Row(0L, 0L)))
  }

  test("events.ts comes back as epoch-nanos BIGINT on every load") {
    // the corpus shape: ts as parquet TIMESTAMP(MICROS), no time zone
    val us = 1700000000123456L
    val dir = java.nio.file.Files.createTempDirectory("tables-events")
    spark.range(2).select(col("id").as("event_id"),
        expr(s"CAST(timestamp_micros(id * $us) AS TIMESTAMP_NTZ)").as("ts"))
      .write.parquet(s"$dir/events.parquet")
    Seq.fill(2)(Tables.load(spark, dir.toString, "events")).foreach { df =>
      assert(df.schema("ts").dataType === LongType)
      assert(df.select("event_id", "ts").collect().map(r =>
        (r.getLong(0), r.getLong(1))).toSet === Set((0L, 0L), (1L, us * 1000)))
    }
  }
}
