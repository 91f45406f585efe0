package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.types.{LongType, StructType}

/** Loader for the driver-generated TPC-H-ish testdata (TESTDATA.md).
  *
  * One parquet file per table under an `sfDir` such as
  * `/root/testdata/sf0.01`. Loading is a `spark.read.parquet` so
  * Catalyst sees a relation it can push filters/projections into.
  *
  * What is memoised: each file's parquet SCHEMA, once per session.
  * Inferring it runs a Spark job that reads the footer (with its own
  * footer-reading thread pool): a warm load at sf0.01 took 81–96 ms
  * inferring and 15–18 ms with the schema given (medians of 30 loads,
  * local[4]). The memo is keyed by the file's listing (path, length,
  * modification time of every file under it), so a rewritten table is
  * re-inferred, and it holds its sessions weakly, so a stopped session
  * is not kept alive by it. What is not:
  * rows. Nothing is cached or persisted here — callers decide (a
  * 100 TB table must never be `.cache()`d wholesale), and
  * [[Sessions.releaseBlocks]] still frees every block between queries.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Per session: path → (listing stamp, inferred schema). */
  private val schemas = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      ConcurrentHashMap[String, (Seq[(String, Long, Long)], StructType)]]())

  /** Load one table; `events.ts` is normalized to epoch-NANOS BIGINT
    * regardless of the parquet physical type. The corpus has shipped
    * both TIMESTAMP(NANOS) (read as raw nanos via the legacy conf)
    * and TIMESTAMP(MICROS) (read as timestamp_ntz); every downstream
    * operator and every DuckDB oracle (`epoch_ns(ts)`) works in
    * integer nanos, so the type seam is closed HERE and nowhere
    * else. The cast is per-row codegen'd arithmetic under the UTC
    * session timezone — no data-scale cost, pushdown-neutral. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = read(spark, s"$sfDir/$name.parquet")
    if (name == "events" && df.schema("ts").dataType != LongType)
      df.withColumn("ts",
        org.apache.spark.sql.functions
          .expr("unix_micros(cast(ts as timestamp)) * 1000"))
    else df
  }

  /** `spark.read.parquet(path)`, with the schema inferred on the first
    * read of the path's current files in this session only. */
  private def read(spark: SparkSession, path: String): DataFrame = {
    val stamp = stampOf(spark, path)
    val memo = schemas.computeIfAbsent(spark, _ => new ConcurrentHashMap())
    Option(memo.get(path)).filter(_._1 == stamp) match {
      case Some((_, schema)) => spark.read.schema(schema).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        memo.put(path, (stamp, df.schema))
        df
    }
  }

  /** (path, length, modification time) of every file under `path`;
    * empty when it does not exist (the read then fails as it would
    * without the memo, and nothing is memoised). */
  private def stampOf(spark: SparkSession, path: String)
      : Seq[(String, Long, Long)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val it = fs.listFiles(p, true)
      val out = Vector.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        out += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      out.result()
    } catch { case _: java.io.FileNotFoundException => Nil }
  }

  /** Spread a narrow scan across the session's cores before heavy
    * per-row work (hash kernels, shingling, explode, partial
    * aggregation). The bench corpora are single-row-group parquet
    * files, which Spark cannot split — every map-side stage otherwise
    * runs as ONE task regardless of `local[32]`. A real 100 TB corpus
    * has thousands of row groups, and then this is a NO-OP: the
    * exchange is only inserted when the planned scan has fewer input
    * partitions than the session's parallelism, so it never adds a
    * full-corpus shuffle at scale. Call it AFTER pushable filters so
    * predicate/column pushdown still reaches the scan below the
    * exchange. Do NOT spread a scan that feeds straight into a join
    * shuffle or a collapsing partial aggregate — there the only
    * below-shuffle work is decode+serialize, and the extra exchange
    * re-pays the full row volume for nothing (measured 2× slower on
    * the TPC-H aggregates). */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (partitionsOf(df) < target) df.repartition(target) else df
  }

  /** `df.rdd.getNumPartitions`, read off the planned file scan when
    * `df` is one under projections and filters (they keep its
    * partitions, and no exchange can be planned above them). Anything
    * else takes `df.rdd`, which runs a throwaway SQL execution
    * (~35 ms a call at sf0.01, against ~14 ms for the planned scan). */
  private def partitionsOf(df: DataFrame): Int = {
    def scan(p: SparkPlan): Option[FileSourceScanExec] = p match {
      case s: FileSourceScanExec => Some(s)
      case ProjectExec(_, c) => scan(c)
      case FilterExec(_, c) => scan(c)
      case _ => None
    }
    scan(df.queryExecution.sparkPlan)
      .fold(df.rdd.getNumPartitions)(_.inputRDD.getNumPartitions)
  }

  /** Register every table as a temp view (for spark.sql entry
    * points); events.ts arrives already normalized by [[load]]. */
  def registerAll(spark: SparkSession, sfDir: String): Unit = {
    names.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
  }
}
