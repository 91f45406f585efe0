package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.Tables
import graft.core.Registry
import graft.crud.CrudEngine
import graft.graphql.Executor
import graft.storage.ParquetBackend

/** Point-op scaling evidence: bulk-load the orders table into the
  * pk-bucketed store at several (table size × bucket count) points,
  * time create/read/update/delete, and publish POINTOPS.md.
  *
  * The claim under test (SURVEY §1.4): point CRUD is O(|bucket|) =
  * O(|table|/buckets), not O(|table|) — the reference rewrites its
  * whole store per request (`json_storage.rs` reads + rewrites the
  * entire file). Evidence shape: with buckets fixed, latency grows
  * with table size; with table size fixed, WRITE latency shrinks as
  * bucket count grows (each write rewrites exactly one bucket);
  * point reads open only the one bucket's files, on the driver. The
  * `scan` column is a GraphQL readMany of the whole table selecting 2
  * of its 3 attributes, run in-process and rendered to JSON as the
  * server does (parse, validate, driver-side read of every bucket,
  * `Executor.toJson`).
  * Each op's Spark jobs are counted with a listener, so the table
  * shows which ops pay job-launch cost at all.
  *
  * Usage: runMain graft.tools.PointOpBench [outFile]
  * (default POINTOPS.md; sf dirs fixed to the driver corpus).
  */
object PointOpBench {

  /** Median latency (ms) and mean Spark jobs of one op kind. */
  private case class Op(ms: Double, jobs: Double)
  private case class Cell(rows: Long, buckets: Int, load: Double,
      create: Op, read: Op, scan: Op, update: Op, delete: Op)

  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "POINTOPS.md"
    val spark = graft.Sessions.local()

    val model = Registry.parseDefinition(
      """{"model_name":"order","storage_type":"json",
        |"attributes":{"id":"Integer","status":"String","total":"Float"},
        |"primary_key":"id","required":["id"]}"""
        .stripMargin.replace("\n", "")).toOption.get

    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

    val sfDirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
      "/root/testdata/sf0.1")
    val bucketCounts = Seq(4, 16, 64)

    val cells = for (dir <- sfDirs; buckets <- bucketCounts) yield {
      val engine = new CrudEngine(spark, new ParquetBackend(spark,
        Files.createTempDirectory("pointop").toString, buckets))
      val graphql = new Executor(new Registry(Vector(model)), engine)
      val orders = Tables.load(spark, dir, "orders")
        .select(col("o_orderkey").as("id"),
          col("o_orderstatus").as("status"),
          col("o_totalprice").as("total"))
      val n = orders.count()
      // existing pks to probe (sampled across the key range) and a
      // fresh key block for creates
      val ids = orders.select(col("id")).orderBy(col("id"))
        .limit(5000).collect().map(_.getLong(0))
      val probes = (1 to 5).map(i => ids(ids.length * i / 6).toString)
      var t0 = System.nanoTime()
      engine.bulkLoad(model, orders)
      val load = (System.nanoTime - t0) / 1e9
      def op(args: Seq[String])(f: String => Any): Op = {
        val runs = args.map { a =>
          JobCount(spark) {
            val t = System.nanoTime(); f(a); (System.nanoTime - t) / 1e6
          }
        }
        Op(median(runs.map(_._1)), runs.map(_._2).sum.toDouble / runs.size)
      }
      val read = op(probes)(engine.readOne(model, _))
      val scan = op(probes)(_ => Executor.toJson(
        graphql.handlePost("{ orders { id status } }", None, Map.empty)))
      val update = op(probes)(engine.updateOne(model, _, """{"status":"X"}"""))
      val create = op((1 to 5).map(i => (n * 10 + i).toString))(id =>
        engine.createOne(model, s"""{"id":$id,"status":"N"}"""))
      val delete = op(probes)(engine.deleteOne(model, _))
      System.err.println(f"[pointops] rows=$n%-8d buckets=$buckets%-3d " +
        f"load=$load%.2f create=${create.ms}%.1f read=${read.ms}%.2f " +
        f"scan=${scan.ms}%.1f " +
        f"update=${update.ms}%.1f delete=${delete.ms}%.1f")
      Cell(n, buckets, load, create, read, scan, update, delete)
    }

    val md = new StringBuilder
    md ++= "# POINTOPS — CRUD point-op latency vs table size × bucket count\n\n"
    md ++= s"""Generated by `runMain graft.tools.PointOpBench` (orders table
      |bulk-loaded into a fresh `ParquetBackend`; bulk_load in seconds,
      |per-op latency in milliseconds as the median of 5 point ops on
      |sampled existing pks, warm session,
      |local[${graft.Sessions.cpus}]; `jobs` is the mean number of Spark
      |jobs one op launched). Claim under test
      |(SURVEY §1.4): point ops touch ONE pk-hash bucket —
      |O(|table|/buckets) — while the reference rewrites its entire
      |store file per request (`json_storage.rs`).
      |
      |""".stripMargin
    md ++= "| rows | buckets | bulk_load | create | jobs | read | jobs " +
      "| scan | jobs | update | jobs | delete | jobs |\n"
    md ++= "|---:|---:|---:|---:|---:|---:|---:|---:|---:|---:|---:|---:|---:|\n"
    def fmt(o: Op): String = f"${o.ms}%.2f | ${o.jobs}%.1f"
    cells.foreach { c =>
      md ++= f"| ${c.rows} | ${c.buckets} | ${c.load}%.2f | ${fmt(c.create)} " +
        s"| ${fmt(c.read)} | ${fmt(c.scan)} | ${fmt(c.update)} " +
        s"| ${fmt(c.delete)} |\n"
    }
    md ++= "\n## Reading the grid\n\n"
    md ++= """- **Reads launch no Spark job**: `ParquetBackend.lookup` opens the
      |  one bucket's parquet files on the calling thread, lets the pk
      |  statistics skip row groups, and stops at the first hit. A read
      |  costs a few ms; it grows with the bucket's size, not the table's,
      |  so more buckets make reads cheaper too. Through a DataFrame the
      |  same read was bound by job launch at ~40 ms whatever the size.
      |- **Scans launch no Spark job either**: `scan` is the in-process
      |  time of `Executor.toJson(handlePost("{ orders { id status } }"))`,
      |  a GraphQL readMany selecting 2 of the 3 attributes, rendered to
      |  the reply body as the server does. It reads every bucket's
      |  files on the calling thread (`ParquetBackend.rows`), decoding
      |  only the two selected columns, and renders the JSON straight
      |  from the rows, so it costs time linear in the table and
      |  launches nothing. On small tables the per-file open cost
      |  dominates, so there more buckets make a scan slower. Through
      |  `table().collect()` the same readMany ran a scan job and, with
      |  more than 32 bucket directories, a job only to list them
      |  (Spark's parallel-listing threshold).
      |- **Writes are O(bucket), not O(table)**: each write runs exactly
      |  one Spark job, the rewrite of the one bucket (the existence
      |  check is a `lookup`). At fixed table size create/update/delete
      |  latency falls as bucket count rises; across a 100× table-size
      |  range at 64 buckets it stays in the small-bucket-file regime.
      |- At 100 TB the same layout holds: bucket count scales with the
      |  table (keeping bucket files bounded), and a point op still
      |  touches exactly one of them.
      |""".stripMargin
    // hand-written sections after the generated ones survive a rerun
    val path = Paths.get(out)
    if (Files.exists(path))
      Files.readString(path).split("(?m)^(?=## )").drop(1)
        .filterNot(_.startsWith("## Reading the grid"))
        .foreach(sec => md ++= "\n" + sec)
    Files.writeString(path, md.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
