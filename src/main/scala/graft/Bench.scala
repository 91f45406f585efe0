package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line with per-query seconds.
  *
  * Methodology: each query runs TWICE and `queries` reports the second
  * (warm) time — JVM/codegen/JIT and parquet footer caches make
  * first-run numbers session-order-dependent (a heavy query early in
  * the suite inflates everything after it via GC pressure, which is
  * exactly the confound a round-over-round comparison can't tolerate).
  * The cold pass is still reported (`queries_cold`), as is per-query GC
  * time during the warm run (`gc_warm`), so a GC-dominated "regression"
  * is visible as such. Each run materializes fully through the `noop`
  * sink — `count()` would let Spark skip computing projected columns.
  */
object Bench {
  private[graft] def fmt(v: Double): String = {
    val s = f"$v%.3f"
    if (s.contains('.')) s.reverse.dropWhile(_ == '0').reverse.stripSuffix(".") else s
  }
  private[graft] def jmap(xs: Seq[(String, Double)]): String =
    xs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
  private[graft] def shortName(n: String): String =
    if (n == "q49_skew_naive") "q49n"
    else if (n == "q49_skew_salted") "q49s"
    // bench-only twin of q107_containment — the bare prefix would
    // collide with the real q107's key in the stdout JSON map
    else if (n == "q107_sketch_only") "q107sk"
    else if (n.matches("q\\d+_.*")) n.takeWhile(_ != '_')
    else n

  /** The ONE stdout JSON line the driver tails. Must stay inside the
    * driver's ~2000-char capture window at ANY query count: the
    * short-name per-query map is kept while the line fits under 1500
    * chars, otherwise reduced to the TOP-10 SLOWEST queries (the
    * round-9 compact line carried only the total, and the driver's
    * per-query parse came back null — the slowest-10 map keeps the
    * line parseable AND bounded) plus total + a pointer to the
    * full-detail BENCH_FULL.json — so the printed line is bounded
    * whether the suite has 117 or 300 entries (BenchLineSpec pins
    * both regimes). */
  private[graft] def stdoutLine(total: Double,
      warm: Seq[(String, Double)], outPath: String, sfDir: String): String = {
    val withMap =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":${jmap(warm.map { case (k, v) => shortName(k) -> v })},"sf":"$sfDir"}"""
    if (withMap.length <= 1500) withMap
    else {
      val top10 = warm.sortBy(-_._2).take(10)
        .map { case (k, v) => shortName(k) -> v }
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":${jmap(top10)},"n_queries":${warm.size},"bench_full":"$outPath","sf":"$sfDir"}"""
    }
  }

  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime.max(0L)).sum
  }

  /** Session warm-up before the first timed run: session init,
    * codegen paths, and lineitem's schema. Every other table's schema
    * is inferred once per session, by the first run that loads it
    * ([[Tables.load]] memoises it), so a cold run pays the inference
    * of the tables it is first to read and a warm run pays none. */
  private[graft] def warmUp(spark: SparkSession, sfDir: String): Unit =
    SparkEntry.queries("q1_agg")(spark, sfDir).write
      .format("noop").mode("overwrite").save()

  /** One timed run of `fn`, materialized through the `noop` sink:
    * (total seconds, build seconds), where build is the time `fn`
    * took to return its DataFrame (analysis and any eager jobs).
    * A failure is handed to `onFailure` inside the timed region (Bench
    * logs it and goes on; TimeQ rethrows). The blocks the run left
    * behind are released OUTSIDE the timed region, so the next
    * measurement starts from clean storage memory (see
    * [[Sessions.releaseBlocks]] — order-dependent timings otherwise). */
  private[graft] def timeOnce(spark: SparkSession, sfDir: String,
      fn: (SparkSession, String) => DataFrame)(
      onFailure: Throwable => Unit): (Double, Double) = {
    val t0 = System.nanoTime()
    var built = t0
    // operator coverage caps (ngram/q101/q107 block caps) surface as
    // observed metrics via Sessions.printObservedMetrics — the listener
    // reads the EXECUTED QueryExecution (reading df.queryExecution
    // here reported the never-run clone's [0,0])
    try {
      val df = fn(spark, sfDir)
      built = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
    } catch { case e: Throwable => onFailure(e) }
    val sec = (System.nanoTime() - t0) / 1e9
    Sessions.releaseBlocks(spark)
    (sec, (built - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    // The driver parses the LAST ~2000 chars of combined sbt output for
    // the one JSON line. `releaseBlocks` unpersists localCheckpointed
    // barriers between queries BY DESIGN (see its scaladoc), and each
    // unpersist logs a WARN under the concrete RDD class
    // (org.apache.spark.rdd.MapPartitionsRDD: "lineage has been
    // truncated ... after unpersisting"); the ContextCleaner replays a
    // final burst of them during spark.stop(), which landed AFTER the
    // JSON println and pushed it out of the driver's tail window —
    // BENCH_r{08,09,10}.json all show `parsed: null` with the tail full
    // of exactly these lines. They are expected and carry no signal
    // here (nothing recomputes a dropped barrier), so silence the rdd
    // package for this main only; specs keep their own log4j2 filter.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    Sessions.printObservedMetrics(spark)
    warmUp(spark, sfDir)

    def runOnce(name: String, fn: (SparkSession, String) => DataFrame): Double =
      timeOnce(spark, sfDir, fn)(e =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}"))._1

    /** (name, cold s, warm s, GC s during the warm run) per entry. */
    def coldWarm(entries: Map[String, (SparkSession, String) => DataFrame]) =
      entries.toSeq.sortBy(_._1).map { case (name, fn) =>
        val cold = runOnce(name, fn)
        val gc0 = gcMillis()
        val warm = runOnce(name, fn)
        (name, cold, warm, (gcMillis() - gc0) / 1e3)
      }

    val results = coldWarm(SparkEntry.queries)
    // benchExtras: measured + reported, but NOT correctness entries —
    // e.g. the deliberately-unsalted q49 twin the salted plan must beat
    val extras = coldWarm(SparkEntry.benchExtras)
    val all = results ++ extras
    val total = results.map(_._3).sum
    val full =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec",
         |"queries":${jmap(all.map(r => r._1 -> r._3))},
         |"queries_cold":${jmap(all.map(r => r._1 -> r._2))},
         |"gc_warm":${jmap(all.map(r => r._1 -> r._4))},
         |"sf":"$sfDir"}""".stripMargin
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", "BENCH_FULL.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      full.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Exception => System.err.println(s"[bench] full-detail write failed: $e") }
    // Print the contract line AFTER spark.stop(): stop() is the last
    // emitter of log noise (ContextCleaner/ShutdownHook), so printing
    // after it guarantees the JSON line is the tail of the output the
    // driver captures, whatever loggers future queries wake up.
    spark.stop()
    println(stdoutLine(total, all.map(r => r._1 -> r._3), outPath, sfDir))
    System.out.flush()
  }
}
