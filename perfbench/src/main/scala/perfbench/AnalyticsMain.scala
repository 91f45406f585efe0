package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry
import graft.core.JsonUtil

/** The `analytics` workload: named `SparkEntry.queries`, one client,
  * in the order given.
  *
  * Set-up is session start plus one untimed pass that also collects
  * every result and fingerprints it (the correctness check). Timed
  * passes then run through the `noop` sink, with
  * `Sessions.releaseBlocks` between queries as `graft.Bench` does,
  * `--passes` whole passes. With
  * `--trace 1` one more pass runs with the listeners on.
  *
  * Prints one `@result {...}` line.
  */
object AnalyticsMain {
  /** Order-independent digest of a result: rows rendered with columns
    * in name order, sorted, hashed. */
  def fingerprint(cols: Seq[String], rows: Array[Row]): String = {
    val order = cols.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i =>
      if (r.isNullAt(i)) "NULL" else render(r.get(i))).mkString("|")).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    s"${rows.length}:" + md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  private def render(v: Any): String = v match {
    case s: scala.collection.Seq[_] => s.map(x => if (x == null) "NULL" else render(x)).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(x => if (x == null) "NULL" else render(x)).mkString("{", ",", "}")
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case other => other.toString
  }

  def main(args: Array[String]): Unit = {
    val opts = Common.opts(args)
    val work = Paths.get(opts("work"))
    val sf = opts("sf")
    val names = opts("queries").split(",").toVector
    val passes = opts("passes").toInt
    val traced = opts.getOrElse("trace", "0") == "1"
    val expected: Map[String, String] = opts.get("expected").map { p =>
      import scala.jdk.CollectionConverters._
      val n = JsonUtil.parse(Files.readString(Paths.get(p))).fold(e => sys.error(e), identity)
      n.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    }.getOrElse(Map.empty)

    val spark = Common.session(opts("cpus").toInt, work, "perfbench-analytics")
    val sessionS = Common.sinceJvmStart()
    val tracer = new Tracer
    val counters = new SparkCounters(tracer)
    if (traced) Trace.attach(spark, counters)

    def run(name: String, collect: Boolean): (Double, Option[String], Option[String]) = {
      val t0 = System.nanoTime()
      val out = try {
        val df = SparkEntry.queries(name)(spark, sf)
        if (collect) Right(Some(fingerprint(df.columns.toSeq, df.collect())))
        else { df.write.format("noop").mode("overwrite").save(); Right(None) }
      } catch { case e: Throwable => Left(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}") }
      val sec = (System.nanoTime() - t0) / 1e9
      graft.Sessions.releaseBlocks(spark)
      out match {
        case Right(fp) => (sec, fp, None)
        case Left(err) => (sec, None, Some(err))
      }
    }

    val errors = Vector.newBuilder[String]
    var attempted = 0
    // set-up: the untimed first pass, which also checks every result
    val c0 = System.nanoTime()
    val fps = names.map { n =>
      attempted += 1
      val (_, fp, err) = run(n, collect = true)
      err.foreach(errors += _)
      fp.foreach { f =>
        if (!expected.get(n).contains(f))
          errors += s"$n: fingerprint $f, expected ${expected.getOrElse(n, "none")}"
      }
      n -> fp.getOrElse("")
    }
    val setupS = sessionS + (System.nanoTime() - c0) / 1e9

    // timed passes
    val times = names.map(_ -> Vector.newBuilder[Double]).toMap
    val passTotals = Vector.newBuilder[Double]
    val t0 = System.nanoTime()
    (1 to passes).foreach { _ =>
      var total = 0.0
      names.foreach { n =>
        attempted += 1
        val (sec, _, err) = run(n, collect = false)
        err.foreach(errors += _)
        times(n) += sec
        total += sec
      }
      passTotals += total
    }
    val measuredS = (System.nanoTime() - t0) / 1e9

    val layer: Seq[(String, Double)] = if (!traced) Nil else {
      counters.clear()
      tracer.enabled = true
      val gc0 = Trace.gcMillis()
      val wins = names.map { n =>
        attempted += 1
        val s = tracer.nowMs
        val (_, _, err) = run(n, collect = false)
        err.foreach(errors += _)
        n -> (s, tracer.nowMs)
      }
      tracer.enabled = false
      val gcS = (Trace.gcMillis() - gc0) / 1e3
      Trace.settle(spark)
      // against the last untraced pass: queries still speed up from
      // pass to pass, so an earlier pass would flatter the traced one
      traceMetrics(counters, wins, gcS, passTotals.result().last)
    }

    val perQuery = names.map(n => n -> times(n).result())
    val errs = errors.result()
    val rss = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    val body = Seq(
      "\"peak_rss_mb\":" + Trace.num(rss),
      "\"setup_s\":" + Trace.num(setupS),
      "\"session_s\":" + Trace.num(sessionS),
      "\"measured_s\":" + Trace.num(measuredS),
      "\"passes\":" + passes,
      "\"attempted\":" + attempted,
      "\"errors\":" + errs.map(JsonUtil.quote).mkString("[", ",", "]"),
      "\"fingerprints\":" + fps.map { case (n, f) => JsonUtil.quote(n) + ":" + JsonUtil.quote(f) }.mkString("{", ",", "}"),
      "\"times\":" + perQuery.map { case (n, ts) => JsonUtil.quote(n) + ":" + ts.map(Trace.num).mkString("[", ",", "]") }.mkString("{", ",", "}"),
      "\"layer\":" + Trace.json(layer))
    spark.stop()
    println("@result " + body.mkString("{", ",", "}"))
    System.out.flush()
  }

  /** Per-layer numbers of the traced pass: Spark execution counts and
    * occupancy over each query's window, planning time, shuffle, spill
    * and GC, and the traced pass's overhead over the untraced median. */
  private def traceMetrics(c: SparkCounters, wins: Seq[(String, (Double, Double))],
      gcS: Double, untracedTotal: Double): Seq[(String, Double)] = {
    val jobs = c.jobs.values.toVector
    val wall = wins.map { case (_, (a, z)) => z - a }.sum
    val (busy, serial, idle) = c.occupancy(wins.map(_._2))
    val perQ = wins.flatMap { case (n, (a, z)) =>
      val js = jobs.filter(j => j.submit >= a - 1 && j.submit <= z + 1)
      val (qBusy, _, _) = c.occupancy(Seq((a, z)))
      Seq(s"q.$n.wall_s" -> (z - a) / 1e3,
        s"q.$n.stages" -> js.map(_.stages).sum.toDouble,
        s"q.$n.parallelism" -> (if (z > a) qBusy / (z - a) else 0.0))
    }
    val tracedTotal = wall / 1e3
    Seq(
      "exec.jobs" -> jobs.size.toDouble,
      "exec.stages" -> jobs.map(_.stages).sum.toDouble,
      "exec.tasks" -> jobs.map(_.tasks).sum.toDouble,
      "exec.parallelism" -> (if (wall > 0) busy / wall else 0.0),
      "exec.serial_share" -> (if (wall > 0) serial / wall else 0.0),
      "exec.driver_only_s" -> idle / 1e3,
      "plan.ms" -> c.execs.map(_.planMs).sum,
      "shuffle.read_mb" -> c.shuffleRead / 1e6,
      "shuffle.write_mb" -> c.shuffleWrite / 1e6,
      "spill.mb" -> c.spill / 1e6,
      "gc.s" -> gcS,
      "self.operators_ms" -> idle / wins.size,
      "self.spark_ms" -> (wall - idle) / wins.size,
      "trace.overhead_pct" -> (if (untracedTotal > 0)
        100.0 * (tracedTotal - untracedTotal) / untracedTotal else 0.0)) ++ perQ
  }
}
