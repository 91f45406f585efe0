package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.types._

import graft.core.{JsonUtil, ModelDefinition, Registry}
import graft.crud.{CrudEngine, Records}
import graft.graphql.{Executor, Parser, Validator}
import graft.rest.Server
import graft.storage.{ParquetBackend, StorageBackend}
import graft.streaming.ChangeLog

/** Serving side of the `serve_read` / `serve_mixed` / `serve_write` workloads.
  *
  * Wires `rest.Server` the way `graft.Main start` does — a
  * `ParquetBackend` with its default 64 buckets, a `ChangeLog`, one
  * `CrudEngine` — over models bulk-loaded from the generated JSONL
  * files, then takes line commands on stdin:
  *
  *  - `go`: the generated inputs are complete, set up now;
  *  - `count`: start counting Spark work (before a concurrent phase);
  *  - `dump <out>`: reopen the store in a fresh backend and write every
  *    record as JSONL (the end-of-run durability check);
  *  - `replay <ops> <results> <spans>`: run an operation list
  *    sequentially in-process, tracing the ops flagged `traced`;
  *  - `quit`.
  *
  * Replies are single stdout lines starting with `@`.
  */
object ServeMain {
  final class Served(spark: SparkSession, val reg: Registry,
      val dir: Path, val tracer: Tracer, traced: Boolean) {
    val storeRoot: String = dir.resolve("store").toString
    val logDir: String = dir.resolve("changelog").toString
    private val plain = new ParquetBackend(spark, storeRoot)
    /** The timing decorator, handed to the engine in traced runs only. */
    val timed: Option[TimedBackend] =
      if (traced) Some(new TimedBackend(plain, tracer)) else None
    private val backend: StorageBackend = timed.getOrElse(plain)
    var server: Server = _
    var engine: CrudEngine = _
    var executor: Executor = _

    def start(data: Path): Unit = {
      Files.createDirectories(dir)
      // the log a previous server process left behind: the
      // ChangeLog resumes from it (sequence and compaction counters)
      spark.read.schema(Common.logSchema)
        .json(data.resolve("changelog_history.jsonl").toString)
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(logDir)
      val log = new ChangeLog(spark, logDir)
      engine = new CrudEngine(spark, backend, Some(log))
      reg.all.foreach { m =>
        val df = spark.read.schema(m.schema)
          .json(data.resolve(m.modelName.pluralCamel + ".jsonl").toString)
        engine.bulkLoad(m, df).left.foreach(e => sys.error(e))
      }
      executor = new Executor(reg, engine)
      server = new Server(reg, engine, 0, Some(log))
      server.start()
    }

    def stop(): Unit = if (server != null) server.stop()
  }

  def main(args: Array[String]): Unit = {
    val opts = Common.opts(args)
    val work = Paths.get(opts("work"))
    val data = Paths.get(opts("data"))
    val traced = opts.getOrElse("trace", "0") == "1"
    val spark = Common.session(opts("cpus").toInt, work, "perfbench-serve")
    val sessionS = Common.sinceJvmStart()
    val reg = Registry.load(Paths.get(opts("models"))) match {
      case Right(r) => r
      case Left(e) => sys.error(e)
    }
    val tracer = new Tracer
    val counters = new SparkCounters(tracer)
    if (traced) Trace.attach(spark, counters)
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
    // the inputs are generated while the session starts; `go` says they are complete
    Common.reply("session", Seq("session_s" -> sessionS))
    if (in.readLine() != "go") sys.exit(1)

    // set-up: one cold bulk load, change log and server start
    val t0 = System.nanoTime()
    val served = new Served(spark, reg, work.resolve("server"), tracer, traced)
    served.start(data)
    val loadS = (System.nanoTime() - t0) / 1e9
    Common.reply("ready", Seq("port" -> served.server.boundPort.toDouble,
      "session_s" -> sessionS, "load_s" -> loadS),
      extra = s""""store":${JsonUtil.quote(served.storeRoot)},"changelog":${JsonUtil.quote(served.logDir)}""")

    var line = in.readLine()
    while (line != null && line.trim != "quit") {
      line.trim.split(" ").toList match {
        case List("dump", out) =>
          dump(spark, served, Paths.get(out))
          Common.reply("dump", Nil)
        case List("count") =>
          counters.clear(); counters.on = true
          Common.reply("count", Nil)
        case List("replay", ops, results, spans) =>
          counters.on = false
          val compactions = Replay.compactionStats(counters)
          counters.clear()
          val m = new Replay(spark, served, counters).run(Paths.get(ops),
            Paths.get(results))
          tracer.write(Paths.get(spans))
          Common.reply("replay", m ++ compactions)
        case other => Common.reply("error", Nil,
          extra = s""""message":${JsonUtil.quote("bad command " + other)}""")
      }
      line = in.readLine()
    }
    served.stop()
    spark.stop()
    // the servers' handler pools are non-daemon threads
    sys.exit(0)
  }

  /** Reopen the store from disk in a fresh backend and write every
    * record it holds. */
  private def dump(spark: SparkSession, s: Served, out: Path): Unit = {
    val fresh = new ParquetBackend(spark, s.storeRoot)
    val w = Files.newBufferedWriter(out)
    try s.reg.all.foreach { m =>
      fresh.table(m).collect().foreach { r =>
        w.write(s"""{"model":${JsonUtil.quote(m.modelName.pluralCamel)},"record":${Records.toJson(Records.fromRow(r, m), m)}}""")
        w.newLine()
      }
    } finally w.close()
  }

  /** Sequential in-process replay of one operation list. Ops flagged
    * `traced` run with spans and listeners on; the others run bare, so
    * the two latency sets give the tracing overhead. Read ops flagged
    * `http` are also sent over the loopback socket, which gives the
    * REST layer's cost over the in-process call. */
  final class Replay(spark: SparkSession, s: Served, c: SparkCounters) {
    private val tracer = s.tracer
    private val http = HttpClient.newBuilder()
      .version(HttpClient.Version.HTTP_1_1).build()
    private val base = s"http://127.0.0.1:${s.server.boundPort}"

    private def model(name: String): ModelDefinition =
      s.reg.lookupSingular(name).fold(e => sys.error(e), identity)

    private def crud(op: String)(f: => Either[String, Records.Record],
        m: ModelDefinition): (Boolean, String) =
      tracer.span("crud." + op)(f) match {
        case Right(rec) => (true, Records.toJson(rec, m))
        case Left(err) => (false, err)
      }

    private def direct(o: com.fasterxml.jackson.databind.JsonNode)
        : (Boolean, String) = {
      def str(k: String) = o.get(k).asText()
      o.get("kind").asText() match {
        case "rest_get" => val m = model(str("model"))
          crud("readOne")(s.engine.readOne(m, str("id")), m)
        case "rest_put" => val m = model(str("model"))
          crud("updateOne")(s.engine.updateOne(m, str("id"), str("body")), m)
        case "rest_post" => val m = model(str("model"))
          crud("createOne")(s.engine.createOne(m, str("body")), m)
        case "rest_delete" => val m = model(str("model"))
          crud("deleteOne")(s.engine.deleteOne(m, str("id")), m)
        case _ => // gql_one / gql_many
          val q = str("query")
          tracer.span("graphql.parse")(Parser.parse(q)).foreach(doc =>
            tracer.span("graphql.validate")(Validator.validate(doc, s.executor.schema)))
          val res = tracer.span("graphql.handlePost")(
            s.executor.handlePost(q, None, Map.empty))
          (!res.isErrorOnly, Executor.toJson(res))
      }
    }

    private def overHttp(o: com.fasterxml.jackson.databind.JsonNode)
        : (Int, String) = {
      val req = o.get("kind").asText() match {
        case "rest_get" => HttpRequest.newBuilder(URI.create(
          s"$base/api/rest/${o.get("model").asText()}/${o.get("id").asText()}")).GET()
        case _ => HttpRequest.newBuilder(URI.create(s"$base/api/graphql"))
          .header("Content-Type", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString(
            s"""{"query":${JsonUtil.quote(o.get("query").asText())}}"""))
      }
      val r = http.send(req.build(), HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), r.body())
    }

    def run(opsPath: Path, resultsPath: Path): Seq[(String, Double)] = {
      val ops = Files.readAllLines(opsPath).asScala.filter(_.nonEmpty)
        .map(l => JsonUtil.parse(l).fold(e => sys.error(e), identity)).toVector
      val w = Files.newBufferedWriter(resultsPath)
      val gc0 = Trace.gcMillis()
      val t0 = tracer.nowMs
      try ops.zipWithIndex.foreach { case (o, i) =>
        tracer.req = i
        tracer.enabled = o.get("traced").asBoolean()
        val kind = o.get("kind").asText()
        // a read sent both ways goes over HTTP first on odd ops, so
        // neither side always finds the bucket's files freshly read
        val viaHttp = o.path("http").asBoolean(false)
        def sendHttp(): String = {
          val hs = tracer.nowMs
          val (code, hb) = tracer.span("rest.request")(overHttp(o))
          f""","http_status":$code,"http_body":${JsonUtil.quote(hb)},"http_ms":${tracer.nowMs - hs}%.3f"""
        }
        val early = if (viaHttp && i % 2 == 1) sendHttp() else ""
        val st = tracer.nowMs
        val (ok, body) = tracer.span("op." + kind)(direct(o))
        val ms = tracer.nowMs - st
        val httpPart = if (viaHttp && i % 2 == 0) sendHttp() else early
        tracer.enabled = false
        w.write(f"""{"i":$i,"ok":$ok,"body":${JsonUtil.quote(body)},"ms":$ms%.3f$httpPart}""")
        w.newLine()
      } finally { tracer.enabled = false; w.close() }
      val wall = tracer.nowMs - t0
      val gcS = (Trace.gcMillis() - gc0) / 1e3
      Trace.settle(spark)
      Replay.summarize(tracer.all, c, s.logDir, wall, gcS)
    }
  }

  object Replay {
    private val readOps = Set("op.rest_get", "op.gql_one")
    private val writeOps = Set("op.rest_put", "op.rest_post", "op.rest_delete")

    /** A job writes the change log when its SQL execution's plan names
      * the log directory. */
    private def isLog(c: SparkCounters, logDir: String)(j: JobRec): Boolean =
      c.sqlPlans.get(j.exec).exists(_.contains(logDir))

    /** Compactions the change log ran while counting was on (the
      * concurrent phase): the write of the folded log to its
      * `.compacting` directory marks each one. */
    def compactionStats(c: SparkCounters): Seq[(String, Double)] = {
      val folds = c.execs.filter(_.output.exists(_.endsWith(".compacting")))
      Seq("changelog.compactions" -> folds.size.toDouble,
        "changelog.compact_ms" -> Trace.mean(folds.map(_.durMs).toSeq))
    }

    /** Length of the union of intervals, clipped to [s, e]. */
    private def covered(ivs: Seq[(Double, Double)], s: Double, e: Double): Double = {
      var total = 0.0; var cur = s
      ivs.map { case (a, b) => (math.max(a, s), math.min(b, e)) }
        .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
          if (b > cur) { total += b - math.max(a, cur); cur = b }
        }
      total
    }

    def summarize(spans: Vector[Span], c: SparkCounters,
        logDir: String, wallMs: Double, gcS: Double): Seq[(String, Double)] = {
      val byParent = spans.groupBy(_.parent)
      val ops = spans.filter(_.name.startsWith("op."))
      val reads = ops.filter(o => readOps(o.name))
      val scans = ops.filter(_.name == "op.gql_many")
      val writes = ops.filter(o => writeOps(o.name))
      val jobs = c.jobs.values.toVector
      def jobsOf(ws: Seq[Span]) = ws.flatMap(w =>
        jobs.filter(j => j.submit >= w.start - 1 && j.submit <= w.end + 1))
      def per(ws: Seq[Span])(f: Seq[JobRec] => Double): Double =
        if (ws.isEmpty) 0.0 else f(jobsOf(ws)) / ws.size
      def meanMs(name: String) = Trace.mean(spans.filter(_.name == name).map(_.ms))
      def meanOf(names: Set[String]) = Trace.mean(spans.filter(s => names(s.name)).map(_.ms))

      // self time: a span minus what its child spans and the Spark jobs
      // submitted from inside it cover; a job belongs to the deepest
      // span open when it was submitted
      val logJob = isLog(c, logDir) _
      val jobIv = jobs.filter(_.end > 0).map(j => (j, (j.submit.toDouble, j.end.toDouble)))
      val byId = spans.map(x => x.id -> x.parent).toMap
      def depth(sp: Span): Int = {
        var d = 0; var p = sp.parent
        while (p >= 0) { d += 1; p = byId.getOrElse(p, -1L) }
        d
      }
      val depths = spans.map(x => x.id -> depth(x)).toMap
      val owner: Map[Int, Long] = jobIv.flatMap { case (j, _) =>
        spans.filter(sp => j.submit >= sp.start - 1 && j.submit <= sp.end + 1)
          .sortBy(sp => -depths(sp.id)).headOption.map(sp => j.id -> sp.id)
      }.toMap
      def selfMs(sp: Span): Double = {
        val kids = byParent.getOrElse(sp.id, Vector.empty).map(k => (k.start, k.end)) ++
          jobIv.filter { case (j, _) => owner.get(j.id).contains(sp.id) }.map(_._2)
        sp.ms - covered(kids, sp.start, sp.end)
      }
      def layerSelf(prefix: String): Double =
        spans.filter(sp => sp.name.startsWith(prefix)).map(selfMs).sum
      val nOps = math.max(ops.size, 1).toDouble
      val sparkJobs = jobIv.filterNot { case (j, _) => logJob(j) }
      val logJobs = jobIv.filter { case (j, _) => logJob(j) }
      val windows = ops.map(o => (o.start, o.end))
      val (busy, serial, idle) = c.occupancy(windows)
      val opWall = windows.map { case (a, z) => z - a }.sum
      val appends = c.execs.filter(x => x.output.exists(p =>
        p.contains(Paths.get(logDir).getFileName.toString) && !p.endsWith(".compacting")))
      val gqlOps = ops.filter(_.name.startsWith("op.gql"))
      val handle = meanMs("graphql.handlePost")
      Seq(
        "crud.jobs_per_read" -> per(reads)(_.size.toDouble),
        "crud.tasks_per_read" -> per(reads)(_.map(_.tasks).sum.toDouble),
        "crud.job_ms_per_read" -> per(reads)(_.map(j => (j.end - j.submit).toDouble).sum),
        "crud.read_ms" -> meanMs("crud.readOne"),
        "storage.slice_ms" -> meanMs("storage.slice"),
        "graphql.parse_ms" -> meanMs("graphql.parse"),
        "graphql.validate_ms" -> meanMs("graphql.validate"),
        "graphql.execute_ms" -> (if (gqlOps.isEmpty) 0.0
          else math.max(handle - meanMs("graphql.parse") - meanMs("graphql.validate"), 0.0)),
        "storage.scan_bytes_per_scan" -> per(scans)(_.map(_.inputBytes).sum.toDouble),
        "crud.jobs_per_write" -> per(writes)(_.size.toDouble),
        "crud.job_ms_per_write" -> per(writes)(_.map(j => (j.end - j.submit).toDouble).sum),
        "crud.write_ms" -> meanOf(Set("crud.updateOne", "crud.createOne", "crud.deleteOne")),
        "storage.write_slice_ms" -> meanMs("storage.writeSlice"),
        "storage.bytes_written_per_write" ->
          per(writes)(_.filterNot(logJob).map(_.outputBytes).sum.toDouble),
        "changelog.append_ms" -> Trace.mean(appends.map(_.durMs).toSeq),
        "exec.jobs" -> jobs.size.toDouble,
        "exec.stages" -> jobs.map(_.stages).sum.toDouble,
        "exec.tasks" -> jobs.map(_.tasks).sum.toDouble,
        "exec.parallelism" -> (if (opWall > 0) busy / opWall else 0.0),
        "exec.serial_share" -> (if (opWall > 0) serial / opWall else 0.0),
        "exec.driver_only_s" -> idle / 1e3,
        "plan.ms" -> c.execs.map(_.planMs).sum,
        "shuffle.read_mb" -> c.shuffleRead / 1e6,
        "shuffle.write_mb" -> c.shuffleWrite / 1e6,
        "spill.mb" -> c.spill / 1e6,
        "gc.s" -> gcS,
        "self.graphql_ms" -> layerSelf("graphql.") / nOps,
        "self.crud_ms" -> layerSelf("crud.") / nOps,
        "self.storage_ms" -> layerSelf("storage.") / nOps,
        "self.changelog_ms" -> logJobs.map { case (_, (a, z)) => z - a }.sum / nOps,
        "self.spark_ms" -> covered(sparkJobs.map(_._2), 0, Double.MaxValue) / nOps,
        "replay.wall_s" -> wallMs / 1e3)
    }
  }
}

/** Session wiring and small helpers shared by the harness mains. */
object Common {
  val logSchema: StructType = StructType(Seq(
    StructField("model", StringType, nullable = false),
    StructField("op", StringType, nullable = false),
    StructField("pk", StringType, nullable = false),
    StructField("record", StringType, nullable = false),
    StructField("seq", LongType, nullable = false)))

  /** Same session settings `graft.Main start` uses (local[cpus], one
    * shuffle partition per core), with Spark's scratch space kept in
    * the run's own work directory. */
  def session(cpus: Int, work: Path, app: String): SparkSession = {
    Files.createDirectories(work)
    val s = graft.Sessions.localDefaults(SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus.toString))
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    s
  }

  def sinceJvmStart(): Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def opts(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap

  /** One protocol line: `@tag {json}`; `extra` holds further
    * pre-rendered `"key":value` members. */
  def reply(tag: String, metrics: Seq[(String, Double)], extra: String = ""): Unit = {
    val members = metrics.map { case (k, v) => "\"" + k + "\":" + Trace.num(v) } ++
      Option(extra).filter(_.nonEmpty)
    println(s"@$tag " + members.mkString("{", ",", "}"))
    System.out.flush()
  }
}
