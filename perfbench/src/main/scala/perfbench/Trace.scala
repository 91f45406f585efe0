package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

import graft.core.{ModelDefinition, PrimValue}
import graft.storage.StorageBackend

/** One timed interval at a layer boundary. Times are epoch
  * milliseconds with sub-ms precision so they line up with Spark
  * listener timestamps. */
final case class Span(id: Long, parent: Long, req: Long, name: String,
    start: Double, end: Double) {
  def ms: Double = end - start
}

/** In-memory span recorder for a strictly sequential replay: one
  * global parent stack, so spans opened by server threads or storage
  * calls nest under whatever the replay thread has open. Spans are
  * kept in memory and written out once, at the end of the run. */
final class Tracer {
  @volatile var enabled = false
  @volatile var req = -1L
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Long]
  private var nextId = 0L
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()

  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val (id, parent) = synchronized {
        nextId += 1
        val p = stack.headOption.getOrElse(-1L)
        stack.push(nextId)
        (nextId, p)
      }
      val s = nowMs
      try body
      finally {
        val e = nowMs
        synchronized {
          stack.pop()
          spans += Span(id, parent, req, name, s, e)
        }
      }
    }

  def all: Vector[Span] = synchronized(spans.toVector)

  def write(path: Path): Unit = {
    val lines = all.map(s =>
      f"""{"id":${s.id},"parent":${s.parent},"req":${s.req},"name":"${s.name}","start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f}""")
    Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Timing decorator over the storage SPI — handed to `CrudEngine` in
  * place of the real backend. `slice`/`table` only build a lazy
  * DataFrame (file listing and schema), so their spans hold the
  * listing cost; the scan itself runs in the caller's Spark job.
  * `writeSlice` runs the bucket rewrite job. Bytes read and written
  * come from the jobs' task metrics (`SparkCounters`), not from here. */
final class TimedBackend(inner: StorageBackend, tracer: Tracer)
    extends StorageBackend {
  override def table(m: ModelDefinition): DataFrame =
    tracer.span("storage.table")(inner.table(m))
  override def slice(m: ModelDefinition, v: PrimValue): DataFrame =
    tracer.span("storage.slice")(inner.slice(m, v))
  override def writeSlice(m: ModelDefinition, v: PrimValue,
      df: DataFrame): Unit =
    tracer.span("storage.writeSlice")(inner.writeSlice(m, v, df))
  override def overwrite(m: ModelDefinition, df: DataFrame): Unit =
    tracer.span("storage.overwrite")(inner.overwrite(m, df))
}

/** What the Spark listeners saw, per job and per SQL execution. */
final case class JobRec(id: Int, exec: Long, submit: Long, var end: Long = 0L,
    var stages: Int = 0, var tasks: Int = 0, var inputBytes: Long = 0L,
    var outputBytes: Long = 0L)
final case class TaskRec(launch: Long, finish: Long)
final case class ExecRec(durMs: Double, planMs: Double, output: Option[String])

/** SparkListener + QueryExecutionListener that count jobs, stages,
  * tasks, task time, shuffle, spill and planning phases, and keep
  * each write command's output path so writes can be attributed to
  * the store or the change log. Events are ignored while disabled. */
final class SparkCounters(tracer: Tracer) extends SparkListener
    with QueryExecutionListener {
  /** Counting can run without spans (e.g. during a concurrent phase). */
  @volatile var on = false
  private def live = on || tracer.enabled
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  val execs = mutable.ArrayBuffer.empty[ExecRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  /** SQL execution id → its physical plan text (names the output path). */
  val sqlPlans = mutable.Map.empty[Long, String]
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (live) synchronized {
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      jobs(e.jobId) = JobRec(e.jobId, exec, e.time)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageJob.get(e.stageInfo.stageId).flatMap(jobs.get)
        .foreach(_.stages += 1)
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      val info = e.taskInfo
      j.tasks += 1
      tasks += TaskRec(info.launchTime, info.finishTime)
      Option(e.taskMetrics).foreach { m =>
        j.inputBytes += m.inputMetrics.bytesRead
        j.outputBytes += m.outputMetrics.bytesWritten
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        spill += m.diskBytesSpilled
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart if live =>
      synchronized { sqlPlans(s.executionId) = s.physicalPlanDescription }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = if (live) {
    val plan = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
    val out = (Option(qe.analyzed).toSeq ++ Option(qe.logical).toSeq)
      .flatMap(_.collectFirst {
        case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
      }).headOption
    synchronized {
      execs += ExecRec(durationNs / 1e6, plan, out)
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  def clear(): Unit = synchronized {
    jobs.clear(); tasks.clear(); execs.clear(); stageJob.clear(); sqlPlans.clear()
    shuffleRead = 0L; shuffleWrite = 0L; spill = 0L
  }

  /** Over the windows: (busy task ms, ms with at most one task
    * running, ms with no task running). One sweep over task
    * launch/finish events clipped to each window. */
  def occupancy(windows: Seq[(Double, Double)]): (Double, Double, Double) = {
    val ts = synchronized(tasks.toVector)
    var busy = 0.0; var serial = 0.0; var idle = 0.0
    windows.foreach { case (ws, we) =>
      val evs = ts.flatMap { t =>
        val a = math.max(t.launch.toDouble, ws); val b = math.min(t.finish.toDouble, we)
        if (b > a) Seq((a, 1), (b, -1)) else Nil
      }.sortBy(x => (x._1, x._2))
      var running = 0; var last = ws
      evs.foreach { case (t, d) =>
        val dt = t - last
        if (running <= 1) serial += dt
        if (running == 0) idle += dt
        busy += running * dt
        running += d; last = t
      }
      val tail = we - last
      serial += tail; idle += tail
    }
    (busy, serial, idle)
  }
}

object Trace {
  def attach(spark: SparkSession, c: SparkCounters): Unit = {
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
  }

  /** Give the asynchronous listener bus time to deliver the tail of a
    * window's events before it is read. */
  def settle(spark: SparkSession): Unit = {
    graft.Sessions.awaitQuiescent(spark)
    Thread.sleep(300)
  }

  def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime.max(0L)).sum
  }

  def json(metrics: Seq[(String, Double)]): String =
    metrics.map { case (k, v) => "\"" + k + "\":" + num(v) }
      .mkString("{", ",", "}")

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
