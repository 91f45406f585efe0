package graft.tools

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import graft.{Bench, Sessions, SparkEntry}

/** Targeted timing for named queries (cold + warm runs through the
  * noop sink, Bench's timing loop) — the full `graft.Bench` suite
  * takes minutes; this is the fast feedback loop while iterating on
  * one operator. Each query also gets its warm run's per-stage
  * attribution (the Stages-tab reading, headless): the top stages by
  * summed task runtime with shuffle/spill bytes and the stage's plan
  * scopes, so a regression can be pinned to an operator without the
  * UI. Name a query several times to repeat it.
  *
  * The `[stagetime]` header also counts the classes Janino compiled
  * during each run (`compiles=cold/warm`, Spark's JVM-wide
  * `CodegenMetrics` counter). The warm run follows the SAME query, so
  * its time hides the recompiles that happen between DIFFERENT
  * queries when the generated-code cache is too small to hold them
  * (with Spark's 100-entry default, TimeQ's warm q119 read 1.0 s
  * while a q45/q119/q176 rotation read 1.8–2.0 s); the cold count,
  * or the counts of a query named again later, show them. Its
  * `build=` is the warm run's time from calling the query function
  * until the DataFrame returns (eager analysis and any eager jobs),
  * the share of the time outside stages that runs before the first
  * job of the write.
  * Usage: `runMain graft.tools.TimeQ q1_agg ta_langid ...`
  * (SPARK_GRAFT_SF_DIR selects the corpus, default sf0.1). */
object TimeQ {

  /** One stage of a warm run: wall = completion − submission. */
  final case class Stage(id: Int, name: String, wallMs: Long,
      taskSumMs: Long, taskMaxMs: Long, tasks: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long)

  /** A query's cold and warm seconds, its warm run's build seconds
    * (see [[Bench.timeOnce]]) and its warm run's stages, by
    * descending summed task runtime. */
  final case class Timing(name: String, cold: Double, warm: Double,
      warmBuild: Double, stages: Seq[Stage])

  /** Per-stage task sums and stage names, cleared before each warm
    * run. */
  private final class StageListener extends SparkListener {
    private val sums = new ConcurrentHashMap[Int, Stage]()
    private val names = new ConcurrentHashMap[Int, (String, Long)]()

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val info = s.stageInfo
      val wall = (for {
        a <- info.completionTime
        b <- info.submissionTime
      } yield a - b).getOrElse(0L)
      val scopes = info.rddInfos.sortBy(_.id)
        .map(r => r.scope.map(_.name).getOrElse(r.name))
        .distinct.mkString(">").take(110)
      names.put(info.stageId, (scopes, wall))
    }

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) sums.merge(t.stageId,
        Stage(t.stageId, "?", 0L, m.executorRunTime, m.executorRunTime, 1L,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled),
        (a, b) => a.copy(taskSumMs = a.taskSumMs + b.taskSumMs,
          taskMaxMs = math.max(a.taskMaxMs, b.taskMaxMs),
          tasks = a.tasks + b.tasks,
          shuffleReadBytes = a.shuffleReadBytes + b.shuffleReadBytes,
          shuffleWriteBytes = a.shuffleWriteBytes + b.shuffleWriteBytes,
          spillBytes = a.spillBytes + b.spillBytes))
    }

    def clear(): Unit = { sums.clear(); names.clear() }

    def stages: Seq[Stage] = sums.values.asScala.toSeq.map { st =>
      val (nm, wall) = names.getOrDefault(st.id, ("?", 0L))
      st.copy(name = nm, wallMs = wall)
    }.sortBy(-_.taskSumMs)
  }

  /** Warm up, then time each named query (SparkEntry.queries or a
    * bench extra) cold and warm, printing its `[timeq]` line and its
    * warm run's top-12 `[stagetime]` stages as it finishes. A failed
    * query fails the run. The session stays open. */
  def run(spark: SparkSession, sfDir: String, names: Seq[String])
      : Seq[Timing] = {
    val all = SparkEntry.queries ++ SparkEntry.benchExtras
    val listener = new StageListener
    spark.sparkContext.addSparkListener(listener)
    try {
      Bench.warmUp(spark, sfDir)
      names.map { name =>
        val fn = all(name)
        /** Seconds, build seconds and classes compiled for one run. */
        def once(): (Double, Double, Long) = {
          val c0 = compiles
          val (sec, build) = Bench.timeOnce(spark, sfDir, fn)(e => throw e)
          (sec, build, compiles - c0)
        }
        val (cold, _, coldCompiles) = once()
        listener.clear()
        val (warm, warmBuild, warmCompiles) = once()
        val stages = listener.stages
        println(f"[timeq] $name%-24s cold=$cold%8.3f warm=$warm%8.3f")
        println(f"[stagetime] $name stages=${stages.size}%d " +
          s"compiles=$coldCompiles/$warmCompiles " +
          f"build=${warmBuild * 1e3}%.0fms")
        stages.take(12).foreach { st =>
          println(f"[stagetime]   stage ${st.id}%5d " +
            f"wall=${st.wallMs / 1e3}%7.2f " +
            f"taskSum=${st.taskSumMs / 1e3}%8.2f " +
            f"max=${st.taskMaxMs / 1e3}%6.2f n=${st.tasks}%4d " +
            f"sRd=${st.shuffleReadBytes / 1e6}%8.1f MB " +
            f"sWr=${st.shuffleWriteBytes / 1e6}%8.1f MB " +
            f"spill=${st.spillBytes / 1e6}%7.1f MB ${st.name}")
        }
        Timing(name, cold, warm, warmBuild, stages)
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Classes Janino has compiled in this JVM so far. */
  private def compiles: Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def main(args: Array[String]): Unit = {
    val sfDir =
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    try run(spark, sfDir, args.toSeq)
    finally spark.stop()
  }
}
