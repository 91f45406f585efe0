package graft

import org.apache.spark.sql.SparkSession

/** Session-build-time defaults shared by every graft entry point
  * (Bench/Verify/Main/tools/specs).
  *
  * - UTC session timezone: the oracle comparison depends on it.
  * - `nanosAsLong`: kept for corpora whose events.ts is parquet
  *   TIMESTAMP(NANOS) (Spark 4 reads those only as raw nanos under
  *   this legacy conf; the current testdata ships TIMESTAMP(MICROS),
  *   where the conf is a no-op and `Tables.load` normalizes the
  *   column to epoch nanos instead). Declared once here so operator
  *   functions stay free of session-conf side effects (a query must
  *   never mutate a shared SparkSession).
  * - `codegen.cache.maxEntries` = 4096: the JVM-wide cache of
  *   Janino-compiled classes holds the whole `SparkEntry.queries`
  *   suite, so no query recompiles what an earlier query in the same
  *   session compiled. Spark's default of 100 entries is below a
  *   single query's count (q45, q119 and q176 compile 60, 53 and 67
  *   classes), so a rotation of queries recompiled nearly all of its
  *   classes on every round (176 of 179 for those three). A cold and
  *   a warm run of each of the 197 queries at sf0.01, local[4], with
  *   an unbounded cache compiled 2 897 classes (a second such round:
  *   13; local mode compiles each class twice, for the driver's and
  *   the executor's class loader, and the cache keys on both); 4096
  *   is the next power of two. The size is a static conf,
  *   read once per JVM when the first class compiles, and an entry
  *   bound: the heap holds more classes, not an unbounded number.
  * - `codegen.useIdInClassName` = false: with it on, AQE's run-
  *   dependent whole-stage id is part of the generated source
  *   (`GeneratedIteratorForCodegenStage<N>`), so code identical but
  *   for that name missed the cache; q119 recompiled 4 such classes
  *   on some runs whatever the cache size.
  */
object Sessions {
  def defaults(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", 4096L)
      .config("spark.sql.codegen.useIdInClassName", false)

  /** [[defaults]] plus local-single-JVM-only overrides. Every graft
    * entry point in this repo runs `local[*]` and uses this; a real
    * cluster deployment should build on [[defaults]], where the stock
    * 120 s network timeout correctly detects dead executors.
    *
    * - network.timeout=600s: local-mode GC robustness at the ×100
    *   corpus — a full-heap stop-the-world pause in a big single-JVM
    *   run can exceed the 120 s default, and the HeartbeatReceiver then
    *   removes the only executor, killing the context mid-suite (seen
    *   on the first full sf10 bench). In local[*] driver and executor
    *   share the pausing JVM, so the timeout only guards against
    *   itself. */
  def localDefaults(b: SparkSession.Builder): SparkSession.Builder =
    defaults(b).config("spark.network.timeout", "600s")

  /** Local parallelism of every entry point: `SPARK_GRAFT_CPUS` when
    * set, else the machine's cores. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The one session builder: [[localDefaults]] on `local[cpus]` with
    * one shuffle partition per core and no UI. Returns the running
    * session if one exists (`getOrCreate`), so the shared test session
    * and a main's session come from the same place. */
  def local(cpus: Int = Sessions.cpus): SparkSession = {
    val s = localDefaults(SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Print every query's observed metrics (operator coverage caps —
    * the ngram/q101/q107 block-cap declarations) from the
    * QueryExecution that actually RAN. Reading
    * `df.queryExecution.observedMetrics` after `df.write` reports the
    * never-executed logical copy — the action executes a CLONE of the
    * QueryExecution — so every metric printed as its [0,0] initial
    * state (silently, defeating the caps' never-silent contract).
    * Metric names embed their query, so the line needs no
    * caller-side context and the listener's async dispatch cannot
    * mislabel it. */
  def printObservedMetrics(spark: SparkSession): Unit =
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit = {
          val om = qe.observedMetrics
          if (om.nonEmpty) System.err.println("[metrics] " +
            om.map { case (k, v) => s"$k=$v" }.mkString(", "))
        }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      })

  /** Wait (bounded) until no job is active AND no task is running.
    * Straggler tasks of a finished query — AQE-cancelled stages are
    * never thread-interrupted — report their accumulators to the
    * DAGScheduler AFTER the action returns; if a GC has meanwhile
    * collected the execution's weak-referenced SQL metrics, every
    * late completion logs an `attempted to access non-existent
    * accumulator` ERROR stack. Draining before [[releaseBlocks]]'s
    * EXPLICIT `System.gc()` keeps the bench path clean and each
    * measurement's cluster truly idle. The check must look at
    * RUNNING TASKS, not just active jobs: a cancelled job leaves the
    * active set immediately while its un-interrupted tasks run on.
    * (The test JVM has no such quiesce point — suites run in
    * parallel and the GCs are heap-pressure-driven — so the same
    * benign signature is filtered there by
    * `src/test/resources/log4j2.properties` instead.) */
  def awaitQuiescent(spark: SparkSession, timeoutMs: Long = 2000): Unit = {
    val tracker = spark.sparkContext.statusTracker
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    def busy = tracker.getActiveJobIds().nonEmpty ||
      tracker.getExecutorInfos.map(_.numRunningTasks()).sum > 0
    while (busy && System.nanoTime() < deadline)
      Thread.sleep(20)
  }

  /** Drop every block any query left behind (localCheckpoint barriers
    * persist MEMORY_AND_DISK blocks that only a GC cycle reclaims):
    * Bench/TimeQ call this BETWEEN queries so each measurement starts
    * from clean storage memory — without it, timings are
    * order-dependent (a barrier-heavy query's blocks squeeze the next
    * query's execution memory; measured 6× inflation at sf10) and the
    * suite eventually GC-stalls. Semantically each bench entry is an
    * independent job — on a cluster it would be its own application.
    *
    * The explicit `System.gc()` is what actually reclaims broadcast
    * blocks and shuffle files: Spark's ContextCleaner is weak-reference
    * driven — it removes a broadcast/shuffle only after the driver GCs
    * the owning object. On a large, mostly-idle driver heap a full GC
    * may never happen during a whole bench suite, so ~170 executions'
    * broadcasts and shuffles accumulate in unified memory and squeeze
    * execution memory (measured: dedup_minhash_lsh 20s isolated vs 50s
    * late in the sf10 suite, with warm > cold inversions from spill).
    * Callers invoke this OUTSIDE the timed region, so the GC pause is
    * suite wall-clock, not per-query time.
    *
    * Generated classes are NOT released: the JVM-wide codegen cache
    * ([[defaults]]) keeps them between queries on purpose, so a later
    * query reuses what an earlier one compiled instead of paying
    * Janino again; its entry bound, not this call, bounds them. */
  def releaseBlocks(spark: SparkSession): Unit = {
    awaitQuiescent(spark)
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    System.gc()
  }
}
