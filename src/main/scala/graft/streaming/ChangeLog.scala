package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.core.ModelDefinition
import graft.crud.Records
import graft.crud.Records.Record

/** CRUD change-log: the storage-side half of GraphQL subscriptions.
  *
  * Every successful create/update/delete appends one row
  * (model, op, pk JSON, record JSON, seq) to an append-only parquet
  * directory; `subscribe(model)` is a Structured Streaming source over
  * it. This is the Spark realization of the subscription surface the
  * reference stubs out (`graphql.rs:193,251-253,353`): a changelog
  * topic per store, consumed with `readStream`.
  */
object ChangeLog {
  /** Auto-compact once the log exceeds this multiple of live keys. */
  val DefaultAutoCompactRatio = 4L
  /** …and at least this many rows landed since the last compaction
    * (anti-stampede floor: folded logs retain tombstones, so a
    * delete-heavy log can legitimately sit above the ratio). */
  val DefaultAutoCompactMinAppends = 256L
}

final class ChangeLog(spark: SparkSession, dir: String,
    autoCompactRatio: Long = ChangeLog.DefaultAutoCompactRatio,
    autoCompactMinAppends: Long = ChangeLog.DefaultAutoCompactMinAppends) {

  private val schema = StructType(Seq(
    StructField("model", StringType, nullable = false),
    StructField("op", StringType, nullable = false),
    StructField("pk", StringType, nullable = false),
    StructField("record", StringType, nullable = false),
    StructField("seq", LongType, nullable = false)))

  repairInterruptedCompaction()
  Files.createDirectories(Paths.get(dir))

  // ---- auto-compaction policy state --------------------------------
  // The trigger is size/ratio-based: once the log holds more than
  // `autoCompactRatio` × live keys (and at least `autoCompactMinAppends`
  // rows landed since the last compaction — the anti-stampede floor,
  // since compaction RETAINS one folded row per key incl. delete
  // tombstones and so never shrinks the log below key count), the
  // append path folds history down via [[compact]]. Counters are
  // in-memory, seeded from the persisted log at construction; appends
  // maintain them exactly (create/update mark the key live, delete
  // kills it), so deciding "should we compact" costs two longs — no
  // Spark job runs until the trigger actually fires.
  private val liveKeys =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(String, String)]()
  private val logRows = new java.util.concurrent.atomic.AtomicLong(0L)
  @volatile private var rowsAtLastCompact = 0L
  private val compacting = new java.util.concurrent.atomic.AtomicBoolean(false)

  // Resume the sequence from what a previous process persisted — a
  // fresh AtomicLong(0) would REUSE seq numbers after a restart, so a
  // client reconnecting with Last-Event-ID = n would silently skip
  // every post-restart event numbered ≤ n (ServerSpec pins the
  // restart/resume cycle). The same pass seeds the auto-compaction
  // counters (log rows + live keys from each key's LATEST op).
  private val seq = new java.util.concurrent.atomic.AtomicLong({
    val rows = all().select(col("model"), col("pk"), col("op"), col("seq"))
      .collect().sortBy(_.getAs[Long]("seq"))
    logRows.set(rows.length.toLong)
    rowsAtLastCompact = 0L
    rows.foreach { r =>
      val key = (r.getAs[String]("model"), r.getAs[String]("pk"))
      if (r.getAs[String]("op") == "delete") liveKeys.remove(key)
      else liveKeys.add(key)
    }
    if (rows.isEmpty) 0L else rows.last.getAs[Long]("seq")
  })

  // append/compact coordination: appends (any model, concurrently) hold
  // the READ half; compaction holds the WRITE half for its directory
  // swap, so no append can land between "fold the log" and "replace the
  // files" and be lost.
  private val rw = new java.util.concurrent.locks.ReentrantReadWriteLock()

  /** Append one change event (called under the engine's per-model
    * write lock, so appends are ordered per model), then give the
    * auto-compaction policy a chance to fold history. */
  def append(m: ModelDefinition, op: String, rec: Record): Unit = {
    rw.readLock().lock()
    try {
      val pkJson = Records.valueJson(rec(m.primaryKey))
      val row = Row(m.modelName.pluralCamel, op, pkJson,
        Records.toJson(rec, m), seq.incrementAndGet())
      spark.createDataFrame(java.util.List.of(row), schema)
        .write.mode(SaveMode.Append).parquet(dir)
      val key = (m.modelName.pluralCamel, pkJson)
      if (op == "delete") liveKeys.remove(key) else liveKeys.add(key)
      logRows.incrementAndGet()
      written.incrementAndGet()
    } finally rw.readLock().unlock()
    // outside the read lock: compact() takes the WRITE half, and a
    // read→write upgrade would deadlock against ourselves
    maybeAutoCompact()
  }

  /** Fire [[compact]] when the policy says the log is worth folding.
    * `compacting` keeps concurrent appends from stampeding into
    * redundant compactions (the write lock would serialize them, but
    * each would still rewrite the directory); the min-appends floor
    * keeps a delete-heavy log — whose folded form legitimately holds
    * more rows than live keys (tombstones) — from re-triggering on
    * every append. */
  private def maybeAutoCompact(): Unit = {
    val rows = logRows.get()
    if (rows - rowsAtLastCompact >= autoCompactMinAppends &&
        rows > autoCompactRatio * math.max(liveKeys.size.toLong, 1L) &&
        compacting.compareAndSet(false, true)) {
      try compact(seq.get())
      finally compacting.set(false)
    }
  }

  /** Live (non-deleted) key count as tracked by the policy state —
    * exposed for specs. */
  private[streaming] def liveKeyCount: Int = liveKeys.size
  /** Current in-memory log row count — exposed for specs. */
  private[streaming] def logRowCount: Long = logRows.get()

  /** Compact the log: fold every event with seq ≤ `upToSeq` down to
    * the LATEST event per (model, pk) — delete tombstones retained —
    * and rewrite the directory as that base plus the untouched tail
    * (seq > upToSeq).
    *
    * Folded rows keep their original seq, which is what makes a
    * post-compaction `Last-Event-ID` resume exact: a client at L
    * receives precisely the rows with seq > L, and every event it has
    * not seen survives compaction either verbatim (tail) or as its
    * key's final state ≤ upToSeq (base, seq > L by definition of not
    * having seen it); nothing ≤ L can be re-delivered because folded
    * rows kept seqs ≤ L and are filtered exactly like the originals
    * were. After compaction a snapshot refresh reads O(live keys +
    * tail) rows instead of O(full history) — the log's analogue of the
    * POINTOPS point-op bound; compaction itself reads the history
    * ONCE, amortizing it.
    *
    * The fold is one window partitioned by (model, pk) — shuffled on
    * the key, no driver materialization, scale-safe. Concurrency:
    * takes the write half of the append lock, so appends (readers)
    * drain first and block during the swap. A LIVE `readStream`
    * subscription tracks FILES, not seqs — the rewrite presents folded
    * rows as new files and the stream would re-emit them — so run
    * compaction when no streaming query is attached, or
    * `dropDuplicates("seq")` downstream of [[subscribe]]. */
  def compact(upToSeq: Long): Unit = {
    rw.writeLock().lock()
    try {
      repairInterruptedCompaction()
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions.{desc, row_number}
      val log = all()
      val base = log.filter(col("seq") <= upToSeq)
        .withColumn("_rn", row_number().over(
          Window.partitionBy(col("model"), col("pk"))
            .orderBy(desc("seq"))))
        .filter(col("_rn") === 1).drop("_rn")
      val keep = base.unionByName(log.filter(col("seq") > upToSeq))
      val tmp = Paths.get(dir + ".compacting")
      // one file per model-ish chunk is plenty for a serving-side log;
      // the win over the 1-row-per-append layout is already ~|events|×
      keep.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
      val old = Paths.get(dir + ".old")
      Files.move(Paths.get(dir), old)
      Files.move(tmp, Paths.get(dir))
      deleteTree(old)
      synchronized { cachedRows = Array.empty; cachedWritten = -1L }
      // reseed the auto-compaction floor from the folded log's true
      // size (base keys + tombstones + tail) so the policy measures
      // growth SINCE this compaction, not against the old history
      val n = all().count()
      logRows.set(n)
      rowsAtLastCompact = n
    } finally rw.writeLock().unlock()
  }

  /** Crash recovery for the two-move directory swap in [[compact]].
    * The swap is `move(dir → .old); move(.compacting → dir);
    * delete(.old)`, so a crash leaves exactly one of three states, each
    * repaired here (called on construction and before every compact):
    *
    *  - dir MISSING, `.old` present (died between the two moves): roll
    *    BACK — restore `.old` as the live dir. The pre-compaction log is
    *    complete there, so nothing is lost; the interrupted compaction
    *    simply never happened.
    *  - dir present, `.old` present (died before deleting `.old`): the
    *    swap completed — drop the stale `.old`.
    *  - `.compacting` present in any state: a scratch dir from an
    *    unfinished (or rolled-back) fold — always safe to drop, the
    *    live dir is authoritative after the steps above.
    */
  private def repairInterruptedCompaction(): Unit = {
    val live = Paths.get(dir)
    val old = Paths.get(dir + ".old")
    if (!Files.exists(live) && Files.exists(old)) Files.move(old, live)
    deleteTree(Paths.get(dir + ".compacting"))
    if (Files.exists(live)) deleteTree(old)
  }

  private def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.walk(p))(_.iterator().asScala.toSeq)
        .reverse.foreach(Files.deleteIfExists(_))
    }

  /** Streaming view of one model's changes. */
  def subscribe(m: ModelDefinition): DataFrame =
    spark.readStream.schema(schema).parquet(dir)
      .filter(col("model") === m.modelName.pluralCamel)

  /** Batch view (for catch-up reads). */
  def all(): DataFrame = spark.read.schema(schema).parquet(dir)

  // ---- poller snapshot cache ---------------------------------------
  // SSE subscribers poll every 500 ms; without a cache each poll of
  // each subscriber runs a full Spark collect() even when nothing
  // changed — many idle subscribers become continuous Spark jobs. An
  // in-memory counter already knows whether an append happened, so
  // idle polls compare two longs and touch Spark not at all; at most
  // ONE collect runs per append regardless of how many subscribers
  // are connected. The counter is `written`, bumped AFTER the append's
  // parquet write, not `seq`, which advances BEFORE it: a poll between
  // the two would snapshot the directory without the new event and
  // mark it current, and the event would reach no subscriber until
  // the next append (a live subscription timed out that way).
  private val written = new java.util.concurrent.atomic.AtomicLong(0L)
  @volatile private var cachedRows: Array[Row] = Array.empty
  @volatile private var cachedWritten: Long = -1L

  /** All events with seq > lastSeq, ascending — served from the cached
    * snapshot, which is refreshed only when an append has been written
    * since the last collect. The initial refresh (cachedWritten = -1)
    * also loads any events persisted by a previous process, so
    * catch-up-from-0 semantics are unchanged. */
  def eventsSince(lastSeq: Long): Array[Row] = {
    val cur = written.get()
    if (cur > cachedWritten) synchronized {
      if (cur > cachedWritten) {
        cachedRows = all().orderBy(col("seq")).collect()
        cachedWritten = cur
      }
    }
    cachedRows.filter(_.getAs[Long]("seq") > lastSeq)
  }
}
