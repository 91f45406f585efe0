package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.parquet.conf.PlainParquetConfiguration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
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
  *
  * The driver writes the log and holds it. An append writes one
  * parquet file on the calling thread (parquet-hadoop, no Spark job),
  * under a hidden temp name that one rename publishes, and then adds
  * the event to an in-memory copy of the persisted log; SSE polls
  * ([[eventsSince]]) and compaction read that copy. Spark reads the
  * directory only for [[all]], [[subscribe]] and once at open. Hidden
  * files are invisible to Spark's file sources, so readers only ever
  * see whole files. One process owns a log directory, as the
  * in-memory sequence counter already assumes.
  */
object ChangeLog {
  /** Auto-compact once the log exceeds this multiple of live keys. */
  val DefaultAutoCompactRatio = 4L
  /** …and at least this many rows landed since the last compaction
    * (anti-stampede floor: folded logs retain tombstones, so a
    * delete-heavy log can legitimately sit above the ratio). */
  val DefaultAutoCompactMinAppends = 256L

  private val TempSuffix = ".tmp"

  /** Published files are named by the highest seq they hold. */
  private def fileName(lastSeq: Long): String = f"$lastSeq%020d.parquet"
}

final class ChangeLog(spark: SparkSession, dir: String,
    autoCompactRatio: Long = ChangeLog.DefaultAutoCompactRatio,
    autoCompactMinAppends: Long = ChangeLog.DefaultAutoCompactMinAppends) {
  import ChangeLog._

  private val schema = StructType(Seq(
    StructField("model", StringType, nullable = false),
    StructField("op", StringType, nullable = false),
    StructField("pk", StringType, nullable = false),
    StructField("record", StringType, nullable = false),
    StructField("seq", LongType, nullable = false)))

  /** `schema` as parquet types, the way Spark writes it: every column
    * optional, strings `binary (STRING)`, `seq` int64. */
  private val fileSchema = new MessageType("spark_schema",
    schema.fields.toList.map[Type] { f =>
      f.dataType match {
        case StringType => Types.optional(PrimitiveTypeName.BINARY)
          .as(LogicalTypeAnnotation.stringType()).named(f.name)
        case LongType => Types.optional(PrimitiveTypeName.INT64).named(f.name)
      }
    }.asJava)

  private val live = Paths.get(dir)

  // One monitor (`this`) covers open, append and compaction, so the
  // held events always equal the files on disk. Readers of `held` take
  // no lock: it is replaced, never mutated.
  @volatile private var held: Vector[Row] = synchronized {
    repairInterruptedCompaction()
    Files.createDirectories(live)
    // a crashed append leaves its hidden temp file; it holds no event
    Using.resource(Files.list(live))(_.iterator.asScala.toVector)
      .filter(p => isTemp(p.getFileName.toString)).foreach(Files.delete)
    all().collect().sortBy(seqOf).toVector
  }

  // ---- auto-compaction policy state --------------------------------
  // The trigger is size/ratio-based: once the log holds more than
  // `autoCompactRatio` × live keys (and at least `autoCompactMinAppends`
  // rows landed since the last compaction — the anti-stampede floor,
  // since compaction RETAINS one folded row per key incl. delete
  // tombstones and so never shrinks the log below key count), the
  // append path folds history down via [[compact]]. Live keys are
  // seeded from each key's LATEST op at open and kept exact by
  // appends, so deciding "should we compact" costs two comparisons.
  private val liveKeys = scala.collection.mutable.HashSet.empty[(String, String)]
  private var rowsAtLastCompact = 0L
  // Resume the sequence from what a previous process persisted — a
  // fresh counter would REUSE seq numbers after a restart, so a client
  // reconnecting with Last-Event-ID = n would silently skip every
  // post-restart event numbered ≤ n (ServerSpec pins the
  // restart/resume cycle).
  private var seq = held.lastOption.map(seqOf).getOrElse(0L)
  held.foreach(markLive)

  private def seqOf(r: Row): Long = r.getAs[Long]("seq")
  private def keyOf(r: Row): (String, String) =
    (r.getAs[String]("model"), r.getAs[String]("pk"))
  private def markLive(r: Row): Unit =
    if (r.getAs[String]("op") == "delete") liveKeys -= keyOf(r)
    else liveKeys += keyOf(r)
  private def isTemp(name: String): Boolean =
    name.startsWith(".") && name.endsWith(TempSuffix)

  /** Append one change event (called under the engine's per-model
    * write lock, so appends are ordered per model), then give the
    * auto-compaction policy a chance to fold history. The seq is taken
    * only once the event's file is in place, so a failed write leaves
    * no gap. */
  def append(m: ModelDefinition, op: String, rec: Record): Unit = synchronized {
    val row: Row = new GenericRowWithSchema(Array(m.modelName.pluralCamel, op,
      Records.valueJson(rec(m.primaryKey)), Records.toJson(rec, m), seq + 1), schema)
    val name = fileName(seq + 1)
    val tmp = live.resolve("." + name + TempSuffix)
    writeFile(tmp, Seq(row))
    Files.move(tmp, live.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    seq += 1
    held :+= row
    markLive(row)
    if (held.size - rowsAtLastCompact >= autoCompactMinAppends &&
        held.size > autoCompactRatio * math.max(liveKeys.size.toLong, 1L))
      compact(seq)
  }

  /** One parquet file holding `rows`, written on the calling thread. A
    * leftover file at `path` (a failed earlier attempt) is replaced. */
  private def writeFile(path: Path, rows: Seq[Row]): Unit = {
    val groups = new SimpleGroupFactory(fileSchema)
    Using.resource(ExampleParquetWriter.builder(new LocalOutputFile(path))
        .withConf(new PlainParquetConfiguration()).withType(fileSchema)
        .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
        .build()) { w =>
      rows.foreach { r =>
        val g = groups.newGroup()
        schema.fieldNames.foreach(n => r.getAs[Any](n) match {
          case s: String => g.append(n, s)
          case l: Long => g.append(n, l)
        })
        w.write(g)
      }
    }
  }

  /** Live (non-deleted) key count as tracked by the policy state —
    * exposed for specs. */
  private[streaming] def liveKeyCount: Int = synchronized(liveKeys.size)

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
    * were. After compaction the held log is O(live keys + tail) rows
    * instead of O(full history).
    *
    * The fold runs over the held events on the driver and the result
    * is written as one file, so compaction launches no Spark job. It
    * holds the log's monitor, so no append lands between the fold and
    * the directory swap. A LIVE `readStream` subscription tracks FILES,
    * not seqs — the rewrite presents folded rows as new files and the
    * stream would re-emit them — so run compaction when no streaming
    * query is attached, or `dropDuplicates("seq")` downstream of
    * [[subscribe]]. */
  def compact(upToSeq: Long): Unit = synchronized {
    repairInterruptedCompaction()
    val (history, tail) = held.partition(seqOf(_) <= upToSeq)
    val base = history.reverseIterator.distinctBy(keyOf).toVector.reverse
    val folded = base ++ tail
    val tmp = Paths.get(dir + ".compacting")
    Files.createDirectories(tmp)
    folded.lastOption.foreach(r => writeFile(tmp.resolve(fileName(seqOf(r))), folded))
    val old = Paths.get(dir + ".old")
    Files.move(live, old)
    Files.move(tmp, live)
    deleteTree(old)
    held = folded
    // measure growth SINCE this compaction, not against the old history
    rowsAtLastCompact = folded.size
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
    val old = Paths.get(dir + ".old")
    if (!Files.exists(live) && Files.exists(old)) Files.move(old, live)
    deleteTree(Paths.get(dir + ".compacting"))
    if (Files.exists(live)) deleteTree(old)
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      Using.resource(Files.walk(p))(_.iterator().asScala.toSeq)
        .reverse.foreach(Files.deleteIfExists(_))
    }

  /** Streaming view of one model's changes. */
  def subscribe(m: ModelDefinition): DataFrame =
    Ingest.fileStream(spark, schema, dir, None)
      .filter(col("model") === m.modelName.pluralCamel)

  /** Batch view (for catch-up reads). */
  def all(): DataFrame = spark.read.schema(schema).parquet(dir)

  /** All events with seq > lastSeq, ascending, from the held log: no
    * Spark job and no lock. An event is held only once its file is in
    * place, and the held log includes whatever a previous process
    * persisted, so catch-up-from-0 sees the whole log. */
  def eventsSince(lastSeq: Long): Vector[Row] =
    held.filter(seqOf(_) > lastSeq)
}
