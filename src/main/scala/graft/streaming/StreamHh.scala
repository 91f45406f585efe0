package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.{Sketch, TextAnalysis}

/** Continuous heavy-hitter monitoring over a landing directory of
  * document batches — the streaming twin of q135's Misra–Gries
  * harvest. The summary state is SHARDED: tokens hash to
  * [[Shards]] groups, each group holds ONE k-counter Misra–Gries
  * summary in `flatMapGroupsWithState` state, so total state is the
  * fixed Shards·k counters NO MATTER how long the stream runs (the
  * StreamDrift bounded-state contract), and the shards run in
  * parallel (state is keyed, not global).
  *
  * The guarantee SURVIVES sharding and micro-batching: hashing sends
  * every occurrence of a token to the same shard, so a token with
  * global count > N/k has count > n_shard/k in its own shard and
  * cannot be evicted from that shard's summary (Misra & Gries 1982);
  * MG processes its stream one arrival at a time, so cutting the
  * stream into micro-batches changes nothing. Each trigger emits the
  * shard's CURRENT candidate set (append mode); the union of
  * emissions is a superset of the final candidates, and — exactly as
  * in batch q135 — the exact-count gate (cnt·k > N, applied by the
  * consumer over the settled corpus) filters the union down to the
  * true heavy-hitter set, independent of sharding, trigger
  * boundaries, or arrival order. StreamHhSpec pins stream ≡ batch.
  */
object StreamHh {

  /** Parallelism of the summary state (shards × [[Sketch.MgK]]
    * counters is the total state bound). */
  val Shards = 8

  /** One Misra–Gries update pass of `it` into summary `m` (≤ k
    * counters kept). Exposed for the spec. */
  private[streaming] def mgUpdate(m0: Map[String, Long],
      it: Iterator[String]): Map[String, Long] = {
    val m = scala.collection.mutable.HashMap.empty[String, Long]
    m ++= m0
    it.foreach { t =>
      m.get(t) match {
        case Some(c) => m.update(t, c + 1L)
        case None if m.size < Sketch.MgK => m.update(t, 1L)
        case None =>
          val dead = m.iterator.filter(_._2 == 1L).map(_._1).toList
          m.mapValuesInPlace((_, c) => c - 1L)
          dead.foreach(m.remove)
      }
    }
    m.toMap
  }

  /** The unstarted streaming DataFrame of (shard, tok) candidate
    * emissions over doc batches landing in `landingDir` (schema =
    * documents.parquet). Callers pick sink/trigger;
    * `maxFilesPerTrigger` is threaded so specs can force
    * cross-micro-batch state carry. */
  def candidateStream(spark: SparkSession, landingDir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import spark.implicits._
    Ingest.fileStream(spark, DocIngest.docSchema, landingDir,
      maxFilesPerTrigger)
      .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .as[String]
      .groupByKey(t => math.floorMod(t.hashCode, Shards))
      .flatMapGroupsWithState[Map[String, Long], (Int, String)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (shard: Int, toks: Iterator[String],
            state: GroupState[Map[String, Long]]) =>
          val next = mgUpdate(state.getOption.getOrElse(Map.empty), toks)
          state.update(next)
          next.keysIterator.map(t => (shard, t)).toList.iterator
      }
      .toDF("shard", "tok")
  }
}
