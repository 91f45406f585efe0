package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The composed curation-at-ingest pipeline a production trainer
  * ships: ONE stream over the raw landing directory that, per
  * micro-batch, (1) applies the q84 stage-1 quality gates (token
  * bounds + type-token ratio — map-side, before any index work),
  * (2) runs the [[DocIngest]] dedup verdict core against the evolving
  * accepted-docs MinHash index, and (3) extends the [[ShardIngest]]
  * training-shard layout with the batch's ACCEPTED docs — so a doc
  * goes raw parquet → verdict → shard assignment inside one trigger,
  * and the trainer's shard manifest grows in lockstep with curation.
  *
  * CurationIngestSpec cross-gates the composition: fed in the shard
  * permutation's own (md5 key, doc_id) order, the chained stream's
  * final assignments are BIT-IDENTICAL to the batch
  * `Shards.layoutOf` of exactly the docs the stream accepted — the
  * q84→q171 batch composition on the same corpus — and every
  * conservation property holds under arbitrary arrival order (the
  * ShardIngest trade: an incremental assigner cannot re-sort
  * history).
  *
  * Outputs: verdict rows (doc_id, dup_of, n_matches, batch_id) to
  * `verdictsDir` — quality-gated docs never reach a verdict (they are
  * dropped before the index probe; the gate is recomputable from the
  * doc alone, so provenance needs no row) — and assignment rows
  * (shard_id, position, doc_id, lang, n_tokens, token_offset,
  * batch_id) to `shardsDir`, both through the [[Ingest]] recipe.
  *
  * Scale posture is the twins', composed: per batch — map-side gate
  * kernels, one band equi-join probing only the batch's buckets,
  * O(batch) index append, one window pair over batch-grain doc rows,
  * and a [[graft.operators.Shards.PackGrains]]-bounded state
  * collect. Nothing rescans prior batches. */
object CurationIngest {

  /** One curated-doc frame: quality-gated rows with the q84 columns
    * the downstream stages need. */
  private def gated(batch: DataFrame): DataFrame =
    batch
      .withColumn("st",
        graft.functions.TextStatFunctions.tokenStats(col("text"),
          Nil))
      .withColumn("n_tokens", col("st").getItem(1).cast("long"))
      .withColumn("ttr_pct",
        expr("st[2] * 100 div n_tokens"))
      .filter(col("n_tokens").between(10, 5000) &&
        col("ttr_pct") >= 30)
      .select(col("doc_id"), col("text"), col("lang"), col("n_tokens"))

  /** Start the chained curate→shard stream (see object scaladoc).
    * Restart composes the twins' own rules: the verdict index reseeds
    * from the docs the durable verdicts accepted ([[DocIngest]]), and
    * the shard tails recover inside the first foreachBatch with the
    * `batch_id < current` replay filter ([[ShardIngest]]). */
  def curateAndShard(spark: SparkSession, corpus: DataFrame,
      landingDir: String, verdictsDir: String, shardsDir: String,
      maxFilesPerTrigger: Option[Int] = None,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    var idx = DocIngest.seedIndex(spark, corpus, landingDir, verdictsDir)
    var shardState: Option[Map[Long, ShardIngest.GrainTail]] = None
    Ingest.start(spark, DocIngest.docSchema, landingDir, verdictsDir,
        maxFilesPerTrigger, trigger) { (batch, batchId) =>
      val g = gated(batch).localCheckpoint(true)
      val (accepted, next) =
        DocIngest.dedupBatch(idx, g, batchId, verdictsDir)
      idx = next
      val curated = g.join(accepted, "doc_id")
        .select(col("doc_id"), col("lang"), col("n_tokens"))
      shardState = Some(ShardIngest.shardBatch(spark, shardState, curated,
        batchId, shardsDir))
    }
  }
}
