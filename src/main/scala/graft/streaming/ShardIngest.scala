package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.operators.Shards

/** Streaming twin of the q171/q172 shard layout — [[DocIngest]]'s
  * at-ingest shape carried to the training-shard assignment: curated
  * documents land in batches and each batch extends the shard layout
  * WITHOUT touching any shipped shard. Carried state is ONE tail
  * tuple per pack grain (cumulative tokens, open-shard seq, the open
  * shard's start offset and member count) — O([[Shards.PackGrains]])
  * longs forever, the mergeable-summary discipline of the other
  * streaming twins.
  *
  * Contract with the batch operator (ShardIngestSpec cross-gates
  * both): documents fed in q171's own deterministic order — by
  * (md5('shard:'||doc_id), doc_id) — produce BIT-IDENTICAL
  * (shard_id, position, doc_id, n_tokens, token_offset) rows to
  * `Shards.q171ShardLayout`, however the stream is cut into
  * micro-batches (batch boundaries never change an assignment:
  * the per-grain running token count is the only coupling, and it
  * is exactly the carried state). Fed in ARRIVAL order instead, the
  * layout differs from the batch shuffle (an incremental assigner
  * cannot re-sort history — the standard trade) but every
  * conservation property still holds: each doc exactly once,
  * positions contiguous per shard, offsets the member-token prefix
  * sums, shards size-bounded by budget + one overflow doc.
  *
  * Restart: the [[Ingest]] recipe, with the tail state rebuilt
  * INSIDE the first foreachBatch from the durable assignments with
  * `batch_id < current` ONLY. Rebuilding at stream start from all
  * durable rows would, after a crash between the parquet write and
  * the checkpoint commit, sum the replayed batch's own rows into the
  * tails and shift every replayed position/offset. Filtering to
  * strictly-earlier batches makes the replay re-derive exactly the
  * state the crashed run saw, so the overwrite is bit-identical.
  *
  * Scale posture: per batch, one window pair on (grain) then
  * (grain, seq) over BATCH-grain rows plus a broadcast join of the
  * [[Shards.PackGrains]]-row state table; the per-grain state
  * aggregate collected to the driver is grains-bounded. Nothing
  * rescans prior batches; shipped shards are immutable. */
object ShardIngest {

  /** Landing-file schema: curated doc-grain rows (the q84 survivor
    * shape — id, language, token count; text never rides ingest). */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("lang", StringType),
    StructField("n_tokens", LongType)))

  /** Per-grain tail: cumulative grain tokens, the open shard's
    * seq (−1 = none yet), its first token's grain offset, and its
    * current member count. */
  final case class GrainTail(cum: Long, seqOpen: Long,
      shardStart: Long, docsIn: Long)

  /** Assign one micro-batch against the carried state; returns the
    * assignment rows (shard_id, position, doc_id, lang, n_tokens,
    * token_offset) and the advanced state. Intra-batch order is
    * q171's own (md5 key, doc_id) — deterministic under retry. */
  private[graft] def assignBatch(spark: SparkSession,
      state: Map[Long, GrainTail], batch: DataFrame,
      grains: Long = Shards.PackGrains,
      tokens: Long = Shards.ShardTokens,
      buckets: Long = Shards.ShardBuckets)
      : (DataFrame, Map[Long, GrainTail]) = {
    import spark.implicits._
    val st = state.toSeq
      .map { case (g, t) => (g, t.cum, t.seqOpen, t.shardStart, t.docsIn) }
      .toDF("grain", "cum0", "seq_open", "shard_start0", "docs_in0")
    val keyed = batch
      .withColumn("k",
        md5(concat(lit("shard:"), col("doc_id").cast("string"))))
      .withColumn("grain",
        expr(s"CAST(conv(substring(k, 1, 2), 16, 10) AS BIGINT)" +
          s" % $grains"))
      .join(broadcast(st), Seq("grain"), "left")
      .na.fill(0L, Seq("cum0", "shard_start0", "docs_in0"))
      .na.fill(-1L, Seq("seq_open"))
    val wCum = Window.partitionBy(col("grain"))
      .orderBy(col("k"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val packed = keyed
      .withColumn("start",
        col("cum0") + sum(col("n_tokens")).over(wCum) - col("n_tokens"))
      .withColumn("seq", expr(s"start div $tokens"))
    val wOrd = Window.partitionBy(col("grain"), col("seq"))
      .orderBy(col("k"), col("doc_id"))
    val wShard = Window.partitionBy(col("grain"), col("seq"))
    val asn = packed
      .withColumn("pos_intra", (row_number().over(wOrd) - 1).cast("long"))
      .withColumn("min_start", min(col("start")).over(wShard))
      // the batch's first group may CONTINUE the open shard: its
      // positions and offsets then carry the state's tail forward
      .withColumn("position",
        when(col("seq") === col("seq_open"),
          col("pos_intra") + col("docs_in0")).otherwise(col("pos_intra")))
      .withColumn("shard_start",
        when(col("seq") === col("seq_open"), col("shard_start0"))
          .otherwise(col("min_start")))
      .withColumn("token_offset", col("start") - col("shard_start"))
      .withColumn("shard_id",
        col("grain") % buckets * lit(Shards.ShardIdBase)
          + expr(s"grain div $buckets") * lit(Shards.ShardSubBase)
          + col("seq"))
      .localCheckpoint(true) // read twice: output + the state fold
    val out = asn.select(col("shard_id"), col("position"), col("doc_id"),
      col("lang"), col("n_tokens"), col("token_offset"))
      .orderBy(col("shard_id"), col("position"))
    // advance the touched grains' tails (grains-bounded collect).
    // struct-max, not max_by: max_by's ordering key (seq) ties across
    // every row of the open shard, and its tie pick is unspecified —
    // the struct orders by (seq, position) and is exact
    val advanced = asn.groupBy(col("grain"))
      .agg(max(col("start") + col("n_tokens")).as("cum"),
        max(struct(col("seq"), col("position"))).as("op"),
        max(struct(col("seq"), col("shard_start"))).as("os"))
      .select(col("grain"), col("cum"), col("op.seq").as("seq_open"),
        col("os.shard_start").as("shard_start"),
        (col("op.position") + 1).as("docs_in"))
      .collect()
      .map(r => r.getLong(0) ->
        GrainTail(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    (out, state ++ advanced)
  }

  /** Knob-provenance sidecar written next to the durable assignments
    * (`_shard_knobs`, underscore-prefixed so parquet reads of the
    * dir skip it): the (grains, tokens, buckets) the stored rows
    * were written under. Recovery decodes (grain, seq) from stored
    * shard_ids with the CURRENT knobs, so a restart under different
    * knobs would silently mis-reconstruct every grain tail and mix
    * two incompatible shard_id labelings in one output dir — the
    * sidecar turns that into a loud mismatch error instead. Batch
    * q171 re-labels freely (the [[Shards]] provenance contract is
    * about recomputed-from-scratch layouts); a STREAMING output dir
    * pins all three knobs for its lifetime. */
  private def knobsPath(outDir: String) = new Path(outDir, "_shard_knobs")

  /** First-batch guard: record the knobs on a fresh output dir,
    * validate them on an existing one (see [[knobsPath]]). */
  private[graft] def checkOrWriteKnobs(spark: SparkSession,
      outDir: String, grains: Long = Shards.PackGrains,
      tokens: Long = Shards.ShardTokens,
      buckets: Long = Shards.ShardBuckets): Unit = {
    val p = knobsPath(outDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) {
      val in = fs.open(p)
      val line =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      require(line == s"$grains,$tokens,$buckets",
        s"shard output dir $outDir was written under " +
          s"(grains,tokens,buckets)=($line) but this run uses " +
          s"($grains,$tokens,$buckets) — recovery would mis-decode " +
          "the stored shard_ids (and a grain/token change would " +
          "alter packing mid-stream). Restart with the stored knobs " +
          "(GRAFT_SHARD_{GRAINS,TOKENS,BUCKETS}) or use a fresh " +
          "output dir.")
    } else {
      val out = fs.create(p, false)
      try out.write(s"$grains,$tokens,$buckets".getBytes("UTF-8"))
      finally out.close()
    }
  }

  /** Rebuild the per-grain tail state from durable assignments (the
    * restart path — see object scaladoc). */
  private[graft] def recoverState(assigned: DataFrame,
      buckets: Long = Shards.ShardBuckets): Map[Long, GrainTail] = {
    val wG = Window.partitionBy(col("grain"))
    assigned
      .withColumn("grain",
        expr(s"shard_id % ${Shards.ShardIdBase}" +
          s" div ${Shards.ShardSubBase} * $buckets" +
          s" + shard_id div ${Shards.ShardIdBase}"))
      .withColumn("seq",
        expr(s"shard_id % ${Shards.ShardSubBase}"))
      .withColumn("cum", sum(col("n_tokens")).over(wG))
      .withColumn("open", max(col("seq")).over(wG))
      .filter(col("seq") === col("open"))
      .groupBy(col("grain"))
      .agg(max(col("cum")).as("cum"), max(col("seq")).as("seq_open"),
        (max(col("position")) + 1).as("docs_in"),
        max(col("token_offset") + col("n_tokens")).as("open_span"))
      .collect()
      .map(r => r.getLong(0) -> GrainTail(r.getLong(1), r.getLong(2),
        r.getLong(1) - r.getLong(4), r.getLong(3)))
      .toMap
  }

  /** Tail state from the durable output dir as a replayed batch must
    * see it: assignments of STRICTLY EARLIER batches only (a replayed
    * batch's own `batch_id=` partition may already exist — counting
    * it would shift every replayed position, the crash-window bug
    * this filter closes). Empty on a fresh start; read errors over
    * existing data propagate ([[Ingest.durable]]). */
  private[graft] def recoverStateBefore(spark: SparkSession,
      outDir: String, batchId: Long,
      buckets: Long = Shards.ShardBuckets): Map[Long, GrainTail] =
    Ingest.durable(spark, outDir).fold(Map.empty[Long, GrainTail])(d =>
      recoverState(d.filter(col("batch_id") < batchId), buckets))

  /** One micro-batch of assignment: on the first batch (`state` empty)
    * check the knobs and recover the tails, then assign `batch`
    * `(doc_id, lang, n_tokens)`, write its `batch_id=` partition of
    * `outDir` and return the advanced tails. */
  private[streaming] def shardBatch(spark: SparkSession,
      state: Option[Map[Long, GrainTail]], batch: DataFrame, batchId: Long,
      outDir: String): Map[Long, GrainTail] = {
    if (state.isEmpty) checkOrWriteKnobs(spark, outDir)
    val (asn, st) = assignBatch(spark,
      state.getOrElse(recoverStateBefore(spark, outDir, batchId)), batch)
    Ingest.writeBatch(asn, batchId, outDir)
    st
  }

  /** Start the incremental shard-assignment stream over a landing
    * directory of curated-doc parquet batches; assignment rows
    * (+ batch_id) are written to `outDir`. */
  def incrementalShardLayout(spark: SparkSession, landingDir: String,
      outDir: String, maxFilesPerTrigger: Option[Int] = None,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    // recovery is deferred into the FIRST foreachBatch so the replay
    // filter can exclude the replayed batch's own durable partition
    var state: Option[Map[Long, GrainTail]] = None
    Ingest.start(spark, docSchema, landingDir, outDir, maxFilesPerTrigger,
        trigger) { (batch, batchId) =>
      state = Some(shardBatch(spark, state, batch, batchId, outDir))
    }
  }
}
