package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Dedup

/** Streaming ingest twin of q177 (`Dedup.q177ParaDedup`) — paragraph
  * dedup at ingest: documents land in batches, each batch's
  * 16-token paragraph chunks are checked exact-first then banded
  * against the evolving PARAGRAPH index, and every paragraph gets a
  * durable verdict row `(doc_id, pidx, pid, status ∈
  * {kept, exact, near}, partner_pid, batch_id)` from which the
  * deduplicated document text can be rebuilt.
  *
  * Contract with the batch operator (ParaIngestSpec cross-gates
  * doc-grain rollups incl. the rebuilt-text bytes): fed in doc_id
  * order — q177's own keep-first key order, since pid =
  * doc_id·2¹⁶ + pidx — the stream's final kept set is BIT-IDENTICAL
  * to batch `q177ParaDedup` over the same corpus, however the
  * stream is cut into batches. Fed in arbitrary arrival order the
  * keep-first winner becomes first-ARRIVAL (the ShardIngest trade:
  * an incremental assigner cannot re-sort history) but the
  * conservation properties hold: every paragraph exactly one
  * verdict, a dropped paragraph always names a surviving-or-earlier
  * partner with matching evidence.
  *
  * Two stages per batch, mirroring q177's stage ORDER (exact
  * election BEFORE banding, which is what keeps LSH buckets tracking
  * distinct variants at corpus scale):
  *
  *  1. EXACT: md5(chunk) probes the durable hash index (h → first
  *     pid) and the batch's own h-min; strictly-smaller keeper ⇒
  *     `exact` drop. Strict `<` makes replay idempotent: a replayed
  *     batch's own seeded entry has keep = pid and never drops its
  *     origin.
  *  2. NEAR: exact survivors probe the near [[MinHashIndex]] (the
  *     [[DocIngest]] verdict core) at paragraph grain with
  *     `strictOrder = true`. The near index
  *     deliberately holds ALL prior exact survivors — kept AND
  *     near-dropped — because q177's drop rule compares each pid
  *     against every smaller-pid exact survivor, not only accepted
  *     ones (a doc-grain index keeps accepted only; the difference
  *     is the batch operator's global-pair semantics).
  *
  * Restart: the [[Ingest]] recipe at paragraph grain. The durable
  * verdicts name every processed doc, whose paragraphs are re-derived
  * from the landing files: the exact index is min(pid) per hash over
  * ALL of them, the near index the signatures of the ones not
  * exact-dropped.
  *
  * Scale posture: per batch — map-side chunking (ids + 16-token
  * strings), one hash-keyed anti-join probe of the exact index, the
  * band equi-join probing only the batch's buckets, O(batch)
  * appends to both indexes (the exact index appends only NEW
  * hashes — no per-batch re-aggregation of history), and
  * localCheckpoint-truncated lineage. At 100 TB both indexes live
  * in storage keyed by hash/band; same plan below the probes. */
object ParaIngest {

  /** Start the paragraph-dedup ingest stream over a landing
    * directory of document parquet batches (the [[DocIngest]]
    * schema); verdict rows are written to `outDir`. */
  def incrementalParaDedup(spark: SparkSession, landingDir: String,
      outDir: String, maxFilesPerTrigger: Option[Int] = None,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    import spark.implicits._
    val prior = Ingest.durable(spark, outDir)
    val paras = Dedup.paragraphsOf(prior.fold(
        Seq.empty[(Long, String)].toDF("doc_id", "text")) { v =>
      spark.read.schema(DocIngest.docSchema).parquet(landingDir)
        .join(v.select(col("doc_id")).distinct(), "doc_id")
        .select(col("doc_id"), col("text"))
    })
    var exIdx = paras.select(col("pid"), md5(col("ptext")).as("h"))
      .groupBy(col("h")).agg(min(col("pid")).as("keep"))
      .localCheckpoint(true)
    val surv = prior.fold(paras)(v => paras.join(
      v.filter(col("status") =!= "exact").select(col("pid")),
      Seq("pid"), "left_semi"))
    var nearIdx = MinHashIndex.of(
      surv.select(col("pid").as("doc_id"), col("ptext").as("text")))

    Ingest.start(spark, DocIngest.docSchema, landingDir, outDir,
        maxFilesPerTrigger, trigger) { (batch, batchId) =>
      val withH = Dedup.paragraphsOf(
          batch.select(col("doc_id"), col("text")))
        .withColumn("h", md5(col("ptext")))
        .localCheckpoint(true)
      val bmin = withH.groupBy(col("h")).agg(min(col("pid")).as("bmin"))
      val exMarked = withH
        .join(bmin, "h")
        .join(exIdx, Seq("h"), "left")
        .withColumn("ex_drop",
          (col("keep").isNotNull && col("keep") < col("pid")) ||
            col("bmin") < col("pid"))
        .localCheckpoint(true)
      val (near, sigs) = nearIdx.probe(exMarked.filter(!col("ex_drop"))
          .select(col("pid").as("doc_id"), col("ptext").as("text")),
        strictOrder = true)
      val verdicts = exMarked
        .join(near.select(col("doc_id").as("pid"), col("dup_of")),
          Seq("pid"), "left")
        .select(col("doc_id"), col("pidx"), col("pid"),
          when(col("ex_drop"), lit("exact"))
            .when(col("dup_of") =!= -1L, lit("near"))
            .otherwise(lit("kept")).as("status"),
          when(col("ex_drop"), least(col("keep"), col("bmin")))
            .when(col("dup_of") =!= -1L, col("dup_of"))
            .otherwise(lit(-1L)).as("partner_pid"))
      Ingest.writeBatch(verdicts, batchId, outDir)
      // advance: exact index appends only hashes it has never
      // seen (their in-batch min pid is the durable keeper); the
      // near index appends ALL batch exact survivors — see the
      // object scaladoc for why near-dropped ones stay in
      exIdx = exIdx.unionByName(
          bmin.join(exIdx, Seq("h"), "left_anti")
            .select(col("h"), col("bmin").as("keep")))
        .localCheckpoint(true)
      nearIdx = nearIdx.append(sigs)
    }
  }
}
