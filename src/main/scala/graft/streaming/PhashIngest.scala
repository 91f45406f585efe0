package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.operators.Multimodal

/** Streaming ingest twin of mm_phash_dedup — [[DocIngest]]'s
  * dedup-at-ingest shape carried to the image modality: a landing
  * directory of (img_id, payload) batches is continuously decoded,
  * average-hashed, and checked against the perceptual-hash index of
  * everything accepted so far. Yesterday's images are never
  * re-paired; each micro-batch pays only its own decode plus a
  * banded equi-join probing the batch's 16-bit hash bands
  * (index×index pairs are structurally excluded — the new side of
  * the join is always the batch).
  *
  * Verdict rule mirrors `Dedup.incrementalVerdicts`: a new image's
  * candidate partners are the index PLUS smaller-id images of the
  * same batch; candidates within Hamming ≤ [[Multimodal.PhashMaxHam]]
  * make it a duplicate (`dup_of` = smallest matching partner id,
  * −1 = accepted). Only ACCEPTED images join the index, so a later
  * duplicate of a rejected image is charged to the rejected image's
  * own canonical, not to the reject.
  *
  * Restart: the [[Ingest]] recipe. The index is reseeded from the
  * corpus plus the landing files of every image the durable verdicts
  * accepted, re-hashed.
  *
  * Scale posture: per-batch cost is O(|batch|) decode+hash plus a
  * band join touching only the batch's buckets; only 8-byte hashes
  * ride any shuffle (payloads stay partition-local in the decode
  * kernel); the index is localCheckpoint-truncated per batch so
  * lineage never grows with batch count. At 100 TB the index is a
  * band-bucketed storage artifact; the plan below the band join is
  * identical.
  */
object PhashIngest {

  /** Landing-file schema (file stream sources must declare schemas
    * up front). */
  val imgSchema: StructType = StructType(Seq(
    StructField("img_id", LongType),
    StructField("payload", BinaryType)))

  /** One micro-batch's verdicts: `batch` images against the `idx`
    * index plus smaller-id batch images. Both inputs are
    * (img_id, phash). */
  private[streaming] def phashVerdicts(idx: DataFrame,
      batch: DataFrame): DataFrame = {
    val all = idx.select(col("img_id"), col("phash"),
        lit(false).as("is_new"))
      .unionByName(batch.select(col("img_id"), col("phash"),
        lit(true).as("is_new")))
    val bands = Multimodal.phashBands(all)
    val newB = bands.filter(col("is_new"))
      .select(col("img_id").as("new_id"), col("phash").as("nh"),
        col("band"), col("bv"))
    val partB = bands.select(col("img_id").as("partner_id"),
      col("phash").as("ph"), col("is_new").as("p_new"),
      col("band"), col("bv"))
    val cand = newB.join(partB, Seq("band", "bv"))
      .filter(col("partner_id") =!= col("new_id"))
      .filter(!col("p_new") || col("partner_id") < col("new_id"))
      .select(col("new_id"), col("nh"), col("partner_id"), col("ph"))
      .distinct()
    val matched = cand
      .withColumn("hamming", expr("CAST(bit_count(nh ^ ph) AS BIGINT)"))
      .filter(col("hamming") <= Multimodal.PhashMaxHam)
      .groupBy(col("new_id"))
      .agg(min(col("partner_id")).as("dup_of"),
        count(lit(1)).as("n_matches"))
    batch.select(col("img_id"))
      .join(matched, col("img_id") === col("new_id"), "left")
      .select(col("img_id"),
        coalesce(col("dup_of"), lit(-1L)).as("dup_of"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"))
      .orderBy(col("img_id"))
  }

  /** Start the phash ingest-dedup stream: verdict rows
    * `(img_id, dup_of, n_matches, batch_id)` are written to
    * `outDir` as parquet; `corpus` is the already-ingested
    * (img_id, payload) set seeding the index. */
  def incrementalPhashDedup(spark: SparkSession, corpus: DataFrame,
      landingDir: String, outDir: String,
      maxFilesPerTrigger: Option[Int] = None,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    var idx = Multimodal.phashOf(Ingest.withAccepted(spark, corpus,
        spark.read.schema(imgSchema).parquet(landingDir), outDir, "img_id"))
      .localCheckpoint(true)
    Ingest.start(spark, imgSchema, landingDir, outDir, maxFilesPerTrigger,
        trigger) { (batch, batchId) =>
      val bh = Multimodal.phashOf(
        batch.select(col("img_id"), col("payload"))).localCheckpoint(true)
      val verdicts = phashVerdicts(idx, bh).localCheckpoint(true)
      Ingest.writeBatch(verdicts, batchId, outDir)
      val accepted = verdicts.filter(col("dup_of") === -1L)
        .select(col("img_id"))
      idx = idx.unionByName(bh.join(accepted, "img_id"))
        .localCheckpoint(true)
    }
  }
}
