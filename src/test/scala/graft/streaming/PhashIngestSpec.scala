package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.operators.Multimodal

/** The streaming phash ingest must reproduce the closed-form verdict
  * fold over [[Multimodal.phashHashesClosedForm]] (the independent
  * no-PNG arithmetic path the mm_phash_dedup oracle uses), and the
  * index must evolve with ACCEPTED images only. */
class PhashIngestSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  private val hashes: Map[Long, Long] =
    Multimodal.phashHashesClosedForm.toMap

  private def ham(a: Long, b: Long): Int =
    java.lang.Long.bitCount(hashes(a) ^ hashes(b))

  private def bandsMatch(a: Long, b: Long): Boolean =
    (0 until Multimodal.PhashBands).exists { j =>
      ((hashes(a) >>> (16 * j)) & 0xffffL) ==
        ((hashes(b) >>> (16 * j)) & 0xffffL)
    }

  private def payloadDf(ids: Seq[Long]) = {
    import spark.implicits._
    val byId = Multimodal.PhashImgs.map { case (id, seed, v) =>
      id -> Multimodal.phashPngBytes(seed, v)
    }.toMap
    ids.map(id => (id, byId(id))).toDF("img_id", "payload")
  }

  private def verdictSet(dir: String): Set[(Long, Long, Long)] =
    spark.read.parquet(dir)
      .select(col("img_id"), col("dup_of"), col("n_matches"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("single-batch ingest equals the closed-form verdict fold") {
    val ids = Multimodal.PhashImgs.map(_._1)
    // replica of the verdict rule: partners = smaller-id batch images
    // (index is empty), banded candidates, Hamming <= PhashMaxHam
    val expected = ids.map { i =>
      val ms = ids.filter(j => j < i && bandsMatch(i, j) &&
        ham(i, j) <= Multimodal.PhashMaxHam)
      if (ms.isEmpty) (i, -1L, 0L) else (i, ms.min, ms.size.toLong)
    }.toSet
    assert(expected.exists(_._2 >= 0L), "fixture must plant dups")
    val landing = Files.createTempDirectory("phash-landing").toString
    val out = Files.createTempDirectory("phash-verdicts").toString
    payloadDf(ids).coalesce(1).write.mode("overwrite").parquet(landing)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      PhashIngest.imgSchema)
    val q = PhashIngest.incrementalPhashDedup(spark, empty, landing, out)
    q.awaitTermination(120000)
    assert(verdictSet(out) == expected)
  }

  test("rejected images never join the index; accepted ones do") {
    // phash corpus: ham(1,2)=edit distance <= PhashMaxHam, 3 is a
    // pixel-exact re-encode of 1 (ham(1,3)=0); 8 is unrelated
    assert(ham(1, 2) <= Multimodal.PhashMaxHam && ham(1, 3) == 0)
    val landing = Files.createTempDirectory("phash-landing2").toString
    val out = Files.createTempDirectory("phash-verdicts2").toString
    payloadDf(Seq(1L)).coalesce(1)
      .write.mode("overwrite").parquet(s"$landing/b1")
    Thread.sleep(1200) // distinct mtimes => deterministic file order
    payloadDf(Seq(2L)).coalesce(1)
      .write.mode("overwrite").parquet(s"$landing/b2")
    Thread.sleep(1200)
    payloadDf(Seq(3L, 8L)).coalesce(1)
      .write.mode("overwrite").parquet(s"$landing/b3")
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      PhashIngest.imgSchema)
    val q = PhashIngest.incrementalPhashDedup(spark, empty,
      s"$landing/*", out, maxFilesPerTrigger = Some(1))
    q.awaitTermination(120000)
    val got = verdictSet(out)
    // img 3 matches ONLY index member 1 (n_matches 1): rejected 2 —
    // also within Hamming 4 of 3 — must not be in the index
    assert(got == Set(
      (1L, -1L, 0L),  // novel, accepted
      (2L, 1L, 1L),   // dup of 1 via the index
      (3L, 1L, 1L),   // dup of 1 only — rejected 2 never indexed
      (8L, -1L, 0L)), // unrelated, accepted
      s"unexpected verdicts: $got")
  }

  test("restart rebuilds the index: images accepted before a restart " +
      "still veto their later duplicates") {
    // 3 is a pixel-exact re-encode of 1 (ham(1,3)=0); 8 is unrelated
    assert(ham(1, 3) == 0)
    val landing = Files.createTempDirectory("phash-landing3").toString
    val out = Files.createTempDirectory("phash-verdicts3").toString
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      PhashIngest.imgSchema)
    // run 1: image 1 is accepted, then the stream STOPS (process death)
    payloadDf(Seq(1L)).coalesce(1)
      .write.mode("overwrite").parquet(s"$landing/b1")
    PhashIngest.incrementalPhashDedup(spark, empty, s"$landing/*", out)
      .awaitTermination(120000)
    Thread.sleep(1200) // distinct mtimes => deterministic file order
    // run 2: a FRESH stream over the same checkpoint sees only b2;
    // image 3 duplicates the image accepted in run 1, which is absent
    // from this process's memory — only the rebuilt index can flag it
    payloadDf(Seq(3L, 8L)).coalesce(1)
      .write.mode("overwrite").parquet(s"$landing/b2")
    PhashIngest.incrementalPhashDedup(spark, empty, s"$landing/*", out)
      .awaitTermination(120000)
    val got = verdictSet(out)
    assert(got == Set(
      (1L, -1L, 0L),  // accepted in run 1, written exactly once
      (3L, 1L, 1L),   // flagged against the pre-restart accepted image
      (8L, -1L, 0L)), // unrelated, accepted
      s"unexpected verdicts after restart: $got")
  }
}
