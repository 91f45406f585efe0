package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Streaming ingest twin of q71 (`Dedup.q71IncrementalDedup`): a
  * landing directory of document batches is continuously checked
  * against the corpus's stored MinHash index — the production shape
  * of dedup-at-ingest, where yesterday's corpus is never re-paired.
  *
  * Each micro-batch runs the SAME verdict core as the oracle-gated
  * batch query (`Dedup.incrementalVerdicts`, through [[MinHashIndex]]):
  * candidate pairs are (batch × index-bucket) and
  * (batch × earlier-batch-doc), verified by exact shingle Jaccard.
  * Docs that survive (`dup_of = -1`) have their band digests and
  * shingle sets APPENDED to the index, so a later batch duplicating an
  * accepted doc is flagged against it.
  *
  * Restart: the [[Ingest]] recipe. The index is reseeded from the
  * corpus plus the landing rows of every doc the durable verdicts
  * accepted, so docs accepted before a restart still veto their later
  * duplicates.
  *
  * Scale posture: per-batch cost is O(|batch|) signature computation
  * plus a band equi-join probing only the batch's buckets. At 100 TB
  * the index lives in storage (bucketed by band) rather than executor
  * memory — the restart rebuild becomes a plain read of that artifact
  * — and the append is a partitioned write; same plan below the band
  * join either way.
  */
object DocIngest {

  /** documents.parquet physical schema (file stream sources must
    * declare their schema up front). */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** The verdict index after a restart: `corpus` plus the landing docs
    * the durable verdicts of `outDir` accepted. */
  private[streaming] def seedIndex(spark: SparkSession, corpus: DataFrame,
      landingDir: String, outDir: String): MinHashIndex =
    MinHashIndex.of(Ingest.withAccepted(spark,
      corpus.select(col("doc_id"), col("text")),
      spark.read.schema(docSchema).parquet(landingDir), outDir, "doc_id"))

  /** One micro-batch of dedup: writes the verdicts of `batch`'s
    * `(doc_id, text)` to its `batch_id=` partition of `outDir` and
    * returns the accepted ids and the index with their signatures
    * appended. */
  private[streaming] def dedupBatch(idx: MinHashIndex, batch: DataFrame,
      batchId: Long, outDir: String): (DataFrame, MinHashIndex) = {
    val (v, sigs) = idx.probe(batch.select(col("doc_id"), col("text")))
    val verdicts = v.localCheckpoint(true)
    Ingest.writeBatch(verdicts, batchId, outDir)
    val accepted = verdicts.filter(col("dup_of") === -1L)
      .select(col("doc_id"))
    (accepted, idx.append(sigs.only(accepted)))
  }

  /** Start the ingest-dedup stream: verdict rows
    * `(doc_id, dup_of, n_matches, batch_id)` are written to `outDir`
    * as parquet. The spec uses `maxFilesPerTrigger = 1` to force
    * cross-batch index evolution. */
  def incrementalDedup(spark: SparkSession, corpus: DataFrame,
      landingDir: String, outDir: String,
      maxFilesPerTrigger: Option[Int] = None,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    var idx = seedIndex(spark, corpus, landingDir, outDir)
    Ingest.start(spark, docSchema, landingDir, outDir, maxFilesPerTrigger,
        trigger) { (batch, batchId) =>
      idx = dedupBatch(idx, batch, batchId, outDir)._2
    }
  }
}
