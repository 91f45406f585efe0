package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.operators.Dedup

/** The restart and idempotence recipe every ingest twin
  * ([[DocIngest]], [[PhashIngest]], [[ParaIngest]], [[CurationIngest]],
  * [[ShardIngest]]) runs, kept in one place.
  *
  * A twin reads a landing directory of parquet files as a file
  * stream ([[fileStream]], which every other streaming twin reads
  * through too) and writes one durable output directory, partitioned by
  * `batch_id`. Its stream checkpoint lives under `outDir/_checkpoint`
  * (underscore-prefixed, so batch reads of `outDir` skip it).
  *
  * Exactly-once needs two halves:
  *  - Writes are IDEMPOTENT. Each micro-batch overwrites its own
  *    `batch_id=` partition (dynamic partition overwrite), so a batch
  *    retried after a crash between "write output" and "commit
  *    offset" replaces its rows instead of duplicating them.
  *  - In-memory state is REBUILT from what is durable. The landing
  *    files stay (the file source never deletes), so a twin re-derives
  *    its index or tails from them and its durable rows; re-deriving
  *    is deterministic, so a replayed batch reaches the rows it wrote
  *    before the crash.
  *
  * The rebuild starts from [[durable]]: a missing output directory,
  * or one with no `batch_id=` partition yet, is a fresh start. Any
  * other read failure (corrupt footer, permissions, a transient file
  * system error) propagates. Treating it as fresh would silently
  * reset the state, and later batches would stop being checked
  * against rows that were already accepted. */
private[streaming] object Ingest {

  /** The durable rows of `outDir`, or `None` on a fresh start (see
    * the object scaladoc). */
  def durable(spark: SparkSession, outDir: String): Option[DataFrame] = {
    val path = new Path(outDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasBatches = fs.exists(path) && fs.listStatus(path)
      .exists(_.getPath.getName.startsWith("batch_id="))
    if (hasBatches) Some(spark.read.parquet(outDir)) else None
  }

  /** `base` plus the `landing` rows whose `id` the durable verdicts of
    * `outDir` accepted (`dup_of = -1`), in `base`'s columns: the index
    * seed of a twin whose index holds accepted rows only. A replayed
    * batch's own accepted rows are seeded too, which is harmless: a
    * verdict's candidates are distinct pairs without self-pairs, so a
    * row seeded twice changes no verdict. */
  def withAccepted(spark: SparkSession, base: DataFrame,
      landing: DataFrame, outDir: String, id: String): DataFrame =
    durable(spark, outDir).fold(base) { v =>
      val acc = v.filter(col("dup_of") === -1L).select(col(id))
      base.unionByName(
        landing.join(acc, id).select(base.columns.toSeq.map(col): _*))
    }

  /** Overwrite `rows`' own `batch_id=batchId` partition of `outDir`. */
  def writeBatch(rows: DataFrame, batchId: Long, outDir: String): Unit =
    rows.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(outDir)

  /** The unstarted file stream over `landingDir` (parquet, `schema`),
    * the reader of every streaming twin. `maxFilesPerTrigger` bounds
    * micro-batch size: ingest latency against per-batch overhead
    * (specs set it to force state across micro-batches). */
  def fileStream(spark: SparkSession, schema: StructType,
      landingDir: String, maxFilesPerTrigger: Option[Int]): DataFrame = {
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.parquet(landingDir)
  }

  /** Start [[fileStream]] over `landingDir` and run `body` on every
    * micro-batch with its batch id. */
  def start(spark: SparkSession, schema: StructType, landingDir: String,
      outDir: String, maxFilesPerTrigger: Option[Int], trigger: Trigger)(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    fileStream(spark, schema, landingDir, maxFilesPerTrigger)
      .writeStream
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .trigger(trigger)
      .foreachBatch(body)
      .start()
}

/** A MinHash index over `(doc_id, text)` rows: the band digests
  * `(doc_id, band)` and shingle sets `(doc_id, sh)` of
  * `Dedup.indexOf`, each localCheckpoint-truncated so lineage never
  * grows with batch count (the in-session stand-in for a stored,
  * band-bucketed index artifact). */
private[streaming] final case class MinHashIndex(bands: DataFrame,
    shs: DataFrame) {

  /** One batch's verdicts `(doc_id, dup_of, n_matches)` from
    * `Dedup.incrementalVerdicts` against this index plus the batch's
    * smaller-id docs, and the batch's own signatures for [[append]]. */
  def probe(batch: DataFrame, strictOrder: Boolean = false)
      : (DataFrame, MinHashIndex) = {
    val sigs = MinHashIndex.of(batch)
    def tagged(idx: DataFrame, b: DataFrame) =
      idx.withColumn("is_new", lit(false))
        .unionByName(b.withColumn("is_new", lit(true)))
    (Dedup.incrementalVerdicts(tagged(bands, sigs.bands),
      tagged(shs, sigs.shs), strictOrder), sigs)
  }

  /** The signatures of the docs whose `doc_id` is in `ids`. */
  def only(ids: DataFrame): MinHashIndex =
    MinHashIndex(bands.join(ids, "doc_id"), shs.join(ids, "doc_id"))

  /** This index with `sigs` appended. */
  def append(sigs: MinHashIndex): MinHashIndex =
    MinHashIndex(bands.unionByName(sigs.bands).localCheckpoint(true),
      shs.unionByName(sigs.shs).localCheckpoint(true))
}

private[streaming] object MinHashIndex {
  /** The index of `docs` `(doc_id, text)`: the seed, or a batch's
    * signatures. */
  def of(docs: DataFrame): MinHashIndex = {
    val (b, s) = Dedup.indexOf(docs)
    MinHashIndex(b.localCheckpoint(true), s.localCheckpoint(true))
  }
}
