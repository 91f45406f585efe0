package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Sketch

/** Continuous Count-Min-Sketch over a landing directory of document
  * batches — the streaming twin of q91's sketch build, and the
  * clearest showcase of the mergeable-summary contract as a Spark
  * plan: [[Sketch.tokenSketch]] is ONE declarative aggregation that
  * runs unchanged over a batch DataFrame or this file stream. As a
  * streaming aggregation its state is the counter groups themselves
  * — at most d×W rows no matter how long the stream runs, so no
  * watermark is needed and `complete` output mode is cheap by
  * construction (the whole "result table" is the sketch).
  *
  * Production shape at scale: each micro-batch's partial counts
  * merge into the state store by the same associative sum that
  * merges per-partition sketches in the batch plan; emitting the
  * d×W table per trigger gives downstream consumers a
  * monotonically-converging frequency summary of everything ingested
  * so far. */
object StreamSketch {

  /** The streaming sketch over doc batches landing in `landingDir`
    * (schema = documents.parquet). Returns the unstarted streaming
    * DataFrame of (r, b, c); callers pick sink/trigger/output mode
    * (`complete` — the result IS the ≤ d×W-row sketch).
    * `maxFilesPerTrigger` bounds each micro-batch's file count — a
    * READER option (it is ignored on writeStream, which is why the
    * spec threads it here: cross-micro-batch state merging is only
    * exercised when the files genuinely arrive in separate
    * triggers). */
  def cmsStream(spark: SparkSession, landingDir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame =
    Sketch.tokenSketch(Ingest.fileStream(spark, DocIngest.docSchema,
      landingDir, maxFilesPerTrigger))

  /** The streaming HyperLogLog over the same landing directory — the
    * q94 register table as a continuous query: ≤ 256 rows of state
    * (register maxes merge by max across micro-batches), `complete`
    * output is the whole sketch, and the distinct-count estimate of
    * everything ingested so far is one [[Sketch]]-arithmetic fold
    * over the emitted table. */
  def hllStream(spark: SparkSession, landingDir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame =
    Sketch.tokenHll(Ingest.fileStream(spark, DocIngest.docSchema,
      landingDir, maxFilesPerTrigger))
}
