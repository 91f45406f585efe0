package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming over the `events` table — the streaming
  * capability gus declares but leaves `todo!()` (subscriptions,
  * `graphql.rs:353`), realized the Spark way (SURVEY §7.1 phase 2):
  * file source → event-time window aggregation with a watermark →
  * any sink.
  *
  * Scale posture: the same code runs against a Kafka source at
  * cluster scale (swap `readStream.parquet` for `readStream.format
  * ("kafka")`); state is bounded by the watermark, and the shuffle
  * key is (window, event_type).
  */
object EventsStream {

  /** events.parquet read schema with `ts` as `tsType` — the corpus
    * has shipped both TIMESTAMP(NANOS) (surfacing as raw-nanos
    * BIGINT under the legacy conf) and TIMESTAMP(MICROS) (surfacing
    * as timestamp_ntz), so the physical type is DETECTED per landing
    * directory, mirroring `Tables.load`'s batch-side seam. Consumers
    * never see either type: [[readStream]]/[[readBatch]] always emit
    * ts as epoch-NANOS BIGINT (the unit all graft operators and
    * oracles compute in). */
  def eventsSchema(tsType: DataType = TimestampNTZType): StructType =
    StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", tsType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))

  /** ts → epoch-nanos BIGINT (UTC session tz makes the ntz cast
    * instant-preserving; per-row codegen arithmetic, no shuffle). */
  private def normalize(df: DataFrame): DataFrame =
    df.withColumn("ts", expr("unix_micros(cast(ts as timestamp)) * 1000"))

  /** The physical type of `ts` in the landing files, read from one
    * parquet footer (a streaming source needs a declared schema, so
    * the batch-side inference closes the NANOS/MICROS seam here the
    * same way `Tables.load` does). An empty/absent landing dir falls
    * back to the MICROS shape — files landing later with a NANOS
    * physical type would then fail the scan loudly rather than
    * misread. */
  private def tsPhysicalType(spark: SparkSession, dir: String): DataType =
    try spark.read.parquet(dir).schema("ts").dataType
    catch { case _: Exception => TimestampNTZType }

  private def toNanos(df: DataFrame): DataFrame =
    if (df.schema("ts").dataType == LongType) df else normalize(df)

  /** The events file stream with ts in epoch nanos.
    * `maxFilesPerTrigger` is a READER option, threaded here so specs
    * can force cross-micro-batch state merging. */
  def readStream(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame =
    toNanos(Ingest.fileStream(spark,
      eventsSchema(tsPhysicalType(spark, dir)), dir, maxFilesPerTrigger))

  /** Batch twin of [[readStream]] (spec cross-checks read through
    * this so stream and batch agree on the ts unit). */
  def readBatch(spark: SparkSession, path: String): DataFrame =
    toNanos(spark.read
      .schema(eventsSchema(tsPhysicalType(spark, path))).parquet(path))

  /** Tumbling-window per-type counts/sums with a 1-hour watermark for
    * late data. Streaming twin of `Relational.q11EventsWindow`. */
  def windowedCounts(spark: SparkSession, dir: String,
      window_ : String = "1 hour", watermark: String = "1 hour"): DataFrame = {
    readStream(spark, dir)
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), window_), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("value_cents"))
  }

  /** Stream-stream join: purchases attributed to the same user's
    * preceding click within 30 minutes. Both sides carry watermarks
    * and the join condition bounds event time on both ends, so state
    * for unmatched rows is dropped once the watermark passes —
    * bounded-state streaming join, the Spark-native form of a CEP
    * "A followed by B" pattern. */
  def clickToPurchase(spark: SparkSession, dir: String): DataFrame = {
    def side(kind: String, tag: String): DataFrame =
      readStream(spark, dir)
        .filter(col("event_type") === kind)
        .select(col("user_id").as(s"user_$tag"),
          col("event_id").as(s"${tag}_id"),
          timestamp_micros(expr("ts div 1000")).as(s"${tag}_time"))
        .withWatermark(s"${tag}_time", "1 hour")
    side("click", "click").join(side("purchase", "purchase"),
      col("user_click") === col("user_purchase") &&
        col("purchase_time") >= col("click_time") &&
        col("purchase_time") <=
          col("click_time") + expr("INTERVAL 30 MINUTES"))
      .select(col("user_click").as("user_id"), col("click_id"),
        col("purchase_id"), col("click_time"), col("purchase_time"))
  }

  /** Streaming deduplication — the stream twin of dedup_exact: drop
    * repeated payloads by content hash while the event-time watermark
    * bounds the dedup state (an unbounded-state `dropDuplicates`
    * would OOM on an infinite stream; `dropDuplicatesWithinWatermark`
    * evicts hashes once they age past the watermark, which is the
    * only state contract that survives at ingest scale). */
  def dedupedEvents(spark: SparkSession, dir: String,
      watermark: String = "1 hour"): DataFrame = {
    readStream(spark, dir)
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      .withColumn("h",
        md5(concat_ws(":", col("user_id"), col("event_type"),
          round(col("value") * 100).cast("long"))))
      .withWatermark("event_time", watermark)
      .dropDuplicatesWithinWatermark("h")
      .select(col("event_id"), col("event_time"), col("h"))
  }

  /** The customer dimension projected to the enrichment key — shared
    * by [[enrichedSegmentCounts]] and its batch twin so stream and
    * batch join the identical relation. */
  private def segmentDim(spark: SparkSession, sfDir: String): DataFrame =
    graft.Tables.load(spark, sfDir, "customer")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))

  /** Stream-STATIC dimension enrichment — the canonical streaming-ETL
    * join the suite's stream-stream and foreachBatch shapes don't
    * cover: the event stream joined declaratively to a static
    * dimension table, then a watermarked tumbling-window aggregate
    * per enriched key. Spark executes the static side as a broadcast
    * hash join INSIDE each micro-batch: no join state, no watermark
    * interaction (only the stream side carries event time), and the
    * dimension is re-resolvable per batch — at cluster scale this is
    * events-from-Kafka ⋈ dim-from-warehouse with the dim refreshed
    * by the next deploy, the enrichment pattern every training-data
    * ingest runs before quality gates see a row. */
  def enrichedSegmentCounts(spark: SparkSession, dir: String,
      sfDir: String, window_ : String = "1 hour",
      watermark: String = "1 hour"): DataFrame = {
    readStream(spark, dir)
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      .withWatermark("event_time", watermark)
      .join(broadcast(segmentDim(spark, sfDir)), "user_id")
      .groupBy(window(col("event_time"), window_), col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .select(col("window.start").as("window_start"),
        col("c_mktsegment"), col("n_events"), col("value_cents"))
  }

  /** Batch twin of [[enrichedSegmentCounts]] — the equality gate. */
  def enrichedSegmentCountsBatch(spark: SparkSession, dir: String,
      sfDir: String, window_ : String = "1 hour"): DataFrame = {
    readBatch(spark, dir)
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      .join(broadcast(segmentDim(spark, sfDir)), "user_id")
      .groupBy(window(col("event_time"), window_), col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .select(col("window.start").as("window_start"),
        col("c_mktsegment"), col("n_events"), col("value_cents"))
  }
}
