package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Continuous quantile monitoring over a landing directory of
  * document batches — the streaming twin of q100's mergeable
  * log₂-histogram sketch (DDSketch at γ = 2, Masson et al. 2019).
  * The batch query calibrates the sketch against the exact
  * percentile; the stream drops the exact arm (a stream cannot hold
  * per-value state) and keeps the part that merges: bit-length
  * buckets whose counts add, ≤ 64 rows of streaming state forever,
  * no watermark, `complete` output IS the sketch.
  *
  * The mergeable-summary contract (the StreamSketch/StreamDrift
  * pattern): [[log2Hist]] is ONE declarative aggregation that runs
  * unchanged over a batch DataFrame or the file stream, so
  * stream ≡ batch is a testable identity (StreamQuantileSpec), and
  * any monitoring cadence — per micro-batch, per hour, on demand —
  * reads the same ≤64-row table.
  *
  * [[quantiles]] is the q100 rank rule on the folded histogram:
  * for each q the first bucket whose cumulative count reaches
  * ⌈q·n/100⌉, reported as the [2^(b−1), 2^b−1] enclosure — the
  * guaranteed relative-error-≤2 answer a dashboard needs, computed
  * driver-side over ≤64 rows (the one place a collect is the right
  * plan, the StreamDrift.drift argument). */
object StreamQuantile {

  /** Fixed histogram width — the streaming state bound (bit-length
    * of a BIGINT never exceeds 64). */
  val QuantBuckets = 64

  /** Percentiles reported by [[quantiles]] (integer percents) —
    * q100's ladder. */
  val StreamQs: Seq[Int] = Seq(50, 90, 99)

  /** Bit-length-bucketed histogram of doc lengths: (bucket, n) with
    * bucket = bit-length of max(n_chars, 1) — q100's γ=2 DDSketch
    * mapping. Batch and streaming frames alike (groupBy-count is a
    * streaming aggregation with ≤ [[QuantBuckets]]-row state). */
  def log2Hist(docs: DataFrame): DataFrame =
    docs.select(length(bin(greatest(col("n_chars"), lit(1L))))
        .cast("long").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"))

  /** The live histogram over doc batches landing in `landingDir`
    * (schema = documents.parquet); callers pick sink/trigger/output
    * mode (`complete`). `maxFilesPerTrigger` threaded so specs can
    * force cross-micro-batch state merging. */
  def histStream(spark: SparkSession, landingDir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame =
    log2Hist(Ingest.fileStream(spark, DocIngest.docSchema, landingDir,
      maxFilesPerTrigger))

  /** Exact q100 rank rule over a folded histogram: for each q_pct in
    * `qs`, (q_pct, n, bucket, lo, hi) — the first bucket whose
    * cumulative count reaches ⌈q·n/100⌉ and its power-of-two value
    * enclosure. Empty histogram → empty result (a monitor with no
    * data has no quantiles, not a zero one). */
  def quantiles(hist: Seq[(Long, Long)],
      qs: Seq[Int] = StreamQs): Seq[(Int, Long, Long, Long, Long)] = {
    for ((b, _) <- hist.iterator)
      require(b >= 1 && b <= QuantBuckets,
        s"histogram bucket $b outside [1, $QuantBuckets]")
    val n = hist.map(_._2).sum
    if (n == 0L) return Seq.empty
    val sorted = hist.sortBy(_._1)
    qs.map { q =>
      val rank = (n * q + 99) / 100
      var cum = 0L
      val b = sorted.collectFirst {
        case (bb, cnt) if { cum += cnt; cum >= rank } => bb
      }.get
      (q, n, b, 1L << (b - 1), (1L << b) - 1)
    }
  }
}
