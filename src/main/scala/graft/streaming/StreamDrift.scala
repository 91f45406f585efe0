package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Continuous distribution-drift monitoring over a landing directory
  * of document batches — the streaming twin of q119's exact KS
  * machinery, restructured for unbounded input: a stream cannot hold
  * per-distinct-value state, so the live distribution accumulates
  * into a FIXED [[DriftBuckets]]-bucket histogram over a range
  * declared up front (taken from the reference corpus — exactly how
  * a production monitor works: the reference histogram is computed
  * batch-side once, the live histogram is a streaming aggregation,
  * and the drift statistic folds the two ≤64-row tables).
  *
  * The mergeable-summary contract (the StreamSketch pattern):
  * [[lengthHist]] is ONE declarative aggregation that runs unchanged
  * over a batch DataFrame (the reference) or the file stream (the
  * live side). Streaming state is the bucket rows themselves — ≤
  * [[DriftBuckets]] no matter how long the stream runs, no watermark
  * needed, `complete` output IS the histogram.
  *
  * [[drift]] is exact integer arithmetic on the two histograms:
  * KS = max |cdfLive·nRef − cdfRef·nLive| · 10⁶ div (nLive·nRef) and
  * the L1 (total-variation ×2) distance in ppm — both driver-side
  * folds over ≤64 rows, the one place a collect is the right plan. */
object StreamDrift {

  /** Fixed histogram width — the streaming state bound. */
  val DriftBuckets = 64

  /** Bucketed doc-length histogram: (bucket, n) with bucket =
    * clamp((n_chars − lo)·B div (hi − lo), 0, B−1). Works on batch
    * and streaming frames alike (groupBy-count is a streaming
    * aggregation with bucket-count state). */
  def lengthHist(docs: DataFrame, lo: Long, hi: Long): DataFrame = {
    require(hi > lo, s"empty histogram range [$lo, $hi)")
    docs.select(expr(
        s"least(greatest((n_chars - $lo) * $DriftBuckets" +
          s" div (${hi - lo}), 0), ${DriftBuckets - 1})").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"))
  }

  /** The live histogram over doc batches landing in `landingDir`
    * (schema = documents.parquet). Returns the unstarted streaming
    * DataFrame of (bucket, n); callers pick sink/trigger/output mode
    * (`complete` — the result IS the ≤ [[DriftBuckets]]-row
    * histogram). `maxFilesPerTrigger` is a READER option, threaded
    * here so specs can force cross-micro-batch state merging. */
  def histStream(spark: SparkSession, landingDir: String, lo: Long,
      hi: Long, maxFilesPerTrigger: Option[Int] = None): DataFrame =
    lengthHist(Ingest.fileStream(spark, DocIngest.docSchema, landingDir,
      maxFilesPerTrigger), lo, hi)

  /** Exact drift statistics between two bucket histograms (any
    * subset of 0..B−1 present): (ks_ppm, l1_ppm). Pure integer — KS
    * over the bucket-level CDFs, L1 = Σ|share diff|; both scaled by
    * 10⁶. Empty sides return (0, 0) rather than dividing by zero. */
  def drift(live: Seq[(Long, Long)], ref: Seq[(Long, Long)])
      : (Long, Long) = {
    // the totals below sum ALL entries but the CDF fold only visits
    // buckets 0..B−1 — an out-of-range bucket id would silently skew
    // ks/l1 (the final CDF never reaches 1), so reject it loudly
    for ((b, _) <- live.iterator ++ ref.iterator)
      require(b >= 0 && b < DriftBuckets,
        s"histogram bucket $b outside [0, $DriftBuckets)")
    val lm = live.toMap.withDefaultValue(0L)
    val rm = ref.toMap.withDefaultValue(0L)
    val nl = live.map(_._2).sum
    val nr = ref.map(_._2).sum
    if (nl == 0L || nr == 0L) return (0L, 0L)
    var cl = 0L; var cr = 0L; var ks = BigInt(0); var l1 = BigInt(0)
    (0L until DriftBuckets.toLong).foreach { b =>
      cl += lm(b); cr += rm(b)
      val d = (BigInt(cl) * nr - BigInt(cr) * nl).abs
      if (d > ks) ks = d
      l1 += (BigInt(lm(b)) * nr - BigInt(rm(b)) * nl).abs
    }
    val den = BigInt(nl) * nr
    ((ks * 1000000 / den).toLong, (l1 * 1000000 / den).toLong)
  }
}
