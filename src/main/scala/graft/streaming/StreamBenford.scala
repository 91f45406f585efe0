package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Live Benford first-digit monitoring over an orders landing
  * directory — the streaming twin of q115
  * ([[graft.operators.Quality.q115Benford]]): the classic
  * fabricated-amounts screen, watched as order batches land instead
  * of at audit time (a fraud injection shifts the leading-digit
  * profile within its first micro-batch).
  *
  * The mergeable-summary contract (the StreamSrm/StreamSeasonality
  * pattern): [[digitCounts]] is ONE declarative aggregation that
  * runs unchanged over a batch orders frame or the file stream —
  * state is AT MOST nine counter rows forever, and `complete` output
  * IS the digit histogram. The leading digit is taken TEXTUALLY from
  * the exact BIGINT cents (the q115 rule: no float log10 anywhere,
  * so stream, batch and the DuckDB oracle agree bit-for-bit).
  *
  * [[report]] is the exact q115 fold over that table (observed ppm
  * by truncating division, the nine round(log10(1+1/d)·10⁶)
  * constants that sum to exactly 10⁶, signed deviation) — BigInt so
  * the ×10⁶ products cannot wrap; BenfordStreamSpec CROSS-GATES it
  * against the audited batch q115 query itself on the same corpus. */
object StreamBenford {

  /** round(log10(1 + 1/d)·10⁶) for d = 1..9 — shared shape with the
    * batch query's SQL CASE; the nine sum to exactly 1,000,000. */
  val ExpPpm: Map[Long, Long] = Map(
    1L -> 301030L, 2L -> 176091L, 3L -> 124939L, 4L -> 96910L,
    5L -> 79181L, 6L -> 66947L, 7L -> 57992L, 8L -> 51153L,
    9L -> 45757L)

  /** Leading-digit counts of o_totalprice cents: (digit, observed).
    * Works on batch and streaming frames alike (groupBy-count is a
    * streaming aggregation with ≤ 9 counter rows). */
  def digitCounts(orders: DataFrame): DataFrame =
    orders.select(expr(
      "CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT)" +
        " AS STRING), 1, 1) AS BIGINT)").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("observed"))

  /** The live digit histogram over order batches landing in
    * `landingDir` (schema detected from a footer). Returns the
    * unstarted streaming DataFrame of (digit, observed); callers
    * pick sink/trigger/output mode (`complete`). */
  def countsStream(spark: SparkSession, landingDir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame =
    digitCounts(Ingest.fileStream(spark,
      spark.read.parquet(landingDir).schema, landingDir,
      maxFilesPerTrigger))

  /** The q115 report over a digit histogram: (digit, observed, n,
    * obs_ppm, exp_ppm, dev_ppm) for every digit PRESENT, sorted —
    * identical arithmetic to the batch query (truncating ppm,
    * constant expectations, signed deviation). */
  def report(counts: Seq[(Long, Long)])
      : Seq[(Long, Long, Long, Long, Long, Long)] = {
    require(counts.forall { case (d, c) => d >= 1 && d <= 9 && c >= 0 },
      s"malformed digit histogram: $counts")
    val n = counts.map(_._2).sum
    counts.sortBy(_._1).map { case (d, obs) =>
      val obsPpm = if (n == 0) 0L
        else (BigInt(obs) * 1000000 / BigInt(n)).toLong
      val exp = ExpPpm(d)
      (d, obs, n, obsPpm, exp, obsPpm - exp)
    }
  }
}
