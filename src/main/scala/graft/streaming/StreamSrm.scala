package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.EventStats

/** Live sample-ratio-mismatch monitoring over an events landing
  * directory — the streaming twin of q151's SRM audit, restructured
  * for unbounded input: unit-grain SRM (q151 counts DISTINCT exposed
  * users) needs per-unit dedup state that grows with the user
  * universe, so the stream monitors EVENT-grain arm balance instead —
  * state is exactly one (n_a, n_b) counter pair per event type,
  * bounded by the type vocabulary forever, and the failure mode SRM
  * exists to catch (one arm's events dropped by an assignment or
  * logging break) moves event counts first, within a micro-batch.
  * The batch q151 audit stays the unit-grain gate; this is the pager.
  *
  * The mergeable-summary contract (the StreamSketch pattern):
  * [[armCounts]] is ONE declarative aggregation that runs unchanged
  * over a batch events frame or the file stream — `complete` output
  * IS the ≤|types|-row counter table, and the arm hash is
  * bit-identical to q106/q151's deterministic md5 assignment.
  * [[srm]] is the exact integer χ² fold over that table (equal-split
  * design, ppm arithmetic and critical constant shared with q151 via
  * [[graft.operators.EventStats.SrmChi2CritPpm]]) — a driver-side
  * fold over ≤|types| rows, the one place a collect is the right
  * plan. */
object StreamSrm {

  /** Per-type event counts by experiment arm: (event_type, n_a,
    * n_b). The md5 arm hash is bit-identical to q106/q151. Works on
    * batch and streaming frames alike (groupBy-sum is a streaming
    * aggregation with one counter row per type). */
  def armCounts(events: DataFrame): DataFrame =
    events.select(col("event_type"),
      (conv(substring(md5(concat(lit("exp:"),
        col("user_id").cast("string"))), 1, 6), 16, 10)
        .cast("long") % 2).as("arm"))
      .groupBy(col("event_type"))
      .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"))

  /** The live counter table over event batches landing in
    * `landingDir` (schema = events.parquet, detected from a footer
    * so either ts physical shipping shape scans). Returns the
    * unstarted streaming DataFrame of (event_type, n_a, n_b);
    * callers pick sink/trigger/output mode (`complete` — the result
    * IS the counter table). `maxFilesPerTrigger` is a READER option,
    * threaded here so specs can force cross-micro-batch state
    * merging. */
  def countsStream(spark: SparkSession, landingDir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame =
    armCounts(Ingest.fileStream(spark,
      spark.read.parquet(landingDir).schema, landingDir,
      maxFilesPerTrigger))

  /** Exact χ² SRM verdicts over a counter table: (event_type, n_a,
    * n_b, chi2_ppm, srm_flag) sorted by type, with χ² =
    * (n_a − n_b)²·10⁶ div (n_a + n_b) for the 50/50 design — the
    * q151 arithmetic — flagged against
    * [[graft.operators.EventStats.SrmChi2CritPpm]]. Zero-exposure
    * types report (0, 0) rather than dividing by zero. */
  def srm(counts: Seq[(String, Long, Long)])
      : Seq[(String, Long, Long, Long, Long)] =
    counts.sortBy(_._1).map { case (t, na, nb) =>
      require(na >= 0 && nb >= 0, s"negative arm count for $t")
      val n = na + nb
      val chi2 = if (n == 0L) 0L
        else (BigInt(na - nb) * BigInt(na - nb) * 1000000 /
          BigInt(n)).toLong
      val flag = if (chi2 >= EventStats.SrmChi2CritPpm) 1L else 0L
      (t, na, nb, chi2, flag)
    }
}
