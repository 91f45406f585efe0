package graft.tools

import graft.SparkEntry

/** Plan-property auditor: extracts the SURVEY §8.5 table from the
  * physical plan of every `SparkEntry.queries` entry — cartesian
  * products, parquet filter pushdown, join strategies, rank-limit and
  * top-k shapes — and prints one markdown row per query.
  *
  * Exit code 1 if any query shows a CartesianProduct or an unintended
  * BroadcastNestedLoopJoin (intended = a broadcast non-equi join
  * against a constant-size side, see `PlanAudit.intendedNonEqui`).
  */
object Audit {
  def main(args: Array[String]): Unit = {
    val sfDir =
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.Sessions.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    var bad = List.empty[String]
    println("| query | pushdown | BHJ | SMJ | BNLJ | WGL | topK | expand | cartesian | globalWin |")
    println("|---|---|---|---|---|---|---|---|---|---|")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val a = PlanAudit.of(fn(spark, sfDir))
      def y(b: Boolean) = if (b) "yes" else ""
      println(s"| $name | ${y(a.pushedFilters)} | ${y(a.bhj)} | ${y(a.smj)} " +
        s"| ${y(a.bnlj)} | ${y(a.windowGroupLimit)} | ${y(a.takeOrdered)} " +
        s"| ${y(a.expand)} | ${y(a.cartesian)} | ${y(a.globalWindow)} |")
      if (a.cartesian) bad ::= s"$name: CartesianProduct"
      if (a.bnlj && !PlanAudit.intendedNonEqui(name))
        bad ::= s"$name: unintended BroadcastNestedLoopJoin"
      if (a.globalWindow)
        bad ::= s"$name: global (unpartitioned) Window"
    }
    bad.foreach(b => System.err.println(s"[audit] VIOLATION $b"))
    spark.stop()
    if (bad.nonEmpty) sys.exit(1)
  }
}

/** Shared plan-property extraction (Audit main + AuditSpec). */
object PlanAudit {
  final case class Props(cartesian: Boolean, bnlj: Boolean, bhj: Boolean,
      smj: Boolean, pushedFilters: Boolean, windowGroupLimit: Boolean,
      takeOrdered: Boolean, expand: Boolean, globalWindow: Boolean)

  def of(df: org.apache.spark.sql.DataFrame): Props = {
    val plan = df.queryExecution.executedPlan.toString
    // An unpartitioned Window is a single-partition sort of its whole
    // input — the one plan shape that cannot scale out. Detected on the
    // optimized logical plan (tree-walk, no AQE wrapping to parse).
    val globalWin = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
    }.nonEmpty
    Props(
      cartesian = plan.contains("CartesianProduct"),
      bnlj = plan.contains("BroadcastNestedLoopJoin"),
      bhj = plan.contains("BroadcastHashJoin"),
      smj = plan.contains("SortMergeJoin"),
      pushedFilters = raw"PushedFilters: \[[^\]]".r
        .findFirstIn(plan).isDefined,
      windowGroupLimit = plan.contains("WindowGroupLimit"),
      takeOrdered = plan.contains("TakeOrderedAndProject"),
      expand = plan.contains("Expand"),
      globalWindow = globalWin)
  }

  /** Queries whose broadcast non-equi join is the intended physical
    * shape: a constant-size broadcast side (band table, count-1 row,
    * <=10 query vectors, 1-row corpus totals) against one fact scan —
    * no shuffle of the fact side, which is the right plan at any
    * fact-side scale. */
  val intendedNonEqui: Set[String] =
    Set("q30_range_join", "q36_tfidf", "ann_brute", "ann_ivf",
      "q54_knn_classify", "q55_cooccur_pmi",
      "q87_ivfpq", // constant Kc-row coarse codebook, the ann_ivf shape
      // q178 composes q87's coarse-codebook shape with q131's
      // ground-truth arm (≤5-row broadcast probe panel × one corpus
      // scan) — both intended constant-broadcast-side plans.
      "q178_ann_frontier",
      // q179 sweeps the quantizer axis over the SAME two intended
      // constant-broadcast shapes as q178: the Kc-row coarse
      // codebook crossJoin and the ≤5-row ground-truth probe panel.
      "q179_ann_quantizer",
      // q44/q49's salted plans crossJoin the 1-ROW derived-salt
      // recommendation (SkewProfile.recommendedSaltOf) onto both join
      // sides — the q36/q55 totals shape; the fact side never
      // shuffles for it.
      "q44_salted_join",
      "q49_skew_agg",
      "q62_gapfill", // (types × hours) grid from two tiny broadcasts
      "q63_rrf_fusion", // 1-row query embedding + ≤400-row candidate set
      "q64_dedup_pipeline", // bounded near-dup candidate verify side
      // q68's codebook assignment broadcasts the k-row (k=32) centroid
      // table against one embeddings scan — identical shape to ann_ivf:
      // the fact side never shuffles, which is the right plan at any
      // corpus scale (k grows ~log n, not n).
      "q68_semdedup",
      // q83's corpus-stats join broadcasts ONE row (N, T, per-term
      // idf) against the per-doc frame — the q36/q55 totals shape.
      "q83_bm25",
      // q70's Lloyd assignment broadcasts the k-row codebook against
      // one corpus scan per round — the ann_ivf shape, k ≪ n always.
      "q70_kmeans",
      // q92 reuses q70's training loop AND its broadcast-codebook
      // assignment for the final cell labeling — same intended shape.
      "q92_diversity_sample",
      // q77 joins its gram counts to a 1-row cohort-totals broadcast —
      // the q36/q55 totals shape.
      "q77_corpus_drift",
      // q127 broadcasts the 1-row refresh anchor (max order day)
      // against the view-grain frame — the q36/q55 totals shape.
      "q127_decayed_mv",
      // q96 broadcasts ONE bounds row (grid maxima / date span) to
      // quantize the fact scan — the q36 constant-side shape; the
      // fact side never shuffles.
      "q96_zorder_layout",
      // q98 broadcasts its 1-row bigram-type total (Nb) — the
      // q36/q55 totals shape.
      "q98_kn_bigram",
      // q103's pairwise sketch comparison joins S source-sketch rows
      // (S = |sources|, ~500 bytes each) against themselves under
      // src_a < src_b — at deployment scale the sketch table IS the
      // persisted artifact and S·(S−1)/2 stays driver-tiny while the
      // one corpus-scale distinct ran long before this join.
      "q103_kmv_overlap",
      // q106 crossJoins the per-event scan with its broadcast 1-row
      // (tmin, tmax) bounds aggregate — the q36/q55 totals shape.
      "q106_ab_cuped",
      // q108's final report crossJoins the ~3-row per-split frame
      // with its broadcast 1-row leakage-audit aggregate.
      "q108_split_leakage",
      // q153's report row crossJoins the 1-row found-count aggregate
      "q153_dedup_recall",
      // q163's remainder ranking is a broadcast non-equi self-join on
      // the category-cardinality (lang × source) strata table — the
      // constant-side shape; the corpus collapsed in the stratum
      // aggregate long before it.
      "q163_strata_alloc",
      // q152's report row crossJoins three 1-row aggregates —
      // node count × edge count × the Pearson sufficient statistics
      "q152_assortativity",
      // q109's report row crossJoins three 1-row aggregates
      // (sizes × edge count × triangle count).
      "q109_er_triangles",
      // q111 assembles each estimate row from 1-row aggregates
      // (stats_a × stats_b × histogram × exact) — totals shape.
      "q111_join_card",
      // q112 broadcasts the 1-row max-order-date anchor against the
      // orders scan — the q36/q55 totals shape.
      "q112_decayed_pop",
      // q131's ground-truth arms are ann_brute's own shape twice: the
      // ≤10-row broadcast probe set against one corpus scan — the
      // sampled-recall evaluation's intended brute-force side.
      "q131_ann_recall",
      // q114's rule report crossJoins the ≤|brands|² pair table with
      // its broadcast 1-row basket total — totals shape.
      "q114_basket_lift",
      // q115 crossJoins ≤9 digit groups with the broadcast 1-row
      // total — totals shape.
      "q115_benford",
      // q118's per-table arms each crossJoin two 1-row count
      // aggregates — totals shape.
      "q118_rtbf_cascade",
      // q119/q120/q123 crossJoin the distinct-value table with its
      // broadcast 1-row bounds/total aggregates to derive range
      // buckets and quantile denominators — the q96 quantization
      // shape.
      "q119_ks_drift",
      "q120_skyline",
      "q123_rfm_segments",
      // q133 broadcasts the 1-row ECE reduction back onto the ≤10
      // reliability bins — the q36/q55 totals shape.
      "q133_ece_calibration",
      // q135 broadcasts the 1-row corpus token total against the
      // candidate-count table — totals shape; the candidate semi-join
      // itself is a broadcast equi-join.
      "q135_heavy_hitters",
      // q136 broadcasts the 1-row corpus token total onto the
      // pair-count table — totals shape.
      "q136_collocations",
      // q138 broadcasts two 1-row totals (corpus size, Σw) onto the
      // |langs|-row weight table — totals shape.
      "q138_lang_sampling",
      // q141 broadcasts the fixed anchor sample against one corpus
      // scan under a label-mismatch predicate — the ann_brute /
      // q131 sampled-probe brute-force shape; the corpus side never
      // shuffles.
      "q141_hard_negatives",
      // q142's decile report joins the 10-row boundary broadcast and
      // each prefix scan crossJoins its 1-row doc-count total — the
      // q119 quantization/totals shape at doc-count scale.
      "q142_heaps_law",
      // q144 crossJoins two 1-row aggregates (point estimate × CI
      // array pick) — totals shape.
      "q144_bootstrap_ci",
      // q145 probes the frequency-histogram scan with the 4-row
      // budget broadcast (nonequi by construction: the cut is the
      // smallest prefix reaching each budget) and crossJoins the
      // 1-row totals — the q119 shape at histogram scale.
      "q145_zipf_coverage",
      // q149/q150 crossJoin their day-/value-histogram scans with
      // broadcast 1-row totals (and the prefix-scan bucket
      // machinery's bounds rows) — the q119 quantization/totals
      // shape at sub-corpus scale.
      "q149_cusum_changepoint",
      "q150_revenue_gini",
      // q114's bit-index derivation (25-row dimension triangle join)
      // and the mask-histogram bit-test decodes are non-equi joins
      // whose broadcast sides are the constant 25-row brand index —
      // the fact side touches only equi-BHJ + one keyed exchange.
      "q114_basket_lift",
      // q166 crossJoins the 64-row per-dimension stats with its
      // broadcast 1-row corpus variance total — totals shape.
      "q166_embedding_isotropy",
      // q167 crossJoins the ≤|brands|² mixing cells with two 1-row
      // broadcasts (endpoint total, assortativity scalar) — totals
      // shape; the fact side collapsed in the (order, brand) count.
      "q167_copurchase_mixing",
      // q168 crossJoins the day series with its broadcast 1-row
      // (n, Σx) totals and the lag table with the 1-row denominator
      // — the q149 day-grain totals shape.
      "q168_acf",
      // q169's scoring is ann_brute's own shape (≤10-row broadcast
      // probe set against one corpus scan), and the 4-row budget
      // report crossJoins the 1-row probe count — totals shape.
      "q169_dim_truncation",
      // q170's Gram assembly and every power-iteration round crossJoin
      // 1-row broadcasts (n, max|G|, per-round max|raw|, sign pick)
      // onto dims²-row frames — totals shape; the corpus collapsed in
      // the one flat-index aggregate long before any of them.
      "q170_pca_power",
      // q172 crossJoins the per-shard manifest rows with the 1-row
      // broadcast corpus totals (the conservation columns) — totals
      // shape; the corpus collapsed at the survivor barrier.
      "q172_shard_manifest",
      // q174's per-round renormalization and the final prune each
      // crossJoin the vocabulary-scale piece table with its 1-row
      // broadcast count total — totals shape.
      "q174_unigram_lm")
}
