package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.TextAnalysis.{norm, tokens, normSql, tokensSql}

/** Composite training-data pipeline operators over `documents`:
  * TF-IDF term scoring, a quality-filter pass (the keep/drop decision a
  * corpus pipeline runs before training), and near-dup clustering via
  * label-propagation connected components.
  *
  * Same engine-portability contract as [[Dedup]]: integer arithmetic
  * and md5-string fingerprints only, so every score is bit-identical in
  * the DuckDB oracle.
  */
object Pipeline {

  /** q36: TF-IDF top terms — token explode → (doc,term) TF shuffle
    * with map-side combine → document-frequency agg on term → integer
    * idf (n_docs*1000 div df) → per-doc top-3 by score. At scale: two
    * hash shuffles (term cardinality ≈ vocabulary, far smaller than the
    * corpus) and a WindowGroupLimit for the top-k — no full sort. */
  def q36Tfidf(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(Tables.load(s, dir, "documents"))
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("token").asc)
    tf.join(df, "token")
      .crossJoin(broadcast(n))
      .withColumn("idf_x1000", expr("(n_docs * 1000) div df"))
      .withColumn("score", col("tf") * col("idf_x1000"))
      .filter(col("doc_id") < 100)
      .withColumn("rk", row_number().over(w).cast("int"))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("token"), col("tf"), col("df"),
        col("score"))
      .orderBy(col("doc_id"), col("rk"))
  }

  val q36TfidfOracle: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest($tokensSql) AS token FROM documents),
       |tf AS (
       |  SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
       |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |scored AS (
       |  SELECT doc_id, token, tf, df,
       |    tf * ((n_docs * 1000) // df) AS score
       |  FROM tf JOIN df USING (token) CROSS JOIN n
       |  WHERE doc_id < 100),
       |ranked AS (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
       |    ORDER BY score DESC, token ASC) AS INT) AS rk
       |  FROM scored)
       |SELECT doc_id, rk, token, tf, df, score FROM ranked
       |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin

  /** q37: corpus quality filter — the keep set of a pre-training
    * cleaning pass: token-count band, type-token-ratio floor, and
    * exact-dup survivor election (min doc_id per content hash), all in
    * one window + filter. Map-only except the single content-hash
    * shuffle. */
  def q37QualityFilter(s: SparkSession, dir: String): DataFrame = {
    // token + distinct counts from the single-pass TokenStats kernel
    // (the HOF array_distinct form ran interpreted)
    val base = Tables.spread(Tables.load(s, dir, "documents"))
      .select(col("doc_id"), col("lang"),
        md5(graft.functions.TextStatFunctions.normText(col("text")))
          .as("h"),
        graft.functions.TextStatFunctions.tokenStats(col("text"), Nil)
          .as("st"))
      .select(col("doc_id"), col("lang"), col("h"),
        col("st").getItem(1).as("n_tokens"),
        (col("st").getItem(2) * 100).as("distinct_x100"))
      .withColumn("ttr_pct", expr("distinct_x100 div n_tokens"))
    base
      .withColumn("survivor", min(col("doc_id")).over(Window.partitionBy(col("h"))))
      .filter(col("doc_id") === col("survivor") &&
        col("n_tokens").between(10, 5000) && col("ttr_pct") >= 30)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("ttr_pct"))
      .orderBy(col("doc_id"))
  }

  val q37QualityFilterOracle: String =
    s"""WITH base AS (
       |  SELECT doc_id, lang, md5($normSql) AS h,
       |    CAST(len($tokensSql) AS BIGINT) AS n_tokens,
       |    CAST(len(list_distinct($tokensSql)) * 100 // len($tokensSql)
       |      AS BIGINT) AS ttr_pct
       |  FROM documents),
       |survivors AS (
       |  SELECT *, min(doc_id) OVER (PARTITION BY h) AS survivor FROM base)
       |SELECT doc_id, lang, n_tokens, ttr_pct FROM survivors
       |WHERE doc_id = survivor AND n_tokens BETWEEN 10 AND 5000
       |  AND ttr_pct >= 30
       |ORDER BY doc_id""".stripMargin

  val CcRounds = 3

  /** q38: near-dup clustering — connected components by min-label
    * propagation over two fingerprint relations (SimHash collisions +
    * token-bag-md5 collisions). Star edges (group-min → member) give
    * the same components as within-group cliques at O(group) instead of
    * O(group²) edges; `CcRounds` synchronous rounds of
    * label(v) := min(label(v), min label of neighbors) — the standard
    * large-graph CC (hash-partitioned joins, no driver-side state).
    * Fixed round count keeps the op deterministic and oracle-checkable;
    * a production run iterates to fixpoint. */
  def q38CcLabels(s: SparkSession, dir: String): DataFrame = {
    val (base, bidir) = docGraph(s, dir)
    val labels0 = base.select(col("doc_id"), col("doc_id").as("label"))
    val labels = (1 to CcRounds).foldLeft(labels0)((l, _) => propagate(l, bidir))
    withMembers(labels)
  }

  /** The near-dup graph shared by q38 and the fixpoint variant:
    * fingerprint base (localCheckpoint barrier — see scaladoc note on
    * GC-cleaned blocks vs an un-unpersisted cache) and bidirectional
    * star edges. */
  private def docGraph(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val base = Tables.spread(Tables.load(s, dir, "documents"))
      .select(col("doc_id"),
        graft.functions.TextFunctions.simhash16(tokens(col("text"))).as("sh"),
        // bag fingerprint via the regex/HOF-free BagNorm kernel
        md5(graft.functions.TextStatFunctions.bagNorm(col("text"))).as("fb"))
      // barrier: sh/fb are each consumed by a window below — compute
      // the fingerprints once, not once per consumer. localCheckpoint
      // (not persist): same recompute barrier, but the blocks are
      // GC-cleaned when this DataFrame goes unreachable, so repeated
      // q38 runs in one session (Verify/Bench loops) don't accumulate
      // cached partitions the way an un-unpersisted cache would.
      // Lazy (eager=false): q38's plan stays inspectable without
      // executing the fingerprint job at construction time.
      .repartition(col("doc_id"))
      .localCheckpoint(false)
    def starEdges(key: String): DataFrame = base
      .withColumn("u", min(col("doc_id")).over(Window.partitionBy(col(key))))
      .filter(col("u") =!= col("doc_id"))
      .select(col("u"), col("doc_id").as("v"))
    val edges = starEdges("sh").union(starEdges("fb")).distinct()
    val bidir = edges
      .union(edges.select(col("v").as("u"), col("u").as("v")))
    (base, bidir)
  }

  /** One synchronous min-label round: label(v) := min(label(v),
    * min label over v's neighbors) — a hash join + hash agg, both
    * partitioned on doc_id at any scale. */
  private def propagate(l: DataFrame, bidir: DataFrame): DataFrame =
    l.union(
      l.join(bidir, l("doc_id") === bidir("u"))
        .select(col("v").as("doc_id"), col("label")))
      .groupBy(col("doc_id")).agg(min(col("label")).as("label"))

  private def withMembers(labels: DataFrame): DataFrame =
    labels
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy(col("label"))))
      .orderBy(col("doc_id"))

  /** q45: connected components over the q38 near-dup graph — the
    * production path (true components at any graph diameter; q38's
    * fixed 3 rounds truncate chains longer than 3) on the one CC
    * engine, [[EntityRes.ccContract]]. The oracle runs q38's
    * propagation for [[CcOracleRounds]] rounds, so the engine checks
    * that bound ([[oracleRoundBound]]): a corpus whose near-dup graph
    * diameter outgrows the pinned constant fails loudly instead of
    * hash-mismatching mysteriously (PipelineSpec pins a synthetic long
    * chain where fixed-round and converged labels genuinely differ). */
  def q45CcFixpoint(s: SparkSession, dir: String): DataFrame = {
    val (base, bidir) = docGraph(s, dir)
    val labels0 = base.select(col("doc_id"), col("doc_id").as("label"))
    withMembers(oracleRoundBound(labels0, bidir,
      EntityRes.ccRun(labels0, bidir), CcOracleRounds))
  }

  /** The CC labels, once `bound` synchronous min-label rounds provably
    * reach them (throws otherwise). When the small-graph finish ran on
    * the input graph, its BFS depth is that round count exactly;
    * otherwise `bound` chained [[propagate]] rounds run as one plan
    * and must leave no label different from the components (one
    * action). */
  private[operators] def oracleRoundBound(labels0: DataFrame,
      bidir: DataFrame, cc: EntityRes.Cc, bound: Int): DataFrame = {
    val fail = "raise CcOracleRounds to keep the oracle at fixpoint"
    cc.rawDepth match {
      case Some(depth) =>
        require(depth <= bound, s"CC needs $depth synchronous " +
          s"min-label rounds, above the pinned oracle bound $bound — $fail")
      case None =>
        val pinned = (1 to bound).foldLeft(labels0)((l, _) => propagate(l, bidir))
        val off = pinned.join(cc.labels.withColumnRenamed("label", "cc"),
            "doc_id")
          .filter(col("label") =!= col("cc")).count()
        require(off == 0, s"$off labels still differ from the " +
          s"components after the pinned oracle's $bound min-label rounds — $fail")
    }
    cc.labels
  }

  val ChunkSize = 50
  val ChunkStride = 40 // 10-token overlap between consecutive chunks

  /** q46: document chunking — the pre-training windowing op: each doc
    * becomes ceil-div((n_tokens - size), stride) + 1 overlapping
    * token windows (size 50, stride 40). Output carries the chunk's
    * token count and an md5 fingerprint of the joined window (not the
    * text itself), so the row stays narrow. Map-only + generator: no
    * shuffle, scales linearly — the chunk explosion happens inside
    * one projection, never through an exchange. */
  def q46Chunks(s: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    Tables.spread(Tables.load(s, dir, "documents"))
      .select(col("doc_id"), toks.as("toks"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      // n_chunks = 1 + ceil(max(0, n - size) / stride), integer form
      .withColumn("n_chunks",
        expr(s"1 + (greatest(0, n_tokens - $ChunkSize) + $ChunkStride - 1) div $ChunkStride"))
      .select(col("doc_id"), col("n_tokens"),
        explode(expr("sequence(0, n_chunks - 1)")).as("chunk_id"),
        col("toks"))
      .withColumn("chunk_toks",
        expr(s"slice(toks, chunk_id * $ChunkStride + 1, $ChunkSize)"))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        size(col("chunk_toks")).cast("long").as("n_chunk_tokens"),
        md5(concat_ws(" ", col("chunk_toks"))).as("chunk_fp"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  val q46ChunksOracle: String =
    s"""WITH base AS (
       |  SELECT doc_id, $tokensSql AS toks,
       |    CAST(len($tokensSql) AS BIGINT) AS n_tokens
       |  FROM documents),
       |counted AS (
       |  SELECT *,
       |    1 + (greatest(0, n_tokens - $ChunkSize) + $ChunkStride - 1) // $ChunkStride
       |      AS n_chunks
       |  FROM base),
       |exploded AS (
       |  SELECT doc_id, n_tokens, unnest(range(n_chunks)) AS chunk_id, toks
       |  FROM counted)
       |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       |  CAST(len(toks[chunk_id * $ChunkStride + 1 :
       |    chunk_id * $ChunkStride + $ChunkSize]) AS BIGINT) AS n_chunk_tokens,
       |  md5(array_to_string(toks[chunk_id * $ChunkStride + 1 :
       |    chunk_id * $ChunkStride + $ChunkSize], ' ')) AS chunk_fp
       |FROM exploded ORDER BY doc_id, chunk_id""".stripMargin

  /** Per-language sampling rates for q47, as hex-prefix thresholds on
    * md5(lang || ':' || doc_id): "keep if first two hex digits <
    * threshold" ⇒ rate = threshold/256 (en 25%, de 50%, fr 75%,
    * everything else 10%). */
  val StratRates: Seq[(String, String)] =
    Seq("en" -> "40", "de" -> "80", "fr" -> "c0")
  val StratDefault = "1a"

  /** q47: stratified deterministic sampling — per-stratum Bernoulli
    * rates keyed on a content hash (the `sampleBy` of a reproducible
    * 100 TB pipeline: selection is a pure function of the row, stable
    * across engines/runs/partitionings). Map-only. `lang` is coalesced
    * to '' inside the hash key on BOTH sides: Spark's concat_ws skips a
    * NULL argument while SQL `||` nulls the whole expression, so a
    * null-lang row would otherwise be sampled by one engine and
    * dropped by the other. */
  def q47StratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val thr = StratRates.foldLeft(lit(StratDefault)) { case (acc, (lang, t)) =>
      when(col("lang") === lang, lit(t)).otherwise(acc)
    }
    Tables.load(s, dir, "documents")
      .withColumn("thr", thr)
      .filter(substring(md5(concat_ws(":",
          coalesce(col("lang"), lit("")), col("doc_id"))), 1, 2)
        < col("thr"))
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))
  }

  val q47StratifiedSampleOracle: String = {
    val cases = StratRates.map { case (l, t) => s"WHEN lang = '$l' THEN '$t'" }
      .mkString(" ")
    s"""SELECT doc_id, lang FROM documents
       |WHERE substring(md5(coalesce(lang, '') || ':' ||
       |    CAST(doc_id AS VARCHAR)), 1, 2)
       |  < (CASE $cases ELSE '$StratDefault' END)
       |ORDER BY doc_id""".stripMargin
  }

  val DecontamShingle = 8

  /** q50: benchmark decontamination — the pre-training hygiene pass
    * that drops corpus documents overlapping an evaluation set. Docs
    * with doc_id < 50 stand in for the held-out benchmark; a corpus
    * doc is contaminated if it shares any [[DecontamShingle]]-token
    * shingle (md5'd) with it. Shape for 100 TB: benchmarks are small,
    * so the benchmark shingle set BROADCASTS and the corpus side is
    * scan → explode → broadcast semi-join → per-doc count — the corpus
    * is never shuffled by content, only by doc_id for the final count
    * (and that aggregation is a plain countDistinct per doc). Docs
    * shorter than the shingle width contribute one whole-doc shingle
    * so short benchmark strings still match verbatim copies. */
  def q50Decontam(s: SparkSession, dir: String): DataFrame = {
    val k = DecontamShingle
    // codegen'd kernel (one loop per row) — the interpreted HOF form
    // (transform + md5 + concat_ws + slice per shingle) was the whole
    // cost of this query at 10× scale (44s → kernel speed at sf1)
    val base = Tables.spread(Tables.load(s, dir, "documents"))
      .select(col("doc_id"),
        graft.functions.TextFunctions.tokenShingleMd5(
          tokens(col("text")), k).as("sh"))
      .select(col("doc_id"), explode(col("sh")).as("sh"))
    val bench = base.filter(col("doc_id") < 50).select(col("sh")).distinct()
    base.filter(col("doc_id") >= 50)
      .join(broadcast(bench), Seq("sh"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("sh")).as("n_hits"))
      .orderBy(col("doc_id"))
  }

  val q50DecontamOracle: String = {
    val k = DecontamShingle
    s"""WITH base AS (
       |  SELECT doc_id, $tokensSql AS toks FROM documents),
       |sh AS (
       |  SELECT doc_id, unnest(list_transform(
       |    range(1, greatest(1, len(toks) - ${k - 1}) + 1),
       |    i -> md5(array_to_string(toks[i : i + ${k - 1}], ' ')))) AS sh
       |  FROM base),
       |bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id < 50)
       |SELECT c.doc_id, count(DISTINCT c.sh) AS n_hits
       |FROM sh c JOIN bench b USING (sh)
       |WHERE c.doc_id >= 50
       |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin
  }

  /** Language → mixture weight for q51 (unlisted languages weight 1). */
  val MixWeights: Seq[(String, Int)] = Seq("en" -> 5, "de" -> 3, "fr" -> 2)
  val MixTake = 200

  /** q51: weighted dataset-mixture interleave — the data-mixing
    * operator of a training run: each language stream is shuffled
    * deterministically (md5 of the doc id), then streams merge in
    * weight proportion via virtual positions pos = (2·rk−1)·10⁶ /
    * (2·w) — language l contributes w_l docs per unit of mixed
    * prefix, and any prefix of the mix is reproducible from the row
    * alone. One window per language partition + a global top-N
    * (TakeOrderedAndProject — no full sort); no joins. */
  def q51Mixture(s: SparkSession, dir: String): DataFrame = {
    val w = MixWeights.foldLeft(lit(1)) { case (acc, (l, wt)) =>
      when(col("lang") === l, lit(wt)).otherwise(acc)
    }
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        md5(concat(lit("mix:"), col("doc_id"))).as("h"))
      .withColumn("w", w.cast("int"))
      .withColumn("rk", row_number()
        .over(Window.partitionBy(col("lang"))
          .orderBy(col("h").asc, col("doc_id").asc)).cast("long"))
      .withColumn("pos", expr("((rk * 2 - 1) * 1000000) div (2 * w)"))
      .select(col("doc_id"), col("lang"), col("w"), col("pos"))
      .orderBy(col("pos").asc, col("lang").asc, col("doc_id").asc)
      .limit(MixTake)
  }

  val q51MixtureOracle: String = {
    val cases = MixWeights.map { case (l, wt) => s"WHEN lang = '$l' THEN $wt" }
      .mkString(" ")
    s"""WITH ranked AS (
       |  SELECT doc_id, lang,
       |    CAST(CASE $cases ELSE 1 END AS INT) AS w,
       |    row_number() OVER (PARTITION BY lang
       |      ORDER BY md5('mix:' || CAST(doc_id AS VARCHAR)) ASC,
       |        doc_id ASC) AS rk
       |  FROM documents)
       |SELECT doc_id, lang, w, (rk * 2 - 1) * 1000000 // (2 * w) AS pos
       |FROM ranked
       |ORDER BY pos ASC, lang ASC, doc_id ASC LIMIT $MixTake""".stripMargin
  }

  /** k-round min-label-propagation CC as DuckDB SQL (shared by the q38
    * and q45 oracles — q45 runs enough rounds to be at fixpoint on
    * this corpus). */
  private def ccOracleSql(nRounds: Int): String = {
    val sh = Dedup.simhashSql("toks")
    def round(prev: String, cur: String): String =
      s"""$cur AS (
         |  SELECT doc_id, min(label) AS label FROM (
         |    SELECT doc_id, label FROM $prev
         |    UNION ALL
         |    SELECT b.v AS doc_id, l.label FROM $prev l
         |    JOIN bidir b ON l.doc_id = b.u)
         |  GROUP BY doc_id)""".stripMargin
    val rounds = (1 to nRounds)
      .map(i => round(s"l${i - 1}", s"l$i")).mkString(",\n")
    s"""WITH base AS (
       |  SELECT doc_id, CAST($sh AS BIGINT) AS sh,
       |    md5(array_to_string(list_sort(toks), ' ')) AS fb
       |  FROM (SELECT doc_id, $tokensSql AS toks FROM documents)),
       |e1 AS (
       |  SELECT min(doc_id) OVER (PARTITION BY sh) AS u, doc_id AS v
       |  FROM base),
       |e2 AS (
       |  SELECT min(doc_id) OVER (PARTITION BY fb) AS u, doc_id AS v
       |  FROM base),
       |edges AS (
       |  SELECT u, v FROM e1 WHERE u <> v
       |  UNION
       |  SELECT u, v FROM e2 WHERE u <> v),
       |bidir AS (
       |  SELECT u, v FROM edges UNION SELECT v, u FROM edges),
       |l0 AS (SELECT doc_id, doc_id AS label FROM base),
       |$rounds
       |SELECT doc_id, label,
       |  count(*) OVER (PARTITION BY label) AS n_members
       |FROM l$nRounds ORDER BY doc_id""".stripMargin
  }

  val q38CcLabelsOracle: String = ccOracleSql(CcRounds)

  /** Rounds chained between driver convergence probes in q65's
    * PageRank fixpoint. Each probe is a materializing barrier plus an
    * O(1)-row driver action — fixed overhead that dominates the
    * convergence tail — and monotonicity makes the coarser probe
    * exact: an unchanged total across a k-round window proves
    * fixpoint at the window's start, and overshot rounds are no-ops.
    * The reported fixpoint round is rounded UP to the cadence, so
    * pinned oracle bounds need (k-1) rounds of slack. */
  val FixpointProbeEvery = 3

  /** Min-label rounds q45's oracle unrolls; [[oracleRoundBound]]
    * requires the corpus graph to converge within them (exactly: the
    * BFS depth from each component's min member, or a mismatch count
    * after this many propagated rounds). */
  val CcOracleRounds = 6

  val q45CcFixpointOracle: String = ccOracleSql(CcOracleRounds)
}
