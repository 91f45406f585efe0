package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The full IVF-PQ index shape (Jégou et al. 2011; the FAISS
  * `IndexIVFPQ`): coarse quantization into inverted cells + product
  * quantization of the RESIDUAL (vector − its cell centroid) + ADC
  * search restricted to the query's nprobe nearest cells. This is
  * the composition of `ann_ivf` (coarse cells), `q85_pq_adc`
  * (sub-codebooks, codes, distance tables) and `q70_kmeans`
  * (training), and it is what a billion-vector index actually runs:
  * q85 scans every code per query; an IVF-PQ query touches only the
  * probed cells' codes — per-query work drops by ~cells/nprobe while
  * the residual quantization keeps the codes centered and tight.
  *
  * The family is one pipeline. [[build]] trains and encodes one index
  * and scores the query panel over its `maxProbe` nearest cells,
  * [[exactTruth]] is the exact-L2 ground truth, and [[frontier]] folds
  * a scored stream and its truth into recall-vs-cost rows. q87 is a
  * build plus a top-k, q178 a build plus the (nprobe, k) frontier,
  * and q179 one build and one frontier per sub-quantizer count M.
  *
  * Exactness: identical strategy to q85 — integer milli-vectors,
  * integer residuals (closed under subtraction), integer distances,
  * floor-division centroid updates, fixed training rounds; every
  * engine-visible number is exact and the DuckDB oracle unrolls the
  * same computation.
  *
  * 100 TB posture: the coarse codebook is a constant-size broadcast
  * (its crossJoin is the INTENDED BroadcastNestedLoopJoin, the
  * ann_ivf/q68 shape, allowlisted); everything downstream is
  * equi-joins — residual subvectors to the broadcast PQ codebook on
  * the subspace id, and scoring on (cell, subspace, code) against
  * the per-query distance-table broadcast, which implicitly prunes
  * the corpus to probed cells with ZERO per-query scan of the
  * others. Codes are M small ints (64× smaller than the float
  * vectors); cell counts must track √n and nprobe the recall target
  * — parameters, not shape changes. The exact truth is the standard
  * offline ground-truth job (a ≤[[Pq.NQueries]]-row broadcast probe
  * panel against one corpus scan), the calibration's declared cost,
  * not the production path's. */
object Ivfpq {

  val Kc = 8      // coarse cells (cells ≪ n is the SHAPE; grow ~√n)
  val NProbe = 2  // cells scanned per query

  /** q178 frontier axes: probe widths and result depths evaluated. */
  val FrontierNProbes: Seq[Int] = Seq(1, 2, 4)
  val FrontierKs: Seq[Int] = Seq(32, 64)

  /** Sub-quantizer counts swept by q179: M=8 (the q85/q87/q178
    * production config — 8-dim subspaces) vs M=16 (4-dim subspaces,
    * double the code bits). K per subspace stays [[Pq.PqK]]. */
  val QuantMs: Seq[Int] = Seq(8, 16)
  /** q178's own conclusion fixes the probe width: candidate rows
    * triple across nprobe 1→4 while recall@k stays flat — the PQ
    * quantizer binds, not probe width — so the quantizer sweep runs
    * AT nprobe = 1 and moves the axis q178 says matters. */
  val QuantNProbe = 1

  /** (vec_id, v, sq) integer vectors. A barrier because four
    * consumers read it: the coarse codebook, the corpus assignment,
    * the query panel and the exact truth. */
  private def base(s: SparkSession, dir: String): DataFrame =
    Similarity.exactPairsBase(s, dir)
      .select(col("vec_id"), col("v"), col("sq"))
      .localCheckpoint(false)

  /** One index build with `mSubs` sub-quantizers, scored for the query
    * panel over each query's `maxProbe` nearest cells:
    * (qid, vec_id, adist, cell_rank), where cell_rank is the coarse
    * rank of the candidate's cell for that query. Coarse assignment,
    * residual PQ training and encoding do not depend on nprobe, and a
    * candidate's ADC score depends only on its OWN cell, so every
    * narrower nprobe is the filter cell_rank ≤ nprobe over this one
    * stream. */
  private def build(b: DataFrame, mSubs: Int, maxProbe: Int): DataFrame = {
    val coarse = broadcast(b.filter(col("vec_id") < Kc)
      .select(col("vec_id").as("cell"), col("v").as("ccv"),
        col("sq").as("ccsq")))
    // every vector against each of the Kc cells (constant broadcast
    // side — the intended non-equi join)
    def cells(df: DataFrame): DataFrame = df.crossJoin(coarse)
      .withColumn("cdist",
        col("sq") - lit(2L) * Similarity.idot(col("v"), col("ccv"))
          + col("ccsq"))
    val residual = zip_with(col("v"), col("ccv"), (a, c) => a - c)

    // corpus: nearest cell as a partial-aggregating
    // min(struct(cdist, cell, …)), the [[Pq.assign]] argmin — (cdist,
    // cell) is unique per candidate, and the map-side combine collapses
    // the Kc rows per vector before any exchange (a rank window would
    // shuffle corpus×Kc rows into a corpus-scale sort)
    val corpus = cells(b).groupBy(col("vec_id"))
      .agg(min(struct(col("cdist"), col("cell"), col("v"), col("ccv")))
        .as("_c"))
      .select(col("vec_id"), col("_c.cell").as("cell"),
        col("_c.v").as("v"), col("_c.ccv").as("ccv"))
      .select(col("vec_id"), col("cell"), residual.as("r"))
    val subs = Pq.subvectorsOf(corpus, "r", mSubs)
      // the codebook seed, both Lloyd rounds and the encode read it;
      // unbarriered, each re-ran the coarse argmin and its shuffle
      .localCheckpoint(false)
    val cents = Pq.trainCents(
      subs.select(col("vec_id"), col("m"), col("sv"), col("ssq")))
    val codes = Pq.assign(subs, cents)
      .select(col("vec_id"), col("cell"), col("m"),
        col("cent_id").as("code"))

    // queries: the maxProbe nearest cells, one residual PER probed
    // cell; the rank window runs over the bounded probe panel only
    val coarseRank = Window.partitionBy(col("vec_id"))
      .orderBy(col("cdist").asc, col("cell").asc)
    val qres = cells(b.filter(col("vec_id") < Pq.NQueries))
      .withColumn("crk0", row_number().over(coarseRank))
      .filter(col("crk0") <= maxProbe)
      .select(col("vec_id").as("qid"), col("cell"),
        col("crk0").cast("long").as("cell_rank"), residual.as("qr"))
    val dt = Pq.subvectorsOf(qres, "qr", mSubs)
      .join(broadcast(cents), Seq("m"))
      .select(col("qid"), col("cell"), col("cell_rank"), col("m"),
        col("cent_id"),
        (col("ssq") - lit(2L) * Similarity.idot(col("sv"), col("cv"))
          + col("csq")).as("pd"))

    // ADC scoring: only codes in probed cells match the distance
    // table. Explicit aliases qualify the keys — both frames descend
    // from the same base scan, and leaning on Spark's dataset-id
    // self-join fallback logs `trivially true equals predicate`
    // warnings.
    codes.alias("enc")
      .join(broadcast(dt.alias("adc")),
        col("enc.cell") === col("adc.cell") &&
          col("enc.m") === col("adc.m") &&
          col("enc.code") === col("adc.cent_id"))
      .filter(col("qid") =!= col("vec_id"))
      .groupBy(col("qid"), col("vec_id"))
      // every pd row of a (qid, vec) pair carries the SAME cell_rank
      // (a vector is encoded in exactly one cell) — max is exact
      .agg(sum(col("pd")).as("adist"), max(col("cell_rank")).as("cell_rank"))
  }

  /** Exact-L2 ground truth (the q131 brute shape): each query's `maxK`
    * nearest corpus vectors, (qid, vec_id, erk). */
  private def exactTruth(b: DataFrame, maxK: Int): DataFrame = {
    val queries = broadcast(b.filter(col("vec_id") < Pq.NQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("sq").as("qsq")))
    val wx = Window.partitionBy(col("qid"))
      .orderBy(col("dist").asc, col("vec_id").asc)
    b.crossJoin(queries)
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("dist",
        col("qsq") - lit(2L) * Similarity.idot(col("qv"), col("v"))
          + col("sq"))
      .withColumn("erk", row_number().over(wx))
      .filter(col("erk") <= maxK)
      .select(col("qid"), col("vec_id"), col("erk"))
  }

  /** The recall-vs-cost rows (nprobe, k, n_queries, cand_rows,
    * sum_hits, recall_ppm) of every (nprobe, k) in `nprobes` × `ks`,
    * from one [[build]] stream scored at ≥ max(nprobes) and its
    * [[exactTruth]] at ≥ max(ks); cand_rows is the candidate rows the
    * ADC stage scores, the per-query cost an index operator provisions
    * for.
    *
    * One window and one aggregate serve every arm. A rank within the
    * cell_rank ≤ np SUBSET equals a running conditional count in the
    * full (adist, vec_id) order (vec_id is unique per qid, so the
    * order is total), so one window computes every nprobe's rank
    * column; the truth attaches by a single 1:≤1 left join; and one
    * aggregate emits every (np, k) cell, exploded back into one row
    * each. A per-arm filter + rank + semi-join + aggregate instead ran
    * ~25 tiny stages whose scheduling dominated q178 at sf0.1.
    * Zero-hit arms still report (the q169 lesson): the aggregate
    * always yields its single row and each sum is coalesced. */
  private def frontier(scored: DataFrame, exact: DataFrame,
      nprobes: Seq[Int], ks: Seq[Int]): DataFrame = {
    val wq = Window.partitionBy(col("qid"))
      .orderBy(col("adist").asc, col("vec_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = nprobes.foldLeft(
        scored.join(exact, Seq("qid", "vec_id"), "left"))((df, np) =>
        df.withColumn(s"rk$np",
          sum(when(col("cell_rank") <= np, 1L).otherwise(0L)).over(wq)))
    val cellAggs = (for (np <- nprobes; k <- ks) yield
      coalesce(sum(when(col("cell_rank") <= np &&
          col(s"rk$np") <= k && col("erk") <= k, 1L).otherwise(0L)),
        lit(0L)).as(s"h_${np}_$k")) ++
      nprobes.map(np =>
        coalesce(sum(when(col("cell_rank") <= np, 1L).otherwise(0L)),
          lit(0L)).as(s"cand_$np"))
    val onerow = ranked.agg(cellAggs.head, cellAggs.tail: _*)
    val rows = for (np <- nprobes; k <- ks) yield
      struct(lit(np.toLong).as("nprobe"), lit(k.toLong).as("k"),
        lit(Pq.NQueries.toLong).as("n_queries"),
        col(s"cand_$np").as("cand_rows"),
        col(s"h_${np}_$k").as("sum_hits"))
    onerow.select(explode(array(rows: _*)).as("r"))
      .select(col("r.nprobe").as("nprobe"), col("r.k").as("k"),
        col("r.n_queries").as("n_queries"),
        col("r.cand_rows").as("cand_rows"),
        col("r.sum_hits").as("sum_hits"))
      .withColumn("recall_ppm",
        expr(s"sum_hits * 1000000 div (${Pq.NQueries} * k)"))
  }

  /** q87: one M=8 build at [[NProbe]], then each query's top
    * [[Pq.TopK]]; returns (qid, rk, vec_id, adist). */
  def q87Ivfpq(s: SparkSession, dir: String): DataFrame = {
    val wq = Window.partitionBy(col("qid"))
      .orderBy(col("adist").asc, col("vec_id").asc)
    build(base(s, dir), Pq.M, NProbe)
      .withColumn("rk", row_number().over(wq).cast("int"))
      .filter(col("rk") <= Pq.TopK)
      .select(col("qid"), col("rk"), col("vec_id"), col("adist"))
      .orderBy(col("qid"), col("rk"))
  }

  /** q178: IVF-PQ operating-point frontier — the report that answers
    * the question the whole ann harness exists for: WHICH index
    * configuration. q131 measures recall at one fixed config; this
    * emits the recall-vs-cost table over nprobe ∈ [[FrontierNProbes]]
    * × result depth k ∈ [[FrontierKs]]: per config, the candidate
    * rows the ADC stage scores and recall@k against the EXACT L2
    * ground truth (the q131 sampled-recall recipe). One build at
    * max(nprobe) serves every config (see [[build]]). */
  def q178AnnFrontier(s: SparkSession, dir: String): DataFrame = {
    val b = base(s, dir)
    frontier(build(b, Pq.M, FrontierNProbes.max),
      exactTruth(b, FrontierKs.max), FrontierNProbes, FrontierKs)
      .orderBy(col("nprobe"), col("k"))
  }

  /** q179: the quantizer arm of the ANN frontier — recall@k per
    * sub-quantizer count M ∈ [[QuantMs]] at fixed nprobe
    * ([[QuantNProbe]]), against the SAME exact-L2 ground truth. q178
    * swept (nprobe, k) from one build and concluded the quantizer
    * binds; this is the sweep along that binding axis: per config,
    * one build (a quantizer change is a BUILD change — unlike nprobe,
    * it cannot reuse another config's codes) and one frontier against
    * the shared truth, so its M=8 rows are q178's nprobe=1 rows.
    * `code_bits` (= M·log₂K) is the per-vector index memory the
    * config buys — the frontier's cost axis here, since cand_rows is
    * nprobe-bound and identical across M.
    *
    * MEASURED (sf0.01, the committed CORRECTNESS corpus): doubling
    * the code bits (M 8→16) lifts recall@32 525,000 → 550,000 ppm;
    * at k=64 both configs read 606,250 because the nprobe=1
    * candidate pool (~59 rows/query) is SMALLER than k — every
    * scored candidate is returned and the quantizer's ranking
    * cannot matter. That refines q178's sentence: quantizer
    * resolution is what a SHALLOW-k deployment buys next, but a
    * deep-k one is pool-limited first — it must widen nprobe (or
    * grow cells) before any PQ spend pays.
    *
    * 100 TB posture: doubling M doubles the subvector stream of the
    * train/encode stages — linear in the config count, the offline
    * index-build budget a deployment already pays per candidate
    * config. Both frontiers read one truth (one exchange, reused). */
  def q179AnnQuantizer(s: SparkSession, dir: String): DataFrame = {
    val b = base(s, dir)
    val exact = exactTruth(b, FrontierKs.max)
    val bitsPerCode = java.lang.Integer.numberOfTrailingZeros(Pq.PqK)
    QuantMs.map { mSubs =>
      frontier(build(b, mSubs, QuantNProbe), exact, Seq(QuantNProbe),
          FrontierKs)
        .select(lit(mSubs.toLong).as("m_subs"), col("k"),
          lit((mSubs * bitsPerCode).toLong).as("code_bits"),
          col("n_queries"), col("cand_rows"), col("sum_hits"),
          col("recall_ppm"))
    }.reduce(_ unionByName _).orderBy(col("m_subs"), col("k"))
  }

  // ---- oracles: shared CTE prefixes, then each query's own tail -----

  /** CTEs `base` … `res`: integer vectors, squared norms, the coarse
    * codebook, every vector's coarse rank (`cass`) and each corpus
    * vector's residual against its nearest cell. */
  private val resSql: String = {
    val dims = Clustering.Dims
    val fullDot =
      s"CAST(list_sum(list_transform(range(1, ${dims + 1}), " +
        "i -> s.v[i]*c.ccv[i])) AS BIGINT)"
    s"""WITH base AS (
       |  SELECT vec_id, ${Similarity.ivecSql} AS v FROM embeddings),
       |sqt AS (
       |  SELECT vec_id, v,
       |    CAST(list_sum(list_transform(range(1, ${dims + 1}),
       |      i -> v[i]*v[i])) AS BIGINT) AS sq
       |  FROM base),
       |coarse AS (SELECT vec_id AS cell, v AS ccv, sq AS ccsq
       |           FROM sqt WHERE vec_id < $Kc),
       |cass AS (
       |  SELECT s.vec_id, s.v, c.cell, c.ccv,
       |    row_number() OVER (PARTITION BY s.vec_id ORDER BY
       |      s.sq - 2*$fullDot + c.ccsq ASC, c.cell ASC) AS crk0
       |  FROM sqt s CROSS JOIN coarse c),
       |res AS (
       |  SELECT vec_id, cell,
       |    list_transform(range(1, ${dims + 1}), i -> v[i] - ccv[i])
       |      AS r
       |  FROM cass WHERE crk0 = 1),""".stripMargin
  }

  /** [[resSql]] + CTEs `subs` … `enc`: the M=8 training and encode. */
  private val encSql: String = resSql + "\n" +
    s"""subs AS (
       |  SELECT vec_id, cell, m, sv, ${Pq.dotSql("sv", "sv")} AS ssq
       |  FROM (SELECT vec_id, cell, t.m AS m,
       |          list_transform(range(1, ${Pq.SubDims + 1}),
       |            i -> r[t.m*${Pq.SubDims} + i]) AS sv
       |        FROM res, range(0, ${Pq.M}) t(m))),
       |c0 AS (SELECT m, vec_id AS cent_id, sv AS cv, ssq AS csq
       |       FROM subs WHERE vec_id < ${Pq.PqK}),
       |${Pq.lloydSql()},
       |enc AS (
       |  SELECT vec_id, cell, m, cent_id AS code FROM (
       |    SELECT s.vec_id, s.cell, s.m, c.cent_id,
       |      row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
       |        s.ssq - 2*${Pq.dotSql("s.sv", "c.cv")} + c.csq ASC,
       |        c.cent_id ASC) AS crk
       |    FROM subs s JOIN c${Pq.Rounds} c ON c.m = s.m)
       |  WHERE crk = 1),""".stripMargin

  /** CTE `qres`: each query's residual per cell of rank ≤ `nprobe`. */
  private def qresSql(nprobe: Int): String =
    s"""qres AS (
       |  SELECT vec_id AS qid, cell,
       |    list_transform(range(1, ${Clustering.Dims + 1}), i -> v[i] - ccv[i])
       |      AS qr
       |  FROM cass WHERE crk0 <= $nprobe AND vec_id < ${Pq.NQueries}),""".stripMargin

  /** CTE `ex`: the exact-L2 truth, (qid, vec_id, erk ≤ `maxK`). */
  private def exactSql(maxK: Int): String = {
    val exDot =
      s"CAST(list_sum(list_transform(range(1, ${Clustering.Dims + 1}), " +
        "i -> q.v[i]*c.v[i])) AS BIGINT)"
    s"""ex AS (
       |  SELECT qid, vec_id, erk FROM (
       |    SELECT q.vec_id AS qid, c.vec_id,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        q.sq - 2*$exDot + c.sq ASC, c.vec_id ASC) AS erk
       |    FROM sqt q JOIN sqt c ON c.vec_id <> q.vec_id
       |    WHERE q.vec_id < ${Pq.NQueries})
       |  WHERE erk <= $maxK)""".stripMargin
  }

  val q87IvfpqOracle: String = encSql + "\n" + qresSql(NProbe) + "\n" +
    s"""qsubs AS (
       |  SELECT qid, cell, m, sv, ${Pq.dotSql("sv", "sv")} AS ssq
       |  FROM (SELECT qid, cell, t.m AS m,
       |          list_transform(range(1, ${Pq.SubDims + 1}),
       |            i -> qr[t.m*${Pq.SubDims} + i]) AS sv
       |        FROM qres, range(0, ${Pq.M}) t(m))),
       |dt AS (
       |  SELECT q.qid, q.cell, q.m, c.cent_id,
       |    q.ssq - 2*${Pq.dotSql("q.sv", "c.cv")} + c.csq AS pd
       |  FROM qsubs q JOIN c${Pq.Rounds} c ON c.m = q.m),
       |sc AS (
       |  SELECT d.qid, e.vec_id, CAST(sum(d.pd) AS BIGINT) AS adist
       |  FROM enc e JOIN dt d ON d.cell = e.cell AND d.m = e.m
       |    AND d.cent_id = e.code
       |  WHERE d.qid <> e.vec_id
       |  GROUP BY d.qid, e.vec_id)
       |SELECT qid, rk, vec_id, adist FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid
       |    ORDER BY adist ASC, vec_id ASC) AS rk FROM sc)
       |WHERE rk <= ${Pq.TopK}
       |ORDER BY qid, rk""".stripMargin

  val q178AnnFrontierOracle: String = {
    val cFin = s"c${Pq.Rounds}"
    val nq = Pq.NQueries
    encSql + "\n" +
    s"""qres AS (
       |  SELECT vec_id AS qid, cell, CAST(crk0 AS BIGINT) AS cell_rank,
       |    list_transform(range(1, ${Clustering.Dims + 1}), i -> v[i] - ccv[i])
       |      AS qr
       |  FROM cass WHERE crk0 <= ${FrontierNProbes.max} AND vec_id < $nq),
       |qsubs AS (
       |  SELECT qid, cell, cell_rank, m, sv,
       |    ${Pq.dotSql("sv", "sv")} AS ssq
       |  FROM (SELECT qid, cell, cell_rank, t.m AS m,
       |          list_transform(range(1, ${Pq.SubDims + 1}),
       |            i -> qr[t.m*${Pq.SubDims} + i]) AS sv
       |        FROM qres, range(0, ${Pq.M}) t(m))),
       |dt AS (
       |  SELECT q.qid, q.cell, q.cell_rank, q.m, c.cent_id,
       |    q.ssq - 2*${Pq.dotSql("q.sv", "c.cv")} + c.csq AS pd
       |  FROM qsubs q JOIN $cFin c ON c.m = q.m),
       |sc AS (
       |  SELECT d.qid, e.vec_id, CAST(sum(d.pd) AS BIGINT) AS adist,
       |    max(d.cell_rank) AS cell_rank
       |  FROM enc e JOIN dt d ON d.cell = e.cell AND d.m = e.m
       |    AND d.cent_id = e.code
       |  WHERE d.qid <> e.vec_id
       |  GROUP BY d.qid, e.vec_id),
       |${exactSql(FrontierKs.max)},
       |cfg AS (
       |  SELECT np.np AS nprobe, k.k AS k
       |  FROM (SELECT CAST(unnest([${FrontierNProbes.mkString(", ")}])
       |          AS BIGINT) AS np) np
       |  CROSS JOIN (SELECT CAST(unnest([${FrontierKs.mkString(", ")}])
       |          AS BIGINT) AS k) k),
       |cost AS (
       |  SELECT np.np AS nprobe, CAST(count(*) AS BIGINT) AS cand_rows
       |  FROM sc s JOIN (SELECT CAST(unnest([${FrontierNProbes
             .mkString(", ")}]) AS BIGINT) AS np) np
       |    ON s.cell_rank <= np.np
       |  GROUP BY np.np),
       |rnk AS (
       |  SELECT np.np AS nprobe, s.qid, s.vec_id,
       |    row_number() OVER (PARTITION BY np.np, s.qid
       |      ORDER BY s.adist ASC, s.vec_id ASC) AS rk
       |  FROM sc s JOIN (SELECT CAST(unnest([${FrontierNProbes
             .mkString(", ")}]) AS BIGINT) AS np) np
       |    ON s.cell_rank <= np.np),
       |hits AS (
       |  SELECT r.nprobe, k.k AS k, CAST(count(*) AS BIGINT) AS sum_hits
       |  FROM rnk r
       |  JOIN (SELECT CAST(unnest([${FrontierKs.mkString(", ")}])
       |          AS BIGINT) AS k) k ON r.rk <= k.k
       |  JOIN ex ON ex.qid = r.qid AND ex.vec_id = r.vec_id
       |    AND ex.erk <= k.k
       |  GROUP BY r.nprobe, k.k)
       |SELECT cfg.nprobe, cfg.k, CAST($nq AS BIGINT) AS n_queries,
       |  coalesce(c.cand_rows, 0) AS cand_rows,
       |  coalesce(h.sum_hits, 0) AS sum_hits,
       |  CAST(coalesce(h.sum_hits, 0) * 1000000 // ($nq * cfg.k)
       |    AS BIGINT) AS recall_ppm
       |FROM cfg
       |LEFT JOIN cost c ON c.nprobe = cfg.nprobe
       |LEFT JOIN hits h ON h.nprobe = cfg.nprobe AND h.k = cfg.k
       |ORDER BY cfg.nprobe, cfg.k""".stripMargin
  }

  val q179AnnQuantizerOracle: String = {
    val nq = Pq.NQueries
    val bits = java.lang.Integer.numberOfTrailingZeros(Pq.PqK)
    // one unrolled build per M, every CTE name suffixed `_M`
    def cfg(mSubs: Int): String = {
      val subDims = Clustering.Dims / mSubs
      val sfx = s"_$mSubs"
      val subsName = s"subs$sfx"
      val cFin = s"c${Pq.Rounds}$sfx"
      s"""$subsName AS (
         |  SELECT vec_id, cell, m, sv,
         |    ${Pq.dotSql("sv", "sv", subDims)} AS ssq
         |  FROM (SELECT vec_id, cell, t.m AS m,
         |          list_transform(range(1, ${subDims + 1}),
         |            i -> r[t.m*$subDims + i]) AS sv
         |        FROM res, range(0, $mSubs) t(m))),
         |c0$sfx AS (SELECT m, vec_id AS cent_id, sv AS cv, ssq AS csq
         |       FROM $subsName WHERE vec_id < ${Pq.PqK}),
         |${Pq.lloydSql(subsName, subDims, sfx)},
         |enc$sfx AS (
         |  SELECT vec_id, cell, m, cent_id AS code FROM (
         |    SELECT s.vec_id, s.cell, s.m, c.cent_id,
         |      row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
         |        s.ssq - 2*${Pq.dotSql("s.sv", "c.cv", subDims)}
         |          + c.csq ASC,
         |        c.cent_id ASC) AS crk
         |    FROM $subsName s JOIN $cFin c ON c.m = s.m)
         |  WHERE crk = 1),
         |qsubs$sfx AS (
         |  SELECT qid, cell, m, sv,
         |    ${Pq.dotSql("sv", "sv", subDims)} AS ssq
         |  FROM (SELECT qid, cell, t.m AS m,
         |          list_transform(range(1, ${subDims + 1}),
         |            i -> qr[t.m*$subDims + i]) AS sv
         |        FROM qres, range(0, $mSubs) t(m))),
         |dt$sfx AS (
         |  SELECT q.qid, q.cell, q.m, c.cent_id,
         |    q.ssq - 2*${Pq.dotSql("q.sv", "c.cv", subDims)} + c.csq
         |      AS pd
         |  FROM qsubs$sfx q JOIN $cFin c ON c.m = q.m),
         |sc$sfx AS (
         |  SELECT d.qid, e.vec_id, CAST(sum(d.pd) AS BIGINT) AS adist
         |  FROM enc$sfx e JOIN dt$sfx d ON d.cell = e.cell
         |    AND d.m = e.m AND d.cent_id = e.code
         |  WHERE d.qid <> e.vec_id
         |  GROUP BY d.qid, e.vec_id),
         |rnk$sfx AS (
         |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
         |    ORDER BY adist ASC, vec_id ASC) AS rk
         |  FROM sc$sfx)""".stripMargin
    }
    def arm(mSubs: Int, k: Int): String =
      s"""SELECT CAST($mSubs AS BIGINT) AS m_subs,
         |  CAST($k AS BIGINT) AS k,
         |  CAST(${mSubs * bits} AS BIGINT) AS code_bits,
         |  CAST($nq AS BIGINT) AS n_queries,
         |  (SELECT CAST(count(*) AS BIGINT) FROM sc_$mSubs)
         |    AS cand_rows,
         |  (SELECT CAST(count(*) AS BIGINT) FROM rnk_$mSubs r
         |   JOIN ex ON ex.qid = r.qid AND ex.vec_id = r.vec_id
         |   WHERE r.rk <= $k AND ex.erk <= $k) AS sum_hits""".stripMargin
    val armsSql = (for (m <- QuantMs; k <- FrontierKs)
      yield arm(m, k)).mkString("\nUNION ALL\n")
    resSql + "\n" + qresSql(QuantNProbe) + "\n" +
    s"""${QuantMs.map(cfg).mkString(",\n")},
       |${exactSql(FrontierKs.max)}
       |SELECT m_subs, k, code_bits, n_queries, cand_rows, sum_hits,
       |  CAST(sum_hits * 1000000 // (n_queries * k) AS BIGINT)
       |    AS recall_ppm
       |FROM ($armsSql)
       |ORDER BY m_subs, k""".stripMargin
  }
}
