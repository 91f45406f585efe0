package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (PQ) + asymmetric-distance (ADC) search over
  * the `embeddings` table — the compression half of the FAISS-style
  * IVF-PQ index that `ann_ivf` (coarse cells) and `q70_kmeans`
  * (codebook training) already provide the other halves of
  * (Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
  * Search", TPAMI 2011).
  *
  * The op trains M independent sub-codebooks (one per 8-dim
  * subspace) with the q70 Lloyd iteration, ENCODES every corpus
  * vector as M small centroid ids, and answers queries with ADC: the
  * query builds an M×K table of exact subspace distances to every
  * centroid, and each database vector's approximate distance is the
  * sum of M table lookups selected by its code — the corpus is never
  * touched per query beyond its codes.
  *
  * Determinism/oracle strategy (identical to q70 — nothing here is
  * approximate ARITHMETIC; PQ's approximation is the quantization
  * itself, which both engines perform identically):
  *  - exact integer milli-vectors ([[Similarity.ivec]]), sliced into
  *    M=8 contiguous 8-dim subvectors (the canonical PQ shape: many
  *    LOW-dimensional subquantizers beat few high-dimensional ones —
  *    measured here too, and 8-dim is what FAISS defaults to);
  *  - assignment distance `|v|² − 2·(v·c) + |c|²` in pure integer
  *    arithmetic, ties to the smallest centroid id;
  *  - centroid update re-quantizes as `floor(double(Σ vᵢ) / n)` per
  *    component (one IEEE-754 op on identical integer inputs —
  *    bit-identical in Spark and DuckDB);
  *  - a FIXED 2 Lloyd rounds per subspace keeps the oracle
  *    expressible as unrolled CTEs (the round count is the q70 knob;
  *    production PQ builds also run a small fixed budget).
  *
  * 100 TB posture: codes are M small ints per vector (M·log₂K = 32
  * bits here vs 64 float32 dims = 256 bytes — a 64× memory
  * compression), which is what makes billion-vector indexes fit in
  * RAM. Training touches the corpus once per round with the codebook
  * BROADCAST and the argmin window partitioned per (vector,
  * subspace); the update shuffle collapses to O(M·K·subdims) groups
  * via map-side partial aggregation regardless of corpus size. Every
  * join here is an EQUI-join on the subspace id against a broadcast
  * side (no BNLJ): assignment matches each subvector to its
  * subspace's K centroids, and scoring joins codes to the per-query
  * distance table on (subspace, code). Per-query cost is O(M·K)
  * table build + one map-side lookup-sum over the codes, and the
  * final top-k rides a WindowGroupLimit-pruned rank. At real scale
  * the query set is a bounded batch (pinned here exactly like
  * ann_brute's), and PQ composes with ann_ivf's coarse cells:
  * scan only the probed cells' codes — residual quantization is a
  * parameter change, not a shape change ([[Ivfpq]] builds that index
  * from the same `subvectorsOf`/`trainCents`/`assign`).
  */
object Pq {

  val M = 8         // subspaces
  val SubDims = 8   // 64-dim embeddings / M
  val PqK = 16      // centroids per subspace (k ≪ n is the SHAPE)
  val Rounds = 2    // fixed Lloyd rounds per subspace — see scaladoc
  val NQueries = 5  // pinned query panel, the ann_brute convention
  val TopK = 10

  /** Explode a (vec_id, `vcol`, …) relation into its `mSubs` exact
    * integer subvectors of `Clustering.Dims / mSubs` dims each, with
    * squared norms: adds (m, sv, ssq), drops `vcol`, keeps every other
    * column (IVF-PQ carries the coarse cell through). The training and
    * assignment below are subspace-count-agnostic (the `m` column
    * carries through), so a different M is only a different explode
    * shape (q179's quantizer sweep). */
  private[operators] def subvectorsOf(df: DataFrame, vcol: String,
      mSubs: Int = M): DataFrame = {
    val subDims = Clustering.Dims / mSubs
    df.withColumn("m", explode(sequence(lit(0), lit(mSubs - 1))))
      .withColumn("sv",
        slice(col(vcol), col("m") * subDims + 1, lit(subDims)))
      .withColumn("ssq", Similarity.idot(col("sv"), col("sv")))
      .drop(vcol)
  }

  /** (vec_id, m, sv, ssq) over the raw embeddings. */
  private def subvectors(s: SparkSession, dir: String): DataFrame =
    subvectorsOf(Similarity.exactPairsBase(s, dir)
      .select(col("vec_id"), col("v")), "v")

  /** The fixed-round Lloyd training loop over any subvector relation:
    * returns the M×K codebook (m, cent_id, cv, csq), seeded with the
    * first-K vectors' subvectors. */
  private[operators] def trainCents(subs: DataFrame): DataFrame = {
    var cents = subs.filter(col("vec_id") < PqK)
      .select(col("m"), col("vec_id").as("cent_id"),
        col("sv").as("cv"), col("ssq").as("csq"))
      // K×M rows: round 1 broadcasts the seed, not a rescan of subs
      .localCheckpoint(true)
    for (_ <- 1 to Rounds) {
      val sums = assign(subs, cents)
        .select(col("m"), col("cent_id"),
          posexplode(col("sv")).as(Seq("i", "comp")))
        .groupBy(col("m"), col("cent_id"), col("i"))
        .agg(sum(col("comp")).as("sm"), count(lit(1)).as("n"))
        .withColumn("c",
          floor(col("sm").cast("double") / col("n")).cast("long"))
      cents = sums.groupBy(col("m"), col("cent_id"))
        .agg(transform(
          sort_array(collect_list(struct(col("i"), col("c")))),
          e => e.getField("c")).as("cv"))
        .withColumn("csq", Similarity.idot(col("cv"), col("cv")))
        // k×M rows; the barrier keeps round r+1 independent of round r
        .localCheckpoint(true)
    }
    cents
  }

  /** Nearest-centroid assignment: equi-join on the subspace id
    * against the broadcast codebook, argmin by (dist, cent_id).
    *
    * The argmin is a partial-aggregating
    * `min(struct(dist, cent_id, payload…))` groupBy, not a
    * row_number window. (dist, cent_id) is unique within a
    * (vec_id, m) group, so the lexicographic struct minimum IS the
    * rank-1 row — payload fields ride along untouched — while
    * the map-side combine collapses the K candidate rows per
    * subvector BEFORE the exchange (the window form shuffled all K
    * candidates and sorted them: K× the shuffle bytes plus a
    * corpus-scale sort, per training round and per encode). */
  private[operators] def assign(subs: DataFrame,
      cents: DataFrame): DataFrame = {
    val joined = subs.join(broadcast(cents), Seq("m"))
      .withColumn("dist",
        col("ssq") - lit(2L) * Similarity.idot(col("sv"), col("cv"))
          + col("csq"))
    val payload = joined.columns
      .filterNot(Seq("vec_id", "m", "dist", "cent_id").contains)
    val st = struct(col("dist") +: col("cent_id") +: payload.map(col): _*)
    joined.groupBy(col("vec_id"), col("m")).agg(min(st).as("_arg"))
      .select(col("vec_id") +: col("m") +: col("_arg.dist") +:
        col("_arg.cent_id") +: payload.map(c => col("_arg." + c)): _*)
  }

  /** q85: train M sub-codebooks, encode the corpus, ADC-score the
    * pinned query panel; returns (qid, rk, vec_id, adist). */
  def q85PqAdc(s: SparkSession, dir: String): DataFrame = {
    // ONE quantization pass: subs feeds both training rounds, the
    // encode and the query distance table — unbarriered, the base
    // scan + ivec kernel + subspace explode re-ran once per consumer
    // (measured: three corpus-scale Exchange>Project stages of ~8 s
    // summed task time each at sf0.1)
    val subs = subvectors(s, dir).localCheckpoint(false)
    val cents = trainCents(subs)

    // encode: final assignment → (vec_id, m, code)
    val codes = assign(subs, cents)
      .select(col("vec_id"), col("m"), col("cent_id").as("code"))

    // ADC table: the query panel's exact distance to EVERY centroid,
    // M×K rows per query — this is the only place query vectors exist
    val dt = subs.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("m"),
        col("sv").as("qv"), col("ssq").as("qsq"))
      .join(broadcast(cents), Seq("m"))
      .select(col("qid"), col("m"), col("cent_id"),
        (col("qsq") - lit(2L) * Similarity.idot(col("qv"), col("cv"))
          + col("csq")).as("pd"))

    // scoring: codes never rescan vectors — equi-join on
    // (subspace, code) against the broadcast table, sum M lookups.
    // Both frames descend from the same base scan, so the join keys
    // are qualified through explicit aliases: relying on Spark's
    // dataset-id self-join disambiguation emits `trivially true
    // equals predicate` warnings and is fragile across upgrades.
    val scored = codes.alias("enc")
      .join(broadcast(dt.alias("adc")),
        col("enc.m") === col("adc.m") &&
          col("enc.code") === col("adc.cent_id"))
      .filter(col("qid") =!= col("vec_id"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("pd")).as("adist"))

    val wq = Window.partitionBy(col("qid"))
      .orderBy(col("adist").asc, col("vec_id").asc)
    scored.withColumn("rk", row_number().over(wq).cast("int"))
      .filter(col("rk") <= TopK)
      .select(col("qid"), col("rk"), col("vec_id"), col("adist"))
      .orderBy(col("qid"), col("rk"))
  }

  /** Integer dot of two DuckDB lists of length `n`. */
  private[operators] def dotSql(a: String, b: String,
      n: Int = SubDims): String =
    s"CAST(list_sum(list_transform(range(1, ${n + 1}), " +
      s"i -> $a[i]*$b[i])) AS BIGINT)"

  /** The [[Rounds]] Lloyd rounds as DuckDB CTEs, keyed by subspace,
    * over a subvector CTE `subs` of width `subDims`: round r reads
    * codebook `c{r-1}` and writes `c{r}`, starting from the seed `c0`.
    * `sfx` suffixes every CTE name so two quantizer configs can unroll
    * side by side in one query (q179). */
  private[operators] def lloydSql(subs: String = "subs",
      subDims: Int = SubDims, sfx: String = ""): String =
    (1 to Rounds).map { r =>
      s"""d$r$sfx AS (
         |  SELECT s.vec_id, s.m, s.sv, c.cent_id,
         |    s.ssq - 2*${dotSql("s.sv", "c.cv", subDims)} + c.csq AS dist
         |  FROM $subs s JOIN c${r - 1}$sfx c ON c.m = s.m),
         |a$r$sfx AS (
         |  SELECT m, cent_id, sv FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id, m
         |      ORDER BY dist ASC, cent_id ASC) AS crk FROM d$r$sfx)
         |  WHERE crk = 1),
         |s$r$sfx AS (
         |  SELECT m, cent_id, t.i AS i,
         |    CAST(sum(sv[t.i+1]) AS BIGINT) AS sm, count(*) AS n
         |  FROM a$r$sfx, range(0, $subDims) t(i) GROUP BY m, cent_id, t.i),
         |c$r$sfx AS (
         |  SELECT m, cent_id, cv, ${dotSql("cv", "cv", subDims)} AS csq
         |  FROM (SELECT m, cent_id,
         |          list(CAST(floor(CAST(sm AS DOUBLE)/n) AS BIGINT)
         |            ORDER BY i) AS cv
         |        FROM s$r$sfx GROUP BY m, cent_id))""".stripMargin
    }.mkString(",\n")

  val q85PqAdcOracle: String = {
    val cFin = s"c$Rounds"
    s"""WITH base AS (
       |  SELECT vec_id, ${Similarity.ivecSql} AS v FROM embeddings),
       |subs AS (
       |  SELECT vec_id, m, sv, ${dotSql("sv", "sv")} AS ssq
       |  FROM (SELECT vec_id, t.m AS m,
       |          list_transform(range(1, ${SubDims + 1}),
       |            i -> v[t.m*$SubDims + i]) AS sv
       |        FROM base, range(0, $M) t(m))),
       |c0 AS (SELECT m, vec_id AS cent_id, sv AS cv, ssq AS csq
       |       FROM subs WHERE vec_id < $PqK),
       |${lloydSql()},
       |enc AS (
       |  SELECT vec_id, m, cent_id AS code FROM (
       |    SELECT s.vec_id, s.m, c.cent_id,
       |      row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
       |        s.ssq - 2*${dotSql("s.sv", "c.cv")} + c.csq ASC,
       |        c.cent_id ASC) AS crk
       |    FROM subs s JOIN $cFin c ON c.m = s.m)
       |  WHERE crk = 1),
       |dt AS (
       |  SELECT q.vec_id AS qid, q.m, c.cent_id,
       |    q.ssq - 2*${dotSql("q.sv", "c.cv")} + c.csq AS pd
       |  FROM subs q JOIN $cFin c ON c.m = q.m
       |  WHERE q.vec_id < $NQueries),
       |sc AS (
       |  SELECT d.qid, e.vec_id, CAST(sum(d.pd) AS BIGINT) AS adist
       |  FROM enc e JOIN dt d ON d.m = e.m AND d.cent_id = e.code
       |  WHERE d.qid <> e.vec_id
       |  GROUP BY d.qid, e.vec_id)
       |SELECT qid, rk, vec_id, adist FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid
       |    ORDER BY adist ASC, vec_id ASC) AS rk FROM sc)
       |WHERE rk <= $TopK
       |ORDER BY qid, rk""".stripMargin
  }
}
