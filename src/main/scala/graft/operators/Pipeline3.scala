package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.TextAnalysis.{normSql, tokens, tokensSql}

/** Third block of training-data pipeline operators: token-budget
  * sequence packing, CDC merge/upsert application, SemDeDup-style
  * cluster-partitioned semantic dedup, and cross-document duplicated
  * n-gram span profiling.
  *
  * Same house rules as `Pipeline`/`Pipeline2`: integer/md5-exact
  * arithmetic so the DuckDB oracle hash-matches, codegen kernels for
  * every per-row text pass, and no all-pairs stage anywhere — each
  * candidate generator is an equi-join on a blocking key with a
  * bounded neighborhood.
  */
object Pipeline3 {

  val PackBudget = 512L
  val PackShards = 8L

  /** q66: token-budget sequence packing — the shard-assignment step of
    * a training run: documents are packed greedily (in doc_id order)
    * into fixed token-budget sequences, per language. Packing is
    * two-level: docs first land in `doc_id % PackShards` shards, then
    * pack contiguously within (lang, shard) — the running token offset
    * decides each doc's sequence, so a doc may straddle its sequence
    * boundary (standard overflow packing). Shape for 100 TB: the
    * cumulative sum runs per (lang, shard) — shard count is the
    * parallelism knob (a cluster run sets it O(executors); a GLOBAL
    * per-lang cumsum would be the q63 single-partition anti-pattern
    * the plan audit bans). One window + one hash agg on the same key.
    */
  def q66Pack(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang"), col("shard"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.spread(Tables.load(s, dir, "documents"))
      .select(col("doc_id"), col("lang"),
        size(tokens(col("text"))).cast("long").as("n_toks"),
        (col("doc_id") % PackShards).as("shard"))
      .withColumn("cum", sum(col("n_toks")).over(w))
      .withColumn("seq", expr(s"(cum - n_toks) div $PackBudget"))
      .groupBy(col("lang"), col("shard"), col("seq"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy(col("lang"), col("shard"), col("seq"))
  }

  val q66PackOracle: String =
    s"""WITH toks AS (
       |  SELECT doc_id, lang,
       |    CAST(len($tokensSql) AS BIGINT) AS n_toks,
       |    doc_id % $PackShards AS shard
       |  FROM documents),
       |packed AS (
       |  SELECT doc_id, lang, shard, n_toks,
       |    CAST((sum(n_toks) OVER (PARTITION BY lang, shard ORDER BY doc_id
       |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |     - n_toks) // $PackBudget AS BIGINT) AS seq
       |  FROM toks)
       |SELECT lang, shard, seq, count(*) AS n_docs,
       |  CAST(sum(n_toks) AS BIGINT) AS n_tokens,
       |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM packed GROUP BY lang, shard, seq
       |ORDER BY lang, shard, seq""".stripMargin

  /** q67: CDC MERGE (upsert/delete apply) — the warehouse maintenance
    * op: a change feed of (key, seq, op I/U/D, payload) rows is
    * collapsed to latest-per-key and applied to a base snapshot.
    * The feed is derived deterministically from `orders` itself so the
    * oracle sees identical inputs: keys ≡ 0 (mod 7) get two update
    * versions (latest wins), keys ≡ 1 get an update then a delete
    * (the delete must win), keys ≡ 2 spawn inserts under fresh
    * negative keys (collision-free at any scale factor).
    *
    * Shape for 100 TB: collapse is one window over the (small) feed;
    * apply is one anti-join plus a union — both shuffle on the merge
    * key only, the Delta/Iceberg MERGE shape. With the base stored
    * through [[graft.storage.ParquetBackend]]'s bucketed layout the
    * base side of the anti-join is exchange-free (BucketJoinSpec);
    * nothing rescans or rewrites untouched data.
    */
  def q67CdcMerge(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("price_cents"))
    def feedOf(mod: Int, seq: Int, op: String, key: Column,
        status: Column, price: Column) =
      orders.filter(col("o_orderkey") % 7 === mod)
        .select(key.as("k"), lit(seq).as("seq"), lit(op).as("op"),
          col("o_custkey").as("ck"), status.as("st"), price.as("pc"))
    val feed =
      feedOf(0, 1, "U", col("o_orderkey"), col("o_orderstatus"),
          col("price_cents") + 100000L)
        .unionAll(feedOf(0, 2, "U", col("o_orderkey"), col("o_orderstatus"),
          col("price_cents") + 200000L))
        .unionAll(feedOf(1, 1, "U", col("o_orderkey"), col("o_orderstatus"),
          col("price_cents") + 100000L))
        .unionAll(feedOf(1, 2, "D", col("o_orderkey"), col("o_orderstatus"),
          lit(null).cast("long")))
        .unionAll(feedOf(2, 1, "I", -col("o_orderkey") - 1, lit("N"),
          col("price_cents")))
    val latest = feed
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("k")).orderBy(col("seq").desc)))
      .filter(col("rn") === 1)
    val upserts = latest.filter(col("op") =!= "D")
      .select(col("k").as("o_orderkey"), col("ck").as("o_custkey"),
        col("st").as("o_orderstatus"), col("pc").as("price_cents"))
    val untouched = orders.join(latest.select(col("k").as("o_orderkey")),
      Seq("o_orderkey"), "left_anti")
    untouched.unionAll(upserts).orderBy(col("o_orderkey"))
  }

  val q67CdcMergeOracle: String =
    """WITH base AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
      |  FROM orders),
      |feed AS (
      |  SELECT o_orderkey AS k, 1 AS seq, 'U' AS op, o_custkey AS ck,
      |    o_orderstatus AS st, price_cents + 100000 AS pc
      |  FROM base WHERE o_orderkey % 7 = 0
      |  UNION ALL
      |  SELECT o_orderkey, 2, 'U', o_custkey, o_orderstatus,
      |    price_cents + 200000 FROM base WHERE o_orderkey % 7 = 0
      |  UNION ALL
      |  SELECT o_orderkey, 1, 'U', o_custkey, o_orderstatus,
      |    price_cents + 100000 FROM base WHERE o_orderkey % 7 = 1
      |  UNION ALL
      |  SELECT o_orderkey, 2, 'D', o_custkey, o_orderstatus,
      |    CAST(NULL AS BIGINT) FROM base WHERE o_orderkey % 7 = 1
      |  UNION ALL
      |  SELECT -o_orderkey - 1, 1, 'I', o_custkey, 'N',
      |    price_cents FROM base WHERE o_orderkey % 7 = 2),
      |latest AS (
      |  SELECT * FROM (
      |    SELECT k, op, ck, st, pc,
      |      row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
      |    FROM feed) WHERE rn = 1)
      |SELECT o_orderkey, o_custkey, o_orderstatus, price_cents
      |FROM base WHERE o_orderkey NOT IN (SELECT k FROM latest)
      |UNION ALL
      |SELECT k, ck, st, pc FROM latest WHERE op <> 'D'
      |ORDER BY o_orderkey""".stripMargin

  val SemCentroids = 32
  val SemWindow = 8
  val SemTake = 50

  /** q68: SemDeDup-style semantic dedup — cluster the corpus against a
    * coarse codebook, then flag members whose cosine to a nearby
    * cluster-mate is highest (Abbas et al. 2023's cluster-then-prune
    * shape). The codebook is the first [[SemCentroids]] vectors
    * (deterministic stand-in for trained k-means, as in `ann_ivf`);
    * within each cluster members are ordered by similarity-to-centroid
    * and each is compared only to its [[SemWindow]] predecessors in
    * that ordering — the sorted-neighborhood method: near-duplicates
    * have near-identical centroid cosines, so they land adjacent.
    * Work is O(n·W), never O(n²/k). A production run drops members
    * above a cosine threshold; like `dedup_embedding`, the gated query
    * reports the top-[[SemTake]] evidence list (the bench corpus
    * plants no semantic dups, so any fixed τ would gate on emptiness —
    * Pipeline3Spec plants a near-dup and asserts it surfaces first).
    *
    * Shape for 100 TB: assignment is a broadcast of the codebook;
    * ranking and the neighbor join both key on cent_id. The codebook
    * size is the scale contract (like the LSH band width): clusters
    * grow O(n/k), so k must track n to keep per-cluster sorts bounded
    * — a cluster deployment trains k ∝ n/⟨cluster⟩ centroids.
    */
  def q68SemDedup(s: SparkSession, dir: String): DataFrame = {
    import Similarity.{cosE6, idot}
    val b = Similarity.exactPairsBase(s, dir)
    val cents = broadcast(b.filter(col("vec_id") < SemCentroids)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"),
        col("sq").as("csq")))
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(col("cent_cos").desc, col("cent_id").asc)
    val assigned = b.crossJoin(cents)
      .withColumn("cent_cos",
        cosE6(idot(col("v"), col("cv")), col("sq"), col("csq")))
      .withColumn("crk", row_number().over(wAssign))
      .filter(col("crk") === 1)
      .select(col("vec_id"), col("v"), col("sq"), col("cent_id"),
        col("cent_cos"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("cent_id"))
          .orderBy(col("cent_cos").desc, col("vec_id").asc)))
    val withOff = assigned
      .withColumn("off", explode(array((1 to SemWindow).map(lit): _*)))
      .withColumn("prk", col("rk") - col("off"))
    withOff.as("m").join(assigned.as("p"),
        col("m.cent_id") === col("p.cent_id") &&
          col("m.prk") === col("p.rk"))
      .withColumn("cos_e6",
        cosE6(idot(col("m.v"), col("p.v")), col("m.sq"), col("p.sq")))
      .groupBy(col("m.vec_id").as("vec_id"), col("m.cent_id").as("cent_id"))
      .agg(max(col("cos_e6")).as("best_cos_e6"),
        count(lit(1)).as("n_cmp"))
      .orderBy(col("best_cos_e6").desc, col("vec_id").asc)
      .limit(SemTake)
  }

  val q68SemDedupOracle: String = {
    import Similarity.ivecSql
    val cos = (a: String, b: String, sqa: String, sqb: String) =>
      s"""CAST(floor(CAST(list_sum(list_transform(range(1, len($a)+1),
         |      i -> $a[i]*$b[i])) AS DOUBLE)
         |  / (sqrt(CAST($sqa AS DOUBLE)) * sqrt(CAST($sqb AS DOUBLE)))
         |  * 1e6) AS BIGINT)""".stripMargin
    s"""WITH base AS (
       |  SELECT vec_id, $ivecSql AS v FROM embeddings),
       |sq AS (
       |  SELECT vec_id, v,
       |    CAST(list_sum(list_transform(range(1, len(v)+1), i -> v[i]*v[i])) AS BIGINT) AS sq
       |  FROM base),
       |cents AS (SELECT vec_id AS cent_id, v AS cv, sq AS csq FROM sq
       |          WHERE vec_id < $SemCentroids),
       |assigned AS (
       |  SELECT vec_id, v, sq, cent_id, cent_cos FROM (
       |    SELECT s.vec_id, s.v, s.sq, c.cent_id,
       |      ${cos("s.v", "c.cv", "s.sq", "c.csq")} AS cent_cos,
       |      row_number() OVER (PARTITION BY s.vec_id ORDER BY
       |        ${cos("s.v", "c.cv", "s.sq", "c.csq")} DESC, c.cent_id ASC) AS crk
       |    FROM sq s CROSS JOIN cents c) WHERE crk = 1),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY cent_id
       |    ORDER BY cent_cos DESC, vec_id ASC) AS rk
       |  FROM assigned),
       |pairs AS (
       |  SELECT m.vec_id, m.cent_id,
       |    ${cos("m.v", "p.v", "m.sq", "p.sq")} AS cos_e6
       |  FROM ranked m JOIN ranked p
       |    ON m.cent_id = p.cent_id
       |   AND p.rk BETWEEN m.rk - $SemWindow AND m.rk - 1)
       |SELECT vec_id, cent_id, max(cos_e6) AS best_cos_e6,
       |  count(*) AS n_cmp
       |FROM pairs GROUP BY vec_id, cent_id
       |ORDER BY best_cos_e6 DESC, vec_id ASC LIMIT $SemTake""".stripMargin
  }

  val SpanGram = 8

  /** q69: cross-document duplicated-span profiling — the word-level
    * form of exact-substring dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): an [[SpanGram]]-token
    * gram is duplicated if it occurs in ≥2 distinct documents; each
    * doc reports how much of it is covered by duplicated grams — the
    * `dup_ratio` quality signal of RefinedWeb/Dolma-style pipelines.
    *
    * Shape for 100 TB: gram doc-frequency is ONE hash aggregation on
    * the gram digest (no posting list is ever materialized — df ≥ 2 is
    * a count, not a pair join, so boilerplate grams cost O(occurrences)
    * not O(occurrences²)); the verdict join back to occurrences is an
    * equi-join on the same digest key. Per-doc totals ride the shingle
    * array length, map-only. Same codegen shingle kernel as q50.
    */
  def q69DupSpans(s: SparkSession, dir: String): DataFrame = {
    val k = SpanGram
    val withSh = Tables.spread(Tables.load(s, dir, "documents"))
      .select(col("doc_id"),
        graft.functions.TextFunctions.tokenShingleMd5(
          tokens(col("text")), k).as("sh"))
    val grams = withSh.select(col("doc_id"), explode(col("sh")).as("sh"))
    val dupSh = grams.groupBy(col("sh"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= 2)
      .select(col("sh"))
    val dupPerDoc = grams.join(dupSh, Seq("sh"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_grams"))
    withSh.select(col("doc_id"), size(col("sh")).cast("long").as("n_grams"))
      .join(dupPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"))
      .withColumn("dup_pct", expr("n_dup_grams * 100 div n_grams"))
      .orderBy(col("doc_id"))
  }

  val q69DupSpansOracle: String = {
    val k = SpanGram
    s"""WITH base AS (
       |  SELECT doc_id, $tokensSql AS toks FROM documents),
       |sh AS (
       |  SELECT doc_id, unnest(list_transform(
       |    range(1, greatest(1, len(toks) - ${k - 1}) + 1),
       |    i -> md5(array_to_string(toks[i : i + ${k - 1}], ' ')))) AS sh
       |  FROM base),
       |dup AS (
       |  SELECT sh FROM (SELECT sh, count(DISTINCT doc_id) AS df
       |                  FROM sh GROUP BY sh) WHERE df >= 2),
       |per_doc AS (
       |  SELECT doc_id, count(*) AS n_dup_grams
       |  FROM sh JOIN dup USING (sh) GROUP BY doc_id),
       |totals AS (
       |  SELECT doc_id,
       |    CAST(greatest(1, len(toks) - ${k - 1}) AS BIGINT) AS n_grams
       |  FROM base)
       |SELECT t.doc_id, t.n_grams,
       |  coalesce(p.n_dup_grams, 0) AS n_dup_grams,
       |  coalesce(p.n_dup_grams, 0) * 100 // t.n_grams AS dup_pct
       |FROM totals t LEFT JOIN per_doc p USING (doc_id)
       |ORDER BY t.doc_id""".stripMargin
  }

  /** DSIR ratio fixed-point scale: a gram's importance ratio is
    * `tgt_count * DsirScale div raw_count` — exact integer floor
    * division in both engines. At 2^63 the headroom is raw counts up
    * to ~9·10^12 per gram; a 100 TB corpus with hotter grams lifts
    * this to DECIMAL(38,0) the way q55's PMI did. */
  val DsirScale = 1000000L

  /** q73: data-selection importance weighting in the DSIR family (Xie
    * et al. 2023, "Data Selection for Language Models via Importance
    * Resampling"): score every document by how much its token
    * distribution resembles a target domain (here `lang='en'`)
    * relative to the raw corpus, then keep/resample by the score. DSIR
    * proper uses hashed-ngram log-likelihood ratios; this keeps the
    * same structure — per-gram target/raw frequency ratio, summed over
    * the document's occurrences — but replaces `log p_t(g)/p_r(g)`
    * with the integer-scaled ratio `tgt(g)*Scale div raw(g)`, a
    * monotone-per-gram proxy that both engines compute bit-identically
    * (floor division on positive BIGINTs; DuckDB `//`).
    *
    * Plan shape (the part that matters at 100 TB): two corpus passes,
    * the q36 tf-idf template. Pass 1 explodes tokens and builds the
    * vocab-sized ratio table in ONE aggregation — `raw` and `tgt` are
    * a count and a conditional sum over the same shuffle, never two
    * scans. Pass 2 re-explodes and equi-joins grams to ratios (the
    * table is vocab-sized: broadcastable for curated targets, shuffle
    * join for web-scale vocab — Spark picks by size), then one
    * groupBy(doc_id). Grams unseen in the target contribute 0 via the
    * left join, so out-of-domain docs score low rather than erroring
    * on a missing gram. */
  def q73DsirWeight(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.spread(Tables.load(s, dir, "documents"))
      .select(col("doc_id"), col("lang"),
        explode(tokens(col("text"))).as("w"))
    val ratios = toks
      .groupBy(col("w"))
      .agg(count(lit(1)).as("raw"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("tgt"))
      .filter(col("tgt") > 0)
      .select(col("w"), expr(s"tgt * $DsirScale div raw").as("r"))
    toks.join(ratios, Seq("w"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(coalesce(col("r"), lit(0L))).as("dsir_score"))
      .orderBy(col("doc_id"))
  }

  /** q75: language-model quality scoring in the CCNet family (Wenzek
    * et al. 2020, "CCNet: Extracting High Quality Monolingual Datasets
    * from Web Crawl Data"): score each document under a bigram LM
    * trained on the corpus itself — fluent documents (whose bigrams
    * are corpus-typical) score high, word-soup scores low. CCNet uses
    * per-token log-perplexity from a pretrained KenLM; this keeps the
    * structure — train counts, score each doc by its average bigram
    * probability — with `P(w2|w1)` as the integer-scaled ratio
    * `cnt(w1 w2)*Scale div cnt(w1)` and the doc score as the integer
    * mean over its bigrams (no log: a monotone-enough proxy both
    * engines compute bit-identically).
    *
    * Plan shape: the q73 two-pass template, one level up — pass 1
    * builds the bigram-vocab-sized probability table (bigram counts
    * equi-joined to their prefix unigram counts); pass 2 re-derives
    * doc bigrams and equi-joins them to probabilities, one
    * groupBy(doc_id). Every doc bigram exists in the corpus table by
    * construction, so the scoring join is inner; docs with <2 tokens
    * surface with n_bigrams=0, score 0 via the final left join rather
    * than silently dropping. */
  def q75LmScore(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextStatFunctions.tokenNgrams
    val docs = Tables.spread(Tables.load(s, dir, "documents"))
    val uni = docs
      .select(explode(tokenNgrams(col("text"), 1)).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("cnt_w1"))
    val bi = docs
      .select(explode(tokenNgrams(col("text"), 2)).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("cnt_bi"))
    val probs = bi
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
      .join(uni, "w1")
      .select(col("bigram"), expr(s"cnt_bi * $DsirScale div cnt_w1").as("p"))
    val scored = docs
      .select(col("doc_id"), explode(tokenNgrams(col("text"), 2)).as("bigram"))
      .join(probs, "bigram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        expr("sum(p) div count(1)").as("lm_score"))
    docs.select(col("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("lm_score"), lit(0L)).as("lm_score"))
      .orderBy(col("doc_id"))
  }

  val q75LmScoreOracle: String = {
    val bigramsSql = "unnest(list_transform(range(1, greatest(len(t) " +
      "- 1, 0) + 1), i -> t[i] || ' ' || t[i + 1]))"
    s"""WITH toks AS (
       |  SELECT doc_id, $tokensSql AS t FROM documents),
       |uni AS (
       |  SELECT w1, count(*) AS cnt_w1
       |  FROM (SELECT unnest(t) AS w1 FROM toks) GROUP BY w1),
       |bi AS (
       |  SELECT bigram, count(*) AS cnt_bi
       |  FROM (SELECT $bigramsSql AS bigram FROM toks) GROUP BY bigram),
       |probs AS (
       |  SELECT bigram,
       |    CAST(cnt_bi AS BIGINT) * $DsirScale
       |      // CAST(cnt_w1 AS BIGINT) AS p
       |  FROM bi JOIN uni ON uni.w1 = string_split(bigram, ' ')[1]),
       |docbi AS (
       |  SELECT doc_id, $bigramsSql AS bigram FROM toks),
       |scored AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |    CAST(sum(p) AS BIGINT) // CAST(count(*) AS BIGINT) AS lm_score
       |  FROM docbi JOIN probs USING (bigram) GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(s.n_bigrams, 0) AS n_bigrams,
       |  coalesce(s.lm_score, 0) AS lm_score
       |FROM (SELECT doc_id FROM documents) d LEFT JOIN scored s USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  /** q77 drift top-k and the cohort split point (sources src0..src9
    * form snapshot A, src10+ snapshot B — a stand-in for two crawl
    * versions of the same corpus). */
  val DriftTopK = 50
  private val CohortASql = "CAST(substr(source, 4) AS INT) < 10"

  /** q77: corpus drift monitor — the dataset-versioning diff a
    * production pipeline runs between two crawl snapshots before
    * retraining: which grams shifted frequency mass the most? Each
    * gram's drift is the absolute difference of its scaled frequency
    * (occurrences per `DsirScale` total tokens, integer floor) in the
    * two cohorts; the report is the top-`DriftTopK` drifted grams with
    * their raw counts. Frequencies, not raw counts, so a 2× bigger
    * snapshot B doesn't read as "everything drifted".
    *
    * Plan shape: ONE corpus pass — both cohorts' counts are
    * conditional sums over the same gram shuffle; the two totals ride
    * the same aggregation as a 1-row broadcast (the q36/q55 totals
    * pattern, allowlisted BNLJ). Top-k is TakeOrderedAndProject —
    * per-partition truncation, never a global sort. */
  def q77CorpusDrift(s: SparkSession, dir: String): DataFrame = {
    val inA = expr(CohortASql)
    val grams = Tables.spread(Tables.load(s, dir, "documents"))
      .select(inA.as("in_a"), explode(tokens(col("text"))).as("g"))
    val counts = grams.groupBy(col("g"))
      .agg(sum(when(col("in_a"), 1L).otherwise(0L)).as("cnt_a"),
        sum(when(col("in_a"), 0L).otherwise(1L)).as("cnt_b"))
    val totals = counts.agg(sum(col("cnt_a")).as("tot_a"),
      sum(col("cnt_b")).as("tot_b"))
    counts.crossJoin(broadcast(totals))
      .select(col("g"), col("cnt_a"), col("cnt_b"),
        abs(expr(s"(cnt_a * $DsirScale) div tot_a") -
          expr(s"(cnt_b * $DsirScale) div tot_b")).as("drift_ppm"))
      .orderBy(col("drift_ppm").desc, col("g").asc)
      .limit(DriftTopK)
  }

  val q77CorpusDriftOracle: String =
    s"""WITH grams AS (
       |  SELECT $CohortASql AS in_a, unnest($tokensSql) AS g
       |  FROM documents),
       |counts AS (
       |  SELECT g,
       |    CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
       |    CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS cnt_b
       |  FROM grams GROUP BY g),
       |totals AS (
       |  SELECT CAST(sum(cnt_a) AS BIGINT) AS tot_a,
       |    CAST(sum(cnt_b) AS BIGINT) AS tot_b FROM counts)
       |SELECT g, cnt_a, cnt_b,
       |  abs((cnt_a * $DsirScale) // tot_a
       |    - (cnt_b * $DsirScale) // tot_b) AS drift_ppm
       |FROM counts CROSS JOIN totals
       |ORDER BY drift_ppm DESC, g ASC
       |LIMIT $DriftTopK""".stripMargin

  val q73DsirWeightOracle: String =
    s"""WITH toks AS (
       |  SELECT doc_id, lang, unnest($tokensSql) AS w FROM documents),
       |ratios AS (
       |  SELECT w,
       |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
       |      * $DsirScale
       |      // CAST(count(*) AS BIGINT) AS r
       |  FROM toks GROUP BY w
       |  HAVING sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) > 0)
       |SELECT t.doc_id, CAST(sum(coalesce(r.r, 0)) AS BIGINT) AS dsir_score
       |FROM toks t LEFT JOIN ratios r USING (w)
       |GROUP BY t.doc_id
       |ORDER BY t.doc_id""".stripMargin

  val SampleK = 100

  /** q81: weighted sampling WITHOUT replacement — the Efraimidis–
    * Spirakis (2006) one-pass reservoir form, the op a mixture
    * pipeline runs to draw "k documents, inclusion probability ∝
    * token count" (length-proportional sampling is how most
    * pretraining mixtures weight sources). Each doc draws the
    * exponential-race key `-ln(u)/w` (the log-transformed E-S key
    * `u^(1/w)`; the k SMALLEST keys are the sample); `u` is a
    * hash-seeded uniform — `(v+1)/2^24+1` from the first 6 hex chars
    * of md5(doc_id) — so the draw is a pure function of the row and
    * both engines replay it exactly.
    *
    * Determinism contract: `u` is the same IEEE double in both
    * engines (exact integer ratio); `ln` may differ in the last ulp
    * between libm and the JVM, so the key is quantized to 1e-9
    * (`round(1e9·(-ln u)/w)` as BIGINT) with a doc_id tie-break — a
    * flip needs the true key within ~1e-16 relative of a quantization
    * boundary, ~1e-10 per row.
    *
    * Shape for 100 TB: the key is map-side arithmetic on the scan;
    * selection is ORDER BY key LIMIT k — TakeOrderedAndProject, O(k)
    * state per partition and a k-row driver merge, never a global
    * sort. This is the distributed reservoir: the same plan at any
    * corpus size. */
  def q81WeightedSample(s: SparkSession, dir: String): DataFrame = {
    val v = conv(substring(md5(col("doc_id").cast("string")), 1, 6),
      16, 10).cast("long")
    val u = (v + lit(1)).cast("double") / lit(16777217.0d)
    Tables.spread(Tables.load(s, dir, "documents"))
      .select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_toks"))
      // zero-token docs carry zero sampling mass; dividing by n_toks=0
      // would also diverge from the oracle (Infinity → Long.MaxValue in
      // Spark vs a cast error in DuckDB), so they are excluded outright
      .filter(col("n_toks") >= 1)
      .withColumn("es_key",
        round(lit(1e9) * -log(u) / col("n_toks")).cast("long"))
      .orderBy(col("es_key"), col("doc_id"))
      .limit(SampleK)
  }

  val q81WeightedSampleOracle: String =
    s"""WITH w AS (
       |  SELECT doc_id, CAST(len($tokensSql) AS BIGINT) AS n_toks,
       |    substring(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS hx
       |  FROM documents
       |  WHERE len($tokensSql) >= 1),
       |v AS (
       |  SELECT doc_id, n_toks,
       |      (strpos('0123456789abcdef', substring(hx, 1, 1)) - 1) * 1048576
       |    + (strpos('0123456789abcdef', substring(hx, 2, 1)) - 1) * 65536
       |    + (strpos('0123456789abcdef', substring(hx, 3, 1)) - 1) * 4096
       |    + (strpos('0123456789abcdef', substring(hx, 4, 1)) - 1) * 256
       |    + (strpos('0123456789abcdef', substring(hx, 5, 1)) - 1) * 16
       |    + (strpos('0123456789abcdef', substring(hx, 6, 1)) - 1) AS v
       |  FROM w)
       |SELECT doc_id, n_toks,
       |  CAST(round(1e9 * -ln((v + 1) / 16777217.0) / n_toks) AS BIGINT)
       |    AS es_key
       |FROM v
       |ORDER BY es_key, doc_id
       |LIMIT $SampleK""".stripMargin

  val CurationK = 50

  /** q84: the composed curation funnel — what a training-data run
    * actually executes end-to-end, as ONE oracle-gated query (the
    * q64 pattern, applied to the rewrite side of the house):
    *
    *   1. quality gate + exact-dedup survivor election (q37's
    *      semantics: md5-normalized survivor, 10≤tokens≤5000,
    *      type-token ratio ≥30%),
    *   2. duplicate-span REMOVAL among the survivors (q80's cut —
    *      gram df≥2 is counted on the CLEANED corpus, which is the
    *      composed semantics: exact dups must not inflate span df),
    *   3. length-weighted sampling without replacement over the
    *      deduplicated documents (q81's exponential-race keys with
    *      weight = post-cut token count).
    *
    * Shape for 100 TB: ONE documents scan feeding a survivor barrier
    * (lazy localCheckpoint — AuditSpec proves no rescan downstream,
    * as for q64); the span stage is the q80 skeleton (digest-count
    * df, doc-keyed windows); the sample is TakeOrderedAndProject.
    * Every stage's state is bounded the same way as its standalone
    * twin — composing them adds no new shuffle beyond q80's. */
  /** q84's stage-1 survivor election — quality gate + exact-dedup
    * (md5-normalized survivor, 10≤tokens≤5000, type-token ratio
    * ≥30%) — factored out because it is the canonical "curated
    * corpus" input: q84's funnel consumes it with token arrays
    * (`withToks = true`), the q171/q172 shard layout consumes the
    * doc-grain view. Returns a BARRIERED frame (lazy
    * localCheckpoint): documents is scanned exactly once however
    * many consumers read the survivors. */
  private[operators] def curationSurvivors(s: SparkSession,
      dir: String, withToks: Boolean): DataFrame = {
    val base = Tables.spread(Tables.load(s, dir, "documents"))
      .select(col("doc_id"), col("lang"),
        md5(graft.functions.TextStatFunctions.normText(col("text")))
          .as("h"),
        tokens(col("text")).as("toks"),
        graft.functions.TextStatFunctions.tokenStats(col("text"), Nil)
          .as("st"))
      .select(col("doc_id"), col("lang"), col("h"), col("toks"),
        col("st").getItem(1).cast("long").as("n_tokens"),
        (col("st").getItem(2) * 100).as("dx"))
      .withColumn("ttr_pct", expr("dx div n_tokens"))
    val keep =
      if (withToks) Seq("doc_id", "lang", "toks", "n_tokens")
      else Seq("doc_id", "lang", "n_tokens")
    base
      .withColumn("survivor",
        min(col("doc_id")).over(Window.partitionBy(col("h"))))
      .filter(col("doc_id") === col("survivor") &&
        col("n_tokens").between(10, 5000) && col("ttr_pct") >= 30)
      .select(keep.map(col): _*)
      .localCheckpoint(false) // funnel barrier: documents scanned once
  }

  /** The raw/base/surv CTE prefix matching [[curationSurvivors]] —
    * shared verbatim by the q84/q171/q172 oracles so the survivor
    * semantics cannot drift between them. */
  private[operators] val curationSurvSql: String =
    s"""raw AS (
       |  SELECT doc_id, lang, text, $tokensSql AS toks FROM documents),
       |base AS (
       |  SELECT doc_id, lang, md5($normSql) AS h, toks,
       |    CAST(len(toks) AS BIGINT) AS n_tokens,
       |    CAST(len(list_distinct(toks)) * 100 // len(toks) AS BIGINT)
       |      AS ttr_pct
       |  FROM raw),
       |surv AS (
       |  SELECT doc_id, lang, toks, n_tokens FROM (
       |    SELECT *, min(doc_id) OVER (PARTITION BY h) AS survivor
       |    FROM base)
       |  WHERE doc_id = survivor AND n_tokens BETWEEN 10 AND 5000
       |    AND ttr_pct >= 30)""".stripMargin

  def q84CurationFunnel(s: SparkSession, dir: String): DataFrame = {
    val k = SpanGram
    val survivors = curationSurvivors(s, dir, withToks = true)
    // second (sequential) barrier: grams feeds BOTH the df aggregate
    // and the occurrence semi-join — without it the tokenShingleMd5
    // kernel + explode run twice from the survivor blocks (measured
    // 41.2 → 20.3 s at ×100, tools/ProfileQ84 as of ae1d6d4). Unlike
    // q153's parallel corpus checkpoints (which evicted each other's
    // blocks), this one derives FROM the survivor barrier after it
    // materializes, so the two never compete for the same read.
    val grams = survivors.select(col("doc_id"),
        col("n_tokens").as("n"),
        graft.functions.TextFunctions.tokenShingleMd5(col("toks"), k)
          .as("sh"))
      .select(col("doc_id"), col("n"),
        posexplode(col("sh")).as(Seq("pos", "sh")))
      .localCheckpoint(false)
    val dupSh = grams.groupBy(col("sh"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= 2)
      .select(col("sh"))
    val occ = grams.join(dupSh, Seq("sh"), "left_semi")
      .select(col("doc_id"),
        (col("pos") + 1).cast("long").as("s"),
        least(col("pos") + lit(k), col("n")).cast("long").as("e"))
    val prev = Window.partitionBy(col("doc_id")).orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val run = Window.partitionBy(col("doc_id")).orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val removed = occ
      .withColumn("pmax", max(col("e")).over(prev))
      .withColumn("brk",
        when(col("pmax").isNull || col("s") > col("pmax") + 1, 1)
          .otherwise(0))
      .withColumn("iid", sum(col("brk")).over(run))
      .groupBy(col("doc_id"), col("iid"))
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
      .groupBy(col("doc_id"))
      .agg(sum(col("e") - col("s") + 1).as("n_removed"))
    val v = conv(substring(md5(col("doc_id").cast("string")), 1, 6),
      16, 10).cast("long")
    val u = (v + lit(1)).cast("double") / lit(16777217.0d)
    survivors.join(removed, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"))
      .withColumn("n_kept", col("n_tokens") - col("n_removed"))
      .filter(col("n_kept") >= 1)
      .withColumn("es_key",
        round(lit(1e9) * -log(u) / col("n_kept")).cast("long"))
      .orderBy(col("es_key"), col("doc_id"))
      .limit(CurationK)
  }

  val q84CurationFunnelOracle: String = {
    val k = SpanGram
    s"""WITH $curationSurvSql,
       |sh AS (
       |  SELECT doc_id, n_tokens AS n,
       |    unnest(list_transform(
       |      range(1, greatest(1, len(toks) - ${k - 1}) + 1),
       |      i -> {'s': i,
       |            'sh': md5(array_to_string(toks[i : i + ${k - 1}], ' '))}
       |    )) AS u
       |  FROM surv),
       |occ0 AS (
       |  SELECT doc_id, u.s AS s, least(u.s + ${k - 1}, n) AS e, u.sh AS sh
       |  FROM sh),
       |dup AS (
       |  SELECT sh FROM (SELECT sh, count(DISTINCT doc_id) AS df
       |                  FROM occ0 GROUP BY sh) WHERE df >= 2),
       |occ AS (SELECT doc_id, s, e FROM occ0 WHERE sh IN (SELECT sh FROM dup)),
       |isl0 AS (
       |  SELECT doc_id, s, e,
       |    max(e) OVER (PARTITION BY doc_id ORDER BY s
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |      AS pmax
       |  FROM occ),
       |isl2 AS (
       |  SELECT doc_id, s, e,
       |    sum(CASE WHEN pmax IS NULL OR s > pmax + 1 THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY s ROWS UNBOUNDED PRECEDING)
       |      AS iid
       |  FROM isl0),
       |ivs AS (
       |  SELECT doc_id, CAST(sum(e - s + 1) AS BIGINT) AS n_removed
       |  FROM (SELECT doc_id, iid, min(s) AS s, max(e) AS e
       |        FROM isl2 GROUP BY doc_id, iid)
       |  GROUP BY doc_id),
       |stats AS (
       |  SELECT s2.doc_id, s2.lang, s2.n_tokens,
       |    coalesce(v.n_removed, 0) AS n_removed,
       |    s2.n_tokens - coalesce(v.n_removed, 0) AS n_kept,
       |    substring(md5(CAST(s2.doc_id AS VARCHAR)), 1, 6) AS hx
       |  FROM surv s2 LEFT JOIN ivs v USING (doc_id)
       |  WHERE s2.n_tokens - coalesce(v.n_removed, 0) >= 1),
       |keyed AS (
       |  SELECT doc_id, lang, n_tokens, n_removed, n_kept,
       |      (strpos('0123456789abcdef', substring(hx, 1, 1)) - 1) * 1048576
       |    + (strpos('0123456789abcdef', substring(hx, 2, 1)) - 1) * 65536
       |    + (strpos('0123456789abcdef', substring(hx, 3, 1)) - 1) * 4096
       |    + (strpos('0123456789abcdef', substring(hx, 4, 1)) - 1) * 256
       |    + (strpos('0123456789abcdef', substring(hx, 5, 1)) - 1) * 16
       |    + (strpos('0123456789abcdef', substring(hx, 6, 1)) - 1) AS v
       |  FROM stats)
       |SELECT doc_id, lang, n_tokens, n_removed, n_kept,
       |  CAST(round(1e9 * -ln((v + 1) / 16777217.0) / n_kept) AS BIGINT)
       |    AS es_key
       |FROM keyed
       |ORDER BY es_key, doc_id
       |LIMIT $CurationK""".stripMargin
  }

  /** q80: exact-substring duplicate-span REMOVAL — the corpus-rewriting
    * step of Lee et al. 2022 that q69 only profiles: every token span
    * covered by a cross-document-duplicated [[SpanGram]]-gram is cut
    * from the document, and the surviving tokens are re-joined into
    * the deduplicated text (reference scope: qwerdenkerXD/gus has no
    * analytics; this generalizes its record surface the way the rest
    * of the pipeline family does).
    *
    * Span semantics: a gram occurring in ≥2 distinct documents marks
    * tokens `[pos+1, min(pos+k, n)]` as duplicated in EVERY document
    * that contains it; overlapping/adjacent marks are merged into
    * islands per doc (gaps-and-islands over a doc-partitioned window),
    * and the kept text is the complement. Both engines compute the
    * same integer token intervals, so the rebuilt strings hash-match.
    *
    * Shape for 100 TB: identical skeleton to q69 — gram df is ONE hash
    * aggregation on the digest (df≥2 is a count; no posting list, no
    * pair join), the verdict rejoins occurrences on the same digest
    * key, and every window/groupBy past that point is keyed by doc_id
    * (one doc-keyed shuffle reused by the window, the island merge
    * AND the interval collect — HashPartitioning(doc_id) satisfies all
    * three ClusteredDistributions, so Catalyst plans a single
    * exchange). The final splice is map-side: each doc filters its own
    * token array against its own sorted island list (O(tokens ×
    * islands) worst case; islands are few and wide in real corpora —
    * a binary-search kernel is the upgrade path if a pathological
    * corpus ever makes this the bottleneck, not a different plan). */
  def q80DedupCut(s: SparkSession, dir: String): DataFrame = {
    val k = SpanGram
    val base = Tables.spread(Tables.load(s, dir, "documents"))
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    val withSh = base.select(col("doc_id"),
      size(col("toks")).cast("long").as("n"),
      graft.functions.TextFunctions.tokenShingleMd5(col("toks"), k).as("sh"))
    val grams = withSh.select(col("doc_id"), col("n"),
      posexplode(col("sh")).as(Seq("pos", "sh")))
    val dupSh = grams.groupBy(col("sh"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= 2)
      .select(col("sh"))
    val occ = grams.join(dupSh, Seq("sh"), "left_semi")
      .select(col("doc_id"),
        (col("pos") + 1).cast("long").as("s"),
        least(col("pos") + lit(k), col("n")).cast("long").as("e"))
    val prev = Window.partitionBy(col("doc_id")).orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val run = Window.partitionBy(col("doc_id")).orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val islands = occ
      .withColumn("pmax", max(col("e")).over(prev))
      .withColumn("brk",
        when(col("pmax").isNull || col("s") > col("pmax") + 1, 1).otherwise(0))
      .withColumn("iid", sum(col("brk")).over(run))
      .groupBy(col("doc_id"), col("iid"))
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
    val perDoc = islands.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("iv"),
        sum(col("e") - col("s") + 1).as("n_removed"))
    base.join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        expr("""CASE WHEN iv IS NULL THEN array_join(toks, ' ')
               |ELSE array_join(filter(toks,
               |  (t, i) -> NOT exists(iv,
               |    v -> i + 1 >= v.s AND i + 1 <= v.e)), ' ')
               |END""".stripMargin).as("text_dedup"))
      .orderBy(col("doc_id"))
  }

  val q80DedupCutOracle: String = {
    val k = SpanGram
    s"""WITH base AS (SELECT doc_id, $tokensSql AS toks FROM documents),
       |sh AS (
       |  SELECT doc_id, len(toks) AS n,
       |    unnest(list_transform(
       |      range(1, greatest(1, len(toks) - ${k - 1}) + 1),
       |      i -> {'s': i,
       |            'sh': md5(array_to_string(toks[i : i + ${k - 1}], ' '))}
       |    )) AS u
       |  FROM base),
       |occ0 AS (
       |  SELECT doc_id, u.s AS s, least(u.s + ${k - 1}, n) AS e, u.sh AS sh
       |  FROM sh),
       |dup AS (
       |  SELECT sh FROM (SELECT sh, count(DISTINCT doc_id) AS df
       |                  FROM occ0 GROUP BY sh) WHERE df >= 2),
       |occ AS (SELECT doc_id, s, e FROM occ0 WHERE sh IN (SELECT sh FROM dup)),
       |isl0 AS (
       |  SELECT doc_id, s, e,
       |    max(e) OVER (PARTITION BY doc_id ORDER BY s
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |      AS pmax
       |  FROM occ),
       |isl1 AS (
       |  SELECT doc_id, s, e,
       |    CASE WHEN pmax IS NULL OR s > pmax + 1 THEN 1 ELSE 0 END AS brk
       |  FROM isl0),
       |isl2 AS (
       |  SELECT doc_id, s, e,
       |    sum(brk) OVER (PARTITION BY doc_id ORDER BY s
       |                   ROWS UNBOUNDED PRECEDING) AS iid
       |  FROM isl1),
       |isl AS (
       |  SELECT doc_id, iid, min(s) AS s, max(e) AS e
       |  FROM isl2 GROUP BY doc_id, iid),
       |ivs AS (
       |  SELECT doc_id, CAST(sum(e - s + 1) AS BIGINT) AS n_removed
       |  FROM isl GROUP BY doc_id),
       |tokp AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(toks) + 1),
       |    i -> {'i': i, 't': toks[i]})) AS u
       |  FROM base),
       |kept AS (
       |  SELECT tp.doc_id, tp.u.i AS i, tp.u.t AS t FROM tokp tp
       |  WHERE NOT EXISTS (SELECT 1 FROM isl
       |    WHERE isl.doc_id = tp.doc_id AND tp.u.i BETWEEN isl.s AND isl.e)),
       |txt AS (
       |  SELECT doc_id, string_agg(t, ' ' ORDER BY i) AS text_dedup
       |  FROM kept GROUP BY doc_id)
       |SELECT b.doc_id, CAST(len(b.toks) AS BIGINT) AS n_tokens,
       |  coalesce(v.n_removed, 0) AS n_removed,
       |  coalesce(t.text_dedup, '') AS text_dedup
       |FROM base b
       |LEFT JOIN ivs v USING (doc_id)
       |LEFT JOIN txt t USING (doc_id)
       |ORDER BY b.doc_id""".stripMargin
  }
  // ---- q137: snapshot corpus diff -------------------------------------

  /** q137: content-hash diff between two corpus snapshots — the
    * "what changed between crawl N and crawl N+1" audit a recurring
    * ingestion pipeline publishes before retraining decisions: per
    * source, how many documents were added, removed, revised
    * (content hash differs), or untouched, and the churn rate. The
    * two snapshots are synthesized from the one corpus so the oracle
    * sees identical inputs: the old snapshot drops doc_id ≡ 5
    * (mod 13), the new drops doc_id ≡ 3 (mod 11), and every shared
    * doc_id ≡ 0 (mod 7) carries a revision suffix in the new
    * snapshot — detection itself is PURELY md5(content) equality
    * (the operator never sees the synthetic rule).
    *
    * Scale shape: documents collapse to (doc_id, source, md5) AT THE
    * SCAN — 48 bytes/row, no text rides the shuffle; then ONE
    * doc-keyed full-outer hash join (the snapshot-diff exchange
    * every Delta/Iceberg-style reconciliation pays) and a
    * |sources|-group aggregate with map-side combine. Churn ppm is
    * DECIMAL(38,0)/HUGEINT-widened and zero-guarded for sources that
    * exist only in the new snapshot. */
  def q137CorpusDiff(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(Tables.load(s, dir, "documents"))
      .select(col("doc_id"), col("source"), col("text"))
    val old = docs.filter(expr("doc_id % 13 != 5"))
      .select(col("doc_id"), col("source").as("src_o"),
        md5(col("text")).as("h_o"))
    val neu = docs.filter(expr("doc_id % 11 != 3"))
      .select(col("doc_id"), col("source").as("src_n"),
        md5(when(expr("doc_id % 7 = 0"),
          concat(col("text"), lit(" rev2")))
          .otherwise(col("text"))).as("h_n"))
    old.join(neu, Seq("doc_id"), "full_outer")
      .select(coalesce(col("src_o"), col("src_n")).as("source"),
        when(col("h_o").isNull, lit("added"))
          .when(col("h_n").isNull, lit("removed"))
          .when(col("h_o") =!= col("h_n"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"),
        col("h_o").isNotNull.cast("long").as("in_old"),
        col("h_n").isNotNull.cast("long").as("in_new"))
      .groupBy(col("source")).agg(
        sum(when(col("status") === "added", 1L).otherwise(0L))
          .as("n_added"),
        sum(when(col("status") === "removed", 1L).otherwise(0L))
          .as("n_removed"),
        sum(when(col("status") === "changed", 1L).otherwise(0L))
          .as("n_changed"),
        sum(when(col("status") === "unchanged", 1L).otherwise(0L))
          .as("n_unchanged"),
        sum(col("in_old")).as("n_old"),
        sum(col("in_new")).as("n_new"))
      .withColumn("churn_ppm",
        expr("CASE WHEN n_old = 0 THEN CAST(0 AS BIGINT)" +
          " ELSE CAST(CAST(n_added + n_removed + n_changed" +
          " AS DECIMAL(38,0)) * 1000000 div n_old AS BIGINT) END"))
      .orderBy(col("source"))
  }

  val q137CorpusDiffOracle: String =
    """WITH o AS (
      |  SELECT doc_id, source AS src_o, md5(text) AS h_o
      |  FROM documents WHERE doc_id % 13 != 5),
      |n AS (
      |  SELECT doc_id, source AS src_n,
      |    md5(CASE WHEN doc_id % 7 = 0 THEN text || ' rev2'
      |             ELSE text END) AS h_n
      |  FROM documents WHERE doc_id % 11 != 3),
      |j AS (
      |  SELECT coalesce(src_o, src_n) AS source,
      |    CASE WHEN h_o IS NULL THEN 'added'
      |         WHEN h_n IS NULL THEN 'removed'
      |         WHEN h_o != h_n THEN 'changed'
      |         ELSE 'unchanged' END AS status,
      |    CASE WHEN h_o IS NULL THEN 0 ELSE 1 END AS in_old,
      |    CASE WHEN h_n IS NULL THEN 0 ELSE 1 END AS in_new
      |  FROM o FULL OUTER JOIN n USING (doc_id)),
      |g AS (
      |  SELECT source,
      |    CAST(sum(CASE WHEN status = 'added' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_added,
      |    CAST(sum(CASE WHEN status = 'removed' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_removed,
      |    CAST(sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_changed,
      |    CAST(sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_unchanged,
      |    CAST(sum(in_old) AS BIGINT) AS n_old,
      |    CAST(sum(in_new) AS BIGINT) AS n_new
      |  FROM j GROUP BY source)
      |SELECT *,
      |  CASE WHEN n_old = 0 THEN CAST(0 AS BIGINT)
      |    ELSE CAST(CAST(n_added + n_removed + n_changed AS HUGEINT)
      |      * 1000000 // n_old AS BIGINT) END AS churn_ppm
      |FROM g ORDER BY source""".stripMargin

  // ---- q140: near-dup cluster canonicalization -------------------------

  /** q140: canonical-document selection — the curation stage AFTER
    * near-duplicate clustering: MinHash-LSH pairs ([[Dedup
    * .minhashPairs]], exact-verified J ≥ 0.5) become clusters via the
    * contraction CC ([[EntityRes.ccContract]] — the q102/q108
    * machinery), and each cluster keeps its LONGEST member
    * (n_tokens desc, doc_id asc tie-break): the "keep the most
    * complete copy" rule every dedup pipeline applies before
    * training. One row per cluster: representative (smallest member
    * id — ccContract's label contract), the canonical doc, member
    * count, its token count, and how many documents the cluster
    * drops.
    *
    * Scale shape: pair generation and CC are exactly q108's bounded
    * stages (banded equi-join candidates, geometrically-decaying
    * contraction); token counts ride the ONE kernel pass; canonical
    * selection is a cluster-keyed Window (PARTITIONED — tiny state
    * per cluster, never a global sort). Nothing new shuffles at
    * corpus scale beyond q108's own plan. */
  def q140CanonicalDedup(s: SparkSession, dir: String): DataFrame = {
    val edges = Dedup.minhashPairs(s, dir)
      .select(col("doc_a").as("u"), col("doc_b").as("v"))
      .localCheckpoint(true)
    val bidir = edges.unionByName(
      edges.select(col("v").as("u"), col("u").as("v")))
    val labels0 = bidir.select(col("u").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("label"))
    val labels = EntityRes.ccContract(labels0, bidir)
    val toks = Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
    val byLength = Window.partitionBy(col("cluster"))
      .orderBy(col("n_tokens").desc, col("doc_id").asc)
    labels.select(col("doc_id"), col("label").as("cluster"))
      .join(toks, Seq("doc_id"))
      .withColumn("rn", row_number().over(byLength))
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy(col("cluster"))))
      .filter(col("rn") === 1)
      .select(col("cluster"), col("doc_id").as("canonical_doc"),
        col("n_members").cast("long").as("n_members"),
        col("n_tokens").as("canonical_tokens"),
        (col("n_members") - 1).cast("long").as("dropped_docs"))
      .orderBy(col("cluster"))
  }

  val q140CanonicalDedupOracle: String =
    s"""WITH RECURSIVE ${Dedup.minhashPairsSqlCtes},
       |edges AS (
       |  SELECT doc_a AS u, doc_b AS v FROM verified
       |  WHERE n_inter * 2 >= n_union),
       |bidir AS (SELECT u, v FROM edges UNION SELECT v, u FROM edges),
       |reach AS (
       |  SELECT u AS node, u AS lab FROM bidir
       |  UNION
       |  SELECT b.v AS node, r.lab AS lab
       |  FROM reach r JOIN bidir b ON b.u = r.node),
       |lab AS (SELECT node AS doc_id, min(lab) AS cluster
       |        FROM reach GROUP BY node),
       |mem AS (
       |  SELECT l.doc_id, l.cluster,
       |    CAST(len($tokensSql) AS BIGINT) AS n_tokens
       |  FROM lab l JOIN documents d ON d.doc_id = l.doc_id),
       |rk AS (
       |  SELECT doc_id, cluster, n_tokens,
       |    row_number() OVER (PARTITION BY cluster
       |      ORDER BY n_tokens DESC, doc_id ASC) AS rn,
       |    count(*) OVER (PARTITION BY cluster) AS n_members
       |  FROM mem)
       |SELECT cluster, doc_id AS canonical_doc,
       |  CAST(n_members AS BIGINT) AS n_members,
       |  n_tokens AS canonical_tokens,
       |  CAST(n_members - 1 AS BIGINT) AS dropped_docs
       |FROM rk WHERE rn = 1 ORDER BY cluster""".stripMargin
}
