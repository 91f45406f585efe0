package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Order-statistics operators that need a running scan over a global
  * value order — exact two-sample Kolmogorov–Smirnov drift and the
  * Pareto skyline — WITHOUT the one plan shape that cannot scale out
  * (an unpartitioned Window = a single-partition sort of the whole
  * input, banned by `graft.tools.Audit`).
  *
  * Both use the same two-phase distributed prefix scan (the classic
  * parallel scan decomposition, Blelloch 1990): quantize the key
  * space into [[PrefixBuckets]] range buckets from a 1-row broadcast
  * of sampled-quantile boundaries (equi-populated under any
  * distribution — see [[quantileBuckets]]), aggregate one row per
  * bucket, compute EXCLUSIVE
  * per-bucket offsets inside one collected ≤[[PrefixBuckets]]-element
  * array with the `aggregate` higher-order function (Catalyst, no
  * UDF, no join), then finish with a Window partitioned
  * BY BUCKET — every task sees one bucket's rows, the global order is
  * bucket-offset + in-bucket scan, and no executor ever holds more
  * than one bucket range. The result is exact for any bucket
  * boundaries, so the quantization needs no tuning beyond
  * parallelism.
  */
object OrderStats {

  /** Range buckets for the distributed prefix scan — bounds per-task
    * state at |keys|/64 and the offset array at 64 entries. 64, not
    * 256: the boundaries are an extra aggregation pass linear in the
    * bucket count (measured at ×100, when the bucket map was still a
    * per-row linear scan: 256 boundaries doubled q119/q123), while
    * 64 buckets already feed 2× the bench session's 32 cores. The
    * bucket map itself is a binary search over the boundaries. */
  val PrefixBuckets = 64

  /** Assign each distinct-value row its range bucket for the prefix
    * scan. Boundaries come from SAMPLED QUANTILES of the
    * distinct-value table (one `approx_percentile` pass over the —
    * value-type-scale — input, broadcast as a 1-row array), NOT from
    * a uniform `(key − min) · B div range` map: a uniform map is
    * linear in the VALUE RANGE, so one heavy-tailed outlier (a whale
    * customer's monetary total in q123) collapses nearly every
    * distinct value into bucket 0 and the per-bucket Window
    * degenerates into the single-partition sort this machinery
    * exists to avoid. Quantile boundaries keep buckets
    * equi-POPULATED under any distribution. The scan is exact for
    * ANY boundaries — estimation error in `approx_percentile` only
    * shifts work between buckets, never results. Bucket id =
    * #boundaries strictly below the key ([[graft.functions.CountBelow]],
    * a codegen'd binary search): monotone in the key, so bucket-major
    * + in-bucket order is the global order. */
  private[operators] def quantileBuckets(perValue: DataFrame,
      key: String): DataFrame = {
    val qs = (1 until PrefixBuckets)
      .map(i => i.toDouble / PrefixBuckets).mkString(",")
    val bnd = perValue.agg(
      expr(s"approx_percentile($key, array($qs), 1000)").as("bnd"))
    perValue.crossJoin(broadcast(bnd))
      .withColumn("bucket", graft.functions.TextStatFunctions
        .countBelow(col(key), col("bnd")))
      .drop("bnd")
  }

  /** Inclusive distributed prefix sum over a per-value count table
    * (`key` non-negative, one row per distinct key): returns (key,
    * cnt, cum) where cum = Σ cnt over keys ≤ key — the exact running
    * CDF with NO unpartitioned Window, via the bucket-offset scan
    * described in the object doc. Shared by q119 (dual-count variant
    * inlined there) and q123's three quantile assignments. */
  private[operators] def prefixCounts(perValue: DataFrame, key: String,
      cnt: String): DataFrame = {
    val bucketed = quantileBuckets(perValue, key)
    val offsets = bucketed.groupBy(col("bucket"))
      .agg(sum(col(cnt)).as("b1"))
      .agg(sort_array(collect_list(struct(col("bucket"), col("b1"))))
        .as("arr"))
      .select(explode(expr(
        """aggregate(arr,
          |  named_struct('a1', CAST(0 AS BIGINT),
          |    'out', CAST(array() AS array<struct<bucket:int,o1:bigint>>)),
          |  (s, x) -> named_struct('a1', s.a1 + x.b1,
          |    'out', array_append(s.out,
          |      named_struct('bucket', x.bucket, 'o1', s.a1))),
          |  s -> s.out)""".stripMargin)).as("o"))
      .select(col("o.bucket").as("bucket"), col("o.o1").as("off"))
    val w = Window.partitionBy(col("bucket")).orderBy(col(key))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bucketed.join(broadcast(offsets), "bucket")
      .withColumn("cum", col("off") + sum(col(cnt)).over(w))
      .select(col(key), col(cnt), col("cum"))
  }

  /** q119: exact two-sample Kolmogorov–Smirnov drift test between
    * the even- and odd-orderkey halves of the order-value
    * distribution (the deploy-gate check a feature pipeline runs
    * between yesterday's and today's corpus): D = sup |F₁(x) −
    * F₂(x)|, reported scaled — one row: (at_cents, n1, n2, cum1,
    * cum2, ks_e6) at the supremum (ties → smallest value).
    *
    * Exactness: the statistic is computed as max |cum1·n2 − cum2·n1|
    * over distinct values — pure integers (DECIMAL(38,0)/HUGEINT:
    * cum·n overflows BIGINT at warehouse scale), no division until
    * the final ks_e6. The supremum row is TakeOrderedAndProject(1),
    * never a full sort.
    *
    * 100 TB posture: ONE corpus-scale shuffle (per-value counts,
    * map-side combined); the prefix scan runs on the distinct-value
    * table — value-type scale, sublinear in corpus — partitioned by
    * range bucket as described in the object doc. */
  def q119KsDrift(s: SparkSession, dir: String): DataFrame = {
    val perv = Tables.load(s, dir, "orders")
      .select(expr("CAST(round(o_totalprice * 100) AS BIGINT)")
        .as("cents"), (col("o_orderkey") % 2).as("grp"))
      .groupBy(col("cents"))
      .agg(sum(when(col("grp") === 0, 1L).otherwise(0L)).as("c1"),
        sum(when(col("grp") === 1, 1L).otherwise(0L)).as("c2"))
      .localCheckpoint(false) // bounds + bucket totals + scan read it
    val bucketed = quantileBuckets(perv, "cents")
    // the fold's final (a1, a2) are the half totals n1/n2: every
    // offsets row carries them, so no separate totals aggregate runs
    val offsets = bucketed.groupBy(col("bucket"))
      .agg(sum(col("c1")).as("b1"), sum(col("c2")).as("b2"))
      .agg(sort_array(collect_list(
        struct(col("bucket"), col("b1"), col("b2")))).as("arr"))
      .select(expr(
        """aggregate(arr,
          |  named_struct('a1', CAST(0 AS BIGINT), 'a2', CAST(0 AS BIGINT),
          |    'out', CAST(array() AS array<struct<bucket:int,o1:bigint,o2:bigint>>)),
          |  (s, x) -> named_struct('a1', s.a1 + x.b1, 'a2', s.a2 + x.b2,
          |    'out', array_append(s.out,
          |      named_struct('bucket', x.bucket, 'o1', s.a1, 'o2', s.a2))))"""
          .stripMargin).as("f"))
      .select(col("f.a1").as("n1"), col("f.a2").as("n2"),
        explode(col("f.out")).as("o"))
      .select(col("o.bucket").as("bucket"), col("o.o1").as("o1"),
        col("o.o2").as("o2"), col("n1"), col("n2"))
    val w = Window.partitionBy(col("bucket")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bucketed.join(broadcast(offsets), "bucket")
      .withColumn("cum1", col("o1") + sum(col("c1")).over(w))
      .withColumn("cum2", col("o2") + sum(col("c2")).over(w))
      .withColumn("d", expr(
        "abs(CAST(cum1 AS DECIMAL(38,0)) * n2" +
          " - CAST(cum2 AS DECIMAL(38,0)) * n1)"))
      .orderBy(col("d").desc, col("cents").asc)
      .limit(1)
      .select(col("cents").as("at_cents"), col("n1"), col("n2"),
        col("cum1"), col("cum2"),
        // n1 = 0 OR n2 = 0, NOT n1 * n2 = 0: the raw-BIGINT product
        // overflows at warehouse-scale counts (Spark wraps silently
        // with ANSI off; DuckDB errors) and could misfire the guard
        expr("CASE WHEN n1 = 0 OR n2 = 0 THEN CAST(0 AS BIGINT)" +
          " ELSE CAST(d * 1000000" +
          " div (CAST(n1 AS DECIMAL(38,0)) * n2) AS BIGINT) END")
          .as("ks_e6"))
  }

  val q119KsDriftOracle: String =
    """WITH o AS (
      |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
      |    o_orderkey % 2 AS grp FROM orders),
      |perv AS (
      |  SELECT cents,
      |    CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
      |    CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c2
      |  FROM o GROUP BY 1),
      |tot AS (
      |  SELECT CAST(sum(c1) AS BIGINT) AS n1,
      |    CAST(sum(c2) AS BIGINT) AS n2 FROM perv),
      |cum AS (
      |  SELECT cents,
      |    CAST(sum(c1) OVER (ORDER BY cents) AS BIGINT) AS cum1,
      |    CAST(sum(c2) OVER (ORDER BY cents) AS BIGINT) AS cum2
      |  FROM perv)
      |SELECT cents AS at_cents, n1, n2, cum1, cum2,
      |  CASE WHEN n1 = 0 OR n2 = 0 THEN 0
      |    ELSE CAST(abs(CAST(cum1 AS HUGEINT) * n2
      |      - CAST(cum2 AS HUGEINT) * n1) * 1000000
      |      // (CAST(n1 AS HUGEINT) * n2) AS BIGINT) END AS ks_e6
      |FROM cum CROSS JOIN tot
      |ORDER BY abs(CAST(cum1 AS HUGEINT) * n2
      |  - CAST(cum2 AS HUGEINT) * n1) DESC, cents
      |LIMIT 1""".stripMargin

  /** q120: Pareto skyline (Börzsönyi/Kossmann/Stocker 2001's skyline
    * operator, which Spark has no native plan for) over parts —
    * cheapest-for-the-size frontier: a part survives iff no other
    * part has price ≤ AND size ≥ with at least one strict. Returns
    * (p_partkey, price_cents, p_size) for every frontier part,
    * price-ascending.
    *
    * The 2-D skyline reduces to a strict prefix-max: collapse to one
    * row per distinct price (its max size), then a part is on the
    * frontier iff its size equals its price's max AND that max
    * strictly exceeds the running max over all cheaper prices — the
    * same bucket-offset + in-bucket Window scan as q119, exclusive
    * frame in both phases. The DuckDB oracle is the DEFINITIONAL
    * NOT-EXISTS dominance query, so the prefix-scan rewrite is
    * verified against the semantics, not against itself.
    *
    * 100 TB posture: one shuffle to per-price maxima (price-type
    * scale), the scan as in q119; the frontier re-join is an
    * equi-join on price against the (typically tiny) frontier-price
    * set. */
  def q120Skyline(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.load(s, dir, "part")
      .select(col("p_partkey"),
        expr("CAST(round(p_retailprice * 100) AS BIGINT)")
          .as("price_cents"),
        col("p_size").cast("long").as("p_size"))
      .localCheckpoint(false) // per-price maxima + frontier re-join
    val perv = p.groupBy(col("price_cents"))
      .agg(max(col("p_size")).as("msize"))
      .localCheckpoint(false) // bounds + bucket maxima + scan read it
    val bucketed = quantileBuckets(perv, "price_cents")
    val offsets = bucketed.groupBy(col("bucket"))
      .agg(max(col("msize")).as("bm"))
      .agg(sort_array(collect_list(struct(col("bucket"), col("bm"))))
        .as("arr"))
      .select(explode(expr(
        """aggregate(arr,
          |  named_struct('m', CAST(-1 AS BIGINT),
          |    'out', CAST(array() AS array<struct<bucket:int,om:bigint>>)),
          |  (s, x) -> named_struct('m', greatest(s.m, x.bm),
          |    'out', array_append(s.out,
          |      named_struct('bucket', x.bucket, 'om', s.m))),
          |  s -> s.out)""".stripMargin)).as("o"))
      .select(col("o.bucket").as("bucket"), col("o.om").as("om"))
    val w = Window.partitionBy(col("bucket")).orderBy(col("price_cents"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontier = bucketed.join(broadcast(offsets), "bucket")
      .withColumn("spm", greatest(col("om"),
        coalesce(max(col("msize")).over(w), lit(-1L))))
      .filter(col("msize") > col("spm"))
      .select(col("price_cents"), col("msize"))
    p.join(frontier, Seq("price_cents"))
      .filter(col("p_size") === col("msize"))
      .select(col("p_partkey"), col("price_cents"), col("p_size"))
      .orderBy(col("price_cents"), col("p_partkey"))
  }

  val q120SkylineOracle: String =
    """WITH p AS (
      |  SELECT p_partkey,
      |    CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
      |    CAST(p_size AS BIGINT) AS p_size
      |  FROM part)
      |SELECT p_partkey, price_cents, p_size FROM p a
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM p b
      |  WHERE b.price_cents <= a.price_cents AND b.p_size >= a.p_size
      |    AND (b.price_cents < a.price_cents OR b.p_size > a.p_size))
      |ORDER BY price_cents, p_partkey""".stripMargin

  /** q123: RFM (recency / frequency / monetary) customer
    * segmentation — the classic marketing cube (Hughes 1994), which
    * needs each customer's QUANTILE rank along three dimensions. The
    * textbook formulation is `ntile(5) OVER (ORDER BY dim)` — an
    * unpartitioned Window, the banned cannot-scale-out shape. Here
    * each dimension's quintile comes from the exact running CDF over
    * its distinct-value table ([[prefixCounts]]): quintile =
    * (cum − 1)·5 div n_customers, ties sharing one cum hence one
    * quintile on both engines. Output: one row per populated
    * (r_q, f_q, m_q) segment — (r_q, f_q, m_q, n_customers,
    * rev_cents), 0 = lowest value quintile.
    *
    * 100 TB posture: one custkey aggregation builds the RFM table;
    * each dimension's CDF runs at VALUE-type scale (recency is
    * calendar-bounded, frequency count-bounded; monetary is the wide
    * one and still ≤ |customers|); the quintile maps join back as
    * value-keyed equi-joins and the final cube is ≤ 5³ groups,
    * map-side collapsed. The 1-row anchor/total aggregates ride the
    * intended constant crossJoins. */
  def q123RfmSegments(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
      .select(col("o_custkey"),
        expr("unix_timestamp(o_orderdate) div 86400").as("eday"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
    val anchor = o.agg(max(col("eday")).as("maxday"))
    val rfm = o.groupBy(col("o_custkey"))
      .agg(max(col("eday")).as("lastday"), count(lit(1)).as("f"),
        sum(col("cents")).as("m"))
      .crossJoin(broadcast(anchor))
      .select(col("o_custkey"), (col("maxday") - col("lastday")).as("r"),
        col("f"), col("m"))
      .localCheckpoint(false) // three dim CDFs + the final joins
    val nTot = rfm.agg(count(lit(1)).as("n_cust"))
    def quintiles(dim: String): DataFrame =
      prefixCounts(
        rfm.groupBy(col(dim).as("v")).agg(count(lit(1)).as("cnt")),
        "v", "cnt")
        .crossJoin(broadcast(nTot))
        .select(col("v"),
          expr("CAST((cum - 1) * 5 div n_cust AS BIGINT)")
            .as(s"${dim}_q"))
    rfm
      .join(quintiles("r"), col("r") === col("v")).drop("v")
      .join(quintiles("f"), col("f") === col("v")).drop("v")
      .join(quintiles("m"), col("m") === col("v")).drop("v")
      .groupBy(col("r_q"), col("f_q"), col("m_q"))
      .agg(count(lit(1)).as("n_customers"), sum(col("m")).as("rev_cents"))
      .orderBy(col("r_q"), col("f_q"), col("m_q"))
  }

  val q123RfmSegmentsOracle: String =
    """WITH o AS (
      |  SELECT o_custkey,
      |    CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS eday,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders),
      |rfm AS (
      |  SELECT o_custkey,
      |    (SELECT max(eday) FROM o) - max(eday) AS r,
      |    CAST(count(*) AS BIGINT) AS f,
      |    CAST(sum(cents) AS BIGINT) AS m
      |  FROM o GROUP BY 1),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n_cust FROM rfm),
      |rq AS (
      |  SELECT v, CAST((cum - 1) * 5 // n_cust AS BIGINT) AS r_q
      |  FROM (SELECT v, sum(cnt) OVER (ORDER BY v) AS cum FROM (
      |    SELECT r AS v, count(*) AS cnt FROM rfm GROUP BY 1))
      |  CROSS JOIN n),
      |fq AS (
      |  SELECT v, CAST((cum - 1) * 5 // n_cust AS BIGINT) AS f_q
      |  FROM (SELECT v, sum(cnt) OVER (ORDER BY v) AS cum FROM (
      |    SELECT f AS v, count(*) AS cnt FROM rfm GROUP BY 1))
      |  CROSS JOIN n),
      |mq AS (
      |  SELECT v, CAST((cum - 1) * 5 // n_cust AS BIGINT) AS m_q
      |  FROM (SELECT v, sum(cnt) OVER (ORDER BY v) AS cum FROM (
      |    SELECT m AS v, count(*) AS cnt FROM rfm GROUP BY 1))
      |  CROSS JOIN n)
      |SELECT r_q, f_q, m_q,
      |  CAST(count(*) AS BIGINT) AS n_customers,
      |  CAST(sum(m) AS BIGINT) AS rev_cents
      |FROM rfm
      |JOIN rq ON rfm.r = rq.v
      |JOIN fq ON rfm.f = fq.v
      |JOIN mq ON rfm.m = mq.v
      |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** q150: revenue-concentration audit — the exact Gini coefficient
    * and top-decile revenue share of per-customer revenue, in ppm
    * (the Lorenz-curve pair every marketplace/data-governance
    * review reads: Gini for overall inequality, the decile share
    * for "how hot is the head"). One row: (n_customers, total_cents,
    * gini_ppm, top_decile_share_ppm).
    *
    * Exact grouped-value algebra, no global sort: per-customer
    * revenue collapses to a per-VALUE table (value v, count c), and
    * a [[prefixCounts]] bucket scan gives F(v) = # customers ≤ v
    * and R(v) = revenue ≤ v. The mean-difference Gini over grouped
    * values is then G = (2·Σ_v v·(c·(F−c) + c(c+1)/2) − (N+1)·T)
    * / (N·T) — each value block contributes its exact rank-sum
    * c·F_below + c(c+1)/2 — and the decile share takes the
    * descending partial tie band at the N div 10 cut (the q145
    * arithmetic): share = (T − R(v*) + (topn − (N − F(v*)))·v*) / T
    * with v* the smallest value whose strictly-above count falls
    * short of the decile. DECIMAL(38,0) throughout (v·N·T-scale
    * products overflow BIGINT at warehouse scale).
    *
    * 100 TB posture: one customer-keyed corpus-scale exchange (the
    * revenue aggregate); the value histogram, scans, and probes run
    * at distinct-value scale. */
  def q150RevenueGini(s: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.load(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
        .as("v"))
    val perv = perCust.groupBy(col("v"))
      .agg(count(lit(1)).as("c"))
      .withColumn("rev", col("v") * col("c"))
      .localCheckpoint(false) // two scans + totals read it
    val counts = prefixCounts(perv, "v", "c")
      .select(col("v"), col("cum").as("fle")) // # customers ≤ v
    val revs = prefixCounts(perv, "v", "rev")
      .select(col("v"), col("cum").as("rle")) // revenue ≤ v
    val scan = perv.join(counts, "v").join(revs, "v")
    val totals = perv.agg(sum(col("c")).as("n_cust"),
      sum(col("rev")).as("t_rev"))
    val giniNum = scan.select(
        expr("""CAST(v AS DECIMAL(38,0)) *
                (CAST(c AS DECIMAL(38,0)) * (fle - c)
                 + CAST(c AS DECIMAL(38,0)) * (c + 1) div 2)""")
          .as("rs"))
      .agg(sum(col("rs")).as("rank_sum"))
    // descending decile cut: smallest v with (strictly-above count
    // + its own block) reaching topn — the q145 tie-band arithmetic
    val cut = scan.crossJoin(broadcast(totals))
      .filter(col("n_cust") - col("fle") + col("c") >=
        greatest(lit(1L), expr("n_cust div 10")))
      .orderBy(col("v").desc).limit(1)
      .select(col("v").as("vc"), col("fle").as("flec"),
        col("rle").as("rlec"))
    totals.crossJoin(giniNum).crossJoin(cut)
      .select(col("n_cust").as("n_customers"),
        col("t_rev").as("total_cents"),
        expr("""CAST((2 * CAST(rank_sum AS DECIMAL(38,0))
                - (CAST(n_cust AS DECIMAL(38,0)) + 1) * t_rev)
                * 1000000
                div (CAST(n_cust AS DECIMAL(38,0)) * t_rev)
                AS BIGINT)""").as("gini_ppm"),
        expr("""CAST((CAST(t_rev - rlec AS DECIMAL(38,0))
                + (greatest(1, n_cust div 10) - (n_cust - flec))
                  * CAST(vc AS DECIMAL(38,0))) * 1000000
                div t_rev AS BIGINT)""").as("top_decile_share_ppm"))
  }

  val q150RevenueGiniOracle: String =
    """WITH pc AS (
      |  SELECT o_custkey,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
      |      AS BIGINT) AS v
      |  FROM orders GROUP BY o_custkey),
      |perv AS (
      |  SELECT v, CAST(count(*) AS BIGINT) AS c,
      |    CAST(v * count(*) AS BIGINT) AS rev
      |  FROM pc GROUP BY v),
      |sc AS (
      |  SELECT v, c, rev,
      |    CAST(sum(c) OVER (ORDER BY v) AS BIGINT) AS fle,
      |    CAST(sum(rev) OVER (ORDER BY v) AS BIGINT) AS rle
      |  FROM perv),
      |tot AS (
      |  SELECT CAST(sum(c) AS BIGINT) AS n_cust,
      |    CAST(sum(rev) AS BIGINT) AS t_rev FROM perv),
      |rank_sum AS (
      |  SELECT sum(CAST(v AS HUGEINT) *
      |    (CAST(c AS HUGEINT) * (fle - c)
      |     + CAST(c AS HUGEINT) * (c + 1) // 2)) AS rank_sum
      |  FROM sc),
      |cut AS (
      |  SELECT v AS vc, fle AS flec, rle AS rlec
      |  FROM sc, tot
      |  WHERE n_cust - fle + c >= greatest(1, n_cust // 10)
      |  ORDER BY v DESC LIMIT 1)
      |SELECT t.n_cust AS n_customers, t.t_rev AS total_cents,
      |  CAST((2 * CAST(r.rank_sum AS HUGEINT)
      |    - (CAST(t.n_cust AS HUGEINT) + 1) * t.t_rev) * 1000000
      |    // (CAST(t.n_cust AS HUGEINT) * t.t_rev) AS BIGINT)
      |    AS gini_ppm,
      |  CAST((CAST(t.t_rev - c.rlec AS HUGEINT)
      |    + (greatest(1, t.n_cust // 10) - (t.n_cust - c.flec))
      |      * CAST(c.vc AS HUGEINT)) * 1000000
      |    // t.t_rev AS BIGINT) AS top_decile_share_ppm
      |FROM tot t, rank_sum r, cut c""".stripMargin
}
