package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.commons.codec.digest.DigestUtils
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.Tables

/** Entity resolution / record linkage over structured records — the
  * dedup family applied to TABLES instead of documents: blocking to
  * bound the candidate space, bounded in-block pair generation, and a
  * deterministic string-similarity score against ground truth fields;
  * matched pairs then feed connected components to form the entity
  * clusters a record-linkage system actually ships (q102).
  */
object EntityRes {

  /** Account-balance blocking bucket width (cents). */
  val BalBucket = 100000L
  /** Match threshold on the name-trigram Jaccard (×10⁶). */
  val ErTauE6 = 750000L
  /** Block-size cap for EXACT all-pairs comparison. A block of n ≤
    * BlockCap members gets every C(n,2) pair — identical semantics to
    * unblocked ER inside the block. */
  val BlockCap = 64
  /** Sorted-neighborhood window width for blocks ABOVE [[BlockCap]]:
    * each record is compared only with its next `NeighborW` neighbors
    * in lexicographic name order (Hernández & Stolfo 1995), so the
    * per-block pair count is O(n·W) instead of O(n²). */
  val NeighborW = 8

  /** Distinct character 3-grams of a lowercased string column
    * (guarded: Spark's `sequence(1, 0)` would DESCEND, so strings
    * shorter than 3 chars return an empty set explicitly). */
  private def trigrams(c: Column): Column = {
    val lc = lower(c)
    when(length(lc) < 3, array().cast("array<string>"))
      .otherwise(array_distinct(transform(
        sequence(lit(1), length(lc) - 2),
        i => lc.substr(i, lit(3)))))
  }

  /** The q101 candidate-pair stream BEFORE the match threshold —
    * shared by q101 (thresholded pairs) and q102 (clusters over the
    * matched pairs). Columns: (nation, bal_bucket, cust_a, cust_b,
    * n_a, n_b, n_inter, jacc_e6), pairs normalized to cust_a <
    * cust_b, already filtered to jacc_e6 ≥ [[ErTauE6]].
    *
    * Blocking + pair generation, the scale-safe shape: block by
    * (nation, balance bucket), SORT each block by lowercased name
    * (the sorted-neighborhood ordering — near-duplicate names are
    * lexicographic neighbors), and generate pairs from a BOUNDED
    * following-window per record: all following members while the
    * block holds ≤ [[BlockCap]] records (exact all-pairs, C(n,2)),
    * only the next [[NeighborW]] sort-neighbors once it is larger.
    * Every record therefore emits ≤ BlockCap candidates regardless
    * of block cardinality — the O(n²) in-block blowup the fixed
    * (nation × bucket) key would otherwise hit at corpus scale is
    * structurally gone, and no row ever materializes a whole block
    * (the previous one-row-per-block `collect_list` shape).
    *
    * 100 TB posture: ONE customer scan, map-side trigram kernel, one
    * shuffle on the block key for the window sort, and O(BlockCap)
    * state per row in the sliding frame. Oversized blocks degrade
    * gracefully to sorted-neighborhood recall instead of quadratic
    * work, and the degradation is never silent: an `observe` metric
    * rides the run (max block size + rows inside capped blocks — the
    * `Dedup` ngram-cap pattern; Bench/Verify print every observed
    * metric). The comparator (distinct-trigram Jaccard with the
    * n_a + n_b − n_inter ≥ 1 empty-set guard) is exact integer
    * arithmetic both engines reproduce. */
  private[operators] def matchedPairs(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(s, dir, "customer")
      .select(col("c_nationkey").cast("long").as("nation"),
        expr(s"CAST(round(c_acctbal * 100) AS BIGINT) div $BalBucket")
          .as("bal_bucket"),
        col("c_custkey").as("ck"),
        lower(col("c_name")).as("nm"),
        // sorted ONCE per record: the in-block pair arms intersect by
        // merge (sortedIntersectCount) instead of per-pair hashing —
        // sort order changes nothing about the set size (round 14)
        sort_array(trigrams(col("c_name"))).as("g"))
      .withColumn("ng", size(col("g")).cast("long"))
      // explicit-N block-keyed partitioning (round 14): both pair
      // arms' windows and groupBys key on the block; AQE coalesced
      // the small sf0.1 exchange to ~4 partitions and the C(bn,2)
      // in-row pair expansion ran near-serially (1.4 s wall, max
      // task 1.37 s, in every matchedPairs consumer)
      .repartition(s.sparkContext.defaultParallelism,
        col("nation"), col("bal_bucket"))
    val block = Window.partitionBy(col("nation"), col("bal_bucket"))
    val ord = block.orderBy(col("nm"), col("ck"))
    val withBn = base.withColumn("bn", count(lit(1)).over(block))
    // Both pair arms read the SAME block-keyed exchange (ReuseExchange
    // dedups it, so the trigram kernel runs once per scan); each arm
    // re-derives the cheap bn window above the shared shuffle.
    // small blocks (≤ cap): ONE collect per block — bounded at
    // BlockCap structs per produced row BY the cap (the r8 shape's
    // flaw was exactly that this bound did not exist) — then in-list
    // ordered pairs. Building each block's array once is O(n) array
    // work total, where a sliding frame would rebuild an O(cap)
    // buffer per row.
    val small = withBn.filter(col("bn") <= BlockCap)
      .groupBy(col("nation"), col("bal_bucket"), col("bn"))
      .agg(sort_array(collect_list(
        struct(col("nm"), col("ck"), col("ng"), col("g")))).as("ms"))
      .select(col("nation"), col("bal_bucket"), col("bn"),
        explode(Overlap.orderedPairs(col("ms"), (a, b) =>
          struct(a.getField("ck").as("cka"), b.getField("ck").as("ckb"),
            a.getField("ng").as("nga"), b.getField("ng").as("ngb"),
            graft.functions.TextStatFunctions.sortedIntersectCount(
              a.getField("g"), b.getField("g")).as("ni")))).as("p"))
    // oversized blocks: the W-neighborhood sliding frame — an O(W)
    // buffer per row, rebuilt per row, total O(n·W)
    val large = withBn.filter(col("bn") > BlockCap)
      .withColumn("nbrs", collect_list(struct(col("nm"), col("ck"),
        col("ng"), col("g"))).over(ord.rowsBetween(1, NeighborW)))
      .select(col("nation"), col("bal_bucket"), col("bn"),
        explode(transform(col("nbrs"), b =>
          struct(col("ck").as("cka"), b.getField("ck").as("ckb"),
            col("ng").as("nga"), b.getField("ng").as("ngb"),
            graft.functions.TextStatFunctions.sortedIntersectCount(
              col("g"), b.getField("g")).as("ni")))).as("p"))
    small.unionByName(large)
      // the coverage decision, surfaced (never silent): which blocks
      // fell back from exact all-pairs to the W-neighborhood.
      // Observed over the candidate-pair stream (pre-threshold: every
      // ≥2-member block contributes candidates, so every cappable
      // block is seen); MAX-based metrics because q101's final global
      // sort runs a range-partitioner SAMPLING pass over this node
      // before the real pass, and a sum would double-count.
      .observe("q101_er_block_cap",
        coalesce(max(col("bn")), lit(0L)).as("max_block_rows"),
        coalesce(max(when(col("bn") > BlockCap, col("bn")).otherwise(0L)),
          lit(0L)).as("max_capped_block_rows"))
      .select(col("nation"), col("bal_bucket"),
        least(col("p.cka"), col("p.ckb")).as("cust_a"),
        greatest(col("p.cka"), col("p.ckb")).as("cust_b"),
        when(col("p.cka") < col("p.ckb"), col("p.nga"))
          .otherwise(col("p.ngb")).as("n_a"),
        when(col("p.cka") < col("p.ckb"), col("p.ngb"))
          .otherwise(col("p.nga")).as("n_b"),
        col("p.ni").as("n_inter"))
      // two-empty-trigram-set pairs have union 0: undefined Jaccard,
      // excluded on BOTH engines (DuckDB's // would raise; Spark's
      // div would return null)
      .filter(col("n_a") + col("n_b") - col("n_inter") >= 1)
      .withColumn("jacc_e6",
        expr("n_inter * 1000000 div (n_a + n_b - n_inter)"))
      .filter(col("jacc_e6") >= ErTauE6)
  }

  /** q101: blocked entity resolution over customers — block by
    * (nation, $1000 balance bucket), generate the bounded in-block
    * candidate pairs of [[matchedPairs]], score each by
    * distinct-name-trigram Jaccard, and emit candidates at jacc_e6 ≥
    * [[ErTauE6]]: (nation, bal_bucket, cust_a, cust_b, n_a, n_b,
    * n_inter, jacc_e6).
    *
    * This is the Fellegi–Sunter blocking+comparison skeleton every
    * record-linkage system runs (the synthetic corpus has no true
    * duplicate entities, so the threshold selects near-identical
    * name strings — EntityResSpec plants real duplicate fixtures to
    * pin the semantics, including the sorted-neighborhood fallback
    * in oversized blocks). */
  def q101ErBlocking(s: SparkSession, dir: String): DataFrame =
    matchedPairs(s, dir)
      .orderBy(col("nation"), col("bal_bucket"), col("cust_a"),
        col("cust_b"))

  /** The pair-generation SQL shared by the q101 and q102 oracles:
    * CTEs ending in `matched` = the thresholded pair set (DuckDB
    * reproduces the bounded window as a rank self-join: b.rn − a.rn
    * ≤ BlockCap in small blocks, ≤ NeighborW in capped ones — the
    * exact pair set the engine's sliding frame generates). */
  private def pairsSql: String =
    s"""base AS (
       |  SELECT CAST(c_nationkey AS BIGINT) AS nation,
       |    CAST(round(c_acctbal * 100) AS BIGINT) // $BalBucket
       |      AS bal_bucket,
       |    c_custkey AS ck, lower(c_name) AS nm,
       |    list_distinct(list_transform(
       |      range(1, greatest(len(c_name) - 2, 0) + 1),
       |      i -> substring(lower(c_name), i, 3))) AS g
       |  FROM customer),
       |w AS (
       |  SELECT base.*,
       |    row_number() OVER (PARTITION BY nation, bal_bucket
       |      ORDER BY nm, ck) AS rn,
       |    count(*) OVER (PARTITION BY nation, bal_bucket) AS bn
       |  FROM base),
       |pairs AS (
       |  SELECT a.nation AS nation, a.bal_bucket AS bal_bucket,
       |    least(a.ck, b.ck) AS cust_a, greatest(a.ck, b.ck) AS cust_b,
       |    CAST(CASE WHEN a.ck < b.ck THEN len(a.g) ELSE len(b.g) END
       |      AS BIGINT) AS n_a,
       |    CAST(CASE WHEN a.ck < b.ck THEN len(b.g) ELSE len(a.g) END
       |      AS BIGINT) AS n_b,
       |    CAST(len(list_intersect(a.g, b.g)) AS BIGINT) AS n_inter
       |  FROM w a JOIN w b
       |    ON a.nation = b.nation AND a.bal_bucket = b.bal_bucket
       |    AND b.rn > a.rn
       |    AND b.rn - a.rn <=
       |      (CASE WHEN a.bn <= $BlockCap THEN $BlockCap
       |            ELSE $NeighborW END)),
       |matched AS (
       |  SELECT nation, bal_bucket, cust_a, cust_b, n_a, n_b, n_inter,
       |    CAST(n_inter * 1000000 // (n_a + n_b - n_inter) AS BIGINT)
       |      AS jacc_e6
       |  FROM pairs
       |  WHERE n_a + n_b - n_inter >= 1
       |    AND n_inter * 1000000 // (n_a + n_b - n_inter) >= $ErTauE6)""".stripMargin

  val q101ErBlockingOracle: String =
    s"""WITH $pairsSql
       |SELECT nation, bal_bucket, cust_a, cust_b, n_a, n_b, n_inter,
       |  jacc_e6
       |FROM matched
       |ORDER BY nation, bal_bucket, cust_a, cust_b""".stripMargin

  // ---- q176: what the block cap costs (recall calibration) ----------

  /** Filler rows in the planted probe block: 67 + 4 endpoints = 71
    * members > [[BlockCap]], so the block is in the capped
    * sorted-neighborhood regime at EVERY scale. */
  val ErRecallFillers = 67
  /** Per-block size budget for the exact all-pairs TRUTH arm — the
    * calibration's own cost cap (truth work is Σ (bn/m)² over
    * measured blocks). Until round 14 blocks above it were EXCLUDED
    * (so at sf10, where every natural capped block exceeds it, the
    * only measured row was the planted one — the round-13 verdict's
    * ask #3); now a block above the budget enters on a deterministic
    * 1-in-⌈bn/TruthCap⌉ MEMBER hash-sample instead, reported as
    * `sample_mod` in its output row. */
  val ErRecallTruthCap = 1024L
  /** Natural capped blocks enter the truth arm on a deterministic
    * 1-in-[[ErRecallSampleMod]] block-key hash sample (the q131
    * sampled-ground-truth recipe); the planted blocks always enter. */
  val ErRecallSampleMod = 64L
  /** Filler rows in the SECOND planted block (nation −2): big enough
    * that ⌈bn/TruthCap⌉ = 2, so the member-sampled truth path is
    * exercised — non-vacuously — at EVERY scale, not just where
    * natural blocks outgrow the budget. Its four endpoints' ids are
    * chosen so their member hash is even (they survive the mod-2
    * sample) and the far/near pair geometry is preserved. */
  val ErRecallBigFillers = 1030

  /** The planted oversized block (nation −1 — no real customer block
    * can collide): two TRUE pairs sharing a long name core, one
    * placed > W apart in sort order (endpoints "0 …" / "zz …"
    * sandwich the 67 hex-named fillers → MISSED by the
    * sorted-neighborhood window), one adjacent ("g0 …"/"g1 …" →
    * FOUND), fillers mutually dissimilar md5-hex names. The q154
    * replant lesson applied to ER: natural capped blocks may hold no
    * far-apart true pair at small scales, so without planting the
    * missed side of the calibration gates nothing. */
  private val ErRecallCore = "recall calibration far apart pair anchor"
  private val ErRecallCore2 = "nearby duplicate twin middle zone text"

  /** One planted block under `nation`: `nFillers` mutually
    * dissimilar md5-hex names (ck = `fillerBase` − i, name = md5 hex of
    * `fillerTag` ++ i) plus a far endpoint pair (first/last in name
    * order — MISSED by the W-window) and an adjacent near pair
    * (FOUND). */
  private[operators] final case class ProbeBlock(nation: Long,
      fillerBase: Long, nFillers: Int, fillerTag: String,
      endpoints: Seq[(Long, String)])

  private[operators] val ProbeBlocks: Seq[ProbeBlock] = Seq(
    ProbeBlock(-1L, -2000000L, ErRecallFillers, "errecall", Seq(
      (-1000001L, s"0 $ErRecallCore"), (-1000002L, s"zz $ErRecallCore"),
      (-1000003L, s"g0 $ErRecallCore2"),
      (-1000004L, s"g1 $ErRecallCore2"))),
    // the >TruthCap block: endpoint ids chosen (offline, md5 of the
    // decimal string) so all four survive the mod-2 member sample the
    // block's size forces
    ProbeBlock(-2L, -4000000L, ErRecallBigFillers, "errecallbig", Seq(
      (-3000001L, s"0 $ErRecallCore"), (-3000002L, s"zz $ErRecallCore"),
      (-3000003L, s"g0 $ErRecallCore2"),
      (-3000007L, s"g1 $ErRecallCore2"))))

  private val probeSchema = StructType(Seq("nation", "bal_bucket", "ck")
    .map(StructField(_, LongType, nullable = false)) :+
    StructField("nm", StringType, nullable = false))

  /** The planted rows (nation, bal_bucket, ck, nm), a driver-side
    * constant: `nm` needs no `lower` — md5 hex is lowercase, and so
    * are the ASCII endpoint names (EntityResSpec checks both against
    * Spark's `lower(md5(...))`). */
  private[operators] lazy val probeRows: Seq[Row] =
    ProbeBlocks.flatMap { b =>
      ((0 until b.nFillers).map(i =>
        (b.fillerBase - i, DigestUtils.md5Hex(b.fillerTag + i))) ++
        b.endpoints).map { case (ck, nm) => Row(b.nation, 0L, ck, nm) }
    }

  /** q176: recall cost of the q101 block cap — the q153/q131
    * calibration treatment applied to the ER pillar. q101's
    * 64-cap + W=8 sorted neighborhood documents its Hernández–Stolfo
    * recall degradation but never measured it; this query does: for
    * every measured CAPPED block (bn > [[BlockCap]]), the EXACT
    * all-pairs matched set at q101's own threshold is the truth, the
    * pairs within the W-neighborhood are the found set, and the row
    * reports (truth_pairs, found_pairs, missed_pairs, recall_e6).
    * Only blocks with ≥1 truth pair report (recall of nothing is
    * undefined); the planted probe block guarantees one non-vacuous
    * row — found ≥ 1 AND missed ≥ 1 — at every scale.
    *
    * 100 TB posture: the truth arm is the calibration's only
    * super-linear stage and is explicitly bounded — capped blocks
    * enter on a deterministic block-key hash sample
    * (1/[[ErRecallSampleMod]]), and a block larger than
    * [[ErRecallTruthCap]] members enters on a deterministic
    * 1-in-⌈bn/TruthCap⌉ MEMBER hash-sample (md5 of the id — a
    * LINEAR id function would correlate with the name-sort order on
    * this corpus and bias the found arm) with the rate reported as
    * `sample_mod`, so expected sampled membership ≈ TruthCap and
    * Σ (bn/m)² over measured blocks ≤ sampled-blocks × TruthCap².
    * Each truth pair survives the sample with probability 1/m²
    * independent of its rank distance, so recall over sampled pairs
    * is an unbiased estimate of the block's true recall — this is
    * what replaces the pre-round-14 size EXCLUSION that left the
    * planted block as the only measured row at sf10 (round-13
    * verdict ask #3). The found arm re-derives q101's own windowed
    * pair rule (b.rn − a.rn ≤ W, ranks from the FULL block, computed
    * before sampling) inside the same bounded join, so nothing
    * corpus-scale runs twice. */
  def q176ErRecall(s: SparkSession, dir: String): DataFrame =
    q176Pieces(s, dir)("full")

  /** q176 as the declared query ("full") and as its result before the
    * one-partition sort ("unordered"). */
  private[graft] def q176Pieces(s: SparkSession, dir: String)
      : Map[String, DataFrame] = {
    val real = Tables.load(s, dir, "customer")
      .select(col("c_nationkey").cast("long").as("nation"),
        expr(s"CAST(round(c_acctbal * 100) AS BIGINT) div $BalBucket")
          .as("bal_bucket"),
        col("c_custkey").as("ck"),
        lower(col("c_name")).as("nm"))
    // Round-14 shape (guide §2.3/§2.4): block size via a PARTIAL
    // (map-side) aggregation at block grain instead of a corpus-wide
    // window — the old plan shuffled every customer row WITH its
    // trigram array into a (nation, bal_bucket) window sort, and the
    // self-join ran that sort + filters once PER SIDE (two ~2.5 s
    // single-task stages at sf0.1; AQE coalesces the 0.7 MB exchange
    // to one partition, so the array-heavy sort was serial). Now the
    // corpus-scale stream only ever feeds a collapsing count
    // aggregate; capped blocks (a tiny block-grain table) broadcast
    // back, so the rank window and the trigram kernel run over
    // capped-block MEMBERS only (≈10³ rows at any scale — block
    // membership is what the calibration measures, never the corpus).
    // The cap telemetry keeps its round-13 placement contract (no
    // barrier between observe and consumers — a localCheckpoint hid
    // CollectMetrics from the listener; MAX-based so the broadcast
    // being read by both join sides cannot double-count), it just
    // rides the block-grain stream now: max(bn)/max(m) over capped
    // blocks are block-grain quantities, bit-identical to the old
    // member-grain maxima.
    // the planted rows as a LocalRelation (explicit schema, no
    // encoder), unioned once for both consumers; ~1.1k rows: one
    // partition, not a task per core
    val members = real.unionByName(
      s.createDataFrame(probeRows.asJava, probeSchema).coalesce(1))
    val bnT = members
      .groupBy(col("nation"), col("bal_bucket"))
      .agg(count(lit(1)).as("bn"))
      .filter(col("bn") > BlockCap)
      .withColumn("m", expr(
        s"(bn + $ErRecallTruthCap - 1) div $ErRecallTruthCap"))
      .observe("q176_er_recall_truth_cap",
        coalesce(max(col("bn")), lit(0L)).as("max_capped_block_rows"),
        coalesce(max(col("m")), lit(0L)).as("max_member_sample_mod"))
      .filter(col("nation") < 0 ||
        abs(col("nation") * 1009 + col("bal_bucket"))
          % ErRecallSampleMod === 0)
    val ord = Window.partitionBy(col("nation"), col("bal_bucket"))
      .orderBy(col("nm"), col("ck"))
    val elig = members
      .join(broadcast(bnT), Seq("nation", "bal_bucket"))
      // rank over the FULL block membership (the found-arm rule uses
      // q101's ranks, computed before any member sampling)
      .withColumn("rn", row_number().over(ord).cast("long"))
      .filter(col("m") === 1 ||
        expr("CAST(conv(substring(md5(CAST(ck AS STRING)), 1, 4)," +
          " 16, 10) AS BIGINT)") % col("m") === 0)
      // trigrams AFTER every filter: the kernel runs on sampled
      // capped-block members only, and no array rides an exchange.
      // Sorted ONCE per member so the all-pairs arm can intersect by
      // merge (sortedIntersectCount) instead of a per-pair hash set —
      // the sort changes only element order, never the set size.
      .withColumn("g", sort_array(trigrams(col("nm"))))
      .withColumn("ng", size(col("g")).cast("long"))
      // explicit-N exchange under BOTH join sides: AQE coalesced the
      // window's small input to one partition, so the all-pairs
      // kernel below ran as one task (sf0.01: n=1, taskSum 1.5 s);
      // an explicit N is never coalesced. Both sides, because AQE
      // picks the broadcast side at run time. Round-robin, not the
      // block key: one planted block holds most of the pairs.
      .repartition(s.sparkContext.defaultParallelism)
    // The truth predicate runs as a CONDITIONAL AGGREGATE, not a
    // pair-level Filter (round-14 profile): a filter above the join's
    // projection gets collapsed + pushed into the join condition,
    // where its `ni` references inline the intersect kernel once PER
    // REFERENCE — three kernel evaluations per candidate pair instead
    // of one (sf0.1: 3.2 s → 1.2 s for the pair stage, measured
    // A/B). Folding the predicate into sum(when(...)) keeps ONE
    // kernel evaluation per pair (codegen subexpression elimination
    // dedupes within the aggregate) and nothing pair-level exists for
    // the optimizer to push. Blocks whose sampled pairs all fail the
    // threshold aggregate to truth_pairs = 0 and are dropped
    // post-agg — exactly the rows the old pair filter never formed.
    val isTruth = col("na") + col("nb") - col("ni") >= 1 &&
      expr("ni * 1000000 div (na + nb - ni)") >= ErTauE6
    // bn and m are functions of the block key, so their equalities
    // change no pair. They keep both sides' columns identical, which
    // exchange reuse needs to serve both sides from ONE `elig` (one
    // scan, one `bnT` observe, one rank window); a side that drops
    // bn/m is a different subtree, and everything under it runs twice
    val pairs = elig.alias("a")
      .join(elig.alias("b"),
        col("a.nation") === col("b.nation") &&
          col("a.bal_bucket") === col("b.bal_bucket") &&
          col("a.bn") === col("b.bn") && col("a.m") === col("b.m") &&
          col("b.rn") > col("a.rn"))
      .select(col("a.nation").as("nation"),
        col("a.bal_bucket").as("bal_bucket"), col("a.bn").as("bn"),
        col("a.m").as("m"),
        col("a.ng").as("na"), col("b.ng").as("nb"),
        graft.functions.TextStatFunctions
          .sortedIntersectCount(col("a.g"), col("b.g")).as("ni"),
        (col("b.rn") - col("a.rn") <= NeighborW).cast("long").as("found"))
    val unordered = pairs
      .groupBy(col("nation"), col("bal_bucket"), col("bn"), col("m"))
      .agg(sum(when(isTruth, 1L).otherwise(0L)).as("truth_pairs"),
        sum(when(isTruth, col("found")).otherwise(0L)).as("found_pairs"))
      .filter(col("truth_pairs") >= 1)
      .withColumn("missed_pairs", expr("truth_pairs - found_pairs"))
      .withColumn("recall_e6",
        expr("found_pairs * 1000000 div truth_pairs"))
      .select(col("nation"), col("bal_bucket"), col("bn"),
        col("m").as("sample_mod"), col("truth_pairs"),
        col("found_pairs"), col("missed_pairs"), col("recall_e6"))
    // Block-grain result: sorted in ONE partition, not by a global
    // orderBy — its range exchange re-ran the whole pair stage (the
    // broadcast join, the intersect kernel and the aggregate share
    // one stage) to sample bounds: two single-task jobs of ~0.6 s
    // at sf0.01
    val full = unordered.repartition(1)
      .sortWithinPartitions(col("nation"), col("bal_bucket"))
    Map("unordered" -> unordered, "full" -> full)
  }

  val q176ErRecallOracle: String = {
    val tg = (e: String) => s"list_distinct(list_transform(" +
      s"range(1, greatest(len($e) - 2, 0) + 1), " +
      s"i -> substring($e, i, 3)))"
    val mSql = s"(bn + ${ErRecallTruthCap - 1}) // $ErRecallTruthCap"
    s"""WITH pnames AS (
       |  SELECT CAST(-1 AS BIGINT) AS nation, -2000000 - i AS ck,
       |    md5('errecall' || CAST(i AS VARCHAR)) AS nm
       |  FROM range($ErRecallFillers) t(i)
       |  UNION ALL SELECT -1, -1000001, '0 $ErRecallCore'
       |  UNION ALL SELECT -1, -1000002, 'zz $ErRecallCore'
       |  UNION ALL SELECT -1, -1000003, 'g0 $ErRecallCore2'
       |  UNION ALL SELECT -1, -1000004, 'g1 $ErRecallCore2'
       |  UNION ALL
       |  SELECT CAST(-2 AS BIGINT), -4000000 - i,
       |    md5('errecallbig' || CAST(i AS VARCHAR))
       |  FROM range($ErRecallBigFillers) t(i)
       |  UNION ALL SELECT -2, -3000001, '0 $ErRecallCore'
       |  UNION ALL SELECT -2, -3000002, 'zz $ErRecallCore'
       |  UNION ALL SELECT -2, -3000003, 'g0 $ErRecallCore2'
       |  UNION ALL SELECT -2, -3000007, 'g1 $ErRecallCore2'),
       |base AS (
       |  SELECT CAST(c_nationkey AS BIGINT) AS nation,
       |    CAST(round(c_acctbal * 100) AS BIGINT) // $BalBucket
       |      AS bal_bucket,
       |    c_custkey AS ck, lower(c_name) AS nm,
       |    ${tg("lower(c_name)")} AS g
       |  FROM customer
       |  UNION ALL
       |  SELECT nation, CAST(0 AS BIGINT), ck,
       |    lower(nm), ${tg("lower(nm)")}
       |  FROM pnames),
       |w AS (
       |  SELECT base.*, CAST(len(g) AS BIGINT) AS ng,
       |    CAST(row_number() OVER (PARTITION BY nation, bal_bucket
       |      ORDER BY nm, ck) AS BIGINT) AS rn,
       |    CAST(count(*) OVER (PARTITION BY nation, bal_bucket)
       |      AS BIGINT) AS bn
       |  FROM base),
       |elig0 AS (
       |  SELECT *, CAST($mSql AS BIGINT) AS m,
       |    substring(md5(CAST(ck AS VARCHAR)), 1, 4) AS mhx
       |  FROM w
       |  WHERE bn > $BlockCap
       |    AND (nation < 0
       |      OR abs(nation * 1009 + bal_bucket) % $ErRecallSampleMod = 0)),
       |elig AS (
       |  SELECT * FROM elig0
       |  WHERE m = 1 OR (${Sketch.hexSql("mhx", 4)}) % m = 0),
       |tp AS (
       |  SELECT a.nation AS nation, a.bal_bucket AS bal_bucket,
       |    a.bn AS bn, a.m AS m,
       |    CAST(b.rn - a.rn <= $NeighborW AS BIGINT) AS found
       |  FROM elig a JOIN elig b
       |    ON a.nation = b.nation AND a.bal_bucket = b.bal_bucket
       |    AND b.rn > a.rn
       |  WHERE CAST(len(a.g) AS BIGINT) + len(b.g)
       |      - len(list_intersect(a.g, b.g)) >= 1
       |    AND CAST(len(list_intersect(a.g, b.g)) AS BIGINT) * 1000000
       |      // (CAST(len(a.g) AS BIGINT) + len(b.g)
       |         - len(list_intersect(a.g, b.g))) >= $ErTauE6)
       |SELECT nation, bal_bucket, bn, m AS sample_mod,
       |  CAST(count(*) AS BIGINT) AS truth_pairs,
       |  CAST(sum(found) AS BIGINT) AS found_pairs,
       |  CAST(count(*) - sum(found) AS BIGINT) AS missed_pairs,
       |  CAST(sum(found) * 1000000 // count(*) AS BIGINT) AS recall_e6
       |FROM tp
       |GROUP BY nation, bal_bucket, bn, m
       |ORDER BY nation, bal_bucket""".stripMargin
  }

  /** Pass cap for the iterated-contraction CC loop — a backstop, not
    * a tuning knob: every hash-to-min pass shrinks each surviving
    * component by an expected constant factor (Rastogi et al. 2013's
    * hash-to-min analysis), so passes grow O(log n) and 40 exceeds
    * any physical graph. */
  val ErCcMaxRounds = 40

  /** One hash-to-min contraction pass: every node with an edge
    * adopts the CLOSED-neighborhood member minimizing
    * (xxhash64(id), id). Two properties are load-bearing:
    *
    *  - The HASH order. Contracting by plain min id shrinks a random
    *    graph ~(degree+1)× but almost not at all on this corpus —
    *    the synthetic names embed the custkey, so the
    *    sorted-neighborhood edges link CONSECUTIVE ids and
    *    min(v−W..v+W) = v−W keeps ~90% of labels distinct (measured
    *    at ×100: 1.34M of 1.49M nodes survived a min-id pass). A
    *    hash order is independent of any id/band alignment.
    *  - The rep is always a MEMBER of the node's own component, so
    *    contraction preserves components exactly, and no edge can
    *    survive a pass with both endpoints unmoved (the larger-hash
    *    endpoint of any edge never keeps itself). */
  private def hashMinPass(edges: DataFrame): DataFrame =
    edges.select(col("u").as("doc_id"), col("u").as("cand"))
      .unionByName(edges.select(col("v").as("doc_id"),
        col("u").as("cand")))
      .groupBy(col("doc_id"))
      .agg(min(struct(xxhash64(col("cand")).as("h"),
        col("cand").as("c"))).as("hl"))
      .select(col("doc_id"), col("hl.c").as("rep"))
      .localCheckpoint(true)

  /** Project an edge set through a pass's rep mapping, dropping the
    * (now internal) intra-group edges. Bidirectionality is
    * preserved: the input carries both directions, so the projected
    * set does too. */
  private def contractEdges(edges: DataFrame, p: DataFrame): DataFrame =
    edges
      .join(p.select(col("doc_id").as("u"), col("rep").as("pu")), "u")
      .join(p.select(col("doc_id").as("v"), col("rep").as("pv")), "v")
      .filter(col("pu") =!= col("pv"))
      .select(col("pu").as("u"), col("pv").as("v"))
      .distinct()
      .repartition(col("u")).localCheckpoint(true)

  /** Connected components by ITERATED hash-to-min contraction with a
    * SMALL-GRAPH FINISH: each pass maps every node to its
    * closed-neighborhood hash-min member and projects the edge set
    * through the mapping. Before every pass, the first included, one
    * bounded fetch (`limit(cap + 1)`, which is also the emptiness
    * probe) reads the current edge set; once it holds at most `cap`
    * edges, the components are finished on the driver
    * ([[bfsLabels]]) and joined back. Passes are O(log n): every
    * pass removes at least the larger-hash endpoint of every edge and
    * shrinks components by an expected constant factor regardless of
    * their shape, so the distributed loop only runs while the graph
    * is too big for one place — the cutoff Kiveris et al. ("Connected
    * Components in MapReduce and Beyond", SoCC 2014) end their rounds
    * at. The cap is [[finishCapOf]], derived from configuration.
    *
    * Why not min-label propagation + pointer jumping (the r9 shape):
    * measured at the ×100 corpus (11.6M undirected edges, 1.49M
    * nodes), that loop is round-bound — pointer jumps stall at local
    * minima, so the true component minimum CRAWLS one graph hop per
    * round and rounds degrade to O(component diameter) unless the id
    * order happens to align with the match chains (22 measured
    * rounds on a hash-contracted quotient vs 6 on the id-aligned
    * raw graph — same data). Iterated contraction has no such
    * geometry dependence, and its per-pass cost DECAYS geometrically
    * with the shrinking edge set: only the first pass is edge-scale,
    * and the cumulative node→rep composition after pass one runs at
    * quotient scale (one node-scale join at the end maps everything
    * back).
    *
    * Output contract: one row per labels0 node — (doc_id, label),
    * label = SMALLEST member id of the node's component (restored by
    * the final re-min after any pass: pass reps are hash-chosen
    * members, and the true min member need not be a representative;
    * a finish before any pass labels by min id directly). Requires
    * identity labels0 (label = doc_id) holding every node an edge
    * touches, and BIGINT ids, which the call sites pass. */
  private[operators] def ccContract(labels0: DataFrame,
      bidir: DataFrame, maxRounds: Int = ErCcMaxRounds): DataFrame =
    ccRun(labels0, bidir, maxRounds).labels

  /** [[ccContract]]'s labels, plus `rawDepth` when the finish ran on
    * the input graph itself (before any contraction pass): the
    * largest BFS depth from a component's min member, which is
    * exactly the number of synchronous min-label rounds the graph
    * needs (q45's oracle guard). */
  private[operators] final case class Cc(labels: DataFrame,
      rawDepth: Option[Int])

  /** [[ccContract]] itself; `finishCap` replaces the configured cap
    * (specs: `Some(0)` sends every component through the distributed
    * passes). */
  private[operators] def ccRun(labels0: DataFrame, bidir: DataFrame,
      maxRounds: Int = ErCcMaxRounds,
      finishCap: Option[Long] = None): Cc = {
    val cap = finishCap.getOrElse(finishCapOf(bidir))
    // None while the edge set is above the cap, the edges otherwise.
    // One single-task job: coalesce(1) keeps the limit from scanning
    // the partitions in rounds.
    def fetch(edges: DataFrame): Option[Array[(Long, Long)]] = {
      val got = edges.coalesce(1).limit((cap + 1).toInt).collect()
      if (got.length > cap) None
      else Some(got.map(r => (r.getLong(0), r.getLong(1))))
    }
    val spark = labels0.sparkSession
    import spark.implicits._
    def finished(es: Array[(Long, Long)], id: String, label: String) = {
      val (labels, depth) = bfsLabels(es)
      (labels.toSeq.toDF(id, label), depth)
    }
    // the first fetch reads `bidir` itself: a graph that finishes
    // here never pays the passes' u-partitioned checkpoint
    fetch(bidir) match {
      case Some(es) =>
        val (fin, depth) = finished(es, "f_id", "f_label")
        Cc(labels0.join(broadcast(fin), labels0("doc_id") === col("f_id"),
            "left")
          .select(labels0("doc_id"),
            coalesce(col("f_label"), labels0("doc_id")).as("label")),
          Some(depth))
      case None =>
        val edges0 = bidir.repartition(col("u")).localCheckpoint(true)
        // pass 1 — the ONLY edge/node-scale pass
        val prov = hashMinPass(edges0)
        var edges = contractEdges(edges0, prov)
        // cumulative rep1 → current-rep map, quotient-scale throughout
        var quot = prov.select(col("rep")).distinct()
          .select(col("rep").as("q0"), col("rep").as("qrep"))
          .localCheckpoint(true)
        def compose(p: DataFrame): DataFrame =
          quot.join(p.select(col("doc_id").as("j0"), col("rep").as("j1")),
              quot("qrep") === col("j0"), "left")
            .select(quot("q0"),
              coalesce(col("j1"), quot("qrep")).as("qrep"))
        var passes = 1
        var small = fetch(edges)
        while (small.isEmpty && passes < maxRounds) {
          val p = hashMinPass(edges)
          quot = compose(p).localCheckpoint(true)
          edges = contractEdges(edges, p)
          passes += 1
          small = fetch(edges)
        }
        require(small.isDefined,
          s"CC contraction did not converge within $maxRounds passes — " +
            "log-pass convergence should make this unreachable; investigate")
        // the finish labels each quotient component by its smallest rep
        quot = compose(finished(small.get, "doc_id", "rep")._1)
        // node → pass-1 rep → final component rep; then restore the
        // min-member-id output contract
        val full = labels0
          .join(prov.select(col("doc_id").as("d"), col("rep").as("r1")),
            labels0("doc_id") === col("d"), "left")
          .select(labels0("doc_id"),
            coalesce(col("r1"), labels0("doc_id")).as("r1"))
          .join(quot, col("r1") === col("q0"), "left")
          .select(col("doc_id"),
            coalesce(col("qrep"), col("r1")).as("comp"))
        val mins = full.groupBy(col("comp"))
          .agg(min(col("doc_id")).as("label"))
        Cc(full.join(mins, "comp").select(col("doc_id"), col("label")),
          None)
    }
  }

  /** The edge count below which [[ccContract]] finishes on the
    * driver: `spark.sql.autoBroadcastJoinThreshold`, the bound Spark
    * already uses for "small enough to hold in one place", over the
    * size Spark's statistics give one edge row without column stats
    * (an 8-byte row header plus each column's default size). A
    * threshold of −1 (broadcast off) turns the finish off: cap 0
    * still finishes an empty edge set, which is convergence. */
  private def finishCapOf(edges: DataFrame): Long = {
    val threshold = edges.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.autoBroadcastJoinThreshold
    if (threshold < 0) 0L
    else math.min(threshold / (8 + edges.schema.defaultSize),
      Int.MaxValue - 1L)
  }

  /** Components of a small edge set on the driver: a BFS from each
    * unvisited node in ascending id order, so a component's label is
    * its smallest id. Edges are read in both directions. Returns
    * (node → label, depth), depth = the largest BFS distance from a
    * component's min member — the round at which synchronous
    * min-label propagation stops changing labels. */
  private[operators] def bfsLabels(edges: Array[(Long, Long)])
      : (scala.collection.mutable.LongMap[Long], Int) = {
    val adj = (edges ++ edges.map(_.swap)).groupMap(_._1)(_._2)
    val label = scala.collection.mutable.LongMap.empty[Long]
    var depth = 0
    for (root <- adj.keys.toArray.sorted if !label.contains(root)) {
      label(root) = root
      var frontier = Array(root)
      var d = 0
      while (frontier.nonEmpty) {
        depth = math.max(depth, d)
        frontier = frontier.flatMap(adj).filter(y =>
          !label.contains(y) && { label(y) = root; true })
        d += 1
      }
    }
    (label, depth)
  }

  /** q102: entity clustering — the OUTPUT of a record-linkage system:
    * q101's matched pairs as an undirected graph, connected
    * components via [[ccContract]], one row per clustered record:
    * (member, entity_cluster, n_members), member = custkey,
    * entity_cluster = smallest custkey in the component. Records in
    * no matched pair are singleton entities and are not emitted.
    *
    * The oracle is a DuckDB RECURSIVE CTE computing reachability to
    * TRUE fixpoint — no pinned round count to outgrow (the q45
    * pinned-round + assert pattern is the right guard for a
    * fixed-diameter near-dup graph; a record-linkage graph's
    * diameter grows with the corpus, so here BOTH engines must
    * genuinely converge). The closure's row count is Σ component
    * size² — bounded at oracle scales because q101's blocking caps
    * component membership per block.
    *
    * 100 TB posture: the edge set is bounded by q101's capped pair
    * generation (O(rows·W) edges, not O(rows²)); CC is the iterated
    * contraction of [[ccContract]] — O(log n) passes, only the first
    * at edge scale, per-pass cost decaying with the shrinking
    * quotient. */
  def q102EntityClusters(s: SparkSession, dir: String): DataFrame = {
    // materialize the pair job ONCE: bidir references edges twice
    // (forward + swapped) and labels0 reads it again — without the
    // barrier the whole blocking+comparison pipeline runs 3×
    val edges = matchedPairs(s, dir)
      .select(col("cust_a").as("u"), col("cust_b").as("v"))
      .localCheckpoint(true)
    val bidir = edges.unionByName(
      edges.select(col("v").as("u"), col("u").as("v")))
    val nodes = bidir.select(col("u").as("doc_id")).distinct()
    val labels0 = nodes.select(col("doc_id"), col("doc_id").as("label"))
    ccContract(labels0, bidir)
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy(col("label"))))
      .select(col("doc_id").as("member"),
        col("label").as("entity_cluster"), col("n_members"))
      .orderBy(col("member"))
  }

  val q102EntityClustersOracle: String =
    s"""WITH RECURSIVE $pairsSql,
       |edges AS (SELECT cust_a AS u, cust_b AS v FROM matched),
       |bidir AS (SELECT u, v FROM edges UNION SELECT v, u FROM edges),
       |reach AS (
       |  SELECT u AS node, u AS lab FROM bidir
       |  UNION
       |  SELECT b.v AS node, r.lab AS lab
       |  FROM reach r JOIN bidir b ON b.u = r.node)
       |SELECT node AS member, min(lab) AS entity_cluster,
       |  count(*) OVER (PARTITION BY min(lab)) AS n_members
       |FROM reach GROUP BY node ORDER BY member""".stripMargin

  /** q109: triangle census of the ER match graph — ONE row:
    * (n_nodes, n_edges, n_wedges, n_triangles, transitivity_e6).
    *
    * Matching is supposed to be near-transitive (A≈B and B≈C should
    * imply A≈C); global transitivity = 3·triangles/wedges measures
    * exactly that, the record-linkage QA number that says whether
    * q102's clusters are cliques (clean duplicates) or fragile
    * chains (threshold too loose) — Wasserman & Faust's γ statistic
    * over Fellegi–Sunter output.
    *
    * Counting is DEGREE-ORIENTED (Chiba & Nishizeki; the MapReduce
    * form in Suri & Vassilvitskii 2011): orient every edge from the
    * lower (degree, id) endpoint to the higher (out-degree is
    * bounded by O(√|E|) under orientation — a hub with a million
    * matches generates wedges at its spokes, never at the hub), and
    * count per ORIENTED EDGE (u,v) as |N⁺(u) ∩ N⁺(v)| — each
    * triangle's unique DAG source-edge counts it exactly once. The
    * intersection runs over sorted out-adjacency arrays INSIDE a
    * row, so no wedge ever rides a shuffle: the match graph is a
    * union of near-cliques (sf10: 11.6M edges, max degree 16,
    * 168.8M wedges), and the wedge-pair join this replaced
    * materialized all 168.8M wedges through an exchange + semi-join
    * probe (37.7 s at ×100; the array-intersection form shuffles
    * 11.6M edge rows carrying ≤max-out-degree arrays — 10.5 s). The
    * oracle counts the same triangles by id-ordered 3-way join
    * (a < b < c) — orientation changes the WORK, never the count.
    *
    * 100 TB posture: |E| is already capped by q101's bounded pair
    * generation (O(rows·W)); per-edge intersection work is bounded
    * by oriented out-degree (arboricity ≤ O(√|E|)), the adjacency
    * arrays are built in one edge-keyed exchange, and wedge count
    * appears only as the closed-form Σd(d−1)/2 — the standard
    * scalable triangle plan with the enumeration kept inside
    * codegen. Everything else is a 1-row algebraic aggregate. */
  def q109ErTriangles(s: SparkSession, dir: String): DataFrame = {
    val edges = matchedPairs(s, dir)
      .select(col("cust_a").as("a"), col("cust_b").as("b"))
      .localCheckpoint(false) // one pair job; 4 consumers below
    val bidir = edges.unionByName(
      edges.select(col("b").as("a"), col("a").as("b")))
      .toDF("u", "v")
    val deg = bidir.groupBy(col("u")).agg(count(lit(1)).as("d"))
    // oriented edge u→v iff (d_u, u) < (d_v, v)
    val oriented = bidir
      .join(deg.select(col("u"), col("d").as("du")), "u")
      .join(deg.select(col("u").as("v"), col("d").as("dv")), "v")
      .filter(col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v")))
      .select(col("u"), col("v"))
      .localCheckpoint(false) // edge probe + adjacency build ×2
    val adj = oriented.groupBy(col("u"))
      .agg(sort_array(collect_list(col("v"))).as("nbrs"))
    val tri = oriented
      .join(adj.select(col("u"), col("nbrs").as("nu")), "u")
      .join(adj.select(col("u").as("v"), col("nbrs").as("nv")), "v")
      .select(size(array_intersect(col("nu"), col("nv")))
        .cast("long").as("c"))
      .agg(coalesce(sum(col("c")), lit(0L)).as("n_triangles"))
    val sizes = deg.agg(count(lit(1)).as("n_nodes"),
      sum(expr("d * (d - 1) div 2")).as("n_wedges"))
    val ecount = edges.agg(count(lit(1)).as("n_edges"))
    sizes.crossJoin(broadcast(ecount)).crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"),
        coalesce(col("n_wedges"), lit(0L)).as("n_wedges"),
        col("n_triangles"))
      .withColumn("transitivity_e6", expr(
        "CASE WHEN n_wedges = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE 3 * n_triangles * 1000000 div n_wedges END"))
  }

  val q109ErTrianglesOracle: String =
    s"""WITH $pairsSql,
       |edges AS (SELECT cust_a AS a, cust_b AS b FROM matched),
       |bidir AS (
       |  SELECT a AS u, b AS v FROM edges
       |  UNION ALL SELECT b AS u, a AS v FROM edges),
       |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d
       |        FROM bidir GROUP BY u),
       |tri AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_triangles
       |  FROM edges ab
       |  JOIN edges bc ON bc.a = ab.b
       |  JOIN edges ac ON ac.a = ab.a AND ac.b = bc.b),
       |sizes AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
       |    CAST(coalesce(sum(d * (d - 1) // 2), 0) AS BIGINT)
       |      AS n_wedges
       |  FROM deg),
       |ec AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM edges)
       |SELECT n_nodes, n_edges, n_wedges, n_triangles,
       |  CASE WHEN n_wedges = 0 THEN CAST(0 AS BIGINT)
       |    ELSE CAST(3 * n_triangles * 1000000 // n_wedges AS BIGINT)
       |  END AS transitivity_e6
       |FROM sizes CROSS JOIN ec CROSS JOIN tri""".stripMargin

  /** q152: degree assortativity of the ER match graph — ONE row:
    * (n_nodes, n_edges, r_ppm). Newman 2002's r is the Pearson
    * correlation of (deg u, deg v) over edge endpoints; r > 0 means
    * duplicates cluster among similarly-connected records (healthy
    * near-clique matching), r ≪ 0 means hub-and-spoke chains — the
    * graph-level complement of q109's transitivity (γ says whether
    * wedges close; r says whether degree classes mix), the same QA
    * read Newman runs on collaboration vs. internet graphs.
    *
    * EXACT WITHOUT A SQRT: over the SYMMETRIZED edge list the two
    * endpoint marginals coincide (Σx = Σy, Σx² = Σy²), so Pearson's
    * denominator collapses to M·Σx² − (Σx)² and r is a ratio of
    * integers — r_ppm = sign·(|M·Σxy − (Σx)²|·10⁶ div (M·Σx² −
    * (Σx)²)). The sign is applied OUTSIDE the division so both
    * operands are non-negative — defense-in-depth, NOT a measured
    * divergence: the pinned oracle DuckDB (1.0.0) empirically
    * truncates `//` toward zero exactly like Spark `div`
    * (`-7 // 2 = -3`, re-measured round 11; an earlier comment here
    * claimed DuckDB floors, which is false on this version — keeping
    * signs non-negative makes the query robust to either semantic). A
    * regular graph (every degree equal — e.g. a perfect clique
    * union) has zero variance: r is undefined, reported as 0.
    *
    * 100 TB posture: |E| is capped by q101's bounded pair
    * generation; the plan is the q109 prefix (degree build + two
    * edge-scale equi-joins) folded into ONE 1-row algebraic
    * aggregate — no new super-linear stage. Products widen to
    * DECIMAL(38,0): M·Σxy is ~10²⁹ at warehouse scale, far past
    * BIGINT (the q114 widening rule). */
  def q152Assortativity(s: SparkSession, dir: String): DataFrame = {
    val edges = matchedPairs(s, dir)
      .select(col("cust_a").as("a"), col("cust_b").as("b"))
      .localCheckpoint(false) // one pair job; degrees + xy + ecount
    val bidir = edges.unionByName(
      edges.select(col("b").as("a"), col("a").as("b")))
      .toDF("u", "v")
    val deg = bidir.groupBy(col("u")).agg(count(lit(1)).as("d"))
    val sums = bidir
      .join(deg.select(col("u"), col("d").as("du")), "u")
      .join(deg.select(col("u").as("v"), col("d").as("dv")), "v")
      .agg(count(lit(1)).as("m"),
        sum(col("du")).as("sx"),
        sum(expr("CAST(du AS DECIMAL(38,0)) * du")).as("sxx"),
        sum(expr("CAST(du AS DECIMAL(38,0)) * dv")).as("sxy"))
    val nn = deg.agg(count(lit(1)).as("n_nodes"))
    val ec = edges.agg(count(lit(1)).as("n_edges"))
    nn.crossJoin(broadcast(ec)).crossJoin(broadcast(sums))
      .withColumn("num", expr(
        "CAST(m AS DECIMAL(38,0)) * sxy" +
          " - CAST(sx AS DECIMAL(38,0)) * sx"))
      .withColumn("den", expr(
        "CAST(m AS DECIMAL(38,0)) * sxx" +
          " - CAST(sx AS DECIMAL(38,0)) * sx"))
      .select(col("n_nodes"), col("n_edges"),
        expr("""CAST(CASE WHEN den IS NULL OR den = 0 THEN 0
                  ELSE (CASE WHEN num < 0 THEN -1 ELSE 1 END)
                    * (abs(num) * 1000000 div den) END
                AS BIGINT)""").as("r_ppm"))
  }

  val q152AssortativityOracle: String =
    s"""WITH $pairsSql,
       |edges AS (SELECT cust_a AS a, cust_b AS b FROM matched),
       |bidir AS (
       |  SELECT a AS u, b AS v FROM edges
       |  UNION ALL SELECT b AS u, a AS v FROM edges),
       |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d
       |        FROM bidir GROUP BY u),
       |sums AS (
       |  SELECT CAST(count(*) AS HUGEINT) AS m,
       |    CAST(sum(du.d) AS HUGEINT) AS sx,
       |    CAST(sum(CAST(du.d AS HUGEINT) * du.d) AS HUGEINT) AS sxx,
       |    CAST(sum(CAST(du.d AS HUGEINT) * dv.d) AS HUGEINT) AS sxy
       |  FROM bidir b
       |  JOIN deg du ON du.u = b.u
       |  JOIN deg dv ON dv.u = b.v),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg),
       |ec AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM edges)
       |SELECT n_nodes, n_edges,
       |  CAST(CASE WHEN coalesce(m * sxx - sx * sx, 0) = 0 THEN 0
       |    ELSE (CASE WHEN m * sxy - sx * sx < 0 THEN -1 ELSE 1 END)
       |      * (abs(m * sxy - sx * sx) * 1000000
       |         // (m * sxx - sx * sx)) END AS BIGINT) AS r_ppm
       |FROM nn CROSS JOIN ec CROSS JOIN sums""".stripMargin

  /** q132: missing-link prediction over the ER match graph —
    * neighborhood-Jaccard link scoring (Liben-Nowell & Kleinberg
    * 2003): every NON-adjacent pair with at least one common match
    * neighbor, scored by |Γ(x)∩Γ(y)| / |Γ(x)∪Γ(y)|. This is the
    * record-linkage reviewer's triage queue: A≈B and B≈C matched but
    * A≈C did not — a high-Jaccard non-edge is either a matcher miss
    * (threshold too tight) or a genuine chain break, and q109's
    * transitivity says which story the graph tells globally while
    * this query names the pairs.
    *
    * Shape: common-neighbor pairs are wedge enumerations at each
    * pivot node (one self-equi-join of the bidirected edge list on
    * the pivot), then an anti-join against the edge set and two
    * degree lookups. Unlike q109 the wedge stage cannot be
    * degree-oriented (every common-neighbor pair is an output fact,
    * not a closable probe) — its cost is Σ d(n)², which stays LINEAR
    * in |E| here because q101's generator bounds degree BY
    * construction (sorted-neighborhood width W plus BlockCap-capped
    * blocks), and that bound is the documented contract: feed this
    * operator a graph with unbounded hubs and the hub must be capped
    * first (the q101 pattern). jaccard_e6 can't overflow: n_common ≤
    * max degree, a generator constant, and the ×10⁶ product sits far
    * below 2⁶³ at any corpus size. */
  def q132LinkPred(s: SparkSession, dir: String): DataFrame = {
    val edges = matchedPairs(s, dir)
      .select(col("cust_a").as("a"), col("cust_b").as("b"))
      .localCheckpoint(true) // one pair job; wedge ×2 + anti + degrees
    val bidir = edges.unionByName(
      edges.select(col("b").as("a"), col("a").as("b")))
      .toDF("u", "v")
    val deg = bidir.groupBy(col("u")).agg(count(lit(1)).as("d"))
    val commons = bidir.as("e1")
      .join(bidir.as("e2"),
        col("e1.u") === col("e2.u") && col("e1.v") < col("e2.v"))
      .select(col("e1.v").as("x"), col("e2.v").as("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("n_common"))
    val adj = edges.select(least(col("a"), col("b")).as("x"),
      greatest(col("a"), col("b")).as("y"))
    commons.join(adj, Seq("x", "y"), "left_anti")
      .join(deg.select(col("u").as("x"), col("d").as("dx")), "x")
      .join(deg.select(col("u").as("y"), col("d").as("dy")), "y")
      .withColumn("jaccard_e6",
        expr("n_common * 1000000 div (dx + dy - n_common)"))
      .select(col("x").as("cust_x"), col("y").as("cust_y"),
        col("n_common"), col("dx"), col("dy"), col("jaccard_e6"))
      .orderBy(col("cust_x"), col("cust_y"))
  }

  val q132LinkPredOracle: String =
    s"""WITH $pairsSql,
       |edges AS (SELECT cust_a AS a, cust_b AS b FROM matched),
       |bidir AS (
       |  SELECT a AS u, b AS v FROM edges
       |  UNION ALL SELECT b AS u, a AS v FROM edges),
       |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d
       |        FROM bidir GROUP BY u),
       |commons AS (
       |  SELECT e1.v AS x, e2.v AS y,
       |    CAST(count(*) AS BIGINT) AS n_common
       |  FROM bidir e1 JOIN bidir e2
       |    ON e1.u = e2.u AND e1.v < e2.v
       |  GROUP BY 1, 2),
       |adj AS (SELECT least(a, b) AS x, greatest(a, b) AS y
       |        FROM edges)
       |SELECT c.x AS cust_x, c.y AS cust_y, n_common,
       |  dx.d AS dx, dy.d AS dy,
       |  CAST(n_common * 1000000 // (dx.d + dy.d - n_common)
       |    AS BIGINT) AS jaccard_e6
       |FROM commons c
       |LEFT JOIN adj ON adj.x = c.x AND adj.y = c.y
       |JOIN deg dx ON dx.u = c.x
       |JOIN deg dy ON dy.u = c.y
       |WHERE adj.x IS NULL
       |ORDER BY cust_x, cust_y""".stripMargin

  // ---- q139: k-core decomposition (k = 2) ------------------------------

  /** Peel-round cap for [[q139KCore]] — also the UNROLLED round count
    * of the oracle, so exceeding it fails LOUDLY in both engines (the
    * q45 pinned-round discipline) instead of returning a non-core. */
  val KCoreRounds = 8

  /** q139: the 2-core of the ER match graph — iterative peeling
    * (Matula & Beck 1983): drop every record with fewer than two
    * surviving match partners until none remains. The 2-core is the
    * cyclically-corroborated skeleton of a record-linkage graph —
    * every surviving match sits on a cycle of agreeing evidence,
    * while tree-like chains (exactly the shape sorted-neighborhood
    * windows produce from coincidental adjacency) peel away. The
    * reviewer triage complement to q132: q132 queues likely MISSING
    * edges, the 2-core certifies which PRESENT edges corroborate
    * each other.
    *
    * Convergence contract: peeling is monotone, so once a pass
    * removes nothing the result is THE k-core (unique, order-free).
    * The loop probes the removed-count each round (one driver-side
    * count — the q65 probe discipline) and `require`s the fixpoint
    * within [[KCoreRounds]]; the oracle unrolls the same number of
    * rounds, and monotonicity makes early Spark convergence agree
    * with the oracle's fixed unroll.
    *
    * Scale shape: each pass is one degree aggregate plus two
    * node-keyed semi-joins, all on the (q101-capped) edge list; the
    * edge set only SHRINKS, and real linkage graphs reach the 2-core
    * fixpoint in a handful of passes (chain ends peel in parallel,
    * so rounds grow with the longest CHAIN, not graph size). */
  /** The peel loop on an arbitrary bidirected edge list `(u, v)` —
    * exposed for KCoreSpec's hand graphs. Returns the surviving
    * 2-core edges. */
  private[operators] def kcoreEdges(bidir0: DataFrame): DataFrame = {
    var bidir = bidir0.localCheckpoint(true)
    // one count action per round: the previous round's size is reused
    // as this round's baseline (the q65 probe discipline)
    var size = bidir.count()
    var round = 0
    var removed = 1L
    while (removed > 0) {
      round += 1
      val keep = bidir.groupBy(col("u")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= 2).select(col("u"))
        .localCheckpoint(true)
      val next = bidir.join(keep, Seq("u"))
        .join(keep.select(col("u").as("v")), Seq("v"))
        .select(col("u"), col("v"))
        .localCheckpoint(true)
      val nextSize = next.count()
      removed = size - nextSize
      // only PRODUCTIVE passes count against the cap: the oracle's 8
      // unrolled rounds cover 8 peels, and a graph converging in
      // exactly KCoreRounds peels still needs one extra zero-removal
      // confirmation pass here — charging that pass to the cap made
      // Spark throw where the oracle silently succeeded (round-11
      // advisor finding, off-by-one in the raise-both-together
      // contract)
      require(removed == 0 || round <= KCoreRounds,
        s"2-core did not converge in $KCoreRounds peel rounds; raise " +
          "KCoreRounds AND the oracle unroll together (q45 discipline)")
      size = nextSize
      bidir = next
    }
    bidir
  }

  def q139KCore(s: SparkSession, dir: String): DataFrame = {
    val edges = matchedPairs(s, dir)
      .select(col("cust_a").as("a"), col("cust_b").as("b"))
    val bidir = edges.unionByName(
      edges.select(col("b").as("a"), col("a").as("b")))
      .toDF("u", "v")
    kcoreEdges(bidir)
      .groupBy(col("u")).agg(count(lit(1)).as("core_deg"))
      .select(col("u").as("custkey"), col("core_deg"))
      .orderBy(col("custkey"))
  }

  val q139KCoreOracle: String = {
    // every peel CTE is re-referenced 3× by the next round — without
    // MATERIALIZED, DuckDB inlines the chain EXPONENTIALLY (3^rounds
    // copies of the base scan; measured as an fd-exhaustion error at
    // 8 rounds). Same treatment as the q65 oracle (Pipeline2).
    val rounds = (1 to KCoreRounds).map { i =>
      s"""n$i AS MATERIALIZED (SELECT u FROM e${i - 1} GROUP BY u
         |  HAVING count(*) >= 2),
         |e$i AS MATERIALIZED (SELECT e.u, e.v FROM e${i - 1} e
         |  JOIN n$i a ON a.u = e.u JOIN n$i b ON b.u = e.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH $pairsSql,
       |edges AS MATERIALIZED (
       |  SELECT cust_a AS a, cust_b AS b FROM matched),
       |e0 AS MATERIALIZED (
       |  SELECT a AS u, b AS v FROM edges
       |  UNION ALL SELECT b AS u, a AS v FROM edges),
       |$rounds
       |SELECT u AS custkey, CAST(count(*) AS BIGINT) AS core_deg
       |FROM e$KCoreRounds GROUP BY u ORDER BY custkey""".stripMargin
  }
}
