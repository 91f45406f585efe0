package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.{CollectMetricsExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite

import graft.{ExecutedPlans, SparkSpec}
import graft.tools.JobCount

/** Entity-resolution semantics on planted fixtures (the synthetic
  * corpus has no true duplicate entities, so the real behavior —
  * duplicates matched, distinct entities not, blocking respected,
  * the oversized-block sorted-neighborhood fallback — is pinned
  * here; exact corpus output is oracle-gated). */
class EntityResSpec extends AnyFunSuite {
  private lazy val s = SparkSpec.spark

  private def customersDir(
      rows: Seq[(Long, String, Int, Double)]): String = {
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("er-cust")
    rows.map { case (ck, name, nation, bal) =>
      (ck, name, nation, bal, "BUILDING") }
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment")
      .write.mode("overwrite")
      .parquet(dir.resolve("customer.parquet").toString)
    dir.toString
  }

  test("q101: planted duplicates match; distinct entities and " +
      "cross-block twins do not") {
    val dir = customersDir(Seq(
      (1L, "ACME Corporation", 7, 100.0),
      (2L, "ACME Corporation Inc", 7, 250.0),   // same block, near-dup
      (3L, "Globex Industries", 7, 400.0),      // same block, distinct
      (4L, "ACME Corporation", 7, 5100.0),      // other bal bucket
      (5L, "ACME Corporation", 9, 120.0)))      // other nation
    val rows = EntityRes.q101ErBlocking(s, dir).collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getLong(7)))
    assert(rows.map(t => (t._1, t._2)).toSeq === Seq((1L, 2L)),
      s"got $rows")
    assert(rows.head._3 >= EntityRes.ErTauE6)
  }

  test("q101: jaccard arithmetic is exact on a hand case") {
    // "abcde" grams {abc,bcd,cde}; "abcdx" grams {abc,bcd,cdx}:
    // inter=2, union=4 → 500000 < τ → excluded; identical strings
    // → 1000000 → included
    val dir = customersDir(Seq(
      (1L, "abcde", 1, 0.0), (2L, "abcdx", 1, 0.0),
      (3L, "abcde", 1, 9.0)))
    val rows = EntityRes.q101ErBlocking(s, dir).collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(rows.toSeq === Seq((1L, 3L, 3L, 3L, 3L, 1000000L)))
  }

  test("q101: small blocks are exact all-pairs even across the name " +
      "sort distance") {
    // 3 members sorted as (aaaa…, mmmm…, zzzz…): the aaaa/zzzz pair is
    // maximally far apart in sort order yet still compared (n ≤ cap)
    val dir = customersDir(Seq(
      (1L, "aaaaaa", 1, 0.0), (2L, "zzzzzz", 1, 0.0),
      (3L, "aaaaaa", 1, 0.0), (4L, "zzzzzz", 1, 0.0)))
    val got = EntityRes.q101ErBlocking(s, dir).collect()
      .map(r => (r.getLong(2), r.getLong(3))).toSet
    assert(got === Set((1L, 3L), (2L, 4L)))
  }

  test("q101: oversized blocks fall back to the sorted-neighborhood " +
      "window — adjacent duplicates matched, far pairs capped, " +
      "cap surfaced as an observed metric") {
    // ONE block of 72 members (> BlockCap=64): 58 distinct fillers
    // ("nameNNN" — adjacent fillers score 4/6 = 666666 < τ, no
    // match), 2 planted adjacent duplicates, and 12 IDENTICAL names
    // whose C(12,2)=66 all-pairs are truncated by the W=8
    // neighborhood to Σ_{d=1..8}(12−d) = 60 pairs.
    val fillers = (1 to 58).map(i => (100L + i, f"name$i%03d", 1, 0.0))
    val adjacentDups = Seq(
      (900L, "name001", 1, 0.0),  // identical → sorts next to ck 101
      (901L, "name050", 1, 0.0))  // identical → sorts next to ck 150
    val dupGroup = (1 to 12).map(j => (800L + j, "dup corp holdings", 1, 0.0))
    val dir = customersDir(fillers ++ adjacentDups ++ dupGroup)
    val df = EntityRes.q101ErBlocking(s, dir)
    val got = df.collect().map(r => (r.getLong(2), r.getLong(3))).toSet
    assert(got.contains((101L, 900L)))
    assert(got.contains((150L, 901L)))
    val dupPairs = got.filter(p =>
      p._1 >= 801L && p._1 <= 812L && p._2 >= 801L && p._2 <= 812L)
    assert(dupPairs.size === 60, s"got ${dupPairs.size} in-group pairs")
    assert(!got.contains((801L, 810L)),
      "rank distance 9 > W must be outside the neighborhood")
    assert(got.contains((801L, 809L)), "rank distance 8 = W is in")
    // every record emits ≤ W candidates in a capped block
    assert(got.size <= 72L * EntityRes.NeighborW)
    // the coverage cap is never silent: observed metric rides the run
    val m = df.queryExecution.observedMetrics("q101_er_block_cap")
    assert(m.getAs[Long]("max_block_rows") === 72L)
    assert(m.getAs[Long]("max_capped_block_rows") === 72L)
  }

  test("q102: matched pairs cluster into entities (transitive chain " +
      "collapses to one cluster keyed by min custkey)") {
    // chain: 1–2 and 2–3 match (near-identical names) but 1–3 alone
    // may also match; either way CC must put {1,2,3} in ONE cluster;
    // {8,9} a second; 5 unmatched → not emitted
    val dir = customersDir(Seq(
      (1L, "Initech LLC", 1, 0.0),
      (2L, "Initech LLCx", 1, 0.0),
      (3L, "Initech LLCxy", 1, 0.0),
      (5L, "Wayne Enterprises", 1, 0.0),
      (8L, "Stark Industries", 1, 0.0),
      (9L, "Stark Industries2", 1, 0.0)))
    val rows = EntityRes.q102EntityClusters(s, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byCluster = rows.groupBy(_._2).view
      .mapValues(_.map(_._1).toSet).toMap
    assert(byCluster(1L) === Set(1L, 2L, 3L))
    assert(byCluster(8L) === Set(8L, 9L))
    assert(!rows.exists(_._1 == 5L), "singletons are not emitted")
    assert(rows.filter(_._2 == 1L).forall(_._3 == 3L))
    assert(rows.filter(_._2 == 8L).forall(_._3 == 2L))
  }

  test("ccContract closes a 300-node path graph (diameter far " +
      "beyond any fixed propagation budget) to one min-labeled " +
      "component") {
    // plain min-label propagation needs 299 rounds here — the sf10
    // name-chain failure mode; shortcutting must close it in O(log n)
    import s.implicits._
    val edges = (0L until 299L).map(i => (i, i + 1)).toDF("u", "v")
    val bidir = edges.unionByName(edges.select($"v".as("u"), $"u".as("v")))
    val labels0 = bidir.select($"u".as("doc_id")).distinct()
      .withColumn("label", $"doc_id")
    val out = EntityRes.ccContract(labels0, bidir, maxRounds = 15)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.length === 300)
    assert(out.forall(_._2 == 0L), "every node labeled by the path min")
  }

  private def bidirOf(pairs: Seq[(Long, Long)]): DataFrame = {
    import s.implicits._
    val e = pairs.toDF("u", "v")
    e.unionByName(e.select($"v".as("u"), $"u".as("v")))
  }

  private def labelMap(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Smallest member id per node by union-find — the reference the
    * engine's paths are checked against. */
  private def minLabels(nodes: Seq[Long],
      pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    pairs.foreach { case (u, v) =>
      val (a, b) = (find(u), find(v))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    nodes.map(n => n -> find(n)).toMap
  }

  test("ccContract's driver finish labels exactly as forced-distributed " +
      "passes: a 300-node path, a seeded multi-component graph with " +
      "duplicate edges, an empty edge set") {
    import s.implicits._
    val rnd = new scala.util.Random(20261018L)
    // 8 disjoint id ranges, sparse random edges inside each (several
    // components per range), every edge repeated in one or both
    // directions some of the time
    val random = (0 until 8).flatMap { c =>
      val lo = c * 100L
      Seq.fill(60)((lo + rnd.nextInt(100), lo + rnd.nextInt(100)))
        .filter { case (u, v) => u != v }
    }
    val withDups = random ++ random.take(40) ++ random.take(25).map(_.swap)
    val cases = Seq(
      "path" -> (0L until 299L).map(i => (i, i + 1)),
      "random" -> withDups,
      "empty" -> Seq.empty[(Long, Long)])
    for ((name, pairs) <- cases) {
      // labels0 also holds nodes no edge touches (they stay singletons)
      val nodes = (pairs.flatMap(e => Seq(e._1, e._2)) ++
        Seq(5000L, 5001L)).distinct
      val labels0 = nodes.toDF("doc_id").withColumn("label", $"doc_id")
      val bidir = bidirOf(pairs)
      val nRows = 2L * pairs.size
      val finish = EntityRes.ccRun(labels0, bidir)
      val distributed = EntityRes.ccRun(labels0, bidir, finishCap = Some(0L))
      // above the cap at the first fetch, finished after ≥ 1 pass
      val late = EntityRes.ccRun(labels0, bidir,
        finishCap = Some(math.max(nRows - 1, 0L)))
      val want = minLabels(nodes, pairs)
      assert(finish.rawDepth.isDefined, s"$name: finish must run unpassed")
      if (pairs.nonEmpty) {
        assert(distributed.rawDepth.isEmpty && late.rawDepth.isEmpty, name)
      }
      for ((path, cc) <- Seq("finish" -> finish,
          "distributed" -> distributed, "late finish" -> late)) {
        assert(labelMap(cc.labels) === want, s"$name via $path")
      }
    }
  }

  test("ccContract's finish depth is the synchronous-round count, and " +
      "a broadcast threshold of -1 turns the finish off") {
    // path 0..9 labeled from its min end: 9 rounds; a star: 1 round
    val path = (0L until 9L).map(i => (i, i + 1))
    val star = (11L to 15L).map(i => (10L, i))
    val labels0 = {
      import s.implicits._
      (0L to 15L).toDF("doc_id").withColumn("label", $"doc_id")
    }
    assert(EntityRes.ccRun(labels0, bidirOf(path ++ star)).rawDepth
      === Some(9))
    assert(EntityRes.ccRun(labels0, bidirOf(star)).rawDepth === Some(1))
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val before = s.conf.get(key)
    s.conf.set(key, "-1")
    try {
      val off = EntityRes.ccRun(labels0, bidirOf(path ++ star))
      assert(off.rawDepth.isEmpty, "threshold -1 must force the passes")
      assert(labelMap(off.labels) ===
        minLabels(0L to 15L, path ++ star))
    } finally s.conf.set(key, before)
  }

  test("q176 sorts its block-grain result in one partition: the rows " +
      "of the global sort, in its order, with one Spark job fewer " +
      "(the pair stage no longer re-runs to sample range bounds)") {
    import s.implicits._
    // q176 plants its own probe blocks; one real customer suffices
    val pieces = EntityRes.q176Pieces(s,
      customersDir(Seq((1L, "Acme Corp", 1, 0.0))))
    val (rows, jobs) = JobCount(s)(pieces("full").collect().toSeq)
    val (globalRows, globalJobs) = JobCount(s)(pieces("unordered")
      .orderBy($"nation", $"bal_bucket").collect().toSeq)
    assert(rows.nonEmpty && rows === globalRows)
    assert(jobs === globalJobs - 1)
  }

  test("q176's literal probe rows are what Spark computes for the same " +
      "ids: lower(md5(tag ++ id)) for the fillers, lower(name) for the " +
      "endpoints") {
    import org.apache.spark.sql.functions._
    import s.implicits._
    val computed = EntityRes.ProbeBlocks.map { b =>
      s.range(b.nFillers)
        .select(lit(b.fillerBase) - col("id"),
          lower(md5(concat(lit(b.fillerTag), col("id").cast("string")))))
        .union(b.endpoints.toDF("ck", "nm")
          .select(col("ck"), lower(col("nm"))))
        .select(lit(b.nation), lit(0L), col("*"))
    }.reduce(_ union _).collect().map(_.toSeq).sortBy(_(2).toString)
    val literal = EntityRes.probeRows.map(_.toSeq).sortBy(_(2).toString)
    assert(literal.size === EntityRes.ErRecallFillers +
      EntityRes.ErRecallBigFillers + 8)
    assert(literal === computed.toSeq)
  }

  private def topJoin(p: SparkPlan): Option[BaseJoinExec] = p match {
    case j: BaseJoinExec => Some(j)
    case _ => ExecutedPlans.children(p).view.flatMap(topJoin).headOption
  }

  /** The shuffles a join side reads directly (broadcasts are looked
    * through: a broadcast side is built from what its stage read). */
  private def nearestShuffles(p: SparkPlan): Seq[ShuffleExchangeExec] =
    p match {
      case e: ShuffleExchangeExec => Seq(e)
      case _ => ExecutedPlans.children(p).flatMap(nearestShuffles)
    }

  test("q176's all-pairs join reads one explicit round-robin exchange " +
      "on both sides, so its kernel runs on every core") {
    val full = EntityRes.q176Pieces(s,
      customersDir(Seq((1L, "Acme Corp", 1, 0.0))))("full")
    full.collect()
    val plan = full.queryExecution.executedPlan
    val join = topJoin(plan).getOrElse(fail(s"no join in\n$plan"))
    val n = s.sparkContext.defaultParallelism
    join.children.foreach { side =>
      val ex = nearestShuffles(side)
      assert(ex.nonEmpty && ex.forall(_.outputPartitioning ===
        RoundRobinPartitioning(n)), s"join side:\n$side")
    }
  }

  test("q176 computes elig once: both join sides read ONE exchange, " +
      "one rank Window and one CollectMetrics run, and the cap metrics " +
      "keep their values") {
    val full = EntityRes.q176Pieces(s,
      customersDir(Seq((1L, "Acme Corp", 1, 0.0))))("full")
    full.collect()
    val plan = full.queryExecution.executedPlan
    val sides = topJoin(plan).getOrElse(fail(s"no join in\n$plan"))
      .children.map(nearestShuffles)
    assert(sides.forall(_.size == 1) && (sides(0).head eq sides(1).head),
      s"join sides read different exchanges:\n$plan")
    val nodes = ExecutedPlans.nodes(plan)
    assert(nodes.count(_.isInstanceOf[WindowExec]) === 1, plan)
    assert(nodes.count(_.isInstanceOf[CollectMetricsExec]) === 1, plan)
    // the planted >TruthCap block is the largest capped block
    val big = EntityRes.ErRecallBigFillers + 4L
    val m = full.queryExecution.observedMetrics("q176_er_recall_truth_cap")
    assert(m.getAs[Long]("max_capped_block_rows") === big)
    assert(m.getAs[Long]("max_member_sample_mod") ===
      (big + EntityRes.ErRecallTruthCap - 1) / EntityRes.ErRecallTruthCap)
  }

  test("q101 plans block-local pair expansion only: no cartesian, " +
      "no BNLJ, no global window, no self-join of the table") {
    val a = graft.tools.PlanAudit.of(
      EntityRes.q101ErBlocking(s, "/root/testdata/sf0.001"))
    assert(!a.cartesian && !a.bnlj && !a.globalWindow)
  }

  test("q109: a match clique is one triangle at transitivity 1; a " +
      "lone matched pair adds an edge but no wedge") {
    // nation 1: three identical names → 3 pairwise matches (clique);
    // nation 2: two identical names → one edge, degree-1 endpoints
    val dir = customersDir(Seq(
      (1L, "acme corp", 1, 0.0), (2L, "acme corp", 1, 0.0),
      (3L, "acme corp", 1, 0.0),
      (4L, "zen corp", 2, 0.0), (5L, "zen corp", 2, 0.0)))
    val r = EntityRes.q109ErTriangles(s, dir).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) === ((5L, 4L, 3L, 1L, 1000000L)))
  }

  test("q109: an open chain has a wedge but no triangle — " +
      "transitivity 0") {
    // One block, three names X≈Y≈Z with X≉Z. Trigram sets: Y
    // ("abcdefghij") has 8, X = Y with a "zab" head → 9
    // (J(X,Y)=8/9=888888 ≥ τ), Z = Y plus "ijk","jkl" tail → 10
    // (J(Y,Z)=8/10=800000 ≥ τ), while J(X,Z)=8/11=727272 < τ.
    val dir = customersDir(Seq(
      (1L, "zabcdefghij", 1, 0.0),
      (2L, "abcdefghij", 1, 0.0),
      (3L, "abcdefghijkl", 1, 0.0)))
    val r = EntityRes.q109ErTriangles(s, dir).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) === ((3L, 2L, 1L, 0L, 0L)))
  }

  test("q132: the open chain's missing link is predicted at Jaccard 1; " +
      "a complete triangle predicts nothing") {
    // q109's open-chain fixture: 1–2–3 matched, 1–3 not. The only
    // common-neighbor non-edge is (1,3) through pivot 2: Γ(1)={2},
    // Γ(3)={2} → J = 1/(1+1−1) = 1.0 exactly.
    val chain = customersDir(Seq(
      (1L, "zabcdefghij", 1, 0.0),
      (2L, "abcdefghij", 1, 0.0),
      (3L, "abcdefghijkl", 1, 0.0)))
    val got = EntityRes.q132LinkPred(s, chain).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.toSeq === Seq((1L, 3L, 1L, 1L, 1L, 1000000L)))

    // three identical names: K3 — every common-neighbor pair is
    // already an edge, so the reviewer queue is empty
    val tri = customersDir(Seq(
      (1L, "globex international", 1, 0.0),
      (2L, "globex international", 1, 0.0),
      (3L, "globex international", 1, 0.0)))
    assert(EntityRes.q132LinkPred(s, tri).collect().isEmpty)
  }

  test("q152: an open chain is perfectly disassortative (r = -1); a " +
      "regular clique has zero degree variance (r reported 0)") {
    // the q109 open chain 1–2–3: endpoints deg 1, middle deg 2 —
    // a star with n = 2 spokes, Newman's textbook r = −1 case.
    // Exact: M=4, Σx=6, Σx²=10, Σxy=8 → num = 32−36 = −4,
    // den = 40−36 = 4 → r_ppm = −1000000 (sign applied outside the
    // div, so Spark's truncate and DuckDB's floor cannot diverge).
    val chain = customersDir(Seq(
      (1L, "zabcdefghij", 1, 0.0),
      (2L, "abcdefghij", 1, 0.0),
      (3L, "abcdefghijkl", 1, 0.0)))
    val r1 = EntityRes.q152Assortativity(s, chain).collect().head
    assert((r1.getLong(0), r1.getLong(1), r1.getLong(2))
      === ((3L, 2L, -1000000L)))

    // K3: every degree is 2 — zero variance, r undefined → 0
    val tri = customersDir(Seq(
      (1L, "globex international", 1, 0.0),
      (2L, "globex international", 1, 0.0),
      (3L, "globex international", 1, 0.0)))
    val r2 = EntityRes.q152Assortativity(s, tri).collect().head
    assert((r2.getLong(0), r2.getLong(1), r2.getLong(2))
      === ((3L, 3L, 0L)))
  }

  test("q152: disjoint regular components of different degrees mix " +
      "no degree classes — perfectly assortative (r = +1)") {
    // q109's clique+pair fixture: K3 (degrees 2) plus a lone matched
    // pair (degrees 1). Every edge joins equal degrees: M=8, Σx=14,
    // Σx²=26, Σxy=26 → num = den = 12 → r_ppm = +1000000.
    val dir = customersDir(Seq(
      (1L, "acme corp", 1, 0.0), (2L, "acme corp", 1, 0.0),
      (3L, "acme corp", 1, 0.0),
      (4L, "zen corp", 2, 0.0), (5L, "zen corp", 2, 0.0)))
    val r = EntityRes.q152Assortativity(s, dir).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2))
      === ((5L, 4L, 1000000L)))
  }
}
