package graft.operators

import org.apache.spark.sql.execution.UnionExec
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite

import graft.{ExecutedPlans, SparkSpec}

/** IVF-PQ invariants on the real sf0.001 corpus (exact values gate
  * through the DuckDB oracle): ranks contiguous, residual-ADC
  * distances non-negative and ordered, results deterministic, and
  * every reported neighbor must live in one of the query's NProbe
  * probed cells — the whole point of the inverted index. */
class IvfpqSpec extends AnyFunSuite {
  private lazy val s = SparkSpec.spark
  private val sf = "/root/testdata/sf0.001"

  private lazy val out = Ivfpq.q87Ivfpq(s, sf).collect()
    .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))

  test("q87: contiguous ranks, non-negative ordered distances, " +
      "no self-pairs") {
    assert(out.nonEmpty && out.length <= Pq.NQueries * Pq.TopK)
    out.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).toSeq.sorted === (1 to rows.length))
      val dists = rows.sortBy(_._2).map(_._4)
      assert(dists.forall(_ >= 0L))
      assert(dists.zip(dists.tail).forall { case (a, b) => a <= b })
    }
    assert(out.forall { case (qid, _, vid, _) => qid != vid })
  }

  test("q87 is deterministic across runs") {
    val again = Ivfpq.q87Ivfpq(s, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(again.toSeq === out.toSeq)
  }

  test("q87 honors the inverted index: every neighbor is in a " +
      "probed cell") {
    import org.apache.spark.sql.functions._
    // recompute coarse assignment independently of the operator
    val b = Similarity.exactPairsBase(s, sf)
      .select(col("vec_id"), col("v"), col("sq")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2)))
    val coarse = b.filter(_._1 < Ivfpq.Kc)
    def rankCells(v: Array[Long], sq: Long): Seq[Long] =
      coarse.map { case (cid, cv, csq) =>
        val dot = cv.zip(v).map { case (a, c) => a * c }.sum
        (sq - 2 * dot + csq, cid)
      }.sortBy(identity).map(_._2).toSeq
    val cellOf = b.map { case (id, v, sq) => id -> rankCells(v, sq).head }
      .toMap
    val probed = b.filter(_._1 < Pq.NQueries)
      .map { case (id, v, sq) =>
        id -> rankCells(v, sq).take(Ivfpq.NProbe).toSet
      }.toMap
    out.foreach { case (qid, _, vid, _) =>
      assert(probed(qid).contains(cellOf(vid)),
        s"neighbor $vid of query $qid is outside the probed cells")
    }
  }

  test("q87 plans the intended shape: the coarse codebook BNLJ is " +
      "allowlisted, no cartesian, no global window") {
    val a = graft.tools.PlanAudit.of(Ivfpq.q87Ivfpq(s, sf))
    assert(!a.cartesian && !a.globalWindow)
    assert(graft.tools.PlanAudit.intendedNonEqui("q87_ivfpq"))
  }

  /** (axis value, k) → (n_queries, cand_rows, sum_hits, recall_ppm):
    * the axis is nprobe for q178 and m_subs for q179. */
  private def frontierRows(df: org.apache.spark.sql.DataFrame)
      : Map[(Long, Long), (Long, Long, Long, Long)] =
    df.select(df.columns(0), "k", "n_queries", "cand_rows", "sum_hits",
        "recall_ppm").collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap

  private lazy val q178 = frontierRows(Ivfpq.q178AnnFrontier(s, sf))
  private lazy val q179 = frontierRows(Ivfpq.q179AnnQuantizer(s, sf))

  test("q178 and q179 report every configuration of their axes") {
    assert(q178.keySet === (for (np <- Ivfpq.FrontierNProbes;
      k <- Ivfpq.FrontierKs) yield (np.toLong, k.toLong)).toSet)
    assert(q179.keySet === (for (m <- Ivfpq.QuantMs;
      k <- Ivfpq.FrontierKs) yield (m.toLong, k.toLong)).toSet)
  }

  test("q179's M=8 rows equal q178's nprobe=1 rows, and cand_rows is " +
      "the same for every M") {
    assert(Ivfpq.QuantMs.contains(Pq.M))
    Ivfpq.FrontierKs.foreach { k =>
      assert(q179((Pq.M.toLong, k.toLong)) ===
        q178((Ivfpq.QuantNProbe.toLong, k.toLong)), s"k=$k")
    }
    assert(q179.values.map(_._2).toSet.size === 1, q179)
  }

  test("q178/q179: recall_ppm = sum_hits·10⁶ div (n_queries·k) and " +
      "0 ≤ sum_hits ≤ n_queries·k") {
    (q178.toSeq ++ q179.toSeq).foreach {
      case ((_, k), (nq, _, hits, ppm)) =>
        assert(nq === Pq.NQueries.toLong)
        assert(hits >= 0L && hits <= nq * k, s"k=$k hits=$hits")
        assert(ppm === hits * 1000000L / (nq * k), s"k=$k")
    }
  }

  test("q179 folds each M into one frontier: QuantMs.size rank windows " +
      "over the scored stream, the truth window once, no per-k union") {
    val df = Ivfpq.q179AnnQuantizer(s, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val nodes = ExecutedPlans.nodes(plan)
    // windows by their leading order key: adist is a frontier's rank
    // window, dist the exact truth's (both frontiers read one
    // exchange, so it runs once); cdist ranks each build's probe panel
    val windows = nodes.collect { case w: WindowExec =>
      w.orderSpec.head.child.references.head.name }
    assert(windows.count(_ == "adist") === Ivfpq.QuantMs.size, plan)
    assert(windows.count(_ == "dist") === 1, plan)
    val unions = nodes.collect { case u: UnionExec => u }
    assert(unions.size === 1 &&
      unions.head.children.size === Ivfpq.QuantMs.size, plan)
  }
}
