package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.tools.JobCount

/** Connected-components semantics: the fixed-round q38 and q45 (the
  * CC engine, [[EntityRes.ccContract]]) agree on the real corpus (its
  * graph converges in one round), and genuinely differ on a synthetic
  * chain longer than `CcRounds` — the case q45 exists for; q45's
  * oracle-round guard and its job budget are pinned too. */
class PipelineSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"
  private lazy val s = SparkSpec.spark
  /** q45 ran 33 jobs at sf0.001 with its own probe loop (a
    * checkpoint and a label-sum probe per 3 rounds), 14 on ccContract's
    * small-graph finish. One job of slack: a single probe round (its
    * checkpoint's shuffle stages plus the probe) costs several. */
  private val Q45JobCeiling = 15

  /** Chain 0-1-…-hops: its min label needs exactly `hops` synchronous
    * rounds to reach the far end. */
  private def chain(hops: Int) = {
    import s.implicits._
    val edges = (0 until hops).map(i => (i.toLong, (i + 1).toLong))
      .toDF("u", "v")
    val bidir = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
    val labels0 = s.range(hops + 1L).select(col("id").as("doc_id"),
      col("id").as("label"))
    (labels0, bidir)
  }

  test("fixpoint CC equals fixed-round CC on the test corpus") {
    val fixed = Pipeline.q38CcLabels(s, sf).collect().toSeq
    val fix = Pipeline.q45CcFixpoint(s, sf).collect().toSeq
    assert(fixed == fix)
  }

  test("fixpoint CC differs from fixed rounds on a long chain") {
    // chain 0-1-2-...-9: min label needs 9 rounds to reach the tail
    val n = 10
    val (labels0, bidir) = chain(n - 1)
    val fix = EntityRes.ccContract(labels0, bidir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fix == (0 until n).map(i => i.toLong -> 0L).toMap,
      "fixpoint must label the whole chain with its min id")
    // k synchronous rounds move a label at most k hops: vertex i still
    // holds max(0, i - k) after k rounds — ≠ fixpoint for i > k
    val k = Pipeline.CcRounds
    val kRound = (1 to k).foldLeft(labels0) { (l, _) =>
      l.union(l.join(bidir, l("doc_id") === bidir("u"))
          .select(col("v").as("doc_id"), col("label")))
        .groupBy(col("doc_id")).agg(min(col("label")).as("label"))
    }.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kRound == (0 until n).map(i => i.toLong -> math.max(0, i - k).toLong).toMap)
    assert(kRound != fix)
  }

  test("q45's oracle guard passes at exactly CcOracleRounds hops and " +
      "fails loudly one hop past it, on the finish and the " +
      "above-cutoff path") {
    val bound = Pipeline.CcOracleRounds
    for (cap <- Seq(None, Some(0L))) {
      val (l0, bidir) = chain(bound)
      val cc = EntityRes.ccRun(l0, bidir, finishCap = cap)
      assert(cc.rawDepth.isDefined === cap.isEmpty, s"cap $cap")
      val labels = Pipeline.oracleRoundBound(l0, bidir, cc, bound)
      assert(labels.collect().forall(_.getLong(1) == 0L), s"cap $cap")
      val (l1, bidir1) = chain(bound + 1)
      val e = intercept[IllegalArgumentException] {
        Pipeline.oracleRoundBound(l1, bidir1,
          EntityRes.ccRun(l1, bidir1, finishCap = cap), bound)
      }
      assert(e.getMessage.contains("raise CcOracleRounds"), s"cap $cap")
    }
  }

  test("q45 at sf0.001 runs within its job budget (no per-round " +
      "probe loop)") {
    val (rows, jobs) = JobCount(s)(Pipeline.q45CcFixpoint(s, sf).collect())
    assert(rows.nonEmpty)
    assert(jobs <= Q45JobCeiling, s"q45 ran $jobs jobs")
  }
}
