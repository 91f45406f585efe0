package graft.tools

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** TimeQ's loop on the shared session: the `[timeq]` times, the warm
  * run's build time and stage table come back per name, and the
  * session it was handed stays usable. */
class TimeQSpec extends AnyFunSuite {
  private lazy val s = SparkSpec.spark

  test("run times each named query cold and warm, attributes the warm " +
      "run to its stages, and leaves the session open") {
    val names = Seq("q1_agg", "q3_join_agg")
    val out = TimeQ.run(s, "/root/testdata/sf0.001", names)
    assert(out.map(_.name) === names)
    out.foreach { t =>
      assert(t.cold > 0 && t.warm > 0, t.name)
      assert(t.warmBuild > 0 && t.warmBuild < t.warm, t.name)
      assert(t.stages.nonEmpty, t.name)
      assert(t.stages.forall(_.tasks > 0), t.name)
      assert(t.stages.map(_.taskSumMs) ===
        t.stages.map(_.taskSumMs).sorted.reverse, t.name)
    }
    assert(!s.sparkContext.isStopped)
    assert(s.range(3).count() === 3)
  }
}
