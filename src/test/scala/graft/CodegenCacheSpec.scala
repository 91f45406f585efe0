package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.ForkedTimeQ

/** The generated-code cache holds a rotation of queries: run twice in
  * one session, the second round recompiles almost nothing. With
  * Spark's 100-entry default it recompiled about 98 % of the first
  * round, because q45, q119 and q176 together compile more classes
  * than the cache holds, and AQE's stage ids in class names made
  * identical code miss. `CodegenMetrics` counts for the whole JVM, so
  * the rotation runs in a JVM of its own. */
class CodegenCacheSpec extends AnyFunSuite {
  private val Rotation =
    Seq("q45_cc_fixpoint", "q119_ks_drift", "q176_er_recall")

  test("a second round of q45, q119 and q176 compiles at most 5 % of " +
      "the classes the first round compiled") {
    val (exit, out) = ForkedTimeQ.run(Rotation ++ Rotation, cpus = 4,
      heap = "2g", sfDir = Some("/root/testdata/sf0.001"))
    assert(exit == 0, "forked TimeQ JVM failed:\n" +
      out.takeRight(40).mkString("\n"))
    val line = raw"\[stagetime\] (\S+) stages=\d+ compiles=(\d+)/(\d+)".r
    val runs = out.flatMap(line.findFirstMatchIn(_))
      .map(m => m.group(1) -> (m.group(2).toLong + m.group(3).toLong))
    assert(runs.map(_._1) === Rotation ++ Rotation)
    val (round1, round2) = runs.map(_._2).splitAt(Rotation.size)
    info(s"compiles per query, round 1: ${round1.mkString(" ")}; " +
      s"round 2: ${round2.mkString(" ")}")
    assert(round1.sum > 0)
    assert(round2.sum <= round1.sum * 0.05,
      s"round 2 recompiled ${round2.sum} of round 1's ${round1.sum}")
  }
}
