package graft.operators

import org.apache.spark.sql.catalyst.expressions.ArrayAggregate
import org.apache.spark.sql.catalyst.expressions.aggregate.Sum
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.scalatest.funsuite.AnyFunSuite

import graft.{ExecutedPlans, SparkSpec}
import graft.functions.CountBelow

/** q119 KS drift and q120 skyline on hand-computed fixtures — both
  * exercise the bucket-offset + in-bucket-window distributed prefix
  * scan. */
class OrderStatsSpec extends AnyFunSuite {
  private lazy val s = SparkSpec.spark

  private def tmp(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(prefix)

  test("q119: KS supremum, counts and scaled statistic on a hand case") {
    import s.implicits._
    val dir = tmp("q119")
    // even keys (grp 0): cents 100,200,300,400; odd (grp 1): 300,400.
    // cum diffs |cum1·n2−cum2·n1|: 2,4,2,0 → sup at 200, ks = 4/8.
    Seq((2L, 1.00), (4L, 2.00), (6L, 3.00), (8L, 4.00),
      (1L, 3.00), (3L, 4.00))
      .toDF("o_orderkey", "o_totalprice")
      .write.parquet(dir.resolve("orders.parquet").toString)
    val rows = OrderStats.q119KsDrift(s, dir.toString).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(rows === Seq((200L, 4L, 2L, 2L, 0L, 500000L)))
  }

  test("q119 buckets by count_below and reads n1/n2 off the offsets " +
      "fold: no bucket lambda and no totals aggregate run") {
    import s.implicits._
    val dir = tmp("q119p")
    Seq((2L, 1.00), (4L, 2.00), (1L, 3.00))
      .toDF("o_orderkey", "o_totalprice")
      .write.parquet(dir.resolve("orders.parquet").toString)
    val df = OrderStats.q119KsDrift(s, dir.toString)
    df.collect()
    val nodes = ExecutedPlans.nodes(df.queryExecution.executedPlan)
    val exprs = nodes.flatMap(_.expressions).flatMap(_.collect { case e => e })
    assert(exprs.exists(_.isInstanceOf[CountBelow]))
    // the offsets fold over `arr` is the one aggregate lambda left
    assert(!exprs.exists {
      case a: ArrayAggregate => a.argument.references.exists(_.name == "bnd")
      case _ => false
    })
    assert(!nodes.exists {
      case a: BaseAggregateExec => a.groupingExpressions.isEmpty &&
        a.aggregateExpressions.exists(_.aggregateFunction.isInstanceOf[Sum])
      case _ => false
    }, "an ungrouped sum aggregate (the old totals) still runs")
  }

  test("q119: empty half guards the division") {
    import s.implicits._
    val dir = tmp("q119e")
    // only even keys → n2 = 0 → ks_e6 = 0, no division error
    Seq((2L, 1.00), (4L, 2.00))
      .toDF("o_orderkey", "o_totalprice")
      .write.parquet(dir.resolve("orders.parquet").toString)
    val rows = OrderStats.q119KsDrift(s, dir.toString).collect().toSeq
    assert(rows.size === 1)
    assert(rows.head.getLong(5) === 0L)
  }

  test("q120: skyline keeps non-dominated parts incl. ties, drops " +
      "dominated ones") {
    import s.implicits._
    val dir = tmp("q120")
    // (4) 200/5 frontier; (2),(6) 300/10 frontier ties; (3) 300/7
    // dominated by (2); (1) 500/10 dominated by (2); (5) 600/12
    // frontier (nothing cheaper is as large).
    Seq((1L, 5.00, 10), (2L, 3.00, 10), (3L, 3.00, 7),
      (4L, 2.00, 5), (5L, 6.00, 12), (6L, 3.00, 10))
      .toDF("p_partkey", "p_retailprice", "p_size")
      .write.parquet(dir.resolve("part.parquet").toString)
    val rows = OrderStats.q120Skyline(s, dir.toString).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows === Seq((4L, 200L, 5L), (2L, 300L, 10L),
      (6L, 300L, 10L), (5L, 600L, 12L)))
  }
}
