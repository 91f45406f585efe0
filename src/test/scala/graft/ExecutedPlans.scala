package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Walks an executed plan through AQE's wrappers (the adaptive root,
  * its query stages, reused exchanges) for the plan-shape specs. */
object ExecutedPlans {

  /** A node's children, looking through AQE's wrappers; a reused
    * exchange leads to the exchange it reuses. */
  def children(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case r: ReusedExchangeExec => Seq(r.child)
    case _ => p.children
  }

  /** Every node that runs: a reused exchange's subtree is counted
    * once, where it first appears, not again where it is reused. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case _: ReusedExchangeExec => Seq(p)
    case _ => p +: children(p).flatMap(nodes)
  }
}
