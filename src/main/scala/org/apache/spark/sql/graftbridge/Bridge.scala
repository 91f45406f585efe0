package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4's public `Column` wraps
  * ColumnNodes rather than Catalyst Expressions; the converters live
  * in `org.apache.spark.sql.classic` with `private[sql]` visibility,
  * so custom-Expression libraries (like this one) expose them via an
  * in-package bridge — the standard pattern for Spark extension
  * libraries that ship native expressions. The same in-package access
  * reaches the listener bus, so job counts can be read exactly. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Block until every event posted so far reached every listener
    * (the listener bus is `private[spark]`). */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
