package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction

/** Bridge to Spark's package-private Column-from-Expression conversion,
  * for graft's internal aggregates that have no SQL function name
  * ([[graft.functions.GroupSummaryAgg]]). */
object GraftColumns {
  def aggregate(fn: AggregateFunction): Column =
    classic.ExpressionUtils.column(fn.toAggregateExpression())
}
