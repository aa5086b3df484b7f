package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal accessor for two `private[sql]` members — the standard
  * bridge every Spark extension library ships:
  *  - the DataFrame-from-LogicalPlan constructor, which exposes graft's
  *    native logical operators (graft.plans.AsOfJoinNode and its
  *    siblings) through public DataFrame-returning APIs;
  *  - the Column ⇄ Catalyst Expression conversion, so operators build
  *    graft's native expressions (graft.functions) directly, with no
  *    lookup in the session's function registry.
  * Nothing else from the private surface is touched. */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
