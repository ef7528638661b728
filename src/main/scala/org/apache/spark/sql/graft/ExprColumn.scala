package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression

/** The Column ↔ Expression bridge, which Spark 4 keeps `private[sql]`:
  * an expression with a non-expression argument (a per-dictionary map,
  * see graft.functions.CustomExprs.GramBlockKeys) cannot go through the
  * function registry. */
object ExprColumn {
  def apply(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)
}
