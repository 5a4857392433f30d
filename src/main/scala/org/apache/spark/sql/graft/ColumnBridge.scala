package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Expression bridge. Spark 4 made the classic conversions
  * `private[sql]`; this one-file shim lives under the org.apache.spark.sql
  * package solely to re-export them so graft's custom Catalyst expressions
  * (e.g. [[graft.expressions.DotProduct]]) can be used as `Column`s. No
  * Spark internals are modified or shadowed.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
