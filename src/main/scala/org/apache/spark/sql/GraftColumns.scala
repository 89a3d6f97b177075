package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Catalyst expression, for building graft's native
  * expressions as Columns ([[graft.functions.GraftFunctions.column]]).
  * Spark 4 keeps both conversions `private[sql]`; this object sits in
  * that package only to reach them.
  */
object GraftColumns {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
