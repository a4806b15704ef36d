package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}

/** Bridge into Spark's `private[sql]` Column <-> Expression conversions
  * (org.apache.spark.sql.classic.ExpressionUtils). Needed because the engine
  * builds custom Catalyst expressions (StaticInvoke bindings, SURVEY §7.3) and
  * Spark 4 removed the public `new Column(expr)` constructor.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `c` as a Catalyst expression with every Column node in it converted, as
    * a Dataset converts the Columns it is given. A SQL function builder
    * must return this form: the analyzer does not convert Column nodes in
    * the expressions a builder returns.
    */
  def converted(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)
}
