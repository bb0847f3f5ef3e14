package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the `private[sql]` Column↔Expression converters
  * (`org.apache.spark.sql.classic.ExpressionUtils`): the one way graft's
  * native expressions reach a plan. Each `graft.functions` expression has
  * a `column` builder that wraps the expression in a `Column` directly —
  * with closure state like a broadcast handle baked into the instance —
  * so no session's function registry is involved and a frame on any
  * session resolves. Placed in the Spark package purely for access;
  * standard extension-library technique, no Spark behavior is modified. */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
