package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge for graft's native Catalyst expressions.
  *
  * Spark 4 made `ExpressionUtils` `private[sql]`, so library code
  * outside the sql package could otherwise reach an expression only by
  * name through the function registry (`call_function`), which works
  * only in sessions that registered it. This shim (in the same spirit
  * as [[GraftExpectsInputTypes]]) re-exports the two conversions, and
  * every Column constructor in `graft.functions.GraftFunctions` uses it
  * to wrap its expression directly — no registry, any session.
  *
  * `expression(c)` of a not-yet-resolved Column is a placeholder node,
  * not the underlying expression (`expression(lit(4))` is not a
  * `Literal`), so constructors take baked-in arguments as Scala values. */
object GraftColumns {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
