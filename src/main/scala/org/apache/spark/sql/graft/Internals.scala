package org.apache.spark.sql.graft

import org.apache.spark.QueryContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.errors.QueryExecutionErrors

/** The few `private[sql]` Spark entry points the graft expressions use:
  * wrapping a Catalyst expression as a `Column` (so query code builds a
  * native expression without a function-registry lookup), and raising
  * the same errors Spark's own expressions raise. */
object Internals {
  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def invalidElementAtIndex(index: Int, numElements: Int, ctx: QueryContext): Throwable =
    QueryExecutionErrors.invalidElementAtIndexError(index, numElements, ctx)

  def divideByZero(ctx: QueryContext): Throwable = QueryExecutionErrors.divideByZeroError(ctx)
}
