package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ParseMode

/** Bridge to the `private[sql]` Column ↔ Expression converters.
  *
  * Spark 4's `Column` wraps a `ColumnNode` (the Connect-compatible
  * representation) rather than a catalyst `Expression`, and the
  * classic-mode converters (`org.apache.spark.sql.classic
  * .ExpressionUtils`) are `private[sql]`. Custom native expressions
  * (graft.functions.DotProduct) need exactly these two conversions, so
  * this object re-exports them from inside the `sql` package — the
  * conventional extension point for libraries shipping catalyst
  * expressions without a full FunctionRegistry registration. The
  * `from_json` parse-mode error is re-exported for the same reason
  * (graft.cdc.CdcPayloadFromJson).
  */
object GraftExpressionBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def parseModeUnsupportedError(funcName: String, mode: ParseMode): Throwable =
    errors.QueryCompilationErrors.parseModeUnsupportedError(funcName, mode)
}
