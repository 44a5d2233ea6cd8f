package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}

/** Package bridge to classic Spark's `private[sql]` Column ⇄ Expression
  * conversions: wraps one of the engine's native Catalyst expressions
  * as a `Column` WITHOUT a function-registry round-trip
  * ([[graft.functions.NativeFunctions.call]]). Column-level helper
  * functions (e.g. `Dedup.hashedNgramsAll`) have no SparkSession in
  * scope to register a temp function against, and threading one
  * through every call site just to name an expression the session
  * never needs by name would be registration for registration's sake.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** The argument's Catalyst form, converted now rather than at
    * analysis: `lit(4)` comes back as a `Literal` a builder can check.
    */
  def expression(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)
}
