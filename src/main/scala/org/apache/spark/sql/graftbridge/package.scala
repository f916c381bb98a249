package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark 4's `private[sql]` Column ↔ Expression converters — the
  * conventional hook point for third-party Catalyst expressions (the public
  * `Column(Expression)` constructor was removed in Spark 4; extensions nest a
  * shim in the sql package instead). No Spark internals are modified. */
package object graftbridge {
  def columnOf(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expressionOf(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `df`'s plan as a DataFrame of `session`. Jobs of the result run under
    * `session`, so they share its generated classes (the codegen cache is
    * keyed by class loader, and each session has its own). */
  def inSession(session: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession],
      df.queryExecution.logical)
}
