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

  /** A checkpointed `df` with its carried size estimate capped at
    * `spark.sql.defaultSizeInBytes` (the size of a leaf Spark cannot
    * estimate; past it an estimate decides nothing). A join's estimate is
    * the product of its sides', so in a loop that joins its own previous
    * checkpoint the estimate's digits double every round. */
  def withCappedStats(df: DataFrame): DataFrame = df.queryExecution.logical match {
    case r: execution.LogicalRDD
        if r.stats.sizeInBytes > BigInt(r.conf.defaultSizeInBytes) =>
      val session = df.sparkSession.asInstanceOf[classic.SparkSession]
      classic.Dataset.ofRows(session, r.copy()(session,
        Some(catalyst.plans.logical.Statistics(BigInt(r.conf.defaultSizeInBytes))),
        Some(r.constraints)))
    case _ => df
  }
}
