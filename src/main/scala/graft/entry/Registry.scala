package graft.entry

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver-harness query: Spark impl + optional DuckDB oracle SQL.
  * Column names are part of the contract — the driver sorts columns by name
  * and hashes values, so Spark aliases and SQL aliases must agree exactly. */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  def apply(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, Some(oracle))
}
