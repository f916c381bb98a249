package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.entry.{LogQueries, Q}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Queries live in graft.entry.* registries; each carries its DuckDB oracle. */
object SparkEntry {

  def registry: Seq[Q] =
    LogQueries.all ++ graft.entry.FilterQueries.all ++ graft.entry.DataPipeQueries.all

  /** Flagship: full parse→enrich→score chain over sf0.001 events-as-turns,
    * severity distribution over ALL enriched rows (always non-empty). */
  def entry(spark: SparkSession): DataFrame =
    LogQueries.scored(spark, "/root/testdata/sf0.001").groupBy("severity").count()

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(sql => q.name -> sql)).toMap
}
