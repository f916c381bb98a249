package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** P25: task-scoped accumulation — the Logstash `aggregate` filter analogue
  * (SURVEY §2.2): events sharing a task id accumulate into a per-task map;
  * the map is pushed as ONE new event when the task ends
  * (`end_of_task => true`) or goes quiet past the inactivity timeout
  * (`push_map_as_event_on_timeout`). Tasks neither ended nor timed out stay
  * pending and emit nothing (the filter keeps them in its in-flight map).
  *
  * Relational form of the accumulation: [[state]] folds each task's events
  * into fixed accumulators (event count, status sum, distinct actions — the
  * declarative twin of the filter's per-event ruby `map[...] ||= ...` code)
  * next to the task bookkeeping (first/last activity, end detection);
  * [[finish]] decides completed|timeout status. One aggregation per key,
  * like [[Elapsed]]'s one-transaction simplification.
  *
  * Shape at 10^12 rows: one hash-partitioned groupBy with map-side partial
  * aggregation (a hot task combines before the shuffle — no raw-row window,
  * no skew funnel), then a broadcast of the single-row high-water mark for
  * the timeout decision. "Quiet" is judged against the batch's max event
  * time, not wall clock, so runs are deterministic and replayable. */
object TaskAggregate {

  /** Full per-task accumulation state, CROSS-RUN MERGEABLE under
    * Incremental's ascending non-overlapping-batch contract: one row per
    * key — (key, n_events, first_sec, last_sec, end_sec, status_sum,
    * actions sorted-distinct). Every accumulator is commutative, so
    * state(A ∪ B) == state(B, prior = state(A)) exactly; the snapshot is
    * O(keys), bounded like Elapsed's. */
  def state(df: DataFrame, key: String, isEnd: Column,
      prior: Option[DataFrame] = None): DataFrame = {
    val batch = df.groupBy(col(key).cast("string").as("key")).agg(
      count(lit(1)).as("n_events"),
      min(col("ts_sec")).as("first_sec"),
      max(col("ts_sec")).as("last_sec"),
      max(when(isEnd, col("ts_sec"))).as("end_sec"),
      coalesce(sum(col("status")), lit(0L)).cast("long").as("status_sum"),
      array_sort(collect_set(col("action"))).as("actions"))
    prior match {
      case None => batch
      case Some(p) => p.unionByName(batch).groupBy("key").agg(
        sum(col("n_events")).as("n_events"),
        min(col("first_sec")).as("first_sec"),
        max(col("last_sec")).as("last_sec"),
        max(col("end_sec")).as("end_sec"),
        sum(col("status_sum")).as("status_sum"),
        array_sort(array_distinct(flatten(collect_list(col("actions")))))
          .as("actions"))
    }
  }

  /** Project a state snapshot into emitted task rows. The high-water mark
    * needs no extra input: every event belongs to some task, so
    * max(last_sec) over the state IS the global max event time. */
  def finish(st: DataFrame, key: String, timeoutSec: Long): DataFrame = {
    val hwm = st.agg(max(col("last_sec")).as("_hwm"))
    st.join(broadcast(hwm))
      .withColumn("status",
        when(col("end_sec").isNotNull, "completed")
          .when(col("last_sec") + timeoutSec < col("_hwm"), "timeout"))
      .filter(col("status").isNotNull)
      .drop("_hwm")
      .select(col("key").as(key), col("n_events"), col("first_sec"),
        col("last_sec"), col("end_sec"), col("status_sum"),
        size(col("actions")).cast("long").as("n_actions"), col("status"))
  }
}
