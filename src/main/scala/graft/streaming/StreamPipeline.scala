package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

import graft.RuleTables
import graft.model._

/** Structured Streaming surface (SURVEY §2.8). The reference is an
  * always-on Logstash daemon; our primary mode is batch-incremental
  * (graft.Incremental), which [[runFull]] and [[curationStream]] run per
  * micro-batch through one shared loop — so the stateful C6/C7 checks stream
  * through the same `NewAndFrequent` code and snapshot state as batch.
  * The rest are `flatMapGroupsWithState` / watermark twins of operators whose
  * event-time timeout semantics have no batch-exact form (elapsed, task-agg,
  * sessions).
  */
object StreamPipeline {

  final case class ElapsedEv(key: String, ts_us: Long, ts_sec: Long,
      start: Boolean, end: Boolean, ts: java.sql.Timestamp)

  /** The watermarked start/end events both elapsed twins group by key. */
  private def elapsedEvents(parsed: DataFrame, key: String, isStart: Column,
      isEnd: Column): Dataset[ElapsedEv] = {
    import parsed.sparkSession.implicits._
    // ts (the watermark column) must survive UNTOUCHED into the grouped
    // Dataset — event-time timeout requires the watermark attribute in the
    // child plan, and any cast/alias on it strips the event-time metadata
    parsed.withColumn("ts", col("ts").cast("timestamp"))
      .filter(isStart || isEnd)
      .withWatermark("ts", "0 seconds")
      .select(col(key).cast("string").as("key"), col("ts_us"), col("ts_sec"),
        isStart.as("start"), isEnd.as("end"), col("ts"))
      .as[ElapsedEv]
  }

  /** Per-key elapsed state: the first start (-1 = none yet) and whether the
    * transaction already resolved (matched or expired) — one small record
    * per key, same bound as the batch operator's state table. */
  final case class ElapsedSt(sUs: Long, sSec: Long, done: Boolean)
  final case class ElapsedOut(key: String, start_sec: Long,
      end_sec: Option[Long], elapsed_sec: Option[Long], status: String)

  /** P20 elapsed, streaming twin: flatMapGroupsWithState with EVENT-TIME
    * timeout. A matched/too-late end resolves the transaction inline; a
    * start whose end never arrives expires when the watermark passes
    * start + timeout. Same one-transaction-per-key semantics as
    * [[graft.operators.Elapsed]] (resolved keys stay done). Trailing
    * caveat (ElapsedSpec): timeouts pending when the stream stops have not
    * fired yet — streaming `expired` is a prefix of the batch answer, while
    * `matched` agrees exactly. */
  def elapsedStream(parsed: DataFrame, key: String, isStart: Column,
      isEnd: Column, timeoutSec: Long): Dataset[ElapsedOut] = {
    val spark = parsed.sparkSession
    import spark.implicits._
    elapsedEvents(parsed, key, isStart, isEnd).groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (k: String, it: Iterator[ElapsedEv], state: GroupState[ElapsedSt]) => {
          if (state.hasTimedOut) {
            val st = state.get
            if (st.done) Iterator.empty
            else {
              state.update(st.copy(done = true)) // keep: later starts must not re-pair
              Iterator.single(ElapsedOut(k, st.sSec, None, None, "expired"))
            }
          } else {
            val wmMs = state.getCurrentWatermarkMs()
            val sorted = it.toArray.sortBy(e => (e.ts_us, e.ts_sec))
            var st = state.getOption.getOrElse(ElapsedSt(-1L, -1L, done = false))
            val out = scala.collection.mutable.ArrayBuffer.empty[ElapsedOut]
            // An open transaction whose deadline the watermark has already
            // passed HAS expired — but Spark delivers this data batch before
            // its timeout callback, and re-arming a timeout at-or-below the
            // watermark throws (killing the query; ADVICE r4). Close it here
            // exactly as the hasTimedOut branch would; any end event in this
            // batch necessarily has ts ≥ watermark > deadline, so it would
            // have been classified `expired` anyway — same output either way.
            if (st.sUs >= 0 && !st.done &&
                st.sUs / 1000L + timeoutSec * 1000L <= wmMs) {
              out += ElapsedOut(k, st.sSec, None, None, "expired")
              st = st.copy(done = true)
            }
            for (e <- sorted if !st.done) {
              if (st.sUs < 0 && e.start) st = ElapsedSt(e.ts_us, e.ts_sec, done = false)
              else if (st.sUs >= 0 && e.end && e.ts_us >= st.sUs) {
                if (e.ts_us - st.sUs <= timeoutSec * 1000000L)
                  out += ElapsedOut(k, st.sSec, Some(e.ts_sec),
                    Some(e.ts_sec - st.sSec), "matched")
                else out += ElapsedOut(k, st.sSec, None, None, "expired")
                st = st.copy(done = true)
              }
            }
            if (st.sUs >= 0) {
              state.update(st)
              if (!st.done) // clamp: a 0-second timeout would otherwise re-arm AT the watermark
                state.setTimeoutTimestamp(
                  math.max(st.sUs / 1000L + timeoutSec * 1000L, wmMs + 1L))
            }
            out.iterator
          }
        })
  }

  final case class ElapsedMultiSt(sUs: Long, sSec: Long, extra: Long)
  final case class ElapsedMultiOut(key: String, start_sec: Long,
      end_sec: Option[Long], elapsed_sec: Option[Long], n_extra_starts: Long,
      status: String)

  /** P20b streaming twin: the MULTI-transaction elapsed state machine
    * (graft.operators.Elapsed.multi) as FMGWS — a new transaction per key
    * after each completed one, extra starts counted, ends-while-closed
    * ignored. State is one open transaction per key, REMOVED on close (a
    * closed machine needs no memory — the next start opens fresh), so state
    * size is O(keys with an open transaction), not O(keys ever seen).
    *
    * Divergence from batch, documented: batch `multi` classifies by timeout
    * only at emit, so a start arriving AFTER an open transaction's timeout
    * but BEFORE its (late) end counts as an extra start there; here the
    * event-time timeout has already expired+closed the transaction, so that
    * start opens a NEW transaction. A streaming machine cannot hold state
    * open unboundedly waiting to find out — every other tape shape agrees
    * exactly (spec-pinned), and trailing open transactions are `expired`
    * rows batch emits that the stream only emits once the watermark passes
    * their timeout (the ElapsedSpec prefix caveat). */
  def elapsedMultiStream(parsed: DataFrame, key: String, isStart: Column,
      isEnd: Column, timeoutSec: Long): Dataset[ElapsedMultiOut] = {
    val spark = parsed.sparkSession
    import spark.implicits._
    elapsedEvents(parsed, key, isStart, isEnd).groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (k: String, it: Iterator[ElapsedEv], state: GroupState[ElapsedMultiSt]) => {
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            Iterator.single(
              ElapsedMultiOut(k, st.sSec, None, None, st.extra, "expired"))
          } else {
            val wmMs = state.getCurrentWatermarkMs()
            val sorted = it.toArray.sortBy(e => (e.ts_us, !e.start))
            var open = state.getOption
            val out = scala.collection.mutable.ArrayBuffer.empty[ElapsedMultiOut]
            // Same watermark-vs-timeout race as [[elapsedStream]] (ADVICE r4):
            // if the watermark already passed the open transaction's deadline,
            // data arrives before the timeout callback and re-arming below the
            // watermark would throw. Expire-and-close first — a start in this
            // batch then opens a NEW transaction, which is exactly the
            // documented timeout-fires-first divergence from batch.
            open match {
              case Some(st) if st.sUs / 1000L + timeoutSec * 1000L <= wmMs =>
                out += ElapsedMultiOut(k, st.sSec, None, None, st.extra, "expired")
                open = None
              case _ =>
            }
            for (e <- sorted) {
              open match {
                case None if e.start =>
                  open = Some(ElapsedMultiSt(e.ts_us, e.ts_sec, 0L))
                case Some(st) if e.start =>
                  open = Some(st.copy(extra = st.extra + 1))
                case Some(st) if e.end && e.ts_us >= st.sUs =>
                  if (e.ts_us - st.sUs <= timeoutSec * 1000000L)
                    out += ElapsedMultiOut(k, st.sSec, Some(e.ts_sec),
                      Some(e.ts_sec - st.sSec), st.extra, "matched")
                  else
                    out += ElapsedMultiOut(k, st.sSec, None, None, st.extra,
                      "expired")
                  open = None
                case _ => // end while closed: ignored
              }
            }
            open match {
              case Some(st) =>
                state.update(st)
                state.setTimeoutTimestamp(
                  math.max(st.sUs / 1000L + timeoutSec * 1000L, wmMs + 1L))
              case None => if (state.exists) state.remove()
            }
            out.iterator
          }
        })
  }

  final case class TaskEv(key: String, ts_us: Long, ts_sec: Long, end: Boolean,
      status: Option[Int], action: Option[String], ts: java.sql.Timestamp)
  /** Per-task accumulators + done flag — one small record per task, the
    * streaming mirror of [[graft.operators.TaskAggregate]]'s aggregate row. */
  final case class TaskSt(n: Long, first: Long, last: Long, sum: Long,
      actions: Seq[String], done: Boolean)
  final case class TaskOut(key: String, n_events: Long, first_sec: Long,
      last_sec: Long, end_sec: Option[Long], status_sum: Long, n_actions: Long,
      status: String)

  /** P25 task aggregation, streaming twin — the Logstash `aggregate` filter's
    * native shape: accumulate per task, push the map as ONE event on the end
    * event (inline, with everything accumulated up to and including it) or
    * when the task goes quiet past `timeoutSec` of EVENT time (the
    * deterministic form of `push_map_as_event_on_timeout`; the filter's wall
    * clock would make runs unreproducible). flatMapGroupsWithState with
    * event-time timeout: the timeout re-arms at last activity + timeoutSec
    * and fires once the watermark passes it. One task per key, done tasks
    * absorb nothing (same simplification as [[elapsedStream]]).
    *
    * vs the batch operator: batch aggregates the whole input per key and
    * judges quiet against the batch high-water mark; the stream emits at the
    * END EVENT (ignoring later events) and trailing timeouts pending when an
    * AvailableNow stream stops have not fired yet — TaskAggregateSpec pins
    * both relations. */
  def taskAggStream(parsed: DataFrame, key: String, isEnd: Column,
      timeoutSec: Long): Dataset[TaskOut] = {
    val spark = parsed.sparkSession
    import spark.implicits._
    // ts must survive untouched into the grouped Dataset (event-time timeout
    // needs the watermark attribute; a cast/alias strips its metadata)
    val evs = parsed.withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "0 seconds")
      .select(col(key).cast("string").as("key"), col("ts_us"), col("ts_sec"),
        coalesce(isEnd, lit(false)).as("end"), // null predicate (unparsed row) = not an end
        col("status"), col("action"), col("ts"))
      .as[TaskEv]
    evs.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (k: String, it: Iterator[TaskEv], state: GroupState[TaskSt]) => {
          if (state.hasTimedOut) {
            val st = state.get
            if (st.done) Iterator.empty
            else {
              state.update(st.copy(done = true)) // keep: late events must not re-open
              Iterator.single(TaskOut(k, st.n, st.first, st.last, None, st.sum,
                st.actions.size.toLong, "timeout"))
            }
          } else {
            val sorted = it.toArray.sortBy(e => (e.ts_us, e.ts_sec))
            var st = state.getOption.getOrElse(
              TaskSt(0L, Long.MaxValue, Long.MinValue, 0L, Nil, done = false))
            val out = scala.collection.mutable.ArrayBuffer.empty[TaskOut]
            for (e <- sorted if !st.done) {
              st = TaskSt(st.n + 1L, math.min(st.first, e.ts_sec),
                math.max(st.last, e.ts_sec), st.sum + e.status.getOrElse(0),
                e.action.filterNot(st.actions.contains) ++: st.actions,
                done = false)
              if (e.end) {
                out += TaskOut(k, st.n, st.first, st.last, Some(e.ts_sec),
                  st.sum, st.actions.size.toLong, "completed")
                st = st.copy(done = true)
              }
            }
            state.update(st)
            if (!st.done && st.n > 0L)
              state.setTimeoutTimestamp(st.last * 1000L + timeoutSec * 1000L)
            out.iterator
          }
        })
  }

  /** THE composed end-to-end streaming pipeline: ONE readStream →
    * foreachBatch, where each micro-batch runs the full C1→C9 chain through
    * [[graft.Incremental.run]] with cross-batch state — so the streaming
    * surface has the batch pipeline's EXACT semantics (fp-dedup, first-seen,
    * trailing-window frequency, scoring, routed fan-out, manifests +
    * lineage), not watermark approximations. foreachBatch is Spark's own
    * seam for multi-sink fan-out + complex multi-keyed state; the
    * alternative (chaining flatMapGroupsWithState per state kind and
    * stream-stream-joining the flags back) is an unsupported operator
    * combination for this shape in append mode.
    *
    * Contract (same as graft.Incremental): micro-batches arrive in
    * ascending, non-overlapping event-time ranges — a file source over
    * time-partitioned files with maxFilesPerTrigger, or a time-ordered
    * topic. Exactly-once: the run id is the micro-batch id; a batch replayed
    * after a crash that landed its manifest is SKIPPED (manifest = commit
    * marker), and a batch replayed after a crash mid-run overwrites its own
    * alert partitions (dynamic partition overwrite). Returns the run ids
    * executed. */
  def runFull(spark: SparkSession, turnsStream: DataFrame, tables: RuleTables,
      conf: PipelineConf, stateDir: String, outDir: String,
      checkpointDir: String): Seq[String] =
    eachNewBatch(turnsStream, stateDir, checkpointDir) { (batch, runId) =>
      graft.Incremental.run(spark, batch, tables, conf, stateDir, outDir, runId)
    }

  /** Streaming twin of the resumable CURATION pipeline (the corpus-side
    * analogue of [[runFull]]): ONE readStream → foreachBatch where every
    * micro-batch of (doc_id, text) rows is folded into
    * [[graft.operators.CurationState]] — cross-batch exact dedup, segment
    * frequencies, eval grams — with the same snapshot/manifest protocol, so
    * the stream's end state is BIT-EQUAL to one batch pass over the same
    * rows (all three merges are associative; pinned by CurationStreamSpec).
    * Same contract as runFull: micro-batches ascending and non-overlapping
    * in doc_id (file source + maxFilesPerTrigger over id-ordered files);
    * manifest = commit marker, so crash-replayed batches are skipped. */
  def curationStream(spark: SparkSession, docsStream: DataFrame,
      stateDir: String, checkpointDir: String,
      evalDocs: Option[DataFrame] = None): Seq[String] =
    eachNewBatch(docsStream, stateDir, checkpointDir) { (batch, runId) =>
      graft.operators.CurationState.run(spark, batch, stateDir, runId, evalDocs)
    }

  /** Drain `stream` once (AvailableNow), running each micro-batch under its
    * batch id unless that run's manifest already landed; returns the ids run.
    * Spark hands each micro-batch over bound to the query's own clone of the
    * session; `run` gets it re-bound to `stream`'s session, so its jobs reuse
    * that session's generated classes instead of compiling them again for
    * every streaming query. */
  private def eachNewBatch(stream: DataFrame, stateDir: String,
      checkpointDir: String)(run: (DataFrame, String) => Unit): Seq[String] = {
    val ran = scala.collection.mutable.ArrayBuffer.empty[String]
    val q = stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val runId = f"$batchId%06d"
        if (!graft.Incremental.completedRuns(stateDir).contains(runId)) {
          run(org.apache.spark.sql.graftbridge.inSession(stream.sparkSession, batch), runId)
          ran += runId
        }
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    ran.toSeq
  }

  /** P38 streaming twin: gap-based sessionization with the SAME native
    * session_window call as the batch query, under a watermark. In Append
    * mode a session emits once CLOSED — i.e. once the watermark passes its
    * end (last event + gap); still-open sessions stay in state. Exact parity
    * with the batch sessions whose end the final watermark passed is pinned
    * in StreamingSpec.
    *
    * `lateness` is the watermark delay — how far out-of-order events may
    * arrive before being dropped (ADVICE r3: a fixed 0s would silently drop
    * ANY late event on a real stream). Default 10 minutes; the spec passes
    * 0s explicitly because its replay source is in-order and 0s makes
    * session close-out deterministic for the parity assert. */
  def sessionizeStream(turns: DataFrame, gap: String,
      lateness: String = "10 minutes"): DataFrame =
    turns.withWatermark("ts", lateness)
      .groupBy(col("conv_id"), session_window(col("ts"), gap).as("w"))
      .agg(min(unix_timestamp(col("ts"))).as("session_start"),
        max(unix_timestamp(col("ts"))).as("session_last"),
        count(lit(1)).as("n_events"))
      .select(col("conv_id"), col("session_start"), col("session_last"),
        col("n_events"))
}
