package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

import graft.RuleTables
import graft.model._

/** Structured Streaming surface (SURVEY §2.8). The reference is an
  * always-on Logstash daemon; our primary mode is batch-incremental
  * (graft.Incremental), which [[runFull]] and [[curationStream]] run per
  * micro-batch through one shared loop — so the stateful C6/C7 checks stream
  * through the same `NewAndFrequent` code and snapshot state as batch.
  * The rest are watermark twins of operators whose event-time timeout
  * semantics have no batch-exact form (elapsed, task-agg, sessions).
  *
  * The three correlation twins ([[elapsedStream]], [[elapsedMultiStream]],
  * [[taskAggStream]]) are one per-key machine over one watermarked event
  * source, and share one timeout rule: a key whose pending deadline is at or
  * below the watermark has expired, and it expires BEFORE it sees any of its
  * own later events — whether Spark calls the key for its timeout or, as it
  * does when the key has new data, hands it the data first. So an answer
  * never depends on where the micro-batches split. Timeouts re-arm strictly
  * above the watermark (Spark rejects one at or below it), and those still
  * pending when an AvailableNow stream stops have not fired.
  */
object StreamPipeline {

  /** One event of a correlation twin: the key, its time three ways (`ts` is
    * the watermark column), the start/end predicates (null reads false) and
    * the fields the task twin folds (null for the elapsed twins). */
  final case class KeyEv(key: String, ts_us: Long, ts_sec: Long, start: Boolean,
      end: Boolean, status: Option[Int], action: Option[String],
      ts: java.sql.Timestamp)

  /** The watermarked events a correlation twin groups by key: every row for
    * the task twin, only start/end rows for the elapsed twins (so only those
    * move their watermark). */
  private def events(parsed: DataFrame, key: String, isStart: Column,
      isEnd: Column, everyRow: Boolean): Dataset[KeyEv] = {
    import parsed.sparkSession.implicits._
    val (start, end) = (coalesce(isStart, lit(false)), coalesce(isEnd, lit(false)))
    val rows = parsed.withColumn("ts", col("ts").cast("timestamp"))
    val (kept, status, action) =
      if (everyRow) (rows, col("status"), col("action"))
      else (rows.filter(start || end), lit(null).cast("int"), lit(null).cast("string"))
    // ts (the watermark column) must survive UNTOUCHED into the grouped
    // Dataset — event-time timeout requires the watermark attribute in the
    // child plan, and any cast/alias on it strips the event-time metadata
    kept.withWatermark("ts", "0 seconds")
      .select(col(key).cast("string").as("key"), col("ts_us"), col("ts_sec"),
        start.as("start"), end.as("end"), status.as("status"), action.as("action"),
        col("ts"))
      .as[KeyEv]
  }

  /** The one per-key machine behind the correlation twins, with event-time
    * timeout. Per call it expires a key whose deadline is due (timed out, or
    * at or below the watermark), folds the key's events in (ts_us, start
    * first) order through `step`, then stores the state if `keep` says so
    * (else removes it) and re-arms its timeout at max(deadline,
    * watermark + 1). `deadlineMs` is empty when nothing is pending. */
  private def perKey[S: Encoder, U: Encoder](evs: Dataset[KeyEv], init: S)(
      step: (S, KeyEv) => (S, Option[U]), deadlineMs: S => Option[Long],
      expire: (String, S) => (S, U), keep: S => Boolean): Dataset[U] =
    evs.groupByKey(_.key)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (k: String, it: Iterator[KeyEv], state: GroupState[S]) => {
          val wmMs = state.getCurrentWatermarkMs()
          val out = scala.collection.mutable.ArrayBuffer.empty[U]
          var st = state.getOption.getOrElse(init)
          if (deadlineMs(st).exists(d => state.hasTimedOut || d <= wmMs)) {
            val (next, row) = expire(k, st)
            st = next
            out += row
          }
          it.toArray.sortBy(e => (e.ts_us, !e.start)).foreach { e =>
            val (next, row) = step(st, e)
            st = next
            out ++= row
          }
          if (keep(st)) {
            state.update(st)
            deadlineMs(st).foreach(d => state.setTimeoutTimestamp(math.max(d, wmMs + 1L)))
          } else if (state.exists) state.remove()
          out.iterator
        })

  /** Per-key elapsed state: the first start (-1 = none yet) and whether the
    * transaction already resolved (matched or expired) — one small record
    * per key, same bound as the batch operator's state table. */
  final case class ElapsedSt(sUs: Long, sSec: Long, done: Boolean)
  final case class ElapsedOut(key: String, start_sec: Long,
      end_sec: Option[Long], elapsed_sec: Option[Long], status: String)

  /** P20 elapsed, streaming twin: a matched/too-late end resolves the
    * transaction inline; a start whose end never arrives expires once the
    * watermark passes start + timeout. Same one-transaction-per-key semantics
    * as [[graft.operators.Elapsed]]: resolved keys stay done, so later events
    * never re-pair. `matched` agrees with batch exactly; `expired` is a
    * prefix of the batch answer (ElapsedSpec). */
  def elapsedStream(parsed: DataFrame, key: String, isStart: Column,
      isEnd: Column, timeoutSec: Long): Dataset[ElapsedOut] = {
    import parsed.sparkSession.implicits._
    perKey(events(parsed, key, isStart, isEnd, everyRow = false),
      ElapsedSt(-1L, -1L, done = false))(
      step = (st, e) =>
        if (st.done) (st, None)
        else if (st.sUs < 0)
          (if (e.start) ElapsedSt(e.ts_us, e.ts_sec, done = false) else st, None)
        else if (e.end && e.ts_us >= st.sUs)
          (st.copy(done = true), Some(
            if (e.ts_us - st.sUs <= timeoutSec * 1000000L)
              ElapsedOut(e.key, st.sSec, Some(e.ts_sec), Some(e.ts_sec - st.sSec), "matched")
            else ElapsedOut(e.key, st.sSec, None, None, "expired")))
        else (st, None),
      deadlineMs = st =>
        if (st.sUs >= 0 && !st.done) Some(st.sUs / 1000L + timeoutSec * 1000L) else None,
      expire = (k, st) =>
        (st.copy(done = true), ElapsedOut(k, st.sSec, None, None, "expired")),
      keep = _.sUs >= 0)
  }

  final case class ElapsedMultiSt(sUs: Long, sSec: Long, extra: Long)
  final case class ElapsedMultiOut(key: String, start_sec: Long,
      end_sec: Option[Long], elapsed_sec: Option[Long], n_extra_starts: Long,
      status: String)

  /** P20b streaming twin: the MULTI-transaction elapsed state machine
    * (graft.operators.Elapsed.multi) — a new transaction per key after each
    * completed one, extra starts counted, ends-while-closed ignored. State is
    * one open transaction per key, REMOVED on close (a closed machine needs
    * no memory — the next start opens fresh), so state size is O(keys with
    * an open transaction), not O(keys ever seen).
    *
    * Divergence from batch, documented: batch `multi` classifies by timeout
    * only at emit, so a start arriving AFTER an open transaction's timeout
    * but BEFORE its (late) end counts as an extra start there; here the
    * transaction has already expired, so that start opens a NEW one. Every
    * other tape shape agrees exactly (spec-pinned); `expired` is a subset
    * of the batch answer. */
  def elapsedMultiStream(parsed: DataFrame, key: String, isStart: Column,
      isEnd: Column, timeoutSec: Long): Dataset[ElapsedMultiOut] = {
    import parsed.sparkSession.implicits._
    val closed = ElapsedMultiSt(-1L, -1L, 0L)
    perKey(events(parsed, key, isStart, isEnd, everyRow = false), closed)(
      step = (st, e) =>
        if (st.sUs < 0)
          (if (e.start) ElapsedMultiSt(e.ts_us, e.ts_sec, 0L) else st, None)
        else if (e.start) (st.copy(extra = st.extra + 1), None)
        else if (e.end && e.ts_us >= st.sUs)
          (closed, Some(
            if (e.ts_us - st.sUs <= timeoutSec * 1000000L)
              ElapsedMultiOut(e.key, st.sSec, Some(e.ts_sec), Some(e.ts_sec - st.sSec),
                st.extra, "matched")
            else ElapsedMultiOut(e.key, st.sSec, None, None, st.extra, "expired")))
        else (st, None), // end while closed: ignored
      deadlineMs = st =>
        if (st.sUs >= 0) Some(st.sUs / 1000L + timeoutSec * 1000L) else None,
      expire = (k, st) =>
        (closed, ElapsedMultiOut(k, st.sSec, None, None, st.extra, "expired")),
      keep = _.sUs >= 0)
  }

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
    * clock would make runs unreproducible). Quiet is the batch operator's
    * rule, in seconds: last_sec + timeoutSec < watermark second, so the
    * deadline is (last_sec + timeoutSec + 1) s. One task per key; done tasks
    * absorb nothing (same simplification as [[elapsedStream]]).
    *
    * vs the batch operator: batch aggregates the whole input per key and
    * judges quiet against the batch high-water mark; the stream emits at the
    * END EVENT (ignoring later events) and trailing timeouts pending when an
    * AvailableNow stream stops have not fired yet — TaskAggregateSpec pins
    * both relations. */
  def taskAggStream(parsed: DataFrame, key: String, isEnd: Column,
      timeoutSec: Long): Dataset[TaskOut] = {
    import parsed.sparkSession.implicits._
    def out(k: String, st: TaskSt, end: Option[Long], status: String) =
      TaskOut(k, st.n, st.first, st.last, end, st.sum, st.actions.size.toLong, status)
    perKey(events(parsed, key, lit(false), isEnd, everyRow = true),
      TaskSt(0L, Long.MaxValue, Long.MinValue, 0L, Nil, done = false))(
      step = (st, e) =>
        if (st.done) (st, None)
        else {
          val acc = TaskSt(st.n + 1L, math.min(st.first, e.ts_sec),
            math.max(st.last, e.ts_sec), st.sum + e.status.getOrElse(0),
            e.action.filterNot(st.actions.contains) ++: st.actions, done = e.end)
          (acc, if (e.end) Some(out(e.key, acc, Some(e.ts_sec), "completed")) else None)
        },
      deadlineMs = st =>
        if (st.n > 0L && !st.done) Some((st.last + timeoutSec + 1L) * 1000L) else None,
      expire = (k, st) => (st.copy(done = true), out(k, st, None, "timeout")),
      keep = _.n > 0L)
  }

  /** THE composed end-to-end streaming pipeline: ONE readStream →
    * foreachBatch, where each micro-batch runs the full C1→C9 chain through
    * [[graft.Incremental.run]] with cross-batch state — so the streaming
    * surface has the batch pipeline's EXACT semantics (fp-dedup, first-seen,
    * trailing-window frequency, scoring, routed fan-out, manifests +
    * lineage), not watermark approximations. foreachBatch is Spark's own
    * seam for multi-sink fan-out + complex multi-keyed state; the
    * alternative (chaining one grouped-state operator per state kind and
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
