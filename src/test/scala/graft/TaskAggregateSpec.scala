package graft

import org.apache.spark.sql.functions._

import graft.fixtures.Gen
import graft.operators.{Parse, TaskAggregate}
import graft.oracle.RefModel

/** P25 task aggregation (Logstash `aggregate` analogue): Spark result vs a
  * naive in-memory per-task oracle, covering completed / timeout emission
  * and the pending-task (no emission) case. */
class TaskAggregateSpec extends SparkSuite {
  import spark.implicits._

  private val timeoutSec = 6L * 3600L

  private def mk(cid: String, idx: Int, sec: Long, action: String): graft.model.Turn =
    graft.model.Turn(cid, idx, "user",
      s"$action user=u001 src=10.0.0.1 dst=host0.corp.example status=200 " +
        s"hash=${Gen.md5("f")} uri=/api/v1/r0", "",
      new java.sql.Timestamp(sec * 1000L))

  /** Drain a taskAggStream output (AvailableNow) into rows, end_sec -1 if null. */
  private def streamRows(out: org.apache.spark.sql.Dataset[_], name: String) =
    taskRows(drain(out, name))

  /** Emitted task rows as tuples, end_sec -1 if null. */
  private def taskRows(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
      if (r.isNullAt(4)) -1L else r.getLong(4), r.getLong(5), r.getLong(6),
      r.getString(7))).toSeq

  test("per-task accumulation matches the naive oracle; pending tasks emit nothing") {
    val fx = Gen.fixture(160)
    // pin all three emission classes: a task that completes, a task that
    // goes quiet past the timeout, and a still-open task at the high-water
    // mark that must stay pending
    val hwm0 = fx.turns.map(_.ts.getTime / 1000L).max
    val crafted = Seq(
      mk("t-quiet", 0, hwm0 + 1000L, "read"), mk("t-quiet", 1, hwm0 + 2000L, "write"),
      mk("t-done", 0, hwm0 + 2500L, "read"), mk("t-done", 1, hwm0 + 3000L, "upload"),
      mk("t-open", 0, hwm0 + 2000L + timeoutSec + 3600L, "read"))
    val turns = fx.turns ++ crafted
    val parsed = Parse(spark.createDataset(turns).toDF(), fx.conf)
    val got = TaskAggregate.finish(TaskAggregate.state(parsed, "conv_id",
      col("action") === "upload"), "conv_id", timeoutSec)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4), r.getLong(5), r.getLong(6),
        r.getString(7)))
      .sortBy(_._1).toSeq

    val hwm = turns.map(_.ts.getTime / 1000L).max
    val want = turns.groupBy(_.conv_id).toSeq.flatMap { case (cid, ts0) =>
      val fields = ts0.map(t => (t, RefModel.parseFields(t, fx.conf)._1))
      val secs = ts0.map(_.ts.getTime / 1000L)
      val endSec = fields.collect {
        case (t, f) if f.get("action").contains("upload") => t.ts.getTime / 1000L
      }.sorted.lastOption
      val last = secs.max
      val status =
        if (endSec.isDefined) Some("completed")
        else if (last + timeoutSec < hwm) Some("timeout")
        else None // pending: stays in the in-flight map, no emission
      status.map { st =>
        (cid, ts0.size.toLong, secs.min, last, endSec.getOrElse(-1L),
          fields.flatMap(_._2.get("status")).map(_.toLong).sum,
          fields.flatMap(_._2.get("action")).distinct.size.toLong, st)
      }
    }.sortBy(_._1)

    assert(got === want)
    assert(got.exists(_._8 == "completed"), "fixture must complete some tasks")
    assert(got.exists(_._8 == "timeout"), "fixture must time out some tasks")
    assert(got.size < turns.map(_.conv_id).distinct.size,
      "some tasks must stay pending (no emission)")
    assert(!got.exists(_._1 == "t-open"), "open task at the HWM stays pending")
  }

  test("resume contract: finish(state(A∪B)) == finish(state(B, state(A)))") {
    val fx = Gen.fixture(140)
    val isEnd = col("action") === "upload"
    val sorted = fx.turns.sortBy(t => (t.ts.getTime, t.conv_id, t.turn_idx))
    val (a, b) = sorted.splitAt(sorted.size / 2)
    def parse(ts: Seq[graft.model.Turn]) =
      Parse(spark.createDataset(ts).toDF(), fx.conf)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4), r.getLong(5), r.getLong(6),
        r.getString(7)))
      .sortBy(_._1).toSeq

    val whole = rows(TaskAggregate.finish(
      TaskAggregate.state(parse(sorted), "conv_id", isEnd), "conv_id", timeoutSec))
    val resumed = rows(TaskAggregate.finish(
      TaskAggregate.state(parse(b), "conv_id", isEnd,
        prior = Some(TaskAggregate.state(parse(a), "conv_id", isEnd))),
      "conv_id", timeoutSec))
    assert(whole === resumed)
    assert(whole.nonEmpty)
  }

  test("streaming twin (FMGWS event-time timeout): completed == emit-at-end oracle, timeouts match their own accumulation") {
    val fx = Gen.fixture(150)
    // three ascending-time files → ascending micro-batches; later files
    // advance the watermark so mid-stream inactivity timeouts actually fire
    val sorted = fx.turns.sortBy(t => (t.ts.getTime, t.conv_id, t.turn_idx))
    val n = sorted.size
    val stream = tapeStream(
      Seq(sorted.slice(0, n / 3), sorted.slice(n / 3, 2 * n / 3), sorted.slice(2 * n / 3, n))
        .map(spark.createDataset(_).toDF()))
    val streamTimeout = 600L // fixture spans ~100 min → quiet gaps exist
    val got = streamRows(graft.streaming.StreamPipeline.taskAggStream(
      Parse(stream, fx.conf), "conv_id", col("action") === "exfil", streamTimeout), "taskagg")
    assert(got.map(_._1).distinct.size === got.size, "one emission per task")

    // emit-at-end oracle: accumulate in event-time order UP TO the first end
    def accum(cid: String, upTo: Long): (Long, Long, Long, Long, Long) = {
      val evs = fx.turns.filter(_.conv_id == cid)
        .filter(_.ts.getTime / 1000L <= upTo)
        .map(t => (t.ts.getTime / 1000L, RefModel.parseFields(t, fx.conf)._1))
      (evs.size.toLong, evs.map(_._1).min, evs.map(_._1).max,
        evs.flatMap(_._2.get("status")).map(_.toLong).sum,
        evs.flatMap(_._2.get("action")).distinct.size.toLong)
    }
    val wantCompleted = fx.turns.groupBy(_.conv_id).toSeq.flatMap { case (cid, ts0) =>
      val endSec = ts0.sortBy(t => (t.ts.getTime, t.turn_idx))
        .find(t => RefModel.parseFields(t, fx.conf)._1.get("action").contains("exfil"))
        .map(_.ts.getTime / 1000L)
      endSec.map { e =>
        val (nn, f, l, s, a) = accum(cid, e)
        (cid, nn, f, l, e, s, a, "completed")
      }
    }.toSet
    assert(got.filter(_._8 == "completed").toSet === wantCompleted)
    assert(wantCompleted.nonEmpty, "fixture must complete tasks in-stream")

    // each fired timeout row equals its own ≤last_sec accumulation and its
    // task truly saw no end event up to that point
    val timeouts = got.filter(_._8 == "timeout")
    assert(timeouts.nonEmpty, "watermark advance must fire some timeouts")
    timeouts.foreach { case (cid, nn, f, l, e, s, a, _) =>
      assert(e === -1L)
      val (on, of, ol, os, oa) = accum(cid, l)
      assert((nn, f, l, s, a) === ((on, of, ol, os, oa)), s"timeout row $cid")
      assert(!wantCompleted.exists(_._1 == cid), s"$cid has an end event")
    }
  }

  test("streaming twin with a zero timeout: one second's events stay pending") {
    // key a at 1700000100.300 s, then at .500 s in the next micro-batch: both
    // in the same second, so by the batch rule (last + 0 < hwm second) the
    // task never goes quiet; its deadline (…101000 ms) stays above the
    // watermark (…100500 ms after the second batch)
    val parts = Seq(300L, 500L).map { ms =>
      val tsMs = 1700000100000L + ms
      Seq(("a", new java.sql.Timestamp(tsMs), tsMs * 1000L, tsMs / 1000L, 200, "read"))
        .toDF("conv_id", "ts", "ts_us", "ts_sec", "status", "action")
    }
    val isEnd = col("action") === "upload"
    val got = streamRows(graft.streaming.StreamPipeline.taskAggStream(
      tapeStream(parts), "conv_id", isEnd, 0L), "taskagg_zero")
    // the query survives, and the task stays pending as finish(state(…)) keeps it
    assert(got === taskRows(TaskAggregate.finish(
      TaskAggregate.state(parts.reduce(_ union _), "conv_id", isEnd), "conv_id", 0L)))
    assert(got.isEmpty)
  }

  test("streaming twin: a timed-out task absorbs nothing later, however the micro-batches split") {
    // a's task (timeout 10 s) is past its deadline once w moves the watermark
    // to …200; its next event at …205 comes either in the batch right after
    // (two files) or after a batch holding only an unrelated key x (three
    // files, so Spark calls a for its timeout first). Both splits must time
    // the task out with its one event, as the batch rule judges it at …200.
    def file(evs: (String, Long)*) = evs.map { case (k, sec) =>
      (k, new java.sql.Timestamp(sec * 1000L), sec * 1000000L, sec, 200, "read")
    }.toDF("conv_id", "ts", "ts_us", "ts_sec", "status", "action")
    val first = file(("a", 1700000100L), ("w", 1700000200L))
    val late = file(("a", 1700000205L))
    def run(parts: Seq[org.apache.spark.sql.DataFrame], name: String) =
      streamRows(graft.streaming.StreamPipeline.taskAggStream(tapeStream(parts),
        "conv_id", col("action") === "upload", 10L), name).sortBy(_._1)
    val two = run(Seq(first, late), "taskagg_split2")
    val three = run(Seq(first, file(("x", 1700000201L)), late), "taskagg_split3")
    assert(two === three)
    assert(two === Seq(("a", 1L, 1700000100L, 1700000100L, -1L, 200L, 1L, "timeout")))
  }
}
