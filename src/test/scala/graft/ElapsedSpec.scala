package graft

import org.apache.spark.sql.functions._

import graft.fixtures.Gen
import graft.operators.{Elapsed, Parse}
import graft.oracle.RefModel

/** P20 elapsed (cross-event correlation): batch pairing vs a naive in-memory
  * oracle, and the Incremental-style boundary contract
  * run(A ∪ B) == run(B, state(A)). */
class ElapsedSpec extends SparkSuite {
  import spark.implicits._

  private val timeout = 6L * 3600L

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getString(0), r.getLong(1),
      if (r.isNullAt(2)) -1L else r.getLong(2),
      if (r.isNullAt(3)) -1L else r.getLong(3), r.getString(4)))
      .sortBy(_._1).toSeq

  test("batch pairing matches the naive per-key oracle") {
    val fx = Gen.fixture(150)
    val parsed = Parse(spark.createDataset(fx.turns).toDF(), fx.conf)
    val got = rows(Elapsed(parsed, "conv_id",
      col("action") === "login", col("action") === "upload", timeout))

    val want = fx.turns.groupBy(_.conv_id).toSeq.flatMap { case (cid, ts0) =>
      val evs = ts0.sortBy(t => (t.ts.getTime, t.turn_idx))
        .map(t => (t, RefModel.parseFields(t, fx.conf)._1.get("action")))
      evs.find(_._2.contains("login")).map { case (st, _) =>
        val sMs = st.ts.getTime
        val end = evs.find { case (t, a) =>
          a.contains("upload") && t.ts.getTime >= sMs }
        end match {
          case Some((en, _)) if en.ts.getTime - sMs <= timeout * 1000L =>
            (cid, sMs / 1000L, en.ts.getTime / 1000L,
              en.ts.getTime / 1000L - sMs / 1000L, "matched")
          case _ => (cid, sMs / 1000L, -1L, -1L, "expired")
        }
      }
    }.sortBy(_._1)
    assert(got === want)
    assert(got.exists(_._5 == "matched"), "fixture must produce matched pairs")
    assert(got.exists(_._5 == "expired"), "fixture must produce expired starts")
  }

  test("boundary: state(A) then B == single run over A ∪ B (exact)") {
    val fx = Gen.fixture(150)
    def parsedOf(ts: Seq[graft.model.Turn]) =
      Parse(spark.createDataset(ts).toDF(), fx.conf)
    val isStart = col("action") === "login"
    val isEnd = col("action") === "upload"

    val cut = fx.turns.map(_.ts.getTime).sorted.apply(fx.turns.size / 2)
    val a = fx.turns.filter(_.ts.getTime < cut)
    val b = fx.turns.filter(_.ts.getTime >= cut)
    assert(a.nonEmpty && b.nonEmpty)

    val stA = Elapsed.state(parsedOf(a), "conv_id", isStart, isEnd)
    val resumed = rows(Elapsed.finish(
      Elapsed.state(parsedOf(b), "conv_id", isStart, isEnd, Some(stA)),
      "conv_id", timeout))
    val single = rows(Elapsed(parsedOf(fx.turns), "conv_id", isStart, isEnd, timeout))
    assert(resumed === single)
    // the boundary must actually split transactions (a start in A whose end
    // falls in B), otherwise this test proves nothing
    val aKeys = rows(Elapsed.finish(stA, "conv_id", timeout))
      .filter(_._5 == "expired").map(_._1).toSet
    val healed = single.filter(r => aKeys(r._1) && r._5 == "matched")
    assert(healed.nonEmpty, "no cross-boundary transaction in fixture split")
  }

  // ---- P20b multi-transaction (r4): run-collapse implementation vs a
  // naive per-key state machine, on crafted edges AND seeded random tapes.

  /** The state machine the operator must equal: start-when-closed opens,
    * extra starts count, end-when-open closes, end-when-closed ignored;
    * timeout classifies at emit. */
  private def naiveMulti(evs: Seq[(Long, Boolean)], timeoutSec: Long)
      : Seq[(Long, Long, Long, Long, Long, String)] = {
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, Long, String)]
    var open = false; var s = 0L; var extra = 0L; var txn = 0L
    def close(e: Option[Long]): Unit = {
      txn += 1
      e match {
        case Some(t) if t - s <= timeoutSec =>
          out += ((txn, s, t, t - s, extra, "matched"))
        case _ => out += ((txn, s, -1L, -1L, extra, "expired"))
      }
      open = false; extra = 0L
    }
    evs.sortBy(e => (e._1, !e._2)).foreach { case (t, isS) =>
      if (isS) { if (open) extra += 1 else { open = true; s = t } }
      else if (open) close(Some(t))
    }
    if (open) close(None)
    out.toSeq
  }

  private def multiRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      if (r.isNullAt(3)) -1L else r.getLong(3),
      if (r.isNullAt(4)) -1L else r.getLong(4),
      r.getLong(5), r.getString(6)))
      .sortBy(t => (t._1, t._2)).toSeq

  test("multi: crafted edges — restart, extra starts, leading/extra ends, timeout") {
    val timeout = 100L
    val evs = Seq(
      ("k1", 0L, "s"), ("k1", 10L, "e"), ("k1", 20L, "s"), ("k1", 30L, "e"),
      ("k2", 0L, "s"), ("k2", 5L, "s"), ("k2", 8L, "s"), ("k2", 12L, "e"),
      ("k3", 0L, "e"), ("k3", 10L, "s"), ("k3", 20L, "e"), ("k3", 25L, "e"),
      ("k3", 30L, "s"),
      ("k4", 0L, "s"), ("k4", 150L, "e"), ("k4", 200L, "s"))
    val df = evs.map { case (k, t, a) => (k, t * 1000000L, t, a) }
      .toDF("conv_id", "ts_us", "ts_sec", "action")
    val got = multiRows(Elapsed.multi(df, "conv_id",
      col("action") === "s", col("action") === "e", timeout))
    val want = Seq(
      ("k1", 1L, 0L, 10L, 10L, 0L, "matched"),
      ("k1", 2L, 20L, 30L, 10L, 0L, "matched"),
      ("k2", 1L, 0L, 12L, 12L, 2L, "matched"),
      ("k3", 1L, 10L, 20L, 10L, 0L, "matched"),
      ("k3", 2L, 30L, -1L, -1L, 0L, "expired"),
      ("k4", 1L, 0L, -1L, -1L, 0L, "expired"),
      ("k4", 2L, 200L, -1L, -1L, 0L, "expired"))
    assert(got === want)
  }

  test("multi: 60 seeded random tapes equal the naive state machine") {
    val rnd = new scala.util.Random(4242)
    val timeout = 40L
    val tapes = (0 until 60).map { k =>
      val n = 1 + rnd.nextInt(12)
      s"k$k" -> (0 until n).map(i =>
        (i * (3L + rnd.nextInt(15)), rnd.nextBoolean()))
    }
    val df = tapes.flatMap { case (k, evs) => evs.map { case (t, isS) =>
      (k, t * 1000000L, t, if (isS) "s" else "e") } }
      .toDF("conv_id", "ts_us", "ts_sec", "action")
    val got = multiRows(Elapsed.multi(df, "conv_id",
      col("action") === "s", col("action") === "e", timeout))
    val want = tapes.flatMap { case (k, evs) =>
      naiveMulti(evs, timeout).map(r => (k, r._1, r._2, r._3, r._4, r._5, r._6))
    }.sortBy(t => (t._1, t._2))
    assert(got === want)
    assert(got.exists(_._6 > 0), "fuzz must hit extra-starts")
    assert(got.exists(_._7 == "expired") && got.exists(_._7 == "matched"))
  }

  test("streaming twin (FMGWS, event-time timeout): matched == batch exactly, expired is a prefix") {
    import graft.streaming.StreamPipeline

    val fx = Gen.fixture(150)
    // three ascending-time files → ascending micro-batches (same contract as
    // the composed pipeline stream)
    val stream = tapeStream(thirds(fx.turns))
    // 10-min timeout: the fixture spans ~100 minutes, so both resolution
    // paths (late end inline, no-end via event-time timeout once a later
    // file advances the watermark) actually occur in-stream
    val streamTimeout = 600L
    val out = StreamPipeline.elapsedStream(Parse(stream, fx.conf), "conv_id",
      col("action") === "login", col("action") === "upload", streamTimeout)

    val got = drain(out, "elap").collect().map(r => (r.getString(0), r.getLong(1),
      if (r.isNullAt(2)) -1L else r.getLong(2),
      if (r.isNullAt(3)) -1L else r.getLong(3), r.getString(4))).toSeq
    assert(got.map(_._1).distinct.size === got.size, "one resolution per key")
    val batch = rows(Elapsed(Parse(spark.createDataset(fx.turns).toDF(), fx.conf),
      "conv_id", col("action") === "login", col("action") === "upload", streamTimeout))
    val batchMatched = batch.filter(_._5 == "matched").toSet
    val batchExpired = batch.filter(_._5 == "expired").toSet
    val gotMatched = got.filter(_._5 == "matched").toSet
    val gotExpired = got.filter(_._5 == "expired").toSet
    assert(gotMatched === batchMatched)
    // expired: the stream can only have resolved what its final watermark
    // reached (trailing timeouts fire on the NEXT data) — prefix, not equal
    assert(gotExpired.subsetOf(batchExpired), s"extra expired: ${gotExpired -- batchExpired}")
    assert(gotMatched.nonEmpty && gotExpired.nonEmpty,
      "fixture must exercise both resolutions through the stream")
  }

  /** One tape event `(conv_id, ts_us, ts_sec, action, ts)` at second `sec`. */
  private def ev(k: String, sec: Long, a: String) =
    (k, sec * 1000000L, sec, a, new java.sql.Timestamp(sec * 1000L))

  /** Tape events as the frame a file of the tape holds. */
  private def tapeDf(evs: Seq[(String, Long, Long, String, java.sql.Timestamp)]) =
    evs.toDF("conv_id", "ts_us", "ts_sec", "action", "ts")

  /** Fixture turns in event-time order, cut into three ascending files. */
  private def thirds(turns: Seq[graft.model.Turn]) = {
    val sorted = turns.sortBy(t => (t.ts.getTime, t.conv_id, t.turn_idx))
    val n = sorted.size
    Seq(sorted.slice(0, n / 3), sorted.slice(n / 3, 2 * n / 3), sorted.slice(2 * n / 3, n))
      .map(spark.createDataset(_).toDF())
  }

  /** Multi-transaction rows without the txn index (the stream's columns). */
  private def multiOutRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getString(0), r.getLong(1),
      if (r.isNullAt(2)) -1L else r.getLong(2),
      if (r.isNullAt(3)) -1L else r.getLong(3), r.getLong(4), r.getString(5)))
      .sortBy(t => (t._1, t._2)).toSeq

  /** The ADVICE r4 race tape: the watermark (moved by `w`) passes k's
    * deadline (1000 + 600) before the batch carrying k's next events. */
  private val raceFiles = Seq(
    Seq(ev("k", 1000L, "s"), ev("w", 1700L, "s")),
    Seq(ev("k", 1750L, "s")),
    Seq(ev("k", 1760L, "e"), ev("w", 3000L, "s")))

  test("streaming: watermark passes deadline in the batch where new key data arrives " +
      "(ADVICE r4 race) — query survives, timeout-fires-first divergence pinned") {
    import graft.streaming.StreamPipeline
    import spark.implicits._

    // Tape engineered so the watermark (set by key `w`'s events) passes k's
    // open-transaction deadline BEFORE the batch carrying k's next events:
    //   file 0: k start @1000s; w event @1700s  → watermark after b0 = 1700
    //           (k's deadline = 1000 + 600 = 1600 < 1700, but k has data in
    //            the next batch so hasTimedOut never fires for it)
    //   file 1: k start @1750s                  → the race batch
    //   file 2: k end   @1760s; w event @3000s  → closes the reopened txn
    // Pre-fix, batch 1 re-armed k's timeout at 1600s ≤ watermark 1700s and
    // GroupStateImpl.setTimeoutTimestamp threw, killing the whole query.
    val timeoutSec = 600L
    // w's events must survive the operator's isStart||isEnd filter (the
    // watermark is applied AFTER it), so they are starts; asserts filter to k
    val stream = tapeStream(raceFiles.map(tapeDf))

    // multi: old txn expires (extra=0 — the 1750 start is NOT an extra start,
    // it opens a NEW transaction: the documented timeout-fires-first
    // divergence from batch, which would count it as extra on the 1000 txn),
    // then the reopened txn matches 1750→1760.
    val outM = StreamPipeline.elapsedMultiStream(stream, "conv_id",
      col("action") === "s", col("action") === "e", timeoutSec)
    // pre-fix: StreamingQueryException here
    val gotM = drain(outM, "elapm_race").collect().map(r => (r.getString(0),
      r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2),
      if (r.isNullAt(3)) -1L else r.getLong(3), r.getLong(4), r.getString(5)))
      .filter(_._1 == "k").sortBy(_._2).toSeq
    assert(gotM === Seq(
      ("k", 1000L, -1L, -1L, 0L, "expired"),
      ("k", 1750L, 1760L, 10L, 0L, "matched")))

    // single-transaction twin on the same tape: one resolution per key, the
    // 1000s txn expired; later events must not re-pair (done-keys stay done)
    val outS = StreamPipeline.elapsedStream(stream, "conv_id",
      col("action") === "s", col("action") === "e", timeoutSec)
    val gotS = drain(outS, "elap_race").collect().map(r => (r.getString(0),
      r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2),
      if (r.isNullAt(3)) -1L else r.getLong(3), r.getString(4)))
      .filter(_._1 == "k").toSeq
    assert(gotS === Seq(("k", 1000L, -1L, -1L, "expired")))
  }

  test("streaming: an end and a start at the same microsecond pair as start-first, " +
      "elapsed 0, as batch does") {
    import graft.streaming.StreamPipeline

    // file 0 holds k's end row BEFORE its start row, both at 1000s; file 1
    // moves the watermark past k's deadline, so a dropped end would show up
    // as k expiring
    val files = Seq(
      Seq(ev("k", 1000L, "e"), ev("k", 1000L, "s")),
      Seq(ev("w", 3000L, "s")))
    val (isStart, isEnd) = (col("action") === "s", col("action") === "e")
    val expect = Seq(("k", 1000L, 1000L, 0L, "matched"))
    val batch = rows(Elapsed(tapeDf(files.flatten),
      "conv_id", isStart, isEnd, 600L)).filter(_._1 == "k")
    assert(batch === expect)
    val out = StreamPipeline.elapsedStream(tapeStream(files.map(tapeDf)), "conv_id",
      isStart, isEnd, 600L)
    assert(rows(drain(out, "elap_tie")).filter(_._1 == "k") === expect)
  }

  test("streaming: the race tape answers the same whether or not a batch of another key " +
      "comes between k's files") {
    import graft.streaming.StreamPipeline

    // with x's file between, Spark calls k for its timeout before k's next
    // events; without it, k's next events come first — same rows either way
    val (isStart, isEnd) = (col("action") === "s", col("action") === "e")
    val splits = Seq(raceFiles, raceFiles.head +: Seq(ev("x", 1701L, "s")) +: raceFiles.tail)
    val single = splits.zipWithIndex.map { case (files, i) =>
      rows(drain(StreamPipeline.elapsedStream(tapeStream(files.map(tapeDf)), "conv_id",
        isStart, isEnd, 600L), s"elap_split$i")).filter(_._1 == "k")
    }
    assert(single.distinct === Seq(Seq(("k", 1000L, -1L, -1L, "expired"))))
    val multi = splits.zipWithIndex.map { case (files, i) =>
      multiOutRows(drain(StreamPipeline.elapsedMultiStream(tapeStream(files.map(tapeDf)),
        "conv_id", isStart, isEnd, 600L), s"elapm_split$i")).filter(_._1 == "k")
    }
    assert(multi.distinct === Seq(Seq(
      ("k", 1000L, -1L, -1L, 0L, "expired"),
      ("k", 1750L, 1760L, 10L, 0L, "matched"))))
  }

  test("streaming: a row whose start predicate is null and end predicate true is an end, " +
      "as batch reads it") {
    import graft.streaming.StreamPipeline

    // k's row at 1010 has a null action, so `action === "s"` is null there;
    // w's file moves the watermark on
    val files = Seq(
      Seq(ev("k", 1000L, "s"), ev("k", 1010L, null)),
      Seq(ev("w", 3000L, "s")))
    val (isStart, isEnd) = (col("action") === "s", col("ts_sec") === 1010L)
    val all = tapeDf(files.flatten)

    val batch = rows(Elapsed(all, "conv_id", isStart, isEnd, 600L)).filter(_._5 == "matched")
    assert(batch === Seq(("k", 1000L, 1010L, 10L, "matched")))
    val single = rows(drain(StreamPipeline.elapsedStream(tapeStream(files.map(tapeDf)),
      "conv_id", isStart, isEnd, 600L), "elap_null"))
    assert(single.filter(_._5 == "matched") === batch)

    val batchM = multiOutRows(Elapsed.multi(all, "conv_id", isStart, isEnd, 600L).drop("txn"))
      .filter(_._6 == "matched")
    assert(batchM === Seq(("k", 1000L, 1010L, 10L, 0L, "matched")))
    val multi = multiOutRows(drain(StreamPipeline.elapsedMultiStream(
      tapeStream(files.map(tapeDf)), "conv_id", isStart, isEnd, 600L), "elapm_null"))
    assert(multi.filter(_._6 == "matched") === batchM)
  }

  test("multi streaming twin (FMGWS): matched == batch multi exactly, expired a subset") {
    import graft.streaming.StreamPipeline

    val fx = Gen.fixture(150)
    val stream = tapeStream(thirds(fx.turns))
    val streamTimeout = 600L
    val out = StreamPipeline.elapsedMultiStream(Parse(stream, fx.conf), "conv_id",
      col("action") === "login", col("action") === "upload", streamTimeout)

    def key(r: org.apache.spark.sql.Row) = (r.getString(0), r.getLong(1),
      if (r.isNullAt(2)) -1L else r.getLong(2),
      if (r.isNullAt(3)) -1L else r.getLong(3), r.getLong(4), r.getString(5))
    val got = drain(out, "elapm").collect().map(key).toSeq
    // batch twin, txn index dropped (stream emits per close, not numbered)
    val batch = Elapsed.multi(Parse(spark.createDataset(fx.turns).toDF(), fx.conf),
      "conv_id", col("action") === "login", col("action") === "upload", streamTimeout)
      .drop("txn").collect().map(key).toSeq

    val gm = got.filter(_._6 == "matched").toSet
    val bm = batch.filter(_._6 == "matched").toSet
    assert(gm === bm)
    val ge = got.filter(_._6 == "expired").toSet
    val be = batch.filter(_._6 == "expired").toSet
    assert(ge.subsetOf(be), s"extra expired: ${ge -- be}")
    assert(gm.nonEmpty && ge.nonEmpty)
    // multi must actually multi: some key resolves more than one transaction
    assert(got.groupBy(_._1).exists(_._2.size > 1),
      "no key produced multiple transactions through the stream")
  }
}
