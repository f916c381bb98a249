package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.fixtures.Gen
import graft.streaming.StreamPipeline

/** Streaming vs batch: the composed stream (runFull) equals the batch
  * pipeline across micro-batch boundaries, and the sessionize twin closes
  * the batch sessions. Uses Trigger.AvailableNow over fixture parquet. */
class StreamingSpec extends SparkSuite {
  import spark.implicits._

  private lazy val fx = Gen.fixture(150)
  private lazy val tb = RuleTables(fx.ioc.toDF(), fx.rules, fx.ref.toDF(), fx.whitelist)
  private lazy val inDir: String = {
    val d = Files.createTempDirectory("graft-stream-in").toString
    spark.createDataset(fx.turns).toDF().write.mode("overwrite").parquet(d)
    d
  }
  private def streamTurns: DataFrame =
    spark.readStream
      .schema(spark.read.parquet(inDir).schema)
      .parquet(inDir)

  test("composed end-to-end stream (ONE readStream → C1→C9 per micro-batch with state) == batch pipeline EXACTLY") {
    // three time-ordered files → three ascending micro-batches (the
    // Incremental contract)
    val sorted = fx.turns.sortBy(t => (t.ts.getTime, t.conv_id, t.turn_idx))
    val n = sorted.size
    val parts = Seq(sorted.slice(0, n / 3), sorted.slice(n / 3, 2 * n / 3),
      sorted.slice(2 * n / 3, n))
    val base = SparkSuite.timeOrderedFiles(parts.map(spark.createDataset(_).toDF()))
    val stream = SparkSuite.fileStream(spark, base)
    val stateDir = Files.createTempDirectory("graft-e2e-state").toString
    val outDir = Files.createTempDirectory("graft-e2e-out").toString
    val ckpt = Files.createTempDirectory("graft-e2e-ckpt").toString
    val ran = StreamPipeline.runFull(spark, stream, tb, fx.conf,
      stateDir, outDir, ckpt)
    assert(ran.size === 3, s"expected 3 micro-batches, ran $ran")

    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getInt(1), r.getInt(2), r.getString(3), r.getString(4))
    val got = Incremental.readAlerts(spark, stateDir, outDir)
      .select("conv_id", "turn_idx", "note", "severity", "category")
      .collect().map(key).sortBy(t => (t._1, t._2)).toSeq
    val wantDocs = Pipeline.alertDocs(
      Pipeline.enrich(spark.createDataset(fx.turns).toDF(), tb, fx.conf)
        .filter(col("routed")))
    val want = wantDocs
      .select("conv_id", "turn_idx", "note", "severity", "category")
      .collect().map(key).sortBy(t => (t._1, t._2)).toSeq
    assert(got.nonEmpty && got === want)
    // the equality reaches C6/C7 state across a micro-batch boundary: some
    // expected alert of micro-batch 2 or 3 carries a first-seen or freq hit
    val laterTurns = parts.tail.flatten.map(t => (t.conv_id, t.turn_idx)).toSet
    val statefulLater = wantDocs
      .filter(exists(col("hits"), h => h.getField("kind").isin("new", "freq")))
      .select("conv_id", "turn_idx").collect()
      .map(r => (r.getString(0), r.getInt(1))).filter(laterTurns.contains)
    assert(statefulLater.nonEmpty,
      "no routed new/freq alert after the first micro-batch")
    // at most one alert per turn, each one routed on its own note
    assert(got.map(k => (k._1, k._2)).distinct.size === got.size)
    assert(got.forall(_._3 >= fx.conf.firThreshold))

    // the FIR sink layout on disk: alerts_all/run_id=<id>/severity=<sev>,
    // only the high/critical bands (firThreshold is the high floor), and
    // the alert-doc projection (subject, category) written into the files
    val alertsDir = new java.io.File(outDir, "alerts_all")
    val sevDirs = alertsDir.listFiles().filter(_.getName.startsWith("run_id="))
      .flatMap(_.listFiles()).filter(_.isDirectory).map(_.getName)
    assert(sevDirs.nonEmpty && sevDirs.forall(_.startsWith("severity=")))
    assert(sevDirs.map(_.stripPrefix("severity=")).toSet.subsetOf(Set("high", "critical")))
    val written = spark.read.parquet(alertsDir.getPath)
    assert(Set("subject", "category").subsetOf(written.columns.toSet))
    assert(written.filter(col("subject").isNull || col("category").isNull).count() === 0)

    // restart idempotency: replaying the stream from a fresh checkpoint must
    // skip every manifested batch (manifest = commit marker), changing nothing
    val stream2 = SparkSuite.fileStream(spark, base)
    val ran2 = StreamPipeline.runFull(spark, stream2, tb, fx.conf,
      stateDir, outDir, Files.createTempDirectory("graft-e2e-ckpt2").toString)
    assert(ran2.isEmpty, s"replayed batches must be skipped, ran $ran2")
    val got2 = Incremental.readAlerts(spark, stateDir, outDir)
      .select("conv_id", "turn_idx", "note", "severity", "category")
      .collect().map(key).sortBy(t => (t._1, t._2)).toSeq
    assert(got2 === want)
  }

  test("streaming sessionize (session_window + watermark): closed sessions == batch sessions past the final watermark") {
    val gapSec = 3600L
    def key(df: DataFrame) = df
      .select("conv_id", "session_start", "session_last", "n_events")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq

    val got = key(drain(
      StreamPipeline.sessionizeStream(streamTurns, "1 hour",
        lateness = "0 seconds"), "sess"))

    val batch = spark.createDataset(fx.turns).toDF()
      .groupBy(col("conv_id"), session_window(col("ts"), "1 hour").as("w"))
      .agg(min(unix_timestamp(col("ts"))).as("session_start"),
        max(unix_timestamp(col("ts"))).as("session_last"),
        count(lit(1)).as("n_events"))
    val maxTs = fx.turns.map(_.ts.getTime / 1000L).max
    // Append emits a session once the final watermark (= max event time,
    // 0s delay) passes its end = last + gap; later sessions stay open
    val wantClosed = key(batch.filter(col("session_last") + gapSec <= maxTs))

    assert(got.nonEmpty, "no sessions closed — fixture too short for the gap")
    assert(got === wantClosed)
    // and the open tail really exists (the watermark is doing something)
    assert(key(batch).size > wantClosed.size)
  }
}

