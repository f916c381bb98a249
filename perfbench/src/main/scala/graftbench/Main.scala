package graftbench

import java.io.File

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{Incremental, Pipeline, RuleTables}
import graft.fixtures.Gen
import graft.model.{PipelineConf, Turn}
import graft.oracle.RefModel
import graft.sources.Source
import graft.streaming.StreamPipeline

/** Counts operations (passes, micro-batches) and correctness checks; a
  * failure of either makes the run incorrect and its exit status non-zero.
  * An operation that throws aborts the run, and `main` counts it failed. */
final class Tally {
  var attempted = 0L
  var failed = 0L
  val problems = ArrayBuffer.empty[String]

  def op[T](body: => T): T = { attempted += 1; body }

  def check(what: String, ok: Boolean): Unit = {
    attempted += 1
    if (!ok) { failed += 1; problems += what }
  }
}

/** `graftbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR`
  *
  * End-to-end run (trace 0): set up `SetupReps` times (fresh SparkSession,
  * rule tables, one untimed cold pass), then run closed-loop passes, starting
  * another while fewer than S seconds have passed (so at least one), and
  * check the outputs. Traced run (trace 1): see [[Trace]]. */
object Main {
  val Conf: PipelineConf = PipelineConf()
  val Cores = 4
  val SetupReps = 3
  val TurnSchema = Encoders.product[Turn].schema

  type Metrics = Map[String, (Double, String)]

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def delete(path: String): Unit = graft.util.Fs.deleteRecursively(new File(path))

  /** One `RunPipeline` pass: scan, enrichPlanned, route. */
  def batchPass(spark: SparkSession, tables: RuleTables, inDir: String,
      outDir: String): (Double, Map[String, Long]) = {
    val t0 = System.nanoTime()
    val turns = Source.readTable(spark, Conf, inDir)
    val (enriched, cleanup) = Pipeline.enrichPlanned(turns, tables, Conf)
    val counts = try Pipeline.route(spark, enriched, Conf, outDir) finally cleanup()
    (seconds(t0), counts)
  }

  final case class StreamRun(wall: Double, ran: Seq[String], stateDir: String, outDir: String)

  /** One `StreamPipeline.runFull` over the files of `filesDir`, one file per
    * micro-batch, from empty state. */
  def streamPass(spark: SparkSession, tables: RuleTables, filesDir: String,
      workDir: String): StreamRun = {
    delete(workDir)
    val stream = spark.readStream.schema(TurnSchema)
      .option("maxFilesPerTrigger", "1").parquet(filesDir)
    val (state, out) = (s"$workDir/state", s"$workDir/out")
    val t0 = System.nanoTime()
    val ran = StreamPipeline.runFull(spark, stream, tables, Conf, state, out, s"$workDir/ckpt")
    StreamRun(seconds(t0), ran, state, out)
  }

  type AlertKey = (String, Int, Int, String)

  def alertKeys(df: DataFrame): Seq[AlertKey] =
    df.select("conv_id", "turn_idx", "note", "severity").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getString(3))).toSeq.sorted

  /** Batch answer the stream must reproduce: routed rows of one enrich over
    * all the stream's rows. */
  def batchAlertKeys(spark: SparkSession, tables: RuleTables, filesDir: String): Seq[AlertKey] =
    alertKeys(Pipeline.enrich(Source.readTable(spark, Conf, filesDir), tables, Conf)
      .filter(col("routed")))

  def streamAlertKeys(spark: SparkSession, r: StreamRun): Seq[AlertKey] =
    alertKeys(Incremental.readAlerts(spark, r.stateDir, r.outDir))

  /** Per-sink counts of a seeded slice by the row-level RefModel oracle
    * (severities with routed rows only). */
  def refModelCounts(slice: Seq[Turn]): Map[String, Long] =
    RefModel.sinkCounts(RefModel(slice, Gen.iocTable, Gen.sigRules, Gen.refBaseline,
      Gen.whitelistRules, Conf))

  /** One pass (enrichPlanned + route) over an in-memory slice; its non-zero
    * per-sink counts. */
  def slicePass(spark: SparkSession, tables: RuleTables, slice: Seq[Turn],
      outDir: String): Map[String, Long] = {
    import spark.implicits._
    val (enriched, cleanup) = Pipeline.enrichPlanned(spark.createDataset(slice).toDF(), tables, Conf)
    val got = try Pipeline.route(spark, enriched, Conf, outDir) finally cleanup()
    got.filter { case (k, n) => k != "total" && n > 0 }
  }

  /** The untimed cold work every set-up ends with. Batch workloads: one
    * pass over the small seeded slice, checked against RefModel. The stream
    * workload: the batch answer over all its rows, which the timed streams
    * must reproduce. */
  sealed trait Warm
  final case class SliceCounts(counts: Map[String, Long]) extends Warm
  final case class Reference(keys: Seq[AlertKey]) extends Warm

  def endToEnd(a: Args, w: Workload, corpus: Corpus, tally: Tally): Metrics = {
    val runDir = s"${a.work}/run"
    val slice = w.refSlice(a.seed)
    val want = refModelCounts(slice)
    var spark: SparkSession = null
    var tables: RuleTables = null
    val setups = (1 to SetupReps).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(Cores, a.work)
      tables = Source.readRuleTables(spark, Conf, corpus.rulesDir)
      val warm =
        if (w.isStream) Reference(tally.op(batchAlertKeys(spark, tables, corpus.streamDir)))
        else SliceCounts(tally.op(slicePass(spark, tables, slice, s"$runDir/slice")))
      (seconds(t0), warm)
    }
    val reference = setups.head._2 match { case Reference(keys) => keys; case _ => Seq.empty }
    setups.map(_._2).distinct match {
      case Seq(SliceCounts(got)) => tally.check(
        s"sink counts on a ${slice.size}-turn slice: $got vs RefModel $want",
        want.nonEmpty && got == want)
      case Seq(Reference(keys)) => tally.check("batch reference has alerts", keys.nonEmpty)
      case other => tally.check(s"set-ups disagree: $other", ok = false)
    }
    val probes = new Probes(spark, tracing = false)
    val walls = ArrayBuffer.empty[Double]
    val microBatchMs = ArrayBuffer.empty[Double]
    val batchCounts = ArrayBuffer.empty[Map[String, Long]]

    /** One checked `runFull`; its wall and the trigger times of its
      * micro-batches. */
    def checkedStream(): (Double, Seq[Double]) = {
      probes.batches.clear()
      val r = streamPass(spark, tables, corpus.streamDir, s"$runDir/stream")
      probes.drain()
      val done = probes.batches.toArray(Array.empty[BatchRec]).toSeq.filter(_.inputRows > 0)
      tally.attempted += r.ran.size
      tally.check(s"stream ran ${r.ran.size} of ${corpus.nFiles} micro-batches",
        r.ran.size == corpus.nFiles && done.size == corpus.nFiles)
      tally.check("stream alerts == batch enrich routed rows",
        streamAlertKeys(spark, r) == reference)
      (r.wall, done.map(_.durations.getOrElse("triggerExecution", 0L).toDouble))
    }

    // The set-ups run batch code only; one untimed stream first, so the
    // timed ones do not pay class loading and JIT of the streaming paths.
    if (w.isStream) checkedStream()
    // the timed passes start from a collected heap, so set-up garbage is
    // not in their GC work
    System.gc()
    probes.resetCachePeak()
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    while (walls.isEmpty || System.nanoTime() < deadline) {
      if (w.isStream) {
        val (wall, triggerMs) = checkedStream()
        walls += wall
        microBatchMs ++= triggerMs
      } else {
        val (wall, counts) = tally.op(batchPass(spark, tables, corpus.batchDir, s"$runDir/out"))
        walls += wall
        batchCounts += counts
      }
    }
    val cacheMb = probes.cachePeakBytes() / (1024.0 * 1024.0)
    if (!w.isStream)
      tally.check(s"per-sink counts identical on every pass: ${batchCounts.distinct}",
        batchCounts.distinct.size == 1 && batchCounts.head("total") > 0)
    spark.stop()

    val setupTimes = setups.map(_._1)
    val passWall = Stats.median(walls.toSeq)
    val batchP50 = if (w.isStream) Stats.median(microBatchMs.toSeq) / 1000 else passWall
    val nBatch = if (w.isStream) microBatchMs.size else walls.size
    println(s"setup_s=${setupTimes.map(t => f"$t%.3f").mkString(",")} " +
      s"pass_s=${walls.map(t => f"$t%.3f").mkString(",")}" +
      (if (w.isStream) s" microbatch_s=${microBatchMs.map(t => f"${t / 1000}%.3f").mkString(",")}" else ""))
    println(s"passes=${walls.size} batch_samples=$nBatch upper_percentile=" +
      Stats.supportedUpperPercentile(nBatch).fold("none (fewer than 10 samples beyond p75)")(p => s"p$p"))
    Map(
      "setup_s" -> (Stats.median(setupTimes), "s"),
      "turns_per_s" -> (corpus.nTurns / passWall, "1/s"),
      "microbatch_p50_s" -> (batchP50, "s"),
      "cache_peak_mb" -> (cacheMb, "MB"))
  }

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: String)

  def parseArgs(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"))
  }

  def json(tally: Tally, metrics: Metrics): String = {
    val ms = metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      s"${graft.util.Json.quote(k)}: {\"value\": $v, \"unit\": ${graft.util.Json.quote(u)}}"
    }.mkString(", ")
    val correct = tally.failed == 0
    s"""{"correct": $correct, "attempted": ${math.max(tally.attempted, 1L)}, """ +
      s""""failed": ${tally.failed}, "metrics": {$ms}}"""
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val w = Workloads.byName(a.workload)
    val tally = new Tally
    val metrics: Metrics = try {
      val corpus = Inputs.prepare(a.work, w, a.seed, () => session(Cores, a.work))
      println(f"workload=${w.name} seed=${a.seed} turns=${corpus.nTurns} files=${corpus.nFiles} " +
        f"inputs_ready_at=${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1fs")
      val m = if (a.trace) Trace.run(a, w, corpus, tally) else endToEnd(a, w, corpus, tally)
      m.foreach { case (k, (v, _)) => tally.check(s"metric $k is finite", !v.isNaN && !v.isInfinite) }
      m.filter { case (_, (v, _)) => !v.isNaN && !v.isInfinite }
    } catch {
      case NonFatal(e) =>
        e.printStackTrace()
        tally.failed += 1
        tally.problems += s"run aborted: $e"
        Map.empty
    }
    tally.problems.foreach(p => System.err.println(s"FAILED: $p"))
    tally.problems.foreach(p => println(s"FAILED: $p"))
    println(json(tally, metrics))
    System.out.flush()
    sys.exit(if (tally.failed == 0) 0 else 1)
  }
}
