package graftbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.storage.StorageLevel

import graft.{Incremental, Pipeline, RuleTables}
import graft.operators._
import graft.sources.Source

import Main.{Conf, Metrics, seconds}
import Stats.Span

/** The traced run: per-layer figures, timed from outside the program by
  * calling each layer's public functions. Every repeated measurement is
  * made REPS times and the minimum kept; the first of each is the coldest.
  *
  * Batch layers. The prefix chain below mirrors `Pipeline.enrichPlanned`
  * (same stage order, the same persisted survivors, the same `aux`). Each
  * prefix is written to the `noop` sink; a layer's wall is its prefix's
  * minus that of the prefix before it (its self time). The chain has two
  * segments, as a real pass has: parse → c2_whitelist runs from the scan
  * and fills the survivors cache, and c3_ioc → c8_scoring runs over that
  * cache. `c9_route` is `Pipeline.route` over the C8 output read back from
  * parquet. `residual.wall_s` is the whole-pass wall minus the sum of the
  * layer walls: what the split does not explain (for one, the work of
  * route's cache write of the enriched rows that a prefix does not do), and
  * it is reported as measured.
  *
  * Task time, shuffle bytes written and spill of a layer are attributed
  * from listener task ends by the window of the layer's min-wall call, and
  * reduced to self figures the same way as the walls. `task_skew` is max
  * over median task time of the last Spark stage that ran in that window.
  *
  * Stream layers come from one traced `runFull` over the workload's turns
  * as time-ordered files (its first micro-batch is the first streaming work
  * in the JVM; the per-batch figures are medians), and state figures from
  * its final state dir. The run ends with one pass at local[1] in a fresh
  * SparkContext, against the local[4] pass. */
object Trace {
  val Reps = 2
  val Segments: Seq[Seq[String]] = Seq(
    Seq("parse", "c1_dedup", "c2_whitelist"),
    Seq("c3_ioc", "c4_sig", "c5_ref", "c6_first_seen", "c7_frequency", "c8_scoring"))
  val Route = "c9_route"
  val StreamDurations: Seq[(String, String)] = Seq(
    "add_batch_s" -> "addBatch", "query_planning_s" -> "queryPlanning",
    "wal_commit_s" -> "walCommit", "commit_offsets_s" -> "commitOffsets",
    "latest_offset_s" -> "latestOffset", "get_batch_s" -> "getBatch")
  val StateTables: Seq[String] = Seq("seen_values", "fp_seen", "freq_counts", "fired")

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  final class Spans {
    val all = ArrayBuffer.empty[(Span, Double)]
    /** Run `body` as span `name`; returns its wall in seconds. */
    def apply(name: String)(body: => Unit): Double = {
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      body
      val wall = seconds(t0)
      all += (Span(name, startMs, System.currentTimeMillis()) -> wall)
      System.err.println(f"span $name $wall%.3f s")
      wall
    }
    /** Span `name` over `write(df)` with a row count observed at the root;
      * returns the count. */
    def counted(name: String, df: DataFrame)(write: DataFrame => Unit): Double = {
      val obs = Observation(name)
      apply(name)(write(df.observe(obs, count(lit(1)).as("n"))))
      obs.get("n").asInstanceOf[Long].toDouble
    }
    def minOf(layer: String): (Span, Double) =
      all.filter(_._1.name.startsWith(layer + "#")).minBy(_._2)
  }

  /** The C1→C8 chain of `Pipeline.enrichPlanned` (empty state), one frame
    * per layer, with its survivors persist. */
  def chain(turns: DataFrame, t: RuleTables): (Seq[DataFrame], DataFrame) = {
    val parsed = Parse(turns, Conf)
    val deduped = Dedup(parsed, Conf, None)
    val survivors = Whitelist(deduped, t.whitelist).persist(StorageLevel.MEMORY_AND_DISK)
    val c3 = IocEnrich(survivors, t.ioc, Conf)
    val c4 = SigRules(c3, t.sigRules)
    val c5 = RefCheck(c4, t.ref, Conf)
    val c6 = FirstSeen(c5, Conf, None, aux = Some(survivors))
    val c7 = Frequency(c6, Conf, None, None, aux = Some(survivors))
    (Seq(parsed, deduped, survivors, c3, c4, c5, c6, c7, Scoring(c7, Conf)), survivors)
  }

  def dirBytes(p: String): Long = {
    val f = new File(p)
    if (!f.exists) 0L
    else Files.walk(f.toPath).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size(_)).sum
  }

  def run(a: Main.Args, w: Workload, corpus: Corpus, tally: Tally): Metrics = {
    val runDir = s"${a.work}/run"
    val out = ArrayBuffer.empty[(String, (Double, String))]
    def put(k: String, v: Double, unit: String): Unit = out += (k -> (v, unit))

    var spark = Main.session(Main.Cores, a.work)
    val probes = new Probes(spark, tracing = true)
    val spans = new Spans
    var tables: RuleTables = null
    (1 to Reps).foreach(i => spans(s"rules#$i") {
      tables = Source.readRuleTables(spark, Conf, corpus.rulesDir)
    })

    // whole passes, before the chain's own survivors cache exists; the
    // first is cold, so the min is a warm pass
    val gcByPass = scala.collection.mutable.Map.empty[String, Long]
    val passCounts = (1 to Reps).map { i =>
      var counts = Map.empty[String, Long]
      val gc0 = Jvm.gcMs()
      spans(s"pass#$i") {
        counts = tally.op(Main.batchPass(spark, tables, corpus.batchDir, s"$runDir/out"))._2
      }
      gcByPass(s"pass#$i") = Jvm.gcMs() - gc0
      counts
    }
    tally.check(s"per-sink counts identical on every pass: ${passCounts.distinct}",
      passCounts.distinct.size == 1)

    val turns = Source.readTable(spark, Conf, corpus.batchDir)
    (1 to Reps).foreach(i => spans(s"scan#$i")(noop(turns)))
    val (frames, survivors) = chain(turns, tables)
    val names = Segments.flatten
    val rowsOut = scala.collection.mutable.Map.empty[String, Double]
    names.zip(frames).foreach { case (name, df) =>
      (1 to Reps).foreach { i =>
        if (df eq survivors) {
          survivors.unpersist(blocking = true)
          survivors.persist(StorageLevel.MEMORY_AND_DISK)
        }
        rowsOut(name) = spans.counted(s"$name#$i", df)(noop)
      }
    }
    // c9 reads the c8 output back from parquet, so each route call starts
    // from the same materialised input (route unpersists what it persists)
    val c8Dir = s"$runDir/c8"
    frames.last.write.mode("overwrite").parquet(c8Dir)
    var routeCounts = Map.empty[String, Long]
    (1 to Reps).foreach { i =>
      spans(s"$Route#$i") {
        routeCounts = Pipeline.route(spark, spark.read.parquet(c8Dir), Conf, s"$runDir/out")
      }
    }
    survivors.unpersist(blocking = true)
    // drift guard: the mirrored chain must give enrichPlanned's answer
    tally.check(s"prefix chain matches Pipeline.enrichPlanned: $routeCounts vs ${passCounts.head}",
      routeCounts == passCounts.head && rowsOut(names.last) == passCounts.head("total"))
    probes.drain()

    val tasks = probes.tasks.asScala.toSeq
    val byName = Stats.attribute(spans.all.map(_._1).toSeq, tasks.map(t => t.launchMs -> t))
    def layerTasks(layer: String): Seq[TaskRec] = byName(spans.minOf(layer)._1.name)
    def lastStageSkew(ts: Seq[TaskRec]): Double =
      if (ts.isEmpty) 1.0
      else Stats.skew(ts.filter(_.stageId == ts.map(_.stageId).max).map(_.runMs.toDouble))

    val layerWalls = ArrayBuffer.empty[Double]
    Segments.foreach { seg =>
      val tks = seg.map(layerTasks)
      val self = (f: TaskRec => Double) => Stats.selfTimes(tks.map(_.map(f).sum))
      val walls = Stats.selfTimes(seg.map(spans.minOf(_)._2))
      val taskS = self(_.runMs / 1000.0)
      val shuffle = self(_.shuffleWriteBytes.toDouble)
      val spill = self(_.spillBytes.toDouble)
      seg.indices.foreach { i =>
        val l = seg(i)
        put(s"$l.wall_s", walls(i), "s")
        put(s"$l.task_s", taskS(i), "s")
        put(s"$l.shuffle_bytes", shuffle(i), "bytes")
        put(s"$l.spill_bytes", spill(i), "bytes")
        put(s"$l.task_skew", lastStageSkew(tks(i)), "ratio")
        put(s"$l.rows_out", rowsOut(l), "count")
      }
      layerWalls ++= walls
    }
    val (routeSpan, routeWall) = spans.minOf(Route)
    val routeTasks = byName(routeSpan.name)
    put(s"$Route.wall_s", routeWall, "s")
    put(s"$Route.task_s", routeTasks.map(_.runMs).sum / 1000.0, "s")
    put(s"$Route.shuffle_bytes", routeTasks.map(_.shuffleWriteBytes).sum.toDouble, "bytes")
    put(s"$Route.spill_bytes", routeTasks.map(_.spillBytes).sum.toDouble, "bytes")
    put(s"$Route.task_skew", lastStageSkew(routeTasks), "ratio")
    put(s"$Route.rows_out", routeCounts.filter(_._1 != "total").values.sum.toDouble, "count")
    layerWalls += routeWall

    val (passSpan, passWall) = spans.minOf("pass")
    val residual = Stats.residual(passWall, layerWalls.toSeq)
    println(f"traced pass $passWall%.3f s = layers ${layerWalls.sum}%.3f s + residual $residual%.3f s")
    put("residual.wall_s", residual, "s")
    put("batch.pass_wall_s", passWall, "s")
    put("sources.scan_s", spans.minOf("scan")._2, "s")
    put("sources.rules_load_s", spans.minOf("rules")._2, "s")
    val inPass = (t: Long) => t >= passSpan.startMs && t <= passSpan.endMs
    val ph = probes.phases.asScala.toSeq.filter(p => inPass(p.startMs))
    put("plan.analysis_s", ph.map(_.analysisMs).sum / 1000.0, "s")
    put("plan.optimization_s", ph.map(_.optimizationMs).sum / 1000.0, "s")
    put("plan.planning_s", ph.map(_.planningMs).sum / 1000.0, "s")
    put("spark.jobs", probes.jobStarts.asScala.count(inPass).toDouble, "count")
    put("jvm.gc_s", gcByPass(passSpan.name) / 1000.0, "s")

    streamLayers(spark, probes, tables, corpus, runDir, tally).foreach(out += _)

    // single-threaded baseline of the same pass
    val tps4 = corpus.nTurns / passWall
    spark.stop()
    spark = Main.session(1, a.work)
    val tables1 = Source.readRuleTables(spark, Conf, corpus.rulesDir)
    val (wall1, counts1) = tally.op(Main.batchPass(spark, tables1, corpus.batchDir, s"$runDir/out"))
    tally.check("local[1] per-sink counts == local[4]", counts1 == passCounts.head)
    spark.stop()
    put("batch.local1_turns_per_s", corpus.nTurns / wall1, "1/s")
    put("batch.speedup_1_to_4", tps4 / (corpus.nTurns / wall1), "ratio")
    out.toMap
  }

  def streamLayers(spark: SparkSession, probes: Probes, tables: RuleTables,
      corpus: Corpus, runDir: String, tally: Tally): Seq[(String, (Double, String))] = {
    probes.drain()
    probes.clear()
    val r = Main.streamPass(spark, tables, corpus.streamDir, s"$runDir/stream")
    probes.drain()
    val batches = probes.batches.asScala.toSeq.filter(_.inputRows > 0).sortBy(_.startMs)
    tally.attempted += r.ran.size
    tally.check(s"traced stream ran ${r.ran.size} of ${corpus.nFiles} micro-batches",
      r.ran.size == corpus.nFiles && batches.size == corpus.nFiles)
    tally.check("stream alerts == batch enrich routed rows", {
      val want = Main.batchAlertKeys(spark, tables, corpus.streamDir)
      want.nonEmpty && Main.streamAlertKeys(spark, r) == want
    })
    val batchSpans = batches.zipWithIndex.map { case (b, i) =>
      Span(s"batch$i", b.startMs, b.startMs + b.durations.getOrElse("triggerExecution", 0L))
    }
    val jobs = Stats.attribute(batchSpans, probes.jobStarts.asScala.toSeq.map(t => t -> t))
    def med(key: String) = Stats.median(batches.map(_.durations.getOrElse(key, 0L).toDouble)) / 1000
    val stateRows = Incremental.stateReport(spark, r.stateDir).collect()
      .map(row => row.getString(1) -> row.getLong(2).toDouble).toMap
    val lastRun = Incremental.completedRuns(r.stateDir).last
    val loadS = (1 to Reps).map { _ =>
      val t0 = System.nanoTime()
      val st = Incremental.loadFullState(spark, r.stateDir)
      Seq(st.seenValues, st.fpSeen, st.freqCounts, st.firedBuckets).flatten.foreach(_.count())
      seconds(t0)
    }.min
    StreamDurations.map { case (name, key) => s"streaming.$name" -> (med(key), "s") } ++
      Seq(
        "streaming.pass_wall_s" -> (r.wall, "s"),
        "incremental.jobs_per_batch" ->
          (Stats.median(batchSpans.map(s => jobs(s.name).size.toDouble)), "count"),
        "incremental.state_bytes" ->
          (StateTables.map(t => dirBytes(s"${r.stateDir}/run-$lastRun/$t")).sum.toDouble, "bytes"),
        "incremental.sink_bytes" -> (dirBytes(s"${r.outDir}/alerts_all").toDouble, "bytes"),
        "incremental.load_state_s" -> (loadS, "s")) ++
      StateTables.map(t => s"incremental.state_rows.$t" -> (stateRows.getOrElse(t, 0.0), "count"))
  }
}
