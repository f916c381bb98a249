package graft.tools

import org.apache.spark.sql.{SaveMode, SparkSession}

import graft.Pipeline
import graft.fixtures.Gen
import graft.model.PipelineConf
import graft.util.LocalSpark

/** M6 scaling bench (BASELINE.json): run the identical end-to-end
  * parse→enrich→route→aggregate job on the same input at parallelism N and
  * 4N (the sandbox stand-in for N vs 4N executors), report throughput at both
  * and the scaling efficiency (thrₘ/thrₙ)/(m/n).
  *
  * `ScalingBench [benchDir] [nConvs] [n] [m] [passes]` — generates the
  * corpus once (chunked, deterministic), then runs an INTERLEAVED A/B
  * schedule (low,high,low,high,…) with a paired pure-CPU ceiling probe in
  * every session, and reports per-level BESTS plus both the raw and the
  * ceiling-NORMALIZED scaling efficiency (see the r5 comment below). Prints
  * one JSON line; paste results into BENCH.md.
  */
object ScalingBench {

  /** One full pipeline pass; returns (rows, routedRows, wallSec). */
  private def onePass(spark: SparkSession, benchDir: String): (Long, Long, Double) = {
    val conf = PipelineConf()
    val turns = graft.sources.Source.readTable(spark, conf, s"$benchDir/transcripts")
    val tables = graft.sources.Source.readRuleTables(spark, conf, benchDir)
    val t0 = System.nanoTime()
    val (enriched, cleanup) = Pipeline.enrichPlanned(turns, tables, conf)
    try {
      // the FULL pipeline is in the timed pass: Pipeline.route writes the
      // per-severity alert sinks + both rollups (the metric label
      // 'parse→enrich→route→aggregate throughput' must mean what it says)
      val outDir = java.nio.file.Files
        .createTempDirectory("graft-scaling-route").toString
      val counts = Pipeline.route(spark, enriched, conf, outDir)
      val wall = (System.nanoTime() - t0) / 1e9
      val routed = (counts - "total").values.sum
      require(routed > 0, "route produced no alerts")
      (counts("total"), routed, wall)
    } finally cleanup()
  }

  def main(args: Array[String]): Unit = {
    val benchDir = if (args.length > 0) args(0) else "target/fixtures/bench"
    val nConvs = if (args.length > 1) args(1).toInt else 500000
    val nLow = if (args.length > 2) args(2).toInt else 8
    val nHigh = if (args.length > 3) args(3).toInt else 32
    val nPasses = if (args.length > 4) args(4).toInt else 3
    val cores = Runtime.getRuntime.availableProcessors

    // ---- generate once (chunked, parallel: one generator task per chunk)
    if (!java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(s"$benchDir/transcripts"))) {
      val gen = LocalSpark.session(cores)
      import gen.implicits._
      val chunkConvs = 50000
      val chunks = math.max(1, nConvs / chunkConvs)
      gen.range(0, chunks).repartition(math.min(chunks, cores))
        .flatMap(c => Gen.transcriptsChunk(c.toInt, chunkConvs).iterator)
        .toDF()
        .write.mode(SaveMode.Overwrite).parquet(s"$benchDir/transcripts")
      System.err.println(s"$chunks chunks written")
      Gen.writeRuleTables(gen, benchDir)
      gen.stop()
    }

    // ---- interleaved A/B with paired CPU-ceiling probes (r5, VERDICT r4
    // #1): host noise on this box swings a single low/high pair by ±0.12,
    // and it drifts on a minutes timescale — so (a) the levels alternate
    // (low,high) × nPasses so noise lands on both sides of every ratio, (b)
    // every session ALSO times a pure-CPU job (no shuffle/memory traffic) at
    // its own level, giving a same-minute measurement of what the MACHINE
    // could scale that session, and (c) the contract ratio is reported both
    // raw (per-level bests) and normalized by the CPU ceiling's own
    // efficiency — a degraded host lowers both, the quotient stays
    // interpretable.
    val CpuOps = 8000000000L
    def cpuProbe(s: SparkSession, cpus: Int): Double = {
      val t0 = System.nanoTime()
      s.range(0, CpuOps, 1, cpus * 4).selectExpr("sum(id % 7)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    /** One session at `cpus`: pipeline warmup + timed pass, bracketed by a
      * CPU probe. Returns (rows, routed, pipeWall, cpuWall). */
    def oneSession(cpus: Int, warmCpu: Boolean): (Long, Long, Double, Double) = {
      val s = LocalSpark.session(cpus)
      try {
        if (warmCpu) cpuProbe(s, cpus) // first probe of the run warms JIT
        val cpuW = cpuProbe(s, cpus)
        val w = onePass(s, benchDir)
        val r = onePass(s, benchDir) // warm pass is the measurement
        System.err.println(
          f"level $cpus%2d: cpu=$cpuW%.2f s warmup=${w._3}%.2f s pass=${r._3}%.2f s")
        (r._1, r._2, r._3, cpuW)
      } finally s.stop()
    }

    val passes = (1 to nPasses).flatMap { p =>
      System.err.println(s"-- interleaved pass $p/$nPasses --")
      Seq(nLow -> oneSession(nLow, warmCpu = p == 1),
        nHigh -> oneSession(nHigh, warmCpu = false))
    }
    val rowCounts = passes.map { case (_, (n, r, _, _)) => (n, r) }.distinct
    require(rowCounts.size == 1, s"results differ across runs: $rowCounts")
    val (rows, routed) = rowCounts.head

    def bests(level: Int): (Double, Double) = {
      val ofLevel = passes.collect { case (l, v) if l == level => v }
      (ofLevel.map(_._3).min, ofLevel.map(_._4).min)
    }
    val (pipeLow, cpuLow) = bests(nLow)
    val (pipeHigh, cpuHigh) = bests(nHigh)
    val thrLow = rows / pipeLow
    val thrHigh = rows / pipeHigh
    val ratio = nHigh.toDouble / nLow
    val eff = (thrHigh / thrLow) / ratio
    // the machine's own demonstrated scaling this session (1.0 = perfect)
    val cpuEff = (cpuLow / cpuHigh) / ratio
    val normEff = eff / cpuEff
    val pairJson = passes.map { case (l, (_, _, pw, cw)) =>
      s"""{"level":$l,"pipe_wall_sec":$pw,"cpu_wall_sec":$cw}"""
    }.mkString("[", ",", "]")
    println(
      s"""{"metric":"pipeline_throughput","rows":$rows,"routed":$routed,"cores_available":$cores,""" +
        s""""n_low":$nLow,"n_high":$nHigh,"n_passes":$nPasses,""" +
        s""""wall_low_sec":$pipeLow,"wall_high_sec":$pipeHigh,""" +
        s""""thr_low_rows_per_sec":$thrLow,"thr_high_rows_per_sec":$thrHigh,""" +
        s""""scaling_efficiency":$eff,"cpu_ceiling_efficiency":$cpuEff,""" +
        s""""normalized_efficiency":$normEff,"passes":$pairJson}""")
  }
}
