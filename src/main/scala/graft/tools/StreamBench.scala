package graft.tools

import graft.model.PipelineConf
import graft.util.LocalSpark

/** r4 (VERDICT r3 #8): times the COMPOSED STREAMING path — one
  * readStream → foreachBatch → Incremental.run per micro-batch through
  * `StreamPipeline.runFull`, i.e. the same parse→enrich→route→aggregate
  * chain as ScalingBench PLUS per-batch state snapshots, manifests and
  * resumable checkpoints — over the same corpus, so BENCH.md can quote
  * batch vs streaming throughput honestly. `maxFilesPerTrigger` slices the
  * corpus into real micro-batches (the chunked corpus layout gives one
  * file per generator chunk).
  *
  * `StreamBench [benchDir] [cores] [maxFilesPerTrigger]` — prints one JSON
  * line. Run it with nothing else on the machine (BENCH.md rules). */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val benchDir = if (args.length > 0) args(0) else "/tmp/bench"
    val cores = if (args.length > 1) args(1).toInt else 32
    val mfpt = if (args.length > 2) args(2).toInt else 2

    val spark = LocalSpark.session(cores)

    val conf = PipelineConf()
    val tables = graft.sources.Source.readRuleTables(spark, conf, benchDir)
    val schema = spark.read.parquet(s"$benchDir/transcripts").schema
    val nTurns = spark.read.parquet(s"$benchDir/transcripts").count()

    def onePass(): (Int, Double) = {
      val work = java.nio.file.Files.createTempDirectory("graft-streambench").toString
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", mfpt)
        .parquet(s"$benchDir/transcripts")
      val t0 = System.nanoTime()
      val ran = graft.streaming.StreamPipeline.runFull(spark, stream, tables,
        conf, s"$work/state", s"$work/out", s"$work/ckpt")
      val wall = (System.nanoTime() - t0) / 1e9
      require(ran.nonEmpty, "no micro-batches ran")
      graft.util.Fs.deleteRecursively(new java.io.File(work))
      (ran.size, wall)
    }

    val (wb, wwall) = onePass() // warmup (codegen + shuffle service)
    System.err.println(s"warmup: $wb batches, $wwall s")
    val passes = (1 to 2).map { i =>
      val r = onePass(); System.err.println(s"pass$i: ${r._1} batches, ${r._2} s"); r
    }
    val (nb, wall) = passes.minBy(_._2)
    println(
      s"""{"metric":"stream_pipeline_throughput","rows":$nTurns,"cores":$cores,""" +
        s""""micro_batches":$nb,"max_files_per_trigger":$mfpt,""" +
        s""""wall_sec":$wall,"thr_rows_per_sec":${nTurns / wall}}""")
    spark.stop()
  }
}
