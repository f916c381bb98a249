package graft.tools

import graft.Pipeline
import graft.model.PipelineConf
import graft.sources.Source
import graft.util.LocalSpark

/** spark-submit entry point: run the full parse→enrich→route→aggregate
  * pipeline over a transcripts table produced by [[GenFixtures]] (or any
  * table of the BASELINE.json input shape).
  *
  * `RunPipeline <fixtureDir> <outDir>`
  *
  * Reads rule/lookup tables from the fixture dir, compiles whitelist + sig
  * rules into the plan, writes per-severity alert sinks + rollups, prints
  * per-sink counts from `observe` metrics.
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    val Array(inDir, outDir) = args.take(2)
    val spark = LocalSpark.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)

    // optional 3rd arg: a reference-style JSON config dir (rules.json /
    // ioc.json / whitelist.json / ref.json / mappings.json) instead of the
    // parquet tables — mappings.json drives the field-mapping conf surface
    val conf =
      if (args.length > 2) graft.sources.RuleLoader.confFromDir(spark, args(2))
      else PipelineConf()
    val turns = Source.readTable(spark, conf, s"$inDir/transcripts")
    val tables =
      if (args.length > 2) graft.sources.RuleLoader.fromDir(spark, args(2))
      else Source.readRuleTables(spark, conf, inDir)

    val (enriched, cleanup) = Pipeline.enrichPlanned(turns, tables, conf)
    try {
      val counts = Pipeline.route(spark, enriched, conf, outDir)
      counts.toSeq.sortBy(_._1).foreach { case (s, n) => println(s"sink[$s] = $n") }
    } finally cleanup()
    spark.stop()
  }
}
