package graft.tools

import org.apache.spark.sql.functions._

import graft.Incremental
import graft.model.PipelineConf
import graft.sources.Source
import graft.util.LocalSpark

/** spark-submit resumable entry:
  * `RunIncremental <fixtureDir> <stateDir> <outDir> [tsFrom tsTo]`
  *
  * Processes the transcripts in [tsFrom, tsTo) (epoch seconds; omit for all),
  * carrying state across invocations — run it per partition-range on a
  * cluster; each run appends alerts and lands an atomic manifest with
  * per-partition lineage + metrics. */
object RunIncremental {
  def main(args: Array[String]): Unit = {
    val inDir = args(0); val stateDir = args(1); val outDir = args(2)
    val range = if (args.length >= 5) Some((args(3).toLong, args(4).toLong)) else None
    val spark = LocalSpark.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)

    val conf = PipelineConf()
    val all = Source.readTable(spark, conf, s"$inDir/transcripts")
    val turns = range match {
      case Some((a, b)) => all.filter(
        unix_timestamp(col("ts").cast("timestamp")) >= a &&
          unix_timestamp(col("ts").cast("timestamp")) < b)
      case None => all
    }
    val tables = Source.readRuleTables(spark, conf, inDir)

    val runId = f"${Incremental.completedRuns(stateDir).size + 1}%04d"
    val r = Incremental.run(spark, turns, tables, conf, stateDir, outDir, runId)
    println(s"run=$runId files=${r.metrics("n_input_files")} " +
      s"(sample=${r.inputFiles.size})")
    r.metrics.toSeq.sortBy(_._1).foreach { case (k, v) => println(s"metric[$k] = $v") }
    spark.stop()
  }
}
