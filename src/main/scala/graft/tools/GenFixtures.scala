package graft.tools

import org.apache.spark.sql.SaveMode

import graft.fixtures.Gen
import graft.util.LocalSpark

/** Write the deterministic fixture tables to parquet:
  * `GenFixtures <outDir> [nConvs] [hotKey]`. Transcripts are written
  * partitioned by utc day (the 10^12-scale layout of SURVEY §7.4). */
object GenFixtures {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val nConvs = if (args.length > 1) args(1).toInt else 2000
    val hotKey = args.length > 2 && args(2).toBoolean
    val spark = LocalSpark.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    import spark.implicits._
    val turns = Gen.transcripts(nConvs, hotKey = hotKey)
    turns.toDF()
      .withColumn("day", org.apache.spark.sql.functions.to_date($"ts"))
      .repartition($"day")
      .write.mode(SaveMode.Overwrite).partitionBy("day")
      .parquet(s"$outDir/transcripts")
    Gen.writeRuleTables(spark, outDir)
    println(s"wrote ${turns.size} turns / $nConvs convs to $outDir")
    spark.stop()
  }
}
