package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession per JVM (suites share it via lazy global). */
object SparkSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** One parquet file per part in a new dir, with ascending mtimes: a file
    * stream with `maxFilesPerTrigger` 1 ([[fileStream]]) reads them as one
    * micro-batch each, in this order (FileStreamSource orders new files by
    * mtime). Returns the dir. */
  def timeOrderedFiles(parts: Seq[DataFrame]): String = {
    val base = Files.createTempDirectory("graft-stream-parts").toString
    parts.zipWithIndex.foreach { case (p, i) =>
      val tmp = Files.createTempDirectory("graft-stream-part").toString
      p.coalesce(1).write.mode("overwrite").parquet(tmp)
      val src = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = Paths.get(base, f"part-$i%03d.parquet")
      Files.move(src.toPath, dst)
      Files.setLastModifiedTime(dst, FileTime.fromMillis(1700000000000L + i * 60000L))
    }
    base
  }

  /** A stream over a [[timeOrderedFiles]] dir, one file per micro-batch. */
  def fileStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
}

abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.spark

  /** A stream that replays `parts` one micro-batch each, in list order. */
  def tapeStream(parts: Seq[DataFrame]): DataFrame =
    SparkSuite.fileStream(spark, SparkSuite.timeOrderedFiles(parts))

  /** Run a streaming query to the end of its input (AvailableNow, append)
    * into the memory table `name`, and return that table. */
  def drain(out: Dataset[_], name: String): DataFrame = {
    val q = out.toDF().writeStream.outputMode("append").format("memory")
      .queryName(name).trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    spark.table(name)
  }
}
