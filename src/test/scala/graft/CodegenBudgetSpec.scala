package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics

import graft.fixtures.Gen
import graft.streaming.StreamPipeline

/** Generated-class budget of a batch pass. Spark keeps compiled classes in
  * a JVM-wide cache of 100 entries (`spark.sql.codegen.cache.maxEntries`,
  * four LRU segments of 25), keyed by source and class loader, so a
  * whole-stage class costs two entries (planning thread and tasks). A pass that
  * needs more entries than a segment holds evicts its own classes there and
  * recompiles them on every warm pass. Default confs, as a deployment runs.
  *
  * A pass used to need ~170 entries, so every compile missed (~168 per warm
  * pass). It now needs ~100, so the segments that fit keep their classes
  * (~50 compiles per warm pass; which segments fit varies per JVM, as the
  * class loaders' identity hashes place the keys). The budget fails a pass
  * that thrashes every segment again.
  *
  * The residency guards run [[CodegenResidencyApp]] in a fresh JVM whose
  * cache evicts nothing, so every compile there is a cache entry the work
  * needs: a cold fixture pass and a first `runFull` must not need more
  * entries than they did ([[MaxColdPassEntries]], [[MaxRunFullEntries]]),
  * and a second `runFull` on the same session must find its classes compiled
  * by the first. */
class CodegenBudgetSpec extends SparkSuite {
  import spark.implicits._

  test("a warm enrichPlanned+route pass keeps most of its generated classes cached") {
    val fx = Gen.fixture(200)
    val tb = RuleTables(fx.ioc.toDF(), fx.rules, fx.ref.toDF(), fx.whitelist)
    val turns = spark.createDataset(fx.turns).toDF()
    val out = Files.createTempDirectory("graft-codegen").toString
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def pass(): Long = {
      val c0 = compiles
      val (enriched, cleanup) = Pipeline.enrichPlanned(turns, tb, fx.conf)
      try Pipeline.route(spark, enriched, fx.conf, out) finally cleanup()
      compiles - c0
    }
    val perPass = Seq.fill(3)(pass())
    assert(perPass.last <= MaxWarmCompiles,
      s"generated-class compiles per pass ${perPass.mkString(", ")}: the third " +
        s"(warm) pass compiled ${perPass.last}, over the budget of $MaxWarmCompiles")
  }

  test("residency: a cold pass needs no more cache entries; a second runFull compiles ~nothing") {
    val (exit, out, err) = ChildJvm.run("graft.CodegenResidencyApp", Nil, heap = "2g",
      flags = Seq("-Dspark.sql.codegen.cache.maxEntries=10000"))
    assert(exit === 0, s"child JVM failed:\n${(out ++ err.takeRight(40)).mkString("\n")}")
    val counts = out.collectFirst {
      case l if l.startsWith("COMPILES ") => l.stripPrefix("COMPILES ").split(' ').map(_.toLong)
    }
    assert(counts.isDefined, s"no COMPILES line:\n${out.mkString("\n")}")
    val Array(coldPass, firstRunFull, secondRunFull) = counts.get
    info(s"compiles: cold pass $coldPass, runFull $firstRunFull then $secondRunFull")
    assert(coldPass <= MaxColdPassEntries,
      s"a cold enrichPlanned+route pass compiled $coldPass classes, " +
        s"$MaxColdPassEntries before: a new generated class")
    assert(firstRunFull <= MaxRunFullEntries,
      s"a first runFull compiled $firstRunFull classes, " +
        s"$MaxRunFullEntries before: a new generated class")
    assert(secondRunFull <= MaxRerunCompiles,
      s"runFull compiled $firstRunFull, then $secondRunFull classes on the same " +
        "session: its micro-batches do not reuse the session's classes")
  }

  private val MaxWarmCompiles = 100L
  /** Compiles of the cold fixture pass in [[CodegenResidencyApp]] when this
    * guard was added; a new generated class in the pass raises it. */
  private val MaxColdPassEntries = 119L
  /** Compiles of the first `runFull` there since its C6/C7 snapshots come
    * from NewAndFrequent's own aggregation (177 when they aggregated again). */
  private val MaxRunFullEntries = 169L
  private val MaxRerunCompiles = 5L
}

/** Counts generated-class compiles in a fresh application (run in a child
  * JVM by [[CodegenBudgetSpec]]): a cold fixture `enrichPlanned`+`route`
  * pass, then two `runFull`s of the same two-file stream on the same
  * session, each with fresh state. Prints `COMPILES <pass> <runFull> <runFull>`. */
object CodegenResidencyApp {
  def main(args: Array[String]): Unit = {
    val spark = graft.util.LocalSpark.session(4)
    import spark.implicits._
    try {
      val fx = Gen.fixture(200)
      val tb = RuleTables(fx.ioc.toDF(), fx.rules, fx.ref.toDF(), fx.whitelist)
      val turns = spark.createDataset(fx.turns).toDF()
      def tmp(p: String) = Files.createTempDirectory(p).toString
      def compiled(work: => Unit): Long = {
        val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        work
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
      }
      val pass = compiled {
        val (enriched, cleanup) = Pipeline.enrichPlanned(turns, tb, fx.conf)
        try Pipeline.route(spark, enriched, fx.conf, tmp("graft-residency")) finally cleanup()
      }
      val sorted = fx.turns.sortBy(t => (t.ts.getTime, t.conv_id, t.turn_idx))
      val files = SparkSuite.timeOrderedFiles(
        Seq(sorted.take(sorted.size / 2), sorted.drop(sorted.size / 2))
          .map(spark.createDataset(_).toDF()))
      val schema = spark.read.parquet(files).schema
      val runFulls = Seq.fill(2)(compiled {
        val stream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(files)
        StreamPipeline.runFull(spark, stream, tb, fx.conf, tmp("graft-residency-state"),
          tmp("graft-residency-out"), tmp("graft-residency-ckpt"))
      })
      println(s"COMPILES $pass ${runFulls.mkString(" ")}")
    } finally spark.stop()
  }
}
