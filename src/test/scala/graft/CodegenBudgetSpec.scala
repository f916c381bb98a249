package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics

import graft.fixtures.Gen

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
  * that thrashes every segment again. */
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

  private val MaxWarmCompiles = 100L
}
