package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.storage.StorageLevel

import graft.entry.{LogQueries, TestdataAdapter, TestdataTables}
import graft.operators.{Dedup, Parse, Whitelist}

/** The harness shares the C1→C8 chain through `QueryCache` alone:
  * consecutive chain queries read one materialization, the next query that
  * cycles releases it, and a pipeline pass after that plans from the scan,
  * as Bench's timed e2e passes follow its query suite. */
class HarnessCacheSpec extends SparkSuite {
  private val d = "/root/testdata/sf0.001"
  private val conf = LogQueries.tconf

  private def query(name: String): DataFrame = {
    val df = SparkEntry.queries(name)(spark, d)
    df.count()
    df
  }
  /** The cached relations `df`'s optimized plan reads. */
  private def cacheReads(df: DataFrame): Seq[InMemoryRelation] =
    df.queryExecution.optimizedPlan.collect { case r: InMemoryRelation => r }
  private def cached(df: DataFrame): Boolean = df.storageLevel != StorageLevel.NONE
  // the chain's two frames, planned afresh
  private def survivors: DataFrame = Whitelist(
    Dedup(Parse(TestdataAdapter.turns(spark, d), conf), conf), TestdataTables.whitelist)
  private def scored: DataFrame = Pipeline.scoreSurvivors(
    survivors, TestdataTables.rules(spark), conf, Pipeline.State.empty)._1

  test("c8_scoring, c8b_scoring_conf, then c9_route_counts read one materialization") {
    val c8 = query("c8_scoring")
    val reads = cacheReads(c8).map(_.cacheBuilder)
    assert(reads.size === 1, s"c8_scoring reads ${reads.size} caches")
    query("c8b_scoring_conf")
    val rdds = spark.sparkContext.getPersistentRDDs.keySet
    val c9 = query("c9_route_counts")
    assert(spark.sparkContext.getPersistentRDDs.keySet === rdds,
      "c9_route_counts materialized a new cache")
    assert(cacheReads(c9).map(_.cacheBuilder) === reads,
      "c9_route_counts does not read c8_scoring's scored frame")
  }

  test("the next query that cycles releases the chain") {
    query("c8_scoring")
    assert(cached(survivors) && cached(scored), "c8_scoring cached no chain")
    query("agg_rollup_signature")
    assert(!cached(survivors), "the chain's survivors are still cached")
    assert(!cached(scored), "the chain's scored frame is still cached")
  }

  test("an enrichPlanned+route pass after the chain queries plans from the scan") {
    query("c8_scoring")
    query("agg_rollup_signature")
    val out = java.nio.file.Files.createTempDirectory("graft-harness-cache").toString
    val (enriched, cleanup) = Pipeline.enrichPlanned(
      TestdataAdapter.turns(spark, d), TestdataTables.rules(spark), conf)
    try {
      assert(!enriched.queryExecution.optimizedPlan.isInstanceOf[InMemoryRelation],
        "the pass reads a harness cache")
      assert(cacheReads(enriched).forall(!_.cacheBuilder.isCachedColumnBuffersLoaded),
        "the pass reads a cache materialized before it")
      assert(Pipeline.route(spark, enriched, conf, out)("total") > 0)
    } finally cleanup()
  }

  test("an enrichPlanned+route pass right after a chain query leaves the chain's cache") {
    query("c8_scoring")
    assert(cached(survivors), "c8_scoring cached no chain")
    val out = java.nio.file.Files.createTempDirectory("graft-harness-cache").toString
    val (enriched, cleanup) = Pipeline.enrichPlanned(
      TestdataAdapter.turns(spark, d), TestdataTables.rules(spark), conf)
    try assert(Pipeline.route(spark, enriched, conf, out)("total") > 0)
    finally cleanup()
    assert(cached(survivors), "the pass released the chain's survivors")
    query("agg_rollup_signature")
  }
}
