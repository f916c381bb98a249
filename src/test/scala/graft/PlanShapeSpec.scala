package graft

import graft.fixtures.Gen
import graft.model._

/** Plan-shape regression guard (round-1 perf work bought a specific physical
  * shape — this pins it so later rounds can't silently regress it). Counts
  * are taken over the UNPERSISTED plan (deterministic single tree; the
  * production persist collapses the aux-branch duplication at runtime, but
  * the node mix below is invariant to that):
  *  - a pinned number of hash-shuffle Exchanges (SURVEY §3.2 shuffle budget,
  *    times the fixed aux-branch print factor);
  *  - zero CartesianProduct anywhere;
  *  - every Window node is one of the two sanctioned forms — the C1 dedup
  *    row_number over (fp, bucket) or a C7 window (trailing sum, earlier raw
  *    second) over PRE-AGGREGATED per-second counts (partitioned by _k) — never a raw-row
  *    window keyed by the hot frequency key alone;
  *  - rule/IOC/ref lookups stay broadcast hash joins.
  */
class PlanShapeSpec extends SparkSuite {
  import spark.implicits._

  test("enrich plan: pinned shuffle budget, no cartesian, sanctioned windows only") {
    val fx = Gen.fixture(60)
    val tb = RuleTables(fx.ioc.toDF(), fx.rules, fx.ref.toDF(), fx.whitelist)
    val enriched = Pipeline.enrich(spark.createDataset(fx.turns).toDF(), tb, Gen.defaultConf)
    val plan = enriched.queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode)

    def n(token: String): Int = token.r.findAllIn(plan).size

    // pinned EXACTLY — if a change moves these, it must be a conscious
    // decision that updates this test (and the SURVEY §3.2 budget note).
    // Hash shuffles: C1's dedup window, printed twice (main chain + the
    // C6/C7 aux read), and C6/C7's three — the (check, value, second)
    // aggregation, the per-second window and the per-row flags. The IOC/ref
    // dims are local rows (no aggregation), so 7 broadcasts: 4 IOC
    // kinds, 2 ref fields, 1 C6/C7 flags join-back.
    assert(n("Exchange hashpartitioning") === 5,
      s"shuffle Exchange count drifted: ${n("Exchange hashpartitioning")}\n$plan")
    assert(n("BroadcastExchange") === 7,
      s"broadcast count drifted: ${n("BroadcastExchange")}")
    assert(n("BroadcastHashJoin") === 7, "dim lookups must stay broadcast joins")
    assert(n("SortMergeJoin") <= 1, "at most the one stateful join-back as SMJ")
    assert(n("CartesianProduct") === 0, "cartesian product crept in")

    // every Window node must be a sanctioned form
    val windowLines = plan.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windowLines.nonEmpty)
    windowLines.foreach { l =>
      val dedupForm = l.contains("row_number()") && l.contains("fp#") &&
        l.contains("fp_bucket#")
      val freqForm = l.contains("windowspecdefinition(_k#")
      assert(dedupForm || freqForm, s"unsanctioned window: ${l.trim}")
    }
  }

  test("enrichPlanned: enrich's rows, one InMemoryRelation read, no cache after cleanup") {
    val fx = Gen.fixture(60)
    val tb = RuleTables(fx.ioc.toDF(), fx.rules, fx.ref.toDF(), fx.whitelist)
    val conf = Gen.defaultConf
    val turns = spark.createDataset(fx.turns).toDF()
    // the one persist point: the post-whitelist survivors
    val survivors = operators.Whitelist(
      operators.Dedup(operators.Parse(turns, conf), conf), tb.whitelist)
    def survivorsCached = survivors.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    def sorted(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq.map(_.toString).sorted

    val (planned, cleanup) = Pipeline.enrichPlanned(turns, tb, conf)
    try {
      assert(survivorsCached, "enrichPlanned must persist the post-whitelist survivors")
      assert(sorted(planned) === sorted(Pipeline.enrich(turns, tb, conf)))
      val aqe = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      val reads = aqe.collectWithSubqueries(planned.queryExecution.executedPlan) {
        case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => s.relation
      }
      assert(reads.nonEmpty, "the executed plan does not read the persisted survivors")
      assert(reads.map(_.cacheBuilder).distinct.size === 1,
        s"expected one InMemoryRelation, got ${reads.map(_.cacheBuilder).distinct.size}")
    } finally cleanup()
    assert(!survivorsCached, "cleanup() left the survivors cached")
  }

  test("enrichPlanned: no Aggregate or Exchange over the ioc/ref rule-table scans") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val dir = java.nio.file.Files.createTempDirectory("graft-rules").toString
    Gen.writeRuleTables(spark, dir)
    val conf = Gen.defaultConf
    // parquet-backed rule tables, as a deployment reads them
    val tb = graft.sources.Source.readRuleTables(spark, conf, dir)
    val (planned, cleanup) = Pipeline.enrichPlanned(
      spark.createDataset(Gen.fixture(60).turns).toDF(), tb, conf)
    try {
      planned.collect()
      val aqe = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      def readsRules(p: SparkPlan): Boolean = aqe.collect(p) {
        case s: FileSourceScanExec
            if s.relation.location.rootPaths.exists(_.toString.contains(dir)) => s
      }.nonEmpty
      val plan = planned.queryExecution.executedPlan
      val overRules = aqe.collectWithSubqueries(plan) {
        case a: BaseAggregateExec if readsRules(a) => a.nodeName
        case e: ShuffleExchangeLike if readsRules(e) => e.nodeName
      }
      assert(overRules.isEmpty,
        s"the pass re-derives rule dims (${overRules.mkString(", ")}):\n$plan")
    } finally cleanup()
  }

  test("r4 query plans: IVF probe side broadcasts, no cartesian product in the new operators") {
    assume(new java.io.File("/root/testdata/sf0.001").isDirectory,
      "driver testdata not mounted")
    val d = "/root/testdata/sf0.001"
    // EXECUTED plan (post-AQE): the pre-execution plan hides runtime join
    // conversions, and a regression here is exactly a runtime join choice
    def executed(name: String): String = {
      val df = SparkEntry.queries(name)(spark, d)
      df.foreach(_ => ())
      df.queryExecution.executedPlan.toString
    }
    val ivf = executed("ann_ivf_trained")
    assert(!ivf.contains("SortMergeJoin"),
      "IVF probes (nprobe x n_queries rows) must broadcast, not sort-merge")
    assert(!ivf.contains("CartesianProduct"),
      "only BroadcastNestedLoopJoin against the 16-row codebook is sanctioned")
    Seq("ann_lsh_rp", "dd_line_dedup", "p20b_elapsed_multi", "ta_repetition")
      .foreach { q =>
        assert(!executed(q).contains("CartesianProduct"),
          s"$q grew a cartesian product")
      }
  }

  test("r5 query plans: mix spec broadcasts, no cartesian in the new operators") {
    assume(new java.io.File("/root/testdata/sf0.001").isDirectory,
      "driver testdata not mounted")
    val d = "/root/testdata/sf0.001"
    def executed(name: String): String = {
      val df = SparkEntry.queries(name)(spark, d)
      df.foreach(_ => ())
      df.queryExecution.executedPlan.toString
    }
    val mix = executed("ta_sample_mix")
    assert(mix.contains("BroadcastHashJoin"),
      "the 10-row mixture spec must broadcast against the corpus")
    assert(!mix.contains("SortMergeJoin"), "mix spec join regressed to SMJ")
    // dd_incremental/ann_ivf_index run multi-job protocols inside the query
    // fn; the RETURNED plan (screen / pruned search) is what is pinned here
    Seq("ta_sample_mix", "ta_model_score", "dd_incremental", "ann_ivf_index")
      .foreach { q =>
        assert(!executed(q).contains("CartesianProduct"),
          s"$q grew a cartesian product")
      }
  }

  test("ta_vocab plan: top-k via TakeOrderedAndProject, no global vocabulary sort") {
    assume(new java.io.File("/root/testdata/sf0.001").isDirectory,
      "driver testdata not mounted")
    val df = SparkEntry.queries("ta_vocab")(spark, "/root/testdata/sf0.001")
    df.foreach(_ => ())
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-100 must be TakeOrderedAndProject, not a global sort+limit\n$plan")
    // the only Sort allowed is inside the 100-row post-limit rank window; a
    // Sort that feeds an Exchange would be the full-vocabulary sort —
    // asserted (ADVICE r5): no SortExec anywhere BELOW a shuffle Exchange
    // in the physical plan (checked pre-AQE, where the tree is plain)
    val phys = df.queryExecution.sparkPlan
    val sortsFeedingExchange = phys.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike =>
        e.collect { case s: org.apache.spark.sql.execution.SortExec => s }
    }.flatten
    assert(sortsFeedingExchange.isEmpty,
      s"a Sort feeds an Exchange — that is a global vocabulary sort:\n$phys")
    assert(!plan.contains("CartesianProduct"))
    Seq("ta_pack_sequences", "ta_pii_scrub", "ann_ivf_append").foreach { q =>
      val p = SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
      p.foreach(_ => ())
      assert(!p.queryExecution.executedPlan.toString.contains("CartesianProduct"),
        s"$q grew a cartesian product")
    }
  }
}
