package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.Pipeline
import graft.entry.{TestdataAdapter, TestdataTables}
import graft.entry.LogQueries
import graft.util.LocalSpark

/** Physical-plan audit: dump `explain("formatted")` for the headline plans to
  * docs/plans/ and print a one-line summary (joins, shuffles, codegen spans)
  * so plan regressions are reviewable in git diffs. */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = LocalSpark.session(8)

    val outDir = Paths.get("docs/plans")
    Files.createDirectories(outDir)

    def dump(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      // execute first: pre-execution AQE plans (isFinalPlan=false) carry no
      // WholeStageCodegen annotation and hide runtime join conversions —
      // the dump must show the plan that actually ran
      df.foreach(_ => ())
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(outDir.resolve(s"$name.txt"), plan)
      val bhj = "BroadcastHashJoin".r.findAllIn(plan).size
      val bnl = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
      val smj = "SortMergeJoin".r.findAllIn(plan).size
      val ex = "Exchange".r.findAllIn(plan).size
      val wsc = "codegen id".r.findAllIn(plan).size
      val scan = "PushedFilters: \\[[^\\]]".r.findAllIn(plan).size
      println(f"$name%-28s BHJ=$bhj BNLJ=$bnl SMJ=$smj Exchange=$ex " +
        f"WSCG=$wsc pushedFilterScans=$scan")
    }

    val turns = TestdataAdapter.turns(spark, sfDir)
    val (enriched, _) =
      Pipeline.enrichPlanned(turns, TestdataTables.rules(spark), LogQueries.tconf)
    dump("enrich_full", enriched)
    dump("rollup_signature", Pipeline.rollupBySignature(enriched))
    SparkEntryPlans.extra(spark, sfDir).foreach { case (n, df) => dump(n, df) }
    spark.stop()
  }
}

object SparkEntryPlans {
  def extra(spark: SparkSession, sfDir: String): Seq[(String, org.apache.spark.sql.DataFrame)] = {
    val byName = graft.SparkEntry.registry.map(q => q.name -> q).toMap
    Seq("c3_ioc", "c6_first_seen", "c7_frequency", "dd_minhash_lsh",
      "dd_ngram_jaccard", "c9b_alert_docs", "ann_topk_bruteforce", "q3_join_multi",
      "p20_elapsed", "ann_lsh_multiprobe", "dd_simhash", "dd_cluster_cc",
      "agg_percentile",
      // r4 additions: multi-transaction elapsed (run-collapse windows),
      // trained IVF, multi-table hyperplane LSH, segment dedup, curation
      "p20b_elapsed_multi", "ann_ivf_trained", "ann_lsh_rp", "dd_line_dedup",
      "ta_curation")
      .flatMap(n => byName.get(n).map(q => n -> q.fn(spark, sfDir)))
  }
}
