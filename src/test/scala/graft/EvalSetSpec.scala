package graft

import org.apache.spark.sql.functions._

import graft.operators.CurationState

/** VERDICT r4 #3: the contamination screen's eval set as a LOADED table
  * (spark.graft.eval.path → RuleLoader.evalTexts) instead of the pseudo-set
  * fixture. Loading a table containing exactly the pseudo-members' texts must
  * reproduce the pseudo screen on non-member docs — the seam changes where
  * the eval set comes from, not what the screen computes. */
class EvalSetSpec extends SparkSuite {

  private val d = "/root/testdata/sf0.001"

  private def docsDf = spark.read.parquet(s"$d/documents.parquet")

  private def writeMembersJson(): String = {
    val texts = docsDf.filter(col("doc_id") % 23 === 0)
      .select("text").collect().map(_.getString(0))
    assert(texts.nonEmpty)
    val f = java.nio.file.Files.createTempFile("graft-eval", ".json")
    java.nio.file.Files.writeString(f,
      texts.map(t => s"""{"text": ${graft.util.Json.quote(t)}}""")
        .mkString("[", ",\n", "]"))
    f.toString
  }

  test("loaded eval table == pseudo-set screen on non-member docs; members fully flagged") {
    val dflt = SparkEntry.queries("dd_contamination")(spark, d)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(dflt.nonEmpty, "pseudo screen must fire on the fixture")

    spark.conf.set("spark.graft.eval.path", writeMembersJson())
    try {
      val ext = SparkEntry.queries("dd_contamination")(spark, d)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(ext.view.filterKeys(_ % 23 != 0).toMap == dflt)
      // a member doc shares ALL its distinct 8-grams with the eval table
      val memberGrams = docsDf.filter(col("doc_id") % 23 === 0)
        .filter(size(split(col("text"), " ")) >= 8)
        .select(col("doc_id"),
          size(graft.functions.TextUnits.gram8).as("ng"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(memberGrams.nonEmpty)
      memberGrams.foreach { case (id, ng) => assert(ext(id) == ng) }

      // ta_curation under the loaded table: the pseudo screen's id gate is
      // gone, but ≥8-word members are 100% contaminated, so the only rows
      // that may appear beyond the pseudo output are short (<8-word) members.
      // On sf0.001 no member has fewer than 8 words (every doc has 10–100),
      // so shortMembers is empty and this subset check only passes when
      // extra is empty; ShortDocSpec runs the short-doc floors themselves.
      val extCur = SparkEntry.queries("ta_curation")(spark, d)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      spark.conf.unset("spark.graft.eval.path")
      val dfltCur = SparkEntry.queries("ta_curation")(spark, d)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(dfltCur.subsetOf(extCur))
      val extra = extCur -- dfltCur
      val shortMembers = docsDf
        .filter(col("doc_id") % 23 === 0 && size(split(col("text"), " ")) < 8)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(extra.subsetOf(shortMembers), s"unexpected extra rows: $extra")
    } finally spark.conf.unset("spark.graft.eval.path")
  }

  test("curation-state runner folds the loaded eval table into eval_grams") {
    spark.conf.set("spark.graft.eval.path", writeMembersJson())
    try {
      val sd = java.nio.file.Files.createTempDirectory("graft-eval-state").toString
      CurationState.run(spark, docsDf.select("doc_id", "text"), sd, "1")
      val got = CurationState.load(spark, sd).evalGrams.get
        .collect().map(_.getString(0)).toSet
      val want = docsDf.filter(col("doc_id") % 23 === 0)
        .filter(size(split(col("text"), " ")) >= 8)
        .select(explode(graft.functions.TextUnits.gram8).as("h"))
        .distinct().collect().map(_.getString(0)).toSet
      assert(got == want)
    } finally spark.conf.unset("spark.graft.eval.path")
  }

  test("evalTexts reads a parquet eval set too") {
    val p = java.nio.file.Files.createTempDirectory("graft-eval-pq").toString + "/ev"
    docsDf.filter(col("doc_id") % 23 === 0).select("text")
      .write.parquet(p)
    val n = graft.sources.RuleLoader.evalTexts(spark, p).count()
    assert(n == docsDf.filter(col("doc_id") % 23 === 0).count())
  }
}
