package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.CurationState

/** VERDICT r4 #2: the curation-state runner's boundary identity. Because all
  * three state merges are associative + commutative (min / capped-sum /
  * set-union), ingesting a corpus in ANY ascending batch decomposition must
  * leave byte-identical state — and therefore identical screens — to one
  * single-batch run. Pinned here over the sf0.001 documents fixture for a
  * 2-way and a 3-way split, plus the dedup-keeper and crash-safety contracts.
  * (The composed path is ALSO a DuckDB differential: dd_incremental.) */
class IncrementalCurationSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  private def docsDf: DataFrame =
    spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-curation").toString

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("")).sorted.toSeq

  private def stateRows(stateDir: String): Map[String, Seq[String]] = {
    val st = CurationState.load(spark, stateDir)
    Map(
      "content_hashes" -> sortedRows(st.contentHashes.get),
      "seg_freq" -> sortedRows(st.segFreq.get),
      "eval_grams" -> sortedRows(st.evalGrams.get))
  }

  test("state(A then B) == state(A ∪ B) — and for a 3-way split") {
    val dd = docsDf
    val mx = dd.agg(max("doc_id")).first().getLong(0)

    val single = tmp()
    CurationState.run(spark, dd, single, "1")
    val want = stateRows(single)

    val two = tmp()
    CurationState.run(spark, dd.filter(col("doc_id") <= mx / 2), two, "1")
    CurationState.run(spark, dd.filter(col("doc_id") > mx / 2), two, "2")
    assert(stateRows(two) == want)

    val three = tmp()
    CurationState.run(spark, dd.filter(col("doc_id") <= mx / 3), three, "1")
    CurationState.run(spark,
      dd.filter(col("doc_id") > mx / 3 && col("doc_id") <= 2 * mx / 3), three, "2")
    CurationState.run(spark, dd.filter(col("doc_id") > 2 * mx / 3), three, "3")
    assert(stateRows(three) == want)

    // screens over equal state are equal plans over equal inputs; still pin
    // the materialized rows once (collect-compare, not a plan identity)
    assert(sortedRows(CurationState.screen(spark, dd, three)) ==
      sortedRows(CurationState.screen(spark, dd, single)))
  }

  test("cross-run dedup: kept(A) ∪ kept(B | state(A)) == exact-dedup keepers") {
    val dd = docsDf
    val mx = dd.agg(max("doc_id")).first().getLong(0)
    // second batch = id-shifted copy of the corpus: every row is a cross-run
    // duplicate and must be dropped against state(A)
    val shifted = dd.select((col("doc_id") + mx + 1).as("doc_id"), col("text"))

    val sd = tmp()
    val r1 = CurationState.run(spark, dd, sd, "1")
    val k1 = r1.kept.select("doc_id").collect().map(_.getLong(0)).toSet
    val r2 = CurationState.run(spark, shifted, sd, "2")
    val k2 = r2.kept.select("doc_id").collect().map(_.getLong(0)).toSet

    val want = dd.unionByName(shifted).groupBy(md5(col("text")).as("fp"))
      .agg(min("doc_id").as("k")).select("k").collect().map(_.getLong(0)).toSet
    assert((k1 ++ k2) == want)
    assert(k2.isEmpty, "an id-shifted duplicate batch must be fully dropped")
    assert(r2.metrics("n_dup") == r2.metrics("n_batch"))
    // the canonical-keeper state agrees with the kept union
    val chKeep = CurationState.load(spark, sd).contentHashes.get
      .select("keep_id").collect().map(_.getLong(0)).toSet
    assert(chKeep == want)
  }

  test("crash safety: a run without a manifest is invisible to load()") {
    val dd = docsDf
    val sd = tmp()
    CurationState.run(spark, dd.filter(col("doc_id") < 10), sd, "1")
    val before = stateRows(sd)
    // simulate a crash: write a bogus snapshot dir for run-2, no manifest
    val orphan = java.nio.file.Paths.get(sd, "run-2", "content_hashes")
    java.nio.file.Files.createDirectories(orphan)
    assert(stateRows(sd) == before)
    // and a real run-2 AFTER the crash replays into the same run id cleanly
    CurationState.run(spark, dd.filter(col("doc_id") >= 10), sd, "2")
    val single = tmp()
    CurationState.run(spark, dd, single, "1")
    assert(stateRows(sd) == stateRows(single))
  }

  test("Incremental.gc drops a curation run's state tables, keeps its manifest") {
    val dd = docsDf
    val sd = tmp()
    CurationState.run(spark, dd.filter(col("doc_id") < 10), sd, "1")
    CurationState.run(spark, dd.filter(col("doc_id") >= 10), sd, "2")
    val before = stateRows(sd)
    assert(Incremental.gc(sd) === Seq("1"))
    val run1 = java.nio.file.Paths.get(sd, "run-1")
    Seq("content_hashes", "seg_freq", "eval_grams").foreach { t =>
      assert(!java.nio.file.Files.exists(run1.resolve(t)), s"run-1/$t survived gc")
    }
    assert(java.nio.file.Files.isRegularFile(
      java.nio.file.Paths.get(sd, "manifest", "run-1.json")))
    assert(Incremental.completedRuns(sd) === Seq("1", "2"))
    assert(stateRows(sd) == before)
  }

  test("seg_freq counts are capped at the threshold (bounded state)") {
    val sd = tmp()
    CurationState.run(spark, docsDf, sd, "1")
    val maxN = CurationState.load(spark, sd).segFreq.get
      .agg(max("n")).first().getLong(0)
    assert(maxN <= CurationState.BoilerThreshold)
  }

  test("runsReport over curation runs: no lineage pointer, n_<table> == the rows load() reads") {
    val dd = docsDf
    val sd = tmp()
    CurationState.run(spark, dd.filter(col("doc_id") < 10), sd, "1")
    CurationState.run(spark, dd.filter(col("doc_id") >= 10), sd, "2")
    val rep = Incremental.runsReport(spark, sd).collect()
    assert(rep.map(_.getAs[String]("run_id")).toSeq === Seq("1", "2"))
    assert(rep.forall(r => r.isNullAt(r.fieldIndex("input_files_table"))),
      "a curation run points at a lineage table")
    val latest = rep.last
    stateRows(sd).foreach { case (t, rows) =>
      assert(latest.getAs[Long](s"n_$t") === rows.size.toLong, s"n_$t")
    }
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(sd, "manifest", "run-2.json")))
    assert(manifest.contains("\"input_files_sample\": []"), manifest)
  }
}
