package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextUnits

/** Resumable state for the LLM-curation family (VERDICT r4 #2): a real corpus
  * pipeline ingests INCREMENTS — each new crawl batch must dedup and screen
  * against everything already ingested, not just itself. This runner applies
  * the exact snapshot/manifest protocol of [[graft.Incremental]] (full pruned
  * snapshots per run, manifest written last, crash-safe, O(1)-in-run-count
  * reads) to three curation state tables:
  *
  * {{{
  *   run-<id>/content_hashes/  (fp, keep_id)  — md5(text) → canonical doc_id,
  *                             the exact-dedup memory (union-min merge)
  *   run-<id>/seg_freq/        (h, n)         — md5(10-word segment) → corpus
  *                             frequency, CAPPED at BoilerThreshold: only
  *                             "n ≥ T" is ever consumed and min(min(a,T)+b, T)
  *                             == min(a+b, T) for a,b ≥ 0, so capping is an
  *                             exact homomorphism that bounds the stored value
  *   run-<id>/eval_grams/      (h)            — distinct md5(8-gram) of the
  *                             eval set seen so far (distinct-union merge)
  * }}}
  *
  * Every merge is associative + commutative (min / capped-sum / set-union),
  * which is what makes the boundary identity hold EXACTLY: state after
  * run(A) then run(B) equals state after run(A ∪ B) in one batch — pinned by
  * IncrementalCurationSpec, and the composed path is itself a hash-checked
  * differential (`dd_incremental` splits the corpus in two inside the query
  * while the DuckDB oracle runs single-pass).
  *
  * Scale: every step is a hash-groupBy or hash-equijoin on a hash column —
  * embarrassingly parallel, never doc×doc; state rows are narrow (hash +
  * one small int), and snapshots are distributed parquet writes.
  */
object CurationState {

  /** Segment corpus-frequency at/above which a segment is boilerplate. */
  val BoilerThreshold = 3

  final case class State(
      contentHashes: Option[DataFrame], // (fp, keep_id)
      segFreq: Option[DataFrame],       // (h, n) — n capped at BoilerThreshold
      evalGrams: Option[DataFrame])     // (h)

  final case class BatchResult(
      runId: String,
      kept: DataFrame, // new-content docs of this batch (cross-run deduped)
      metrics: Map[String, Long])

  def load(spark: SparkSession, stateDir: String): State = State(
    contentHashes = graft.Incremental.loadLatest(spark, stateDir, "content_hashes")
      .map(_.select("fp", "keep_id")),
    segFreq = graft.Incremental.loadLatest(spark, stateDir, "seg_freq")
      .map(_.select("h", "n")),
    evalGrams = graft.Incremental.loadLatest(spark, stateDir, "eval_grams")
      .map(_.select("h")))

  /** Ingest one batch of (doc_id, text) rows: exact-dedup the batch against
    * all prior content (within-batch first-occurrence + cross-run anti-join,
    * the C1 shape), fold the batch's segment frequencies and eval 8-grams
    * into the state, write the full snapshot + manifest. `evalDocs` supplies
    * the eval rows of this batch ((doc_id, text); defaults to the
    * deterministic pseudo-set doc_id % 23 == 0 — the differential fixture;
    * production loads a real table through the RuleLoader-style seam).
    *
    * Batches must be doc_id-ascending and non-overlapping (the Incremental
    * contract): then `kept` across runs equals single-batch exact dedup. */
  def run(spark: SparkSession, batch: DataFrame, stateDir: String,
      runId: String, evalDocs: Option[DataFrame] = None): BatchResult = {
    val st = load(spark, stateDir)
    val runDir = s"$stateDir/run-$runId"

    val fp = batch.select(col("doc_id"), col("text"), md5(col("text")).as("fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nBatch = fp.count()

      // --- exact dedup: first occurrence within the batch, then anti-join
      // the accumulated content_hashes (same two-step as Stages C1)
      val firstInBatch = fp
        .withColumn("_rn",
          row_number().over(Window.partitionBy("fp").orderBy("doc_id")))
        .filter(col("_rn") === 1).drop("_rn")
      val kept = st.contentHashes match {
        case Some(ch) =>
          firstInBatch.join(ch.select("fp"), Seq("fp"), "left_anti")
        case None => firstInBatch
      }

      // --- content_hashes snapshot: union-min (associative, so batch order
      // cannot change the canonical keeper given ascending doc_ids)
      val batchMin = fp.groupBy("fp").agg(min(col("doc_id")).as("keep_id"))
      val chSnap = st.contentHashes match {
        case Some(ch) => ch.unionByName(batchMin)
          .groupBy("fp").agg(min(col("keep_id")).as("keep_id"))
        case None => batchMin
      }
      // r6: snapshot row counts ride the write actions as observed metrics
      // (same values as the former written-back re-reads — the observation
      // counts exactly the rows the write commits — minus three read-back
      // jobs per run; delivery on non-partitioned parquet writes verified
      // incl. the empty-snapshot edge)
      import org.apache.spark.sql.Observation
      val chObs = Observation()

      // --- seg_freq snapshot: counts over ALL batch rows (single-pass
      // dd_line_dedup counts the full doc set, so the incremental fold must
      // too), summed into the prior state then re-capped (exact — see class
      // doc homomorphism note)
      val batchSegs = fp
        .select(explode(TextUnits.segWindows).as("s"))
        .groupBy(md5(col("s.seg")).as("h")).agg(count(lit(1)).as("n"))
      val sfSnap = (st.segFreq match {
        case Some(sf) => sf.unionByName(batchSegs)
          .groupBy("h").agg(sum(col("n")).as("n"))
        case None => batchSegs
      }).select(col("h"),
        least(col("n"), lit(BoilerThreshold.toLong)).cast("long").as("n"))
      val sfObs = Observation()

      // --- eval_grams snapshot: distinct union of the batch's eval grams.
      // Eval source precedence: explicit evalDocs param > the conf-driven
      // loaded table (spark.graft.eval.path — json or parquet, the
      // RuleLoader seam) > the deterministic pseudo-set fixture. NOTE with a
      // loaded table the eval set is ingested on the FIRST run and re-folded
      // idempotently on later ones (distinct union), so batches keep the
      // boundary identity either way.
      val evalRows = evalDocs
        .orElse(spark.conf.getOption("spark.graft.eval.path")
          .map(p => graft.sources.RuleLoader.evalTexts(spark, p)))
        .getOrElse(fp.filter(col("doc_id") % 23 === 0))
      val batchGrams = evalRows.filter(size(split(col("text"), " ")) >= 8)
        .select(explode(TextUnits.gram8).as("h")).distinct()
      val egSnap = st.evalGrams match {
        case Some(eg) => eg.unionByName(batchGrams).distinct()
        case None => batchGrams
      }
      val egObs = Observation()
      // all three snapshots have committed before the manifest lands
      def snapshot(df: DataFrame, obs: Observation, table: String): () => Unit =
        () => df.observe(obs, count(lit(1)).as("n"))
          .write.mode(SaveMode.Overwrite).parquet(s"$runDir/$table")
      graft.util.Concurrent.run(spark, Seq(
        snapshot(chSnap, chObs, "content_hashes"),
        snapshot(sfSnap, sfObs, "seg_freq"),
        snapshot(egSnap, egObs, "eval_grams")))

      // --- metrics (same values as before — observed counts of the rows
      // each snapshot write committed), then manifest LAST
      val keptN = kept.count()
      val metrics = Map(
        "n_batch" -> nBatch,
        "n_kept_new" -> keptN,
        "n_dup" -> (nBatch - keptN),
        "n_content_hashes" -> chObs.get("n").asInstanceOf[Long],
        "n_seg_freq" -> sfObs.get("n").asInstanceOf[Long],
        "n_eval_grams" -> egObs.get("n").asInstanceOf[Long])
      graft.Incremental.writeManifest(stateDir, runId, metrics, Seq.empty)
      BatchResult(runId, kept.drop("fp"), metrics)
    } finally fp.unpersist()
  }

  /** Screen docs against accumulated state: per doc — segment counts with
    * boilerplate dropped (clean_text reassembled in order) and the number of
    * its distinct 8-grams present in the accumulated eval set. Pure
    * hash-equijoins; docs not covered by the state screen as all-clean. */
  def screen(spark: SparkSession, docsDf: DataFrame, stateDir: String): DataFrame =
    screenWith(spark, docsDf, load(spark, stateDir))

  def screenWith(spark: SparkSession, docsDf: DataFrame, st: State): DataFrame = {
    import spark.implicits._
    val e = docsDf.select(col("doc_id"), explode(TextUnits.segWindows).as("s"))
      .select(col("doc_id"), col("s.seg_idx").as("seg_idx"), col("s.seg").as("seg"))
    val fr = st.segFreq.getOrElse(Seq.empty[(String, Long)].toDF("h", "n"))
    val line = TextUnits.screenSegs(e.join(fr, md5(col("seg")) === col("h"), "left_outer")
      .withColumn("boiler", coalesce(col("n"), lit(0L)) >= BoilerThreshold))
    val eg = st.evalGrams.getOrElse(Seq.empty[String].toDF("h"))
    val shared = docsDf.filter(size(split(col("text"), " ")) >= 8)
      .select(col("doc_id"), explode(TextUnits.gram8).as("h"))
      .join(eg, Seq("h"))
      .groupBy("doc_id").agg(count(lit(1)).cast("int").as("n_shared"))
    line.join(shared, Seq("doc_id"), "left_outer")
      .withColumn("n_shared", coalesce(col("n_shared"), lit(0)).cast("int"))
  }
}
