package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode, SparkSession}
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

  /** The pseudo eval set is the corpus docs with doc_id % 23 == 0. */
  val PseudoEvalModulus = 23

  /** The eval set: the table `loaded` from `spark.graft.eval.path` (json or
    * parquet, RuleLoader.evalTexts) when set, else the pseudo-set — the
    * deterministic fixture the differential runs on. */
  final case class EvalSet(loaded: Option[DataFrame]) {
    /** Whether a corpus doc is itself an eval doc (only pseudo-set ones are). */
    def member: Column =
      if (loaded.isDefined) lit(false) else col("doc_id") % PseudoEvalModulus === 0
    /** The eval rows (with `text`): the loaded table, or the members of `docs`. */
    def rows(docs: DataFrame): DataFrame = loaded.getOrElse(docs.filter(member))
  }
  def evalSet(spark: SparkSession): EvalSet = EvalSet(spark.conf
    .getOption("spark.graft.eval.path").map(graft.sources.RuleLoader.evalTexts(spark, _)))

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
    * the eval rows of this batch ((doc_id, text)); without it the session's
    * [[evalSet]] does.
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

      // each snapshot is the batch's rows, folded into the prior ones
      def merged(prior: Option[DataFrame], batchRows: DataFrame)(
          fold: DataFrame => DataFrame): DataFrame =
        prior.fold(batchRows)(p => fold(p.unionByName(batchRows)))
      // --- content_hashes snapshot: union-min (associative, so batch order
      // cannot change the canonical keeper given ascending doc_ids)
      val chSnap = merged(st.contentHashes,
        fp.groupBy("fp").agg(min(col("doc_id")).as("keep_id")))(
        _.groupBy("fp").agg(min(col("keep_id")).as("keep_id")))

      // --- seg_freq snapshot: counts over ALL batch rows (single-pass
      // dd_line_dedup counts the full doc set, so the incremental fold must
      // too), summed into the prior state then re-capped (exact — see class
      // doc homomorphism note)
      val batchSegs = fp
        .select(explode(TextUnits.segWindows).as("s"))
        .groupBy(md5(col("s.seg")).as("h")).agg(count(lit(1)).as("n"))
      val sfSnap = merged(st.segFreq, batchSegs)(
        _.groupBy("h").agg(sum(col("n")).as("n"))).select(col("h"),
        least(col("n"), lit(BoilerThreshold.toLong)).cast("long").as("n"))

      // --- eval_grams snapshot: distinct union of the batch's eval grams.
      // An explicit evalDocs param takes precedence over the session's eval
      // set. NOTE with a loaded table the eval set is ingested on the FIRST
      // run and re-folded idempotently on later ones (distinct union), so
      // batches keep the boundary identity either way.
      val evalRows = evalDocs.getOrElse(evalSet(spark).rows(fp))
      val batchGrams = TextUnits.gram8Rows(evalRows).distinct()
      val egSnap = merged(st.evalGrams, batchGrams)(_.distinct())
      // all three snapshots have committed before the manifest lands.
      // r6: snapshot row counts ride the write actions as observed metrics
      // (same values as the former written-back re-reads — the observation
      // counts exactly the rows the write commits — minus three read-back
      // jobs per run; delivery on non-partitioned parquet writes verified
      // incl. the empty-snapshot edge)
      val snaps = Seq("content_hashes" -> chSnap, "seg_freq" -> sfSnap,
        "eval_grams" -> egSnap).map { case (t, df) => (t, df, Observation()) }
      graft.util.Concurrent.run(spark, snaps.map { case (t, df, obs) => () =>
        df.observe(obs, count(lit(1)).as("n"))
          .write.mode(SaveMode.Overwrite).parquet(s"$runDir/$t")
      })

      // --- metrics (same values as before — observed counts of the rows
      // each snapshot write committed), then manifest LAST
      val keptN = kept.count()
      val metrics = Map(
        "n_batch" -> nBatch,
        "n_kept_new" -> keptN,
        "n_dup" -> (nBatch - keptN)) ++
        snaps.map { case (t, _, obs) => s"n_$t" -> obs.get("n").asInstanceOf[Long] }
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
    val e = TextUnits.segRows(docsDf)
    val fr = st.segFreq.getOrElse(Seq.empty[(String, Long)].toDF("h", "n"))
    val line = TextUnits.screenSegs(e.join(fr, md5(col("seg")) === col("h"), "left_outer")
      .withColumn("boiler", coalesce(col("n"), lit(0L)) >= BoilerThreshold))
    val eg = st.evalGrams.getOrElse(Seq.empty[String].toDF("h"))
    val shared = TextUnits.gram8Rows(docsDf, "doc_id")
      .join(eg, Seq("h"))
      .groupBy("doc_id").agg(count(lit(1)).cast("int").as("n_shared"))
    line.join(shared, Seq("doc_id"), "left_outer")
      .withColumn("n_shared", coalesce(col("n_shared"), lit(0)).cast("int"))
  }
}
