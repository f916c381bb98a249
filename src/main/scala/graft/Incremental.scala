package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.model._
import graft.operators._

/** Batch-incremental runner (SURVEY §3.4 / §7.5): each run processes one
  * ascending, non-overlapping time range of the transcripts table, carries
  * first-seen / fingerprint / frequency state across runs, and records a
  * manifest with per-partition lineage + per-stage metrics.
  *
  * Layout under `stateDir` — each run writes a FULL, PRUNED state snapshot
  * (not a delta), so readers load exactly ONE run's state regardless of how
  * many runs came before, and state size stays bounded by the configured
  * windows instead of growing with history. [[commit]] writes it, for this
  * runner and the curation runner (operators/CurationState.scala) alike:
  * {{{
  *   run-<id>/<table>/       one dir per state table: Pipeline.State's,
  *                           pruned by State.live, or the curation tables
  *   run-<id>/input_files/   (file) — lineage, this runner's: every file the
  *                           run read, written distributed (never collected)
  *   manifest/run-<id>.json  (written LAST — a run without a manifest is
  *                            invisible to state readers, so crashes are safe):
  *                            metrics + n_<table> rows written, lineage
  *                            pointer + sample (null, empty without lineage)
  * }}}
  * Sink idempotency: alerts land under `alerts_all/run_id=<id>/severity=…`
  * via dynamic partition overwrite, so replaying a crashed run REPLACES its
  * own partitions instead of appending duplicates.
  *
  * The analogue of the sig filter's periodic state-DB save/restore
  * («sig.rb» drop/new-value DB persistence, SURVEY §2.1 S6) — but exactly
  * once and resumable instead of best-effort in-memory. */
object Incremental {

  final case class RunResult(
      runId: String,
      sinkCounts: Map[String, Long],
      metrics: Map[String, Long],
      inputFiles: Seq[String])

  /** Run ordering: ordering is LOAD-BEARING (loadFullState/gc take the
    * latest snapshot), so numeric run ids order NUMERICALLY — "10000" after
    * "9999" and "10" after "2", with or without zero padding — and
    * non-numeric ids order lexically after all numeric ones. */
  private def runOrder(id: String): (Int, Long, String) =
    if (id.nonEmpty && id.length <= 18 && id.forall(_.isDigit))
      (0, id.toLong, id)
    else (1, 0L, id)

  /** Manifested (completed) run ids, ascending (see [[runOrder]]). */
  def completedRuns(stateDir: String): Seq[String] = {
    val dir = Paths.get(stateDir, "manifest")
    if (!Files.isDirectory(dir)) return Seq.empty
    val it = Files.list(dir).iterator()
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val f = it.next().getFileName.toString
      if (f.startsWith("run-") && f.endsWith(".json"))
        out += f.stripPrefix("run-").stripSuffix(".json")
    }
    out.sortBy(runOrder).toSeq
  }

  /** A state table from the LATEST completed run only — snapshots are full,
    * so one run dir is the entire state (O(1) in run count). Shared with the
    * curation-state runner (operators/CurationState.scala), which follows the
    * same snapshot/manifest protocol over its own table names. */
  private[graft] def loadLatest(spark: SparkSession, stateDir: String,
      table: String): Option[DataFrame] = {
    completedRuns(stateDir).lastOption.flatMap { r =>
      val p = s"$stateDir/run-$r/$table"
      if (Files.isDirectory(Paths.get(p))) Some(spark.read.parquet(p)) else None
    }
  }

  def loadFullState(spark: SparkSession, stateDir: String): Pipeline.State =
    Pipeline.State(loadLatest(spark, stateDir, _))

  /** Ops surface for the north rule's "lineage + metrics": every COMPLETED
    * run's manifest as ONE queryable DataFrame — run_id, the pointer to its
    * distributed input-file lineage table, and each per-stage observe
    * counter / per-sink count as a long column. Manifests are tiny one-doc
    * JSON files (one per run), so this stays driver-cheap at any data scale;
    * the full per-run file lineage lives in the `run-<id>/input_files`
    * parquet tables the report points to. */
  def runsReport(spark: org.apache.spark.sql.SparkSession,
      stateDir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    val runs = completedRuns(stateDir)
    if (runs.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL("run_id string"))
    else
      spark.read.option("multiLine", "true")
        .json(runs.map(r => s"$stateDir/manifest/run-$r.json"): _*)
        .select(col("run_id") +: col("input_files_table") +:
          Seq(col("metrics.*")): _*)
        .orderBy(expr("try_cast(run_id AS BIGINT)"), col("run_id"))
  }

  /** Drill-down companion to [[stateReport]]: the raw LATEST snapshot of one
    * state table (a [[Pipeline.State.Tables]] name) as a queryable
    * DataFrame — None when no completed run has written it. */
  def stateTable(spark: SparkSession, stateDir: String,
      table: String): Option[DataFrame] = loadLatest(spark, stateDir, table)

  /** Ops surface #3 (r4, VERDICT r3 #7): contents-level state
    * introspection. One row per engine state table of the LATEST completed
    * run — (run_id, table, n_rows) — so "why did this fire / not fire"
    * starts with a single call instead of spelunking the snapshot layout;
    * [[stateTable]] then drills into the rows. Counts are distributed aggs
    * over the same parquet the next run will load (nothing driver-side),
    * and a table the run never wrote reports 0 rows rather than vanishing. */
  def stateReport(spark: SparkSession, stateDir: String): DataFrame = {
    completedRuns(stateDir).lastOption match {
      case None =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType.fromDDL(
            "run_id string, table string, n_rows bigint"))
      case Some(r) =>
        val held = loadFullState(spark, stateDir).tables.toMap
        Pipeline.State.Tables.map { case (t, _) =>
          held.get(t).fold(spark.range(1).select(lit(0L).as("n_rows")))(
            _.agg(count(lit(1)).as("n_rows")))
            .select(lit(r).as("run_id"), lit(t).as("table"), col("n_rows"))
        }.reduce(_.unionByName(_))
    }
  }

  /** Drop the STATE TABLES of runs older than the latest `keep` completed
    * runs — every table dir under `run-<id>` but `input_files`, so it serves
    * this runner and the curation-state runner alike. Snapshots are full, so
    * only the latest run's state is ever read; older run dirs exist solely
    * for audit/rollback, and at one snapshot per run the disk footprint
    * would otherwise grow O(runs × state). Manifests and `input_files`
    * lineage are KEPT (audit trail). Returns the runs whose state was
    * dropped. */
  def gc(stateDir: String, keep: Int = 1): Seq[String] = {
    require(keep >= 1, "must keep at least the latest snapshot")
    val victims = completedRuns(stateDir).dropRight(keep)
    victims.foreach { r =>
      Option(Paths.get(stateDir, s"run-$r").toFile.listFiles()).toSeq.flatten
        .filter(t => t.isDirectory && t.getName != InputFiles)
        .foreach(graft.util.Fs.deleteRecursively)
    }
    victims
  }

  /** Canonical schema of the alert docs [[run]] writes: the enriched row +
    * the alertDocs projection + the (run_id, severity) partition columns.
    * Supplying it to the reader (a) pins run_id/severity to STRING without
    * mutating the session-wide partition-type-inference conf (not safe under
    * concurrent queries) and (b) gives the never-alerted empty fallback the
    * REAL column set. Drift between this and the written files is pinned by
    * IncrementalSpec (schema equality after a real run). */
  val AlertDocSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      "conv_id string, turn_idx int, role string, text string, tool string, " +
        "ts timestamp, ts_sec bigint, ts_us bigint, action string, user string, " +
        "src_ip string, dst_host string, status int, hashv string, uri string, " +
        "parse_ok boolean, tags array<string>, fp string, fp_bucket bigint, " +
        "first_seen boolean, freq_hit boolean, " +
        "hits array<struct<rule_id:int,name:string,score:int,kind:string>>, " +
        "note int, routed boolean, category string, subject string, " +
        // partition columns (run_id, severity) — the reader puts them LAST
        "run_id string, severity string")

  /** Crash-consistent alert reader: only runs with a landed manifest are
    * visible. A run that crashed after its sink write but before its
    * manifest leaves orphan run_id partitions — replays REPLACE them
    * (dynamic partition overwrite), but if the run is never replayed the
    * orphans must not surface to readers. Reading with [[AlertDocSchema]]
    * keeps run_id the string the writer used (no partition-type inference). */
  def readAlerts(spark: SparkSession, stateDir: String, outDir: String): DataFrame = {
    val runs = completedRuns(stateDir)
    try {
      spark.read.schema(AlertDocSchema).parquet(s"$outDir/alerts_all")
        .where(org.apache.spark.sql.functions.col("run_id")
          .isin(runs.map(_.asInstanceOf[Any]): _*))
    } catch {
      // a healthy deployment that has never routed an alert leaves only
      // _SUCCESS under alerts_all (no partition directories at all) — that
      // is an EMPTY alert set, not an error; same full schema either way.
      case _: org.apache.spark.sql.AnalysisException =>
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), AlertDocSchema)
    }
  }

  /** Run one batch with state, write sinks + state snapshot + manifest. */
  def run(spark: SparkSession, turns: DataFrame, tables: RuleTables,
      conf: PipelineConf, stateDir: String, outDir: String,
      runId: String): RunResult = {
    val state = loadFullState(spark, stateDir)

    // --- plan with observe() metrics at each stage boundary.
    // IMPORTANT: every observe node must sit BELOW a persist boundary —
    // `survivors` is read several times (the C3→C8 chain, NewAndFrequent's
    // aggregation in the chain and again in the next state's snapshots),
    // and a CollectMetrics node duplicated through those references reports
    // NO metrics at all (observed empirically on Spark 4.1). Persisting the
    // observed node makes downstream references hit the InMemoryRelation, so
    // each observation executes exactly once.
    val obsIn = Observation(s"in-$runId")
    val obsDedup = Observation(s"dedup-$runId")
    val obsOut = Observation(s"out-$runId")

    val parsed = Parse(turns, conf)
      .observe(obsIn, count(lit(1)).as("n_input"),
        sum(when(col("parse_ok"), 1L).otherwise(0L)).as("n_parse_ok"))
    // persisted at the DEDUP boundary with a whitelist MARKER column (rows
    // not yet dropped): C1's next state must record fingerprints of
    // whitelisted rows too — in a single combined run, C1 dedup runs BEFORE
    // C2 whitelist, so a duplicate whose first occurrence was whitelisted is
    // still suppressed. Survivors are a narrow filter over this one cache.
    val deduped = Dedup(parsed, conf, state.fpSeen)
      .withColumn("_wl", Whitelist.marker(tables.whitelist))
      .observe(obsDedup, count(lit(1)).as("n_after_dedup"),
        sum(when(!col("_wl"), 1L).otherwise(0L)).as("n_survivors"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val survivors = deduped.filter(!col("_wl")).drop("_wl")
    val severities = conf.severityBands.map(_._2)
    val (scored, checked) = Pipeline.scoreSurvivors(survivors, tables, conf, state)
    val next = checked.copy(fpSeen = Some(Dedup.seen(deduped, state.fpSeen)))
    // the observation sees every scored row (max ts_sec is the time boundary
    // of this batch); only the routed rows, the alert sink's, are cached
    val routed = scored
      .observe(obsOut, count(lit(1)).as("n_enriched"),
        max(col("ts_sec")).as("max_sec") +: Pipeline.sinkCountCols(conf, "sink_"): _*)
      .filter(col("routed"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // --- materialize both caches with a plain action FIRST: partitioned
      // file writes do not reliably deliver observe() metrics when the
      // written subset is empty (verified on Spark 4.1), a plain count does.
      // Every downstream job below then reads the caches.
      val nRouted = routed.count()
      val m = obsIn.get ++ obsDedup.get ++ obsOut.get
      // an EMPTY batch folds the CollectMetrics nodes away entirely
      // (PropagateEmptyRelation) — all counters are genuinely 0 then; any
      // other metric loss is a bug and must fail loud. Rows were scored if
      // any survived the whitelist (or, with that counter lost, were routed).
      val nScored = m.get("n_survivors").fold(nRouted)(_.asInstanceOf[Long])
      val expectedKeys = Seq("n_input", "n_parse_ok", "n_after_dedup",
        "n_survivors", "n_enriched") ++ severities.map(s => s"sink_$s")
      require(nScored == 0L || expectedKeys.forall(m.contains),
        s"observed metrics lost for a non-empty batch ($nScored rows): " +
          s"missing ${expectedKeys.filterNot(m.contains).mkString(",")}")
      val metrics0 = expectedKeys.map(k =>
        k -> m.get(k).map(_.asInstanceOf[Long]).getOrElse(0L)).toMap
      // ascending non-overlapping batches ⇒ every future row has
      // ts_sec ≥ maxSec, which is what makes the snapshot pruning safe
      val maxSec: Option[Long] = m.get("max_sec").collect { case v: Long => v }

      // sinks: alert documents partitioned by (run_id, severity); dynamic
      // partition overwrite ⇒ a replayed run replaces its own partitions
      // (idempotent) without touching other runs'
      def writeAlerts(): Unit = Pipeline.alertSink(routed, conf)
        .withColumn("run_id", lit(runId))
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("run_id", "severity")
        .parquet(s"$outDir/alerts_all")

      // lineage: every file this run reads, whether or not a row of it
      // survives C1/C2, written distributed (never an O(files) collect). A
      // scan of its own, so no observation above is duplicated.
      val files = turns.select(input_file_name().as("file")).distinct()
      val (metrics, fileSample) = commit(spark, stateDir, runId,
        next.live(maxSec, conf).tables :+ (InputFiles -> files),
        Seq(writeAlerts _), metrics0)
      val sinkCounts = severities.map(s => s -> metrics(s"sink_$s")).toMap
      RunResult(runId, sinkCounts, metrics, fileSample)
    } finally {
      routed.unpersist(); deduped.unpersist()
    }
  }

  private val InputFiles = "input_files" // the lineage table: one `file` column

  /** The commit step of [[run]] and CurationState.run: lands `tables` under
    * `run-<id>/` and the `beside` writes (the alert sink) in one
    * [[graft.util.Concurrent.run]], each table's rows counted by an
    * observation on its own write, then — all committed — the manifest:
    * `metrics`, `n_<table>` per table and, if the run wrote `input_files`,
    * its pointer and ≤100 of its files read back. Returns those metrics and
    * that sample. */
  private[graft] def commit(spark: SparkSession, stateDir: String, runId: String,
      tables: Seq[(String, DataFrame)], beside: Seq[() => Unit],
      metrics: Map[String, Long]): (Map[String, Long], Seq[String]) = {
    val runDir = s"$stateDir/run-$runId"
    val counted = tables.map { case (t, df) => (t, df, Observation()) }
    graft.util.Concurrent.run(spark, beside ++ counted.map { case (t, df, obs) =>
      () => df.observe(obs, count(lit(1)).as("n"))
        .write.mode(SaveMode.Overwrite).parquet(s"$runDir/$t")
    })
    // a plan over an empty relation folds its observation away: 0 rows
    val all = metrics ++ counted.map { case (t, _, obs) =>
      s"n_$t" -> obs.get.get("n").fold(0L)(_.asInstanceOf[Long]) }
    val lineage = Option.when(tables.exists(_._1 == InputFiles))(s"run-$runId/$InputFiles")
    val sample = lineage.fold(Seq.empty[String])(p => spark.read.parquet(s"$stateDir/$p")
      .orderBy("file").limit(100).collect().map(_.getString(0)).toSeq)
    writeManifest(stateDir, runId, all, lineage, sample)
    (all, sample)
  }

  /** Manifest written atomically (tmp + move) and LAST. */
  private def writeManifest(stateDir: String, runId: String, metrics: Map[String, Long],
      lineage: Option[String], fileSample: Seq[String]): Unit = {
    // centralized escaper: control chars (a newline/tab is legal in a POSIX
    // input-file path) must not yield an unparseable manifest — that would
    // make a COMPLETED run invisible to completedRuns-based readers
    def q(s: String) = graft.util.Json.quote(s)
    val json =
      s"""{"run_id": ${q(runId)},
         | "metrics": {${metrics.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${q(k)}: $v" }.mkString(", ")}},
         | "input_files_sample": [${fileSample.map(q).mkString(", ")}],
         | "input_files_table": ${lineage.fold("null")(q)},
         | "completed": true}""".stripMargin
    val dir = Paths.get(stateDir, "manifest")
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".run-$runId.json.tmp")
    Files.writeString(tmp, json)
    Files.move(tmp, dir.resolve(s"run-$runId.json"),
      StandardCopyOption.ATOMIC_MOVE)
  }
}
