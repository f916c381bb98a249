package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.model._
import graft.operators._

/** Rule/lookup tables for one pipeline run (the sig filter's rules.json /
  * ioc.json / ref.json analogues, SURVEY §1.1). All broadcast-small by
  * contract; whitelist + sig rules are compiled into the plan itself.
  *
  * An instance is a snapshot: the C3/C5 dims ([[IocEnrich.dim]],
  * [[RefCheck.dim]]) are derived from `ioc`/`ref` once, on first use, and
  * held as local rows per IOC kind and per ref field, so every pass
  * broadcasts LocalRelations instead of planning, compiling and running the
  * derivation again. Not persisted: the rows live in the application's
  * JVM, as a broadcast's would. */
case class RuleTables(
    ioc: DataFrame,
    sigRules: Seq[SigRule],
    ref: DataFrame,
    whitelist: Seq[WhitelistRule]) {
  private[graft] lazy val iocByKind: String => DataFrame =
    RuleTables.byKey(IocEnrich.dim(ioc), "kind")
  private[graft] lazy val refByField: String => DataFrame =
    RuleTables.byKey(RefCheck.dim(ref), "field")
}

object RuleTables {
  /** A dim's rows per value of its `key` column, without that column, as
    * local rows. Rows with a null drop out: a null never joins, and
    * a null score scores nothing. */
  private def byKey(dim: DataFrame, key: String): String => DataFrame = {
    val cols = dim.columns.filterNot(_ == key).toSeq
    val schema = StructType(cols.map(c => dim.schema(c).copy(nullable = false)))
    def local(rows: Seq[Row]) = dim.sparkSession.createDataFrame(rows.asJava, schema)
    val byKey = dim.collect().toSeq
      .filter(r => cols.forall(c => !r.isNullAt(r.fieldIndex(c))))
      .groupBy(_.getAs[String](key))
      .map { case (k, rows) => k -> local(rows.map(r => Row.fromSeq(cols.map(r.getAs[Any])))) }
    val none = local(Nil)
    k => byKey.getOrElse(k, none)
  }
}

/** The parse → enrich → route → aggregate pipeline (SURVEY §3.2).
  *
  * Stage order is the reference's check order C1→C9 and must be preserved for
  * routed-row equality: parse → C1 fp-dedup → C2 whitelist → C3 IOC → C4 sig
  * → C5 ref → C6 first-seen → C7 frequency → C8 scoring.
  *
  * Shuffle budget (SURVEY §3.2): #1 dedup window by (fp, bucket); #2 the
  * stateful stages keyed by value/(conv_id, sec); everything in between is
  * narrow (broadcast joins + compiled predicates).
  */
object Pipeline {

  /** State carried across runs (resume): seen first-seen values, fingerprint
    * buckets, per-(key, sec) frequency counts, and fired frequency buckets.
    * Empty for a fresh run. Contract: batches are processed in ascending,
    * non-overlapping time ranges (assumed, not checked), under which
    * run(A ∪ B) == run(B, state after A) exactly — see IncrementalSpec.
    * The checks build the next state: C1 its `fpSeen` ([[Dedup.seen]]), C6/C7
    * the rest ([[NewAndFrequent.withState]]); [[live]] prunes it. */
  case class State(
      seenValues: Option[DataFrame],
      fpSeen: Option[DataFrame],
      freqCounts: Option[DataFrame] = None,
      firedBuckets: Option[DataFrame] = None) {
    /** The tables held, by table name, in [[State.Tables]] order. */
    def tables: Seq[(String, DataFrame)] =
      State.Tables.map(_._1).zip(Seq(seenValues, fpSeen, freqCounts, firedBuckets))
        .collect { case (t, Some(df)) => t -> df }

    /** The rows a later batch can still reach: batches ascend, so its rows
      * have ts_sec ≥ `maxSec`. fp_seen keeps the dedup buckets from
      * `maxSec`'s on, freq_counts the seconds of one trailing window before
      * it, fired the reset buckets from its own on; seen_values is kept
      * whole. Without a `maxSec` (an empty batch) nothing is pruned. */
    def live(maxSec: Option[Long], conf: PipelineConf): State = maxSec.fold(this) { s =>
      def keep(t: Option[DataFrame], c: Column) = t.map(_.filter(c))
      copy(
        fpSeen = keep(fpSeen, col("fp_bucket") >= Math.floorDiv(s, conf.dedupDelaySec)),
        freqCounts = keep(freqCounts, col("sec") >= s - conf.freqWindowSec),
        firedBuckets = keep(firedBuckets,
          col("reset_bucket") >= Math.floorDiv(s, conf.freqResetSec)))
    }
  }
  object State {
    val empty: State = State(None, None, None, None)

    /** The four tables: name and columns, in field order. */
    val Tables: Seq[(String, Seq[String])] = Seq(
      "seen_values" -> Seq("field", "value"),
      "fp_seen" -> Seq("fp", "fp_bucket"),
      "freq_counts" -> Seq("key", "sec", "cnt"),
      "fired" -> Seq("key", "reset_bucket"))

    /** The state `load` finds, each table narrowed to its columns. */
    def apply(load: String => Option[DataFrame]): State = {
      val Seq(seen, fp, freq, fired) = Tables.map { case (t, cols) =>
        load(t).map(_.select(cols.map(col): _*)) }
      State(seen, fp, freq, fired)
    }
  }

  /** The pure transform: transcripts in, enriched detection rows out. No
    * persist: first-seen and frequency re-read the survivors' lineage. */
  def enrich(turns: DataFrame, tables: RuleTables, conf: PipelineConf,
      state: State = State.empty): DataFrame =
    scoreSurvivors(Whitelist(Dedup(Parse(turns, conf), conf, state.fpSeen),
      tables.whitelist), tables, conf, state)._1

  /** enrich with one persist point: the post-whitelist survivors feed (a) the
    * main narrow enrich chain once and (b) the slim first-seen/frequency
    * aggregations, which read pruned column batches from the cache. Without
    * it, Spark recomputes the whole upstream (scan→parse→dedup) for every
    * branch (the plan-audit driver for this: docs/plans/enrich_full.txt).
    * Callers own cleanup via the returned thunk; it releases only a cache
    * this pass made (caches match by plan: a harness chain's stays). A fresh
    * run (no carried state); resumed runs go through [[Incremental.run]]. */
  def enrichPlanned(turns: DataFrame, tables: RuleTables,
      conf: PipelineConf): (DataFrame, () => Unit) = {
    val survivors = Whitelist(Dedup(Parse(turns, conf), conf, None), tables.whitelist)
    val own = survivors.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    if (own) survivors.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (scoreSurvivors(survivors, tables, conf, State.empty)._1,
      () => { if (own) survivors.unpersist(); () })
  }

  /** The C3→C8 wiring over the C2 survivors, which first-seen and frequency
    * read again (aux): enrichPlanned, Incremental.run and the harness chain
    * (LogQueries.scored) pass them persisted.
    * Also returns the C6/C7 part of the state after them
    * ([[NewAndFrequent.withState]]), which Incremental.run snapshots. */
  private[graft] def scoreSurvivors(survivors: DataFrame, tables: RuleTables,
      conf: PipelineConf, state: State): (DataFrame, State) = {
    val enriched = RefCheck.probe(
      SigRules(IocEnrich.probe(survivors, tables.iocByKind, conf), tables.sigRules),
      tables.refByField, conf)
    val (flagged, next) = NewAndFrequent.withState(enriched, conf, conf.trackedFields,
      freq = true, state, aux = Some(survivors))
    (Scoring(flagged, conf), next)
  }

  /** FIR alert-document projection (SURVEY §2.1 S4): the reference's output
    * plugin posts an incident document — subject, category, severity — not a
    * raw event. category = the hit kind contributing the most score (ties by
    * detection priority sig > ioc > ref > new > freq); subject is a compact
    * human line. Pure narrow column work — zero extra shuffles. */
  def alertDocs(enriched: DataFrame): DataFrame = {
    val kinds = Seq("sig", "ioc", "ref", "new", "freq")
    def kindScore(k: String): Column =
      aggregate(filter(col("hits"), h => h.getField("kind") === k),
        lit(0), (acc, h) => acc + h.getField("score"))
    val withKs = kinds.foldLeft(enriched)((df, k) =>
      df.withColumn(s"_ks_$k", kindScore(k)))
    val category = kinds.init.zipWithIndex.foldLeft(None: Option[Column]) {
      case (acc, (k, i)) =>
        val rest = kinds.drop(i + 1).map(r => col(s"_ks_$r"))
        val hi = if (rest.size == 1) rest.head else greatest(rest: _*)
        Some(acc match {
          case None => when(col(s"_ks_$k") >= hi, k)
          case Some(w) => w.when(col(s"_ks_$k") >= hi, k)
        })
    }.get.otherwise(kinds.last)
    withKs
      .withColumn("category", category)
      .withColumn("subject", concat(
        lit("["), col("severity"), lit("] "), col("category"),
        lit(" conv="), col("conv_id"), lit("#"), col("turn_idx"),
        lit(" note="), col("note")))
      .drop(kinds.map(k => s"_ks_$k"): _*)
  }

  /** Per-signature rollup: counts + score mass + distinct conversations
    * (approx at scale; exact variant used in tests). */
  def rollupBySignature(enriched: DataFrame): DataFrame =
    enriched.select(explode(col("hits")).as("h"), col("conv_id"))
      .groupBy(col("h.kind").as("kind"), col("h.rule_id").as("rule_id"),
        col("h.name").as("name"))
      .agg(count(lit(1)).as("n_hits"),
        sum(col("h.score")).cast("long").as("score_sum"),
        approx_count_distinct(col("conv_id")).as("approx_convs"))

  /** Per-sink (severity) rollup over routed rows. */
  def rollupBySink(enriched: DataFrame): DataFrame =
    enriched.filter(col("routed")).groupBy(col("severity")).agg(count(lit(1)).as("n"))

  /** [[rollupBySink]]'s rows from per-sink counts a route already has: one
    * (severity, n) row per severity with routed rows, as local rows. */
  private def sinkRollup(spark: SparkSession, counts: Map[String, Long],
      conf: PipelineConf): DataFrame = {
    val rows = conf.severityBands.map(_._2).distinct
      .flatMap(s => counts.get(s).filter(_ > 0).map(n => Row(s, n)))
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("severity", StringType), StructField("n", LongType, nullable = false))))
  }

  /** Salted repartition for the sink write (SURVEY §2.9 R1 / north_star
    * "hash(conv_id) with salted keys"): distributing by (severity,
    * hash(conv_id) % salt) keeps one skewed severity band — routed alerts are
    * heavily skewed toward 'high' — from concentrating in few write tasks,
    * while still clustering each conversation's alerts into one file. */
  def saltedBySeverity(df: DataFrame, saltBuckets: Int): DataFrame =
    df.repartition(col("severity"), pmod(xxhash64(col("conv_id")), lit(saltBuckets)))

  /** The FIR alert sink frame that every `alerts_all` writer writes. */
  private[graft] def alertSink(enriched: DataFrame, conf: PipelineConf): DataFrame =
    saltedBySeverity(alertDocs(enriched.filter(col("routed"))), conf.saltBuckets)

  /** Routed rows per severity sink, as `<prefix><severity>` columns. */
  private[graft] def sinkCountCols(conf: PipelineConf, prefix: String): Seq[Column] =
    conf.severityBands.map(_._2).map(s =>
      sum(when(col("routed") && col("severity") === s, 1L).otherwise(0L)).as(s"$prefix$s"))

  /** The C9 layout: `alerts_all` by severity plus the two rollups;
    * `rollup_sink` is written from `counts`, the route's sink counts. */
  private def writeSinks(src: DataFrame, conf: PipelineConf, outDir: String,
      counts: Map[String, Long]): Unit = {
    import graft.sources.Source
    graft.util.Concurrent.run(src.sparkSession, Seq(
      () => Source.writeTable(alertSink(src, conf), conf.sinkFormat,
        s"$outDir/alerts_all", partitionCols = Seq("severity")),
      () => Source.writeTable(rollupBySignature(src), conf.sinkFormat,
        s"$outDir/rollup_signature"),
      () => Source.writeTable(sinkRollup(src.sparkSession, counts, conf),
        conf.sinkFormat, s"$outDir/rollup_sink")))
  }

  /** The rows [[route]]'s C9 writers read, narrowed to what they read of
    * them: routed rows keep every column (the alert docs), every other row
    * keeps `routed`, `severity` (the sink counts) and `conv_id`, `hits`
    * (`rollup_signature`), and the rest are null. Same rows, same column
    * types; a plain projection, so it compiles into the last codegen stage
    * of the plan below it. `severity` stays whole (a few bytes per row in
    * the columnar cache): as a nullable partition column it would make every
    * `alerts_all` write plan one more projection and generated class. */
  private[graft] def sinkView(enriched: DataFrame): DataFrame = {
    val keep = Set("routed", "severity", "conv_id", "hits")
    enriched.select(enriched.columns.toSeq.map(c =>
      if (keep(c)) col(c) else when(col("routed"), col(c)).as(c)): _*)
  }

  /** `n_total` + the `n_<severity>` sink counts, and their result map. */
  private def routeCountCols(conf: PipelineConf): Seq[Column] =
    count(lit(1)).as("n_total") +: sinkCountCols(conf, "n_")
  private def routeCounts(conf: PipelineConf, m: String => Any): Map[String, Long] =
    conf.severityBands.map { case (_, s) => s -> m(s"n_$s").asInstanceOf[Long] }.toMap +
      ("total" -> m("n_total").asInstanceOf[Long])

  /** Write-once C9 fan-out for very large batches (SURVEY §2.9 R2 at
    * 100 TB): [[route]]'s MEMORY_AND_DISK persist keeps every routed row
    * whole and four columns of the rest, which is right for in-memory-sized
    * batches but still grows with the batch at target scale. Here `enriched`
    * is written EXACTLY ONCE to
    * `outDir/enriched` (salted for balanced files), and alerts + rollups are
    * derived from the WRITTEN table — each derivation is a column-pruned
    * parquet scan (hits/conv_id for the signature rollup, severity/routed
    * for the sink counts that `rollup_sink` is written from), never a
    * second pass over the source or a full-width cache. Same sink-count
    * contract as [[route]] (RouteSpec pins equality). The incremental path
    * batches by time range, so the written table doubles as the queryable
    * enriched archive. */
  def routeViaTable(spark: SparkSession, enriched: DataFrame, conf: PipelineConf,
      outDir: String): Map[String, Long] = {
    import graft.sources.Source
    Source.writeTable(saltedBySeverity(enriched, conf.saltBuckets),
      conf.sinkFormat, s"$outDir/enriched")
    // read back with the KNOWN schema: schema-light sink formats (json/csv)
    // would otherwise infer drifted types and drop all-null columns
    val written = Source.readTable(spark, conf.sinkFormat, s"$outDir/enriched",
      schema = Some(enriched.schema))
    // per-sink counts from ONE pruned aggregation over the written table
    // (severity + routed columns only — not an observe over a full pass)
    val aggs = routeCountCols(conf)
    val m = written.agg(aggs.head, aggs.tail: _*).first()
    val counts = routeCounts(conf, m.getAs[Any](_: String))
    writeSinks(written, conf, outDir, counts)
    counts
  }

  /** C9 fan-out: ONE pass over the enriched rows (persist), then K filtered
    * sink writes + alerts_all partitioned by severity (SURVEY §2.9 R2 — never
    * K source re-reads). What is persisted is the [[sinkView]]: routed rows
    * whole, unrouted rows only `routed`, `severity` and the rollup's hits
    * and conversations, so the cache grows with the alerts, not with the
    * full width of every turn. Returns per-sink counts from `observe`
    * metrics, plus "total" = all enriched rows; `rollup_sink` is written
    * from them. */
  def route(spark: SparkSession, enriched: DataFrame, conf: PipelineConf,
      outDir: String): Map[String, Long] = {
    import org.apache.spark.sql.Observation
    val cached = sinkView(enriched)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val obs = Observation("sinks")
      val aggs = routeCountCols(conf)
      // materialize the cache + deliver the observation with a PLAIN action
      // first: a partitioned write whose routed subset is empty drops
      // observed metrics entirely (Spark 4.1) and obs.get would hang
      cached.observe(obs, aggs.head, aggs.tail: _*).count()
      val counts = routeCounts(conf, obs.get)
      writeSinks(cached, conf, outDir, counts)
      counts
    } finally cached.unpersist()
  }
}
