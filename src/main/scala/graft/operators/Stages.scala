package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{GrokCompiler, RegexStructExtract}
import graft.model._

/** Shared clause → Catalyst predicate compiler (C2 whitelist + C4 sig rules).
  *
  * The reference interprets each clause per event in Ruby («sig.rb» check_sig,
  * SURVEY §2.4); we compile the whole (small, driver-side) rule config into
  * boolean `Column`s ONCE at plan time — zero joins, whole-stage-codegen'd.
  * Semantics must stay identical to [[graft.oracle.RefModel.clauseMatches]].
  */
object ClauseCompiler {
  /** Fields that are ARRAY-valued in the pipeline schema: a clause on them
    * matches if ANY element matches (Logstash event fields can hold arrays —
    * SURVEY §1.1; the sig filter iterates elements). The engine schema is
    * fixed by contract, so a static registry suffices. */
  val ArrayFields: Set[String] = Set("tags")

  def predicate(field: String, op: String, arg: String): Column =
    if (ArrayFields(field))
      exists(col(field), v => scalarPredicate(v, field, op, arg))
    else scalarPredicate(col(field), field, op, arg)

  private def scalarPredicate(c: Column, field: String, op: String,
      arg: String): Column =
    op match {
      case "rx" => c.isNotNull && c.cast("string").rlike(arg)
      // status args canonicalized with trim (rule files carry ' 503'-style
      // padding); numeric compares use try_cast — ANSI cast would throw on
      // non-numeric values, and codegen CSE can hoist the cast OUT of the
      // short-circuit guard (RefModel's toDoubleOption ⇒ null ⇒ no match)
      case "eq" => if (field == "status") c === arg.trim.toInt else c === arg
      case "in" =>
        if (field == "status") c.isin(arg.split(",").map(_.trim.toInt): _*)
        else c.isin(arg.split(","): _*)
      case "lt" => c.try_cast("double") < arg.trim.toDouble
      case "gt" => c.try_cast("double") > arg.trim.toDouble
      case "exists" => c.isNotNull && c.cast("string") =!= ""
      case other => throw new IllegalArgumentException(s"unknown op $other")
    }

  def hitStruct(ruleId: Int, name: String, score: Column, kind: String): Column =
    struct(lit(ruleId).as("rule_id"), lit(name).as("name"),
      score.cast("int").as("score"), lit(kind).as("kind"))

  /** The values whose guard holds, in order: `array_compact(array(when(g,
    * v), …))` for non-null `v`, with the same type. Built from `concat` of
    * zero-or-one-element `array_repeat`s, so the projection stays inside
    * whole-stage codegen: array_compact is a lambda function, which is
    * interpreted and cuts the codegen stage in two. */
  def guarded(gv: Seq[(Column, Column)]): Column =
    if (gv.isEmpty) array()
    else concat(gv.map { case (g, v) => array_repeat(v, when(g, 1).otherwise(0)) }: _*)
}

/** P1 grok parse: ONE pass over the pattern list per row (first match wins)
  * via [[RegexStructExtract]]; null struct ⇒ `parse_ok=false`
  * (`_grokparsefailure` analogue — only when ALL patterns miss). Narrow. */
object Parse {
  def apply(turns: DataFrame, conf: PipelineConf): DataFrame = {
    val g = GrokCompiler.compileMulti(conf.grokPattern +: conf.grokFallbacks)
    // NTZ inputs (driver testdata) are pinned to the UTC session zone so
    // epoch arithmetic is deterministic and matches the DuckDB oracle.
    val tsUtc = col("ts").cast("timestamp")
    turns
      .withColumn("_g", RegexStructExtract.grokStruct(col("text"), g))
      .select(
        col("conv_id"), col("turn_idx"), col("role"), col("text"),
        nullif(col("tool"), lit("")).as("tool"),
        col("ts"),
        unix_timestamp(tsUtc).as("ts_sec"),
        unix_micros(tsUtc).as("ts_us"),
        col("_g.action").as("action"),
        col("_g.user").as("user"),
        col("_g.src_ip").as("src_ip"),
        col("_g.dst_host").as("dst_host"),
        col("_g.status").cast("int").as("status"),
        col("_g.hashv").as("hashv"),
        col("_g.uri").as("uri"),
        col("_g").isNotNull.as("parse_ok"),
        // Logstash-style tags array (array-valued field for clause checks):
        // parse failures + tool markers
        ClauseCompiler.guarded(Seq(
          col("_g").isNull -> lit("_grokparsefailure"),
          nullif(col("tool"), lit("")).isNotNull ->
            concat_ws("", lit("tool:"), col("tool")))).as("tags"))
  }
}

/** C1 fingerprint dedup: fp = sha256 over the configured fingerprint fields
  * (NUL-joined, nulls skipped — concat_ws semantics, mirrored in RefModel);
  * keep the first row per (fp, delay-bucket) under stable
  * (ts, conv_id, turn_idx) order. Cross-run suppression (resume) anti-joins
  * the checkpointed `fp_seen` state table before the window. */
object Dedup {
  /** The fingerprint expression for a conf (default: sha256(text)). */
  def fpExpr(conf: PipelineConf): Column =
    sha2(concat_ws("\u0000", conf.fingerprintFields.map(col): _*), 256)

  def apply(df: DataFrame, conf: PipelineConf,
      fpSeen: Option[DataFrame] = None): DataFrame = {
    val withFp = df
      .withColumn("fp", fpExpr(conf))
      .withColumn("fp_bucket", floor(col("ts_sec") / conf.dedupDelaySec))
    val base = fpSeen match {
      case Some(st) => withFp.join(st.select(col("fp"), col("fp_bucket")),
        Seq("fp", "fp_bucket"), "left_anti")
      case None => withFp
    }
    val w = Window.partitionBy(col("fp"), col("fp_bucket"))
      .orderBy(col("ts_us"), col("conv_id"), col("turn_idx"))
    base.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** The next `fp_seen`: the prior pairs plus those of `deduped`, which is
    * [[apply]]'s output against the same `prior`: one row per pair and
    * none of the prior ones, so a plain union is already a set (no shuffle). */
  def seen(deduped: DataFrame, prior: Option[DataFrame]): DataFrame = {
    val batch = deduped.select(col("fp"), col("fp_bucket"))
    prior.fold(batch)(batch.unionByName(_))
  }
}

/** C2 whitelist / first-stop rules: compiled predicate, applied BEFORE the
  * enrich joins so Catalyst can push it toward the scan. */
object Whitelist {
  /** The compiled whitelist predicate (true = row is whitelisted/dropped). */
  def marker(rules: Seq[WhitelistRule]): Column =
    if (rules.isEmpty) lit(false)
    else coalesce(rules.map(r => ClauseCompiler.predicate(r.field, r.op, r.arg))
      .reduce(_ || _), lit(false))

  def apply(df: DataFrame, rules: Seq[WhitelistRule]): DataFrame =
    if (rules.isEmpty) df else df.filter(!marker(rules))
}

/** C3 IOC enrichment: one BROADCAST hash left-outer join per IOC kind against
  * the (deduplicated) IOC dim, lowercased equality — the sig filter's
  * check_ioc as relational lookup joins. Hit order inside `hits_ioc` is
  * alphabetical by kind (domain, hash, ip, user) to match RefModel. */
object IocEnrich {
  /** The IOC dim: the max score per (kind, lowercased value). */
  def dim(ioc: DataFrame): DataFrame =
    ioc.groupBy(col("kind"), lower(col("value")).as("value"))
      .agg(max(col("score")).as("score"))

  def apply(df: DataFrame, ioc: DataFrame,
      conf: PipelineConf = PipelineConf()): DataFrame = {
    val d = dim(ioc)
    probe(df, kind => d.filter(col("kind") === kind).drop("kind"), conf)
  }

  /** The C3 joins against one kind's (value, score) rows of the [[dim]]
    * (the pipeline passes its rule tables' local snapshot). */
  private[graft] def probe(df: DataFrame, ofKind: String => DataFrame,
      conf: PipelineConf): DataFrame = {
    // kind → probed field comes from the rule-file config (conf.iocKindFields);
    // sorted by kind so hits_ioc order matches RefModel regardless of the
    // order the config file lists the mappings in
    val kindField = conf.iocKindFields.sortBy(_._1)
    val joined = kindField.foldLeft(df) { case (acc, (kind, fld)) =>
      val d = broadcast(ofKind(kind)
        .select(col("value").as(s"_${kind}_v"), col("score").as(s"_${kind}_s")))
      acc.join(d, lower(col(fld)) === col(s"_${kind}_v"), "left_outer")
        .drop(s"_${kind}_v")
    }
    val hits = kindField.map { case (kind, _) =>
      col(s"_${kind}_s").isNotNull ->
        ClauseCompiler.hitStruct(0, s"ioc:$kind", col(s"_${kind}_s"), "ioc")
    }
    joined.withColumn("hits_ioc", ClauseCompiler.guarded(hits))
      .drop(kindField.map { case (k, _) => s"_${k}_s" }: _*)
  }
}

/** C4 signature rules: every rule folded into one compiled boolean Column
  * (clauses of the same rule_id AND together); hits collected with
  * [[ClauseCompiler.guarded]] — zero joins, fully codegen'd. Guarded by
  * parse_ok, matching RefModel (unparsed rows skip rule checks). */
object SigRules {
  def apply(df: DataFrame, rules: Seq[SigRule]): DataFrame = {
    val hits = rules.groupBy(_.rule_id).toSeq.sortBy(_._1).map { case (rid, cl) =>
      val pred = cl.map(c => ClauseCompiler.predicate(c.field, c.op, c.arg))
        .reduce(_ && _)
      (col("parse_ok") && pred) ->
        ClauseCompiler.hitStruct(rid, cl.head.name, lit(cl.map(_.score).sum), "sig")
    }
    df.withColumn("hits_sig", ClauseCompiler.guarded(hits))
  }
}

/** C5 reference-baseline check: broadcast left-outer join per checked field;
  * a row whose (role, field, value) finds no baseline partner is an anomaly.
  * (Left-outer + null-marker rather than left_anti because non-deviant rows
  * must flow through with empty hits, not be filtered.) */
object RefCheck {
  /** The reference dim: the distinct (field, ref_key, value) baselines. */
  def dim(ref: DataFrame): DataFrame =
    ref.select(col("field"), col("ref_key"), col("value")).distinct()

  def apply(df: DataFrame, ref: DataFrame, conf: PipelineConf): DataFrame = {
    val d = dim(ref)
    probe(df, f => d.filter(col("field") === f).drop("field"), conf)
  }

  /** The C5 joins against one field's (ref_key, value) rows of the [[dim]]
    * (see [[IocEnrich.probe]]). */
  private[graft] def probe(df: DataFrame, ofField: String => DataFrame,
      conf: PipelineConf): DataFrame = {
    val RefFields = conf.refFields
    val joined = RefFields.foldLeft(df) { (acc, f) =>
      val d = broadcast(ofField(f)
        .select(col("ref_key").as(s"_rk_$f"), col("value").as(s"_rv_$f")))
      acc.join(d, col("role") === col(s"_rk_$f") && col(f) === col(s"_rv_$f"),
        "left_outer").drop(s"_rk_$f")
    }
    val hits = RefFields.map { f =>
      (col("parse_ok") && col(f).isNotNull && col(f) =!= "" &&
        col(s"_rv_$f").isNull) ->
        ClauseCompiler.hitStruct(0, s"ref:$f", lit(conf.refScore), "ref")
    }
    joined.withColumn("hits_ref", ClauseCompiler.guarded(hits))
      .drop(RefFields.map(f => s"_rv_$f"): _*)
  }
}

/** C6 first-seen and C7 frequency: the two checks that compare a row with
  * the rows before it. Both name one "first row" per group — the first row of
  * each tracked (field, value), and the first row of the second in which a
  * key's trailing count first reaches the threshold within a reset bucket —
  * so they share one pass over the survivors:
  *
  *  1. each row yields one event per tracked field (parse_ok rows with a
  *     non-empty value) and one frequency event (non-empty freqKey); ONE
  *     aggregation by (check, value, second) gives each group's row count and
  *     first row `min(ts_us, conv_id, turn_idx)` — partial-aggregated
  *     map-side, so a hot value or conversation never funnels raw rows into
  *     one partition (a `Window.partitionBy(value)` would);
  *  2. one window pass over the per-group rows (tiny vs raw rows) gives each
  *     key's trailing per-second count and its first raw second per reset
  *     bucket;
  *  3. the first rows are folded to per-row flags and joined back ONCE (a
  *     tiny dim; AQE broadcasts it). A row is identified by (ts_us, conv_id,
  *     turn_idx), which the pipeline takes to be unique.
  *
  * Cross-run state (resume), from the prior [[graft.Pipeline.State]]:
  * `seenValues` (field, value) pairs are not new; `freqCounts` per-(key, sec)
  * counts extend the trailing window across a batch boundary; `firedBuckets`
  * (key, reset-bucket) pairs do not fire again.
  * `aux`: the row source of the aggregation — pass the PERSISTED upstream
  * (the post-whitelist survivors) so it reads pruned cached columns instead
  * of recomputing the enrich chain. Must contain exactly the same rows as
  * `df`. */
object NewAndFrequent {
  private val Freq = "" // the frequency events' check tag (no field name)

  /** The flagged rows and the C6/C7 part of the state after them, read off
    * the same aggregation (unpruned; `fpSeen` is None, C1 builds its own
    * with [[Dedup.seen]]):
    *  - `seenValues` (field, value): the prior values plus this batch's
    *    unseen ones — disjoint sets;
    *  - `freqCounts` (key, sec, cnt): the per-second counts the trailing
    *    window read, prior seconds included;
    *  - `firedBuckets` (key, reset_bucket): the prior buckets plus those a
    *    row of this batch fired in — disjoint sets.
    * Keys and values are cast back from the events' strings to the types of
    * the columns they came from, so the state keeps its schema. */
  def withState(df: DataFrame, conf: PipelineConf, tracked: Seq[String], freq: Boolean,
      prior: graft.Pipeline.State,
      aux: Option[DataFrame]): (DataFrame, graft.Pipeline.State) = {
    val src = aux.getOrElse(df)
    val rowKey = struct(col("ts_us"), col("conv_id"), col("turn_idx"))
    def event(check: String, value: Column, sec: Column): Column =
      struct(lit(check).as("_g"), value.cast("string").as("_k"), sec.as("_s"))
    val events = tracked.map(f => event(f, when(col("parse_ok"), col(f)), lit(0L))) ++
      (if (freq) Seq(event(Freq, col(conf.freqKey), col("ts_sec"))) else Nil)
    val groups = src
      .select(explode(array(events: _*)).as("_e"), rowKey.as("_r"))
      // a NULL/empty value is no event: such a row is never first-seen and
      // never counts toward or receives a burst (mirrored in RefModel)
      .filter(col("_e._k").isNotNull && col("_e._k") =!= "")
      .groupBy(col("_e._g").as("_g"), col("_e._k").as("_k"), col("_e._s").as("_s"))
      .agg(count(lit(1)).as("_c"), min(col("_r")).as("_w"))
    // prior seconds carry counts, but no row of this batch
    val withPrior = prior.freqCounts match {
      case Some(p) => groups
        .unionByName(p.select(lit(Freq).as("_g"), col("key").cast("string").as("_k"),
          col("sec").as("_s"), col("cnt").as("_c"),
          lit(null).cast(groups.schema("_w").dataType).as("_w")))
        .groupBy("_g", "_k", "_s").agg(sum(col("_c")).as("_c"), min(col("_w")).as("_w"))
      case None => groups
    }
    val unseen = prior.seenValues match {
      case Some(st) => withPrior.join(
        st.select(col("field").as("_g"), col("value").cast("string").as("_k")),
        Seq("_g", "_k"), "left_anti")
      case None => withPrior
    }
    // a second is raw when the key's trailing count reaches the threshold; it
    // fires when no earlier raw second shares its reset bucket. Both windows
    // share one partitioning and order: one sort.
    val firsts = if (!freq) unseen else {
      val w = Window.partitionBy(col("_k"), col("_g")).orderBy(col("_s"))
      val raw = unseen
        .withColumn("_raw", col("_g") === Freq &&
          sum(col("_c")).over(w.rangeBetween(-conf.freqWindowSec, 0)) >= conf.freqThreshold)
        .withColumn("_b", floor(col("_s") / conf.freqResetSec))
      val fired = raw
        .withColumn("_pr", max(when(col("_raw"), col("_s")))
          .over(w.rowsBetween(Window.unboundedPreceding, -1)))
        .filter(col("_g") =!= Freq || (col("_raw") &&
          (col("_pr").isNull || floor(col("_pr") / conf.freqResetSec) < col("_b"))))
      prior.firedBuckets match {
        case Some(fb) => fired.join(
          fb.select(lit(Freq).as("_g"), col("key").cast("string").as("_k"),
            col("reset_bucket").as("_b")),
          Seq("_g", "_k", "_b"), "left_anti")
        case None => fired
      }
    }
    // per first row, which checks it is first for
    val checks = tracked ++ (if (freq) Seq(Freq) else Nil)
    val marks = checks.indices.map(i => max(col("_g") === checks(i)).as(s"_m$i"))
    val flags = firsts.filter(col("_w").isNotNull)
      .groupBy(col("_w")).agg(marks.head, marks.tail: _*)
    def flag(check: String): Column = coalesce(col(s"_m${checks.indexOf(check)}"), lit(false))
    val joined = df.join(flags, rowKey === col("_w"), "left_outer")
    val withNew = if (tracked.isEmpty) joined else joined
      .withColumn("hits_new", ClauseCompiler.guarded(tracked.map(f => flag(f) ->
        ClauseCompiler.hitStruct(0, s"new:$f", lit(conf.newValueScore), "new"))))
      .withColumn("first_seen", tracked.map(flag).reduce(_ || _))
    val withFreq = if (!freq) withNew else withNew
      .withColumn("freq_hit", flag(Freq))
      .withColumn("hits_freq",
        when(col("freq_hit"),
          array(ClauseCompiler.hitStruct(0, "freq", lit(conf.freqScore), "freq")))
          .otherwise(array().cast("array<struct<rule_id:int,name:string,score:int,kind:string>>")))
    def plus(before: Option[DataFrame], batch: DataFrame) =
      Some(before.fold(batch)(batch.unionByName(_)))
    // the tracked fields' common type, as a union of them widens it
    def valueType = tracked.map(f => src.select(col(f).as("v")))
      .reduce(_ unionByName _).schema("v").dataType
    def key = col("_k").cast(src.schema(conf.freqKey).dataType).as("key")
    // with freq, `firsts` holds the unseen tracked groups (`_raw` false) and
    // the fired freq groups (`_raw` true). Seen and fired select them by `_raw`
    // and keep `_w`, so their plans are the flags' up to the window and reuse
    // its generated classes: a filter on `_g` is pushed below the aggregation,
    // and a plan that drops `_w` drops its min, a new class per stage either way.
    val next = graft.Pipeline.State(
      seenValues = if (tracked.isEmpty) prior.seenValues else plus(prior.seenValues,
        (if (freq) firsts.filter(!col("_raw") && col("_w").isNotNull) else firsts)
          .select(col("_g").as("field"), col("_k").cast(valueType).as("value"))),
      fpSeen = None,
      freqCounts = if (!freq) prior.freqCounts else Some(withPrior.filter(col("_g") === Freq)
        .select(key, col("_s").as("sec"), col("_c").as("cnt"))),
      firedBuckets = if (!freq) prior.firedBuckets else plus(prior.firedBuckets,
        firsts.filter(col("_raw") && col("_w").isNotNull)
          .select(key, col("_b").as("reset_bucket"))))
    (withFreq.drop(("_w" +: checks.indices.map(i => s"_m$i")): _*), next)
  }
}

/** C6 first-seen (new-value check): [[NewAndFrequent]] for the tracked fields
  * alone. Adds `hits_new` and `first_seen`. */
object FirstSeen {
  def apply(df: DataFrame, conf: PipelineConf,
      seenValues: Option[DataFrame] = None,
      aux: Option[DataFrame] = None): DataFrame =
    NewAndFrequent.withState(df, conf, conf.trackedFields, freq = false,
      graft.Pipeline.State(seenValues, None), aux)._1
}

/** C7 frequency check at second resolution: [[NewAndFrequent]] for the
  * frequency key alone. Adds `freq_hit` and `hits_freq`. */
object Frequency {
  def apply(df: DataFrame, conf: PipelineConf,
      priorCounts: Option[DataFrame] = None,
      firedBuckets: Option[DataFrame] = None,
      aux: Option[DataFrame] = None): DataFrame =
    NewAndFrequent.withState(df, conf, Nil, freq = true,
      graft.Pipeline.State(None, None, priorCounts, firedBuckets), aux)._1
}

/** C8 scoring + severity banding. note = Σ hit scores via the higher-order
  * `aggregate` function (no UDF); severity = highest band ≤ note. */
object Scoring {
  /** severity = name of the highest band whose floor ≤ note. */
  def severityExpr(conf: PipelineConf): Column =
    conf.severityBands.sortBy(-_._1).foldLeft(None: Option[Column]) {
      case (acc, (minNote, name)) =>
        Some(acc match {
          case None => when(col("note") >= minNote, name)
          case Some(c) => c.when(col("note") >= minNote, name)
        })
    }.get.otherwise(conf.severityBands.head._2)

  def apply(df: DataFrame, conf: PipelineConf): DataFrame = {
    val hits = concat(col("hits_ioc"), col("hits_sig"), col("hits_ref"),
      col("hits_new"), col("hits_freq"))
    val withNote = df
      .withColumn("hits", hits)
      .withColumn("note",
        aggregate(col("hits"), lit(0), (acc, h) => acc + h.getField("score")))
      .drop("hits_ioc", "hits_sig", "hits_ref", "hits_new", "hits_freq")
    withNote
      .withColumn("severity", severityExpr(conf))
      .withColumn("routed", col("note") >= conf.firThreshold)
  }
}
