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
        array_compact(array(
          when(col("_g").isNull, "_grokparsefailure"),
          when(nullif(col("tool"), lit("")).isNotNull,
            concat(lit("tool:"), col("tool"))))).as("tags"))
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
  def apply(df: DataFrame, ioc: DataFrame,
      conf: PipelineConf = PipelineConf()): DataFrame = {
    // kind → probed field comes from the rule-file config (conf.iocKindFields);
    // sorted by kind so hits_ioc order matches RefModel regardless of the
    // order the config file lists the mappings in
    val kindField = conf.iocKindFields.sortBy(_._1)
    val dim = ioc.groupBy(col("kind"), lower(col("value")).as("value"))
      .agg(max(col("score")).as("score"))
    val joined = kindField.foldLeft(df) { case (acc, (kind, fld)) =>
      val d = broadcast(dim.filter(col("kind") === kind)
        .select(col("value").as(s"_${kind}_v"), col("score").as(s"_${kind}_s")))
      acc.join(d, lower(col(fld)) === col(s"_${kind}_v"), "left_outer")
        .drop(s"_${kind}_v")
    }
    val hitCols = kindField.map { case (kind, _) =>
      when(col(s"_${kind}_s").isNotNull,
        ClauseCompiler.hitStruct(0, s"ioc:$kind", col(s"_${kind}_s"), "ioc"))
    }
    joined.withColumn("hits_ioc", array_compact(array(hitCols: _*)))
      .drop(kindField.map { case (k, _) => s"_${k}_s" }: _*)
  }
}

/** C4 signature rules: every rule folded into one compiled boolean Column
  * (clauses of the same rule_id AND together); hits collected with
  * array_compact — zero joins, fully codegen'd. Guarded by parse_ok,
  * matching RefModel (unparsed rows skip rule checks). */
object SigRules {
  def apply(df: DataFrame, rules: Seq[SigRule]): DataFrame = {
    val hitCols = rules.groupBy(_.rule_id).toSeq.sortBy(_._1).map { case (rid, cl) =>
      val pred = cl.map(c => ClauseCompiler.predicate(c.field, c.op, c.arg))
        .reduce(_ && _)
      when(col("parse_ok") && pred,
        ClauseCompiler.hitStruct(rid, cl.head.name, lit(cl.map(_.score).sum), "sig"))
    }
    df.withColumn("hits_sig", array_compact(array(hitCols: _*)))
  }
}

/** C5 reference-baseline check: broadcast left-outer join per checked field;
  * a row whose (role, field, value) finds no baseline partner is an anomaly.
  * (Left-outer + null-marker rather than left_anti because non-deviant rows
  * must flow through with empty hits, not be filtered.) */
object RefCheck {
  def apply(df: DataFrame, ref: DataFrame, conf: PipelineConf): DataFrame = {
    val RefFields = conf.refFields
    val joined = RefFields.foldLeft(df) { (acc, f) =>
      val d = broadcast(ref.filter(col("field") === f)
        .select(col("ref_key").as(s"_rk_$f"), col("value").as(s"_rv_$f"))
        .distinct())
      acc.join(d, col("role") === col(s"_rk_$f") && col(f) === col(s"_rv_$f"),
        "left_outer").drop(s"_rk_$f")
    }
    val hitCols = RefFields.map { f =>
      when(col("parse_ok") && col(f).isNotNull && col(f) =!= "" &&
        col(s"_rv_$f").isNull,
        ClauseCompiler.hitStruct(0, s"ref:$f", lit(conf.refScore), "ref"))
    }
    joined.withColumn("hits_ref", array_compact(array(hitCols: _*)))
      .drop(RefFields.map(f => s"_rv_$f"): _*)
  }
}

/** C6 first-seen (new-value check), batch form.
  *
  * NOT a `Window.partitionBy(value)` + row_number: a hot value (a user seen in
  * millions of turns) would pile one giant window partition just to mark rank
  * 1, and null values of garbage rows would pile another. Instead:
  * aggregate each tracked field to `value → min(ts_us, conv_id, turn_idx)`
  * (partial-aggregated map-side ⇒ skew-proof), anti-join the checkpointed
  * `seen_values` state, and join the tiny firsts table back (AQE broadcasts it
  * when small). */
object FirstSeen {
  /** `aux`: the row source used for the value→min-key aggregations — pass the
    * PERSISTED upstream (e.g. post-whitelist survivors) so the slim aggs read
    * pruned cached columns instead of recomputing the enrich chain. Must
    * contain exactly the same rows as `df`. */
  def apply(df: DataFrame, conf: PipelineConf,
      seenValues: Option[DataFrame] = None,
      aux: Option[DataFrame] = None): DataFrame = {
    val src = aux.getOrElse(df)
    val rowKey = struct(col("ts_us"), col("conv_id"), col("turn_idx"))
    val withNew = conf.trackedFields.foldLeft(df) { (acc, f) =>
      val cand = src.filter(col("parse_ok") && col(f).isNotNull && col(f) =!= "")
      val firstsAll = cand.groupBy(col(f).as("_v"))
        .agg(min(rowKey).as("_w"))
      val firsts = seenValues match {
        case Some(st) => firstsAll.join(
          st.filter(col("field") === f).select(col("value").as("_v")),
          Seq("_v"), "left_anti")
        case None => firstsAll
      }
      acc.join(firsts, col(f) === col("_v") && rowKey === col("_w"), "left_outer")
        .withColumn(s"_new_$f", col("_w").isNotNull)
        .drop("_v", "_w")
    }
    val hitCols = conf.trackedFields.map { f =>
      when(col(s"_new_$f"),
        ClauseCompiler.hitStruct(0, s"new:$f", lit(conf.newValueScore), "new"))
    }
    withNew
      .withColumn("hits_new", array_compact(array(hitCols: _*)))
      .withColumn("first_seen",
        conf.trackedFields.map(f => col(s"_new_$f")).reduce(_ || _))
      .drop(conf.trackedFields.map(f => s"_new_$f"): _*)
  }
}

/** C7 frequency check at second resolution, two-phase for skew:
  * (1) per-(key, second) counts — partial aggregation gives map-side combine,
  *     so a hot conversation never funnels raw rows into one partition;
  * (2) trailing-window sum over the per-second series (tiny vs raw rows),
  *     joined back on (key, second) — finer-grained than key alone.
  * Re-fire suppression: first raw-hit row per (key, reset-bucket).
  *
  * Cross-run state (resume): `priorCounts` = per-(key, sec) counts from
  * earlier runs (so a conversation spanning a batch boundary still counts its
  * trailing window), `firedBuckets` = (key, reset-bucket) pairs that already
  * fired (re-fire suppression survives the boundary). */
object Frequency {
  /** Per-(key, sec) counts of this batch — also the freq state delta.
    * Rows with a NULL/empty key carry no frequency identity (a configurable
    * freqKey can be a nullable parsed field) — they never count toward or
    * receive a burst (mirrored in RefModel). */
  def perSecCounts(df: DataFrame, conf: PipelineConf): DataFrame =
    df.filter(col(conf.freqKey).isNotNull && col(conf.freqKey).cast("string") =!= "")
      .groupBy(col(conf.freqKey).as("_k"), col("ts_sec").as("_s"))
      .agg(count(lit(1)).as("_c"))

  /** `aux`: same-rows slim source for the per-sec counts and firing-row
    * aggregations (pass the persisted upstream; see FirstSeen.aux). */
  def apply(df: DataFrame, conf: PipelineConf,
      priorCounts: Option[DataFrame] = None,
      firedBuckets: Option[DataFrame] = None,
      aux: Option[DataFrame] = None): DataFrame = {
    val key = col(conf.freqKey)
    val src = aux.getOrElse(df)
    val batchCounts = perSecCounts(src, conf)
    val perSec = priorCounts match {
      case Some(p) => batchCounts
        .unionByName(p.select(col("key").as("_k"), col("sec").as("_s"), col("cnt").as("_c")))
        .groupBy("_k", "_s").agg(sum(col("_c")).as("_c"))
      case None => batchCounts
    }
    // trailing count + re-fire suppression computed ENTIRELY at per-second
    // grain (tiny vs raw rows — no full-row sort/window needed):
    //   _raw       per (key, sec): trailing count ≥ threshold
    //   _frs       per (key, reset-bucket): earliest raw second (minus
    //              already-fired buckets from prior runs)
    val w = Window.partitionBy(col("_k")).orderBy(col("_s"))
      .rangeBetween(-conf.freqWindowSec, 0)
    val cnt = perSec
      .withColumn("_cnt", sum(col("_c")).over(w))
      .withColumn("_raw", col("_cnt") >= conf.freqThreshold)
      .withColumn("_b", floor(col("_s") / conf.freqResetSec))
      .select("_k", "_s", "_raw", "_b")
    val rawSecs = cnt.filter(col("_raw"))
    val unfired = firedBuckets match {
      case Some(fb) => rawSecs.join(
        fb.select(col("key").as("_k"), col("reset_bucket").as("_b")),
        Seq("_k", "_b"), "left_anti")
      case None => rawSecs
    }
    val firstRawSec = unfired.groupBy("_k", "_b").agg(min(col("_s")).as("_frs"))
    // the single firing row per (key, first-raw-sec) = min (ts_us, conv_id,
    // turn_idx) — aggregated from the slim source (skew-proof, pruned read)
    val rowKey = struct(col("ts_us"), col("conv_id"), col("turn_idx"))
    val firstRow = src
      .join(firstRawSec.select(col("_k").as("_fk"), col("_frs").as("_fs")),
        key === col("_fk") && col("ts_sec") === col("_fs"), "inner")
      .groupBy(col("_fk"), col("_fs"))
      .agg(min(rowKey).as("_fw"))
    // the main stream is consumed exactly ONCE: a single join attaching the
    // firing-row key (tiny dim; AQE broadcasts it)
    val withHit = df.join(firstRow,
      key === col("_fk") && col("ts_sec") === col("_fs") && rowKey === col("_fw"),
      "left_outer")
      .withColumn("freq_hit", col("_fw").isNotNull)
      .drop("_fk", "_fs", "_fw")
    withHit
      .withColumn("hits_freq",
        when(col("freq_hit"),
          array(ClauseCompiler.hitStruct(0, "freq", lit(conf.freqScore), "freq")))
          .otherwise(array().cast("array<struct<rule_id:int,name:string,score:int,kind:string>>")))
  }
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
