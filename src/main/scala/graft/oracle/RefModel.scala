package graft.oracle

import java.util.regex.Pattern

import graft.functions.GrokCompiler
import graft.model._

/** Single-threaded, deliberately naive reimplementation of the reference's
  * per-event check chain C1→C9 (SURVEY.md §5.1) — the executable correctness
  * oracle. No Spark. Semantics here and in [[graft.Pipeline]] must stay
  * bit-identical; every divergence is a bug in one of the two.
  *
  * Check order (SURVEY §3.2): parse → C1 fp-dedup → C2 whitelist →
  * C3 IOC → C4 sig rules → C5 ref baseline → C6 first-seen → C7 frequency →
  * C8 scoring → C9 severity/routing.
  */
object RefModel {

  final case class OracleRow(
      turn: Turn,
      fields: Map[String, String], // parsed string fields (status as string too)
      parseOk: Boolean,
      hits: List[Hit],
      note: Int,
      firstSeen: Boolean,
      freqHit: Boolean,
      severity: String,
      routed: Boolean)

  private val stringFields =
    Seq("action", "user", "src_ip", "dst_host", "hashv", "uri")

  private def fieldOf(t: Turn, fields: Map[String, String], name: String): Option[String] =
    name match {
      case "role"    => Option(t.role)
      case "tool"    => Option(t.tool).filter(_.nonEmpty)
      case "conv_id" => Option(t.conv_id)
      case "text"    => Option(t.text)
      case other     => fields.get(other)
    }

  /** Parse one turn against the conf's pattern list, first match wins —
    * (extracted string fields, parse_ok). Exposed for the Spark-vs-oracle
    * clause-equivalence fuzz (ClauseEquivalenceSpec). */
  def parseFields(t: Turn, conf: PipelineConf): (Map[String, String], Boolean) = {
    val groks = (conf.grokPattern +: conf.grokFallbacks)
      .map(p => GrokCompiler.compile(p))
    val hit = groks.iterator.map { g =>
      val m = Pattern.compile(g.regex).matcher(t.text)
      if (m.find()) Some(g.fields.zipWithIndex.flatMap { case (f, i) =>
        Option(m.group(i + 1)).map(f -> _)
      }.toMap)
      else None
    }.collectFirst { case Some(fs) => fs }
    (hit.getOrElse(Map.empty), hit.isDefined)
  }

  /** Tags array of a row (mirror of Parse's tags column). */
  private def tagsOf(t: Turn, parseOk: Boolean): Seq[String] =
    (if (!parseOk) Seq("_grokparsefailure") else Seq.empty) ++
      Option(t.tool).filter(_.nonEmpty).map("tool:" + _)

  /** Shared clause evaluator for C2 whitelist and C4 sig rules. Array-valued
    * fields (tags) match if ANY element matches — mirror of
    * ClauseCompiler.ArrayFields semantics. */
  private[graft] def clauseMatches(t: Turn, fields: Map[String, String],
      parseOk: Boolean, field: String, op: String, arg: String): Boolean = {
    val vs: Seq[String] =
      if (field == "tags") tagsOf(t, parseOk)
      else fieldOf(t, fields, field).toSeq
    // status clauses compare NUMERICALLY with trimmed args — the mirror of
    // ClauseCompiler's canonicalization (' 503' / '0503' must match 503)
    def one(s: String): Boolean = op match {
      case "rx" => Pattern.compile(arg).matcher(s).find()
      case "eq" =>
        if (field == "status") s.toIntOption.contains(arg.trim.toInt) else s == arg
      case "in" =>
        if (field == "status")
          arg.split(",").map(_.trim.toInt).exists(x => s.toIntOption.contains(x))
        else arg.split(",").contains(s)
      case "lt" => s.toDoubleOption.exists(_ < arg.trim.toDouble)
      case "gt" => s.toDoubleOption.exists(_ > arg.trim.toDouble)
      case "exists" => s.nonEmpty
      case other => throw new IllegalArgumentException(s"op $other")
    }
    vs.exists(one)
  }

  def apply(
      turns: Seq[Turn],
      ioc: Seq[IocEntry],
      rules: Seq[SigRule],
      ref: Seq[RefEntry],
      whitelist: Seq[WhitelistRule],
      conf: PipelineConf,
      seenValues: Set[(String, String)] = Set.empty,
      seenFps: Set[(String, Long)] = Set.empty): Seq[OracleRow] = {

    // pattern LIST, first match wins (mirrors Parse/GrokMatcher)
    val groks = (conf.grokPattern +: conf.grokFallbacks)
      .map(p => GrokCompiler.compile(p))
    val pats = groks.map(g => Pattern.compile(g.regex))
    val tsSec: Turn => Long = t => t.ts.getTime / 1000L
    val tsMicros: Turn => Long = t => t.ts.getTime * 1000L

    // global stable ordering: (ts, conv_id, turn_idx)
    val ordered = turns.sortBy(t => (tsMicros(t), t.conv_id, t.turn_idx))

    // ---- parse
    case class P(t: Turn, fields: Map[String, String], ok: Boolean)
    val parsed = ordered.map { t =>
      val hit = groks.zip(pats).iterator.map { case (g, pat) =>
        val m = pat.matcher(t.text)
        if (m.find()) Some(g.fields.zipWithIndex.flatMap { case (f, i) =>
          Option(m.group(i + 1)).map(f -> _)
        }.toMap)
        else None
      }.collectFirst { case Some(fs) => fs }
      hit match {
        case Some(fs) => P(t, fs, ok = true)
        case None => P(t, Map.empty, ok = false)
      }
    }

    // ---- C1 fingerprint dedup: fp key = NUL-joined non-null values of the
    // configured fingerprint fields (concat_ws semantics — the sha256 layer
    // is injective over this key, so comparing keys ≡ comparing hashes);
    // keep first per (fp, delay-bucket); cross-run: fp seen in a prior run's
    // same bucket ⇒ drop.
    def fpKey(p: P): String =
      conf.fingerprintFields.flatMap(f => fieldOf(p.t, p.fields, f)).mkString("\u0000")
    val seenBucket = scala.collection.mutable.Set.empty[(String, Long)] ++ seenFps
    val afterDedup = parsed.filter { p =>
      val bucket = tsSec(p.t) / conf.dedupDelaySec
      seenBucket.add((fpKey(p), bucket))
    }

    // ---- C2 whitelist (first/stop rules): any match ⇒ drop from pipeline
    val afterWl = afterDedup.filterNot { p =>
      whitelist.exists(w => clauseMatches(p.t, p.fields, p.ok, w.field, w.op, w.arg))
    }

    // ---- C3 IOC: kind → event field from the conf mapping; lowercased
    // equality; probed in kind-alphabetical order (mirror of IocEnrich)
    val kindField = conf.iocKindFields.sortBy(_._1)
    val iocByKind: Map[String, Map[String, Int]] =
      ioc.groupBy(_.kind).map { case (k, es) =>
        k -> es.groupBy(_.value.toLowerCase).map { case (v, g) => v -> g.map(_.score).max }
      }

    // ---- C4 sig rules grouped by rule_id (AND of clauses)
    val ruleGroups = rules.groupBy(_.rule_id).toSeq.sortBy(_._1)

    // ---- C5 ref baseline lookup (checked fields from the conf mapping)
    val refFields = conf.refFields
    val refSet: Set[(String, String, String)] =
      ref.map(r => (r.ref_key, r.field, r.value)).toSet

    // ---- C6 first-seen state
    val seen = scala.collection.mutable.Set.empty[(String, String)] ++ seenValues

    // ---- C7 frequency pre-pass: per key, trailing count at second resolution.
    // Rows with a missing/empty key have no frequency identity (mirror of
    // NewAndFrequent's null/empty event filter).
    val byKey = afterWl.groupBy(p => fieldOf(p.t, p.fields, conf.freqKey).getOrElse(""))
      .filter(_._1.nonEmpty)
    // counts of rows per (key, sec)
    val freqCnt: Map[(String, Long), Long] = byKey.flatMap { case (k, rows) =>
      val secs = rows.map(p => tsSec(p.t))
      val perSec = secs.groupBy(identity).map { case (s, g) => s -> g.size.toLong }
      perSec.keys.map { s =>
        val c = perSec.filter { case (s2, _) => s2 >= s - conf.freqWindowSec && s2 <= s }
          .values.sum
        (k, s) -> c
      }
    }
    // first raw-hit per (key, resetBucket)
    val firedBucket = scala.collection.mutable.Set.empty[(String, Long)]

    // ---- main chain over survivors in stable order
    afterWl.map { p =>
      val t = p.t
      var hits = List.newBuilder[Hit]

      if (p.ok) {
        // C3 IOC
        for ((kind, fld) <- kindField) {
          for (v <- fieldOf(t, p.fields, fld); score <- iocByKind.getOrElse(kind, Map.empty).get(v.toLowerCase))
            hits += Hit(0, s"ioc:$kind", score, "ioc")
        }
        // C4 sig
        for ((rid, clauses) <- ruleGroups) {
          if (clauses.forall(c => clauseMatches(t, p.fields, p.ok, c.field, c.op, c.arg)))
            hits += Hit(rid, clauses.head.name, clauses.map(_.score).sum, "sig")
        }
        // C5 ref deviations
        for (f <- refFields; v <- fieldOf(t, p.fields, f) if v.nonEmpty) {
          if (!refSet.contains((t.role, f, v)))
            hits += Hit(0, s"ref:$f", conf.refScore, "ref")
        }
      }

      // C6 first-seen (tracked fields, parse_ok only)
      var firstSeen = false
      if (p.ok) {
        for (f <- conf.trackedFields; v <- fieldOf(t, p.fields, f) if v.nonEmpty) {
          if (seen.add((f, v))) {
            firstSeen = true
            hits += Hit(0, s"new:$f", conf.newValueScore, "new")
          }
        }
      }

      // C7 frequency
      val key = fieldOf(t, p.fields, conf.freqKey).getOrElse("")
      val cnt = freqCnt.getOrElse((key, tsSec(t)), 0L)
      val raw = cnt >= conf.freqThreshold
      val freqHit = raw && firedBucket.add((key, tsSec(t) / conf.freqResetSec))
      if (freqHit) hits += Hit(0, "freq", conf.freqScore, "freq")

      // C8 scoring + C9 severity/routing
      val allHits = hits.result()
      val note = allHits.map(_.score).sum
      val severity = conf.severityBands.filter(_._1 <= note).lastOption
        .map(_._2).getOrElse(conf.severityBands.head._2)
      val routed = note >= conf.firThreshold

      OracleRow(t, p.fields, p.ok, allHits, note, firstSeen, freqHit, severity, routed)
    }
  }

  /** Per-sink aggregate counts over routed rows (the FIR-feed analogue check). */
  def sinkCounts(rows: Seq[OracleRow]): Map[String, Long] =
    rows.filter(_.routed).groupBy(_.severity).map { case (s, g) => s -> g.size.toLong }
}
