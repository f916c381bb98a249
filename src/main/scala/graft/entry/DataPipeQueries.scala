package graft.entry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{ArrayDot, TextUnits}
import graft.operators.{CurationState, IvfTrain, NearDup}
import graft.operators.CurationState.{BoilerThreshold, EvalSet, PseudoEvalModulus}
import graft.operators.VectorSearch.{hammingProbes, hyperplaneCandidates,
  ivfCandidates, neighbours, queries, rerank, vectors}

/** Training-data pipeline operators over `documents`/`embeddings`:
  * deduplication (exact / n-gram Jaccard / MinHash-LSH / SimHash /
  * embedding-cosine), similarity search (brute-force + LSH-bucketed ANN),
  * and text analysis (language-ID, quality, tokens, fingerprint).
  *
  * Every op is engineered to be bit-reproducible in DuckDB: hashing uses
  * md5 (identical hex in both engines), jaccard thresholds use integer
  * arithmetic, cosine ranking rounds to 6 decimals before ordering.
  * At 100 TB the quadratic ops (shingle join, brute-force ANN) are the
  * *verification* paths; MinHash-LSH banding and sign-bit bucketing are the
  * scale paths (candidates only within shared buckets). */
object DataPipeQueries {

  private def cycle(df: DataFrame): DataFrame = QueryCache.cycle(df)

  /** A query's scratch dir under java.io.tmpdir, one per Spark application:
    * wiped and rewritten by each invocation in that application, never
    * shared with another JVM's. */
  private[graft] def scratchDir(s: SparkSession, name: String): String =
    s"${System.getProperty("java.io.tmpdir")}/$name-${s.sparkContext.applicationId}"

  private def docs(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"$d/documents.parquet")
  private def embs(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"$d/embeddings.parquet")

  /** words of `text` (Spark side). */
  private val wordsCol = split(col("text"), " ")

  /** DuckDB twin of [[NearDup]]'s distinct word-3-gram shingle list (single
    * line — embedded in stripMargin templates, so it must not start lines
    * with '|'). */
  private val shinglesSqlD =
    "list_distinct(list_transform(range(len(str_split(text, ' ')) - 2), " +
      "i -> str_split(text, ' ')[i + 1] || ' ' || str_split(text, ' ')[i + 2] " +
      "|| ' ' || str_split(text, ' ')[i + 3]))"

  /** first-4-hex-chars-of-md5 → int, cross-engine. */
  private def h4Spark(c: Column): Column =
    conv(substring(md5(c), 1, 4), 16, 10).cast("int")
  private def h4Sql(e: String): String =
    s"""((strpos('0123456789abcdef', substr(md5($e), 1, 1)) - 1) * 4096
       | + (strpos('0123456789abcdef', substr(md5($e), 2, 1)) - 1) * 256
       | + (strpos('0123456789abcdef', substr(md5($e), 3, 1)) - 1) * 16
       | + (strpos('0123456789abcdef', substr(md5($e), 4, 1)) - 1))""".stripMargin

  private val MinhashSeeds = 12
  private val BandSize = 4 // → 3 bands of 4 hashes

  /** PII patterns (ta_pii_scrub) — the shared Java/RE2 regex subset, one
    * definition rendered into both engines. Triple-quoted: backslashes are
    * literal. */
  private val PiiEmailPat = """[a-z0-9._]+@[a-z0-9.]+[a-z]"""
  private val PiiCardPat = """[0-9]{4} [0-9]{4} [0-9]{4} [0-9]{4}"""
  private val PiiIpPat = """[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"""

  /** 8-bit sign-LSH bucket over fixed dims (shared by the ANN queries). */
  private val SignDims = Seq(1, 9, 17, 25, 33, 41, 49, 57)
  private def signBucket: Column = concat(SignDims.map(i =>
    when(element_at(col("embedding"), i) >= 0, "1").otherwise("0")): _*)
  private val signCasesSqlD = SignDims.map(i =>
    s"(CASE WHEN embedding[$i] >= 0 THEN '1' ELSE '0' END)")
  // single line — embedded in stripMargin templates, so it must not start
  // lines with '|' (stripMargin would eat half of a '||' concat)
  private val signBucketSqlD: String = signCasesSqlD.mkString(" || ")
  /** The `bk` CTE of dd_embed_lsh and ann_lsh_topk, one sign per line —
    * so it is concatenated to a query, never embedded in a stripMargin one. */
  private val signBucketCteSqlD: String = "WITH bk AS (\n  SELECT vec_id, embedding,\n    " +
    signCasesSqlD.mkString("\n    || ") + " AS bucket\n  FROM embeddings)"

  // ---- seeded random-hyperplane LSH (r4): 8 tables × 8 Rademacher planes,
  // inlined as constants into both engines; Hamming-1 multi-probe per table.
  // Sign decisions ride bit-exact left-assoc double sums (see Hyperplanes).
  private val RpTables = 8
  private val rpPlanes = graft.operators.Hyperplanes.planes(7L, RpTables, 8, 64)
  private def rpIdxSqlD: String = (0 until RpTables).map(t =>
    s"SELECT vec_id, embedding, $t AS t, " +
      s"${graft.operators.Hyperplanes.bucketSql(rpPlanes(t), "embedding")} AS bk " +
      "FROM embeddings").mkString("\nUNION ALL\n")
  private val rpProbeSqlD: String =
    "unnest(list_transform(range(0, 9), i -> CASE WHEN i = 0 THEN bk " +
      "ELSE substr(bk, 1, i - 1) || (CASE WHEN substr(bk, i, 1) = '1' " +
      "THEN '0' ELSE '1' END) || substr(bk, i + 1) END))"
  /** DuckDB random-hyperplane candidates for the queries vec_id < 20: the
    * CTEs `idx` and `pr`, then the `(qid, nid)` pairs as CTE `cand`. */
  private def rpCandSql(cand: String): String =
    s"""idx AS (
       |$rpIdxSqlD),
       |pr AS (
       |  SELECT vec_id AS qid, t, $rpProbeSqlD AS probe
       |  FROM idx WHERE vec_id < 20),
       |$cand AS (
       |  SELECT DISTINCT pr.qid, i.vec_id AS nid
       |  FROM pr JOIN idx i ON i.t = pr.t AND i.bk = pr.probe
       |    AND i.vec_id != pr.qid)""".stripMargin

  // trained-IVF knobs (r4): k=16 centroids, 3 Lloyd iterations, nprobe=3
  private val IvfK = 16
  private val IvfIters = 3
  private val IvfProbes = 3

  /** Top-n centroids per vector of `src` from the untrained stand-in
    * codebook (the first 16 vectors of the frame `e`), by rounded cosine,
    * ties by cid (ann_ivf_topk, ann_recall). */
  private def nearestStandIn(e: DataFrame, src: DataFrame, n: Int): DataFrame = {
    val cents = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cn"))
    src.crossJoin(broadcast(cents))
      .withColumn("cs", round(ArrayDot.dot(col("v"), col("cv"))
        / (col("nrm") * col("cn")), 6))
      .withColumn("rk", row_number().over(
        Window.partitionBy("vec_id").orderBy(desc("cs"), asc("cid"))))
      .filter(col("rk") <= n)
  }

  /** recall@10 rows `(method, hits, recall_bp)`: each method's reranked
    * top-10 against the brute-force top-10 of the queries `q` over the
    * neighbours `n` (20 queries, so recall_bp = hits · 50). */
  private def recallRows(q: DataFrame, n: DataFrame,
      methods: (String, DataFrame)*): DataFrame = {
    def top10(cand: DataFrame) = rerank(cand, 10).select("qid", "nid")
    val truth = QueryCache.retain(top10(q.join(n, col("nid") =!= col("qid"))))
    methods.map { case (m, cand) =>
      top10(cand).join(truth, Seq("qid", "nid"))
        .agg(count(lit(1)).as("hits"))
        .select(lit(m).as("method"), col("hits"),
          (col("hits") * 50).cast("int").as("recall_bp"))
    }.reduce(_ unionByName _).orderBy("method")
  }

  /** DuckDB cosine of an embedding `e` to a trained centroid `c`. */
  private val ivfCosSql =
    s"${IvfTrain.dotSql("e.embedding", "c.cv", 64)} / (e.nd * c.cn)"

  /** DuckDB trained-IVF candidates after the training CTEs: `asg`, the
    * probes of the queries vec_id < `nq` as CTE `probes`, and their
    * `(qid, nid)` pairs as CTE `cand`. */
  private def ivfCandSql(probes: String, cand: String, nq: Int): String =
    s"""asg AS (
       |  SELECT vec_id AS nid, cid FROM (
       |    SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY $ivfCosSql DESC, c.cid) AS rk
       |    FROM eq e, cents$IvfIters c) WHERE rk = 1),
       |$probes AS (
       |  SELECT vec_id AS qid, cid FROM (
       |    SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY $ivfCosSql DESC, c.cid) AS rk
       |    FROM eq e, cents$IvfIters c WHERE e.vec_id < $nq) WHERE rk <= $IvfProbes),
       |$cand AS (
       |  SELECT DISTINCT p.qid, a.nid
       |  FROM $probes p JOIN asg a ON p.cid = a.cid AND a.nid != p.qid)""".stripMargin

  /** DuckDB top-`k` tail over a `sc` CTE of `(qid, nid, <c>)` cosines. */
  private def rankSql(c: String, k: Int): String =
    s"""rk AS (SELECT qid, nid,
       |    row_number() OVER (PARTITION BY qid ORDER BY $c DESC, nid) AS rank FROM sc)
       |SELECT qid, rank, nid FROM rk WHERE rank <= $k ORDER BY qid, rank""".stripMargin

  /** DuckDB rerank of a `cand` CTE of `(qid, nid)`: the cosine as column `c`
    * of CTE `sc`, then the top `k`. */
  private def candRerankSql(c: String, k: Int): String =
    s"""sc AS (
       |  SELECT cand.qid, cand.nid,
       |    round(list_cosine_similarity(q.embedding, n.embedding), 6) AS $c
       |  FROM cand
       |  JOIN embeddings q ON q.vec_id = cand.qid
       |  JOIN embeddings n ON n.vec_id = cand.nid),
       |${rankSql(c, k)}""".stripMargin

  /** DuckDB top-10 `(qid, nid)` CTE `name` of the queries `p` (`qid`, `qv`)
    * over the embeddings `e`, both joined as `from`. */
  private def top10Sql(name: String, p: String, from: String): String =
    s"""$name AS (
       |  SELECT qid, nid FROM (
       |    SELECT $p.qid, e.vec_id AS nid, row_number() OVER (PARTITION BY $p.qid
       |      ORDER BY round(list_cosine_similarity($p.qv, e.embedding), 6) DESC, e.vec_id) AS rk
       |    FROM $from) WHERE rk <= 10)""".stripMargin

  /** DuckDB top-10 `(qid, nid)` CTE `name` of the candidate CTE `cand`. */
  private def candTop10Sql(name: String, cand: String): String =
    s"""$name AS (
       |  SELECT qid, nid FROM (
       |    SELECT $cand.qid, $cand.nid, row_number() OVER (PARTITION BY $cand.qid
       |      ORDER BY round(list_cosine_similarity(q.qv, n.embedding), 6) DESC, $cand.nid) AS rk
       |    FROM $cand JOIN q ON q.qid = $cand.qid
       |    JOIN embeddings n ON n.vec_id = $cand.nid) WHERE rk <= 10)""".stripMargin

  /** DuckDB replay of a trained-IVF search for queries vec_id < 10: the
    * training CTEs, then assignment, probes, candidates and the top `k`. */
  private def ivfSearchSql(k: Int, trainWhere: String = ""): String =
    s"""WITH ${IvfTrain.oracleCtes(IvfK, IvfIters, 64, trainWhere)},
       |${ivfCandSql("probes", "cand", 10)},
       |${candRerankSql("cs", k)}""".stripMargin

  /** DuckDB `segs`, `e`, `fr` and `k` CTEs over the table `src`: the
    * 10-word segments of [[TextUnits.segWindows]], their corpus frequency
    * and the boilerplate flag — shared by dd_line_dedup and dd_incremental,
    * with [[lineAggSql]], the per-doc screen of [[TextUnits.screenSegs]]. */
  private def segOracleCtes(src: String): String =
    s"""segs AS (
       |  SELECT doc_id, unnest(list_transform(
       |    range((len(str_split(text, ' ')) + 9) // 10), k ->
       |      {'seg_idx': k, 'seg': array_to_string(
       |        str_split(text, ' ')[k * 10 + 1 : k * 10 + 10], ' ')})) AS s
       |  FROM $src),
       |e AS (SELECT doc_id, s.seg_idx AS seg_idx, s.seg AS seg FROM segs),
       |fr AS (SELECT md5(seg) AS h, count(*) AS n FROM e GROUP BY 1),
       |k AS (SELECT e.doc_id, e.seg_idx, e.seg, fr.n >= $BoilerThreshold AS boiler
       |      FROM e JOIN fr ON md5(e.seg) = fr.h)""".stripMargin
  private val lineAggSql: String =
    """SELECT doc_id, CAST(count(*) AS INT) AS n_segs,
      |  CAST(sum(CASE WHEN boiler THEN 1 ELSE 0 END) AS INT) AS n_dropped,
      |  coalesce(string_agg(CASE WHEN NOT boiler THEN seg END, ' '
      |    ORDER BY seg_idx), '') AS clean_text""".stripMargin

  /** DuckDB twin of [[TextUnits.gram8Rows]]: the distinct md5-hashed
    * word-8-gram list of `text` and its word floor (single lines). */
  private val gram8SqlD: String =
    "list_distinct(list_transform(range(len(str_split(text, ' ')) - 7), " +
      "i -> md5(array_to_string(str_split(text, ' ')[i + 1 : i + 8], ' '))))"
  private val gram8FloorSqlD = "len(str_split(text, ' ')) >= 8"

  /** DuckDB `g8` (the corpus 8-grams) and `ev` (the pseudo eval set's
    * 8-grams) CTEs of dd_contamination and ta_curation. */
  private val evalGramsOracleCtes: String =
    s"""g8 AS (
       |  SELECT doc_id, unnest($gram8SqlD) AS h
       |  FROM documents WHERE $gram8FloorSqlD),
       |ev AS (SELECT DISTINCT h FROM g8 WHERE doc_id % $PseudoEvalModulus = 0)""".stripMargin

  // stopword dictionaries for the language-ID heuristic
  private val langDicts: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "fast", "slow"),
    "es" -> Seq("el", "la", "de", "y", "que"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "et", "les", "des", "un"))

  // ---- language-ID pieces shared by ta_langid and ta_curation: per-lang
  // stopword-hit scores + first-wins argmax, rendered for BOTH engines.
  private def withLangScores(df: DataFrame): DataFrame =
    langDicts.foldLeft(df) { case (acc, (l, ws)) =>
      acc.withColumn(s"s_$l",
        size(filter(split(col("text"), " "),
          x => x.isin(ws.map(_.asInstanceOf[Any]): _*))).cast("int"))
    }
  private def predLangCol: Column = {
    val keys = langDicts.map(_._1)
    keys.init.zipWithIndex.foldLeft(None: Option[Column]) {
      case (acc, (l, i)) =>
        val rest = keys.drop(i + 1).map(k => col(s"s_$k"))
        val hi = if (rest.size == 1) rest.head else greatest(rest: _*)
        val c = col(s"s_$l") >= hi
        Some(acc match {
          case None => when(c, l)
          case Some(w) => w.when(c, l)
        })
    }.get.otherwise(keys.last)
  }
  private val langScoresSqlD: String = langDicts.map { case (l, ws) =>
    s"len(list_filter(str_split(text, ' '), x -> x IN (${ws.map(w => s"'$w'").mkString(",")}))) AS s_$l"
  }.mkString(",\n    ")
  private val predLangSqlD: String = {
    val keys = langDicts.map(_._1)
    val cases = keys.init.zipWithIndex.map { case (l, i) =>
      val rest = keys.drop(i + 1).map(k => s"s_$k")
      s"WHEN s_$l >= greatest(${rest.mkString(",")}) THEN '$l'"
    }.mkString(" ")
    s"CASE $cases ELSE '${keys.last}' END"
  }

  // ---- stratified corpus sampling/mixing spec (r5, VERDICT r4 #4): target
  // keep-rate in basis points per (language, quality-band) stratum — the
  // corpus-mixing knob of a training-data pipeline. Rendered into BOTH
  // engines from this ONE Seq so spec and oracle cannot drift. The sampler
  // is deterministic mod-hash (h4 of md5(doc_id || '#mix')), so the kept
  // set is engine-exact, stable across runs, and embarrassingly parallel —
  // no RNG, no shuffle beyond the final per-stratum count.
  private val mixSpec: Seq[(String, String, Int)] = Seq(
    ("de", "hi", 5000), ("de", "lo", 1500),
    ("en", "hi", 8000), ("en", "lo", 3000),
    ("es", "hi", 5000), ("es", "lo", 1500),
    ("fr", "hi", 5000), ("fr", "lo", 1500),
    ("zh", "hi", 2000), ("zh", "lo", 500))
  private val mixValuesSqlD: String =
    mixSpec.map { case (l, b, t) => s"('$l', '$b', $t)" }.mkString(", ")

  /** Eval seam (r5, VERDICT r4 #3): (eval 8-gram set, train-doc 8-grams)
    * of the corpus `ds` for the contamination screen under the eval set
    * `es` — a loaded table's grams against every document, or the
    * pseudo-set members' grams against the other documents. */
  private def evalSplit(ds: DataFrame, es: EvalSet): (DataFrame, DataFrame) = {
    val g8 = TextUnits.gram8Rows(ds, "doc_id")
    es.loaded match {
      case Some(ev) => (TextUnits.gram8Rows(ev).distinct(), g8)
      case None =>
        // r6: the eval and train legs split ONE persisted gram table —
        // unpersisted, each leg re-ran the full docs scan + 8-gram explode
        // + md5 (~n_words md5s per doc per leg). retain (not cycle):
        // ta_curation calls this after nearDupPairs' cycle.
        val g8p = QueryCache.retain(g8)
        (g8p.filter(es.member).select("h").distinct(), g8p.filter(!es.member))
    }
  }

  /** DuckDB `sh` (distinct word-3-gram shingles per doc of ≥ 3 words) and
    * `pairs` (shared-shingle counts per doc pair) CTEs — the candidate side
    * of dd_ngram_jaccard's oracle and of [[ccOracleCtes]]. */
  private val pairsOracleCtes: String =
    s"""sh AS (
       |  SELECT doc_id, unnest($shinglesSqlD) AS sh,
       |    len($shinglesSqlD) AS nsh
       |  FROM documents WHERE len(str_split(text, ' ')) >= 3),
       |pairs AS (
       |  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS inter,
       |    any_value(a.nsh) AS na, any_value(b.nsh) AS nb
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id)""".stripMargin

  /** DuckDB recursive-CTE oracle of the near-dup CC labels (shared by
    * dd_cluster_cc and ta_curation — one definition, two queries): verified
    * Jaccard pairs -> undirected edges -> transitive closure -> min label. */
  private val ccOracleCtes: String =
    s"""$pairsOracleCtes,
       |jp AS (SELECT i, j FROM pairs WHERE 3 * inter >= na + nb),
       |edges AS (SELECT i AS a, j AS b FROM jp UNION ALL SELECT j, i FROM jp),
       |reach(node, r) AS (
       |  SELECT DISTINCT a, a FROM edges
       |  UNION
       |  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.node = e.b),
       |lab AS (SELECT node, min(r) AS comp FROM reach GROUP BY node)""".stripMargin

  /** The corpus's verified near-dup pairs (dd_ngram_jaccard), over a
    * shingle frame cached for this query. */
  private def nearDupPairs(s: SparkSession, d: String): DataFrame =
    NearDup.pairs(cycle(NearDup.shingleSets(docs(s, d))))

  /** Near-dup CC labels `(node, comp)` of the corpus (dd_cluster_cc,
    * ta_curation). retain (NOT cycle): cycling here would evict the
    * shingle frame nearDupPairs cached before it materialized. */
  private def ccLabels(s: SparkSession, d: String): DataFrame =
    NearDup.ccLabels(QueryCache.retain(nearDupPairs(s, d).select(col("i"), col("j"))))

  val all: Seq[Q] = Seq(

    // ---- exact dedup: hash-groupBy, keep min doc_id per content hash.
    // Input doubled (docs ∪ docs) so the op demonstrably collapses dups.
    Q("dd_exact",
      """SELECT fp, CAST(min(doc_id) AS BIGINT) AS keep_id, count(*) AS n_copies
        |FROM (SELECT md5(text) AS fp, doc_id FROM documents
        |      UNION ALL SELECT md5(text) AS fp, doc_id FROM documents)
        |GROUP BY fp ORDER BY keep_id""".stripMargin) { (s, d) =>
      val u = docs(s, d).select(md5(col("text")).as("fp"), col("doc_id"))
      u.unionAll(u).groupBy("fp")
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy("keep_id")
    },

    // ---- n-gram Jaccard near-dup pairs (integer-exact threshold 0.5; the
    // DuckDB oracle stays the naive full inverted-index join, the Spark side
    // is NearDup.pairs' exact prefix-filtered AllPairs join).
    Q("dd_ngram_jaccard",
      s"""WITH $pairsOracleCtes
         |SELECT i, j, CAST(inter AS BIGINT) AS inter,
         |  CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb
         |FROM pairs WHERE 3 * inter >= na + nb ORDER BY i, j""".stripMargin) { (s, d) =>
      nearDupPairs(s, d).orderBy("i", "j")
    },

    // ---- near-dup CLUSTERING: the verified Jaccard pairs are only half the
    // dedup story — production dedup must group transitively-connected docs
    // into one cluster and keep a single canonical doc per cluster.
    // Spark side: NearDup.ccLabels' label propagation. Oracle: DuckDB
    // recursive CTE computing the same transitive closure. comp = min doc_id
    // of the component = the kept canonical doc.
    Q("dd_cluster_cc",
      s"""WITH RECURSIVE $ccOracleCtes
         |SELECT CAST(node AS BIGINT) AS doc_id, CAST(comp AS BIGINT) AS comp,
         |  CAST(count(*) OVER (PARTITION BY comp) AS BIGINT) AS n_members
         |FROM lab ORDER BY doc_id""".stripMargin) { (s, d) =>
      ccLabels(s, d)
        .withColumn("n_members",
          count(lit(1)).over(Window.partitionBy("comp")).cast("long"))
        .select(col("node").cast("long").as("doc_id"),
          col("comp").cast("long").as("comp"), col("n_members"))
        .orderBy("doc_id")
    },

    // ---- CCNet-style segment-level boilerplate removal (r4): chunk every
    // doc into non-overlapping 10-word segments, drop segments whose CORPUS
    // frequency ≥ 3 (repeated template/boilerplate text), reassemble the
    // doc from the survivors in order. The within-doc complement of
    // doc-level dedup: near-dup docs keep their unique tails, shared
    // boilerplate goes. Scale: explode ×~nw/10, hash-groupBy freq (map-side
    // combine), one equijoin back — all embarrassingly parallel.
    Q("dd_line_dedup",
      s"""WITH ${segOracleCtes("documents")}
         |$lineAggSql
         |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val e = TextUnits.segRows(docs(s, d))
      val fr = e.groupBy(md5(col("seg")).as("h")).agg(count(lit(1)).as("n"))
      TextUnits.screenSegs(e.join(fr, md5(col("seg")) === col("h"))
        .withColumn("boiler", col("n") >= BoilerThreshold))
        .orderBy("doc_id")
    },

    // ---- eval-contamination screen (r4): deterministic pseudo-eval-set
    // (CurationState.evalSet); a training doc is contaminated when it shares
    // ANY distinct 8-gram with any eval doc. Shape: hashed-shingle equijoin
    // (the same primitive as dd_ngram_jaccard), never doc×doc.
    Q("dd_contamination",
      s"""WITH $evalGramsOracleCtes,
         |tr AS (SELECT doc_id, h FROM g8 WHERE doc_id % $PseudoEvalModulus != 0)
         |SELECT doc_id, CAST(count(*) AS INT) AS n_shared
         |FROM tr JOIN ev USING (h) GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val (ev, tr) = evalSplit(docs(s, d), CurationState.evalSet(s))
      tr.join(ev, "h")
        .groupBy("doc_id").agg(count(lit(1)).cast("int").as("n_shared"))
        .orderBy("doc_id")
    },

    // ---- the composed training-data CURATION pass — what a real corpus
    // pipeline runs end-to-end: language gate (stopword argmax == 'en'),
    // quality floor (distinct-word ratio ≥ 0.35, min 5 words), and near-dup
    // canonicalization (drop every non-canonical member of a Jaccard
    // cluster). All pieces are the already-differential operators composed
    // into one plan: narrow feature projections + the CC loser anti-join.
    Q("ta_curation",
      s"""WITH RECURSIVE $ccOracleCtes,
         |$evalGramsOracleCtes,
         |contaminated AS (
         |  SELECT DISTINCT tr.doc_id FROM g8 tr JOIN ev USING (h)
         |  WHERE tr.doc_id % $PseudoEvalModulus != 0),
         |losers AS (SELECT node AS doc_id FROM lab WHERE node != comp),
         |f AS (SELECT doc_id, $langScoresSqlD,
         |    len(str_split(text, ' ')) AS nw,
         |    (len(list_distinct(str_split(text, ' '))) * 10000)
         |      // len(str_split(text, ' ')) AS uniq_bp
         |  FROM documents),
         |g AS (SELECT doc_id, nw, uniq_bp, $predLangSqlD AS pred_lang FROM f)
         |SELECT doc_id, CAST(nw AS INT) AS nw, CAST(uniq_bp AS INT) AS uniq_bp
         |FROM g WHERE pred_lang = 'en' AND nw >= 5 AND uniq_bp >= 3500
         |  AND doc_id NOT IN (SELECT doc_id FROM losers)
         |  AND doc_id % $PseudoEvalModulus != 0
         |  AND doc_id NOT IN (SELECT doc_id FROM contaminated)
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val feat = withLangScores(docs(s, d))
        .withColumn("nw", size(wordsCol))
        .withColumn("uniq_bp",
          floor(size(array_distinct(wordsCol)) * 10000 / size(wordsCol)).cast("int"))
        .withColumn("pred_lang", predLangCol)
      val losers = ccLabels(s, d)
        .filter(col("node") =!= col("comp")).select(col("node").as("doc_id"))
      // r4: the eval-contamination screen rides the same curation pass —
      // eval-member docs and any train doc sharing an 8-gram with one are
      // excluded from the training corpus (anti-joins, same primitive).
      // A loaded eval table has no member doc_ids, so its exact copies are
      // caught by the gram screen itself.
      val es = CurationState.evalSet(s)
      val (ev, trG8) = evalSplit(docs(s, d), es)
      val contaminated = trG8.join(ev, "h").select("doc_id").distinct()
      feat.join(losers, Seq("doc_id"), "left_anti")
        .join(contaminated, Seq("doc_id"), "left_anti")
        .filter(col("pred_lang") === "en" && col("nw") >= 5 &&
          col("uniq_bp") >= 3500 && !es.member)
        .select(col("doc_id"), col("nw").cast("int").as("nw"), col("uniq_bp"))
        .orderBy("doc_id")
    },

    // ---- RESUMABLE curation state (r5, VERDICT r4 #2): the same dedup /
    // boilerplate / contamination semantics, run INCREMENTALLY through the
    // snapshot/manifest state protocol (operators/CurationState.scala).
    // The query ingests the corpus as TWO batches — the originals, then an
    // id-shifted duplicate copy (so cross-run dedup demonstrably drops a
    // whole batch) — then screens the surviving canonical docs against the
    // accumulated segment-frequency and eval-gram state. The oracle runs the
    // SAME corpus single-pass: green means run(A) then run(B) equals
    // run(A ∪ B), the property that makes weekly corpus ingestion sound.
    Q("dd_incremental",
      s"""WITH docs2 AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents), text
         |  FROM documents),
         |${segOracleCtes("docs2")},
         |line AS ($lineAggSql
         |  FROM k GROUP BY doc_id),
         |keepers AS (SELECT min(doc_id) AS doc_id FROM docs2 GROUP BY md5(text)),
         |g8 AS (SELECT doc_id, unnest($gram8SqlD) AS h
         |  FROM docs2 WHERE $gram8FloorSqlD),
         |ev AS (SELECT DISTINCT h FROM g8 WHERE doc_id % $PseudoEvalModulus = 0),
         |sh AS (SELECT doc_id, CAST(count(*) AS INT) AS n_shared
         |  FROM g8 JOIN ev USING (h) GROUP BY doc_id)
         |SELECT kp.doc_id, line.n_segs, line.n_dropped, line.clean_text,
         |  coalesce(sh.n_shared, 0) AS n_shared
         |FROM keepers kp JOIN line USING (doc_id) LEFT JOIN sh USING (doc_id)
         |ORDER BY kp.doc_id""".stripMargin) { (s, d) =>
      val base = docs(s, d).select(col("doc_id"), col("text"))
      val mx = base.agg(max(col("doc_id"))).first().getLong(0)
      val shifted = base.select((col("doc_id") + lit(mx + 1)).as("doc_id"),
        col("text"))
      // per-application scratch dir, wiped per invocation (ADVICE r5): a fresh temp
      // dir per bench run accumulated full state copies in /tmp; the wipe
      // also guarantees each invocation starts from EMPTY state (stale
      // run-1/run-2 snapshots would corrupt the differential)
      val stateDir = scratchDir(s, "graft-cur-state-scratch")
      graft.util.Fs.deleteRecursively(new java.io.File(stateDir))
      CurationState.run(s, base, stateDir, "1")
      CurationState.run(s, shifted, stateDir, "2")
      val keepers = CurationState.load(s, stateDir).contentHashes.get
        .select(col("keep_id").as("doc_id"))
      CurationState.screen(s,
          base.unionByName(shifted).join(keepers, Seq("doc_id")), stateDir)
        .orderBy("doc_id")
    },

    // ---- MinHash + LSH banding: signature_k = lexicographic min of
    // md5(shingle || '#k'); bands of 4 → candidate pairs share a band.
    Q("dd_minhash_lsh",
      s"""WITH sh AS (
         |  SELECT doc_id, unnest($shinglesSqlD) AS sh FROM documents
         |  WHERE len(str_split(text, ' ')) >= 3),
         |mh AS (
         |  SELECT doc_id, k.seed, min(md5(sh || '#' || CAST(k.seed AS VARCHAR))) AS mh
         |  FROM sh, (SELECT unnest(range($MinhashSeeds)) AS seed) k
         |  GROUP BY doc_id, k.seed),
         |bands AS (
         |  SELECT doc_id, seed // $BandSize AS band,
         |    string_agg(mh, '|' ORDER BY seed) AS sig
         |  FROM mh GROUP BY doc_id, seed // $BandSize)
         |SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
         |FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
         |ORDER BY i, j""".stripMargin) { (s, d) =>
      // the 12 minhashes are 12 min() AGGREGATE columns over the un-exploded
      // shingle rows (not a 12× seed explode — that multiplied shuffle input
      // by MinhashSeeds); band signatures are then a narrow concat + a
      // 3-element explode of the per-doc row.
      val sh = NearDup.shingleRows(docs(s, d))
      val mhAggs = (0 until MinhashSeeds).map(k =>
        min(md5(concat(col("sh"), lit(s"#$k")))).as(s"mh$k"))
      val mh = sh.groupBy("doc_id").agg(mhAggs.head, mhAggs.tail: _*)
      val nBands = MinhashSeeds / BandSize
      val bandStructs = (0 until nBands).map(b =>
        struct(lit(b).as("band"),
          concat_ws("|", (0 until BandSize).map(k => col(s"mh${b * BandSize + k}")): _*)
            .as("sig")))
      val bands = mh.select(col("doc_id"), explode(array(bandStructs: _*)).as("bs"))
        .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
      // r6: pair generation via ONE grouped pass (see sortedPairs) — the
      // former bands-self-join computed the whole shingle→12-minhash
      // aggregation subtree twice (12 md5s per token row per side)
      bands.groupBy("band", "sig")
        .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
        .filter(size(col("ids")) >= 2)
        .select(explode(NearDup.sortedPairs(col("ids"))).as("p"))
        .select(col("p.i").as("i"), col("p.j").as("j"))
        .distinct().orderBy("i", "j")
    },

    // ---- SimHash document fingerprint (16-bit, word tokens, md5-derived).
    Q("dd_simhash",
      s"""WITH tok AS (
         |  SELECT doc_id, ${h4Sql("w")} AS h
         |  FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS w FROM documents)),
         |bits AS (
         |  SELECT doc_id, b.bit,
         |    sum(CASE WHEN (h // (1 << b.bit)) % 2 = 1 THEN 1 ELSE -1 END) AS wsum
         |  FROM tok, (SELECT unnest(range(16)) AS bit) b
         |  GROUP BY doc_id, b.bit)
         |SELECT doc_id, string_agg(CASE WHEN wsum >= 0 THEN '1' ELSE '0' END, ''
         |  ORDER BY bit DESC) AS simhash
         |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val tok = docs(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .select(col("doc_id"), h4Spark(col("w")).as("h"))
      // 16 conditional sum() columns over the UN-exploded token table — the
      // bit dimension lives in the aggregate list, not in a 16× row blowup
      // (same de-explode shape as the minhash min() columns): shuffle input
      // stays one row per token, partial aggregation combines map-side.
      val wsums = (0 until 16).map(b =>
        sum(when(shiftright(col("h"), b) % 2 === 1, 1).otherwise(-1)).as(s"_w$b"))
      tok.groupBy("doc_id").agg(wsums.head, wsums.tail: _*)
        .select(col("doc_id"),
          concat((15 to 0 by -1).map(b =>
            when(col(s"_w$b") >= 0, "1").otherwise("0")): _*).as("simhash"))
        .orderBy("doc_id")
    },

    // ---- embedding-cosine near-dup pairs (τ=0.3; ids only — float-safe).
    Q("dd_embed_cosine",
      """SELECT a.vec_id AS i, b.vec_id AS j
        |FROM embeddings a, embeddings b
        |WHERE a.vec_id < b.vec_id
        |  AND list_cosine_similarity(a.embedding, b.embedding) >= 0.3
        |ORDER BY i, j""".stripMargin) { (s, d) =>
      val e = vectors(embs(s, d))
      // r6: the embeddings file is one input split, so the all-pairs
      // BroadcastNestedLoopJoin (N²/2 64-dim dots — the deliberate
      // verification-twin cost) ran in ONE task. Round-robin the streamed
      // side across the session's parallelism so the dot products use every
      // core (scale-adaptive: defaultParallelism, not a constant).
      val a = e.select(col("vec_id").as("i"), col("v").as("va"), col("nrm").as("na"))
        .repartition(s.sparkContext.defaultParallelism)
      val b = e.select(col("vec_id").as("j"), col("v").as("vb"), col("nrm").as("nb"))
      a.join(b, col("i") < col("j"))
        .filter(ArrayDot.dot(col("va"), col("vb")) / (col("na") * col("nb")) >= 0.3)
        .select("i", "j").orderBy("i", "j")
    },

    // ---- embedding near-dup, SCALE path: sign-bit LSH bucketing (8 fixed
    // dims) restricts candidate pairs to one bucket — the bucketed twin of
    // the all-pairs dd_embed_cosine verification path above.
    Q("dd_embed_lsh", signBucketCteSqlD +
      """
        |SELECT a.vec_id AS i, b.vec_id AS j
        |FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.3
        |ORDER BY i, j""".stripMargin) { (s, d) =>
      val e = vectors(embs(s, d), bucket = Some(signBucket))
      val a = e.select(col("vec_id").as("i"), col("v").as("va"),
        col("nrm").as("na"), col("bucket"))
      val b = e.select(col("vec_id").as("j"), col("v").as("vb"),
        col("nrm").as("nb"), col("bucket").as("bucket2"))
      a.join(b, col("bucket") === col("bucket2") && col("i") < col("j"))
        .filter(ArrayDot.dot(col("va"), col("vb")) / (col("na") * col("nb")) >= 0.3)
        .select("i", "j").orderBy("i", "j")
    },

    // ---- brute-force ANN: top-10 cosine neighbors for query vecs 0..4;
    // rank on round(cos, 6) desc then id — deterministic across engines.
    Q("ann_topk_bruteforce",
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |sc AS (
        |  SELECT q.qid, e.vec_id AS nid,
        |    round(list_cosine_similarity(q.qv, e.embedding), 6) AS c
        |  FROM q, embeddings e WHERE e.vec_id != q.qid),
        |rk AS (SELECT qid, nid,
        |    row_number() OVER (PARTITION BY qid ORDER BY c DESC, nid) AS rank
        |  FROM sc)
        |SELECT qid, rank, nid FROM rk WHERE rank <= 10 ORDER BY qid, rank""".stripMargin) { (s, d) =>
      val e = vectors(embs(s, d))
      rerank(queries(e.filter(col("vec_id") < 5))
        .join(neighbours(e), col("nid") =!= col("qid")), 10)
        .orderBy("qid", "rank")
    },

    // ---- LSH-bucketed ANN (scale path): bucket = sign bits of 8 fixed
    // dims; candidates only within the query's bucket.
    Q("ann_lsh_topk", signBucketCteSqlD +
      s""",
        |sc AS (
        |  SELECT q.vec_id AS qid, e.vec_id AS nid,
        |    round(list_cosine_similarity(q.embedding, e.embedding), 6) AS c
        |  FROM bk q JOIN bk e ON q.bucket = e.bucket AND e.vec_id != q.vec_id
        |  WHERE q.vec_id < 20),
        |${rankSql("c", 3)}""".stripMargin) { (s, d) =>
      val e = vectors(embs(s, d), bucket = Some(signBucket))
      rerank(queries(e.filter(col("vec_id") < 20))
        .join(neighbours(e), col("qb") === col("nb") && col("nid") =!= col("qid")), 3)
        .orderBy("qid", "rank")
    },

    // ---- multi-probe LSH ANN: the query probes its own bucket PLUS all 8
    // Hamming-1 neighbor buckets (9 probes). Same index as ann_lsh_topk —
    // multi-probing buys recall at query time without more tables, the
    // standard fix for sign-LSH's near-hyperplane misses (each probe is a
    // bucket-equijoin; a neighbor lives in exactly one bucket, so probes
    // produce no duplicate candidates).
    Q("ann_lsh_multiprobe",
      s"""WITH bk AS (
         |  SELECT vec_id, embedding, $signBucketSqlD AS bucket FROM embeddings),
         |pr AS (
         |  SELECT vec_id AS qid, embedding AS qv,
         |    unnest(list_transform(range(0, 9), i ->
         |      CASE WHEN i = 0 THEN bucket
         |           ELSE substr(bucket, 1, i - 1)
         |             || (CASE WHEN substr(bucket, i, 1) = '1' THEN '0' ELSE '1' END)
         |             || substr(bucket, i + 1) END)) AS probe
         |  FROM bk WHERE vec_id < 20),
         |sc AS (
         |  SELECT pr.qid, e.vec_id AS nid,
         |    round(list_cosine_similarity(pr.qv, e.embedding), 6) AS c
         |  FROM pr JOIN bk e ON e.bucket = pr.probe AND e.vec_id != pr.qid),
         |${rankSql("c", 3)}""".stripMargin) { (s, d) =>
      val e = vectors(embs(s, d), bucket = Some(signBucket))
      val q = queries(e.filter(col("vec_id") < 20))
        .withColumn("probe", explode(hammingProbes))
      rerank(q.join(neighbours(e), col("nb") === col("probe") && col("nid") =!= col("qid")), 3)
        .orderBy("qid", "rank")
    },

    // ---- ANN recall measurement, itself a cross-engine differential:
    // recall@10 of each approximate method (single-probe LSH, 9-probe LSH,
    // IVF nprobe=2) against brute-force ground truth for 20 queries —
    // recall_bp = hits·10000/(10·20). The floor is pinned in AnnSpec and
    // quoted in BENCH.md.
    Q("ann_recall",
      s"""WITH e AS (
         |  SELECT vec_id, embedding, $signBucketSqlD AS bucket FROM embeddings),
         |q AS (SELECT vec_id AS qid, embedding AS qv, bucket AS qb FROM e WHERE vec_id < 20),
         |${top10Sql("truth", "q", "q, e WHERE e.vec_id != q.qid")},
         |${top10Sql("lsh1", "q", "q JOIN e ON e.bucket = q.qb AND e.vec_id != q.qid")},
         |pr AS (
         |  SELECT qid, qv, unnest(list_transform(range(0, 9), i ->
         |    CASE WHEN i = 0 THEN qb
         |         ELSE substr(qb, 1, i - 1)
         |           || (CASE WHEN substr(qb, i, 1) = '1' THEN '0' ELSE '1' END)
         |           || substr(qb, i + 1) END)) AS probe
         |  FROM q),
         |${top10Sql("mp", "pr", "pr JOIN e ON e.bucket = pr.probe AND e.vec_id != pr.qid")},
         |c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 16),
         |asg AS (SELECT vec_id, cid FROM (
         |    SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY round(list_cosine_similarity(e.embedding, c.cv), 6) DESC, c.cid) AS rk
         |    FROM embeddings e, c) WHERE rk = 1),
         |ipr AS (SELECT qid, cid FROM (
         |    SELECT q.qid, c.cid, row_number() OVER (PARTITION BY q.qid
         |      ORDER BY round(list_cosine_similarity(q.qv, c.cv), 6) DESC, c.cid) AS rk
         |    FROM q, c) WHERE rk <= 2),
         |ivf AS (
         |  SELECT qid, nid FROM (
         |    SELECT x.qid, x.nid, row_number() OVER (PARTITION BY x.qid
         |      ORDER BY x.cs DESC, x.nid) AS rk
         |    FROM (SELECT DISTINCT p.qid, a.vec_id AS nid,
         |            round(list_cosine_similarity(q2.qv, e2.embedding), 6) AS cs
         |          FROM ipr p JOIN asg a ON p.cid = a.cid AND a.vec_id != p.qid
         |          JOIN q q2 ON q2.qid = p.qid
         |          JOIN e e2 ON e2.vec_id = a.vec_id) x) WHERE rk <= 10),
         |h AS (
         |  SELECT 'ivf' AS method, count(*) AS hits FROM ivf JOIN truth USING (qid, nid)
         |  UNION ALL SELECT 'lsh1', count(*) FROM lsh1 JOIN truth USING (qid, nid)
         |  UNION ALL SELECT 'lsh_mp', count(*) FROM mp JOIN truth USING (qid, nid))
         |SELECT method, hits, CAST(hits * 50 AS INT) AS recall_bp FROM h
         |ORDER BY method""".stripMargin) { (s, d) =>
      val e = cycle(vectors(embs(s, d), bucket = Some(signBucket)))
      val q = queries(e.filter(col("vec_id") < 20))
      val n = neighbours(e)
      // IVF, same codebook/probing as ann_ivf_topk but k=10 over the 20 queries
      val asg = neighbours(nearestStandIn(e, e, 1), Seq("cid"))
      val ipr = queries(nearestStandIn(e, e.filter(col("vec_id") < 20), 2), Seq("cid"))
      recallRows(q, n,
        "ivf" -> ivfCandidates(ipr, asg, "qv", "qn", "nv", "nn"),
        "lsh1" -> q.join(n, col("nb") === col("qb") && col("nid") =!= col("qid")),
        "lsh_mp" -> q.withColumn("probe", explode(hammingProbes))
          .join(n, col("nb") === col("probe") && col("nid") =!= col("qid")))
    },

    // ---- IVF ANN (scale path #2): coarse quantizer = 16 deterministic
    // centroids (vec_id < 16 — the cross-engine stand-in for a k-means
    // codebook); every vector joins its argmax-cosine posting list; queries
    // probe their nprobe=2 nearest lists and rank candidates by cosine.
    // At 100 TB the posting lists are the partition keys: assignment is a
    // broadcast join (codebook is tiny), search touches only nprobe lists.
    Q("ann_ivf_topk",
      s"""WITH c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 16),
        |asg AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT e.vec_id, c.cid,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY round(list_cosine_similarity(e.embedding, c.cv), 6) DESC, c.cid) AS rk
        |    FROM embeddings e, c) WHERE rk = 1),
        |probes AS (
        |  SELECT vec_id AS qid, cid FROM (
        |    SELECT e.vec_id, c.cid,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY round(list_cosine_similarity(e.embedding, c.cv), 6) DESC, c.cid) AS rk
        |    FROM embeddings e, c WHERE e.vec_id < 10) WHERE rk <= 2),
        |cand AS (
        |  SELECT DISTINCT p.qid, a.vec_id AS nid
        |  FROM probes p JOIN asg a ON p.cid = a.cid AND a.vec_id != p.qid),
        |${candRerankSql("cs", 3)}""".stripMargin) { (s, d) =>
      val e = vectors(embs(s, d))
      val asg = neighbours(nearestStandIn(e, e, 1), Seq("cid"))
      val probes = queries(nearestStandIn(e, e.filter(col("vec_id") < 10), 2), Seq("cid"))
      rerank(ivfCandidates(probes, asg, "qv", "qn", "nv", "nn"), 3)
        .orderBy("qid", "rank")
    },

    // ---- random-hyperplane LSH ANN (r4 — the production sign-LSH path):
    // 8 seeded Rademacher tables × 8 bits, Hamming-1 multi-probe in every
    // table, candidates deduped across tables. Replaces fixed axis-aligned
    // cuts with seeded projections; on these isotropic fixtures the win
    // comes from the table COUNT (measured recall ~0.64 vs 0.115 for the
    // single fixed-dim table — ann_recall_v2 / BENCH.md). At 100 TB each
    // (t, bk) bucket is an equijoin key; candidates ≈ L·9·N/256 per query.
    Q("ann_lsh_rp",
      s"""WITH ${rpCandSql("cand")},
         |${candRerankSql("c", 5)}""".stripMargin) { (s, d) =>
      val base = cycle(vectors(embs(s, d), col("embedding").cast("array<double>")))
      val cand = hyperplaneCandidates(base, "v", rpPlanes, 20)
      rerank(cand.join(queries(base), "qid").join(neighbours(base), "nid"), 5)
        .orderBy("qid", "rank")
    },

    // ---- TRAINED-codebook IVF ANN (r4): distributed Lloyd's (k=16, 3
    // fixed iterations, exact-integer update step — see IvfTrain) replaces
    // the first-16-vectors stand-in; the oracle REPLAYS training via an
    // unrolled CTE chain, so the whole path (train → assign → probe → rank)
    // is a hash-checked differential. nprobe=3. On these isotropic fixtures
    // training's main win is BALANCED posting lists (partition keys at
    // scale); the recall gain is measured in ann_recall_v2 and the clustered
    // case in AnnSpec.
    Q("ann_ivf_trained", ivfSearchSql(3)) { (s, d) =>
      val ep = cycle(IvfTrain.prepared(embs(s, d)))
      val cents = IvfTrain.train(s, ep, IvfK, IvfIters, 64)
      val asg = neighbours(IvfTrain.nearest(ep, cents, 1), Seq("cid"), "vd", "nd")
      val probes = queries(IvfTrain.nearest(ep.filter(col("vec_id") < 10), cents,
        IvfProbes), Seq("cid"), "vd", "nd")
      rerank(ivfCandidates(probes, asg, "qv", "qn", "nv", "nn"), 3)
        .orderBy("qid", "rank")
    },

    // ---- MATERIALIZED-IVF round trip (r5, VERDICT r4 #5): train → write
    // the index as parquet PARTITIONED BY posting list (cid) → search with
    // partition pruning to the probed lists — the literal 100-TB form
    // ("posting lists are partition keys"), now itself a hash-checked
    // differential rather than only a plan assert (AnnSpec keeps pinning
    // the PartitionFilters pruning). The oracle replays training via the
    // unrolled CTE chain and searches the probed lists directly.
    Q("ann_ivf_index", ivfSearchSql(10)) { (s, d) =>
      val ep = cycle(IvfTrain.prepared(embs(s, d)))
      val cents = IvfTrain.train(s, ep, IvfK, IvfIters, 64)
      // per-application scratch dir, not a fresh temp dir per invocation (ADVICE r5):
      // the overwrite-mode index write wipes it, so repeated bench runs
      // reuse one directory instead of accumulating index copies in /tmp
      val path = scratchDir(s, "graft-ivf-index-scratch")
      IvfTrain.writeIndex(ep, cents, path)
      IvfTrain.search(s, path, cents, ep.filter(col("vec_id") < 10),
        IvfProbes, 10).orderBy("qid", "rank")
    },

    // ---- incremental index maintenance (r5): the corpus GROWS — train the
    // codebook on the first half, materialize its index, then APPEND the
    // second half by assignment alone (IvfTrain.appendIndex — one
    // broadcast-assign + partitioned parquet append, no rebuild), and
    // search the combined index. The oracle replays training over only the
    // first half (oracleCtes trainWhere) but assigns/search over everything
    // — exactly what the append produces. This is the vector-side twin of
    // dd_incremental: ingest N new embeddings costs O(N·k), not O(corpus).
    Q("ann_ivf_append",
      ivfSearchSql(10, "vec_id < (SELECT count(*) // 2 FROM embeddings)")) { (s, d) =>
      val ep = cycle(IvfTrain.prepared(embs(s, d)))
      val half = embs(s, d).count() / 2
      val cents =
        IvfTrain.train(s, ep.filter(col("vec_id") < half), IvfK, IvfIters, 64)
      // per-application scratch dir (ADVICE r5): writeIndex's overwrite wipes it, the
      // append then recreates exactly the fresh-run state — no /tmp growth
      val path = scratchDir(s, "graft-ivf-append-scratch")
      IvfTrain.writeIndex(ep.filter(col("vec_id") < half), cents, path)
      IvfTrain.appendIndex(ep.filter(col("vec_id") >= half), cents, path)
      IvfTrain.search(s, path, cents, ep.filter(col("vec_id") < 10),
        IvfProbes, 10).orderBy("qid", "rank")
    },

    // ---- recall of the r4 production paths (lsh_rp multi-table,
    // ivf_trained) vs brute-force truth@10 — itself a differential, like
    // ann_recall for the r3 paths. recall_bp = hits·10000/(10·20).
    Q("ann_recall_v2",
      s"""WITH ${IvfTrain.oracleCtes(IvfK, IvfIters, 64)},
         |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 20),
         |${top10Sql("truth", "q", "q, embeddings e WHERE e.vec_id != q.qid")},
         |${rpCandSql("lcand")},
         |${candTop10Sql("lsh", "lcand")},
         |${ivfCandSql("iprobes", "icand", 20)},
         |${candTop10Sql("ivf", "icand")},
         |h AS (
         |  SELECT 'ivf_trained' AS method, count(*) AS hits FROM ivf JOIN truth USING (qid, nid)
         |  UNION ALL SELECT 'lsh_rp', count(*) FROM lsh JOIN truth USING (qid, nid))
         |SELECT method, hits, CAST(hits * 50 AS INT) AS recall_bp FROM h
         |ORDER BY method""".stripMargin) { (s, d) =>
      val ep = cycle(IvfTrain.prepared(embs(s, d)))
      val q = queries(ep.filter(col("vec_id") < 20), v = "vd", nrm = "nd")
      val n = neighbours(ep, v = "vd", nrm = "nd")
      val lcand = hyperplaneCandidates(ep, "vd", rpPlanes, 20)
      val cents = IvfTrain.train(s, ep, IvfK, IvfIters, 64)
      val asg = IvfTrain.nearest(ep, cents, 1)
        .select(col("vec_id").as("nid"), col("cid"))
      val iprobes = IvfTrain.nearest(ep.filter(col("vec_id") < 20), cents, IvfProbes)
        .select(col("vec_id").as("qid"), col("cid"))
      val icand = ivfCandidates(iprobes, asg)
      recallRows(q, n,
        "ivf_trained" -> icand.join(q, "qid").join(n, "nid"),
        "lsh_rp" -> lcand.join(q, "qid").join(n, "nid"))
    },

    // ---- language-ID: stopword-hit scores per language, argmax.
    Q("ta_langid", {
      val keys = langDicts.map(_._1)
      s"""SELECT doc_id, ${keys.map(k => s"CAST(s_$k AS INT) AS s_$k").mkString(", ")},
         |  $predLangSqlD AS pred_lang
         |FROM (SELECT doc_id, $langScoresSqlD FROM documents)
         |ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      val keys = langDicts.map(_._1)
      withLangScores(docs(s, d))
        .select((Seq(col("doc_id")) ++ keys.map(k => col(s"s_$k")) :+
          predLangCol.as("pred_lang")): _*).orderBy("doc_id")
    },

    // ---- quality scoring: integer basis-point ratios (engine-exact) —
    // length, distinct-word, non-space density, punctuation and stopword
    // ratios (the usual web-corpus quality heuristics).
    Q("ta_quality", {
      val stops = langDicts.head._2 // "en" stopwords
      val stopsSql = stops.map(w => s"'$w'").mkString(",")
      s"""SELECT doc_id,
         |  CAST(len(str_split(text, ' ')) AS INT) AS nw,
         |  CAST(len(list_distinct(str_split(text, ' '))) AS INT) AS nd,
         |  CAST((len(list_distinct(str_split(text, ' '))) * 10000) // len(str_split(text, ' ')) AS INT) AS uniq_bp,
         |  CAST((length(replace(text, ' ', '')) * 10000) // length(text) AS INT) AS density_bp,
         |  CAST(((length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))) * 10000) // length(text) AS INT) AS punct_bp,
         |  CAST((len(list_filter(str_split(text, ' '), x -> x IN ($stopsSql))) * 10000) // len(str_split(text, ' ')) AS INT) AS stop_bp
         |FROM documents ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      val stops = langDicts.head._2
      docs(s, d).select(col("doc_id"),
        size(wordsCol).as("nw"),
        size(array_distinct(wordsCol)).as("nd"),
        floor(size(array_distinct(wordsCol)) * 10000 / size(wordsCol)).cast("int").as("uniq_bp"),
        floor(length(regexp_replace(col("text"), " ", "")) * 10000 / length(col("text")))
          .cast("int").as("density_bp"),
        floor((length(col("text")) -
          length(regexp_replace(col("text"), "[^a-zA-Z0-9 ]", ""))) * 10000
          / length(col("text"))).cast("int").as("punct_bp"),
        floor(size(filter(wordsCol, x => x.isin(stops.map(_.asInstanceOf[Any]): _*)))
          * 10000 / size(wordsCol)).cast("int").as("stop_bp"))
        .orderBy("doc_id")
    },

    // ---- repetition heuristics (r4, Gopher-style): duplicate word-2-gram
    // fraction + single-most-frequent-word fraction, integer basis points —
    // the standard repeated-template / keyword-stuffing gates a curation
    // pass applies alongside ta_quality. 2-gram stats compute per row
    // (narrow, codegen'd); only the top-word mode needs an explode + two
    // map-side-combining aggs.
    Q("ta_repetition",
      """WITH d AS (
        |  SELECT doc_id, len(str_split(text, ' ')) AS nw,
        |    len(str_split(text, ' ')) - 1 AS n2,
        |    len(list_distinct(list_transform(range(len(str_split(text, ' ')) - 1),
        |      i -> str_split(text, ' ')[i + 1] || ' ' || str_split(text, ' ')[i + 2]))) AS nd2
        |  FROM documents WHERE len(str_split(text, ' ')) >= 2),
        |wc AS (
        |  SELECT doc_id, word, count(*) AS c
        |  FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS word
        |        FROM documents WHERE len(str_split(text, ' ')) >= 2)
        |  GROUP BY doc_id, word),
        |tw AS (SELECT doc_id, max(c) AS topc FROM wc GROUP BY doc_id)
        |SELECT d.doc_id, CAST(d.nw AS INT) AS nw,
        |  CAST(((d.n2 - d.nd2) * 10000) // d.n2 AS INT) AS dup2_bp,
        |  CAST((tw.topc * 10000) // d.nw AS INT) AS top_word_bp
        |FROM d JOIN tw USING (doc_id) ORDER BY doc_id""".stripMargin) { (s, d) =>
      val grams2 = expr(
        """array_distinct(transform(sequence(0, size(split(text, ' ')) - 2),
          |  i -> concat(element_at(split(text, ' '), i + 1), ' ',
          |              element_at(split(text, ' '), i + 2))))""".stripMargin)
      val base = docs(s, d).filter(size(wordsCol) >= 2)
      val dd = base.select(col("doc_id"), size(wordsCol).as("nw"),
        (size(wordsCol) - 1).as("n2"), size(grams2).as("nd2"))
      val tw = base.select(col("doc_id"), explode(wordsCol).as("word"))
        .groupBy("doc_id", "word").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(max(col("c")).as("topc"))
      dd.join(tw, "doc_id")
        .select(col("doc_id"), col("nw").cast("int").as("nw"),
          floor((col("n2") - col("nd2")) * 10000 / col("n2")).cast("int").as("dup2_bp"),
          floor(col("topc") * 10000 / col("nw")).cast("int").as("top_word_bp"))
        .orderBy("doc_id")
    },

    // ---- stratified corpus sampling / mixing (r5): stratify by
    // (predicted language × quality band), keep each doc iff a
    // deterministic hash of its id clears the stratum's target rate —
    // hash-based Bernoulli sampling, the standard way to hit corpus mixture
    // weights reproducibly at 100 TB (same doc always samples the same
    // way; no RNG state, no coordination). Emits per-stratum totals vs
    // kept vs target so mixture drift is auditable.
    Q("ta_sample_mix",
      s"""WITH st AS (
         |  SELECT doc_id, lang,
         |    CASE WHEN (len(list_distinct(str_split(text, ' '))) * 10000)
         |      // len(str_split(text, ' ')) >= 3500
         |      THEN 'hi' ELSE 'lo' END AS band
         |  FROM documents),
         |mix(lang, band, target_bp) AS (VALUES $mixValuesSqlD),
         |k AS (SELECT st.lang, st.band, coalesce(mix.target_bp, 0) AS target_bp,
         |    ${h4Sql("CAST(doc_id AS VARCHAR) || '#mix'")} % 10000
         |      < coalesce(mix.target_bp, 0) AS kept
         |  FROM st LEFT JOIN mix USING (lang, band))
         |SELECT lang, band, target_bp, CAST(count(*) AS BIGINT) AS n_total,
         |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM k GROUP BY lang, band, target_bp
         |ORDER BY lang, band""".stripMargin) { (s, d) =>
      import s.implicits._
      val st = docs(s, d)
        .withColumn("band",
          when(floor(size(array_distinct(wordsCol)) * 10000 / size(wordsCol))
            >= 3500, "hi").otherwise("lo"))
      val mix = mixSpec.toDF("lang", "band", "target_bp")
      // LEFT join + coalesce(0): a stratum missing from the spec keeps its
      // rows visible with 0 kept (auditable) instead of silently vanishing
      st.join(broadcast(mix), Seq("lang", "band"), "left_outer")
        .withColumn("target_bp", coalesce(col("target_bp"), lit(0)))
        .withColumn("kept",
          h4Spark(concat(col("doc_id").cast("string"), lit("#mix"))) % 10000
            < col("target_bp"))
        .groupBy("lang", "band", "target_bp")
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
        .orderBy("lang", "band")
    },

    // ---- model-scorer seam differential (r5): the per-partition scorer
    // seam (operators/QualityModel.scala — the drop-in point for a learned
    // quality classifier) driven by its deterministic integer stub, which
    // DuckDB replays exactly. Green means the seam's PLUMBING — typed
    // encoders, partition batching, schema — is hash-correct; the loadable
    // LinearScorer leg rides the same seam (ModelScorerSpec).
    Q("ta_model_score",
      """SELECT doc_id, CAST(least(10000,
        |  ((len(list_distinct(str_split(text, ' '))) * 10000)
        |    // len(str_split(text, ' '))) // 2
        |  + least(len(str_split(text, ' ')), 100) * 30
        |  + length(text) % 100) AS INT) AS score_bp
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.operators.QualityModel
        .score(docs(s, d), graft.operators.QualityModel.StubScorer)
        .orderBy("doc_id")
    },

    // ---- sequence packing (r5): GPT-style concat-and-chunk batch prep —
    // documents are concatenated in doc_id order and cut into fixed
    // B=256-token training sequences; each doc reports the token offset it
    // starts at and the [seq_first, seq_last] block span it lands in.
    // Packing is PER SHARD (doc_id % 4): the running-sum window partitions
    // by shard, so at 100 TB every shard packs independently in parallel —
    // the global-total-order cumsum (the naive formulation) never exists.
    // Shard count is the parallelism knob; one worker = one shard's tape.
    // All-integer, engine-exact.
    Q("ta_pack_sequences",
      """WITH t AS (
        |  SELECT doc_id, doc_id % 4 AS shard,
        |    CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |o AS (
        |  SELECT shard, doc_id, n_tok,
        |    coalesce(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_tok
        |  FROM t)
        |SELECT CAST(shard AS INT) AS shard, doc_id,
        |  CAST(n_tok AS INT) AS n_tok,
        |  CAST(start_tok AS BIGINT) AS start_tok,
        |  CAST(start_tok // 256 AS INT) AS seq_first,
        |  CAST((start_tok + n_tok - 1) // 256 AS INT) AS seq_last
        |FROM o ORDER BY shard, doc_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      docs(s, d)
        .select(col("doc_id"), (col("doc_id") % 4).cast("int").as("shard"),
          size(wordsCol).cast("long").as("n_tok"))
        .withColumn("start_tok", coalesce(sum(col("n_tok")).over(w), lit(0L)))
        .select(col("shard"), col("doc_id"), col("n_tok").cast("int").as("n_tok"),
          col("start_tok"),
          expr("CAST(start_tok div 256 AS INT)").as("seq_first"),
          expr("CAST((start_tok + n_tok - 1) div 256 AS INT)").as("seq_last"))
        .orderBy("shard", "doc_id")
    },

    // ---- token counting: whitespace + BPE-ish regex sub-tokens.
    Q("ta_tokens",
      """SELECT doc_id,
        |  CAST(len(str_split(text, ' ')) AS INT) AS n_ws,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[A-Z][a-z]*|[0-9]+|[^a-zA-Z0-9 ]')) AS INT) AS n_bpe
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      docs(s, d).select(col("doc_id"),
        size(wordsCol).cast("int").as("n_ws"),
        size(regexp_extract_all(col("text"),
          lit("[a-z]+|[A-Z][a-z]*|[0-9]+|[^a-zA-Z0-9 ]"), lit(0))).cast("int").as("n_bpe"))
        .orderBy("doc_id")
    },

    // ---- vocabulary construction (r5): the tokenizer-training input —
    // corpus-wide word counts + document frequencies, top-100 by count.
    // Scale shape: explode → hash-groupBy with map-side partial aggs (the
    // df leg is a two-phase distinct agg), then TakeOrderedAndProject for
    // the top-k — no global sort of the vocabulary ever materializes; the
    // rank window runs over the already-collected 100 rows.
    Q("ta_vocab",
      """WITH w AS (
        |  SELECT doc_id, unnest(str_split(text, ' ')) AS word FROM documents),
        |c AS (
        |  SELECT word, count(*) AS cnt, count(DISTINCT doc_id) AS df
        |  FROM w GROUP BY word),
        |t AS (SELECT word, cnt, df FROM c ORDER BY cnt DESC, word LIMIT 100)
        |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, word) AS INT) AS rank,
        |  word, CAST(cnt AS BIGINT) AS cnt, CAST(df AS BIGINT) AS df
        |FROM t ORDER BY rank""".stripMargin) { (s, d) =>
      val top = docs(s, d)
        .select(col("doc_id"), explode(wordsCol).as("word"))
        .groupBy("word")
        .agg(count(lit(1)).as("cnt"), countDistinct(col("doc_id")).as("df"))
        .orderBy(desc("cnt"), asc("word")).limit(100)
      top.withColumn("rank", row_number()
          .over(Window.orderBy(desc("cnt"), asc("word"))).cast("int"))
        .select("rank", "word", "cnt", "df").orderBy("rank")
    },

    // ---- PII scrubbing (r5): redact emails / IPv4s / card numbers from
    // corpus text before training, reporting per-doc hit counts and the
    // scrubbed text's md5. The fixture corpus carries no PII, so the query
    // INJECTS it deterministically from doc_id in BOTH engines first (the
    // pseudo-eval-set precedent) — the differential then proves the
    // scrubber finds and removes exactly the planted instances. Patterns
    // are RE2-safe (shared Java/RE2 subset); replacement order is fixed
    // (email, card, ip) so overlapping-class text resolves identically.
    // Scale shape: narrow per-row regex work, codegen'd, zero shuffles.
    Q("ta_pii_scrub", {
      val inj = "text || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || " +
        "CAST(doc_id AS VARCHAR) || '@mail.example.com' ELSE '' END || " +
        "CASE WHEN doc_id % 5 = 0 THEN ' from 10.' || " +
        "CAST(doc_id % 200 AS VARCHAR) || '.' || " +
        "CAST(doc_id % 250 AS VARCHAR) || '.7' ELSE '' END || " +
        "CASE WHEN doc_id % 7 = 0 THEN ' card 4111 1111 1111 1111' ELSE '' END"
      s"""WITH pt AS (SELECT doc_id, $inj AS t FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t, '$PiiEmailPat')) AS INT) AS n_email,
         |  CAST(len(regexp_extract_all(t, '$PiiCardPat')) AS INT) AS n_card,
         |  CAST(len(regexp_extract_all(t, '$PiiIpPat')) AS INT) AS n_ip,
         |  md5(regexp_replace(regexp_replace(regexp_replace(t,
         |    '$PiiEmailPat', '<EMAIL>', 'g'),
         |    '$PiiCardPat', '<CARD>', 'g'),
         |    '$PiiIpPat', '<IP>', 'g')) AS scrub_md5
         |FROM pt ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      val t = concat(col("text"),
        when(col("doc_id") % 3 === 0, concat(lit(" contact user"),
          col("doc_id").cast("string"), lit("@mail.example.com")))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0, concat(lit(" from 10."),
          (col("doc_id") % 200).cast("string"), lit("."),
          (col("doc_id") % 250).cast("string"), lit(".7")))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0, lit(" card 4111 1111 1111 1111"))
          .otherwise(lit("")))
      docs(s, d).select(col("doc_id"), t.as("t"))
        .select(col("doc_id"),
          regexp_count(col("t"), lit(PiiEmailPat)).cast("int").as("n_email"),
          regexp_count(col("t"), lit(PiiCardPat)).cast("int").as("n_card"),
          regexp_count(col("t"), lit(PiiIpPat)).cast("int").as("n_ip"),
          md5(regexp_replace(regexp_replace(regexp_replace(col("t"),
            PiiEmailPat, "<EMAIL>"),
            PiiCardPat, "<CARD>"),
            PiiIpPat, "<IP>")).as("scrub_md5"))
        .orderBy("doc_id")
    },

    // ---- positional rolling fingerprint: Σ h4(word_i)·i mod 1e9+7.
    Q("ta_fingerprint",
      s"""SELECT doc_id,
         |  CAST(CAST(list_sum(list_transform(range(len(str_split(text, ' '))),
         |    i -> CAST(${h4Sql("(str_split(text, ' ')[i + 1])")} AS BIGINT) * (i + 1))) AS BIGINT)
         |    % 1000000007 AS BIGINT) AS fp
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      docs(s, d).select(col("doc_id"),
        aggregate(
          zip_with(wordsCol, sequence(lit(1), size(wordsCol)),
            (w, i) => h4Spark(w).cast("long") * i.cast("long")),
          lit(0L), (acc, x) => acc + x).as("acc"))
        .select(col("doc_id"), (col("acc") % 1000000007L).as("fp"))
        .orderBy("doc_id")
    },

    // ---- multimodal plumbing: binary payload column + deterministic
    // stub decode (real decode libs absent in-sandbox; schema/partitioning
    // and the typed decode seam are the real artifact — see
    // graft.operators.Multimodal).
    // video-style frame sampling through the same seam: payload → every 5th
    // frame of a deterministic frame count, with a phash stand-in.
    Q("mm_frame_sample",
      s"""SELECT doc_id, CAST(i AS INT) AS frame_idx,
         |  CAST(${h4Sql("(text || '#f' || CAST(i AS VARCHAR))")} AS BIGINT) AS phash
         |FROM (SELECT doc_id, text,
         |        unnest(range(1 + ${h4Sql("text")} % 48)) AS i
         |      FROM documents)
         |WHERE i % 5 = 0 ORDER BY doc_id, frame_idx""".stripMargin) { (s, d) =>
      graft.operators.Multimodal.frameSampleStub(
        docs(s, d).select(col("doc_id"), unhex(md5(col("text"))).as("payload"),
          col("text")))
        .orderBy("doc_id", "frame_idx")
    },

    Q("mm_decode_stub",
      s"""SELECT doc_id, CAST(octet_length(from_hex(md5(text))) AS INT) AS n_bytes,
         |  CAST(1 + ${h4Sql("text")} % 1920 AS INT) AS width,
         |  CAST(1 + ${h4Sql("text || '#h'")} % 1080 AS INT) AS height
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.operators.Multimodal.decodeStub(
        docs(s, d).select(col("doc_id"), unhex(md5(col("text"))).as("payload"),
          col("text")))
        .orderBy("doc_id")
    })
}
