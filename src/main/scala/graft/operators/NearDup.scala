package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Near-duplicate detection over `(doc_id, text)` documents: word-3-gram
  * shingles, the exact Jaccard ≥ 1/2 pairs and the connected components of
  * the pair graph (one canonical doc per near-dup cluster). Callers persist
  * the frames they hand in; every decision is integer-exact, so the DuckDB
  * oracles replay it bit for bit. */
object NearDup {

  /** Distinct word-3-gram shingles of `text`. The words array is bound ONCE
    * per row via a single-element transform lambda — referencing
    * `split(text, ' ')` inside the shingle lambda would re-split the whole
    * text per shingle (O(words²) character work per doc; lambda bodies
    * defeat codegen subexpression elimination). */
  private def shingles = expr(
    """element_at(transform(array(split(text, ' ')), ws ->
      |  array_distinct(transform(sequence(0, size(ws) - 3),
      |    i -> concat(element_at(ws, i + 1), ' ',
      |                element_at(ws, i + 2), ' ',
      |                element_at(ws, i + 3))))), 1)""".stripMargin)

  /** The docs with a shingle: for fewer than 3 words `sequence(0, size − 3)`
    * counts down instead of coming out empty. */
  private def shingled(docs: DataFrame): DataFrame =
    docs.filter(size(split(col("text"), " ")) >= 3)

  /** `(doc_id, shs, nsh)`: each doc of ≥ 3 words with its distinct shingle
    * array and that array's size — the input of [[pairs]]. */
  def shingleSets(docs: DataFrame): DataFrame = shingled(docs)
    .select(col("doc_id"), shingles.as("shs"))
    .select(col("doc_id"), col("shs"), size(col("shs")).as("nsh"))

  /** `(doc_id, sh)`: one row per distinct shingle of each doc of ≥ 3 words. */
  def shingleRows(docs: DataFrame): DataFrame =
    shingled(docs).select(col("doc_id"), explode(shingles).as("sh"))

  /** All ordered pairs (i < j) of an ASCENDING-sorted id array, as an array
    * of (i, j) structs — the in-array pair generator for bucket-equijoin
    * candidate generation (r6): `groupBy(bucket) → collect sorted members →
    * explode pairs` computes the bucket index ONCE, where the former
    * `index.as("a") JOIN index.as("b") ON same bucket AND a.id < b.id`
    * evaluated the whole index subtree twice (once per join side) plus a
    * join. Output pair set is identical. Skew note: a hot bucket is
    * quadratic in EITHER form (that is the LSH candidate set itself); this
    * form additionally holds one bucket's member ids in an array — ids
    * only, bounded by the band collision rate, same order of memory as the
    * join's per-key build side. */
  def sortedPairs(ids: Column): Column =
    flatten(transform(ids, (x, ix) =>
      transform(slice(ids, ix + lit(2), size(ids) - ix - lit(1)),
        y => struct(x.as("i"), y.as("j")))))

  /** Verified near-dup pairs `(i, j, inter, na, nb)` with i < j and Jaccard
    * ≥ 1/2 in integer form, `3·inter ≥ na + nb`, over a [[shingleSets]]
    * frame. `docsh` fans into three consumers (token index + both verify
    * sides), so the caller passes it persisted.
    *
    * EXACT prefix filtering (AllPairs/PPJoin, Bayardo et al. WWW'07): order
    * shingles globally by ascending document frequency; for Jaccard ≥ 1/2 a
    * pair must share ≥ ⌈n/2⌉ shingles, so each doc only needs its ⌊n/2⌋+1
    * RAREST shingles in the candidate index — a stop shingle in k docs no
    * longer yields k² candidate pairs, because high-df shingles fall out of
    * the prefixes. Candidates are then verified exactly with
    * array_intersect, so the result is identical to the naive join
    * (lossless, not an approximation). */
  def pairs(docsh: DataFrame): DataFrame = {
    // candidate generation runs on 64-bit shingle hashes (cheap shuffles,
    // no long strings); a hash collision can only ADD a candidate, never
    // drop one, and the exact array_intersect verification removes it
    val tok = docsh.select(col("doc_id"), col("nsh"), explode(col("shs")).as("sh"))
      .select(col("doc_id"), col("nsh"), xxhash64(col("sh")).as("shh"))
    val dfreq = tok.groupBy("shh").agg(count(lit(1)).as("df"))
    val prefix = tok.join(dfreq, "shh")
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("shh"))))
      .filter(col("rk") <= floor(col("nsh") / 2) + 1)
      .select("doc_id", "shh")
    // (r6 note: a sortedPairs-style grouped rewrite of this self-join was
    // measured SLOWER here — both prefix sides read the cached docsh, so
    // the duplicate side is cheap and AQE broadcasts the join, while the
    // grouped form adds a collect_list aggregation. See OPTIMIZATION_r06.md)
    val cand = prefix.as("a")
      .join(prefix.as("b"),
        col("a.shh") === col("b.shh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j")).distinct()
    // verify joins keyed by i/j with NO broadcast hint: an explicit hint
    // is never demoted for size, but AQE converts these to broadcast at
    // runtime when the cached docsh side is small, and shuffles cleanly
    // by i/j at corpus scale
    cand
      .join(docsh.select(col("doc_id").as("i"), col("shs").as("sa"),
        col("nsh").as("na")), "i")
      .join(docsh.select(col("doc_id").as("j"), col("shs").as("sb"),
        col("nsh").as("nb")), "j")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .filter(lit(3) * col("inter") >= col("na") + col("nb"))
      .select(col("i"), col("j"), col("inter"), col("na"), col("nb"))
  }

  /** Connected components of the near-dup pair graph `jp` (`i`, `j`) by
    * iterative min-label propagation WITH pointer-doubling: each round (a)
    * takes the min comp over graph neighbours (one shuffle join keyed by
    * node id) and then (b) shortcuts comp := comp(comp) via a labels
    * self-join — the classic path-halving step, so on a chain whose ids
    * ascend along it rounds grow O(log diameter) instead of O(diameter)
    * (ADVICE r3); ids shuffled along a chain take more rounds (26 for the
    * 41-node path of NearDupSpec). Each round eagerly localCheckpoints —
    * without it the logical plan DOUBLES per iteration (every round re-embeds
    * the previous one), exploding optimizer time; with it every round plans
    * against a materialized leaf, the scale-safe form of any iterative Spark
    * loop. The round cap is 64, and hitting it fails loud. `jp` is read by
    * both edge directions, so the caller passes it persisted. Returns
    * (node, comp) where comp = min doc_id of the component — the kept
    * canonical doc. */
  def ccLabels(jp: DataFrame): DataFrame = {
    // fault-tolerance seam (VERDICT r4 #7): localCheckpoint truncates
    // lineage but stores blocks only on executors — on a real cluster a
    // lost executor invalidates the loop mid-flight. Setting
    // `spark.graft.cc.checkpointDir` switches every per-round checkpoint to
    // a RELIABLE one (HDFS/object-store backed), the form a 100-TB CC run
    // needs; the local harness keeps the cheap default.
    val sess = jp.sparkSession
    val reliable = sess.conf.getOption("spark.graft.cc.checkpointDir")
    reliable.foreach { dir =>
      if (sess.sparkContext.getCheckpointDir.isEmpty)
        sess.sparkContext.setCheckpointDir(dir)
    }
    // capped: the estimate a checkpoint carries doubles its digits per round
    def ckpt(df: DataFrame): DataFrame = org.apache.spark.sql.graftbridge
      .withCappedStats(if (reliable.isDefined) df.checkpoint() else df.localCheckpoint())
    val edges = ckpt(jp.unionAll(jp.select(col("j").as("i"), col("i").as("j")))
      .toDF("a", "b"))
    var labels = ckpt(edges.select(col("a").as("node")).distinct()
      .withColumn("comp", col("node")))
    var changed = 1L
    var iter = 0
    val MaxIter = 64
    while (changed > 0 && iter < MaxIter) {
      val nbr = edges
        .join(labels.select(col("node").as("b"), col("comp").as("nc")), "b")
        .groupBy(col("a").as("node")).agg(min(col("nc")).as("nbr_min"))
      // checkpoint before the self-join below, or the neighbour join runs
      // twice per round (once per self-join side)
      val prop = ckpt(labels.join(nbr, Seq("node"), "left_outer")
        .select(col("node"),
          least(col("comp"), coalesce(col("nbr_min"), col("comp"))).as("comp"),
          (coalesce(col("nbr_min"), col("comp")) < col("comp")).as("_chg")))
      // pointer doubling: comp := comp(comp). comp is always some node's id
      // (init comp=node), so the self-join by comp→node total-covers.
      // r6: the convergence count rides the checkpoint's materialization
      // job as an observed metric — one job per round instead of two
      // (checkpoint + count); Observation delivery on eager checkpoint
      // actions verified, empty-frame edge included (sum→null→coalesce 0)
      val obs = org.apache.spark.sql.Observation()
      val next = ckpt(prop
        .join(prop.select(col("node").as("comp"), col("comp").as("cc2")),
          Seq("comp"), "left_outer")
        .select(col("node"),
          least(col("comp"), coalesce(col("cc2"), col("comp"))).as("comp"),
          (col("_chg") ||
            coalesce(col("cc2"), col("comp")) < col("comp")).as("_chg"))
        .observe(obs, coalesce(sum(when(col("_chg"), 1L).otherwise(0L)),
          lit(0L)).as("chg")))
      changed = obs.get("chg").asInstanceOf[Long]
      labels = next.drop("_chg")
      iter += 1
    }
    // a silent non-converged exit would return WRONG labels (and disagree
    // with the oracle's exact transitive closure) — fail loud instead
    require(changed == 0,
      s"connected components did not converge within $MaxIter rounds " +
        "(pair-graph diameter too large?)")
    labels
  }
}
