package graft.operators

import org.apache.spark.graphx.Graph
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Near-duplicate detection over `(doc_id, text)` documents: word-3-gram
  * shingles, the exact Jaccard ≥ 1/2 pairs and the connected components of
  * the pair graph (one canonical doc per near-dup cluster). Callers persist
  * the shingle frame they hand to [[pairs]]; every decision is
  * integer-exact, so the DuckDB oracles replay it bit for bit. */
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

  /** Connected components of the near-dup pair graph `jp` (`i`, `j`, ids
    * as longs): `(node, comp)` where comp = min doc_id of the component —
    * the kept canonical doc. GraphX `connectedComponents` (Pregel min-id
    * propagation, Gonzalez et al. OSDI'14) runs the fixpoint to convergence
    * with no round cap; it reads `jp` once, into cached edge partitions,
    * one per partition of `jp`. The one RDD of the operator lives here and
    * does not leave it: the labels come back as a checkpointed DataFrame
    * and the graphs are unpersisted. A deep graph's Pregel lineage is cut
    * by Spark's own `spark.graphx.pregel.checkpointInterval` (needs a
    * checkpoint dir).
    *
    * Fault-tolerance seam (VERDICT r4 #7, CcCheckpointSpec): when the
    * context has a checkpoint directory (Spark's `spark.checkpoint.dir`)
    * the labels are a RELIABLE checkpoint there (HDFS/object-store backed),
    * the form a 100-TB run needs; otherwise a localCheckpoint. */
  def ccLabels(jp: DataFrame): DataFrame = {
    import jp.sparkSession.implicits._
    val graph = Graph.fromEdgeTuples(
      jp.select(col("i").cast("long"), col("j").cast("long")).as[(Long, Long)].rdd, 0L)
    val cc = graph.connectedComponents()
    val labels = cc.vertices.toDF("node", "comp")
    val kept =
      if (jp.sparkSession.sparkContext.getCheckpointDir.isDefined) labels.checkpoint()
      else labels.localCheckpoint()
    cc.unpersist()
    graph.unpersist()
    kept
  }
}
