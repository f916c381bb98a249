package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The two text units the curation family chunks documents into, and the
  * boilerplate screen over the first — shared by the batch queries
  * (entry/DataPipeQueries) and the resumable curation-state runner
  * (operators/CurationState), so the incremental path can never drift from
  * the single-pass differential semantics. DuckDB oracle twins live next
  * to the queries that render them. */
object TextUnits {

  /** Non-overlapping 10-word segment windows of `text`, as
    * struct(seg_idx, seg) — the CCNet-style "line" unit for boilerplate
    * removal. */
  def segWindows: Column = expr(
    """transform(
      |  sequence(0, CAST(floor((size(split(text, ' ')) + 9) / 10) AS INT) - 1),
      |  k -> struct(k AS seg_idx,
      |    array_join(slice(split(text, ' '), k * 10 + 1, 10), ' ') AS seg))""".stripMargin)

  /** One row `(doc_id, seg_idx, seg)` per [[segWindows]] segment of `df`. */
  def segRows(df: DataFrame): DataFrame =
    df.select(col("doc_id"), explode(segWindows).as("s"))
      .select(col("doc_id"), col("s.seg_idx").as("seg_idx"), col("s.seg").as("seg"))

  /** Per-doc boilerplate screen over `(doc_id, seg_idx, seg, boiler)`
    * segment rows: `n_segs`, `n_dropped` (boiler segments) and `clean_text`,
    * the other segments rejoined in `seg_idx` order ('' when none is
    * left). */
  def screenSegs(segs: DataFrame): DataFrame = segs.groupBy("doc_id")
    .agg(count(lit(1)).cast("int").as("n_segs"),
      sum(when(col("boiler"), 1).otherwise(0)).cast("int").as("n_dropped"),
      coalesce(array_join(transform(
        array_sort(collect_list(when(!col("boiler"),
          struct(col("seg_idx"), col("seg"))))),
        x => x.getField("seg")), " "), lit("")).as("clean_text"))

  /** Distinct md5-hashed word-8-gram shingles of `text` (the
    * eval-contamination screen unit); valid only on docs of ≥ 8 words, so
    * screens go through [[gram8Rows]]. */
  def gram8: Column = expr(
    """array_distinct(transform(sequence(0, size(split(text, ' ')) - 8),
      |  i -> md5(array_join(slice(split(text, ' '), i + 1, 8), ' '))))""".stripMargin)

  /** One row `(keep…, h)` per distinct 8-gram hash of each row of `df` with
    * at least 8 words. The floor keeps [[gram8]] valid: for a shorter text
    * `sequence(0, size − 8)` counts down instead of coming out empty. */
  def gram8Rows(df: DataFrame, keep: String*): DataFrame =
    df.filter(size(split(col("text"), " ")) >= 8)
      .select(keep.map(col) :+ explode(gram8).as("h"): _*)
}
