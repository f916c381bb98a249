package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.CurationState
import graft.streaming.StreamPipeline

/** Streaming twin of the resumable curation pipeline (r5): ONE readStream →
  * foreachBatch → CurationState.run per micro-batch must leave BIT-EQUAL
  * state — and therefore identical screens — to a single batch pass over the
  * same rows, for any ascending file split (the merges are associative;
  * IncrementalCurationSpec pins the batch-side identity, this spec pins the
  * Structured-Streaming plumbing: trigger, checkpoint, batch-id run ids,
  * manifest-as-commit-marker replay skip). */
class CurationStreamSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  private def docsDf: DataFrame =
    spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-curstream-$tag").toString

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("")).sorted.toSeq

  private def stateRows(stateDir: String): Map[String, Seq[String]] = {
    val st = CurationState.load(spark, stateDir)
    Map(
      "content_hashes" -> sortedRows(st.contentHashes.get),
      "seg_freq" -> sortedRows(st.segFreq.get),
      "eval_grams" -> sortedRows(st.evalGrams.get))
  }

  test("curationStream over 3 ascending files == one batch pass; replay skips") {
    val dd = docsDf
    val mx = dd.agg(max("doc_id")).first().getLong(0)

    // three doc_id-ascending files with pinned mtimes (FileStreamSource order)
    val base = SparkSuite.timeOrderedFiles(Seq(
      dd.filter(col("doc_id") <= mx / 3),
      dd.filter(col("doc_id") > mx / 3 && col("doc_id") <= 2 * mx / 3),
      dd.filter(col("doc_id") > 2 * mx / 3)))

    val single = tmp("single")
    CurationState.run(spark, dd, single, "1")
    val want = stateRows(single)

    val streamed = tmp("state")
    val stream = SparkSuite.fileStream(spark, base)
    val ran = StreamPipeline.curationStream(spark, stream, streamed, tmp("ckpt"))
    assert(ran.size === 3, s"expected 3 micro-batches, ran $ran")
    assert(stateRows(streamed) == want)

    // screens against the two states materialize the same rows
    assert(sortedRows(CurationState.screen(spark, dd, streamed)) ==
      sortedRows(CurationState.screen(spark, dd, single)))

    // restart from a fresh checkpoint: every manifested batch is skipped
    val stream2 = SparkSuite.fileStream(spark, base)
    val ran2 = StreamPipeline.curationStream(spark, stream2, streamed, tmp("ckpt2"))
    assert(ran2.isEmpty, s"replayed batches must be skipped, ran $ran2")
    assert(stateRows(streamed) == want)
  }
}
