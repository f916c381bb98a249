package graft

import org.apache.spark.sql.functions._

import graft.operators.{CurationState, NearDup}

/** The word floors in front of the shingle and 8-gram units, run on docs of
  * 0, 2, 7, 8 and 10 words (the sf fixtures hold only 10–100-word docs, so
  * the differential never reaches them). Expected values are worked out by
  * hand: a doc of n distinct words has n − 2 shingles and n − 7 8-grams. */
class ShortDocSpec extends SparkSuite {
  import spark.implicits._

  private val words = "a b c d e f g h i j".split(" ")
  private def text(n: Int) = words.take(n).mkString(" ")
  private def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
    .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  // doc ids 23 and 46 are pseudo-eval members (doc_id % 23 == 0)
  private val docs = Seq(1L -> text(0), 2L -> text(2), 3L -> text(2),
    23L -> text(7), 46L -> text(8), 50L -> text(10)).toDF("doc_id", "text")

  test("a 2-word doc yields no shingles and no pair") {
    val sets = NearDup.shingleSets(docs).select("doc_id", "nsh")
      .as[(Long, Int)].collect().toMap
    assert(sets == Map(23L -> 5, 46L -> 6, 50L -> 8))
    assert(NearDup.shingleRows(docs).filter(col("doc_id") <= 3).count() == 0)
    // docs 2 and 3 are equal, but below the floor they have nothing to pair
    assert(NearDup.pairs(NearDup.shingleSets(docs)).select("i", "j")
      .as[(Long, Long)].collect().toSet == Set((23L, 46L), (23L, 50L), (46L, 50L)))
  }

  test("a 7-word eval doc adds no eval_grams row; an 8-word doc shares its one gram") {
    val sd = java.nio.file.Files.createTempDirectory("graft-short-docs").toString
    val r = CurationState.run(spark, docs, sd, "1")
    // the eval members are docs 23 (7 words) and 46 (8 words): only 46 has a gram
    val gram = md5(text(8))
    assert(r.metrics("n_eval_grams") == 1)
    assert(CurationState.load(spark, sd).evalGrams.get.as[String].collect().toSeq == Seq(gram))
    val shared = CurationState.screen(spark, docs, sd).select("doc_id", "n_shared")
      .as[(Long, Int)].collect().toMap
    // doc 50's 8-grams are a..h, b..i and c..j: it shares the first
    assert(shared == Map(1L -> 0, 2L -> 0, 3L -> 0, 23L -> 0, 46L -> 1, 50L -> 1))

    // the 7-word doc alone as the explicit eval set: no gram at all
    val sd7 = java.nio.file.Files.createTempDirectory("graft-short-docs").toString
    val r7 = CurationState.run(spark, docs, sd7, "1",
      Some(docs.filter(col("doc_id") === 23)))
    assert(r7.metrics("n_eval_grams") == 0)
  }
}
