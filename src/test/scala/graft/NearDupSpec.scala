package graft

import org.apache.spark.sql.functions._

import graft.operators.NearDup

/** NearDup's pairs and components against values worked out by hand: the
  * Jaccard ≥ 1/2 boundary `3·inter = na + nb` (kept) and one shingle past it
  * (dropped), a stop shingle in many docs (pruned from the prefixes, yet no
  * pair lost), and a long path whose labels need many propagation rounds. */
class NearDupSpec extends SparkSuite {
  import spark.implicits._

  /** Brute-force verified pairs over the same docs: distinct word-3-grams
    * of each doc of ≥ 3 words, every i < j pair with 3·inter ≥ na + nb. */
  private def bruteForce(docs: Seq[(Long, String)]): Set[(Long, Long, Long, Long, Long)] = {
    val sh = docs.collect { case (id, t) if t.split(" ").length >= 3 =>
      id -> t.split(" ").sliding(3).map(_.mkString(" ")).toSet }
    (for {
      (i, a) <- sh; (j, b) <- sh if i < j
      inter = (a intersect b).size
      if 3 * inter >= a.size + b.size
    } yield (i, j, inter.toLong, a.size.toLong, b.size.toLong)).toSet
  }

  test("pairs == brute-force Jaccard: boundary pair kept, one shingle past it dropped") {
    val stop = (1 to 10).map(k => (100L + k) -> s"the of and u${k}a u${k}b u${k}c u${k}d")
    val docs = Seq(
      1L -> "p1 p2 p3 p4 p5 p6",       // 4 shingles
      2L -> "p2 p3 p4 p5 p6 q1 q2",    // 5 shingles, 3 shared with doc 1: 9 = 4 + 5
      3L -> "p2 p3 p4 p5 p6 r1 r2 r3", // 6 shingles, 3 shared with doc 1: 9 < 4 + 6
      4L -> "the of and u1a u1b u1c u1d") ++ stop // doc 4 = doc 101
    val got = NearDup.pairs(NearDup.shingleSets(docs.toDF("doc_id", "text")))
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got.contains((1L, 2L, 3L, 4L, 5L)))
    assert(!got.exists(p => p._1 == 1L && p._2 == 3L))
    assert(got.contains((4L, 101L, 5L, 5L, 5L)))
    assert(got == bruteForce(docs))
  }

  test("ccLabels: every label is its component's minimum id (41-node path + a pair)") {
    // a path over a permutation of 1000..1040 (its minimum at one end, the
    // slowest case for min-label propagation), and a separate 2-node component
    val path = (0 until 41).map(k => 1000L + (k * 17) % 41)
    val edges = path.zip(path.tail).map { case (a, b) => (a min b, a max b) } :+ (3L -> 9L)
    val labels = NearDup.ccLabels(edges.toDF("i", "j"))
      .select(col("node").cast("long"), col("comp").cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(labels == path.map(_ -> 1000L).toMap ++ Map(3L -> 3L, 9L -> 3L))
  }
}
