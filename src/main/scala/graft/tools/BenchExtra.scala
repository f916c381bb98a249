package graft.tools

import graft.util.LocalSpark

/** Subset bench with graft.Bench's session settings and name-sorted order —
  * the sanctioned extra-benchmark main for optimization A/B runs so the
  * frozen harness never changes. Each selected query runs once untimed
  * (its JIT and codegen warm-up; a failure there fails the bench), then N
  * timed count()s (default 5); it prints the min and the median of the N.
  * Usage:
  *   BenchExtra <q1,q2,...|all> [sfDir] [runs]
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val names = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val nRuns = if (args.length > 2) args(2).toInt else 5
    val all = graft.SparkEntry.queries
    val wanted =
      if (names == "all") all.keys.toSeq.sorted
      else names.split(",").map(_.trim).filter(_.nonEmpty).sorted.toSeq
    val unknown = wanted.filterNot(all.contains)
    require(wanted.nonEmpty, s"no query selected by '$names'")
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    require(nRuns > 0, s"runs must be positive, got $nRuns")
    val sel = wanted.map(n => n -> all(n))
    val spark = LocalSpark.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    try {
      val results = sel.map { case (name, fn) =>
        fn(spark, sfDir).count()
        val times = (1 to nRuns).map { _ =>
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          (System.nanoTime() - t0) / 1e9
        }
        val sorted = times.sorted
        val median = (sorted((nRuns - 1) / 2) + sorted(nRuns / 2)) / 2
        println(f"[benchextra] $name%-26s min=${times.min}%.3f  median=$median%.3f  " +
          times.map(t => f"$t%.2f").mkString("[", ", ", "]"))
        (times.min, median)
      }
      println(f"[benchextra] TOTAL(min) = ${results.map(_._1).sum}%.3f s, " +
        f"TOTAL(median) = ${results.map(_._2).sum}%.3f s over ${results.size} queries")
    } finally spark.stop()
  }
}
