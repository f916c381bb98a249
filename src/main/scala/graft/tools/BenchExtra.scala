package graft.tools

import graft.util.LocalSpark

/** Subset bench with graft.Bench's exact methodology (same session settings,
  * name-sorted order, one untimed warmup query, min-of-N count() timings) —
  * the sanctioned extra-benchmark main for optimization A/B runs so the
  * frozen harness never changes. Usage:
  *   BenchExtra <q1,q2,...|all> [sfDir] [runs]
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val names = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val nRuns = if (args.length > 2) args(2).toInt else 2
    val all = graft.SparkEntry.queries
    val wanted =
      if (names == "all") all.keys.toSeq.sorted
      else names.split(",").map(_.trim).filter(_.nonEmpty).sorted.toSeq
    val unknown = wanted.filterNot(all.contains)
    require(wanted.nonEmpty, s"no query selected by '$names'")
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val sel = wanted.map(n => n -> all(n))
    val spark = LocalSpark.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    try { sel.head._2(spark, sfDir).count() }
    catch { case scala.util.control.NonFatal(_) => }
    val results = sel.map { case (name, fn) =>
      val times = (1 to nRuns).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[benchextra] $name%-26s min=${times.min}%.3f  " +
        times.map(t => f"$t%.2f").mkString("[", ", ", "]"))
      name -> times.min
    }
    println(f"[benchextra] TOTAL(min) = ${results.map(_._2).sum}%.3f s over " +
      s"${results.size} queries")
    spark.stop()
  }
}
