package graftbench

/** Pure arithmetic behind the reported figures (tested by StatsCheck). */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest rank of percentile p among n samples (1-based); the epsilon
    * keeps 99.9 % of 10000 at 9990 despite binary rounding. */
  private def rank(p: Double, n: Int): Int = math.ceil(p * n / 100 - 1e-9).toInt

  val UpperPercentiles: Seq[Double] = Seq(99.9, 99, 95, 90, 75)

  /** The highest upper percentile `n` samples support: one with at least
    * `minBeyond` samples above it. None when even p75 is not supported. */
  def supportedUpperPercentile(n: Int, minBeyond: Int = 10): Option[Double] =
    UpperPercentiles.find(p => n - rank(p, n) >= minBeyond)

  /** Self time of each layer in a prefix chain, from the cumulative figure
    * of each prefix (prefix k runs layers 1..k, so layer k's self time is
    * prefix k minus prefix k-1). Not clamped: a negative value is noise or a
    * layer that makes the rest cheaper, and is reported as measured. */
  def selfTimes(cumulative: Seq[Double]): Seq[Double] =
    cumulative.zip(0.0 +: cumulative).map { case (c, prev) => c - prev }

  /** What a whole-pass figure leaves unexplained by its layers. */
  def residual(total: Double, layers: Seq[Double]): Double = total - layers.sum

  /** max over median; 1.0 for fewer than two samples, and the median is
    * floored at 1 ms so an all-idle stage does not divide by zero. */
  def skew(taskMs: Seq[Double]): Double =
    if (taskMs.size < 2) 1.0 else taskMs.max / math.max(median(taskMs), 1.0)

  /** A named wall-clock interval [startMs, endMs]. */
  final case class Span(name: String, startMs: Long, endMs: Long)

  /** Assign each timestamped event to the span containing its timestamp.
    * Spans may touch but not overlap (a tie goes to the earlier span);
    * events outside every span are dropped, and a span with no events maps
    * to an empty list. */
  def attribute[T](spans: Seq[Span], events: Seq[(Long, T)]): Map[String, Seq[T]] = {
    val sorted = spans.sortBy(_.startMs)
    sorted.zip(sorted.drop(1)).foreach { case (a, b) =>
      require(a.endMs <= b.startMs, s"spans ${a.name} and ${b.name} overlap")
    }
    val hits = events.flatMap { case (t, e) =>
      sorted.find(s => t >= s.startMs && t <= s.endMs).map(_.name -> e)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    sorted.map(s => s.name -> hits.getOrElse(s.name, Seq.empty)).toMap
  }
}
