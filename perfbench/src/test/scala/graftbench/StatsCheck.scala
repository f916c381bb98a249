package graftbench

import Stats.Span

/** Checks of the benchmark's pure helpers; exits non-zero on the first
  * failure. Run with `python3 perfbench/build.py --test`. */
object StatsCheck {
  private var n = 0

  private def check(what: String)(ok: => Boolean): Unit = {
    n += 1
    if (!ok) { System.err.println(s"FAIL: $what"); sys.exit(1) }
  }

  private def close(a: Double, b: Double) = math.abs(a - b) < 1e-9

  def main(args: Array[String]): Unit = {
    check("median of odd and even counts") {
      Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 && Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5
    }

    // an upper percentile needs at least ten samples beyond it
    check("no upper percentile below 40 samples") {
      (1 to 39).forall(k => Stats.supportedUpperPercentile(k).isEmpty)
    }
    check("p75 from 40 samples (10 beyond)") { Stats.supportedUpperPercentile(40).contains(75.0) }
    check("p90 from 100 samples, not from 99") {
      Stats.supportedUpperPercentile(100).contains(90.0) &&
        Stats.supportedUpperPercentile(99).contains(75.0)
    }
    check("p99 from 1000 samples, p99.9 from 10000") {
      Stats.supportedUpperPercentile(1000).contains(99.0) &&
        Stats.supportedUpperPercentile(10000).contains(99.9)
    }

    // self times of a prefix chain, and the residual of a whole pass
    check("self times are successive differences of the prefixes") {
      Stats.selfTimes(Seq(1.0, 1.5, 3.5)).zip(Seq(1.0, 0.5, 2.0)).forall { case (a, b) => close(a, b) }
    }
    check("self times keep a negative difference") {
      Stats.selfTimes(Seq(2.0, 1.75)).zip(Seq(2.0, -0.25)).forall { case (a, b) => close(a, b) }
    }
    check("self times sum to the last prefix") {
      val cum = Seq(0.4, 0.9, 1.0, 2.7)
      close(Stats.selfTimes(cum).sum, cum.last)
    }
    check("layers plus residual equal the pass") {
      val layers = Seq(0.5, 1.25, 0.25)
      close(Stats.residual(3.0, layers), 1.0) && close(layers.sum + Stats.residual(3.0, layers), 3.0)
    }
    check("residual is not hidden when layers exceed the pass") {
      close(Stats.residual(1.0, Seq(0.75, 0.5)), -0.25)
    }
    check("skew is max over median, 1 for a single task") {
      close(Stats.skew(Seq(10.0, 10.0, 40.0)), 4.0) && Stats.skew(Seq(5.0)) == 1.0 &&
        close(Stats.skew(Seq(0.0, 0.0, 3.0)), 3.0)
    }

    // listener window attribution
    val spans = Seq(Span("b", 20, 30), Span("a", 10, 20), Span("c", 40, 50))
    val got = Stats.attribute(spans, Seq(5L -> "early", 10L -> "a1", 20L -> "tie",
      25L -> "b1", 35L -> "gap", 50L -> "c1", 51L -> "late"))
    check("events land in the span containing them") {
      got("a") == Seq("a1", "tie") && got("b") == Seq("b1") && got("c") == Seq("c1")
    }
    check("events outside every span are dropped; empty spans are listed") {
      got.values.flatten.toSet == Set("a1", "tie", "b1", "c1") &&
        Stats.attribute(Seq(Span("x", 0, 1)), Seq.empty[(Long, Int)]) == Map("x" -> Seq.empty)
    }
    check("overlapping spans are refused") {
      scala.util.Try(Stats.attribute(Seq(Span("x", 0, 10), Span("y", 5, 15)), Seq(1L -> 1))).isFailure
    }
    println(s"StatsCheck: $n checks passed")
  }
}
