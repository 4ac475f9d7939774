package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("a percentile needs at least ten samples beyond it") {
    assert(Stats.supportedPercentile(100).contains(0.9))
    assert(Stats.supportedPercentile(200).contains(0.95))
    // 99 samples: p90 would leave only 9 beyond, so the rule stops lower
    assert(Stats.supportedPercentile(99).exists(_ < 0.9))
    assert(Stats.supportedPercentile(19).isEmpty)
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.beyond(xs, 0.9) >= 10)
    assert(Stats.beyond((1 to 99).map(_.toDouble), 0.9) < 10)
  }

  test("quantiles interpolate like Python's statistics.quantiles") {
    val xs = Seq(1.0, 2.0, 3.0, 4.0)
    // statistics.quantiles([1, 2, 3, 4], n=4) == [1.25, 2.5, 3.75]
    assert(Stats.quantile(xs, 0.25) == 1.25)
    assert(Stats.median(xs) == 2.5)
    assert(Stats.quantile(xs, 0.75) == 3.75)
    assert(Stats.median(Seq(5.0)) == 5.0)
  }

  test("self time subtracts the union of overlapping children once") {
    // children cover 10..50 (two overlapping jobs) and 90..100 of the
    // parent; the part of the last child past the parent's end is ignored
    val self = Stats.selfTime((0L, 100L), Seq((10L, 30L), (20L, 50L), (90L, 120L)))
    assert(self == 50L)
    assert(Stats.selfTime((0L, 100L), Nil) == 100L)
    assert(Stats.selfTime((0L, 100L), Seq((0L, 100L), (0L, 100L))) == 0L)
    assert(Stats.unionLength(Seq((0L, 10L), (10L, 20L), (30L, 35L))) == 25L)
  }

  test("slot use divides task time by job-active wall time times slots") {
    // jobs overlap on 5..10, so 15 time units are job-active; 30 units of
    // task time on 4 slots fill half of them
    assert(Stats.slotBusyFrac(30.0, Seq((0L, 10L), (5L, 15L)), 4) == 0.5)
    assert(Stats.slotBusyFrac(10.0, Nil, 4) == 0.0)
  }
}
