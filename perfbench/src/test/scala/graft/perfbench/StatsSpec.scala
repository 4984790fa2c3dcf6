package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  import Stats._

  test("percentile interpolates and reports its sample count") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0, 5.0)
    assert(percentile(xs, 0.5) == Pct(3.0, 5))
    assert(percentile(xs, 0.0).value == 1.0)
    assert(percentile(xs, 1.0).value == 5.0)
    assert(math.abs(percentile(xs, 0.9).value - 4.6) < 1e-9)
    assert(percentile(Seq(7.0), 0.99) == Pct(7.0, 1))
    val empty = percentile(Nil, 0.5)
    assert(empty.n == 0 && empty.value.isNaN)
    assertThrows[IllegalArgumentException](percentile(xs, 1.5))
  }

  test("percentile matches Python's inclusive quantiles") {
    // statistics.quantiles([1..10], n=4, method="inclusive")
    val xs = (1 to 10).map(_.toDouble)
    assert(percentile(xs, 0.25).value == 3.25)
    assert(percentile(xs, 0.75).value == 7.75)
  }

  test("interval union counts overlaps and nesting once") {
    assert(unionLength(Nil) == 0L)
    assert(unionLength(Seq((0L, 10L))) == 10L)
    assert(unionLength(Seq((0L, 10L), (5L, 15L))) == 15L)
    assert(unionLength(Seq((0L, 10L), (2L, 3L))) == 10L)
    assert(unionLength(Seq((20L, 30L), (0L, 10L))) == 20L)
    assert(unionLength(Seq((0L, 10L), (10L, 20L))) == 20L)
    assert(unionLength(Seq((5L, 5L), (7L, 3L))) == 0L)
    // two overlapping jobs: 3.0 s of job time in 2.5 s of busy time
    assert(unionLength(Seq((0L, 1500L), (1000L, 2500L))) == 2500L)
  }

  test("uncovered is the window minus the clipped union: the driver gap") {
    assert(uncovered((0L, 100L), Nil) == 100L)
    assert(uncovered((0L, 100L), Seq((10L, 20L), (15L, 40L))) == 70L)
    assert(uncovered((0L, 100L), Seq((-50L, 10L), (90L, 150L))) == 80L)
    assert(uncovered((0L, 100L), Seq((-10L, 200L))) == 0L)
  }

  test("Zipf sampling is deterministic per seed and skewed to low ranks") {
    def draws(seed: Long) = {
      val z = new Zipf(1000, 1.1, seed)
      Seq.fill(2000)(z.next())
    }
    assert(draws(7) == draws(7))
    assert(draws(7) != draws(8))
    val d = draws(7)
    assert(d.forall(r => r >= 1 && r <= 1000))
    val z = new Zipf(1000, 1.1, 0)
    val top10 = d.count(_ <= 10).toDouble / d.size
    assert(math.abs(top10 - z.topShare(10)) < 0.05)
    assert(z.topShare(1) < z.topShare(10))
    assert(math.abs(z.topShare(1000) - 1.0) < 1e-9)
  }

  test("lateness separates generator lateness from backlog at schedule end") {
    val ms = 1000000L
    val sent = Seq(
      Sent(dueNs = 0, sentNs = 1 * ms, doneNs = 300 * ms),
      Sent(dueNs = 500 * ms, sentNs = 500 * ms, doneNs = 1200 * ms),
      Sent(dueNs = 1000 * ms, sentNs = 1004 * ms, doneNs = 2100 * ms))
    val l = lateness(sent, scheduleEndNs = 1500 * ms)
    assert(l.backlog == 1)
    assert(l.drainMs == 600.0)
    assert(l.lateMaxMs == 4.0)
    assert(l.lateP99Ms <= 4.0 && l.lateP99Ms > 3.9)
    assert(sent.map(_.latencyNs / ms) == Seq(300L, 700L, 1100L))
    val none = lateness(Nil, 0L)
    assert(none.backlog == 0 && none.drainMs == 0.0)
  }

  test("due times are evenly spaced at the rate") {
    assert(dueTimes(2.0, 2.0) == Seq(0L, 500000000L, 1000000000L,
      1500000000L))
    assert(dueTimes(4.0, 0.1).size == 1)
  }
}
