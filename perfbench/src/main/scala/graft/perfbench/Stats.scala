package graft.perfbench

/** Pure measurement helpers: percentiles, interval unions, the Zipf key
  * sampler and open-loop lateness accounting. No Spark here, so the unit
  * tests exercise them directly. */
object Stats {

  /** A percentile together with the number of samples it was taken from,
    * so a report can say how many samples lie beyond it. */
  final case class Pct(value: Double, n: Int)

  /** Linear-interpolation percentile (the "inclusive" definition used by
    * Python's `statistics.quantiles(method="inclusive")`): p in [0, 1].
    * An empty sample gives NaN with n = 0. */
  def percentile(xs: Seq[Double], p: Double): Pct = {
    require(p >= 0.0 && p <= 1.0, s"percentile $p outside [0, 1]")
    if (xs.isEmpty) Pct(Double.NaN, 0)
    else {
      val s = xs.sorted
      val pos = p * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      Pct(s(lo) + (s(hi) - s(lo)) * (pos - lo), s.length)
    }
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5).value

  /** Total length covered by a set of half-open intervals [start, end);
    * overlapping and nested intervals count once. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach {
      case (s, e) =>
        if (s > curE) {
          if (curE > curS) total += curE - curS
          curS = s; curE = e
        } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** The part of `window` that no interval covers: the driver gap when
    * the intervals are Spark job lifetimes. Intervals are clipped to the
    * window first. */
  def uncovered(window: (Long, Long), intervals: Seq[(Long, Long)]): Long = {
    val (ws, we) = window
    val clipped = intervals.map { case (s, e) =>
      (math.max(s, ws), math.min(e, we)) }
    math.max(0L, (we - ws) - unionLength(clipped))
  }

  /** Zipf(s) over ranks 1..n, sampled by inverse CDF from its own seeded
    * generator: the same (n, s, seed) always yields the same sequence. */
  final class Zipf(val n: Int, val s: Double, seed: Long) {
    require(n >= 1 && s > 0.0)
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    private val rng = new scala.util.Random(seed)

    /** Next rank in [1, n]. */
    def next(): Int = {
      val u = rng.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n, (if (i >= 0) i else -i - 1) + 1)
    }

    /** Share of draws that land on the top `k` ranks, by the distribution
      * (not a sample): the skew recorded in the output. */
    def topShare(k: Int): Double = cdf(math.min(k, n) - 1)
  }

  /** One open-loop request as sent: when it was due, when the generator
    * actually sent it and when its response completed (nanoseconds). */
  final case class Sent(dueNs: Long, sentNs: Long, doneNs: Long) {
    def latencyNs: Long = doneNs - dueNs
    def latenessNs: Long = math.max(0L, sentNs - dueNs)
  }

  /** Lateness and backlog of an open-loop schedule. `backlog` counts the
    * requests still unfinished when the schedule's last slot ended; the
    * drain time is how long after that the last response arrived. */
  final case class Lateness(lateP99Ms: Double, lateMaxMs: Double,
      backlog: Int, drainMs: Double)

  def lateness(sent: Seq[Sent], scheduleEndNs: Long): Lateness = {
    val late = sent.map(_.latenessNs / 1e6)
    val backlog = sent.count(_.doneNs > scheduleEndNs)
    val lastDone = if (sent.isEmpty) scheduleEndNs else sent.map(_.doneNs).max
    Lateness(
      if (late.isEmpty) 0.0 else percentile(late, 0.99).value,
      if (late.isEmpty) 0.0 else late.max,
      backlog,
      math.max(0L, lastDone - scheduleEndNs) / 1e6)
  }

  /** Evenly spaced due times (offsets from the schedule start, ns) for a
    * fixed rate over a duration. */
  def dueTimes(ratePerS: Double, durationS: Double): IndexedSeq[Long] = {
    val count = math.max(1, math.round(ratePerS * durationS).toInt)
    val gap = 1e9 / ratePerS
    (0 until count).map(i => math.round(i * gap))
  }
}
