package graft.perfbench

/** The benchmark's own arithmetic, kept free of Spark so it can be tested
  * on plain numbers. Intervals are half-open `[start, end)` pairs on one
  * clock. */
object Stats {

  /** Linear-interpolation quantile (the "exclusive" method of Python's
    * `statistics.quantiles`, which the acceptance check uses), `q` in
    * (0, 1). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val n = s.size
    val pos = q * (n + 1) - 1 // 0-based
    if (pos <= 0) s.head
    else if (pos >= n - 1) s.last
    else {
      val lo = pos.toInt
      s(lo) + (pos - lo) * (s(lo + 1) - s(lo))
    }
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Number of samples strictly above the `q` quantile. */
  def beyond(xs: Seq[Double], q: Double): Int = {
    val v = quantile(xs, q)
    xs.count(_ > v)
  }

  /** The highest percentile a run of `n` samples supports when at least
    * `tail` samples must lie beyond it: `1 - tail / n`, or `None` when
    * fewer than `2 * tail` samples leave no percentile above the median. */
  def supportedPercentile(n: Int, tail: Int = 10): Option[Double] =
    if (n < 2 * tail) None else Some(1.0 - tail.toDouble / n)

  /** Total length covered by a set of possibly overlapping intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    covered
  }

  /** A span's self time: its length minus the part of it that its
    * children cover. Children may overlap each other and may stick out of
    * the parent (a job that outlives its phase); only the covered part of
    * the parent's own interval is subtracted. */
  def selfTime(parent: (Long, Long), children: Seq[(Long, Long)]): Long = {
    val (ps, pe) = parent
    val clipped = children.map { case (s, e) => (math.max(s, ps), math.min(e, pe)) }
    (pe - ps) - unionLength(clipped)
  }

  /** Task-slot use: summed task run time over the time at least one job
    * was active, times the slot count. Overlapping jobs count once. */
  def slotBusyFrac(taskRunTime: Double, jobs: Seq[(Long, Long)],
      cores: Int): Double = {
    val active = unionLength(jobs).toDouble
    if (active <= 0) 0.0 else taskRunTime / (active * cores)
  }
}
