package graft.perfbench

import graft.StageMemo

/** The benchmark's own arithmetic, kept free of Spark so ArithSpec can pin
  * it: interval unions for driver idle time, the tail-percentile rule, and
  * per-query windows over the cumulative StageMemo counters. */
object Arith {

  /** Total length covered by the half-open intervals `[start, end)`,
    * counting overlapping and nested intervals once. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    val sorted = intervals.filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    sorted.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    covered
  }

  /** Wall time of `[from, to)` during which none of `busy` was running.
    * Intervals are clipped to the window first, so a job that straddles a
    * pass boundary counts only its part inside the pass. */
  def idleLength(from: Long, to: Long, busy: Seq[(Long, Long)]): Long = {
    val clipped = busy.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
    math.max(0L, (to - from) - unionLength(clipped))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** The highest percentile that still has at least `beyond` samples above
    * it, as (percentile, value). With n sorted samples that is the
    * (n - beyond)-th smallest, at percentile 100 * (n - beyond) / n. Too few
    * samples for any such percentile gives None. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double)] = {
    val n = xs.size
    val k = n - beyond
    if (k < 1) None
    else Some((100.0 * k / n, xs.sorted.apply(k - 1)))
  }

  /** A lap from several passes over the same queries: each query's
    * fastest time, summed. */
  def minOfPasses(passes: Seq[Map[String, Double]]): Double = {
    require(passes.nonEmpty, "no passes")
    passes.head.keys.toSeq.map(q => passes.map(_(q)).min).sum
  }

  /** Counters accumulated between two cumulative snapshots of the memo:
    * `after - before`, per build key too. Keys whose window added nothing
    * are dropped. */
  def memoDelta(before: StageMemo.Stats, after: StageMemo.Stats): StageMemo.Stats = {
    val builds = after.builds.flatMap { case (k, (n, ms)) =>
      val (n0, ms0) = before.builds.getOrElse(k, (0L, 0L))
      if (n > n0) Some(k -> ((n - n0, ms - ms0))) else None
    }
    StageMemo.Stats(after.hits - before.hits, after.misses - before.misses,
      after.evictions - before.evictions, builds)
  }

  /** Sum of per-query memo windows into one pass-wide window. */
  def memoSum(windows: Seq[StageMemo.Stats]): StageMemo.Stats =
    StageMemo.Stats(windows.map(_.hits).sum, windows.map(_.misses).sum,
      windows.map(_.evictions).sum,
      windows.flatMap(_.builds.toSeq).groupBy(_._1).map { case (k, vs) =>
        k -> ((vs.map(_._2._1).sum, vs.map(_._2._2).sum))
      })
}
