package graftbench

/** The benchmark's own arithmetic: nearest-rank percentiles, the tail
  * rule, recall and rates. Pinned by StatsSpec. */
object Stats {

  /** Nearest-rank percentile: the smallest sample such that at least
    * `p` percent of the samples are at or below it. */
  def percentile(xs: Array[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile $p outside (0, 100]")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.length - 1e-9).toInt
    s(math.max(rank, 1) - 1)
  }

  def median(xs: Array[Double]): Double = percentile(xs, 50)

  /** The median, or 0 for a phase with no successful sample: the run
    * has then already counted its failed operations, and still reports. */
  def medianOrZero(xs: Array[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)

  /** Samples strictly beyond the nearest-rank `p` percentile. */
  def beyond(n: Int, p: Double): Int =
    n - math.max(math.ceil(p / 100.0 * n - 1e-9).toInt, 1)

  /** The highest of `candidates` with at least `minBeyond` samples
    * beyond it, so a tail figure is never read off a handful of
    * samples; None when even the lowest candidate lacks them. */
  def tailPercentile(n: Int, candidates: Seq[Double] = Seq(99.9, 99, 95, 90),
      minBeyond: Int = 10): Option[Double] =
    candidates.sorted.reverse.find(p => beyond(n, p) >= minBeyond)

  /** Share of the first `k` true neighbours found among the first `k`
    * returned ids. */
  def recallAt(k: Int, returned: Array[Long], truth: Array[Long]): Double = {
    require(truth.length >= k, s"truth holds ${truth.length} ids, fewer than k=$k")
    val got = returned.iterator.take(k).toSet
    truth.iterator.take(k).count(got.contains).toDouble / k
  }

  /** Mean recall@k over queries; every query id must have a result. */
  def meanRecall(k: Int, returned: Map[Long, Array[Long]],
      truth: Map[Long, Array[Long]]): Double = {
    require(truth.nonEmpty, "recall over no queries")
    truth.iterator.map { case (q, t) =>
      recallAt(k, returned.getOrElse(q, Array.empty[Long]), t)
    }.sum / truth.size
  }

  /** Items per second. */
  def rate(items: Long, seconds: Double): Double = {
    require(seconds > 0, s"rate over a non-positive interval $seconds")
    items / seconds
  }

  /** Total length of the union of closed intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    intervals.filter(iv => iv._2 > iv._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
