package perfbench

/** The benchmark's own arithmetic, kept free of Spark so it is tested
  * directly (StatsSpec). */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A latency at a nearest-rank percentile, with how many samples it
    * rests on and how many lie above it. */
  final case class Tail(value: Double, percentile: Int, samples: Int, beyond: Int)

  /** The highest integer percentile that still has `minBeyond` samples
    * above it: with nearest-rank percentiles the rank of percentile p
    * is ceil(p * n / 100), so the rule picks p = floor(100 * (n - k) / n)
    * and reads the sample at that rank. With n <= k no percentile
    * qualifies; the maximum is reported as percentile 100 with nothing
    * beyond it. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    if (n <= minBeyond) Tail(s.last, 100, n, 0)
    else {
      val p = (100L * (n - minBeyond) / n).toInt
      val rank = math.max(1, math.ceil(p.toDouble * n / 100).toInt)
      Tail(s(rank - 1), p, n, n - rank)
    }
  }

  /** A span as an interval with its parent's id (-1 for a root). */
  final case class Interval(id: Int, parent: Int, start: Long, end: Long) {
    def duration: Long = end - start
  }

  /** Self time of every span: its duration minus the part of its
    * interval covered by its direct children (overlapping children are
    * counted once, and a child sticking out of its parent is clipped). */
  def selfTimes(spans: Seq[Interval]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val clipped = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var curStart = Long.MinValue
      var curEnd = Long.MinValue
      for ((a, b) <- clipped) {
        if (a > curEnd) {
          if (curEnd > curStart) covered += curEnd - curStart
          curStart = a; curEnd = b
        } else curEnd = math.max(curEnd, b)
      }
      if (curEnd > curStart) covered += curEnd - curStart
      s.id -> (s.duration - covered)
    }.toMap
  }

  /** Self times by cumulative prefix: `prefixes(i)` is the time of
    * writing the first i+1 layers, `total` the time of the whole op.
    * Layer i's self time is its prefix minus the previous one, after
    * the prefixes are made non-decreasing and capped at `total` (run
    * noise can make a longer prefix read faster). The result has one
    * entry per prefix plus one for the rest of the op; every entry is
    * non-negative and they sum to `total`. */
  def prefixSelf(prefixes: Seq[Double], total: Double): Seq[Double] = {
    require(total >= 0, s"negative op time $total")
    val envelope = prefixes.scanLeft(0.0)(math.max).tail.map(math.min(_, total))
    val bounds = 0.0 +: envelope :+ total
    bounds.sliding(2).map { case Seq(a, b) => b - a }.toSeq
  }
}
