package graft.perfbench

/** The benchmark's own statistics. A timing is reported as its median
  * and as the highest percentile that still has at least ten samples
  * beyond it, so a tail figure never rests on one or two outliers.
  */
object Stats {

  /** Percentiles a tail figure may be read at, highest first. */
  val TailLadder: Seq[Double] = Seq(0.99, 0.95, 0.9, 0.8, 0.75)

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile, q in (0, 1]. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
  }

  /** Samples strictly above the nearest-rank q-percentile position. */
  def beyond(n: Int, q: Double): Int = n - math.ceil(q * n).toInt

  /** The highest ladder percentile with at least ten samples beyond it,
    * or None when there are too few samples for any.
    */
  def tailLevel(n: Int): Option[Double] = TailLadder.find(q => beyond(n, q) >= 10)

  def failRatio(failed: Long, attempted: Long): Double = {
    require(attempted > 0, "fail ratio over no attempts")
    failed.toDouble / attempted
  }

  /** Self-time of a span: its duration minus the part of its interval
    * covered by its children (children may overlap one another).
    */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long = {
    val clipped = children.map { case (s, e) => (math.max(s, start), math.min(e, end)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    (end - start) - covered
  }
}
