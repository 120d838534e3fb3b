package etlbench

/** Order statistics and interval arithmetic shared by the end-to-end
  * summary and the trace. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Samples a tail must have beyond it. */
  val TailBeyond = 10

  /** The tail of a timing series: the highest percentile that still has
    * at least ten samples above it. With n sorted samples that is the
    * (n - 10)-th smallest, i.e. percentile 100 * (n - 10) / n. Returns
    * (percentile, value), or None with ten samples or fewer. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.size <= TailBeyond) None
    else {
      val s = xs.sorted
      val k = s.size - TailBeyond // 1-based rank of the tail sample
      Some((100.0 * k / s.size, s(k - 1)))
    }

  /** Total length of the union of half-open intervals [start, end). */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of a span: its duration minus the part of it that its
    * children cover. Children may overlap each other (concurrent jobs)
    * and may stick out of the parent (asynchronous event timestamps);
    * both are handled by clipping to the parent and taking the union. */
  def selfTime(parent: (Long, Long), children: Seq[(Long, Long)]): Long = {
    val (ps, pe) = parent
    val clipped = children.map { case (s, e) => (math.max(s, ps), math.min(e, pe)) }
    (pe - ps) - unionLength(clipped)
  }
}
