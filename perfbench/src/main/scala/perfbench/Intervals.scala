package perfbench

/** Interval arithmetic over half-open `[start, end)` ranges, in one clock. */
object Intervals {

  /** Total length of the union of `ivs`, clipped to `[lo, hi)`. */
  def unionLength(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = ivs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Time in `[lo, hi)` that none of `ivs` covers. */
  def uncovered(lo: Long, hi: Long, ivs: Seq[(Long, Long)]): Long =
    (hi - lo) - unionLength(ivs, lo, hi)
}
