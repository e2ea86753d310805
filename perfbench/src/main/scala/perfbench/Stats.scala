package perfbench

/** The benchmark's arithmetic, kept free of Spark so it can be tested
  * on its own.
  */
object Stats {

  /** Quantile `q` in [0, 1] by linear interpolation between closest
    * ranks (the R-7 / numpy default rule): with the sample sorted as
    * x(0..n-1), h = (n - 1) q and the result is
    * x(floor h) + (h - floor h) (x(floor h + 1) - x(floor h)).
    * The median of an even-sized sample is then the mean of the two
    * middle values. An empty sample has no quantile.
    */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    require(q >= 0.0 && q <= 1.0, s"quantile $q outside [0, 1]")
    val s = xs.sorted.toIndexedSeq
    val h = (s.size - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** How many samples lie strictly above the `q` quantile. A percentile
    * is reported as supported when at least ten samples lie beyond it.
    */
  def beyond(xs: Seq[Double], q: Double): Int = {
    val v = quantile(xs, q)
    xs.count(_ > v)
  }

  /** How many whole passes a closed loop runs in a run of `seconds`: the
    * run length over the pass's nominal length, at least one. The count
    * depends only on the run length, so every seed and every commit does
    * the same operations; a faster program measures a shorter window.
    */
  def passes(seconds: Int, nominalPassSeconds: Double): Int =
    math.max(1, math.round(seconds / nominalPassSeconds).toInt)

  /** Total length of the union of half-open intervals [start, end). */
  def unionLength(intervals: Seq[(Double, Double)]): Double = {
    val sorted = intervals.filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    sorted.foreach { case (s, e) =>
      if (curE.isNaN || s > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curE.isNaN) total += curE - curS
    total
  }

  /** A span's self time: its duration minus the part of its interval
    * covered by its direct children. Children may overlap each other
    * (parallel work) and may stick out of the parent; only the covered
    * part of the parent's own interval counts, and each instant is
    * subtracted once.
    */
  def selfTime(start: Double, end: Double, children: Seq[(Double, Double)]): Double = {
    val clipped = children.map { case (s, e) => (math.max(s, start), math.min(e, end)) }
    (end - start) - unionLength(clipped)
  }
}
