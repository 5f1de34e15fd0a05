package perfbench

/** Order statistics used for every reported timing. */
object Stats {

  /** NaN when there are no samples (every op failed), printed as null. */
  def median(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail: the highest percentile with at least ten samples beyond it,
    * i.e. the 11th-largest sample. With fewer than 21 samples no percentile
    * above the median has ten samples beyond it, and the tail is the median. */
  def tail(xs: Seq[Double]): Double =
    if (xs.length < 21) median(xs) else xs.sorted.apply(xs.length - 11)
}
