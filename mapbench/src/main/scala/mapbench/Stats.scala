package mapbench

/** Order statistics used for every reported timing. */
object Stats {

  /** Samples that must lie beyond the reported tail value. */
  val TailBeyond = 10

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile that still has at least [[TailBeyond]] samples
    * beyond it: the (TailBeyond+1)-th largest sample. With fewer samples no
    * such percentile exists and the maximum is returned (see
    * [[tailLevel]] for which level a value stands for). */
  def tail(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    if (s.length > TailBeyond) s(s.length - 1 - TailBeyond) else s.last
  }

  /** Percentile level (0..100) of [[tail]] for `n` samples. */
  def tailLevel(n: Int): Double =
    if (n > TailBeyond) 100.0 * (n - TailBeyond) / n else 100.0
}
