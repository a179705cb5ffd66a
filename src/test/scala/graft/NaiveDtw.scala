package graft

/** DTW written the slow, obvious way, as a test oracle for the engine's
  * DTW: z-normalize each series, fill the whole (n+1) x (m+1) cost matrix,
  * and walk back from the corner taking the cheapest of up, left and
  * diagonal, the first of them on a tie (Python's `min` order). With a
  * Sakoe-Chiba window w, a cell with |i - j| > w stays +inf. */
object NaiveDtw {

  /** Z-score with the population stddev; a constant series is only
    * mean-centred. */
  def normalize(xs: Seq[Double]): Seq[Double] = {
    val mean = xs.sum / xs.length
    val std = math.sqrt(xs.map(x => (x - mean) * (x - mean)).sum / xs.length)
    if (std == 0.0) xs.map(_ - mean) else xs.map(x => (x - mean) / std)
  }

  /** (cost, path) of two non-empty series: the path is the (i, j) index
    * pairs from (0, 0) to (n - 1, m - 1). */
  def align(
      s1: Seq[Double],
      s2: Seq[Double],
      normalizeInput: Boolean = true,
      window: Option[Int] = None): (Double, Seq[(Int, Int)]) = {
    val (a, b) = if (normalizeInput) (normalize(s1), normalize(s2)) else (s1, s2)
    val (n, m) = (a.length, b.length)
    val dp = Array.fill(n + 1, m + 1)(Double.PositiveInfinity)
    dp(0)(0) = 0.0
    for (i <- 1 to n; j <- 1 to m if window.forall(math.abs(i - j) <= _))
      dp(i)(j) = math.abs(a(i - 1) - b(j - 1)) + Seq(dp(i - 1)(j), dp(i)(j - 1), dp(i - 1)(j - 1)).min
    var (i, j) = (n, m)
    var path = List.empty[(Int, Int)]
    while (i > 0 && j > 0) {
      path = (i - 1, j - 1) :: path
      val (ni, nj) = Seq((i - 1, j), (i, j - 1), (i - 1, j - 1)).minBy { case (x, y) => dp(x)(y) }
      i = ni
      j = nj
    }
    (dp(n)(m), path)
  }
}
