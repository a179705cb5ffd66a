package graft.operators

/** Dynamic Time Warping kernel — pure Scala, primitive arrays, no
  * dependencies. Runs in-JVM inside the per-entity kernel, whose one DTW
  * body (MappingKernel.align) calls [[distance]] on a key's period-sorted
  * series (no Arrow / Python worker boundary, unlike the reference's
  * pandas UDF).
  *
  * Behavior matches /root/reference/mapping_engine.py:109-216 exactly:
  *   - z-score normalization with population stddev; std==0 (or NaN) series
  *     degrade to mean-centering (mapping_engine.py:109-115);
  *   - O(n·m) DP with optional Sakoe-Chiba band of half-width `window`
  *     (mapping_engine.py:186-189) → O(n·w) work per pair;
  *   - absolute-difference local cost;
  *   - backtrack tie-break order: up (i-1,j), then left (i,j-1), then
  *     diagonal (i-1,j-1) — Python `min` keeps the first minimum
  *     (mapping_engine.py:203-211).
  */
object Dtw {

  /** Z-score with population stddev; constant series → mean-centered. */
  def normalize(arr: Array[Double]): Array[Double] = {
    val n = arr.length
    if (n == 0) return arr
    var sum = 0.0
    var i = 0
    while (i < n) { sum += arr(i); i += 1 }
    val mean = sum / n
    var ss = 0.0
    i = 0
    while (i < n) { val d = arr(i) - mean; ss += d * d; i += 1 }
    val std = math.sqrt(ss / n)
    val out = new Array[Double](n)
    if (std == 0.0 || std.isNaN) {
      i = 0; while (i < n) { out(i) = arr(i) - mean; i += 1 }
    } else {
      i = 0; while (i < n) { out(i) = (arr(i) - mean) / std; i += 1 }
    }
    out
  }

  /** DTW distance + optimal warping path of two non-empty series, in the
    * order given (the caller sorts them).
    *
    * Storage is O(n·m) unconstrained, but only O(n·w) when a Sakoe-Chiba
    * band is given (row i stores the 2w+1 cells it can touch) — the path
    * backtrack needs the whole (banded) matrix, so the band is what makes
    * long-series DTW memory-feasible per executor task.
    *
    * @param window Sakoe-Chiba band half-width (None = unconstrained)
    * @return (total cost, path as (idx1, idx2) pairs, increasing)
    */
  def distance(
      s1: Array[Double],
      s2: Array[Double],
      window: Option[Int] = None,
      normalizeInput: Boolean = true): (Double, Array[(Int, Int)]) = {
    val a = if (normalizeInput) normalize(s1) else s1
    val b = if (normalizeInput) normalize(s2) else s2
    val n = a.length
    val m = b.length
    require(n > 0 && m > 0, "DTW requires non-empty series")
    val inf = Double.PositiveInfinity

    // dp(i)(j) over the (n+1) x (m+1) grid; banded mode stores row i's
    // reachable columns [i-w, i+w] in a (2w+3)-wide stripe (+1 slack each
    // side so the backtrack's (i, j-1) / (i-1, j) probes stay in range),
    // shifted so column j of row i sits at offset j - i + w + 1.
    // Fill bounds use the RAW window — including the reference's behavior
    // that a corner outside the band stays +inf (mapping_engine.py:186-189).
    val banded = window.isDefined
    val w = if (banded) window.get else 0
    val stripe = if (banded) 2 * w + 3 else m + 1
    // Refuse before allocating: the cells must fit one Java array and a
    // quarter of the heap (an Int product wraps to an empty array at
    // 50,001 unbanded points).
    val cells = (n + 1).toLong * stripe
    val maxCells = math.min(Int.MaxValue - 8L, Runtime.getRuntime.maxMemory / 4 / 8)
    if (cells > maxCells)
      throw new IllegalArgumentException(
        s"DTW of $n x $m points (window ${if (banded) w else "none"}) needs $cells cells > $maxCells")
    val dp = new Array[Double](cells.toInt)
    java.util.Arrays.fill(dp, inf)
    val rowStep = if (banded) stripe - 1 else stripe
    val shift = if (banded) w + 1 else 0
    @inline def get(i: Int, j: Int): Double =
      if (i < 0 || j < 0 || i > n || j > m || (banded && math.abs(j - i) > w + 1)) inf
      else dp(i * rowStep + j + shift)
    dp(shift) = 0.0

    var i = 1
    while (i <= n) {
      val jEnd = if (banded) math.min(m, i + w) else m
      var j = if (banded) math.max(1, i - w) else 1
      while (j <= jEnd) {
        val cost = math.abs(a(i - 1) - b(j - 1))
        val up = get(i - 1, j)
        val left = get(i, j - 1)
        val diag = get(i - 1, j - 1)
        var best = up
        if (left < best) best = left
        if (diag < best) best = diag
        dp(i * rowStep + j + shift) = cost + best
        j += 1
      }
      i += 1
    }

    // Backtrack into the tails of two arrays (a path has at most n + m - 1
    // steps): first-minimum preference up > left > diag (Python min order).
    val pathI = new Array[Int](n + m - 1)
    val pathJ = new Array[Int](n + m - 1)
    var k = pathI.length
    var ci = n
    var cj = m
    while (ci > 0 && cj > 0) {
      k -= 1
      pathI(k) = ci - 1
      pathJ(k) = cj - 1
      val up = get(ci - 1, cj)
      val left = get(ci, cj - 1)
      val diag = get(ci - 1, cj - 1)
      if (up <= left && up <= diag) ci -= 1
      else if (left <= diag) cj -= 1
      else { ci -= 1; cj -= 1 }
    }
    val start = k
    (get(n, m), Array.tabulate(pathI.length - start)(t => (pathI(start + t), pathJ(start + t))))
  }
}
