package graft.operators

import graft.core.PathStep

/** One point of an entity's merged series: (period ISO string, v1, v2),
  * the input of [[Dtw.align]]. */
final case class PeriodPoint(period: String, v1: Double, v2: Double)

/** Dynamic Time Warping kernel — pure Scala, primitive arrays, no
  * dependencies. Runs in-JVM inside the per-entity kernel (MappingKernel;
  * no Arrow / Python worker boundary, unlike the reference's pandas UDF).
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

  /** DTW distance + optimal warping path.
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
    // side so the backtrack's (i, j-1) / (i-1, j) probes stay in range).
    // Fill bounds use the RAW window — including the reference's behavior
    // that a corner outside the band stays +inf (mapping_engine.py:186-189).
    val bandW = window.getOrElse(0)
    val stripe = if (window.isDefined) 2 * bandW + 3 else m + 1
    // Refuse before allocating: the cells must fit one Java array and a
    // quarter of the heap (an Int product wraps to an empty array at
    // 50,001 unbanded points).
    val cells = (n + 1).toLong * stripe
    val maxCells = math.min(Int.MaxValue - 8L, Runtime.getRuntime.maxMemory / 4 / 8)
    if (cells > maxCells)
      throw new IllegalArgumentException(
        s"DTW of $n x $m points (window ${window.getOrElse("none")}) needs $cells cells > $maxCells")
    val dp = Array.fill(cells.toInt)(inf)
    @inline def slot(i: Int, j: Int): Int =
      if (window.isDefined) i * stripe + (j - i + bandW + 1) else i * stripe + j
    @inline def inStripe(i: Int, j: Int): Boolean =
      j >= 0 && j <= m && (window.isEmpty || (j - i + bandW + 1 >= 0 && j - i + bandW + 1 < stripe))
    @inline def get(i: Int, j: Int): Double =
      if (i < 0 || j < 0 || i > n || j > m || !inStripe(i, j)) inf else dp(slot(i, j))
    dp(slot(0, 0)) = 0.0

    var i = 1
    while (i <= n) {
      val jStart = window.map(w => math.max(1, i - w)).getOrElse(1)
      val jEnd = window.map(w => math.min(m, i + w)).getOrElse(m)
      var j = jStart
      while (j <= jEnd) {
        val cost = math.abs(a(i - 1) - b(j - 1))
        val up = get(i - 1, j)
        val left = get(i, j - 1)
        val diag = get(i - 1, j - 1)
        var best = up
        if (left < best) best = left
        if (diag < best) best = diag
        dp(slot(i, j)) = cost + best
        j += 1
      }
      i += 1
    }

    // Backtrack: first-minimum preference up > left > diag (Python min order).
    val path = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var ci = n
    var cj = m
    while (ci > 0 && cj > 0) {
      path += ((ci - 1, cj - 1))
      val up = get(ci - 1, cj)
      val left = get(ci, cj - 1)
      val diag = get(ci - 1, cj - 1)
      if (up <= left && up <= diag) ci -= 1
      else if (left <= diag) cj -= 1
      else { ci -= 1; cj -= 1 }
    }
    (get(n, m), path.reverse.toArray)
  }

  /** One entity's alignment from its (unsorted) points: sort by period
    * (ISO dates sort chronologically as strings), run [[distance]], and
    * label each path step with its periods and values. An empty series
    * gets the reference's fallback, zero cost and an empty identity path
    * (mapping_engine.py:313-315); any other kernel error propagates.
    * Called by the mapping kernel's one DTW body (MappingKernel.align). */
  def align(
      points: Seq[PeriodPoint],
      window: Option[Int],
      normalizeInput: Boolean): (Double, Seq[PathStep]) = {
    val pts = points.sortBy(_.period).toArray
    val s1 = pts.map(_.v1)
    val s2 = pts.map(_.v2)
    val (cost, path) =
      if (pts.isEmpty) (0.0, Array.empty[(Int, Int)])
      else distance(s1, s2, window, normalizeInput)
    (cost, path.toSeq.map { case (i, j) =>
      PathStep(i, j, pts(i).period, pts(j).period, s1(i), s2(j))
    })
  }
}
