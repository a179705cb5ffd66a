package mapbench

import scala.collection.immutable.TreeMap

/** Naive, engine-independent reference: the canonical series, a Pearson
  * lag scan and a full-matrix DTW, computed in the benchmark's JVM for one entity
  * straight from the generated rows. */
final class EntityRef(val c1: TreeMap[Int, Double], val c2: TreeMap[Int, Double]) {

  /** Periods present in both tables, ascending, with their values. */
  val merged: Array[Int] = c1.keysIterator.filter(c2.contains).toArray
  val m1: Array[Double] = merged.map(c1)
  val m2: Array[Double] = merged.map(c2)

  /** Valid (lag, correlation) pairs: at least two aligned points, neither
    * side constant. v1(p) pairs with v2(p + lag), both taken from the
    * merged periods. */
  def scan(maxLag: Int): Seq[(Int, Double)] = {
    val at = merged.zipWithIndex.toMap
    (0 to maxLag).flatMap { lag =>
      val pairs = merged.indices.flatMap(i => at.get(merged(i) + lag).map(j => (m1(i), m2(j))))
      if (pairs.length < 2) None
      else {
        val c = Reference.pearson(pairs.map(_._1).toArray, pairs.map(_._2).toArray)
        if (c.isNaN) None else Some(lag -> c)
      }
    }
  }

  /** Mapping rows (time1, value1, time2, value2) of the lag-shifted join
    * of the canonical tables. */
  def lagRows(lag: Int, period: Int => String): Array[(String, Double, String, Double)] =
    c1.iterator.flatMap { case (p, v) => c2.get(p + lag).map(w => (period(p), v, period(p + lag), w)) }.toArray

  lazy val dtw: (Double, Array[(Int, Int)]) = Reference.dtw(m1, m2)
}

object Reference {

  /** Tolerance on lags, correlations, costs and values. */
  val Tol = 1e-6

  def entities(gen: Generated, keys: Seq[Int]): Map[Int, EntityRef] = {
    val want = keys.toSet
    def canon(rows: Array[Obs]): Map[Int, TreeMap[Int, Double]] =
      rows.iterator.filter(o => want.contains(o.entity)).toSeq.groupBy(_.entity).map { case (e, os) =>
        e -> os.foldLeft(TreeMap.empty[Int, Double]) { (m, o) =>
          m.updated(o.period, m.getOrElse(o.period, 0.0) + o.value)
        }
      }
    val a = canon(gen.t1)
    val b = canon(gen.t2)
    keys.map(k => k -> new EntityRef(a.getOrElse(k, TreeMap.empty), b.getOrElse(k, TreeMap.empty))).toMap
  }

  /** Two-pass Pearson correlation; NaN when either side is constant. */
  def pearson(x: Array[Double], y: Array[Double]): Double = {
    if (x.forall(_ == x(0)) || y.forall(_ == y(0))) return Double.NaN
    val n = x.length
    val mx = x.sum / n
    val my = y.sum / n
    var sxy = 0.0
    var sxx = 0.0
    var syy = 0.0
    var i = 0
    while (i < n) {
      val dx = x(i) - mx
      val dy = y(i) - my
      sxy += dx * dy; sxx += dx * dx; syy += dy * dy
      i += 1
    }
    sxy / math.sqrt(sxx * syy)
  }

  /** z-score with population stddev; a constant series is only centered. */
  def znorm(a: Array[Double]): Array[Double] = {
    val n = a.length
    var sum = 0.0
    a.foreach(sum += _)
    val mean = sum / n
    var ss = 0.0
    a.foreach { v => val d = v - mean; ss += d * d }
    val sd = math.sqrt(ss / n)
    if (sd == 0.0 || sd.isNaN) a.map(_ - mean) else a.map(v => (v - mean) / sd)
  }

  /** Unbanded DTW over the full (n+1)×(m+1) matrix with absolute-difference
    * cost on z-scored inputs. The backtrack prefers up, then left, then
    * diagonal on ties. Returns the cost and the path from (0,0) to
    * (n-1,m-1). */
  def dtw(s1: Array[Double], s2: Array[Double]): (Double, Array[(Int, Int)]) = {
    val a = znorm(s1)
    val b = znorm(s2)
    val n = a.length
    val m = b.length
    val w = m + 1
    val d = Array.fill((n + 1) * w)(Double.PositiveInfinity)
    d(0) = 0.0
    var i = 1
    while (i <= n) {
      var j = 1
      while (j <= m) {
        d(i * w + j) = math.abs(a(i - 1) - b(j - 1)) +
          math.min(d((i - 1) * w + j), math.min(d(i * w + j - 1), d((i - 1) * w + j - 1)))
        j += 1
      }
      i += 1
    }
    val path = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    i = n
    var j = m
    while (i > 0 && j > 0) {
      path += ((i - 1, j - 1))
      val up = d((i - 1) * w + j)
      val left = d(i * w + j - 1)
      val diag = d((i - 1) * w + j - 1)
      if (up <= left && up <= diag) i -= 1
      else if (left <= diag) j -= 1
      else { i -= 1; j -= 1 }
    }
    (d(n * w + m), path.reverse.toArray)
  }

  /** Lags whose correlation is within [[Tol]] of the best one. */
  def bestLags(scan: Seq[(Int, Double)]): Seq[(Int, Double)] =
    if (scan.isEmpty) Nil
    else {
      val best = scan.map(_._2).max
      scan.filter(_._2 >= best - Tol)
    }

  /** Outcomes of `value >= threshold` the engine may legitimately reach,
    * given that it compares a value rounded to six decimals. */
  def atLeast(value: Double, threshold: Double): Set[Boolean] =
    if (value >= threshold + Tol) Set(true)
    else if (value < threshold - Tol) Set(false)
    else Set(true, false)
}
