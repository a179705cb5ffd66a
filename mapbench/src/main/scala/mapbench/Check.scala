package mapbench

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Row}

/** One mapping row of a sampled entity. `lag` is [[Check.NoLag]] and
  * `corr`/`cost` are NaN where the column is null or absent. */
final case class OutRow(
    key: String,
    time1: String,
    value1: Double,
    time2: String,
    value2: Double,
    lag: Int,
    method: String,
    corr: Double,
    cost: Double)

/** What one entity's rows looked like across the whole output. */
final case class KeyInfo(methods: Int, rows: Long, lag: Int, lagMixed: Boolean, badTime: Long) {
  def merge(o: KeyInfo): KeyInfo =
    KeyInfo(methods | o.methods, rows + o.rows, lag, lagMixed || o.lagMixed || lag != o.lag, badTime + o.badTime)
}

/** The materialized job output, reduced to what the checks need. */
final case class JobOut(keys: Map[String, KeyInfo], sample: Map[String, Seq[OutRow]])

/** One acceptable outcome for a sampled entity. */
sealed trait Expect
case object ExpectNone extends Expect
final case class ExpectCorr(lag: Int, corr: Option[Double], rows: Array[(String, Double, String, Double)])
    extends Expect
final case class ExpectDtw(
    cost: Option[Double],
    periods: Array[String],
    v1: Array[Double],
    v2: Array[Double],
    path: Array[(Int, Int)])
    extends Expect

object Check {
  val NoLag: Int = Int.MinValue
  val Corr = 1
  val Dtw = 2

  private final case class Ix(key: Int, t1: Int, v1: Int, t2: Int, v2: Int, lag: Int, method: Int, corr: Int, cost: Int)

  /** Materialize the whole output in one distributed pass that checks the
    * per-row invariants and keeps the rows of sampled entities. */
  def materialize(df: DataFrame, monthly: Boolean, sample: Set[String]): JobOut = {
    val names = df.columns
    def ix(c: String) = names.indexOf(c)
    val i = Ix(ix("key"), ix("time1"), ix("value1"), ix("time2"), ix("value2"), ix("lag_offset"),
      ix("method"), ix("correlation"), ix("dtw_cost"))
    require(Seq(i.key, i.t1, i.v1, i.t2, i.v2, i.lag, i.method).forall(_ >= 0),
      s"mapping output lacks required columns: ${names.mkString(", ")}")
    val parts = df.rdd.mapPartitions(it => Iterator(scanPartition(it, i, monthly, sample))).collect()
    val keys = parts.iterator.flatMap(_._1).foldLeft(Map.empty[String, KeyInfo]) { case (m, (k, ki)) =>
      m.updated(k, m.get(k).fold(ki)(_.merge(ki)))
    }
    JobOut(keys, parts.iterator.flatMap(_._2).toSeq.groupBy(_.key))
  }

  private def scanPartition(
      it: Iterator[Row],
      i: Ix,
      monthly: Boolean,
      sample: Set[String]): (Seq[(String, KeyInfo)], Seq[OutRow]) = {
    val keys = scala.collection.mutable.HashMap.empty[String, KeyInfo]
    val rows = scala.collection.mutable.ArrayBuffer.empty[OutRow]
    it.foreach { r =>
      val key = r.getString(i.key)
      val t1 = String.valueOf(r.get(i.t1))
      val t2 = String.valueOf(r.get(i.t2))
      val lag = if (r.isNullAt(i.lag)) NoLag else r.getInt(i.lag)
      val method = r.getString(i.method)
      val m = if (method == "correlation") Corr else if (method == "dtw") Dtw else 4
      val bad =
        if (m == Corr) {
          val a = LocalDate.parse(t1)
          val want = if (monthly) a.plusMonths(lag.toLong) else a.plusDays(lag.toLong)
          if (lag == NoLag || want != LocalDate.parse(t2)) 1L else 0L
        } else if (m == Dtw) { if (lag == NoLag) 0L else 1L }
        else 1L
      val ki = KeyInfo(m, 1, lag, lagMixed = false, bad)
      keys.update(key, keys.get(key).fold(ki)(_.merge(ki)))
      if (sample.contains(key)) {
        def dbl(c: Int) = if (c < 0 || r.isNullAt(c)) Double.NaN else r.getDouble(c)
        rows += OutRow(key, t1, r.getDouble(i.v1), t2, r.getDouble(i.v2), lag, method, dbl(i.corr), dbl(i.cost))
      }
    }
    (keys.toSeq, rows.toSeq)
  }

  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= Reference.Tol * math.max(1.0, math.abs(b))

  /** A warping path over an n×m grid: starts at (0,0), ends at (n-1,m-1),
    * each step advances i, j or both by one. */
  def validPath(path: Seq[(Int, Int)], n: Int, m: Int): Boolean =
    path.nonEmpty && path.head == ((0, 0)) && path.last == ((n - 1, m - 1)) &&
      path.sliding(2).forall {
        case Seq((a, b), (c, d)) => (c - a, d - b) match {
          case (1, 0) | (0, 1) | (1, 1) => true
          case _                       => false
        }
        case _ => true
      }

  /** Why `rows` (one entity's output) does not match `e`, or None. */
  def mismatch(rows: Seq[OutRow], e: Expect): Option[String] = e match {
    case ExpectNone =>
      if (rows.isEmpty) None else Some(s"${rows.length} rows, expected none")
    case ExpectCorr(lag, corr, want) =>
      val got = rows.sortBy(r => (r.time1, r.time2))
      if (got.exists(_.method != "correlation")) Some("non-correlation rows")
      else if (got.exists(_.lag != lag)) Some(s"lag ${got.map(_.lag).distinct.mkString(",")} != $lag")
      else if (corr.exists(c => got.exists(r => !close(r.corr, c))))
        Some(s"correlation ${got.map(_.corr).distinct.mkString(",")} != ${corr.get}")
      else if (got.length != want.length) Some(s"${got.length} rows != ${want.length}")
      else got.zip(want).collectFirst {
        case (g, (t1, v1, t2, v2)) if g.time1 != t1 || g.time2 != t2 || !close(g.value1, v1) || !close(g.value2, v2) =>
          s"row (${g.time1},${g.value1},${g.time2},${g.value2}) != ($t1,$v1,$t2,$v2)"
      }
    case ExpectDtw(cost, periods, v1, v2, want) =>
      val at = periods.zipWithIndex.toMap
      if (rows.exists(r => r.method != "dtw" || r.lag != NoLag)) Some("non-DTW rows")
      else if (rows.exists(r => !at.contains(r.time1) || !at.contains(r.time2))) Some("row outside the merged periods")
      else if (cost.exists(c => rows.exists(r => !close(r.cost, c))))
        Some(s"cost ${rows.map(_.cost).distinct.mkString(",")} != ${cost.get}")
      else {
        val got = rows.map(r => (at(r.time1), at(r.time2), r)).sortBy(x => (x._1, x._2))
        val path = got.map(x => (x._1, x._2))
        if (!validPath(path, periods.length, periods.length))
          Some("path is not a monotone corner-to-corner warping path")
        else if (path != want.toSeq) Some(s"path differs from the reference (${path.length} vs ${want.length} steps)")
        else got.collectFirst {
          case (a, b, r) if !close(r.value1, v1(a)) || !close(r.value2, v2(b)) => s"values at step ($a,$b) differ"
        }
      }
  }

  /** Every failed check of one job, empty when the job is correct.
    * `planted` maps simple entities to their planted lag. */
  def verify(
      out: JobOut,
      expected: Map[String, Seq[Expect]],
      planted: Map[String, Int]): Seq[String] = {
    val fails = scala.collection.mutable.ArrayBuffer.empty[String]
    val badTime = out.keys.filter(_._2.badTime > 0)
    if (badTime.nonEmpty)
      fails += s"${badTime.size} entities have rows with time2 != time1 + lag_offset " +
        s"(or a bad method), e.g. ${badTime.head._1}"
    val multi = out.keys.filter(kv => Integer.bitCount(kv._2.methods) != 1)
    if (multi.nonEmpty) fails += s"${multi.size} entities appear under more than one method, e.g. ${multi.head._1}"
    val mixed = out.keys.filter(kv => kv._2.methods == Corr && kv._2.lagMixed)
    if (mixed.nonEmpty) fails += s"${mixed.size} entities carry more than one lag, e.g. ${mixed.head._1}"
    expected.toSeq.sortBy(_._1).foreach { case (key, alts) =>
      val rows = out.sample.getOrElse(key, Nil)
      val why = alts.map(mismatch(rows, _))
      if (!why.contains(None)) fails += s"$key: ${why.flatten.mkString(" | ")}"
    }
    val mapped = planted.toSeq.flatMap { case (k, lag) =>
      out.keys.get(k).filter(_.methods == Corr).map(_.lag == lag)
    }
    if (mapped.nonEmpty && mapped.count(identity) < 0.9 * mapped.length)
      fails += s"planted lags recovered on only ${mapped.count(identity)} of ${mapped.length} simple entities"
    fails.toSeq
  }
}
