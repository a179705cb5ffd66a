package mapbench

import org.scalatest.funsuite.AnyFunSuite

/** The checker accepts output built from the reference and rejects each
  * planted defect: a shifted lag, a dropped entity, a perturbed DTW path. */
class CheckSpec extends AnyFunSuite {

  private val gen = Gen.generate(AutoDaily.spec.copy(entities = 40, baseLen = 60, longShare = 0.0), 9)
  private val expected = AutoDaily.expectations(gen, Reference.entities(gen, gen.entities.indices))

  private def rowsOf(key: String, e: Expect): Seq[OutRow] = e match {
    case ExpectNone => Nil
    case ExpectCorr(lag, corr, rows) =>
      rows.toSeq.map { case (t1, v1, t2, v2) =>
        OutRow(key, t1, v1, t2, v2, lag, "correlation", corr.getOrElse(Double.NaN), Double.NaN)
      }
    case ExpectDtw(cost, periods, v1, v2, path) =>
      path.toSeq.map { case (i, j) =>
        OutRow(key, periods(i), v1(i), periods(j), v2(j), Check.NoLag, "dtw", Double.NaN, cost.getOrElse(Double.NaN))
      }
  }

  private def jobOut(rows: Map[String, Seq[OutRow]]): JobOut = JobOut(
    rows.filter(_._2.nonEmpty).map { case (k, rs) =>
      k -> rs.map(r => KeyInfo(if (r.method == "dtw") Check.Dtw else Check.Corr, 1, r.lag, lagMixed = false, 0))
        .reduce(_.merge(_))
    },
    rows)

  private val correct: Map[String, Seq[OutRow]] = expected.map { case (k, alts) => k -> rowsOf(k, alts.head) }

  private def keyWith(p: Expect => Boolean): String =
    expected.collectFirst { case (k, alts) if alts.length == 1 && p(alts.head) => k }.get

  test("output built from the reference passes") {
    assert(Check.verify(jobOut(correct), expected, Map.empty).isEmpty)
  }

  test("both archetype outcomes are present in the fixture") {
    keyWith(_.isInstanceOf[ExpectCorr])
    keyWith(_.isInstanceOf[ExpectDtw])
  }

  test("a shifted lag is rejected") {
    val k = keyWith(_.isInstanceOf[ExpectCorr])
    val shifted = correct(k).map { r =>
      r.copy(lag = r.lag + 1, time2 = java.time.LocalDate.parse(r.time2).plusDays(1).toString)
    }
    val fails = Check.verify(jobOut(correct.updated(k, shifted)), expected, Map.empty)
    assert(fails.exists(_.startsWith(k)), fails)
  }

  test("a lag_offset that disagrees with time2 breaks the row invariant") {
    val k = keyWith(_.isInstanceOf[ExpectCorr])
    val out = jobOut(correct)
    val broken = out.copy(keys = out.keys.updated(k, out.keys(k).copy(badTime = 1)))
    assert(Check.verify(broken, expected, Map.empty).exists(_.contains("time2 != time1 + lag_offset")))
  }

  test("a dropped entity is rejected") {
    val k = keyWith(e => e.isInstanceOf[ExpectCorr] || e.isInstanceOf[ExpectDtw])
    val fails = Check.verify(jobOut(correct - k), expected, Map.empty)
    assert(fails.exists(_.startsWith(k)), fails)
  }

  test("a perturbed DTW path is rejected") {
    val k = keyWith(_.isInstanceOf[ExpectDtw])
    val rows = correct(k).toVector
    val mid = rows.length / 2
    val other = rows.find(_.time2 != rows(mid).time2).get.time2
    val perturbed = rows.updated(mid, rows(mid).copy(time2 = other))
    val fails = Check.verify(jobOut(correct.updated(k, perturbed)), expected, Map.empty)
    assert(fails.exists(_.startsWith(k)), fails)
  }

  test("an entity under two methods is rejected") {
    val k = keyWith(_.isInstanceOf[ExpectDtw])
    val extra = correct(k) :+ correct(k).head.copy(method = "correlation", lag = 0, time2 = correct(k).head.time1)
    val fails = Check.verify(jobOut(correct.updated(k, extra)), expected, Map.empty)
    assert(fails.exists(_.contains("more than one method")), fails)
  }

  test("planted lags must be recovered on simple entities") {
    val corrKeys = correct.collect { case (k, rs) if rs.nonEmpty && rs.head.method == "correlation" => k -> rs.head.lag }
    assert(Check.verify(jobOut(correct), expected, corrKeys).isEmpty)
    val wrong = corrKeys.map { case (k, lag) => k -> (lag + 1) }
    assert(Check.verify(jobOut(correct), expected, wrong).exists(_.contains("planted lags")))
  }

  test("valid warping paths go corner to corner in unit steps") {
    assert(Check.validPath(Seq((0, 0), (1, 0), (1, 1), (2, 2)), 3, 3))
    assert(!Check.validPath(Seq((0, 0), (2, 2)), 3, 3))
    assert(!Check.validPath(Seq((0, 0), (1, 1)), 3, 3))
    assert(!Check.validPath(Seq((0, 1), (1, 1), (2, 2)), 3, 3))
  }

  test("the reference DTW matches a hand-computed alignment") {
    val (cost, path) = Reference.dtw(Array(0.0, 1.0, 2.0), Array(0.0, 0.0, 1.0, 2.0))
    assert(path.toSeq == Seq((0, 0), (0, 1), (1, 2), (2, 3)))
    assert(cost >= 0 && Check.validPath(path.toSeq, 3, 4))
  }
}
