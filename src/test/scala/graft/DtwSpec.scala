package graft

import graft.core.{DtwSummary, MappingConfig, PeriodUnit}
import graft.operators.{Dtw, DtwMapping, MappingKernel}
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Kernel goldens generated by executing the reference's own
  * dtw_distance/normalize_series (/root/reference/mapping_engine.py:109-216)
  * on fixed inputs — our kernel must reproduce cost AND path exactly,
  * including the backtrack tie-break (up, left, diag). */
class DtwSpec extends AnyFunSuite with SparkSessionTestWrapper {

  private val goldens: Seq[(String, Array[Double], Array[Double], Option[Int], Boolean, Double, Array[(Int, Int)])] = Seq(
    ("identical", Array[Double](1.0, 2, 3, 4, 5), Array[Double](1.0, 2, 3, 4, 5), None, true, 0.0,
      Array((0, 0), (1, 1), (2, 2), (3, 3), (4, 4))),
    ("shifted", Array[Double](1.0, 2, 3, 4, 5, 6), Array[Double](0.0, 1, 2, 3, 4, 5), None, true, 0.0,
      Array((0, 0), (1, 1), (2, 2), (3, 3), (4, 4), (5, 5))),
    ("unequal_len", Array[Double](1.0, 3, 2, 5), Array[Double](2.0, 1, 4), None, true, 2.099170671327422,
      Array((0, 0), (1, 0), (2, 1), (3, 2))),
    ("banded", Array[Double](1.0, 5, 2, 8, 3, 9, 4), Array[Double](2.0, 6, 1, 7, 4, 8, 5), Some(2), true,
      2.2512425210425357, Array((0, 0), (1, 1), (2, 2), (3, 3), (4, 4), (5, 5), (6, 6))),
    ("no_norm", Array[Double](1.0, 4, 2, 6), Array[Double](2.0, 3, 5, 1), None, false, 9.0,
      Array((0, 0), (1, 1), (1, 2), (2, 3), (3, 3))),
    ("constant", Array[Double](3.0, 3, 3, 3), Array[Double](1.0, 2, 3, 4), None, true, 3.577708763999664,
      Array((0, 0), (1, 1), (2, 2), (3, 3))),
    ("single", Array[Double](2.5), Array[Double](1.0, 2.0), None, true, 2.0,
      Array((0, 0), (0, 1))),
    // banded, unequal lengths — incl. corners unreachable within the band
    // (cost stays +inf, backtrack walks the inf matrix like Python min)
    ("band_8_5_2", Array[Double](1.803, 0.195, 4.632, 7.249, 4.202, 4.854, 0.128, 4.874),
      Array[Double](9.418, 8.508, 7.3, 1.087, 8.939), Some(2), true, Double.PositiveInfinity,
      Array((0, 0), (0, 1), (0, 2), (1, 3), (2, 4), (3, 4), (4, 4), (5, 4), (6, 4), (7, 4))),
    ("band_5_8_2", Array[Double](8.572, 1.651, 6.323, 0.205, 1.167),
      Array[Double](3.164, 1.579, 7.59, 8.183, 3.446, 3.188, 1.117, 0.84), Some(2), true,
      Double.PositiveInfinity,
      Array((0, 0), (1, 1), (2, 2), (2, 3), (3, 4), (4, 5), (4, 6), (4, 7))),
    ("band_10_10_1",
      Array[Double](7.127, 5.995, 0.557, 4.798, 4.017, 8.48, 7.178, 6.021, 5.524, 9.491),
      Array[Double](9.867, 3.381, 2.399, 7.964, 0.637, 3.646, 0.7, 3.194, 0.704, 2.903),
      Some(1), true, 10.900885642325246,
      Array((0, 0), (1, 1), (2, 2), (3, 3), (4, 4), (5, 5), (6, 5), (7, 6), (8, 7), (8, 8), (9, 9))),
    ("band_12_9_4",
      Array[Double](7.705, 3.0, 7.012, 7.347, 9.329, 4.003, 3.584, 8.066, 7.645, 6.526, 8.11, 6.422),
      Array[Double](9.574, 3.339, 7.383, 9.498, 3.344, 6.116, 3.657, 4.615, 0.75),
      Some(4), true, 8.33483701219239,
      Array((0, 0), (1, 1), (2, 2), (3, 2), (4, 3), (5, 4), (6, 4), (7, 5), (8, 5), (9, 6), (10, 7), (11, 8))),
    ("band_4_9_2", Array[Double](0.193, 7.596, 4.528, 6.228),
      Array[Double](7.4, 4.187, 3.676, 1.69, 7.939, 8.33, 7.342, 8.753, 6.481), Some(2), true,
      Double.PositiveInfinity, Array((0, 8), (1, 8), (2, 8), (3, 8)))
  )

  goldens.foreach { case (name, a, b, window, norm, expCost, expPath) =>
    test(s"golden: $name") {
      val (cost, path) = Dtw.distance(a, b, window, norm)
      assert(cost == expCost || math.abs(cost - expCost) < 1e-9, s"cost $cost != $expCost")
      assert(path.toSeq == expPath.toSeq, s"path ${path.toSeq} != ${expPath.toSeq}")
    }
  }

  test("the naive full-matrix oracle reproduces the unbanded goldens") {
    goldens.filter(_._4.isEmpty).foreach { case (name, a, b, _, norm, expCost, expPath) =>
      val (cost, path) = NaiveDtw.align(a.toSeq, b.toSeq, norm)
      assert(math.abs(cost - expCost) < 1e-9, s"$name: cost $cost != $expCost")
      assert(path == expPath.toSeq, s"$name: path $path != ${expPath.toSeq}")
    }
  }

  test("normalize: z-score, population stddev") {
    val out = Dtw.normalize(Array(1.0, 2.0, 3.0))
    val expectedStd = math.sqrt(2.0 / 3.0)
    assert(math.abs(out(0) + 1.0 / expectedStd) < 1e-12)
    assert(math.abs(out(1)) < 1e-12)
  }

  test("normalize: constant series degrades to mean-centering") {
    assert(Dtw.normalize(Array(5.0, 5.0, 5.0)).toSeq == Seq(0.0, 0.0, 0.0))
  }

  test("path properties: monotone, continuous, covers both ends") {
    val rng = new scala.util.Random(42)
    for (_ <- 1 to 25) {
      val n = 2 + rng.nextInt(20)
      val m = 2 + rng.nextInt(20)
      val a = Array.fill(n)(rng.nextDouble() * 10)
      val b = Array.fill(m)(rng.nextDouble() * 10)
      val (cost, path) = Dtw.distance(a, b)
      assert(cost >= 0.0)
      assert(path.head == ((0, 0)) || path.head._1 == 0 || path.head._2 == 0)
      assert(path.last == ((n - 1, m - 1)))
      path.sliding(2).foreach {
        case Array((i1, j1), (i2, j2)) =>
          assert(i2 - i1 >= 0 && j2 - j1 >= 0, "monotone")
          assert(i2 - i1 <= 1 && j2 - j1 <= 1, "continuous")
          assert((i2 - i1) + (j2 - j1) >= 1, "progress")
        case _ =>
      }
    }
  }

  test("self-distance is zero") {
    val a = Array(3.0, 1.0, 4.0, 1.0, 5.0)
    assert(Dtw.distance(a, a)._1 == 0.0)
  }

  test("symmetry of cost under swap (unconstrained)") {
    val a = Array(1.0, 5.0, 2.0, 8.0)
    val b = Array(2.0, 3.0, 7.0)
    assert(math.abs(Dtw.distance(a, b)._1 - Dtw.distance(b, a)._1) < 1e-9)
  }

  test("long series: banded DP is memory-feasible where full matrix is not") {
    // 50k x 50k unconstrained would need ~20 GB of doubles; the banded
    // stripe at w=10 stores ~50k x 23 cells (~9 MB) and finishes fast.
    val n = 50000
    val rng = new scala.util.Random(3)
    val a = Array.fill(n)(rng.nextDouble() * 100)
    val b = a.map(_ * 1.1 + rng.nextDouble()) // similar shape
    val t0 = System.nanoTime()
    val (cost, path) = Dtw.distance(a, b, window = Some(10))
    val sec = (System.nanoTime() - t0) / 1e9
    assert(cost >= 0 && !cost.isInfinite)
    assert(path.last == ((n - 1, n - 1)))
    assert(sec < 30, f"banded 50k-point DTW took $sec%.1f s")
  }

  test("unbanded DTW past the Int cell count fails on the guard, never returns cost 0") {
    // (n+1)^2 cells overflow an Int at 50,001 points: once an empty DP
    // array whose index error the fallback turned into cost 0 with an
    // identity path
    val n = 50001
    val a = Array.tabulate(n)(_.toDouble)
    val b = Array.tabulate(n)(i => (i % 7).toDouble)
    val e = intercept[IllegalArgumentException](Dtw.distance(a, b, None, normalizeInput = true))
    assert(e.getMessage.contains("cells"), e.getMessage)
  }

  test("an empty series keeps the reference fallback: zero cost, empty path") {
    val cfg = MappingConfig(periodUnit = PeriodUnit.Month)
    assert(MappingKernel.align("K", Array.empty, Array.empty, Array.empty, cfg) == ((0.0, Nil)))
  }

  test("banded DTW equals the naive banded oracle: cost and path, ties and corners outside the band") {
    val rng = new scala.util.Random(11)
    // values from a few levels held for runs of points: plateaus make
    // equal cells, so the backtrack's tie order decides the path
    def plateaus(len: Int): Array[Double] =
      Iterator.continually { val level = rng.nextInt(4).toDouble; Seq.fill(1 + rng.nextInt(4))(level) }
        .flatten.take(len).toArray
    val shapes = Seq((7, 7), (8, 5), (5, 9), (12, 4), (3, 10), (15, 13), (1, 4))
    var outsideBand = 0
    for ((n, m) <- shapes; w <- Seq(0, 1, 3, math.max(n, m)); norm <- Seq(true, false); _ <- 1 to 3) {
      val (a, b) = (plateaus(n), plateaus(m))
      val (cost, path) = Dtw.distance(a, b, Some(w), norm)
      val (naiveCost, naivePath) = NaiveDtw.align(a.toSeq, b.toSeq, norm, Some(w))
      val label = s"n=$n m=$m w=$w norm=$norm a=${a.toSeq} b=${b.toSeq}"
      assert(cost == naiveCost || math.abs(cost - naiveCost) < 1e-9, s"$label: cost $cost != $naiveCost")
      assert(path.toSeq == naivePath, s"$label: path ${path.toSeq} != $naivePath")
      if (math.abs(n - m) > w) { assert(cost.isPosInfinity, label); outsideBand += 1 }
    }
    assert(outsideBand > 0, "some corner lies outside its band")
  }

  test("band constraint: path stays within window") {
    val rng = new scala.util.Random(7)
    val a = Array.fill(15)(rng.nextDouble())
    val b = Array.fill(15)(rng.nextDouble())
    val w = 3
    val (_, path) = Dtw.distance(a, b, Some(w))
    path.foreach { case (i, j) => assert(math.abs(i - j) <= w, s"($i,$j) outside band $w") }
  }

  test("cost-percentile filter keeps the cheap alignments") {
    import spark.implicits._
    val merged = (1 to 10).flatMap { k =>
      (1 to 6).map(m => (s"K$k", f"2024-$m%02d-01", m.toDouble, m.toDouble + (if (k > 8) 50.0 * m else 0.0)))
    }.toDF("key", "p", "v1", "v2")
      .select($"key", to_date($"p").as("period"), $"v1", $"v2")
    val summaries = DtwMapping
      .summarize(merged, MappingConfig(periodUnit = PeriodUnit.Month, dtwNormalize = false))
      .toDF()
    assert(summaries.schema == Encoders.product[DtwSummary].schema, summaries.schema.treeString)
    val kept = DtwMapping.filterByCostPercentile(summaries, 0.8)
      .select($"key").as[String].collect().toSet
    assert(kept.size >= 8 && !kept.contains("K10") || kept.size >= 8 && !kept.contains("K9") || kept.size == 8)
    assert((1 to 8).forall(k => kept.contains(s"K$k")))
  }
}
