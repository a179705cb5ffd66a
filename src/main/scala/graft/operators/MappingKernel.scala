package graft.operators

import java.time.LocalDate

import scala.reflect.runtime.universe.TypeTag

import graft.core.{DtwSummary, MappingConfig, PathStep, PeriodUnit}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, KeyValueGroupedDataset, Row}
import org.apache.spark.sql.functions._

/** The per-entity mapping kernel: one cogroup of the two series by key,
  * and every method's whole answer for a key computed in one call — the
  * Scala counterpart of the reference's grouped-map UDF per entity
  * (mapping_engine.py:241-264, 296-335).
  *
  * The job is one hash exchange on `key` per input and one task stage.
  * Its rules:
  *   - duplicate periods are summed with Spark `sum`'s null rule (null only
  *     when every value is null); null keys and periods are dropped;
  *   - the lag scan ([[lagScan]], the engine's one calendar lag walk)
  *     pairs merged periods (p, p + L) for L = 0..maxLag, counts
  *     `n_overlap` as the pairs whose v2 is present, skips a lag under
  *     `minOverlap` or with an undefined correlation, and the best lag is
  *     the highest `round(corr, 6)`, then the lowest lag;
  *   - the correlation join-back, the engine's only one, maps the key's
  *     canonical t1 rows, not only merged ones, to t2 at p + lag
  *     (SURVEY.md §7.3);
  *   - DTW runs [[align]], the engine's one DTW body: [[Dtw.distance]] on
  *     the merged series, sorted by period index.
  * A key's lag comes by one of three routes, all in one cogroup driver: the
  * scan of its merged series ([[mapping]]), a given best-lag row
  * ([[mappingWithBest]]) or a stored model row ([[served]]). The given and
  * stored rows are tagged onto t1's side, at most one per key, so they ride
  * under t1's key exchange: nothing is joined or broadcast. The scan and
  * given routes share one method rule (the auto threshold and the
  * `minCorrelation` gate).
  * [[lagCorrTable]] and [[dtwSummaries]] expose the scan's per-lag rows and
  * the DTW summaries of a merged table, so training, the staged queries and
  * `mapTables` share one scan and one DTW. The differential test checks
  * every entry against naive driver-side oracles (scan, DTW, join-back and
  * routing).
  *
  * [[served]] also emits one status row per t1 key with its QA counts, so
  * a production run observes its QA row in the write instead of re-reading.
  *
  * A key's two series are held in memory, so `maxSeriesLength` bounds
  * both of them for every method. The kernel's Pearson cannot divide by
  * zero, so the job is correct with ANSI on or off and leaves the
  * session's configuration alone. */
object MappingKernel {

  /** One observation: its key, its period as a day or month index, its value. */
  final case class Obs(key: String, period: Int, value: Option[Double])

  /** One mapping row with every method's columns; each method selects its own. */
  final case class MappedRow(
      key: String,
      time1: String,
      value1: Option[Double],
      time2: String,
      value2: Option[Double],
      lag_offset: Option[Int],
      method: String,
      correlation: Option[Double],
      dtw_cost: Option[Double])

  /** A tagged row's payload: a stored model row's method and lag, or a
    * given best lag and its correlation. */
  final case class Stored(method: Option[String], lag: Option[Int], correlation: Option[Double])

  /** t1's side of the cogroup: an observation, whose period is None when it
    * is null, or, with `stored`, the key's tagged row. */
  final case class T1Row(key: String, period: Option[Int], value: Option[Double], stored: Option[Stored])

  /** A t1 key's QA counts: whether it emitted mapping rows, and how many
    * of its rows repeat a (time1, time2) pair. */
  final case class KeyStatus(mapped: Boolean, duplicates: Long)

  /** One row of [[served]]: a mapping row or a key's status. */
  final case class ServeOut(row: Option[MappedRow], status: Option[KeyStatus])

  /** How a key is routed: by `cfg.method`'s rule on the [[bestLag]] of its
    * merged series (`Scan`) or on its tagged best-lag row (`Given`), or by
    * [[serve]]'s rules on its tagged model row (`Model`). */
  private sealed trait Route
  private case object Scan extends Route
  private case object Given extends Route
  private case object Model extends Route

  private val rowColumns = Seq("key", "time1", "value1", "time2", "value2", "lag_offset", "method")

  /** Map two (key, period, value) tables with `cfg.method`. Duplicate
    * periods are summed here, so canonical and merely projected tables
    * ([[graft.core.SeriesTable.project]]) give the same rows. */
  def mapping(t1: DataFrame, t2: DataFrame, cfg: MappingConfig): DataFrame =
    mapped(t1, None, t2, Scan, cfg)

  /** [[mapping]] at a given best-lag table (key, optimal_lag, correlation)
    * instead of the lag scan: its rows ride under t1's key exchange. A key
    * with no row, or with a null lag or correlation, has no valid
    * correlation (so "auto" sends it to DTW); a key with two rows fails. */
  def mappingWithBest(t1: DataFrame, t2: DataFrame, best: DataFrame, cfg: MappingConfig): DataFrame =
    mapped(t1, Some(tags(best, lit(null), col("optimal_lag"), col("correlation"))), t2, Given, cfg)

  private def mapped(t1: DataFrame, tagged: Option[DataFrame], t2: DataFrame, route: Route, cfg: MappingConfig) = {
    val spark = t1.sparkSession
    import spark.implicits._
    val rows = cogroup(t1, tagged, t2, cfg)(mapKey(_, _, _, route, cfg).getOrElse(Iterator.empty))
    val methodColumns = cfg.method match {
      case "correlation" => Seq("correlation")
      case "dtw"         => Seq("dtw_cost")
      case "auto"        => Seq("correlation", "dtw_cost")
    }
    rows.toDF().select((rowColumns ++ methodColumns).map(col): _*)
  }

  /** Map t1 with a stored model (key, recommended_method, optimal_lag),
    * one decision per t1 key, as the reference's MappingEngine.process
    * makes it (05_prod_dev.py:329-447):
    *   - "Correlation" or "Either (prefer Correlation for simplicity)": the
    *     join-back at the stored lag, no lag scan; a null lag gives no rows;
    *   - "DTW": [[align]] on the merged series;
    *   - no model row, or one with a null method: the join-back at lag 1;
    *   - "Complex - Manual Review", or any other method: no rows.
    * Keys with no t1 rows give no rows; a key with two model rows fails.
    * `cfg.method` is not read. Returns the seven mapping columns: the
    * mapping rows of [[served]]. */
  def serve(t1: DataFrame, t2: DataFrame, model: DataFrame, cfg: MappingConfig): DataFrame =
    served(t1, t2, model, cfg).filter(col("status").isNull).drop("status")

  /** [[serve]]'s rows, with a null `status`, plus one row per t1 key whose
    * `status` ([[KeyStatus]]) holds its QA counts and whose other columns
    * are null. A key counts when it has a t1 row, even one with a null
    * period, as QualityChecks.check counts t1's keys. The counts come from
    * the same cogroup call as the rows, so `observe` can total them with
    * no DISTINCT aggregate and no second pass over t1. */
  def served(t1: DataFrame, t2: DataFrame, model: DataFrame, cfg: MappingConfig): DataFrame = {
    val spark = t1.sparkSession
    import spark.implicits._
    val stored = tags(model, col("recommended_method"), col("optimal_lag"), lit(null))
    val rows = cogroup(t1, Some(stored), t2, cfg) { (key, a, b) =>
      mapKey(key, a, b, Model, cfg).fold(Iterator.empty[ServeOut]) { out => // None: a key only t2 or the model holds
        val mapped = out.toVector
        val status = KeyStatus(mapped.nonEmpty, mapped.length - mapped.map(r => (r.time1, r.time2)).distinct.length)
        mapped.iterator.map(r => ServeOut(Some(r), None)) ++ Iterator.single(ServeOut(None, Some(status)))
      }
    }
    rows.toDF().select(rowColumns.map(c => col(s"row.$c").as(c)) :+ col("status"): _*)
  }

  /** A table's tagged rows for the cogroup: key and the [[Stored]] struct,
    * null keys dropped. */
  private def tags(t: DataFrame, method: Column, lag: Column, correlation: Column): DataFrame =
    t.select(
        col("key").cast("string").as("key"),
        struct(
          method.cast("string").as("method"),
          lag.cast("int").as("lag"),
          correlation.cast("double").as("correlation")).as("stored"))
      .filter(col("key").isNotNull)

  /** The one mapping driver: t1's rows, and the tagged rows if any, under
    * t1's one key exchange, cogrouped with t2's observations by key. An
    * untagged row carries a null `stored`. */
  private def cogroup[O: Encoder](t1: DataFrame, tagged: Option[DataFrame], t2: DataFrame, cfg: MappingConfig)(
      f: (String, Iterator[T1Row], Iterator[Obs]) => Iterator[O]): Dataset[O] = {
    val spark = t1.sparkSession
    import spark.implicits._
    val rows = keyed(t1, cfg).withColumn("stored", lit(null).cast(Encoders.product[Stored].schema))
    val t1Side = tagged.fold(rows)(rows.unionByName(_, allowMissingColumns = true))
    byKey[T1Row](t1Side).cogroup(byKey[Obs](observations(t2, cfg)))(f)
  }

  /** `(key, lag, correlation, n_overlap)` for every lag [[lagScan]] keeps
    * of a merged (key, period, v1, v2) table, one row per (key, period). */
  def lagCorrTable(merged: DataFrame, cfg: MappingConfig): DataFrame =
    perMergedKey(merged, cfg) { (_, period, v1, v2) =>
      lagScan(period, v1, v2, cfg).map { case (lag, r, n) => (lag, r, n.toLong) }.toSeq
    }.select(col("key"), inline(col("out"))).toDF("key", "lag", "correlation", "n_overlap")

  /** One [[DtwSummary]] per key of such a table: [[align]]'s raw cost and
    * path. */
  def dtwSummaries(merged: DataFrame, cfg: MappingConfig): Dataset[DtwSummary] =
    perMergedKey(merged, cfg) { (key, period, v1, v2) =>
      val (cost, steps) = align(key, period, v1, v2, cfg)
      (cost, steps.length, steps)
    }.select(col("key"), col("out.*")).toDF("key", "total_cost", "num_mappings", "path")
      .as(Encoders.product[DtwSummary])

  /** The merged-series driver: project `merged` with the period index,
    * hash it by `key`, collect each key's points (at most
    * `maxSeriesLength`) in one aggregate and put `f` of them, sorted by
    * period, in the `out` column beside `key`. Both outputs project alike,
    * so two of one `merged` share one exchange, and the aggregate (unlike
    * `flatMapGroups`) keeps the `key` partitioning: a window or join on
    * `key` over them needs no exchange of its own. */
  private def perMergedKey[T: TypeTag](merged: DataFrame, cfg: MappingConfig)(
      f: (String, Array[Int], Array[Option[Double]], Array[Option[Double]]) => T): DataFrame = {
    val call = udf { (key: String, points: Seq[Row]) =>
      if (points.length > cfg.maxSeriesLength)
        throw new IllegalStateException(
          s"merged series for key=$key has ${points.length} periods > maxSeriesLength=${cfg.maxSeriesLength}")
      val pts = points.sortBy(_.getInt(0))
      def values(i: Int) = pts.map(p => if (p.isNullAt(i)) None else Some(p.getDouble(i))).toArray
      f(key, pts.map(_.getInt(0)).toArray, values(1), values(2))
    }.asNonNullable()
    val points = merged.select(
        col("key").cast("string").as("key"),
        periodIndex(col("period"), cfg.periodUnit).as("period"),
        col("v1").cast("double").as("v1"),
        col("v2").cast("double").as("v2"))
      .filter(col("key").isNotNull && col("period").isNotNull)
    hashBy(points, "key")
      .groupBy(col("key"))
      .agg(call(col("key"), collect_list(struct(col("period"), col("v1"), col("v2")))).as("out"))
  }

  private def observations(t: DataFrame, cfg: MappingConfig): DataFrame =
    keyed(t, cfg).filter(col("period").isNotNull)

  /** A (key, period, value) table projected for the kernel, null keys dropped. */
  private def keyed(t: DataFrame, cfg: MappingConfig): DataFrame =
    t.select(
        col("key").cast("string").as("key"),
        periodIndex(col("period"), cfg.periodUnit).as("period"),
        col("value").cast("double").as("value"))
      .filter(col("key").isNotNull)

  /** `t` hashed by `column` into all spark.sql.shuffle.partitions
    * partitions: a shuffle with a partition count is one AQE does not
    * coalesce. The kernel's cost is CPU per key, not shuffle bytes, so its
    * stage keeps every task (coalescing would run a small job's kernels
    * on one core); both sides hash `key` into the same count, so the
    * cogroup adds no exchange of its own. A partitioned write hashed by
    * its partition column writes each value from one task, so one file. */
  private[operators] def hashBy(t: DataFrame, column: String): DataFrame =
    t.repartition(t.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt, col(column))

  /** groupBy(col).as groups on the column itself: no AppendColumns node. */
  private def byKey[T: Encoder](t: DataFrame): KeyValueGroupedDataset[String, T] =
    hashBy(t, "key").groupBy(col("key")).as[String, T](Encoders.STRING, implicitly)

  private def periodIndex(period: Column, unit: PeriodUnit): Column = unit match {
    case PeriodUnit.Day   => unix_date(period)
    case PeriodUnit.Month => year(period) * 12 + month(period) - 1
  }

  private def isoDate(index: Int, unit: PeriodUnit): String = unit match {
    case PeriodUnit.Day   => LocalDate.ofEpochDay(index).toString
    case PeriodUnit.Month => LocalDate.of(Math.floorDiv(index, 12), Math.floorMod(index, 12) + 1, 1).toString
  }

  /** A key's series on one side: one entry per period, ascending. */
  private final class Series(val period: Array[Int], val value: Array[Option[Double]]) {
    def length: Int = period.length
  }

  private def series(key: String, obs: Iterator[Obs], side: String, maxSeriesLength: Int): Series = {
    val sums = scala.collection.mutable.TreeMap.empty[Int, Option[Double]]
    obs.foreach { o =>
      // Spark sum: coalesce(sum, 0) + value, skipping nulls
      sums(o.period) = (sums.getOrElse(o.period, None), o.value) match {
        case (s, Some(v)) => Some(s.getOrElse(0.0) + v)
        case (s, None)    => s
      }
    }
    if (sums.size > maxSeriesLength)
      throw new IllegalStateException(
        s"$side series for key=$key has ${sums.size} periods > maxSeriesLength=$maxSeriesLength")
    new Series(sums.keysIterator.toArray, sums.valuesIterator.toArray)
  }

  /** Periods present on both sides: (period, v1, v2). */
  private def merge(s1: Series, s2: Series): (Array[Int], Array[Option[Double]], Array[Option[Double]]) = {
    val out = Array.newBuilder[(Int, Option[Double], Option[Double])]
    var i = 0
    var j = 0
    while (i < s1.length && j < s2.length) {
      if (s1.period(i) < s2.period(j)) i += 1
      else if (s1.period(i) > s2.period(j)) j += 1
      else { out += ((s1.period(i), s1.value(i), s2.value(j))); i += 1; j += 1 }
    }
    out.result().unzip3
  }

  /** A key's mapping rows by `route`, or None when t1 has no row for the
    * key. A key with two tagged rows fails, naming it. */
  private def mapKey(key: String, a: Iterator[T1Row], b: Iterator[Obs], route: Route, cfg: MappingConfig)
      : Option[Iterator[MappedRow]] = {
    val (tagged, t1Rows) = a.toVector.partition(_.stored.isDefined)
    if (tagged.length > 1) {
      val table = if (route == Model) "model" else "best-lag table"
      throw new IllegalArgumentException(s"$table has ${tagged.length} rows for key=$key")
    }
    val stored = tagged.headOption.flatMap(_.stored)
    val observed = t1Rows.filter(_.period.isDefined)
    // each route builds only the series it reads, so a key that emits no
    // rows is never bounded by maxSeriesLength
    lazy val s1 = series(key, observed.iterator.map(o => Obs(key, o.period.get, o.value)), "table1", cfg.maxSeriesLength)
    lazy val s2 = series(key, b, "table2", cfg.maxSeriesLength)
    lazy val (period, v1, v2) = merge(s1, s2)
    def dtwRows = dtw(key, period, v1, v2, cfg)
    // cfg.method's rule on the key's best (lag, correlation); None when no
    // lag has a valid correlation
    def byRule(best: => Option[(Int, Double)]): Iterator[MappedRow] = cfg.method match {
      case "dtw" => dtwRows
      case "correlation" =>
        best.filter(_._2 >= cfg.minCorrelation).fold(Iterator.empty[MappedRow]) { case (lag, c) =>
          joinBack(key, s1, s2, lag, Some(c), cfg)
        }
      case "auto" =>
        best.filter(_._2 >= cfg.autoCorrThreshold) match {
          case Some((lag, c)) =>
            if (c >= cfg.minCorrelation) joinBack(key, s1, s2, lag, Some(c), cfg) else Iterator.empty
          case None => dtwRows
        }
    }
    if (t1Rows.isEmpty) None
    else if (observed.isEmpty) Some(Iterator.empty)
    else Some(route match {
      case Scan  => byRule(bestLag(period, v1, v2, cfg))
      case Given => byRule(stored.flatMap(s => s.lag.zip(s.correlation)))
      case Model =>
        stored.flatMap(_.method) match {
          case None => joinBack(key, s1, s2, 1, None, cfg) // 05_prod_dev.py:410-414
          case Some("Correlation" | "Either (prefer Correlation for simplicity)") =>
            stored.flatMap(_.lag).fold(Iterator.empty[MappedRow])(joinBack(key, s1, s2, _, None, cfg))
          case Some("DTW") => dtwRows
          case Some(_)     => Iterator.empty
        }
    })
  }

  /** The calendar lag scan of one merged series (periods ascending): for
    * each lag 0..maxLag, pair period p with p + lag, count `n_overlap` as
    * the pairs whose v2 is present, and keep the lag when `n_overlap >=
    * minOverlap` and the Pearson r of its pairs with both values is
    * defined. Yields (lag, r, n_overlap). */
  private def lagScan(
      period: Array[Int],
      v1: Array[Option[Double]],
      v2: Array[Option[Double]],
      cfg: MappingConfig): Iterator[(Int, Double, Int)] = {
    val n = period.length
    val xs = new Array[Double](n)
    val ys = new Array[Double](n)
    (0 to cfg.maxLag).iterator.flatMap { lag =>
      var overlap = 0
      var pairs = 0
      var j = 0
      for (i <- 0 until n) {
        while (j < n && period(j) < period(i) + lag) j += 1
        if (j < n && period(j) == period(i) + lag && v2(j).isDefined) {
          overlap += 1
          if (v1(i).isDefined) { xs(pairs) = v1(i).get; ys(pairs) = v2(j).get; pairs += 1 }
        }
      }
      val r = if (overlap >= cfg.minOverlap) pearson(xs, ys, pairs) else Double.NaN
      if (r.isNaN) None else Some((lag, r, overlap))
    }
  }

  /** The best (lag, round(corr, 6)) of [[lagScan]]: the highest rounded
    * correlation, then the lowest lag, as LagCorrelation.bestLag ranks. */
  private def bestLag(
      period: Array[Int],
      v1: Array[Option[Double]],
      v2: Array[Option[Double]],
      cfg: MappingConfig): Option[(Int, Double)] =
    lagScan(period, v1, v2, cfg).foldLeft(Option.empty[(Int, Double)]) { case (best, (lag, r, _)) =>
      val c = round6(r)
      if (best.forall(c > _._2)) Some((lag, c)) else best
    }

  /** Map each canonical t1 row at p to the t2 row at p + lag. */
  private def joinBack(key: String, s1: Series, s2: Series, lag: Int, corr: Option[Double], cfg: MappingConfig) = {
    var j = 0
    (0 until s1.length).iterator.flatMap { i =>
      val target = s1.period(i) + lag
      while (j < s2.length && s2.period(j) < target) j += 1
      if (j < s2.length && s2.period(j) == target)
        Some(MappedRow(
          key, isoDate(s1.period(i), cfg.periodUnit), s1.value(i), isoDate(target, cfg.periodUnit),
          s2.value(j), Some(lag), "correlation", corr, None))
      else None
    }
  }

  /** The DTW mapping rows of one merged series: [[align]]'s path, each
    * step with the rounded cost (none for an empty series). */
  private def dtw(
      key: String,
      period: Array[Int],
      v1: Array[Option[Double]],
      v2: Array[Option[Double]],
      cfg: MappingConfig): Iterator[MappedRow] = {
    val (cost, steps) = align(key, period, v1, v2, cfg)
    val rounded = Some(round6(cost))
    steps.iterator.map { s =>
      MappedRow(key, s.period1, Some(s.value1), s.period2, Some(s.value2), None, "dtw", None, rounded)
    }
  }

  /** The engine's one DTW body: [[Dtw.distance]] on one merged series
    * (periods ascending), its raw cost and path. A null value fails, naming
    * the key and period; an empty series gets the reference's fallback,
    * zero cost and no path (mapping_engine.py:313-315). */
  private[graft] def align(
      key: String,
      period: Array[Int],
      v1: Array[Option[Double]],
      v2: Array[Option[Double]],
      cfg: MappingConfig): (Double, Seq[PathStep]) = {
    val iso = period.map(isoDate(_, cfg.periodUnit))
    period.indices.find(i => v1(i).isEmpty || v2(i).isEmpty).foreach { i =>
      throw new IllegalStateException(s"DTW needs non-null values: key=$key has a null value at ${iso(i)}")
    }
    val (a, b) = (v1.map(_.get), v2.map(_.get))
    val (cost, path) =
      if (a.isEmpty) (0.0, Array.empty[(Int, Int)]) else Dtw.distance(a, b, cfg.dtwWindow, cfg.dtwNormalize)
    (cost, path.toSeq.map { case (i, j) => PathStep(i, j, iso(i), iso(j), a(i), b(j)) })
  }

  /** Spark's `round(x, 6)` on a double: HALF_UP on its decimal string. */
  private def round6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Pearson r of the first `len` pairs, with the update order of Spark's
    * `corr` aggregate (so both give the same bits on the same row order).
    * NaN when undefined: fewer than 2 pairs, or a zero variance. */
  private def pearson(x: Array[Double], y: Array[Double], len: Int): Double = {
    var n = 0.0
    var xAvg = 0.0
    var yAvg = 0.0
    var ck = 0.0
    var xMk = 0.0
    var yMk = 0.0
    var i = 0
    while (i < len) {
      n += 1.0
      val dx = x(i) - xAvg
      val dy = y(i) - yAvg
      xAvg += dx / n
      yAvg += dy / n
      ck += dx * (y(i) - yAvg)
      xMk += dx * (x(i) - xAvg)
      yMk += dy * (y(i) - yAvg)
      i += 1
    }
    val den = math.sqrt(xMk * yMk)
    if (len < 2 || den == 0.0) Double.NaN else ck / den
  }
}
