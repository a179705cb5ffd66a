package graft.operators

import graft.core.{MappingConfig, SeriesTable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The engine's public API — Scala counterpart of
  * GenericMappingEngine.map_tables / map_tables_simple
  * (/root/reference/mapping_engine.py:425-591, 761-805).
  *
  * `mapSeries` and `mapTables` run ONE per-entity kernel
  * ([[MappingKernel]]) for every method: a cogroup of the two series by
  * key, so the job is one hash exchange per input and one task stage —
  * the shape of the reference's grouped-map UDF per entity
  * (mapping_engine.py:241-264, 296-335), in-JVM.
  *
  * `autoMapping` is the staged composition of the same answer
  * (canonicalize → merge → the kernel's lag scan → argmax → relational
  * join-back, DTW on the rest). It serves callers that already staged the
  * merged set, the best-lag table or the DTW summaries, and its split,
  * join-back and union are the oracle the kernel's routing is tested
  * against (the scan's and the DTW's are naive ones in the test).
  * Differences from the reference, by design (SURVEY.md §7):
  *   - auto mode computes the best correlation ONCE per entity and routes
  *     the entity on it — the reference recomputes its correlation UDF a
  *     second time (mapping_engine.py:689-690 then :602);
  *   - no manual `repartition(200)`: the kernel hashes by key into
  *     `spark.sql.shuffle.partitions`, a shuffle AQE does not coalesce
  *     (see [[MappingKernel.mapping]]).
  */
object MappingEngine {

  /** Map two canonical series tables (columns: key, period, value).
    * Returns mapping rows
    * (key, time1, value1, time2, value2, lag_offset, method, correlation?, dtw_cost?).
    */
  def mapSeries(t1: DataFrame, t2: DataFrame, cfg: MappingConfig): DataFrame =
    MappingKernel.mapping(t1, t2, cfg)

  /** Raw-table convenience, the Scala `map_tables_simple`
    * (mapping_engine.py:761-805): project both tables and map them. The
    * kernel sums duplicate periods, so no canonicalize aggregate runs. */
  def mapTables(
      table1: DataFrame,
      table2: DataFrame,
      keyCol: String,
      timeCol: String,
      value1Col: String,
      value2Col: String,
      cfg: MappingConfig = MappingConfig()): DataFrame = {
    val t1 = SeriesTable.project(table1, keyCol, timeCol, value1Col, cfg.periodUnit, "table1")
    val t2 = SeriesTable.project(table2, keyCol, timeCol, value2Col, cfg.periodUnit, "table2")
    mapSeries(t1, t2, cfg)
  }

  /** Auto mode: entities with best correlation >= `cfg.autoCorrThreshold`
    * go down the correlation path; every other key of `merged` goes to DTW
    * — below the threshold, or with no valid correlation at all (all-lag
    * NaN / too short; the reference's UDF emits corr = -1 for those)
    * (mapping_engine.py:679-746).
    *
    * The split is a filter of the one-row-per-key best-lag table: its
    * passing rows ARE the correlation segment, and the DTW segment is the
    * rows of `merged` with no match among them. Both segments join the
    * same broadcast relation, which AQE builds once per query, so the lag
    * scan runs once and nothing is cached.
    *
    * `bestLag`: a caller that already staged the best-lag table passes it
    * in; otherwise it is computed here. `dtwSummaries`: precomputed DTW
    * summaries (key, total_cost, path) of `merged` itself — one per key of
    * `merged` that can land in the DTW segment, and none for other keys
    * (the split only removes the correlation segment); DTW is per-key
    * independent, so exploding the kept ones gives the DTW segment's rows. */
  def autoMapping(
      merged: DataFrame,
      t1: DataFrame,
      t2: DataFrame,
      cfg: MappingConfig,
      dtwSummaries: Option[DataFrame] = None,
      bestLag: Option[DataFrame] = None): DataFrame = {
    val best = bestLag.getOrElse(LagCorrelation.bestLag(LagCorrelation.lagCorrTable(merged, cfg)))
    val simple = best
      .filter(col("correlation") >= cfg.autoCorrThreshold)
      .select(col("key"), col("optimal_lag"), col("correlation"))
    // minCorrelation only removes segment keys when it is the stricter gate
    // (they then get no rows, as in LagCorrelation.mapping); otherwise the
    // correlation side joins `simple` itself, the relation the DTW side joins
    val lags =
      if (cfg.minCorrelation > cfg.autoCorrThreshold) simple.filter(col("correlation") >= cfg.minCorrelation)
      else simple
    val corrPart = LagCorrelation.mappingWithLags(t1, t2, lags, cfg)
    // The DTW side keeps the rows that find no `simple` row. A left_anti
    // join would prune `simple` to its key, a second relation AQE cannot
    // reuse, and the lag scan would run twice; the outer join keeps (and
    // tests) every column, so both sides share one broadcast. It broadcasts
    // only under cfg.broadcastSummaries, the gate mappingWithLags applies.
    val simpleB = LagCorrelation.maybeBroadcast(simple, cfg)
    def outsideSimple(df: DataFrame): DataFrame =
      df.join(simpleB, Seq("key"), "left_outer")
        .filter(col("optimal_lag").isNull && col("correlation").isNull)
        .drop("optimal_lag", "correlation")
    val dtwPart = dtwSummaries match {
      case Some(s) => DtwMapping.mappingFromSummaries(outsideSimple(s))
      case None    => DtwMapping.mapping(outsideSimple(merged), cfg)
    }
    // Schema union across method-specific columns (mapping_engine.py:746).
    corrPart.unionByName(dtwPart, allowMissingColumns = true)
  }
}
