package graft.operators

import graft.core.{MappingConfig, SeriesTable}
import org.apache.spark.sql.DataFrame

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
  * `autoMapping` and `LagCorrelation.mapping` run the same kernel at a
  * staged best-lag table: its rows are tagged onto t1's side of the
  * cogroup, so the lag scan runs once and nothing is joined back or
  * broadcast. The kernel holds the engine's one join-back and its one
  * auto/`minCorrelation` rule; the differential test checks every entry
  * against naive driver-side oracles.
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

  /** Auto mode at a staged best-lag table: entities with best correlation
    * >= `cfg.autoCorrThreshold` take the correlation join-back (none when
    * under `cfg.minCorrelation`); every other key of t1 goes to DTW — below
    * the threshold, or with no valid correlation at all (all-lag NaN / too
    * short; the reference's UDF emits corr = -1 for those)
    * (mapping_engine.py:679-746). `cfg.method` is not read.
    *
    * `bestLag`: a caller that already staged the best-lag table (key,
    * optimal_lag, correlation) passes it in; otherwise it is computed here
    * from `merged`, which must be `SeriesTable.merge(t1, t2)`. Either way
    * it is tagged onto t1's side of the kernel's cogroup
    * ([[MappingKernel.mappingWithBest]]), which runs [[MappingKernel.align]]
    * on the keys the rule sends to DTW; a key with two rows fails.
    * `dtwSummaries` is not read: by contract it is the DTW of `merged`, so
    * the kernel's DTW gives its rows. It stays in the signature until the
    * staged benchmark chain that passes it is retired. */
  def autoMapping(
      merged: DataFrame,
      t1: DataFrame,
      t2: DataFrame,
      cfg: MappingConfig,
      dtwSummaries: Option[DataFrame] = None,
      bestLag: Option[DataFrame] = None): DataFrame = {
    val best = bestLag.getOrElse(LagCorrelation.bestLag(LagCorrelation.lagCorrTable(merged, cfg)))
    MappingKernel.mappingWithBest(t1, t2, best, cfg.copy(method = "auto"))
  }
}
