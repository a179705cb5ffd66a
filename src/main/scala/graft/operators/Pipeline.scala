package graft.operators

import graft.core.{MappingConfig, SeriesTable}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Production pipeline — Scala counterpart of the reference's
  * ProductionPipeline / MappingEngine.process
  * (/root/reference/05_prod_dev.py:329-447, 769-982).
  *
  * Given a pre-trained recommendations "model" (one row per entity with
  * `recommended_method` and `optimal_lag`), map each input entity by its
  * stored recommendation: the stored lag is reused, never recomputed (the
  * reference's key prod optimization).
  */
object Pipeline {

  /** Stored-model mapping stamped with the run id: one
    * [[MappingKernel.serve]] cogroup by key, so the plan is one hash
    * exchange per input and one kernel stage. Columns: key, time1,
    * value1, time2, value2, lag_offset, method, pipeline_run_id. */
  def run(
      t1: DataFrame,
      t2: DataFrame,
      recommendations: DataFrame,
      cfg: MappingConfig,
      runId: String): DataFrame =
    MappingKernel.serve(t1, t2, recommendations, cfg).withColumn("pipeline_run_id", lit(runId))

  /** Incremental mode: the reference's "incremental processing" is a batch
    * re-run over a date-range filter (05_prod_dev.py:1054-1101) — a
    * BETWEEN predicate that prunes partitions when the sink is
    * period-partitioned. */
  def incrementalSlice(series: DataFrame, start: String, end: String): DataFrame =
    series.filter(col("period").between(lit(start).cast("date"), lit(end).cast("date")))

  /** End-to-end incremental run (05_prod_dev.py:1054-1101): slice both
    * series to [start, end], run the stored-model pipeline on the slice,
    * write the result to a temp path partitioned by `time1`, and read it
    * back date-filtered — the read-back is the validation step AND the
    * hand-off the reference does before swapping into the serving table
    * (its write-temp-then-read-back loop). The returned DataFrame scans
    * only the slice's partitions (partition pruning on `time1`;
    * PipelineSpec locks the pruned scan in the executed plan). */
  def incrementalRun(
      t1: DataFrame,
      t2: DataFrame,
      recommendations: DataFrame,
      cfg: MappingConfig,
      runId: String,
      start: String,
      end: String,
      tmpPath: String): DataFrame = {
    val sliced = run(
      incrementalSlice(t1, start, end),
      incrementalSlice(t2, start, end),
      recommendations,
      cfg,
      runId)
    writePartitioned(sliced, tmpPath)
    readBack(t1.sparkSession, tmpPath).filter(col("time1").between(start, end))
  }

  /** Partitioned sink (05_prod_dev.py:862-867): partition by the mapping's
    * source period so date-range reads prune files. The rows are hashed by
    * `time1` first ([[MappingKernel.hashBy]]), so each `time1` value is
    * written by one task into one file, not one file per task. */
  def writePartitioned(mapping: DataFrame, path: String): Unit =
    save(MappingKernel.hashBy(mapping, "time1"), path)

  /** Write rows already hashed by `time1`, one directory per value. */
  private def save(sized: DataFrame, path: String): Unit =
    sized.write.mode("overwrite").partitionBy("time1").parquet(path)

  /** A persisted [[run]] output as it is read back and registered: the
    * columns of [[run]] with the partition column `time1` last, typed DATE
    * as Spark's partition inference types it. Declared, not inferred,
    * because an empty mapping writes no data file to infer it from. */
  private val persistedColumns =
    "key STRING, value1 DOUBLE, time2 STRING, value2 DOUBLE, lag_offset INT, method STRING, " +
      "pipeline_run_id STRING, time1 DATE"

  /** A [[writePartitioned]] mapping read back in its persisted schema. */
  private def readBack(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(StructType.fromDDL(persistedColumns)).parquet(path)

  /** Everything the run produced, with the mapping re-read from its
    * persisted form (what downstream consumers will actually see). `qa`
    * (one row) and `sla` are local tables: reading them starts no job. */
  final case class ProductionResult(
      mapping: DataFrame,
      qa: DataFrame,
      sla: DataFrame,
      outputPath: String,
      slaMet: Boolean)

  /** The reference ProductionPipeline.run orchestration
    * (05_prod_dev.py:769-982), end to end: validate input schemas →
    * stored-model mapping → partitioned save + external-table DDL → QA
    * checks → SLA report → metadata JSON next to the data.
    *
    * The mapping and its QA row come from one write: [[MappingKernel.served]]'s
    * rows, hashed by `time1` as [[writePartitioned]] hashes them, pass an
    * `observe` of [[QualityChecks.servedAggregates]] in the write's result
    * stage, where Spark merges each partition's metrics once, and its
    * per-key status rows are dropped before the write. So the run reads
    * neither its output nor t1 again, and starts no Spark job after the
    * write but the catalog DDL's; the observed row equals
    * `QualityChecks.check` of the persisted output and t1. An observation
    * in a stage AQE prunes as empty reports no metrics (one below the
    * `time1` exchange does when no key emits a row); should the write's
    * report none, the run computes that check instead of defaulting.
    *
    * Returns the one-row materialized report: the QA metrics row, the SLA
    * rows derived from it, and the overall SLA verdict; only that
    * constant-size report touches the driver. */
  def productionRun(
      spark: SparkSession,
      t1: DataFrame,
      t2: DataFrame,
      recommendations: DataFrame,
      cfg: MappingConfig,
      runId: String,
      outputPath: String,
      tableName: String): ProductionResult = {
    SeriesTable.validateSchema(t1, Seq("key", "period", "value"), "table1")
    SeriesTable.validateSchema(t2, Seq("key", "period", "value"), "table2")
    val t0 = System.nanoTime()
    val served = MappingKernel.hashBy(
      MappingKernel.served(t1, t2, recommendations, cfg).withColumn("pipeline_run_id", lit(runId)), "time1")
    val aggregates = QualityChecks.servedAggregates
    val observation = Observation()
    val path = s"$outputPath/mappings_$runId"
    save(served.observe(observation, aggregates.head, aggregates.tail: _*)
      .filter(col("status").isNull).drop("status"), path)
    val persisted = readBack(spark, path)
    registerExternalTable(spark, path, tableName)
    val elapsed = (System.nanoTime() - t0) / 1e9
    val observed = observation.get
    val qa = collectLocal(
      if (observed.isEmpty) QualityChecks.check(persisted, t1) // no metrics reached the driver
      else {
        val schema = served.agg(aggregates.head, aggregates.tail: _*).schema
        QualityChecks.metrics(localTable(spark, Seq(Row.fromSeq(schema.fieldNames.toSeq.map(observed))), schema))
      })
    val slaRows = qa.select(Sla.checks(elapsed, Sla.SlaThresholds())).head().getSeq[Row](0)
    val sla = localTable(spark, slaRows, Sla.fromQuality(qa, elapsed).schema)
    val slaMet = slaRows
      .find(_.getAs[String]("check") == "sla_met")
      .exists(_.getAs[String]("status") == "PASS")
    // metadata JSON beside the data (05_prod_dev.py:884-905) — run
    // identity + the SLA verdicts, not data, so it stays driver-safe.
    // Written through the Hadoop FileSystem resolved from the output
    // path, so hdfs:// and s3a:// destinations work the same as local.
    def js(s: String): String = "\"" + s.flatMap {
      case '"'          => "\\\""
      case '\\'         => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c            => c.toString
    } + "\""
    val checks = slaRows.map { r =>
      s"""${js(r.getAs[String]("check"))}: ${js(r.getAs[String]("status"))}"""
    }.mkString(", ")
    val metaPath = new Path(s"$outputPath/metadata_$runId.json")
    val fs = metaPath.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(metaPath, true)
    try out.write(
      s"""{"run_id": ${js(runId)}, "output_path": ${js(path)}, "table": ${js(tableName)}, $checks}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    ProductionResult(persisted, qa, sla, path, slaMet)
  }

  /** A small result collected into a local table of the same schema. */
  private def collectLocal(df: DataFrame): DataFrame =
    localTable(df.sparkSession, df.collect().toSeq, df.schema)

  /** Rows held on the driver as a table; a projection of it runs there too. */
  private def localTable(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** Runs persisted under `outputPath` (one `mappings_<runId>` snapshot
    * per [[productionRun]]), ascending by run id. */
  def listRuns(spark: SparkSession, outputPath: String): Seq[String] =
    graft.sources.ModelStore.listSnapshots(spark, outputPath, "mappings_").sorted

  /** The reference's RESTORE of the results table
    * (05_prod_dev.py:1173-1188, `RESTORE TABLE ... VERSION AS OF`) over
    * run-versioned parquet: every [[productionRun]] persists an immutable
    * `mappings_<runId>` snapshot, so rollback is re-pointing the external
    * table (and its monitor view) at an earlier run — O(1), snapshots
    * untouched. See [[graft.sources.ModelStore]] for the same workflow on
    * arbitrary model tables. */
  def restoreRun(spark: SparkSession, outputPath: String, tableName: String, runId: String): Unit = {
    val avail = listRuns(spark, outputPath)
    require(avail.contains(runId),
      s"cannot restore to run $runId: not under $outputPath (available: ${avail.mkString(", ")})")
    registerExternalTable(spark, s"$outputPath/mappings_$runId", tableName)
  }

  /** External-table DDL + monitoring view over a [[writePartitioned]]
    * [[run]] output (05_prod_dev.py:872-876, 1252-1266), declared with the
    * persisted schema, so every run, empty or not, and every restore
    * registers the same column types. One `ADD PARTITION` registers the
    * path's `time1=` directories, listed once on the driver: what `MSCK
    * REPAIR TABLE` finds, without its Spark job. An empty run adds none. */
  def registerExternalTable(spark: SparkSession, path: String, tableName: String): Unit = {
    // Identifiers/strings are interpolated into DDL text: backtick-quote
    // each dot-separated part of the (possibly database-qualified) table
    // name, and backslash-escape quotes in string literals (Spark's lexer
    // uses backslash escapes; SQL-standard '' doubling would silently
    // concatenate adjacent literals and mangle the location).
    def ident(part: String): String = "`" + part.replace("`", "``") + "`"
    def str(s: String): String = "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
    val tn = tableName.split('.').map(ident).mkString(".")
    spark.sql(s"DROP TABLE IF EXISTS $tn")
    spark.sql(s"CREATE TABLE $tn ($persistedColumns) USING PARQUET PARTITIONED BY (time1) LOCATION ${str(path)}")
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val values = (if (fs.exists(dir)) fs.listStatus(dir).toSeq.filter(_.isDirectory) else Nil).map(_.getPath.getName)
      .collect { case n if n.startsWith("time1=") => ExternalCatalogUtils.unescapePathName(n.stripPrefix("time1=")) }
    if (values.nonEmpty)
      spark.sql(s"ALTER TABLE $tn ADD IF NOT EXISTS " + values.map(v => s"PARTITION (time1=${str(v)})").mkString(" "))
    // the monitor view is temporary → always unqualified; flatten the
    // FULL qualified name into it (db1.mapping → db1_mapping_monitor) so
    // same-named tables in different databases don't clobber each
    // other's view
    val viewName = tableName.split('.').mkString("_")
    spark.sql(
      s"""CREATE OR REPLACE TEMPORARY VIEW `${viewName.replace("`", "``")}_monitor` AS
         |SELECT method, time1, COUNT(*) AS n_mappings, COUNT(DISTINCT key) AS n_keys
         |FROM $tn GROUP BY method, time1""".stripMargin)
  }
}
