package mapbench

import java.io.File
import java.util.Random

import graft.core.{MappingConfig, PeriodUnit, SeriesTable}
import graft.operators._
import graft.sources.{ModelStore, Tables}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable

/** Per-run state shared by set-up, jobs and the traced replay. */
final class Ctx(val spark: SparkSession, val work: File, val seed: Long, val cores: Int) {
  def path(rel: String): String = new File(work, rel).getAbsolutePath
  var sample: Set[String] = Set.empty
  var modelRoot: String = ""
}

/** A job's materialized output plus failures of workload-specific checks. */
final case class JobRun(out: JobOut, extraFailures: Seq[String])

abstract class Workload {
  def name: String
  def spec: GenSpec
  def cfg: MappingConfig
  def keyCol: String
  def timeCol: String
  def v1Col: String
  def v2Col: String

  def monthly: Boolean = spec.monthly

  /** Generate and write the inputs (and whatever else the job needs). */
  def setup(ctx: Ctx, tracer: Tracer): Unit = Inputs.write(ctx, this, "t1", "t2", trainOnly = false)

  /** Failed set-up assertions, checked once after the timed set-ups. */
  def checkSetup(ctx: Ctx): Seq[String] = Nil

  /** One job: the call plus full materialization of its output. */
  def job(ctx: Ctx, n: Int): JobRun

  /** Remove what a job left on disk. */
  def afterJob(ctx: Ctx, n: Int): Unit = ()

  /** Acceptable outcomes for each sampled entity. */
  def expectations(gen: Generated, refs: Map[Int, EntityRef]): Map[String, Seq[Expect]]

  /** Replay job `n` as a chain of staged layer calls; returns counters. */
  def chain(ctx: Ctx, tracer: Tracer, n: Int): Map[String, Double]

  protected def read(ctx: Ctx, table: String): DataFrame = ctx.spark.read.parquet(ctx.path(s"input/$table"))

  protected def canonicalize(raw: DataFrame, valueCol: String, tableName: String): DataFrame =
    SeriesTable.canonicalize(raw, keyCol, timeCol, valueCol, cfg.periodUnit, tableName)

  protected def period(p: Int): String = Gen.periodDate(monthly, p).toString

  protected def corrExpect(ref: EntityRef, best: Seq[(Int, Double)]): Seq[Expect] =
    best.map { case (lag, c) => ExpectCorr(lag, Some(c), ref.lagRows(lag, period)) }

  protected def dtwExpect(ref: EntityRef, withCost: Boolean): Expect = {
    val (cost, path) = ref.dtw
    ExpectDtw(if (withCost) Some(cost) else None, ref.merged.map(period), ref.m1, ref.m2, path)
  }

  /** Canonicalize both raw tables, merge, and scan lags, each staged. */
  protected def stagedScan(
      ctx: Ctx,
      tracer: Tracer,
      n: Int,
      c: mutable.Map[String, Double]): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val (c1, c2) = tracer.span("SeriesTable.canonicalize", n) {
      val a = Stage(canonicalize(read(ctx, "t1"), v1Col, "table1"))
      val b = Stage(canonicalize(read(ctx, "t2"), v2Col, "table2"))
      c("SeriesTable.canonical_rows") = (a._2 + b._2).toDouble
      (a._1, b._1)
    }
    val merged = tracer.span("SeriesTable.merge", n) {
      val (m, rows) = Stage(SeriesTable.merge(c1, c2))
      c("SeriesTable.merged_rows") = rows.toDouble
      m
    }
    val best = tracer.span("LagCorrelation.scan", n) {
      val (table, lagRows) = Stage(LagCorrelation.lagCorrTable(merged, cfg))
      c("LagCorrelation.lag_rows") = lagRows.toDouble
      Stage(LagCorrelation.bestLag(table))._1
    }
    val scanned = merged.select(col("key")).distinct().count()
    c("LagCorrelation.useful_ratio") =
      best.filter(col("correlation") >= cfg.minCorrelation).count().toDouble / math.max(1L, scanned)
    (c1, c2, merged, best)
  }
}

/** Cache and count: the output is fully computed before the next layer. */
object Stage {
  def apply(df: DataFrame): (DataFrame, Long) = {
    val c = df.cache()
    (c, c.count())
  }
}

object Inputs {
  private def schema(w: Workload, valueCol: String): StructType = StructType(Seq(
    StructField(w.keyCol, StringType, nullable = false),
    StructField(w.timeCol, if (w.monthly) StringType else DateType, nullable = false),
    StructField(valueCol, DoubleType, nullable = false)))

  /** Rows of one table, generated on the executors from (spec, seed). */
  private def rows(
      spark: SparkSession,
      spec: GenSpec,
      seed: Long,
      table: Int,
      trainOnly: Boolean,
      slices: Int): RDD[Row] =
    spark.sparkContext.parallelize(0 until spec.entities, slices).flatMap { i =>
      val (e, a, b) = Gen.entity(spec, seed, i)
      if (trainOnly && e.isNew) Iterator.empty
      else (if (table == 1) a else b).iterator.map { o =>
        val t: Any =
          if (spec.monthly) Gen.monthString(o.period)
          else java.sql.Date.valueOf(Gen.periodDate(monthly = false, o.period))
        Row(e.key, t, o.value)
      }
    }

  def write(ctx: Ctx, w: Workload, name1: String, name2: String, trainOnly: Boolean): Unit =
    Seq(1 -> (name1, w.v1Col), 2 -> (name2, w.v2Col)).foreach { case (table, (name, valueCol)) =>
      ctx.spark
        .createDataFrame(rows(ctx.spark, w.spec, ctx.seed, table, trainOnly, ctx.cores), schema(w, valueCol))
        .write.mode("overwrite").parquet(ctx.path(s"input/$name"))
    }
}

/** The reference's headline transactions→revenue job: correlation method,
  * monthly 'yyyy-MM' strings. Ingest, the lag scan and the join-back do
  * all the work; the DTW kernel does none. */
object CorrMonthly extends Workload {
  val name = "corr_monthly"
  val spec: GenSpec = GenSpec(
    entities = 500, monthly = true, baseLen = 24, lenJitter = 0.0, longShare = 0.0, longFactor = 1,
    startSpread = 0, gapRate = 0.05, dupRate = 0.02, constantShare = 0.01, shortShare = 0.01, newShare = 0.0,
    simpleShare = 0.4, complexShare = 0.3, simpleNoise = 0.05, complexNoise = 0.6, irregularNoiseMax = 2.0)
  val cfg: MappingConfig = MappingConfig(method = "correlation", maxLag = 6, periodUnit = PeriodUnit.Month)
  val keyCol = "customer_id"
  val timeCol = "month"
  val v1Col = "amount"
  val v2Col = "rev"

  def job(ctx: Ctx, n: Int): JobRun = {
    val out = MappingEngine.mapTables(read(ctx, "t1"), read(ctx, "t2"), keyCol, timeCol, v1Col, v2Col, cfg)
    JobRun(Check.materialize(out, monthly, ctx.sample), Nil)
  }

  def expectations(gen: Generated, refs: Map[Int, EntityRef]): Map[String, Seq[Expect]] =
    refs.map { case (i, ref) =>
      val best = Reference.bestLags(ref.scan(cfg.maxLag))
      val alts =
        if (best.isEmpty) Seq(ExpectNone)
        else Reference.atLeast(best.map(_._2).max, cfg.minCorrelation).toSeq.flatMap { ok =>
          if (ok) corrExpect(ref, best) else Seq(ExpectNone)
        }
      gen.entities(i).key -> alts
    }

  def chain(ctx: Ctx, tracer: Tracer, n: Int): Map[String, Double] = {
    val c = mutable.Map.empty[String, Double]
    val (c1, c2, _, best) = stagedScan(ctx, tracer, n, c)
    tracer.span("LagCorrelation.joinback", n) {
      c("LagCorrelation.mapping_rows") = Stage(LagCorrelation.mapping(c1, c2, best, cfg))._2.toDouble
    }
    c.toMap
  }
}

/** The engine's default method on daily series: entities below the 0.7
  * correlation threshold go through the DTW kernel, whose cost grows with
  * the square of the (skewed) series lengths. */
object AutoDaily extends Workload {
  val name = "auto_daily"
  val spec: GenSpec = GenSpec(
    entities = 200, monthly = false, baseLen = 240, lenJitter = 0.2, longShare = 0.05, longFactor = 4,
    startSpread = 60, gapRate = 0.05, dupRate = 0.02, constantShare = 0.01, shortShare = 0.01, newShare = 0.0,
    simpleShare = 0.45, complexShare = 0.3, simpleNoise = 0.05, complexNoise = 0.6, irregularNoiseMax = 1.5)
  val cfg: MappingConfig = MappingConfig(method = "auto", periodUnit = PeriodUnit.Day)
  val keyCol = "entity_id"
  val timeCol = "day"
  val v1Col = "engagement"
  val v2Col = "purchases"

  def job(ctx: Ctx, n: Int): JobRun = {
    val out = MappingEngine.mapTables(read(ctx, "t1"), read(ctx, "t2"), keyCol, timeCol, v1Col, v2Col, cfg)
    JobRun(Check.materialize(out, monthly, ctx.sample), Nil)
  }

  def expectations(gen: Generated, refs: Map[Int, EntityRef]): Map[String, Seq[Expect]] =
    refs.map { case (i, ref) =>
      val best = Reference.bestLags(ref.scan(cfg.maxLag))
      val split =
        if (best.isEmpty) Set(false) else Reference.atLeast(best.map(_._2).max, cfg.autoCorrThreshold)
      val alts =
        if (ref.merged.isEmpty) Seq(ExpectNone)
        else split.toSeq.flatMap { corr =>
          if (corr) corrExpect(ref, best) else Seq(dtwExpect(ref, withCost = true))
        }
      gen.entities(i).key -> alts
    }

  def chain(ctx: Ctx, tracer: Tracer, n: Int): Map[String, Double] = {
    val c = mutable.Map.empty[String, Double]
    val (c1, c2, merged, best) = stagedScan(ctx, tracer, n, c)
    // the engine's split: below the threshold, or no valid correlation
    val simpleKeys = best.filter(col("correlation") >= cfg.autoCorrThreshold).select(col("key"))
    val complexKeys = merged.select(col("key")).distinct().join(simpleKeys, Seq("key"), "left_anti")
    val summaries = tracer.span("DtwMapping.summarize", n) {
      Stage(DtwMapping.summarize(merged.join(complexKeys, Seq("key"), "left_semi"), cfg).toDF())._1
    }
    val lengths = merged.join(complexKeys, Seq("key"), "left_semi").groupBy(col("key")).count()
      .collect().map(_.getLong(1))
    c("Dtw.cells") = lengths.map(l => Workloads.dtwCells(l, l, cfg.dtwWindow)).sum
    c("DtwMapping.max_series_len") = if (lengths.isEmpty) 0.0 else lengths.max.toDouble
    c("DtwMapping.path_steps") = summaries.agg(sum(col("num_mappings"))).head().getLong(0).toDouble
    c("MappingEngine.corr_entities") = simpleKeys.count().toDouble
    c("MappingEngine.dtw_entities") = lengths.length.toDouble
    tracer.span("MappingEngine.split_union", n) {
      Stage(MappingEngine.autoMapping(merged, c1, c2, cfg, Some(summaries), Some(best)))
    }
    // the two halves of the union, measured beside the chain
    tracer.span("LagCorrelation.joinback", n, chain = false) {
      val simpleBest = best.join(simpleKeys, Seq("key"), "left_semi")
      c("LagCorrelation.mapping_rows") = Stage(LagCorrelation.mapping(c1, c2, simpleBest, cfg))._2.toDouble
    }
    tracer.span("DtwMapping.explode", n, chain = false) {
      Stage(DtwMapping.mappingFromSummaries(summaries))
    }
    c.toMap
  }
}

/** The scheduled production run: stored model, segmented mapping,
  * partitioned write, external table, read-back, QA, SLA and metadata.
  * Stored lags bypass the lag scan, so segmentation, write and QA show. */
object ProdPipeline extends Workload {
  val name = "prod_pipeline"
  val spec: GenSpec = CorrMonthly.spec.copy(entities = 1000, newShare = 0.1)
  val cfg: MappingConfig = MappingConfig(method = "correlation", maxLag = 6, periodUnit = PeriodUnit.Month)
  val keyCol = "customer_id"
  val timeCol = "month"
  val v1Col = "amount"
  val v2Col = "rev"
  val table = "mapbench_mappings"

  private val Segments = Seq(
    "Correlation" -> "correlation",
    "Either (prefer Correlation for simplicity)" -> "either",
    "DTW" -> "dtw",
    "Complex - Manual Review" -> "manual_review")
  private var reps = 0

  /** Inputs, then train the model on the entities it knows and store it. */
  override def setup(ctx: Ctx, tracer: Tracer): Unit = {
    super.setup(ctx, tracer)
    Inputs.write(ctx, this, "train_t1", "train_t2", trainOnly = true)
    reps += 1
    val root = ctx.path(s"model_$reps")
    val recs = tracer.span("Comparison.train", -1, chain = false) {
      val c1 = canonicalize(read(ctx, "train_t1"), v1Col, "table1")
      val c2 = canonicalize(read(ctx, "train_t2"), v2Col, "table2")
      val merged = SeriesTable.merge(c1, c2).cache()
      val summaries = DtwMapping.summarize(merged, cfg).toDF().cache()
      Stage(Comparison.recommendationsFromSummaries(merged, summaries, cfg))._1
    }
    tracer.span("ModelStore.save", -1, chain = false)(ModelStore.save(recs, root))
    ctx.spark.catalog.clearCache()
    ctx.modelRoot = root
  }

  /** Every segment of the stored model, and the entities it lacks, must
    * hold entities, or the workload would not exercise all branches. */
  override def checkSetup(ctx: Ctx): Seq[String] = {
    val seg = segments(ModelStore.load(ctx.spark, ctx.modelRoot),
      canonicalize(read(ctx, "t1"), v1Col, "table1"))
    println(s"model segments: ${seg.map { case (k, v) => s"$k=${v.toLong}" }.mkString(" ")}")
    seg.filter(_._2 == 0).map { case (k, _) => s"prod_pipeline segment $k holds no entities" }
  }

  /** Entities per segment of the stored model, plus those it lacks. */
  private def segments(model: DataFrame, t1: DataFrame): Seq[(String, Double)] = {
    val counts = t1.select(col("key")).distinct()
      .join(model.select(col("key"), col("recommended_method")), Seq("key"), "left")
      .groupBy(col("recommended_method")).count()
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    Segments.map { case (m, n) => n -> counts.getOrElse(Some(m), 0L).toDouble } :+
      ("no_model" -> counts.getOrElse(None, 0L).toDouble)
  }

  private def outDir(ctx: Ctx, n: Int): String = ctx.path(s"out/job_$n")

  def job(ctx: Ctx, n: Int): JobRun = {
    val model = ModelStore.load(ctx.spark, ctx.modelRoot)
    val c1 = canonicalize(read(ctx, "t1"), v1Col, "table1")
    val c2 = canonicalize(read(ctx, "t2"), v2Col, "table2")
    val res = Pipeline.productionRun(ctx.spark, c1, c2, model, cfg, s"job$n", outDir(ctx, n), table)
    val out = Check.materialize(res.mapping, monthly, ctx.sample)
    val qa = res.qa.collect().head
    val extra = Seq(
      Option.when(qa.getAs[Long]("mapped_keys") != out.keys.size)(
        s"QA mapped_keys ${qa.getAs[Long]("mapped_keys")} != ${out.keys.size} entities in the output"),
      Option.when(qa.getAs[Long]("total_keys") != spec.entities)(
        s"QA total_keys ${qa.getAs[Long]("total_keys")} != ${spec.entities} input entities")).flatten
    JobRun(out, extra)
  }

  override def afterJob(ctx: Ctx, n: Int): Unit = Workloads.delete(new File(outDir(ctx, n)))

  def expectations(gen: Generated, refs: Map[Int, EntityRef]): Map[String, Seq[Expect]] =
    refs.map { case (i, ref) =>
      val e = gen.entities(i)
      val alts =
        if (e.isNew || ref.merged.isEmpty) Seq(ExpectCorr(1, None, ref.lagRows(1, period)))
        else {
          val best = Reference.bestLags(ref.scan(cfg.maxLag))
          val corrs = if (best.isEmpty) Seq(-1.0) else Seq(-Reference.Tol, Reference.Tol).map(best.map(_._2).max + _)
          val lags = if (best.isEmpty) Seq(0) else best.map(_._1)
          val cost = ref.dtw._1
          val methods = for {
            corr <- corrs; lag <- lags; d <- Seq(-Reference.Tol, Reference.Tol)
          } yield Workloads.recommend(corr, lag, cost + d) -> lag
          methods.distinct.map {
            case ("DTW", _)                     => dtwExpect(ref, withCost = false)
            case ("Complex - Manual Review", _) => ExpectNone
            case (_, lag)                       => ExpectCorr(lag, None, ref.lagRows(lag, period))
          }.distinct
        }
      e.key -> alts
    }

  def chain(ctx: Ctx, tracer: Tracer, n: Int): Map[String, Double] = {
    val c = mutable.Map.empty[String, Double]
    val t0 = System.nanoTime()
    val model = tracer.span("ModelStore.load", n)(Stage(ModelStore.load(ctx.spark, ctx.modelRoot))._1)
    val (c1, c2) = tracer.span("SeriesTable.canonicalize", n) {
      val a = Stage(canonicalize(read(ctx, "t1"), v1Col, "table1"))
      val b = Stage(canonicalize(read(ctx, "t2"), v2Col, "table2"))
      c("SeriesTable.canonical_rows") = (a._2 + b._2).toDouble
      (a._1, b._1)
    }
    val mapped = tracer.span("Pipeline.run", n)(Stage(Pipeline.run(c1, c2, model, cfg, s"job$n"))._1)
    val path = s"${outDir(ctx, n)}/mappings_job$n"
    tracer.span("Pipeline.write", n) {
      Pipeline.writePartitioned(mapped, path)
      Pipeline.registerExternalTable(ctx.spark, path, table)
    }
    val (persisted, rows) = tracer.span("Pipeline.readback", n)(Stage(ctx.spark.read.parquet(path)))
    tracer.span("QualityChecks.check", n) {
      QualityChecks.check(
        persisted.select(col("key"), col("time1"), col("value1"), col("time2"), col("value2"), col("lag_offset")),
        c1).collect()
    }
    tracer.span("Sla.report", n)(Sla.report(persisted, c1, (System.nanoTime() - t0) / 1e9).collect())
    val files = Workloads.files(new File(path)).filter(_.getName.startsWith("part-"))
    val bytes = files.map(_.length).sum.toDouble
    c("Pipeline.files_written") = files.length.toDouble
    c("Pipeline.bytes_written") = bytes
    c("Pipeline.bytes_per_row") = bytes / math.max(1L, rows)
    c("LagCorrelation.mapping_rows") = rows.toDouble
    segments(model, c1).foreach { case (s, v) => c(s"Pipeline.segment_entities.$s") = v }
    c.toMap
  }
}

object Workloads {
  val all: Seq[Workload] = Seq(CorrMonthly, AutoDaily, ProdPipeline)

  def byName(name: String): Option[Workload] = all.find(_.name == name)

  /** The recommendation rule the stored model applies, restated. */
  def recommend(corr: Double, lag: Int, cost: Double): String =
    if (corr >= 0.7 && lag <= 2) "Correlation"
    else if (corr >= 0.5 && cost <= 10) "Either (prefer Correlation for simplicity)"
    else if (cost <= 15) "DTW"
    else "Complex - Manual Review"

  /** DP cells DTW fills for series of lengths n and m (Sakoe-Chiba band
    * of half-width w when given). */
  def dtwCells(n: Long, m: Long, window: Option[Int]): Double = window match {
    case None => n.toDouble * m
    case Some(w) => (1L to n).map(i => math.max(0L, math.min(m, i + w) - math.max(1L, i - w) + 1)).sum.toDouble
  }

  /** Fixed seeded sample of entity indices: a random 200 plus up to eight
    * of each special kind, so every edge case is checked on every job. */
  def sample(gen: Generated, seed: Long): Seq[Int] = {
    val order = new Random(Gen.mix(seed, -1))
    val shuffled = scala.util.Random.javaRandomToRandom(order).shuffle(gen.entities.indices.toVector)
    val special = Seq[Entity => Boolean](_.constant, _.short, _.long, _.isNew)
      .flatMap(p => shuffled.filter(i => p(gen.entities(i))).take(8))
    (shuffled.take(200) ++ special).distinct
  }

  def files(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap(f => if (f.isDirectory) files(f) else Seq(f))

  def delete(f: File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete()
  }

  /** Bytes of cached blocks still held by the session. */
  def cachedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** What a scheduled run starts from: nothing cached. */
  def isolate(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    Tables.clearCache()
  }
}
