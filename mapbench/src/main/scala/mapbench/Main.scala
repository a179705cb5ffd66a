package mapbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import org.apache.spark.MapbenchBus
import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed.
  *
  * {{{
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> [--trace-out <file>]
  * }}}
  *
  * Closed loop, one client: each job starts when the previous one has
  * returned and been checked. `--trace 0` measures the end-to-end metrics
  * with no listener attached; `--trace 1` replays the job as a chain of
  * staged layer calls under a Spark listener and reports the per-layer
  * metrics. The last stdout line is the JSON result.
  */
object Main {

  /** Set-up repetitions; set-up time is their median. */
  val SetupReps = 3
  /** Staged replays in a traced run; layer metrics are their median. */
  val ChainReps = 2
  /** Jobs run with (and as many without) the listener in a traced run. */
  val ListenerJobs = 2
  /** Fewest warm jobs a run measures, however long they take (a traced
    * run, whose job times feed no end-to-end metric, stops at three). */
  val MinWarmJobs = 4
  /** The warm loop stops here even if too few jobs completed. */
  val LoopCapS = 120.0

  final class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def get(k: String): Option[String] = m.get(k)
  }

  def parse(args: Array[String]): Args =
    new Args(args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap)

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val w = Workloads.byName(args("workload")).getOrElse(
      throw new IllegalArgumentException(
        s"unknown workload ${args("workload")}; known: ${Workloads.all.map(_.name).mkString(", ")}"))
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val work = new File(args("work")).getAbsoluteFile
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"mapbench-${w.name}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.core.GraftSession.tune(spark)
    val sessionUpS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    try run(spark, w, seed, seconds, traced, work, cores, sessionUpS, args.get("trace-out"))
    finally spark.stop()
  }

  private def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def run(
      spark: SparkSession,
      w: Workload,
      seed: Long,
      seconds: Double,
      traced: Boolean,
      work: File,
      cores: Int,
      sessionUpS: Double,
      traceOut: Option[String]): Unit = {
    val ctx = new Ctx(spark, work, seed, cores)
    val tracer = new Tracer(spark)
    val setupTimes = (1 to SetupReps).map(_ => time(w.setup(ctx, tracer))._2)
    val setupS = sessionUpS + Stats.median(setupTimes)
    val setupFailures = w.checkSetup(ctx)
    require(setupFailures.isEmpty, setupFailures.mkString("; "))

    // the engine-independent reference, outside every timed region
    val ((gen, expected, planted), refS) = time {
      val gen = Gen.generate(w.spec, seed)
      val sample = Workloads.sample(gen, seed)
      val expected = w.expectations(gen, Reference.entities(gen, sample))
      val planted = gen.entities.filter(e => e.archetype == "simple" && !e.constant && !e.short && !e.isNew)
        .map(e => e.key -> e.lag).toMap
      ctx.sample = expected.keySet
      (gen, expected, planted)
    }
    println(f"workload ${w.name} seed $seed cores $cores input_digest ${gen.digest}")
    println(f"archetype shares: ${gen.shares.map { case (k, v) => f"$k=$v%.4f" }.mkString(" ")}")
    println(f"set-up: session ${sessionUpS}%.3f s, repetitions ${setupTimes.map(t => f"$t%.3f").mkString(" ")} s; " +
      f"reference for ${expected.size} sampled entities ${refS}%.3f s")
    val inputRows = (gen.t1.length + gen.t2.length).toDouble

    var attempted = 0
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    var coverage = Double.NaN
    var leaked = 0L

    /** One checked, isolated job; its wall time, or None if it threw.
      * `listened` runs it inside a root span, for the attached listener. */
    def job(n: Int, listened: Boolean = false): Option[Double] = {
      attempted += 1
      val result = scala.util.Try(time {
        if (listened) tracer.span("job", n, chain = false)(w.job(ctx, n)) else w.job(ctx, n)
      })
      leaked = Workloads.cachedBytes(spark)
      Workloads.isolate(spark)
      w.afterJob(ctx, n)
      result match {
        case scala.util.Success((run, s)) =>
          val fails = Check.verify(run.out, expected, planted) ++ run.extraFailures
          coverage = run.out.keys.size.toDouble / w.spec.entities
          if (fails.nonEmpty) failures += s"job $n: ${fails.take(5).mkString("; ")}"
          Some(s)
        case scala.util.Failure(e) =>
          failures += s"job $n threw ${e.getClass.getName}: ${e.getMessage}"
          None
      }
    }

    def loop(from: Int, budgetS: Double, minJobs: Int): Seq[Double] = {
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      val times = scala.collection.mutable.ArrayBuffer.empty[Double]
      var n = from
      while ((elapsed < budgetS || times.length < minJobs) && elapsed < LoopCapS) {
        job(n).foreach(times += _)
        n += 1
      }
      times.toSeq
    }

    val cold = job(0)
    val e2e = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    val layer = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]

    val warm = if (traced) loop(1, seconds / 2, 3) else loop(1, seconds, MinWarmJobs)
    require(warm.nonEmpty && cold.isDefined, s"no job completed: ${failures.take(3).mkString("; ")}")
    val jobS = Stats.median(warm)
    e2e("setup_s") = (setupS, "s")
    e2e("cold_job_s") = (cold.get, "s")
    e2e("job_s") = (jobS, "s")
    e2e("job_s_tail") = (Stats.tail(warm), "s")
    e2e("input_rows_per_s") = (inputRows / jobS, "rows/s")
    e2e("entity_coverage") = (coverage, "ratio")
    e2e("success_rate") = (1.0 - failures.size.toDouble / attempted, "ratio")

    if (traced) {
      val listener = new SpanListener
      val base = 100000
      // the composed job in pairs, without then with the listener, so the
      // JIT's warm-up trend does not leak into the overhead estimate
      val pairs = (0 until ListenerJobs).map { k =>
        val n = base + 2 * k
        val off = job(n)
        spark.sparkContext.addSparkListener(listener)
        val on = job(n + 1, listened = true)
        spark.sparkContext.removeSparkListener(listener)
        (off, on.map(s => (n + 1, s)))
      }
      val listened = pairs.flatMap(_._2)
      val pairedOff = pairs.flatMap(_._1)
      // job time next to the staged replay, for the unattributed share
      val jobRef = if (pairedOff.isEmpty) jobS else Stats.median(pairedOff)
      spark.sparkContext.addSparkListener(listener)
      val perLayer = (0 until ChainReps).map { k =>
        val n = base + 2 * ListenerJobs + k
        val counters = w.chain(ctx, tracer, n)
        Workloads.isolate(spark)
        w.afterJob(ctx, n)
        (n, counters)
      }
      MapbenchBus.drain(spark.sparkContext)
      val spans = tracer.spans
      val self = Trace.selfTimes(spans)

      def spanSeconds(n: Int, name: String): Double =
        spans.filter(s => s.job == n && s.name == name).map(_.seconds).sum
      val layerSpans = Seq(
        "SeriesTable.canonicalize", "SeriesTable.merge", "LagCorrelation.scan", "LagCorrelation.joinback",
        "DtwMapping.summarize", "DtwMapping.explode", "MappingEngine.split_union", "ModelStore.load",
        "Pipeline.run", "Pipeline.write", "Pipeline.readback", "QualityChecks.check", "Sla.report")
      layerSpans.foreach { s =>
        layer(s"${s}_s") = (Stats.median(perLayer.map { case (n, _) => spanSeconds(n, s) }), "s")
      }
      Seq("Comparison.train" -> "Comparison.train_s", "ModelStore.save" -> "ModelStore.save_s").foreach {
        case (s, m) =>
          val xs = spans.filter(_.name == s).map(_.seconds)
          layer(m) = (if (xs.isEmpty) 0.0 else Stats.median(xs), "s")
      }
      val counterNames = Seq(
        "SeriesTable.canonical_rows" -> "rows", "SeriesTable.merged_rows" -> "rows",
        "LagCorrelation.lag_rows" -> "rows", "LagCorrelation.useful_ratio" -> "ratio",
        "LagCorrelation.mapping_rows" -> "rows", "Dtw.cells" -> "cells", "DtwMapping.path_steps" -> "steps",
        "DtwMapping.max_series_len" -> "periods", "MappingEngine.corr_entities" -> "entities",
        "MappingEngine.dtw_entities" -> "entities") ++
        Seq("correlation", "either", "dtw", "manual_review", "no_model")
          .map(s => s"Pipeline.segment_entities.$s" -> "entities") ++
        Seq("Pipeline.bytes_written" -> "bytes", "Pipeline.files_written" -> "files",
          "Pipeline.bytes_per_row" -> "bytes/row")
      counterNames.foreach { case (m, unit) =>
        layer(m) = (Stats.median(perLayer.map(_._2.getOrElse(m, 0.0))), unit)
      }
      val summarize = layer("DtwMapping.summarize_s")._1
      layer("Dtw.cells_per_s") = (if (summarize > 0) layer("Dtw.cells")._1 / summarize else 0.0, "cells/s")
      layer("MappingEngine.leaked_cached_bytes") = (leaked.toDouble, "bytes")

      // Spark runtime of the whole composed job, median over the listened jobs
      val runtime = listened.map { case (n, s) =>
        val root = spans.find(sp => sp.job == n && sp.name == "job").get
        val c = new SparkCounters
        spans.filter(_.job == n).foreach(sp => c.add(listener.of(sp.id)))
        c.metrics(root.seconds, cores)
      }
      if (runtime.nonEmpty) runtime.head.map(_._1).foreach { m =>
        val unit = if (m.endsWith("_s")) "s" else if (m.endsWith("_bytes")) "bytes" else "count"
        layer(m) = (Stats.median(runtime.map(_.find(_._1 == m).get._2)), unit)
      }
      val staged = Stats.median(perLayer.map { case (n, _) =>
        spans.filter(s => s.job == n && s.chain && s.parent.isEmpty).map(_.seconds).sum
      })
      layer("trace.unattributed_s") = (jobRef - staged, "s")
      layer("trace.overhead_s") = (if (listened.isEmpty) 0.0 else Stats.median(listened.map(_._2)) - jobRef, "s")

      traceOut.foreach(f => writeTrace(new File(f), w.name, seed, cores, spans, self, listener))
      traceOut.foreach(f => println(s"trace written to $f (${spans.size} spans)"))
    }

    println(f"warm jobs ${warm.length} (${warm.map(t => f"$t%.3f").mkString(" ")} s), " +
      f"tail = p${Stats.tailLevel(warm.length)}%.1f; " +
      s"attempted $attempted, failed ${failures.size}")
    e2e.foreach { case (k, (v, u)) => println(f"metric $k%-40s $v%.6g $u") }
    layer.foreach { case (k, (v, u)) => println(f"metric $k%-40s $v%.6g $u") }
    println(s"error_rate ${failures.size.toDouble / attempted} (${failures.size} of $attempted jobs)")
    failures.take(20).foreach(f => println(s"CHECK FAILED $f"))
    println(if (failures.isEmpty) "check verdict: PASS" else "check verdict: FAIL")
    val metrics = if (traced) layer else e2e
    val body = metrics.map { case (k, (v, u)) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${failures.isEmpty}, "attempted": $attempted, "failed": ${failures.size}, """ +
      s""""metrics": {$body}}""")
  }

  private def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  private def writeTrace(
      f: File,
      workload: String,
      seed: Long,
      cores: Int,
      spans: Seq[Span],
      self: Map[Int, Double],
      listener: SpanListener): Unit = {
    Option(f.getParentFile).foreach(_.mkdirs())
    val out = new PrintWriter(f, "UTF-8")
    try spans.sortBy(_.startNs).foreach { s =>
      val rt = listener.of(s.id).metrics(s.seconds, cores)
        .map { case (k, v) => s""""$k": ${num(v)}""" }.mkString(", ")
      out.println(
        s"""{"workload": "$workload", "seed": $seed, "span": ${s.id}, "name": "${s.name}", """ +
          s""""parent": ${s.parent.getOrElse("null")}, "job": ${s.job}, "chain": ${s.chain}, """ +
          s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}, "seconds": ${num(s.seconds)}, """ +
          s""""self_s": ${num(self(s.id))}, $rt}""")
    }
    finally out.close()
  }
}
