package mapbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** One layer call. `job` is the benchmark job the span belongs to (spans of
  * one job share it); `chain` marks the spans whose sum is the staged
  * replay of a job, as opposed to probes measured beside it. */
final case class Span(
    id: Int,
    name: String,
    parent: Option[Int],
    job: Int,
    startNs: Long,
    endNs: Long,
    chain: Boolean) {
  def seconds: Double = (endNs - startNs) / 1e9
}

object Trace {

  /** Local property that tags every Spark job with the innermost open span. */
  val SpanProperty = "mapbench.span"

  /** Self time of every span, in seconds: its duration minus the part of
    * its interval that its direct children cover (overlapping children
    * are counted once). */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val children = spans.filter(_.parent.isDefined).groupBy(_.parent.get)
    spans.map { s =>
      val ivs = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      ivs.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else if (b > curB) curB = b
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.endNs - s.startNs - covered) / 1e9
    }.toMap
  }
}

/** Keeps spans in memory; they are written out when the run ends. */
final class Tracer(spark: SparkSession) {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  def spans: Seq[Span] = buf.toSeq

  def span[T](name: String, job: Int, chain: Boolean = true)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Trace.SpanProperty)
    sc.setLocalProperty(Trace.SpanProperty, id.toString)
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(Trace.SpanProperty, prev)
      buf += Span(id, name, parent, job, t0, t1, chain)
    }
  }
}

/** Spark runtime counters of one span (jobs tagged with its id). */
final class SparkCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var taskBusyMs = 0L
  var gcMs = 0L
  var peakExecMemBytes = 0L

  def add(o: SparkCounters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes; taskBusyMs += o.taskBusyMs; gcMs += o.gcMs
    peakExecMemBytes = math.max(peakExecMemBytes, o.peakExecMemBytes)
  }

  /** Named values; `coreIdle` needs the span's wall time and core count. */
  def metrics(wallS: Double, cores: Int): Seq[(String, Double)] = Seq(
    "spark.jobs" -> jobs.toDouble,
    "spark.stages" -> stages.toDouble,
    "spark.tasks" -> tasks.toDouble,
    "spark.shuffle_write_bytes" -> shuffleWriteBytes.toDouble,
    "spark.shuffle_read_bytes" -> shuffleReadBytes.toDouble,
    "spark.spill_bytes" -> spillBytes.toDouble,
    "spark.task_busy_s" -> taskBusyMs / 1e3,
    "spark.core_idle_s" -> (cores * wallS - taskBusyMs / 1e3),
    "spark.gc_s" -> gcMs / 1e3,
    "spark.peak_exec_mem_bytes" -> peakExecMemBytes.toDouble)
}

/** Attributes Spark jobs, stages and tasks to the span that was open when
  * the job was submitted. Read only after [[org.apache.spark.MapbenchBus.drain]]. */
final class SpanListener extends SparkListener {
  private val bySpan = mutable.Map.empty[Int, SparkCounters]
  private val stageSpan = mutable.Map.empty[(Int, Int), Int]

  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(Trace.SpanProperty))).map(_.toInt)

  private def counters(span: Int): SparkCounters = bySpan.getOrElseUpdate(span, new SparkCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    spanOf(e.properties).foreach(s => counters(s).jobs += 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    spanOf(e.properties).foreach { s =>
      stageSpan((e.stageInfo.stageId, e.stageInfo.attemptNumber())) = s
      counters(s).stages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get((e.stageId, e.stageAttemptId)).foreach { s =>
      val c = counters(s)
      c.tasks += 1
      c.taskBusyMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.gcMs += m.jvmGCTime
        c.peakExecMemBytes = math.max(c.peakExecMemBytes, m.peakExecutionMemory)
      }
    }
  }

  /** Counters of `span` alone (not its children). */
  def of(span: Int): SparkCounters = synchronized {
    val out = new SparkCounters
    bySpan.get(span).foreach(out.add)
    out
  }
}
