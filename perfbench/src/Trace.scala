package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.enrich.Enrich

/** One recorded interval of benchmark code around a call into a layer. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long,
                      startMs: Long, endMs: Long)

/** Spans recorded in memory and written when the run ends. With tracing off
  * `span` runs its body and records nothing, so the untraced run pays no
  * bookkeeping. The active span's name is set as a Spark local property, so
  * every job, stage and task the body launches is attributed to it.
  */
final class Tracer(val on: Boolean, spark: SparkSession) {
  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List(0)
  private var nextId = 1

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.head
      val prevName = spark.sparkContext.getLocalProperty(Tracer.SpanProp)
      stack = id :: stack
      spark.sparkContext.setLocalProperty(Tracer.SpanProp, name)
      val (t0, w0) = (System.nanoTime(), System.currentTimeMillis())
      try body
      finally {
        spans += Span(id, name, parent, t0, System.nanoTime(), w0, System.currentTimeMillis())
        stack = stack.tail
        spark.sparkContext.setLocalProperty(Tracer.SpanProp, prevName)
      }
    }

  /** Wall-clock (start, end) milliseconds of the spans whose name is picked. */
  def intervals(pick: String => Boolean): Seq[(Long, Long)] =
    spans.filter(s => pick(s.name)).map(s => (s.startMs, s.endMs)).toSeq

  def toJson: String = {
    val t0 = spans.map(_.startNs).minOption.getOrElse(0L)
    spans.sortBy(_.startNs).map { s =>
      f"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
        f""""start_ms":${(s.startNs - t0) / 1e6}%.3f,"end_ms":${(s.endNs - t0) / 1e6}%.3f}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
}

/** Counts what the enrich layer's batch scorer is asked to do. Counters are
  * JVM-wide, which holds because the benchmark runs Spark in one local JVM. */
final class CountingScorer(inner: Enrich.TextScorer) extends Enrich.TextScorer {
  def fieldNames: Seq[String] = inner.fieldNames
  def scoreBatch(texts: Seq[String]): Seq[Seq[Double]] = {
    val t0 = System.nanoTime()
    val out = inner.scoreBatch(texts)
    CountingScorer.busyNs.addAndGet(System.nanoTime() - t0)
    CountingScorer.calls.incrementAndGet()
    CountingScorer.rows.addAndGet(texts.size)
    out
  }
}

object CountingScorer {
  val calls = new AtomicLong
  val rows = new AtomicLong
  val busyNs = new AtomicLong
  def reset(): Unit = { calls.set(0); rows.set(0); busyNs.set(0) }
}

/** Spark, query-execution and streaming listener totals, keyed by the span
  * that was active when the work was submitted. */
final class LayerListeners(spark: SparkSession) {
  final class Sums {
    val jobs, stages, tasks, tasksFailed = new AtomicLong
    val taskMs, gcMs, shuffleRead, shuffleWrite, input, output, spill = new AtomicLong
    val executions = ConcurrentHashMap.newKeySet[String]()
  }
  private val bySpan = new ConcurrentHashMap[String, Sums]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  /** (phase, wall-clock start ms, duration ms) of every planned query. */
  private val phases = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()

  private def sums(span: String): Sums =
    bySpan.computeIfAbsent(Option(span).getOrElse("-"), _ => new Sums)
  private def spanOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.SpanProp))).getOrElse("-")

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = spanOf(e.properties)
      sums(s).jobs.incrementAndGet()
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.root.id"))
          .orElse(Option(p.getProperty("spark.sql.execution.id"))))
        .foreach(sums(s).executions.add)
      e.stageIds.foreach(id => stageSpan.putIfAbsent(id, s))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageSpan.put(e.stageInfo.stageId, spanOf(e.properties))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      sums(stageSpan.getOrDefault(e.stageInfo.stageId, "-")).stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = sums(stageSpan.getOrDefault(e.stageId, "-"))
      s.tasks.incrementAndGet()
      if (!e.taskInfo.successful) s.tasksFailed.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        s.taskMs.addAndGet(m.executorRunTime)
        s.gcMs.addAndGet(m.jvmGCTime)
        s.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        s.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        s.input.addAndGet(m.inputMetrics.bytesRead)
        s.output.addAndGet(m.outputMetrics.bytesWritten)
        s.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (k, v) => phases.add((k, v.startTimeMs, v.durationMs)) }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Waits until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.PerfbenchAccess.drainListenerBus(spark.sparkContext)

  /** Totals over the spans whose name satisfies `pick`. */
  def total(pick: String => Boolean): Map[String, Double] = {
    val ss = bySpan.asScala.collect { case (k, v) if pick(k) => v }
    def sum(f: Sums => AtomicLong): Double = ss.map(s => f(s).get.toDouble).sum
    val mb = 1048576.0
    Map(
      "jobs" -> sum(_.jobs), "stages" -> sum(_.stages), "tasks" -> sum(_.tasks),
      "tasks_failed" -> sum(_.tasksFailed), "task_time_s" -> sum(_.taskMs) / 1000.0,
      "task_gc_s" -> sum(_.gcMs) / 1000.0, "shuffle_read_mb" -> sum(_.shuffleRead) / mb,
      "shuffle_write_mb" -> sum(_.shuffleWrite) / mb, "input_mb" -> sum(_.input) / mb,
      "output_mb" -> sum(_.output) / mb, "spill_mb" -> sum(_.spill) / mb,
      "actions" -> ss.map(_.executions.size.toDouble).sum)
  }

  /** Forgets everything counted so far. */
  def reset(): Unit = {
    drain()
    bySpan.clear(); stageSpan.clear(); phases.clear(); progress.clear()
  }

  /** Catalyst phase time of the queries planned inside the given wall-clock
    * intervals. Query-execution events carry no span, so they are placed by
    * when the phase started. */
  def phaseMs(within: Seq[(Long, Long)], phase: String): Double =
    phases.asScala.collect {
      case (p, start, ms) if p == phase && within.exists { case (a, b) => start >= a && start <= b } =>
        ms.toDouble
    }.sum
}

/** Host conditions recorded with every run. */
object Host {
  def load1(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** (steal, total) ticks from the aggregate `cpu` line of /proc/stat. The
    * guest and guest_nice columns are already included in user and nice, so
    * they are left out of the total; the file is closed after reading. */
  def cpuTicks(): Option[(Long, Long)] = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val line = try src.getLines().find(_.startsWith("cpu ")).get finally src.close()
    val f = line.trim.split("\\s+").drop(1).map(_.toLong)
    (f(7), f.take(8).sum)
  }.toOption

  def stealPct(a: Option[(Long, Long)], b: Option[(Long, Long)]): Double =
    (for ((s0, t0) <- a; (s1, t1) <- b if t1 > t0) yield 100.0 * (s1 - s0) / (t1 - t0))
      .getOrElse(0.0)

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/self/status")
    val line = try src.getLines().find(_.startsWith("VmHWM:")).get finally src.close()
    line.split("\\s+")(1).toDouble / 1024.0
  }.getOrElse(Runtime.getRuntime.totalMemory / 1048576.0)
}

object Json {
  def str(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }.mkString("\"", "", "\"")

  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null"
    else if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString
    else x.toString
}
