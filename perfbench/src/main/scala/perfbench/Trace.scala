package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed call. A pass is a root span (`parent` = -1); the calls of the
  * pass are its children. `counters` are the Spark engine totals of the
  * jobs submitted while this span was the innermost open one. */
final class Span(val id: Int, val parent: Int, val name: String,
                 val workload: String, val pass: Int, val traced: Boolean) {
  val startNs: Long = System.nanoTime()
  val startMs: Long = System.currentTimeMillis()
  var endNs: Long = 0L
  var endMs: Long = 0L
  var failed = false
  val counters: mutable.Map[String, Double] =
    mutable.Map.empty[String, Double].withDefaultValue(0.0)
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  def seconds: Double = (endNs - startNs) / 1e9
  def add(k: String, v: Double): Unit = synchronized { counters(k) += v }
}

/** Engine counters from the listener bus, attributed to the span whose id
  * rode on the job's local properties. */
final class EngineCounters(spans: ConcurrentHashMap[Int, Span])
    extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val jobStart = new ConcurrentHashMap[Int, (Span, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val id = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Tracer.SpanKey)))
    id.flatMap(i => Option(spans.get(i.toInt))).foreach { s =>
      s.add("spark.jobs", 1)
      e.stageIds.foreach(stageSpan.put(_, s))
      jobStart.put(e.jobId, (s, e.time))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (s, t0) =>
      s.synchronized { s.jobIntervals += ((t0, e.time)) }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach(_.add("spark.stages", 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { s =>
      s.add("spark.tasks", 1)
      if (e.reason != Success) s.add("spark.tasks_failed", 1)
      val m = e.taskMetrics
      if (m != null) {
        val mb = 1024.0 * 1024.0
        s.add("spark.task_run_s", m.executorRunTime / 1e3)
        s.add("spark.task_cpu_s", m.executorCpuTime / 1e9)
        s.add("spark.task_deser_s", m.executorDeserializeTime / 1e3)
        s.add("spark.gc_s", m.jvmGCTime / 1e3)
        s.add("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / mb)
        s.add("spark.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / mb)
        s.add("spark.spill_mb", m.diskBytesSpilled / mb)
        s.add("spark.input_mb", m.inputMetrics.bytesRead / mb)
        s.add("spark.result_mb", m.resultSize / mb)
        val i = e.taskInfo
        // the scheduler-delay formula of Spark's own UI
        s.add("spark.sched_delay_s", math.max(0L, i.duration -
          m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - i.gettingResultTime) / 1e3)
      }
    }
}

/** Times every call the benchmark makes into the program. With `traced`
  * off a call costs two clock reads; with it on, the call's id rides on
  * the Spark local properties so [[EngineCounters]] can attribute jobs,
  * stages and tasks to it. Spans stay in memory until [[writeSpans]]. */
final class Tracer(spark: SparkSession, val workload: String) {
  private val byId = new ConcurrentHashMap[Int, Span]()
  private val listener = new EngineCounters(byId)
  private var open: List[Span] = Nil
  private var nextId = 0
  val spans = mutable.ArrayBuffer.empty[Span]
  private var tracing = false
  def isTraced: Boolean = tracing

  private def start(name: String, pass: Int): Span = {
    val s = new Span(nextId, open.headOption.fold(-1)(_.id), name,
      workload, pass, tracing)
    nextId += 1
    spans += s
    if (tracing) {
      byId.put(s.id, s)
      spark.sparkContext.setLocalProperty(Tracer.SpanKey, s.id.toString)
    }
    open = s :: open
    s
  }

  private def end(s: Span): Unit = {
    s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
    open = open.tail
    if (tracing) spark.sparkContext.setLocalProperty(Tracer.SpanKey,
      open.headOption.map(_.id.toString).orNull)
  }

  /** Runs one pass as a root span; engine counters are collected for it
    * when `traced`. Returns the pass span. */
  def pass(n: Int, traced: Boolean)(body: => Unit): Span = {
    if (traced) spark.sparkContext.addSparkListener(listener)
    tracing = traced
    val s = start("pass", n)
    try body finally {
      end(s)
      if (traced) {
        PerfbenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
      tracing = false
    }
    s
  }

  /** Times `f` as the call `name` (`<layer>.<call>`) of the open pass. */
  def call[T](name: String)(f: => T): T = {
    val s = start(name, open.headOption.fold(-1)(_.pass))
    try f catch { case t: Throwable => s.failed = true; throw t }
    finally end(s)
  }

  /** Every span as one JSON line each. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.map { s =>
      val cs = s.counters.toSeq.sorted.map { case (k, v) =>
        s""""$k":${Json.num(v)}""" }
      (Seq(s""""id":${s.id}""", s""""parent":${s.parent}""",
        s""""name":"${s.name}"""", s""""workload":"${s.workload}"""",
        s""""pass":${s.pass}""", s""""traced":${s.traced}""",
        s""""start_ms":${s.startMs}""", s""""end_ms":${s.endMs}""",
        s""""seconds":${Json.num(s.seconds)}""",
        s""""failed":${s.failed}""") ++ cs).mkString("{", ",", "}")
    }
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** Span seconds minus the part its children cover. */
  def selfSeconds(s: Span, children: Seq[Span]): Double =
    s.seconds - children.map(_.seconds).sum

  /** Self time not covered by any of the span's own jobs. */
  def outsideJobsSeconds(s: Span, self: Double): Double = {
    val iv = s.jobIntervals.map { case (a, b) =>
      (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0.0, self - covered / 1e3)
  }
}
