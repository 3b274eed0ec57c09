package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.graft.ColumnBridge

/** The diagnostic entry point: `runMain graft.Probe <mode> ...` runs
  * declared queries over the testdata directory `SPARK_GRAFT_SF_DIR` in
  * graft.Bench's session shape ([[Session.bench]]) through Bench's
  * noop sink, so its numbers reproduce the bench. Tooling, not engine
  * surface — not part of the driver contract.
  *  - `time q…`: one warmup, then the median of 3 per query;
  *  - `jobs q…`: after one warmup, every Spark job one run launches,
  *    with its call site and wall time;
  *  - `census [prefix]`: one warmup over the oracle-checked queries
  *    whose name starts with `prefix`, then per query seconds, jobs,
  *    stages, tasks and summed task seconds — at sf0.1 most queries
  *    sit near the per-job floor, so job COUNT is the first thing to
  *    read;
  *  - `plan q… [--out <prefix>]`: the executed plan, or the formatted
  *    explain written to `<prefix><query>.txt`. */
object Probe {
  final case class Job(id: Int, sec: Double, site: String)
  final case class Run(sec: Double, jobs: Seq[Job], stages: Int,
                       tasks: Int, taskSec: Double)

  /** Materializes `df` without EliminateSorts dropping a final ORDER BY
    * (which a `.count()` would allow). */
  def exec(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** Wall seconds of `f`, NEGATED if it throws — a failure never
    * masquerades as a fast success. */
  def timed(f: => Unit): Double = {
    val t0 = System.nanoTime()
    val ok = try { f; true } catch { case _: Throwable => false }
    val sec = (System.nanoTime() - t0) / 1e9
    if (ok) sec else -sec
  }

  private def run(spark: SparkSession, sfDir: String, name: String): Unit =
    exec(SparkEntry.queries(name)(spark, sfDir))

  /** Wall seconds of three runs of `name`, after one warmup run. */
  def time(spark: SparkSession, sfDir: String, name: String): Seq[Double] = {
    run(spark, sfDir, name)
    Seq.fill(3)(timed(run(spark, sfDir, name)))
  }

  /** Runs `f` under a listener: its wall seconds (negated if it threw)
    * and every job, stage and task it launched. */
  def record(spark: SparkSession)(f: => Unit): Run = {
    val starts = new ConcurrentHashMap[Int, (Long, String)]()
    val jobs = new ConcurrentLinkedQueue[Job]()
    val (stages, tasks, taskMs) =
      (new AtomicInteger, new AtomicInteger, new AtomicLong)
    val listener = new SparkListener {
      // the result stage (highest id) is named after the job's call site
      override def onJobStart(j: SparkListenerJobStart): Unit =
        starts.put(j.jobId, (j.time,
          j.stageInfos.maxByOption(_.stageId).fold("?")(_.name)))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(starts.remove(e.jobId)).foreach { case (t0, site) =>
          jobs.add(Job(e.jobId, (e.time - t0) / 1e3, site))
        }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet(): Unit
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskInfo != null) taskMs.addAndGet(t.taskInfo.duration): Unit
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val sec = timed(f)
      ColumnBridge.drainListeners(spark)
      Run(sec, jobs.asScala.toSeq.sortBy(_.id), stages.get, tasks.get,
        taskMs.get / 1e3)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** The executed plan of one run of `name`, or (`formatted`) its
    * `explain("formatted")` text without running it. */
  def plan(spark: SparkSession, sfDir: String, name: String,
           formatted: Boolean): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    if (formatted) df.queryExecution.explainString(FormattedMode)
    else { exec(df); df.queryExecution.executedPlan.toString }
  }

  def main(args: Array[String]): Unit = {
    val usage = "usage: SPARK_GRAFT_SF_DIR=<testdata dir> " +
      "Probe <time|jobs|census|plan> [query... | prefix] [--out <prefix>]"
    require(args.nonEmpty && sys.env.contains("SPARK_GRAFT_SF_DIR"), usage)
    val (names, outArgs) = args.toSeq.tail.span(_ != "--out")
    val out = outArgs.drop(1).headOption
    require(outArgs.isEmpty || out.nonEmpty, usage)
    val sfDir = sys.env("SPARK_GRAFT_SF_DIR")
    val spark = Session.start(Session.bench(sfDir, Session.cpus))
    try args(0) match {
      case "time" => names.foreach { n =>
        val ts = time(spark, sfDir, n)
        println(f"$n%-28s median ${ts.sorted.apply(1)}%.3f s  (${ts.map(t => f"$t%.3f").mkString(", ")})")
      }
      case "jobs" => names.foreach { n =>
        run(spark, sfDir, n)
        val r = record(spark)(run(spark, sfDir, n))
        println(s"== $n ==")
        r.jobs.foreach(j => println(f"  job ${j.id}%4d ${j.sec}%7.3f s  ${j.site}"))
        println(f"TOTAL ${r.sec}%.2f s  ${r.jobs.size} jobs")
      }
      case "census" =>
        val prefix = names.headOption.getOrElse("")
        val qs = SparkEntry.oracleSql.keys.filter(_.startsWith(prefix)).toSeq.sorted
        // warmup; a query that throws shows negated seconds below
        qs.foreach(n => timed(run(spark, sfDir, n)))
        println(f"${"query"}%-28s ${"sec"}%7s ${"jobs"}%5s ${"stages"}%6s ${"tasks"}%6s ${"taskSec"}%8s")
        val runs = qs.map { n =>
          val r = record(spark)(run(spark, sfDir, n))
          println(f"$n%-28s ${r.sec}%7.2f ${r.jobs.size}%5d ${r.stages}%6d ${r.tasks}%6d ${r.taskSec}%8.2f")
          r
        }
        println(f"TOTAL ${runs.map(r => math.abs(r.sec)).sum}%7.2f s  ${runs.map(_.jobs.size).sum}%5d jobs  (${runs.size} queries)")
      case "plan" => names.foreach { n =>
        out match {
          case Some(prefix) => java.nio.file.Files.writeString(
            java.nio.file.Path.of(s"$prefix$n.txt"),
            plan(spark, sfDir, n, formatted = true))
          case None =>
            println(s"=== $n executed plan ===")
            println(plan(spark, sfDir, n, formatted = false))
        }
      }
      case m => throw new IllegalArgumentException(s"unknown mode '$m'; $usage")
    } finally spark.stop()
  }
}
