package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.Paths

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData
import org.apache.spark.sql.SparkSession

/** One benchmark run: builds a session, makes the workload's inputs from
  * the seed and runs a warm-up pass (the set-up), then runs the passes
  * that fill `seconds` at the workload's nominal pass time, at least one,
  * and prints one JSON result line as the last line of standard output.
  *
  * Usage: perfbench.Main --workload capstone|curation_lakehouse|curation|
  *   lakehouse --seed N --seconds S --trace 0|1 [--size default|tiny]
  *   [--work DIR] [--spans FILE] [--wrong-expected] */
object Main {
  /** Calls each workload may make, as `<layer>.<call>`; per-layer output
    * carries `.s` (self seconds a pass) and `.jobs` for each. */
  val Calls = Seq(
    "pipelines.split", "pipelines.popularity_grid", "pipelines.movie_twins",
    "pipelines.twin_correlation", "pipelines.curate",
    "ml.als_fit", "ml.als_predict", "ml.ranking_metrics",
    "dedup.exact", "dedup.minhash_pairs", "dedup.components",
    "dedup.embedding_pairs", "similarity.cosine_topk",
    "sources.append", "sources.merge", "sources.delete_mor",
    "sources.delete_cow", "sources.compact", "sources.mv_create",
    "sources.mv_refresh", "sources.mv_read", "sources.point_read",
    "sources.scan")

  val EngineCounters = Seq("spark.jobs", "spark.stages", "spark.tasks",
    "spark.task_run_s", "spark.task_cpu_s", "spark.task_deser_s",
    "spark.sched_delay_s", "spark.gc_s", "spark.shuffle_write_mb",
    "spark.shuffle_read_mb", "spark.spill_mb", "spark.input_mb",
    "spark.result_mb", "spark.tasks_failed")

  /** Per-layer values only some workloads produce; 0 where not. */
  val WorkloadValues = Seq("commit_s_p50", "commit_s_p90",
    "point_read_s_p50", "point_read_s_p90", "scan_s_p50",
    "mv_refresh_s_p50", "write_amp", "space_amp",
    "sources.point_read.files_scanned_frac", "sources.files_live",
    "sources.bytes_written_mb", "als_ndcg100", "pop_ndcg100", "dup_recall")

  /** The session settings of `graft.Bench` at these input sizes: its
    * shuffle-partition formula max(8, min(cpus, input/64 MiB)) gives 8,
    * and adaptive execution is off below 1 GiB of input. */
  def buildSession(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", (128L << 20).toString)
      .config("spark.sql.files.openCostInBytes", (4L << 20).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftExtensions.register(spark)
    spark
  }

  /** Largest heap occupancy right after a collection, while `on`. */
  object HeapPeak {
    @volatile var on = false
    @volatile var peakBytes = 0L
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getName).toSet
    def install(): Unit =
      ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
        case e: NotificationEmitter => e.addNotificationListener(
          (n: Notification, _: Any) =>
            if (on && n.getType ==
                GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val info = GarbageCollectionNotificationInfo.from(
                n.getUserData.asInstanceOf[CompositeData])
              val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
                .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
              synchronized { peakBytes = math.max(peakBytes, used) }
            }, null, null)
        case _ => ()
      }
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k -> v
    }.toMap
    def opt(k: String) = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    val workload = opt("--workload")
    val seed = opt("--seed").toLong
    val seconds = opt("--seconds").toDouble
    val trace = opt("--trace") == "1"
    val size = opts.getOrElse("--size", "default")
    val wrongExpected = args.contains("--wrong-expected")
    val work = Paths.get(opts.getOrElse("--work",
      s".bench_build/work/$workload-${ProcessHandle.current().pid()}"))
      .toAbsolutePath.toString
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors())
    val jvmStartNs = System.nanoTime() -
      (System.currentTimeMillis() -
        ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
    HeapPeak.install()

    val checks = new Checks
    var spark: SparkSession = null
    var w: Workload = null
    var tracer: Tracer = null
    var passNo = 0
    // passes, warm-up included, that threw outside any timed call, where
    // no failed call span records the failure
    var passesThrown = 0
    def since(t0: Long) = (System.nanoTime() - t0) / 1e9
    def failedCalls = tracer.spans.count(s => s.parent >= 0 && s.failed)
    def runPass(traced: Boolean): Option[Span] = {
      checks.pass = passNo
      passNo += 1
      val failedBefore = failedCalls
      try Some(tracer.pass(passNo - 1, traced)(
        w.pass(spark, tracer, checks, passNo - 1)))
      catch { case e: Exception =>
        System.err.println(s"[perfbench] pass ${passNo - 1} failed: $e")
        e.printStackTrace()
        if (failedCalls == failedBefore) passesThrown += 1
        None
      }
    }

    try {
      // set-up, from JVM start: session, inputs and one warm-up pass
      spark = buildSession(cpus, work)
      val buildS = since(jvmStartNs)
      System.err.println("[perfbench] session: " + spark.conf.getAll.toSeq
        .filter { case (k, _) => k.startsWith("spark.sql.") ||
          k == "spark.master" || k == "spark.ui.enabled" }
        .sorted.map { case (k, v) => s"$k=$v" }.mkString(" ") +
        s" heap_max_mb=${Runtime.getRuntime.maxMemory >> 20}")
      val i0 = System.nanoTime()
      w = Workload(workload, seed, size, work, wrongExpected)
      val summary = w.prepare(spark)
      val inputsS = since(i0)
      tracer = new Tracer(spark, workload)
      val w0 = System.nanoTime()
      runPass(traced = false)
      val warmupS = since(w0)
      val setupS = since(jvmStartNs)
      System.err.println(f"[perfbench] set-up: $setupS%.3f s ($summary)")

      w.startMeasuring()
      HeapPeak.on = true
      val measured = mutable.ArrayBuffer.empty[Span]
      // a traced run needs one traced and one untraced pass
      val passes = math.max(if (trace) 2 else 1,
        math.ceil(seconds / w.nominalPassS).toInt)
      for (i <- 0 until passes) {
        // a traced run alternates traced and untraced passes, so the
        // tracing overhead is measured in the same run
        runPass(traced = trace && i % 2 == 0).foreach(measured += _)
      }
      HeapPeak.on = false

      val attempted = tracer.spans.count(_.parent >= 0)
      val failed = failedCalls + passesThrown + checks.wrong
      val passIds = measured.map(_.id).toSet
      val callsOf: Map[Int, Seq[Span]] = tracer.spans.toSeq
        .filter(s => passIds(s.parent)).groupBy(_.parent)
      val metrics: Seq[(String, Double, String)] =
        if (!trace)
          Seq(("setup_s", setupS, "s"),
            ("pass_s", Stats.median(measured.map(_.seconds).toSeq), "s"))
        else {
          val (traced, plain) = measured.partition(_.traced)
          def perPass(f: (Span, Seq[Span]) => Double) =
            Stats.median(traced.map(p => f(p, callsOf.getOrElse(p.id, Nil))).toSeq)
          val childrenOf = tracer.spans.toSeq.groupBy(_.parent)
          def self(s: Span) =
            Tracer.selfSeconds(s, childrenOf.getOrElse(s.id, Nil))
          val calls = Calls.flatMap { name =>
            Seq((s"$name.s", perPass((_, cs) =>
                cs.filter(_.name == name).map(self).sum), "s"),
              (s"$name.jobs", perPass((_, cs) =>
                cs.filter(_.name == name).map(_.counters("spark.jobs")).sum),
                "count"))
          }
          val engine = EngineCounters.map { k =>
            (k, perPass((p, cs) => (p +: cs).map(_.counters(k)).sum),
              if (k.endsWith("_s")) "s" else if (k.endsWith("_mb")) "MB"
              else "count")
          }
          val outside = ("spark.outside_jobs_s", perPass((_, cs) =>
            cs.map(s => Tracer.outsideJobsSeconds(s, self(s))).sum), "s")
          val tracedPass = Stats.median(traced.map(_.seconds).toSeq)
          val plainPass = Stats.median(plain.map(_.seconds).toSeq)
          val extra = w.layerValues
          Seq(("session.build_s", buildS, "s"),
            ("session.inputs_s", inputsS, "s"),
            ("session.warmup_s", warmupS, "s")) ++
            calls ++ engine ++ Seq(outside) ++
            WorkloadValues.map(k => (k, extra.getOrElse(k, 0.0),
              if (k.endsWith("_s_p50") || k.endsWith("_s_p90")) "s"
              else if (k.endsWith("_mb")) "MB"
              else if (k == "sources.files_live") "count" else "ratio")) ++
            Seq(("failed_frac", failed.toDouble / math.max(1, attempted), "ratio"),
              ("jvm.heap_peak_mb", HeapPeak.peakBytes / (1024.0 * 1024.0), "MB"),
              ("trace.pass_s", tracedPass, "s"),
              ("trace.untraced_pass_s", plainPass, "s"),
              ("trace.overhead_s", tracedPass - plainPass, "s"),
              ("trace.calls_cover_frac", perPass((p, cs) =>
                cs.map(self).sum / p.seconds), "ratio"))
        }

      if (trace) {
        opts.get("--spans").foreach(p => tracer.writeSpans(Paths.get(p)))
        System.err.println(f"[perfbench] per-layer, median of ${
          measured.count(_.traced)} traced passes:")
        metrics.filter(_._2 != 0.0).foreach { case (k, v, u) =>
          System.err.println(f"  $k%-42s ${Json.num(v)} $u") }
      }
      System.err.println(s"[perfbench] $workload seed=$seed cpus=$cpus " +
        s"passes=${measured.size} attempted=$attempted failed=$failed " +
        "pass_s=" + measured.map(s => "%.3f".format(s.seconds)).mkString(","))
      val ok = failed == 0 && measured.nonEmpty
      val body = metrics.map { case (k, v, u) =>
        s""""$k":{"value":${Json.num(v)},"unit":"$u"}""" }.mkString(",")
      println(s"""{"correct":$ok,"attempted":$attempted,"failed":$failed,"metrics":{$body}}""")
    } finally {
      if (spark != null) {
        if (w != null) w.cleanup(spark)
        spark.stop()
      }
    }
  }
}
