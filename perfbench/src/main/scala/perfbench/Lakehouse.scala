package perfbench

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Materialized, Snapshot}

final case class Order(o_orderkey: Long, o_custkey: Long,
                       o_orderstatus: String, o_totalprice: Double,
                       o_orderdate: Timestamp, o_orderpriority: String)

/** One commit of a lakehouse pass, named by the call it makes. */
sealed trait Op {
  def name: String
  /** Commits this change to the snapshot table at `table`. */
  def commit(spark: SparkSession, table: String): Unit
  /** Makes the same change to the benchmark's model of the table. */
  def applyTo(model: mutable.Map[Long, Order]): Unit
}
final case class Append(rows: Seq[Order]) extends Op {
  val name = "sources.append"
  def commit(spark: SparkSession, table: String): Unit = {
    import spark.implicits._
    Snapshot.append(rows.toDF(), table,
      statsCols = Seq("o_orderkey"), bloomCols = Seq("o_orderkey"))
  }
  def applyTo(model: mutable.Map[Long, Order]): Unit =
    rows.foreach(o => model(o.o_orderkey) = o)
}
final case class Merge(rows: Seq[Order]) extends Op {
  val name = "sources.merge"
  def commit(spark: SparkSession, table: String): Unit = {
    import spark.implicits._
    Snapshot.merge(rows.toDF(), table, "o_orderkey")
  }
  def applyTo(model: mutable.Map[Long, Order]): Unit =
    rows.foreach(o => model(o.o_orderkey) = o)
}
final case class DeleteMor(keys: Seq[Long]) extends Op {
  val name = "sources.delete_mor"
  def commit(spark: SparkSession, table: String): Unit = {
    import spark.implicits._
    Snapshot.deleteKeysMor(keys.toDF("o_orderkey"), table)
  }
  def applyTo(model: mutable.Map[Long, Order]): Unit =
    keys.foreach(model.remove)
}

/** Writes and reads interleaved on one `sources` snapshot table keyed on
  * `o_orderkey`, in the testdata `orders` shape, with an incrementally
  * maintained aggregate view over it. Each pass starts from empty
  * directories and commits the same seeded batches: an append (stats and
  * a Bloom filter on the key), a merge (updates plus new rows) and a
  * merge-on-read key delete, with 3 point reads and one full scan after
  * every commit and the view created after the first commit; then one
  * copy-on-write delete, a compaction and one refresh of the view. A
  * refresh is 12-15 Spark jobs, about 2.5 s on 4 cores, so the view is
  * refreshed once a pass rather than after every commit, to keep a run
  * inside the benchmark's time budget. Every read and the view are checked against a model the
  * benchmark keeps in driver memory. Many small jobs and driver metadata
  * work. */
final class Lakehouse(seed: Long, tiny: Boolean, wrongExpected: Boolean,
                      work: String) extends Workload {
  private val (batchRows, mergeUpdates, deleteKeys) =
    if (tiny) (200, 20, 20) else (1500, 200, 200)
  private val statuses = Seq("F", "O", "P")
  val nominalPassS = 9.0
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")

  private var ops: Seq[(Op, Seq[Long])] = Nil // each with its probe keys
  private val cowCut = 100000.0
  private def cowDeletes(o: Order) =
    o.o_orderstatus == "P" && o.o_totalprice < cowCut
  private val lake = Paths.get(work, "lake")
  private val commitTimes = mutable.ArrayBuffer.empty[Double]
  private val pointTimes = mutable.ArrayBuffer.empty[Double]
  private val scanTimes = mutable.ArrayBuffer.empty[Double]
  private val refreshTimes = mutable.ArrayBuffer.empty[Double]
  private val scannedFrac = mutable.ArrayBuffer.empty[Double]
  // the table at the end of the last pass
  private var filesLive = 0
  private var liveBytes = 0L
  private var writtenBytes = 0L

  def prepare(spark: SparkSession): String = {
    val rnd = new scala.util.Random(seed)
    val day0 = Timestamp.valueOf("1992-01-01 00:00:00").getTime
    var nextKey = 0L
    def order(key: Long): Order = Order(key, rnd.nextInt(15000).toLong,
      statuses(rnd.nextInt(3)), (rnd.nextInt(50000000) + 100000) / 100.0,
      new Timestamp(day0 + rnd.nextInt(2500) * 86400000L),
      priorities(rnd.nextInt(5)))
    def fresh(n: Int): Seq[Order] = Seq.fill(n) {
      // keys spread over a sparse range, so every file's min/max
      // overlaps every probe and point reads lean on the Bloom filters
      nextKey += 1 + rnd.nextInt(7); order(nextKey) }
    val model = mutable.LinkedHashMap.empty[Long, Order]
    def withProbes(op: Op): (Op, Seq[Long]) = {
      op.applyTo(model)
      val live = model.keys.toIndexedSeq
      // a live key, a key that is not in the table, and a random one
      val probes = Seq(live(rnd.nextInt(live.size)), nextKey + 1 + rnd.nextInt(99),
        rnd.nextInt(nextKey.toInt + 1).toLong)
      (op, probes)
    }
    // built one after another: each op draws from the model the ones
    // before it left
    ops = Seq(
      withProbes(Append(fresh(batchRows))),
      withProbes(Merge(rnd.shuffle(model.keys.toSeq).take(mergeUpdates)
        .map(k => order(k)) ++ fresh(batchRows))),
      withProbes(DeleteMor(rnd.shuffle(model.keys.toSeq).take(deleteKeys))))
    model.filterInPlace { case (_, o) => !cowDeletes(o) }

    this.spark = spark
    finalLive = model.values.toSeq
    s"commits=${ops.size} batch_rows=$batchRows final_live_rows=${model.size}"
  }

  // write amplification's denominators: the committed batches and the
  // final live rows, each written once as plain parquet; only the traced
  // run reports the amplifications, so only it pays for these writes
  private var spark: SparkSession = _
  private var finalLive: Seq[Order] = Nil
  private lazy val (plainBatchBytes, plainLiveBytes) = {
    val s = spark
    import s.implicits._
    def plainBytes(dfs: Seq[DataFrame], name: String): Long = {
      val dir = lake.resolve(name)
      dfs.zipWithIndex.foreach { case (df, i) =>
        df.coalesce(1).write.parquet(dir.resolve(i.toString).toString) }
      try dirBytes(dir) finally deleteTree(dir)
    }
    (plainBytes(ops.collect {
      case (Append(rs), _) => rs.toDF()
      case (Merge(rs), _) => rs.toDF()
    }, "plain-batches"), plainBytes(Seq(finalLive.toDF()), "plain-live"))
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  private def timed[T](into: mutable.ArrayBuffer[Double])(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally into += (System.nanoTime() - t0) / 1e9
  }

  private def asOrder(r: Row): Order = Order(r.getLong(0), r.getLong(1),
    r.getString(2), r.getDouble(3), r.getTimestamp(4), r.getString(5))
  private val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority").map(col)

  def pass(spark: SparkSession, t: Tracer, c: Checks, n: Int): Unit = {
    deleteTree(lake.resolve(s"p${n - 1}"))
    val root = lake.resolve(s"p$n")
    val table = root.resolve("orders").toString
    val mv = root.resolve("mv").toString
    val model = mutable.Map.empty[Long, Order]

    def verify(after: String, probes: Seq[Long]): Unit = {
      val rows = timed(scanTimes)(t.call("sources.scan") {
        Snapshot.read(spark, table).select(cols: _*).collect()
      }).map(asOrder)
      val expectedRows = model.size + (if (wrongExpected) 1 else 0)
      c.check("sources.scan", rows.length == expectedRows &&
        rows.forall(o => model.get(o.o_orderkey).contains(o)),
        s"scan after $after: ${rows.length} rows, model $expectedRows")
      probes.foreach { k =>
        val got = timed(pointTimes)(t.call("sources.point_read") {
          Snapshot.readEquals(spark, table, "o_orderkey", k)
            .select(cols: _*).collect()
        }).map(asOrder).toSeq
        c.check("sources.point_read", got == model.get(k).toSeq,
          s"point read $k after $after: $got, model ${model.get(k)}")
        if (t.isTraced) {
          val (all, kept) = Snapshot.equalsPruneCount(spark, table,
            "o_orderkey", k)
          scannedFrac += kept.toDouble / math.max(1, all)
        }
      }
    }

    def verifyView(after: String): Unit = {
      val got = t.call("sources.mv_read") {
        Materialized.read(spark, mv).select(col("o_orderstatus"),
          col("o_orderpriority"), col("n_rows"), col("sum_o_totalprice"))
          .collect()
      }.map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
      val want = model.values.groupBy(o => (o.o_orderstatus, o.o_orderpriority))
        .map { case (g, os) => g -> (os.size.toLong, os.map(_.o_totalprice).sum) }
      c.check("sources.mv_read", got.keySet == want.keySet &&
        want.forall { case (g, (cnt, sum)) =>
          got(g)._1 == cnt && math.abs(got(g)._2 - sum) <= 1e-6 * (1 + sum) },
        s"view after $after differs from model")
    }

    def refresh(after: String): Unit = {
      timed(refreshTimes)(t.call("sources.mv_refresh") {
        Materialized.refresh(spark, table, mv) })
      verifyView(after)
    }

    ops.zipWithIndex.foreach { case ((op, probes), i) =>
      timed(commitTimes)(t.call(op.name)(op.commit(spark, table)))
      op.applyTo(model)
      verify(s"commit $i", probes)
      if (i == 0) t.call("sources.mv_create") {
        Materialized.create(spark, table, mv,
          Seq("o_orderstatus", "o_orderpriority"), Seq("o_totalprice"))
      }
    }
    val lastProbes = ops.last._2
    timed(commitTimes)(t.call("sources.delete_cow") {
      Snapshot.deleteWhere(spark, table,
        col("o_orderstatus") === "P" && col("o_totalprice") < cowCut)
    })
    model.filterInPlace { case (_, o) => !cowDeletes(o) }
    verify("copy-on-write delete", lastProbes)
    timed(commitTimes)(t.call("sources.compact") {
      Snapshot.compact(spark, table) })
    verify("compaction", lastProbes)
    refresh("compaction")

    val head = Snapshot.latestVersion(spark, table).flatMap(v =>
      Snapshot.readManifest(spark, table, v)).get
    filesLive = head.files.size
    liveBytes = head.files.map(_.bytes).sum
    writtenBytes = dirBytes(root)
  }

  override def layerValues: Map[String, Double] = {
    def q(xs: Seq[Double], p: Double) = Stats.quantile(xs.toSeq, p)
    Map("sources.files_live" -> filesLive.toDouble,
      "sources.bytes_written_mb" -> writtenBytes / (1024.0 * 1024.0),
      "write_amp" -> writtenBytes.toDouble / plainBatchBytes,
      "space_amp" -> liveBytes.toDouble / plainLiveBytes,
      "commit_s_p50" -> q(commitTimes.toSeq, 0.5),
      "commit_s_p90" -> q(commitTimes.toSeq, 0.9),
      "point_read_s_p50" -> q(pointTimes.toSeq, 0.5),
      "point_read_s_p90" -> q(pointTimes.toSeq, 0.9),
      "scan_s_p50" -> q(scanTimes.toSeq, 0.5),
      "mv_refresh_s_p50" -> q(refreshTimes.toSeq, 0.5),
      "sources.point_read.files_scanned_frac" ->
        (if (scannedFrac.isEmpty) 0.0 else scannedFrac.sum / scannedFrac.size))
  }

  override def startMeasuring(): Unit =
    Seq(commitTimes, pointTimes, scanTimes, refreshTimes, scannedFrac)
      .foreach(_.clear())

  override def cleanup(spark: SparkSession): Unit = deleteTree(lake)
}
