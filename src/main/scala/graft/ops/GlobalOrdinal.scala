package graft.ops

import java.util.concurrent.atomic.AtomicReference
import scala.concurrent.Await
import scala.concurrent.duration.Duration
import scala.util.Failure
import org.apache.spark.FutureAction
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The two primitives the engine's scale-safe operators share.
  *
  *  - [[prefix]]: a GLOBAL running sum (row rank, token offset, rank
  *    mass) without an `Exchange SinglePartition` window. A monotone
  *    bucket cuts the order into ranges; one aggregate collects each
  *    bucket's mass (bounded by the bucket space, never data volume);
  *    the driver prefix-sums them; the offsets rejoin as a broadcast
  *    local relation; and a window partitioned by bucket adds the
  *    in-bucket part. No plan node holds more than one bucket in one
  *    partition.
  *  - [[collectUpTo]]: the driver-or-distributed switch. One Spark job
  *    returns the whole input when it is small enough to finish on
  *    the driver, else `None` — the strategy is picked from a runtime
  *    observation, not an estimate (Shark's partial DAG execution).
  */
object GlobalOrdinal {

  /** The row bound of every driver fast path that collects its input
    * (union-find, PageRank, redirect chains, line-dedup broadcast):
    * 500k rows ≈ 8–12 MB of longs, the broadcast-join ballpark. */
  val DriverRowCap: Long = 500000L

  /** One global order: `bucket` is an integral column MONOTONE in the
    * order (bucket order is range order, and equal keys share a
    * bucket), `order` sorts rows within a bucket. [[prefix]] writes
    * the exclusive running sum to column `name`. */
  final case class Ordinal(name: String, bucket: Column, order: Seq[Column])

  /** `df` plus one long column per ordinal: the sum of `mass` (an
    * integral column; nulls count 0) over every row strictly before
    * this one in that order. Ties in `order` split arbitrarily, so
    * callers end it with a unique key. Every ordinal's histogram
    * comes from ONE aggregate (an eager job; with several ordinals
    * the rows explode into (ordinal, bucket) tags first). Also
    * returns each ordinal's total mass. */
  def prefix(df: DataFrame, ordinals: Seq[Ordinal], mass: Column)
      : (DataFrame, Seq[Long]) = {
    val spark = df.sparkSession
    import spark.implicits._
    val bkt = ordinals.indices.map(i => s"__bkt$i")
    val based = df.select(col("*") +: ordinals.zip(bkt).map {
      case (o, b) => o.bucket.cast("long").as(b) }: _*)
    val tags = bkt.zipWithIndex.map { case (b, i) =>
      struct(lit(i).as("i"), col(b).as("b")) }
    val hist = based
      .select((if (tags.size == 1) tags.head else explode(array(tags: _*)))
        .as("x"), mass.as("m"))
      .groupBy(col("x.i"), col("x.b")).agg(sum(col("m")))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1),
        if (r.isNullAt(2)) 0L else r.getAs[Number](2).longValue))
    val sums = ordinals.indices.map { i =>
      var acc = 0L
      val offs = hist.filter(_._1 == i).sortBy(_._2)
        .map { case (_, b, m) => val o = (b, acc); acc += m; o }
      (offs.toSeq.toDF(bkt(i), s"__boff$i"), acc)
    }
    val local = ordinals.zipWithIndex.foldLeft(based) { case (d, (o, i)) =>
      d.withColumn(s"__local$i", coalesce(sum(mass).over(
        Window.partitionBy(col(bkt(i))).orderBy(o.order: _*)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    }
    val out = ordinals.zipWithIndex.foldLeft(local) { case (d, (o, i)) =>
      d.join(broadcast(sums(i)._1), Seq(bkt(i)))
        .withColumn(o.name,
          (col(s"__boff$i") + col(s"__local$i")).cast("long"))
        .drop(bkt(i), s"__boff$i", s"__local$i")
    }
    (out, sums.map(_._2))
  }

  /** A [[prefix]] bucket for numeric `key`: approx quantiles of `key`
    * (one eager job) cut `df` into balanced ranges — 4 per input
    * partition, at least 8, so the count grows with the data while
    * each extra bucket only adds a branch to the boundary chain.
    * Bucketing only PLACES rows, so any monotone cut is exact. NaN
    * keys sort last in Spark and take the top bucket; null keys sort
    * first and take bucket 0. */
  def quantileBucket(df: DataFrame, key: Column): Column = {
    val n = math.max(8, df.rdd.getNumPartitions * 4)
    val k = key.cast("double")
    val bounds = df.select(k.as("__q")).stat
      .approxQuantile("__q", (1 until n).map(_.toDouble / n).toArray, 0.01)
      .distinct.filterNot(_.isNaN)
    when(isnan(k), lit(bounds.length + 1)).otherwise(
      bounds.foldLeft(lit(0)) { (acc, b) =>
        acc + when(k > lit(b), 1).otherwise(0) })
  }

  /** Every row of `df` (in partition order) when it has at most `cap`
    * rows, else `None` — in ONE Spark job, cached or not: each task
    * returns at most `cap + 1` rows, and once the running total
    * passes `cap` the driver drops what it holds and cancels the rest
    * of the job, so an over-cap input ships little more than one
    * task's rows per running task. (A `limit(cap + 1).collect()`
    * scans 1, then 4, then the remaining partitions — up to 3 jobs;
    * `limit(cap + 1).rdd` is one job through an
    * `Exchange SinglePartition`.) On a cached frame under the cap the
    * job builds the whole cache; over it, the fallback's first read
    * builds the partitions the cancelled job left. */
  def collectUpTo(df: DataFrame, cap: Long): Option[Array[Row]] = {
    require(cap >= 0L, s"cap must be >= 0, got $cap")
    val take = math.min(cap, Int.MaxValue - 1L).toInt + 1
    val rdd = df.rdd
    val parts = new Array[Array[Row]](rdd.getNumPartitions)
    @volatile var total = 0L // written only by the result handler
    val job = new AtomicReference[FutureAction[Unit]]()
    def over = total > cap
    job.set(df.sparkSession.sparkContext.submitJob(rdd,
      (it: Iterator[Row]) => it.take(take).toArray, parts.indices,
      (i: Int, rows: Array[Row]) => if (!over) {
        total += rows.length
        if (!over) parts(i) = rows
        else {
          parts.indices.foreach(parts(_) = null)
          Option(job.get).foreach(_.cancel())
        }
      }, ()))
    if (over) job.get.cancel() // the handler overflowed before `set`
    Await.ready(job.get, Duration.Inf).value.get match {
      case Failure(e) if !over => throw e
      case _ => if (over) None else Some(parts.flatten)
    }
  }
}
