package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark workload: seeded inputs made once per session, then
  * repeated passes of calls into the program, each output checked. */
trait Workload {
  /** Makes and caches the inputs for `spark`; returns a short summary of
    * their sizes for the log. */
  def prepare(spark: SparkSession): String

  /** One full pass. Every call into the program goes through `t.call`;
    * every output check goes through `c`. */
  def pass(spark: SparkSession, t: Tracer, c: Checks, n: Int): Unit

  /** A warm pass's wall time on 4 cores. A run makes ceil(seconds / this)
    * measured passes, so the pass count does not depend on how fast the
    * program under test is: a faster build must not earn extra JIT
    * warm-up inside the same run. */
  def nominalPassS: Double

  /** Called once the warm-up pass is done. */
  def startMeasuring(): Unit = ()

  /** Workload-specific per-layer values of the measured passes. */
  def layerValues: Map[String, Double] = Map.empty

  /** Releases what [[prepare]] cached and deletes scratch directories. */
  def cleanup(spark: SparkSession): Unit = ()
}

object Workload {
  def apply(name: String, seed: Long, size: String, work: String,
            wrongExpected: Boolean): Workload = name match {
    case "capstone" => new Capstone(seed, size == "tiny", wrongExpected)
    case "curation" => new Curation(seed, size == "tiny", wrongExpected)
    case "lakehouse" =>
      new Lakehouse(seed, size == "tiny", wrongExpected, work)
    case "curation_lakehouse" => new Composite(Seq(
      apply("curation", seed, size, work, wrongExpected),
      apply("lakehouse", seed, size, work, wrongExpected)))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Runs its parts one after another in each pass. */
final class Composite(parts: Seq[Workload]) extends Workload {
  def nominalPassS: Double = parts.map(_.nominalPassS).sum
  def prepare(spark: SparkSession): String =
    parts.map(_.prepare(spark)).mkString(" ")
  def pass(spark: SparkSession, t: Tracer, c: Checks, n: Int): Unit =
    parts.foreach(_.pass(spark, t, c, n))
  override def startMeasuring(): Unit = parts.foreach(_.startMeasuring())
  override def layerValues: Map[String, Double] =
    parts.map(_.layerValues).reduce(_ ++ _)
  override def cleanup(spark: SparkSession): Unit = parts.foreach(_.cleanup(spark))
}

/** Output checks. A failed check marks the call it names as wrong; a
  * call counts once however many of its checks fail. `same` requires a
  * value to repeat exactly on every pass of the run. */
final class Checks {
  private val seen = mutable.Map.empty[String, Any]
  private val wrongCalls = mutable.Set.empty[(Int, String)]
  var pass = 0

  def wrong: Int = wrongCalls.size

  def check(call: String, ok: Boolean, what: => String): Unit =
    if (!ok) {
      wrongCalls += ((pass, call))
      System.err.println(s"[perfbench] WRONG pass $pass $call: $what")
    }

  def same(call: String, key: String, v: Any): Unit =
    seen.get(key) match {
      case None => seen(key) = v
      case Some(prev) =>
        check(call, prev == v, s"$key changed from $prev to $v")
    }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else java.math.BigDecimal.valueOf(v).toPlainString
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      // linear interpolation between closest ranks
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
