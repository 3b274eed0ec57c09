package graft.ml

import graft.ops.GlobalOrdinal
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DataFrame-native binary-classification metrics — the evaluation
  * side of quality-classifier filtering ([[QualityModel]]), computed
  * without collecting scores to the driver.
  *
  * AUC-ROC via the Mann-Whitney rank-sum with midranks for ties:
  *   AUC = (Σ ranks(positives) − P(P+1)/2) / (P·N)
  * which equals the trapezoidal area under the tie-grouped ROC curve
  * (mllib's BinaryClassificationMetrics definition — cross-checked in
  * the spec).
  *
  * ==Determinism==
  * Doubled ranks are INTEGERS (midrank of a tie group = before +
  * (m+1)/2, so 2·rank = 2·before + m + 1), so every aggregate here
  * sums longs — order-free and engine-exact; the only float op is the
  * final division. The declared query's DuckDB twin replays the same
  * integer arithmetic.
  *
  * ==Scale==
  * One groupBy(score) then a prefix count over DISTINCT scores. The
  * prefix is distributed — quantile buckets + broadcast offsets
  * ([[graft.ops.GlobalOrdinal.prefix]]) — so no stage ever holds the
  * distinct-score table in one partition. Never a window over raw
  * rows.
  */
object BinaryMetricsDF {

  /** Reliability (calibration) bins — the audit a probability-
    * emitting quality filter needs before its scores gate a corpus:
    * "of the docs scored ~0.8, are ~80% actually positive?" Scores
    * in [0,1] land in `nBins` equal-width bins (left-closed;
    * score = 1.0 joins the top bin); per bin: row count, positive
    * count, mean score, and the empirical positive rate. The gap
    * between the last two columns IS the calibration error —
    * `Σ n/N · |rate − mean_score|` is ECE, computable from these rows
    * with one more aggregate ([[eceFromBins]]).
    *
    * One map (bin assignment) + one groupBy(bin) — no window, no
    * driver collect; integer sums plus two final divisions, so the
    * declared query's twin replays it exactly. NULL and out-of-range
    * scores are EXCLUDED (a probability outside [0,1] is a caller
    * bug a calibration table must not silently absorb — callers
    * clamp upstream if they mean to). */
  def calibrationBins(df: DataFrame, scoreCol: String,
                      labelCol: String, nBins: Int = 10): DataFrame = {
    require(nBins > 0, s"nBins must be positive: $nBins")
    val s = col(scoreCol).cast("double")
    df.select(s.as("s"), col(labelCol).cast("long").as("l"))
      .filter(col("s").isNotNull && col("s") >= 0.0 && col("s") <= 1.0)
      .withColumn("bin",
        least(floor(col("s") * nBins).cast("long"), lit(nBins - 1L)))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(col("l")).as("n_pos"),
        (sum(col("s")) / count(lit(1))).as("mean_score"),
        (sum(col("l")).cast("double") / count(lit(1)))
          .as("pos_rate"))
  }

  /** Threshold sweep — the operating-point table for choosing a
    * quality filter's cutoff: one row per candidate threshold with
    * the kept count, true positives, precision, recall, and the kept
    * FRACTION (what a corpus budget actually buys at that cutoff).
    * ONE pass over the data: every threshold is a conditional sum in
    * a single aggregate (map-side combined, single-row shuffle), then
    * the row explodes to the per-threshold table — never T scans.
    * NULL scores are excluded ([[aucROC]]'s rationale); precision is
    * 0.0 at thresholds keeping nothing. */
  def thresholdSweep(df: DataFrame, scoreCol: String, labelCol: String,
                     thresholds: Seq[Double]): DataFrame = {
    require(thresholds.nonEmpty, "need at least one threshold")
    val s = col("s"); val l = col("l")
    val base = df.select(col(scoreCol).cast("double").as("s"),
      col(labelCol).cast("long").as("l"))
      .filter(s.isNotNull)
    val aggs = thresholds.zipWithIndex.flatMap { case (t, i) =>
      Seq(sum(when(s >= t, 1L).otherwise(0L)).as(s"__k$i"),
        sum(when(s >= t && l === 1L, 1L).otherwise(0L)).as(s"__t$i"))
    } ++ Seq(sum(l).as("__pos"), count(lit(1)).as("__n"))
    val one = base.agg(aggs.head, aggs.tail: _*)
    val rows = array(thresholds.zipWithIndex.map { case (t, i) =>
      struct(lit(t).as("threshold"), col(s"__k$i").as("n_kept"),
        col(s"__t$i").as("n_tp"))
    }: _*)
    def ratio(num: Column, den: Column): Column =
      when(den === 0L, lit(0.0))
        .otherwise(num.cast("double") / den.cast("double"))
    one.select(explode(rows).as("r"), col("__pos"), col("__n"))
      .select(col("r.threshold").as("threshold"),
        col("r.n_kept").as("n_kept"), col("r.n_tp").as("n_tp"),
        ratio(col("r.n_tp"), col("r.n_kept")).as("precision"),
        ratio(col("r.n_tp"), col("__pos")).as("recall"),
        ratio(col("r.n_kept"), col("__n")).as("keep_frac"))
  }

  /** Expected calibration error from [[calibrationBins]] rows: the
    * bin-weighted mean |pos_rate − mean_score|. */
  def eceFromBins(bins: DataFrame): DataFrame =
    bins.agg(
      (sum(abs(col("pos_rate") - col("mean_score")) * col("n")) /
        sum(col("n"))).as("ece"),
      sum(col("n")).as("n_total"))

  /** One-row (auc, pos, neg) for a frame carrying a numeric score and
    * a 0/1 label. NULL scores are EXCLUDED — a null has no rank, and
    * silently ordering it below every real score would skew the
    * statistic (mllib's metrics cannot even represent the case).
    * Single-class input (pos or neg = 0) raises at execution time
    * instead of emitting a null auc that callers would NPE on.
    *
    * The prefix count over distinct scores is DISTRIBUTED
    * ([[graft.ops.GlobalOrdinal.prefix]] over quantile buckets of the
    * score — the old spelling ran it as an `Exchange SinglePartition`
    * window over every distinct score, one reducer at corpus scale):
    * the distinct-score table is materialized once (localCheckpoint —
    * the base frame is scanned exactly once, as before), and `before`
    * = the mass of every smaller score. NaN scores sort last (Spark's
    * ordering) and take the top bucket. */
  def aucROC(df: DataFrame, scoreCol: String, labelCol: String)
      : DataFrame = {
    val g = df
      .select(col(scoreCol).cast("double").as("s"),
              col(labelCol).cast("long").as("l"))
      .filter(col("s").isNotNull)
      .groupBy(col("s"))
      .agg(count(lit(1)).as("m"), sum(col("l")).as("p"))
      .localCheckpoint()
    val (ranked, _) = GlobalOrdinal.prefix(g, Seq(GlobalOrdinal.Ordinal(
      "before", GlobalOrdinal.quantileBucket(g, col("s")), Seq(col("s")))),
      col("m"))
    val spr2 = ranked
      .agg(sum(col("p") * (lit(2L) * col("before") + col("m") + 1L))
             .as("spr2"),
           sum(col("p")).as("pos"),
           sum(col("m") - col("p")).as("neg"))
    spr2.select(
      when(col("pos") > 0L && col("neg") > 0L,
        (col("spr2") - col("pos") * (col("pos") + 1L)).cast("double") /
          (lit(2L) * col("pos") * col("neg")).cast("double"))
        .otherwise(raise_error(concat(
          lit("aucROC needs both classes present, got pos="), col("pos"),
          lit(" neg="), col("neg")))
          .cast("double"))
        .as("auc"),
      col("pos"), col("neg"))
  }
}
