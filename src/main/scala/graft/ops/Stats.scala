package graft.ops

import graft.Tables
import graft.functions.Exact
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Statistical operators (SURVEY.md §2.4 A2–A5, A7; §2.7 E1–E2).
  * All are two-phase hash aggregations — partial map-side combine, final
  * after a single shuffle on the group key.
  *
  * Determinism: money/value columns are 2dp, so avg/variance-derived
  * outputs go through [[graft.functions.Exact]] (exact integer grid →
  * bit-identical doubles) instead of lossy `round` — see Exact's scaladoc.
  */
object Stats {

  /** A3+P4+E1+E2 — damped popularity score `(avg*cnt)/(cnt+β)`
    * (popularity_model.py:35-38). β=1000 matches the reference's chosen
    * damping. Pure column arithmetic — constant-folded, codegen'd. */
  def dampedPopularity(spark: SparkSession, dir: String,
                       beta: Double = 1000.0): DataFrame = {
    Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey"))
      .agg(Exact.sumCents(col("l_extendedprice")).as("sum_cents"),
           count(lit(1)).as("cnt"))
      .select(
        col("l_partkey"),
        Exact.avgFromCents(col("sum_cents"), col("cnt")).as("avg_price"),
        col("cnt"),
        ((col("sum_cents").cast("double") / lit(100.0)) /
         (col("cnt").cast("double") + lit(beta))).as("damped_score"))
      .orderBy(col("l_partkey"))
  }

  /** A4+F3+F2 — variance per group with a positivity filter
    * (customer_segmentation_2.py:58-59). Native `variance` (= var_samp,
    * matching DuckDB) drives the plan; the output is rescaled onto its
    * exact integer grid (sum of squared deviations in cents²). */
  def varianceFilter(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .filter(col("value") > lit(0.0))
      .groupBy(col("user_id"))
      .agg(variance(col("value")).as("var_raw"),
           count(lit(1)).as("cnt"))
      .filter(col("var_raw").isNotNull)
      .withColumn("sse_cents2", Exact.sseFromVariance(col("var_raw"), col("cnt")))
      .select(
        col("user_id"),
        Exact.varFromSse(col("sse_cents2"), col("cnt")).as("var_value"))
      .orderBy(col("user_id"))
  }

  /** A5+F2 — Pearson correlation per user pair over their common keys
    * (customer_segmentation_2.py:36-38). Pre-aggregates to one value per
    * (user, key) so the pair join is |U|²·|types|-bounded, then corr over
    * the aligned value vectors. corr is null for n<2 or zero variance —
    * filtered, as the reference does. corr is a generic real (not on a
    * decimal grid), so round@4dp is stable; +1e-9 nudges exact ±1 /
    * half-boundary cases off the rounding edge. */
  def corrPerPair(spark: SparkSession, dir: String): DataFrame = {
    // Compact-first plan: fold each user to ONE row carrying its
    // key→value map (sorted entries → deterministic accumulation
    // order), pair via a broadcast nested-loop join (no skewed 5-value
    // shuffle, no |pairs|·|keys| re-group), and compute Pearson per
    // pair with the native codegen'd [[graft.functions.PearsonMaps]]
    // kernel — the HOF fold it replaced ran interpreted and was ~10×
    // the rest of the query combined.
    val uv = Tables.events(spark, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(avg(col("value")).as("v"))
    val um = uv.groupBy(col("user_id").as("id"))
      .agg(map_from_entries(sort_array(collect_list(
             struct(col("event_type"), col("v"))))).as("m"))
    Pairs.compactSelfPairs(um, "id")
      .select(col("id_a").as("user_a"), col("id_b").as("user_b"),
              graft.functions.PearsonMaps.pearsonMaps(col("m_a"), col("m_b"))
                .as("corr_raw"))
      .filter(col("corr_raw").isNotNull)
      .select(col("user_a"), col("user_b"),
              round(col("corr_raw") + lit(1e-9), 4).as("corr_v"))
      .orderBy(col("user_a"), col("user_b"))
  }

  /** Exact linear-interpolated percentiles per group (the analytics
    * staple the reference never needed). `percentile` is exact — the
    * scale path is `approx_percentile` (KLL-sketch-backed, mergeable,
    * one pass), property-tested within rank-ε of this exact form; the
    * exact form sorts within groups and stays oracle-comparable. */
  def percentilesByGroup(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"),
           percentile(col("o_totalprice"), lit(0.5)).as("p50_raw"),
           percentile(col("o_totalprice"), lit(0.9)).as("p90_raw"))
      .select(col("o_orderpriority"), col("cnt"),
              round(col("p50_raw") + lit(1e-9), 4).as("p50"),
              round(col("p90_raw") + lit(1e-9), 4).as("p90"))
      .orderBy(col("o_orderpriority"))
  }

  /** ROLLUP aggregation: per-(priority, status) counts plus subtotal
    * and grand-total rows with a grouping id — multi-level facet
    * profiles in one pass instead of N groupBys. */
  def rollupFacets(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir)
      .rollup(col("o_orderpriority"), col("o_orderstatus"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("cnt"),
           Exact.sumCents(col("o_totalprice")).as("sum_cents"))
      .select(col("o_orderpriority"), col("o_orderstatus"),
              col("gid"), col("cnt"),
              (col("sum_cents").cast("double") / 100.0).as("total"))
      .orderBy(col("gid"), col("o_orderpriority").asc_nulls_first,
               col("o_orderstatus").asc_nulls_first)
  }

  /** Sketch-backed cardinality profile per event_type:
    * `approx_count_distinct` (HyperLogLog++, mergeable, one pass, no
    * per-distinct-row shuffle) — the 100-TB profiling path for "how
    * many distinct users/sessions per facet". The exact
    * `countDistinct` form shuffles one row per distinct (key, value)
    * pair and is the baseline the sketch is property-tested against
    * (StatsSpec: relative error ≪ rsd bound). Not oracle-declared:
    * HLL registers differ across engines by construction. */
  def cardinalityProfile(spark: SparkSession, dir: String,
                         rsd: Double = 0.05): DataFrame = {
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           approx_count_distinct(col("user_id"), rsd).as("approx_users"))
      .orderBy(col("event_type"))
  }

  /** A2+J1+F4 — rows above their group mean (popularity_model.py:52-56
    * "ground truth" construction). The per-group mean side is small →
    * broadcast join. The boundary comparison is done in exact integer
    * cents (value > mean ⟺ value_cents·n > sum_cents) so rows sitting
    * exactly on the mean never flap. */
  def aboveMeanGroundTruth(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val means = ev.groupBy(col("user_id"))
      .agg(Exact.sumCents(col("value")).as("sum_cents"),
           count(lit(1)).as("cnt"))
    ev.select(col("event_id"), col("user_id"), col("value"))
      .join(means, Seq("user_id"), "inner")
      .filter(Exact.cents(col("value")) * col("cnt") > col("sum_cents"))
      .select(col("event_id"), col("user_id"), col("value"))
      .orderBy(col("event_id"))
  }

  /** Pivot (long → wide): per-user event counts, one column per
    * event type. The pivot values are EXPLICIT — the scale rule: an
    * unlisted-values `pivot` first runs a distinct scan to discover
    * the column set and makes the output schema data-dependent, both
    * wrong at 100 TB (and wrong for a hash-gated contract). Explicit
    * values keep it ONE two-phase aggregate with a fixed schema —
    * Spark compiles it to `count(CASE WHEN type = v)` legs, the same
    * conditional-aggregation the oracle twin spells by hand. */
  def pivotEventCounts(spark: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", types)
      .count()
      .na.fill(0L, types)
      .orderBy(col("user_id"))
  }

  /** Decile bucketing with `ntile(10) OVER (ORDER BY n_chars,
    * doc_id)` semantics — rank-based equal-count buckets (remainder
    * to the low buckets, the SQL standard both engines share),
    * tie-broken by id so the assignment is deterministic.
    *
    * The global rank is DISTRIBUTED ([[GlobalOrdinal.prefix]] over
    * quantile buckets of `n_chars` — the old spelling ran ntile over
    * the whole corpus in one `Exchange SinglePartition` reducer), and
    * the decile is ntile's closed form over that rank — with N known
    * on the driver, rows ranked ≤ (⌊N/10⌋+1)·(N mod 10) fill the
    * N mod 10 big buckets, the rest the small ones (StatsSpec pins
    * sizes, order and coverage; the oracle twin pins the full
    * output). Returns per-decile
    * `(decile, n_docs, sum_chars, min_chars, max_chars)`. */
  def charDeciles(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"))
      .localCheckpoint()
    val (ranked, Seq(total)) = GlobalOrdinal.prefix(d,
      Seq(GlobalOrdinal.Ordinal("__before",
        GlobalOrdinal.quantileBucket(d, col("n_chars")),
        Seq(col("n_chars"), col("doc_id")))), lit(1L))
    val (big, small, rem) =
      (total / 10L + 1L, math.max(1L, total / 10L), total % 10L)
    // ntile's remainder-to-the-low-buckets closed form (integral
    // `div` — exact at any N); when N < 10 every row is its own
    // bucket (rem = N, all ranks ≤ big·rem)
    val decile = expr(
      s"""cast(if(__rank <= ${big * rem},
                  (__rank - 1) div $big + 1,
                  $rem + (__rank - 1 - ${big * rem}) div $small + 1)
               as int)""")
    ranked.withColumn("__rank", col("__before") + 1L)
      .select(col("n_chars"), decile.as("decile"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_chars")).as("sum_chars"),
           min(col("n_chars")).as("min_chars"),
           max(col("n_chars")).as("max_chars"))
      .orderBy(col("decile"))
  }
}
