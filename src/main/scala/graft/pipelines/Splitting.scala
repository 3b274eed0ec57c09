package graft.pipelines

import graft.ops.GlobalOrdinal
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Train/validation/test splitting with cold-start mitigation — the
  * semantics of the reference's splitting_data.py:
  *
  *  1. drop rows with nulls in (userId, movieId, rating)        [:16]
  *  2. keep only movies with ≥ `minRatings` ratings             [:19-21]
  *  3. 80/10/10 row-level randomSplit, fixed seed               [:24]
  *  4. per split, 40% of its distinct movieIds (randomSplit,
  *     same seed) fold back into train; the 60% remainder is
  *     the final validation/test                                 [:27-39]
  *
  * Deviations from the reference (idiomatic, same semantics):
  *  - the popular-filtered ratings are materialized once
  *    (`localCheckpoint`): the three random splits and both fold-back
  *    key sets read that one copy instead of each re-deriving the
  *    per-movie counts and their filter;
  *  - a fold-back key set is collected to the driver in one job
  *    ([[graft.ops.GlobalOrdinal.collectUpTo]], at most `DriverRowCap`
  *    keys) and applied as an `isin` / `NOT isin` filter, which leaves
  *    every row in its split's partition; past the cap it stays a
  *    distributed `left_semi` / `left_anti` join pair. Either way the
  *    key lists' columns are never needed, so only keys move
  *    (SURVEY §2.3 J2). `split` is therefore eager: the checkpoint
  *    and the two key collects run when it is called;
  *  - no `coalesce(1)` on write — an anti-pattern at scale
  *    (splitting_data.py:48-50); callers choose their own layout.
  *
  * randomSplit is per-partition Bernoulli sampling: deterministic for a
  * fixed seed AND fixed input partitioning (property-tested, never
  * oracle-hashed — SURVEY §7.7.5).
  */
object Splitting {

  final case class Splits(train: DataFrame, validation: DataFrame,
                          test: DataFrame)

  def split(ratings: DataFrame, seed: Long = 42L,
            minRatings: Long = 5L): Splits =
    splitWith(ratings, seed, minRatings, GlobalOrdinal.DriverRowCap)

  /** [[split]] with the fold-back keys' driver cap as a parameter, so
    * tests can force the distributed join path (cap 0). */
  private[pipelines] def splitWith(ratings: DataFrame, seed: Long,
                                   minRatings: Long, keyCap: Long): Splits = {
    val cleaned = ratings.na.drop(Seq("userId", "movieId", "rating"))

    val popular = cleaned.groupBy(col("movieId"))
      .agg(count(col("rating")).as("rating_count"))
      .filter(col("rating_count") >= lit(minRatings))
      .select(col("movieId"))
    val filtered = cleaned.join(popular, Seq("movieId"), "left_semi")
      .localCheckpoint()

    val Array(train0, val0, test0) =
      filtered.randomSplit(Array(0.8, 0.1, 0.1), seed)

    // The kept 60% is "everything not folded back" — the complement of
    // the fold-back keys within the split, instead of materializing the
    // second randomSplit branch (the reference re-joins both branches,
    // splitting_data.py:33-39; keep/complement over one branch is
    // equivalent because the branches partition the key set —
    // property-tested).
    def foldBack(split: DataFrame): (DataFrame, DataFrame) = {
      val ids = split.select(col("movieId")).distinct()
      val Array(back, _) = ids.randomSplit(Array(0.4, 0.6), seed)
      GlobalOrdinal.collectUpTo(back, keyCap) match {
        case Some(rows) =>
          val isBack = col("movieId").isInCollection(rows.map(_.get(0)))
          (split.filter(isBack), split.filter(!isBack))
        case None =>
          (split.join(back, Seq("movieId"), "left_semi"),
           split.join(back, Seq("movieId"), "left_anti"))
      }
    }
    val (valBack, valKeep)   = foldBack(val0)
    val (testBack, testKeep) = foldBack(test0)

    Splits(train0.union(valBack).union(testBack), valKeep, testKeep)
  }

  /** Stratified (per-stratum-rate) sample — the data-MIXTURE primitive
    * of a training pipeline: "keep 100% of lang=de, 30% of lang=en".
    * `DataFrameStatFunctions.sampleBy` under the hood: per-partition
    * Bernoulli with a per-stratum threshold — no shuffle, no count
    * pass, deterministic for a fixed seed AND input partitioning (the
    * same caveat as randomSplit; property-tested, never oracle-hashed).
    * Strata absent from `fractions` are dropped (rate 0). */
  def stratifiedSample[T](df: DataFrame, stratumCol: String,
                          fractions: Map[T, Double],
                          seed: Long = 42L): DataFrame =
    df.stat.sampleBy(stratumCol, fractions, seed)

  /** EXACT-count stratified sample: exactly min(k, |stratum|) rows per
    * stratum, chosen by a deterministic hash order — the companion to
    * [[stratifiedSample]] when the contract is a COUNT ("1M docs per
    * language for the eval set"), not a rate. Ordering by
    * (md5(idCol), idCol) is a seedless uniform permutation, identical
    * on any engine and partitioning — so unlike the Bernoulli path
    * this one IS oracle-hashable. One shuffle on the stratum key; the
    * per-stratum sort is bounded by the largest stratum, and Spark
    * plans a WindowGroupLimit (rank ≤ k pushes into a per-partition
    * top-k before the exchange), so skewed strata don't sort globally.
    * `idCol` must be unique — it both drives and tie-breaks the
    * permutation. */
  def stratifiedExactK(df: DataFrame, stratumCol: String, k: Int,
                       idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(md5(col(idCol).cast("string").cast("binary")),
               col(idCol))
    df.withColumn("__r", row_number().over(w))
      .filter(col("__r") <= lit(k))
      .drop("__r")
  }

  /** Keep the rows whose `scoreCol` lands in the top `frac` of the
    * distribution — the quality-selection step of FineWeb/DCLM-style
    * pipelines ("train on the best X% by classifier/LM score").
    *
    * Exact form: ONE distributed `percentile` aggregate finds the
    * (1−frac) threshold (linear interpolation, same estimator as the
    * DuckDB twin's quantile_cont), then a broadcast scalar filter —
    * no global-sort window, no single-partition stage. Ties AT the
    * threshold are kept (`>=`), so the kept fraction can slightly
    * exceed `frac` on discrete scores — deterministic either way.
    * At 100 TB swap in [[selectTopFractionApprox]]: approx_percentile
    * is a one-pass mergeable sketch with bounded error where the exact
    * aggregate must see every value. */
  def selectTopFraction(df: DataFrame, scoreCol: String,
                        frac: Double): DataFrame =
    selectByThreshold(df, scoreCol,
      percentile(col(scoreCol), lit(1.0 - frac)), frac)

  /** Split-leakage AUDIT: the near-dup-pair × split-assignment
    * matrix — how many near-dup pairs land inside each (split_a,
    * split_b) cell, `leaks` flagging the off-diagonal ones (a pair
    * straddling a train/eval boundary is evaluation contamination).
    * Run it over a NAIVE doc-level assignment to measure the hazard
    * [[splitByComponent]] removes — note that passing `componentCol
    * = idCol` to splitByComponent IS the naive doc-level split, so
    * the two spellings share one code path and the audit is the
    * proof either way (SplittingSpec pins component-split leakage ≡
    * 0 on the same pairs where the naive split leaks). Plan: two
    * broadcast-sized joins of the pair list against the assignment,
    * one tiny aggregate — the pair list, not the corpus, is the big
    * side at scale. */
  def splitLeakage(pairs: DataFrame, assignment: DataFrame,
                   idCol: String = "doc_id",
                   splitCol: String = "split"): DataFrame = {
    val a = assignment
      .select(col(idCol).as("id_a"), col(splitCol).as("split_a"))
    val b = assignment
      .select(col(idCol).as("id_b"), col(splitCol).as("split_b"))
    pairs.select(col("id_a"), col("id_b"))
      .join(a, Seq("id_a"))
      .join(b, Seq("id_b"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("leaks", col("split_a") =!= col("split_b"))
  }

  /** Near-dup-LEAKAGE-SAFE splitting: assign whole near-dup CLUSTERS
    * to splits, so a document and its near-duplicate can never land
    * on opposite sides of a train/eval boundary — doc-level random
    * splitting leaks train text into eval whenever near-dups exist,
    * the test-set-inflation failure mode Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better")
    * measure. Input is [[graft.dedup.Dedup.markNearDuplicates]]
    * output (or any frame with a cluster column); output appends
    * `split` ∈ [0, weights.size).
    *
    * Assignment hashes the COMPONENT id through the library's
    * seedless md5-u32 permutation (the [[Sharding.shardId]] /
    * [[stratifiedExactK]] arithmetic) and cuts at the integer
    * thresholds `floor(cumFracᵢ · 2³²)` — pure map-side (no extra
    * shuffle: the component column is already on the row),
    * deterministic, partitioning-invariant, and integer-exact, so a
    * SQL twin replays it bit-for-bit. Proportions hold in
    * expectation over CLUSTERS (the randomSplit contract; exact-k
    * selection is [[stratifiedExactK]]'s job), and cluster-mass skew
    * is bounded by the dedup cap itself. */
  def splitByComponent(marked: DataFrame, weights: Seq[Double],
                       componentCol: String = "component"): DataFrame = {
    require(weights.nonEmpty && weights.forall(_ > 0),
      s"weights must be positive: $weights")
    val total = weights.sum
    val thresholds = weights.scanLeft(0.0)(_ + _).tail.init
      .map(c => math.floor(c / total * 4294967296.0).toLong)
    val u = conv(substring(
        md5(col(componentCol).cast("string").cast("binary")), 1, 8),
        16, 10).cast("long")
    val split = thresholds.zipWithIndex
      .foldRight(lit(weights.size - 1)) { case ((t, i), acc) =>
        when(u < t, lit(i)).otherwise(acc)
      }
    marked.withColumn("split", split)
  }

  /** [[selectTopFraction]] with a sketch threshold (approx_percentile,
    * `accuracy` trades error for memory) — the 100-TB spelling. */
  def selectTopFractionApprox(df: DataFrame, scoreCol: String,
                              frac: Double,
                              accuracy: Int = 10000): DataFrame =
    selectByThreshold(df, scoreCol,
      approx_percentile(col(scoreCol), lit(1.0 - frac), lit(accuracy)),
      frac)

  // dunder temp name so a caller column named "t" can't collide (the
  // repo-wide convention: __h, __k, __cnt); thresholds are built with
  // the Column API (functions.percentile/approx_percentile), never
  // string-interpolated SQL — exotic column names (backticks included)
  // resolve like everywhere else in the library (ADVICE r7).
  // NULL-threshold contract: percentile over an EMPTY or all-null
  // score column is NULL, and `score >= NULL` is never true, so the
  // output is empty — "the top frac of nothing is nothing", not an
  // error. Callers that must distinguish empty-in from filtered-out
  // count upstream.
  private def selectByThreshold(df: DataFrame, scoreCol: String,
                                thrExpr: Column, frac: Double): DataFrame = {
    require(frac > 0.0 && frac <= 1.0, s"frac must be in (0,1]: $frac")
    // the scores frame feeds both the threshold aggregate and the
    // filter — own its evaluation once (callers hand in whole scoring
    // pipelines, e.g. q_select_top_quality's bigram-LM pass; without
    // this that pipeline runs twice). Scores are narrow rows, so the
    // checkpoint is bounded by |docs|, not text bytes.
    val d = df.localCheckpoint(false)
    val thr = d.agg(thrExpr.as("__thr"))
    d.crossJoin(thr).filter(col(scoreCol) >= col("__thr")).drop("__thr")
  }

  /** Temperature-flattened mixture: keep-rate per stratum ∝ n^(α−1),
    * normalized so the smallest stratum keeps `maxRate` — expected
    * kept counts ∝ n^α, the standard multilingual-corpus flattening
    * dial (α = 1 keeps the natural distribution untouched; α → 0
    * equalizes expected per-stratum counts). One tiny count aggregate
    * reaches the driver (|strata| rows — the mixture TABLE, not data);
    * the sample itself is per-partition Bernoulli, no shuffle. */
  def temperatureMixture(df: DataFrame, stratumCol: String,
                         alpha: Double, maxRate: Double = 1.0,
                         seed: Long = 42L): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha in [0,1], got $alpha")
    // keys stay the RAW stratum values — sampleBy compares typed values,
    // so toString keys would silently match nothing on non-string
    // strata and drop every row (ADVICE r3)
    val counts = df.groupBy(col(stratumCol)).count().collect()
      .map(r => r.get(0) -> r.getLong(1))
    if (counts.isEmpty) return df // empty input: nothing to flatten
    val raw = counts.map { case (k, n) =>
      k -> math.pow(n.toDouble, alpha - 1.0) }
    val top = raw.map(_._2).max
    val fractions = raw.map { case (k, v) =>
      k -> math.min(1.0, v / top * maxRate) }.toMap
    stratifiedSample(df, stratumCol, fractions, seed)
  }

  /** Per-source integer budgets for [[mixToBudget]]: floor(wᵢ/Σw · B)
    * tokens to source i — driver-side exact integer math on a map the
    * size of the SOURCE LIST (a mixture recipe is tens of rows, never
    * data-scale). */
  private[pipelines] def sourceBudgets(weights: Map[String, Double],
                                       totalBudget: Long): Map[String, Long] = {
    require(weights.nonEmpty, "mixture weights must be non-empty")
    require(weights.values.forall(_ > 0.0),
      s"mixture weights must be positive: $weights")
    require(totalBudget > 0, s"token budget must be positive: $totalBudget")
    val wSum = weights.values.sum
    weights.map { case (s, w) =>
      s -> math.floor(w / wSum * totalBudget).toLong }
  }

  /** Temperature-flattened mixture weights (Conneau et al. 2020 §3.1
    * — XLM-R's multilingual sampling, mT5's recipe): sample
    * probability qᵢ ∝ pᵢ^α with pᵢ = massᵢ/Σmass. Mixture weights are
    * scale-free (every consumer normalizes), so wᵢ = massᵢ^α
    * directly. α = 1 keeps natural proportions; α → 0 flattens toward
    * uniform — the standard low-resource-source boost. Returned as a
    * key-SORTED map so downstream double sums ([[sourceBudgets]]) run
    * in a deterministic order. */
  def temperatureWeights(masses: Map[String, Long], alpha: Double)
      : Map[String, Double] = {
    require(masses.nonEmpty, "mixture masses must be non-empty")
    require(masses.values.forall(_ > 0L),
      s"source masses must be positive: $masses")
    require(alpha > 0.0 && alpha <= 1.0,
      s"temperature exponent must be in (0,1]: $alpha")
    scala.collection.immutable.SortedMap[String, Double]() ++
      masses.map { case (s, m) => s -> math.pow(m.toDouble, alpha) }
  }

  /** [[mixToBudget]] with temperature-derived weights: one
    * |sources|-row mass aggregate (collected — a mixture recipe is
    * tens of rows, never data-scale), wᵢ = massᵢ^α, then the same
    * md5-permutation prefix cut. With α = 0.5 the weight math is
    * `sqrt` — correctly rounded by IEEE 754 in every engine — so the
    * oracle twin recomputes it exactly; general α uses `pow`, whose
    * last-ulp behavior is libm-specific (the floor(wᵢ/Σw·B) budget
    * would flip only if the true value sat within ~1e-12 of an
    * integer — the hash gate would surface it). */
  def mixToBudgetTemperature(df: DataFrame, sourceCol: String,
                             tokensCol: String, idCol: String,
                             alpha: Double, totalBudget: Long)
      : DataFrame = {
    val masses = df.groupBy(col(sourceCol))
      .agg(sum(col(tokensCol)).cast("long").as("__mass"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    mixToBudget(df, sourceCol, tokensCol, idCol,
      temperatureWeights(masses, alpha), totalBudget)
  }

  /** Token-budget mixture composition — the "fill the training mix"
    * step of a Pile/DoReMi-shaped recipe: given per-source weights and
    * a total token budget, keep documents from each source — in the
    * seedless md5(id) permutation order of [[stratifiedExactK]] — until
    * that source's budget share floor(wᵢ/Σw · B) is EXHAUSTED: a doc is
    * kept iff the running token total up to and including it fits the
    * source budget (so a source whose very first doc overshoots
    * contributes nothing — same rule the SQL twin applies). Sources
    * absent from `weights` are dropped (weight 0), mirroring
    * [[stratifiedSample]].
    *
    * PRECONDITION (shared with [[mixToBudgetEpochs]] and
    * [[stratifiedExactK]]): `idCol` values are unique within each
    * source. The permutation orders by (md5(id), id), so duplicate
    * ids tie completely and the running sum — hence the kept set at
    * the budget boundary — would depend on physical row order
    * (ADVICE r9). Training corpora carry unique doc ids by
    * construction; dedupe first if yours doesn't.
    *
    * Deterministic on any engine and partitioning (the md5-permutation
    * trick), hence oracle-hashable. Cost: one shuffle on the source
    * key + a per-source running-sum window — fine for the oracle path,
    * but at 100 TB a single source IS the corpus, making that window a
    * skew hazard; swap in [[mixToBudgetApprox]], which replaces the
    * sort with a broadcast per-source key threshold (two scans, no
    * shuffle of the corpus, expected token mass = the same budget). */
  def mixToBudget(df: DataFrame, sourceCol: String, tokensCol: String,
                  idCol: String, weights: Map[String, Double],
                  totalBudget: Long): DataFrame =
    cutPrefix(df, sourceCol, tokensCol, idCol,
              sourceBudgets(weights, totalBudget))

  /** The md5-permutation prefix cut at explicit per-source token
    * budgets — [[mixToBudget]]'s window pass, shared with the
    * remainder epoch of [[mixToBudgetEpochs]]. */
  private def cutPrefix(df: DataFrame, sourceCol: String,
                        tokensCol: String, idCol: String,
                        budgets: Map[String, Long]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(sourceCol))
      .orderBy(md5(col(idCol).cast("string").cast("binary")), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.filter(col(sourceCol).isInCollection(budgets.keys))
      .withColumn("__cum", sum(col(tokensCol)).over(w))
      .filter(col("__cum") <= element_at(typedLit(budgets), col(sourceCol)))
      .drop("__cum")
  }

  /** [[mixToBudget]] with REPEATS — the semantic real recipes (The
    * Pile, LLaMA) actually use when a high-weight source is SMALLER
    * than its budget share: the source contributes floor(budgetᵢ/massᵢ)
    * full passes over its corpus ("epochs") plus the md5-permutation
    * prefix of one more pass for the remainder. Output gains an
    * `epoch` column (0-based; the remainder pass is the last epoch),
    * so one physical row per (doc, epoch) — downstream packing treats
    * repeats as distinct sequences exactly as a sampler would.
    *
    * Sources larger than their budget degenerate to [[mixToBudget]]
    * with epoch 0 only. Same unique-`idCol` precondition as
    * [[mixToBudget]] (the remainder cut is the same (md5(id), id)
    * window). Cost: one |sources|-row totals aggregate to
    * the driver, a generator explode for the full epochs (map-side),
    * and the remainder cut's per-source window. */
  def mixToBudgetEpochs(df: DataFrame, sourceCol: String,
                        tokensCol: String, idCol: String,
                        weights: Map[String, Double],
                        totalBudget: Long): DataFrame = {
    val budgets = sourceBudgets(weights, totalBudget)
    val totalRows = df
      .filter(col(sourceCol).isInCollection(budgets.keys))
      .groupBy(col(sourceCol))
      .agg(sum(col(tokensCol)).as("__tot"), count(lit(1)).as("__n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // the remainder cut's per-source window sorts each source inside
    // ONE partition — free to check here because the totals aggregate
    // already ran (this method is eager by design); a corpus-dominating
    // source is exactly the case the windowless approx path exists for
    dominatedSource(totalRows.map(t => t._1 -> t._3).toMap)
      .foreach { case (s, n) =>
        org.slf4j.LoggerFactory.getLogger(getClass)
          .warn(s"mixToBudgetEpochs: source '$s' holds $n rows — its " +
            "remainder-cut window sorts them in one partition; " +
            "consider mixToBudgetApprox for the remainder regime")
      }
    val totals = totalRows.map(t => t._1 -> t._2).toMap
    val epochs = totals.map { case (s, tot) =>
      s -> (if (tot > 0) budgets(s) / tot else 0L) }
    val rem = totals.map { case (s, tot) =>
      s -> (if (tot > 0) budgets(s) % tot else 0L) }
    val inMix = df.filter(col(sourceCol).isInCollection(totals.keys))
    val epochCol = element_at(typedLit(epochs), col(sourceCol))
    // full epochs 0..E-1: sequence(1, E) is empty-safe only for E >= 1,
    // so gate on it (sequence(0, -1) would COUNT DOWN, not be empty)
    val full = inMix.filter(epochCol >= 1L)
      .withColumn("epoch", explode(sequence(lit(0L), epochCol - 1L)))
    val remainder =
      cutPrefix(inMix, sourceCol, tokensCol, idCol, rem)
        .withColumn("epoch", epochCol)
    full.unionByName(remainder)
  }

  /** A source whose row count exceeds `bound` (default 50M — past the
    * point where one window partition's sort spills any sane executor)
    * — the skew tripwire for the per-source running-sum window.
    * Returns the largest such source, if any. */
  private[pipelines] def dominatedSource(
      rowsPerSource: Map[String, Long],
      bound: Long = 50000000L): Option[(String, Long)] =
    rowsPerSource.filter(_._2 > bound) match {
      case m if m.isEmpty => None
      case m              => Some(m.maxBy(_._2))
    }

  /** The 100-TB spelling of [[mixToBudget]]: instead of sorting each
    * source to cut at the exact running-sum boundary, cut the SAME
    * md5(id) permutation at a per-source KEY threshold tᵢ =
    * budgetᵢ / tokensᵢ — the md5 key is uniform and independent of
    * token length, so the token mass below tᵢ concentrates on
    * budgetᵢ (relative error O(1/√n) per source). One narrow
    * per-source totals aggregate reaches the driver (|sources| rows),
    * then the corpus takes a single broadcast-literal map FILTER —
    * no shuffle, no sort, no skew.
    *
    * Both forms cut prefixes of the SAME permutation, so one output
    * is always a superset of the other, differing only near the
    * boundary (property-tested). Seedless and partitioning-invariant
    * like the exact form, but the kept token mass is approximate —
    * budget-exactness is what [[mixToBudget]] is for. */
  def mixToBudgetApprox(df: DataFrame, sourceCol: String,
                        tokensCol: String, idCol: String,
                        weights: Map[String, Double],
                        totalBudget: Long): DataFrame = {
    val budgets = sourceBudgets(weights, totalBudget)
    val totals = df
      .filter(col(sourceCol).isInCollection(budgets.keys))
      .groupBy(col(sourceCol)).agg(sum(col(tokensCol)).as("__tot"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val thresholds = totals.map { case (s, tot) =>
      s -> math.min(1.0, budgets(s).toDouble / math.max(tot, 1L)) }
    // md5-key fraction in [0,1): first 8 hex chars as a uint32 / 2^32 —
    // the same leading bits that order the exact form's permutation,
    // so both cuts are prefixes of one ordering
    val frac =
      conv(substring(md5(col(idCol).cast("string").cast("binary")), 1, 8),
           16, 10).cast("long").cast("double") / lit(4294967296.0)
    df.filter(col(sourceCol).isInCollection(thresholds.keys))
      .filter(frac < element_at(typedLit(thresholds), col(sourceCol)))
  }
}
