package graft.pipelines

import graft.ml.RankingMetricsDF
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Damped-popularity baseline recommender + ranking evaluation — the
  * semantics of the reference's popularity_model.py.
  *
  * score(movie) = avg_rating · n / (n + β)                      [:35-38]
  *
  * Deviations from the reference (documented, SURVEY §3.2):
  *  - the reference ranks with a row_number window and relies on the
  *    window sort surviving into collect_list — which Spark does NOT
  *    guarantee. Here each user's list is collected once and sorted
  *    inside the array by an explicit key, which is guaranteed and
  *    needs no window;
  *  - the ranking gets a movieId tiebreaker (row_number under ties is
  *    otherwise nondeterministic);
  *  - a damping grid is evaluated in ONE pass ([[evaluateDampings]]):
  *    the per-movie aggregate, the eval join, the per-user grouping and
  *    the ground truth are built once, every damping's top-k is an
  *    array expression over the same per-user list, and one aggregate
  *    returns every damping's means (the shared-aggregate batching of
  *    LMFAO, "A Layered Aggregate Engine for Analytics Workloads",
  *    SIGMOD 2019) — where the reference re-runs the whole evaluation
  *    per damping;
  *  - metrics are DataFrame-native (graft.ml.RankingMetricsDF), not an
  *    RDD bridge.
  */
object Popularity {

  /** Per-movie damped popularity scores (popularity_model.py:28-38). */
  def movieScores(train: DataFrame, damping: Double): DataFrame =
    movieStats(train).withColumn("popularity_score",
      damped(col("avg_rating"), col("rating_count"), damping))

  private def movieStats(train: DataFrame): DataFrame =
    train.groupBy(col("movieId"))
      .agg(avg(col("rating")).as("avg_rating"),
           count(col("rating")).as("rating_count"))

  /** The damped score — the one spelling [[movieScores]] and the grid
    * share, so both compute bit-identical doubles. */
  private def damped(avgRating: Column, ratingCount: Column,
                     damping: Double): Column =
    avgRating * ratingCount / (ratingCount + lit(damping))

  /** Ground truth: per user, the test movies rated above that user's mean,
    * best-rated first (popularity_model.py:52-56). One grouping per
    * user, the list filtered and sorted inside the array — no self-join
    * against the means. Users with no movie above their mean have no
    * row. */
  def groundTruth(test: DataFrame): DataFrame =
    test.filter(col("userId").isNotNull)
      .groupBy(col("userId"))
      .agg(collect_list(struct(col("movieId"), col("rating"))).as("items"),
           avg(col("rating")).as("mean_rating"))
      .select(col("userId"),
              aboveMean(col("items"), col("mean_rating")).as("actual_items"))
      .filter(size(col("actual_items")) > 0)

  /** The movieIds of `items` (structs with movieId and rating) rated
    * above `mean`, by rating desc then movieId. */
  private def aboveMean(items: Column, mean: Column): Column =
    transform(
      array_sort(transform(filter(items, e => e.getField("rating") > mean),
        e => struct((-e.getField("rating")).as("r"),
                    e.getField("movieId").as("x")))),
      e => e.getField("x"))

  /** Ranking metrics @k on `eval` for each damping, in one pass: the
    * eval rows join the per-movie (avg, count) of `train` once and are
    * grouped once per user into (movieId, rating, avg, count) structs
    * plus the user's mean. The ground truth is [[aboveMean]] over that
    * list; each damping's predictions are the list sorted by
    * (score is null, −score, movieId) and cut at k — the reference's
    * "every test movie of the user, best predicted first" with movies
    * unseen in train last (popularity_model.py:42-48). Users with an
    * empty ground truth are dropped; one aggregate returns every
    * damping's four means, in `dampings` order.
    *
    * The grouped rows are sorted by userId inside each partition before
    * the means: a mean over doubles depends on summation order, and
    * userId order within the userId-hashed partitions is the order a
    * window-ranked list joined to its ground truth also yields, so the
    * means equal that spelling's bit for bit (CapstoneOnePassSpec). */
  def evaluateDampings(train: DataFrame, eval: DataFrame,
                       dampings: Seq[Double],
                       k: Int): Seq[RankingMetricsDF.Scores] = {
    require(dampings.nonEmpty, "no dampings to evaluate")
    val perUser = eval.filter(col("userId").isNotNull)
      .join(movieStats(train), Seq("movieId"), "left")
      .groupBy(col("userId"))
      .agg(collect_list(struct(col("movieId"), col("rating"),
             col("avg_rating"), col("rating_count"))).as("items"),
           avg(col("rating")).as("mean_rating"))
      .sortWithinPartitions(col("userId"))
      .select(col("items"),
              aboveMean(col("items"), col("mean_rating")).as("actual"))
      .filter(size(col("actual")) > 0)
    def topK(d: Double): Column = {
      val keyed = transform(col("items"), e => {
        val score = damped(e.getField("avg_rating"),
                           e.getField("rating_count"), d)
        struct(score.isNull.as("n"), (-score).as("s"),
               e.getField("movieId").as("x"))
      })
      transform(slice(array_sort(keyed), 1, k), e => e.getField("x"))
    }
    val metrics = dampings.indices.map(i =>
      RankingMetricsDF.perUserMetrics(topK(dampings(i)), col("actual"), k)
        .as(s"m$i"))
    val means = dampings.indices.flatMap(i =>
      Seq("precision", "recall", "map", "ndcg").map(f => avg(col(s"m$i.$f"))))
    val r = perUser.select(metrics: _*).agg(means.head, means.tail: _*).head()
    dampings.indices.map { i =>
      val b = 4 * i
      RankingMetricsDF.Scores(r.getDouble(b), r.getDouble(b + 1),
        r.getDouble(b + 2), r.getDouble(b + 3))
    }
  }

  /** Train on `train`, evaluate ranking metrics @k on `test`
    * (popularity_model.py train_test). */
  def trainTest(train: DataFrame, test: DataFrame, damping: Double,
                k: Int = 100): RankingMetricsDF.Scores =
    evaluateDampings(train, test, Seq(damping), k).head

  final case class GridResult(damping: Double,
                              scores: RankingMetricsDF.Scores)

  /** Damping grid search on validation, argmax by NDCG@k
    * (popularity_model.py:73-92) — every damping in one
    * [[evaluateDampings]] pass. */
  def gridSearch(train: DataFrame, validation: DataFrame,
                 dampings: Seq[Double] = Seq(10, 100, 1000, 10000),
                 k: Int = 100): (GridResult, Seq[GridResult]) = {
    val all = dampings.zip(evaluateDampings(train, validation, dampings, k))
      .map { case (d, s) => GridResult(d, s) }
    (all.maxBy(_.scores.ndcg), all)
  }
}
