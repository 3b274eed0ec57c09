package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ml.RankingMetricsDF
import graft.pipelines.{AlsRec, Popularity, Segmentation, Splitting, SyntheticRatings}

/** The paper's own program: split, popularity grid search and test run,
  * ALS fit/predict/evaluate, MinHash movie twins and the twin-versus-
  * random correlation check, over seeded MovieLens-shaped ratings.
  * Shuffle- and iteration-heavy; touches no text kernel and no table
  * source. */
final class Capstone(seed: Long, tiny: Boolean, wrongExpected: Boolean)
    extends Workload {
  // 1,200 users x 400 movies, 50-150 ratings per active user: ~65k
  // ratings; a pass is 53 Spark jobs, 12-16 s warm on 4 cores
  private val (nUsers, nMovies, minHeavy, maxHeavy) =
    if (tiny) (800, 80, 20, 40) else (1200, 400, 50, 150)
  private val k = 100
  val nominalPassS = 14.0
  private var ratings: DataFrame = _
  private var lastNdcg = (0.0, 0.0)

  def prepare(spark: SparkSession): String = {
    ratings = SyntheticRatings.generate(spark, nUsers, nMovies,
      minHeavy = minHeavy, maxHeavy = maxHeavy, seed = seed).cache()
    s"ratings=${ratings.count()} users=$nUsers movies=$nMovies"
  }

  def pass(spark: SparkSession, t: Tracer, c: Checks, n: Int): Unit = {
    val splits = t.call("pipelines.split") {
      val s = Splitting.split(ratings)
      val cached = Splitting.Splits(s.train.cache(), s.validation.cache(),
        s.test.cache())
      (cached, Seq(cached.train.count(), cached.validation.count(),
        cached.test.count()))
    }
    val (sp, counts) = splits
    c.same("pipelines.split", "split_counts", counts)
    c.check("pipelines.split", counts.forall(_ > 0), s"empty split $counts")

    val popNdcg = t.call("pipelines.popularity_grid") {
      val (best, _) = Popularity.gridSearch(sp.train, sp.validation, k = k)
      Popularity.trainTest(sp.train, sp.test, best.damping, k).ndcg
    }
    c.same("pipelines.popularity_grid", "pop_ndcg", popNdcg)

    val model = t.call("ml.als_fit") {
      AlsRec.fitModel(sp.train, rank = 8, regParam = 0.1, maxIter = 5)
    }
    val joined = t.call("ml.als_predict") {
      val j = AlsRec.predictedItems(model, sp.test, k)
        .join(AlsRec.groundTruth(sp.test), Seq("userId"), "inner").cache()
      j.count()
      j
    }
    val alsNdcg = t.call("ml.ranking_metrics") {
      RankingMetricsDF.scores(joined, "predicted_items", "actual_items", k).ndcg
    }
    c.same("ml.ranking_metrics", "als_ndcg", alsNdcg)
    c.check("ml.ranking_metrics", alsNdcg > popNdcg,
      s"ALS NDCG $alsNdcg does not beat popularity NDCG $popNdcg")
    lastNdcg = (alsNdcg, popNdcg)

    val twins = t.call("pipelines.movie_twins") {
      Segmentation.movieTwins(ratings).collect().toSeq
    }
    val minSim = if (twins.isEmpty) 0.0 else twins.map(_.getDouble(2)).min
    c.check("pipelines.movie_twins", twins.size == k && minSim >= 0.9999,
      s"${twins.size} twins, lowest Jaccard $minSim")

    val (twinCorr, randCorr) = t.call("pipelines.twin_correlation") {
      val active = Segmentation.activeUsers(ratings)
      val pairs = spark.createDataFrame(twins.map(r =>
        (r.getString(0), r.getString(1)))).toDF("userA", "userB")
      (Segmentation.averagePairwiseCorrelation(pairs, active),
       Segmentation.averagePairwiseCorrelation(
         Segmentation.randomPairs(active), active))
    }
    c.same("pipelines.twin_correlation", "twin_corr", (twinCorr, randCorr))
    val expectGap = if (wrongExpected) 1.0 else 0.0
    c.check("pipelines.twin_correlation", twinCorr > randCorr + expectGap,
      s"twin correlation $twinCorr does not exceed random $randCorr")

    joined.unpersist()
    sp.train.unpersist(); sp.validation.unpersist(); sp.test.unpersist()
  }

  override def layerValues: Map[String, Double] = Map(
    "als_ndcg100" -> lastNdcg._1, "pop_ndcg100" -> lastNdcg._2)

  override def cleanup(spark: SparkSession): Unit =
    if (ratings != null) ratings.unpersist()
}
