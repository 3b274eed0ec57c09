package graft

import graft.pipelines._

/** End-to-end reproduction of the reference's PUBLISHED numbers
  * (BASELINE.md / capstone_final_report.pdf pp.3-5) on a
  * MovieLens-SHAPED synthetic ([[SyntheticRatings]]) — closing the
  * last parity question a reference user would ask: do the rebuilt
  * pipelines, composed exactly as the reference composes them
  * (split → popularity grid → ALS grid → ranking metrics; LSH twins
  * vs random pairs), reproduce the reference's RELATIONSHIPS?
  *
  * The absolute values are data-dependent (MovieLens itself is not
  * available here), so the pinned claims are the SHAPE ones, each a
  * row of the printed table: split proportions, the popularity grid's
  * flat damping response, ALS beating popularity by a wide NDCG
  * margin, precision@100 tiny / recall@100 near 1 (k ≫ holdout size
  * per user), and twins correlating above random pairs. The committed
  * run lives in REPRODUCTION.md; ReproductionSpec asserts the same
  * orderings at a smaller scale every round. */
object Reproduction {
  def main(args: Array[String]): Unit = {
    val nUsers = if (args.length > 0) args(0).toInt else 6000
    val nMovies = if (args.length > 1) args(1).toInt else 2000
    val spark = Session.start(Session.verify(Session.cpus))

    val ratings = SyntheticRatings.generate(spark, nUsers, nMovies).cache()
    val n = ratings.count()
    println(s"| ratings | $n | users=$nUsers movies=$nMovies |")

    val splits = Splitting.split(ratings)
    val (tr, va, te) = (splits.train.cache().count(),
                        splits.validation.cache().count(),
                        splits.test.cache().count())
    val tot = (tr + va + te).toDouble
    println(f"| split train/val/test | $tr / $va / $te | " +
      f"${tr / tot * 100}%.1f%% / ${va / tot * 100}%.1f%% / " +
      f"${te / tot * 100}%.1f%% (reference: 87.9/5.9/6.0) |")

    val (bestPop, popGrid) =
      Popularity.gridSearch(splits.train, splits.validation)
    popGrid.foreach(g => println(
      f"| popularity grid β=${g.damping}%.0f | NDCG@100 (val) " +
      f"${g.scores.ndcg}%.4f | reference row: 0.7875-0.7879 band |"))
    val popTest =
      Popularity.trainTest(splits.train, splits.test, bestPop.damping)
    println(f"| popularity TEST (β=${bestPop.damping}%.0f) | " +
      f"ndcg=${popTest.ndcg}%.4f p@100=${popTest.precision}%.4f " +
      f"map=${popTest.map}%.4f r@100=${popTest.recall}%.4f | " +
      f"reference: 0.7879 / 0.0573 / 0.6602 / 0.9984 |")

    val (bestAls, alsGrid) = AlsRec.gridSearch(
      splits.train, splits.validation,
      ranks = Seq(10, 100, 150), regParams = Seq(0.01, 0.05, 0.1))
    alsGrid.foreach(g => println(
      f"| ALS grid rank=${g.rank} reg=${g.regParam}%.2f | NDCG@100 " +
      f"(val) ${g.scores.ndcg}%.4f | reference band: 0.916-0.972 |"))
    val alsTest = AlsRec.trainTest(splits.train, splits.test,
      bestAls.rank, bestAls.regParam)
    println(f"| ALS TEST (rank=${bestAls.rank} reg=${bestAls.regParam}%.2f) " +
      f"| ndcg=${alsTest.ndcg}%.4f p@100=${alsTest.precision}%.4f " +
      f"map=${alsTest.map}%.4f r@100=${alsTest.recall}%.4f | " +
      f"reference: 0.9720 / 0.0584 / 0.9456 / 0.9995 |")
    println(f"| ALS − popularity NDCG gap | " +
      f"${alsTest.ndcg - popTest.ndcg}%.4f | reference: +0.18 |")

    val twins = Segmentation.movieTwins(ratings).cache()
    val nPerfect = twins.filter(org.apache.spark.sql.functions
      .col("similarity") >= 0.9999).count()
    val twinCorr = Segmentation.averagePairwiseCorrelation(
      twins.select("userA", "userB"), ratings)
    val randCorr = Segmentation.averagePairwiseCorrelation(
      Segmentation.randomPairs(ratings).select("userA", "userB"), ratings)
    println(f"| twins: Jaccard=1.0 pairs in top-100 | $nPerfect | " +
      f"reference: 100/100 |")
    println(f"| twin vs random avg correlation | $twinCorr%.4f vs " +
      f"$randCorr%.4f | reference: 0.1041 vs 0.0409 |")
    spark.stop()
  }
}
