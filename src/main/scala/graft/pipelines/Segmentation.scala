package graft.pipelines

import org.apache.spark.ml.feature.{CountVectorizer, MinHashLSH}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** "Movie twin" customer segmentation — the semantics of the reference's
  * customer_segmentation_1.py (MinHashLSH approximate-Jaccard self-join)
  * and customer_segmentation_2.py (correlation validation of the twins
  * against random pairs).
  *
  * The LSH join ([[graft.ops.Pairs.lshJoin]]) is also the scalable
  * near-duplicate-detection primitive of graft.dedup: at 100 TB the
  * candidate-pair space is pruned by banding (equi-join on hash-table
  * index + hash value, over user ids only) instead of an |U|² cross
  * join, and the movie vectors meet only the candidate pairs.
  */
object Segmentation {

  /** Per-user movie sets, users with ≥ `minMovies` movies
    * (customer_segmentation_1.py:14-19). IDs are cast to string — the
    * reference's CountVectorizer input contract. */
  def userMovieSets(ratings: DataFrame, minMovies: Int = 5): DataFrame =
    ratings
      .select(col("userId").cast("string").as("userId"),
              col("movieId").cast("string").as("movieId"))
      .groupBy(col("userId"))
      .agg(collect_list(col("movieId")).as("movies"))
      .filter(size(col("movies")) >= lit(minMovies))

  /** Top-`topK` most-similar user pairs by approximate Jaccard similarity
    * (customer_segmentation_1.py:22-39). CountVectorizer(binary) →
    * MinHashLSH(numHashTables, seeded) → the LSH self-join at
    * 1−similarity threshold ([[graft.ops.Pairs.lshJoin]]: banded on
    * user ids, each pair once as userA < userB, the vectors joined
    * back only for the Jaccard check) → top-k.
    *
    * Ties at the top-k boundary are broken by (userA, userB) so the
    * output set is deterministic (the reference's bare
    * orderBy(similarity) is tie-nondeterministic). */
  def movieTwins(ratings: DataFrame, threshold: Double = 0.5,
                 numHashTables: Int = 5, topK: Int = 100,
                 minMovies: Int = 5, seed: Long = 42L): DataFrame = {
    val sets = userMovieSets(ratings, minMovies)
    val cv = new CountVectorizer()
      .setInputCol("movies").setOutputCol("features").setBinary(true)
    // load-bearing: CountVectorizer.fit scans sets, then transform +
    // both sides of the LSH join re-read it. localCheckpoint —
    // see Dedup.minhashNearDuplicates for the lifecycle contract
    // (eager, cleaner-reclaimed, no CacheManager registration).
    val featured = cv.fit(sets).transform(sets)
      .select(col("userId").as("id"), col("features")).localCheckpoint()

    val mh = new MinHashLSH()
      .setInputCol("features").setOutputCol("hashes")
      .setNumHashTables(numHashTables).setSeed(seed)
    graft.ops.Pairs.lshJoin(mh.fit(featured), featured, None, threshold)
      .select(col("id_a").as("userA"), col("id_b").as("userB"),
              (lit(1.0) - col("dist")).as("similarity"))
      .orderBy(col("similarity").desc, col("userA"), col("userB"))
      .limit(topK)
  }

  /** Keep only users with ≥ `minRatings` ratings
    * (customer_segmentation_2.py:8-10) — a semi-join filter. */
  def activeUsers(ratings: DataFrame, minRatings: Long = 5L): DataFrame = {
    val keep = ratings.groupBy(col("userId")).count()
      .filter(col("count") >= lit(minRatings)).select(col("userId"))
    ratings.join(keep, Seq("userId"), "left_semi")
  }

  /** Pearson correlation of each pair's ratings over their common movies
    * (customer_segmentation_2.py:23-38). The movie key is part of the
    * join condition — the reference joins per-user ratings first and
    * filters movieIdA == movieIdB afterwards, which blows the
    * intermediate up to |ratingsA|·|ratingsB| per pair (SURVEY §2.3 J4).
    */
  def pairCorrelations(pairs: DataFrame, ratings: DataFrame): DataFrame = {
    val ra = ratings.select(col("userId").as("uA"),
                            col("movieId").as("mA"),
                            col("rating").as("ratingA"))
    val rb = ratings.select(col("userId").as("uB"),
                            col("movieId").as("mB"),
                            col("rating").as("ratingB"))
    pairs
      .join(ra, col("userA") === col("uA"))
      .join(rb, col("userB") === col("uB") && col("mA") === col("mB"))
      .groupBy(col("userA"), col("userB"))
      // Pearson spelled as covar/(sa*sb) with try_divide, NOT the
      // builtin corr: under ANSI mode (Spark 4 default) corr's final
      // division THROWS on a zero-variance side — e.g. a twin who
      // rated every common movie 5.0 — killing the whole job; the
      // reference's pandas corr yields NaN there (ReproductionSpec
      // surfaced this). Identical values where defined (the n−1
      // factors cancel); degenerate pairs become NULL and are
      // filtered, matching the reference's dropna.
      .agg(covar_samp(col("ratingA"), col("ratingB")).as("__cov"),
           stddev_samp(col("ratingA")).as("__sa"),
           stddev_samp(col("ratingB")).as("__sb"))
      .select(col("userA"), col("userB"),
              try_divide(col("__cov"), col("__sa") * col("__sb"))
                .as("correlation"))
      .filter(col("correlation").isNotNull && !isnan(col("correlation")))
  }

  /** The 100-TB twins formulation: same banding semantics as
    * [[movieTwins]] but vectorized with stateless feature hashing
    * (HashingTF) instead of CountVectorizer — CountVectorizer.fit
    * collects the item vocabulary to the driver (86K movies is fine;
    * billions of items is not). Hash collisions can only merge items
    * (possibly inflating similarity by ~|items|/2²⁰ per user), so the
    * reported Jaccard stays an upper estimate; the reference pipeline
    * keeps exact CountVectorizer parity. */
  def movieTwinsScalable(ratings: DataFrame, threshold: Double = 0.5,
                         numHashTables: Int = 5, topK: Int = 100,
                         minMovies: Int = 5, seed: Long = 42L,
                         numFeatures: Int = 1 << 20): DataFrame = {
    val sets = userMovieSets(ratings, minMovies)
    val candidates = graft.ops.Pairs.minhashCandidatePairs(
      sets, "userId", "movies", minJaccard = 1.0 - threshold,
      numHashTables, numFeatures, seed)
    candidates
      .select(col("id_a").as("userA"), col("id_b").as("userB"),
              col("jaccard_sim").as("similarity"))
      .orderBy(col("similarity").desc, col("userA"), col("userB"))
      .limit(topK)
  }

  /** The 100-TB formulation of pair correlation: instead of enumerating
    * all C(|U|,2) pairs (quadratic — the reference's
    * customer_segmentation_2.py shape, kept verbatim in the declared
    * oracle queries for correctness), candidates come from MinHash
    * banding over each user's item set ([[graft.ops.Pairs]]), so only
    * pairs with Jaccard-comparable item sets are correlated. Output ⊆
    * pairCorrelations(allPairs, ratings) restricted to the candidates —
    * exact corr values, approximate pair recall (tunable via
    * numHashTables). */
  def pairCorrelationsBucketed(ratings: DataFrame,
                               minJaccard: Double = 0.5,
                               numHashTables: Int = 5,
                               seed: Long = 42L): DataFrame = {
    val sets = ratings
      .select(col("userId").cast("string").as("userId"),
              col("movieId").cast("string").as("movieId"))
      .groupBy(col("userId"))
      .agg(collect_set(col("movieId")).as("items"))
    val candidates = graft.ops.Pairs
      .minhashCandidatePairs(sets, "userId", "items", minJaccard,
                             numHashTables, seed = seed)
      .select(col("id_a").as("userA"), col("id_b").as("userB"))
    pairCorrelations(
      candidates,
      ratings.select(col("userId").cast("string").as("userId"),
                     col("movieId"), col("rating")))
  }

  /** Mean pairwise correlation (customer_segmentation_2.py:41-45). */
  def averagePairwiseCorrelation(pairs: DataFrame,
                                 ratings: DataFrame): Double = {
    val r = pairCorrelations(pairs, ratings)
      .agg(avg(col("correlation")).as("avg_corr")).head()
    if (r.isNullAt(0)) Double.NaN else r.getDouble(0)
  }

  /** `numPairs` random user pairs among users whose rating variance is
    * positive (customer_segmentation_2.py:47-72), built WITHOUT the
    * reference's driver-side collect + python random.sample: users are
    * shuffled by rand(seed) and consecutive rows paired — fully
    * distributed, deterministic for a fixed seed and partitioning. */
  def randomPairs(ratings: DataFrame, numPairs: Int = 100,
                  seed: Long = 42L): DataFrame = {
    val valid = ratings.groupBy(col("userId"))
      .agg(variance(col("rating")).as("rating_variance"))
      .filter(col("rating_variance") > lit(0.0))
      .select(col("userId"))
    // Distributed top-2N by rand(seed) — fuses to TakeOrderedAndProject
    // (per-partition top-k, driver-side merge of 2N rows), so the full
    // user set is never moved to one partition. Only the ≤2N survivors
    // are window-numbered; the constant partition key bounds that window
    // at 2N rows by construction (vs an unpartitioned global window,
    // which WindowExec flags as moving ALL data to a single partition).
    // The partition key must survive constant folding (a bare lit(0) is
    // pruned from the spec, leaving an unpartitioned window), so it rides
    // along as a derived non-foldable column.
    val sampled = valid.withColumn("rnd", rand(seed))
      .orderBy(col("rnd"), col("userId"))
      .limit(2 * numPairs)
      .withColumn("bucket", (col("rnd") * lit(0)).cast("int"))
    val w = Window.partitionBy(col("bucket"))
      .orderBy(col("rnd"), col("userId"))
    val numbered = sampled
      .withColumn("rn", row_number().over(w) - 1)
    val evens = numbered.filter(col("rn") % 2 === 0)
      .select((col("rn") / 2).cast("long").as("pairId"),
              col("userId").as("userA"))
    val odds = numbered.filter(col("rn") % 2 === 1)
      .select(((col("rn") - 1) / 2).cast("long").as("pairId"),
              col("userId").as("userB"))
    evens.join(odds, Seq("pairId"), "inner")
      .select(col("userA"), col("userB"))
  }

  final case class TwinValidation(twinAvgCorrelation: Double,
                                  randomAvgCorrelation: Double)

  /** The reference's headline result: twins correlate more than random
    * pairs (customer_segmentation_2.py end-to-end; PDF p.3: 0.1041 vs
    * 0.0409 on MovieLens). */
  def validateTwins(ratings: DataFrame, twins: DataFrame,
                    numRandomPairs: Int = 100,
                    seed: Long = 42L): TwinValidation = {
    val active = activeUsers(ratings)
    TwinValidation(
      averagePairwiseCorrelation(
        twins.select(col("userA"), col("userB")), active),
      averagePairwiseCorrelation(
        randomPairs(active, numRandomPairs, seed), active))
  }
}
