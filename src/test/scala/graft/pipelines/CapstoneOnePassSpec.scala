package graft.pipelines

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.{Probe, Tables, TestSpark}
import graft.ml.RankingMetricsDF
import graft.ops.{GlobalOrdinal, Pairs}
import org.apache.spark.ml.feature.{BucketedRandomProjectionLSH,
  CountVectorizer, MinHashLSH}
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The capstone steps that compute each intermediate once —
  * [[Popularity.evaluateDampings]], [[Pairs.lshJoin]] and the
  * checkpointed, driver-keyed [[Splitting.split]] — against the
  * spellings they replaced, kept below as reference models, in the
  * bench session shape (AQE off, 8 shuffle partitions): the same
  * doubles bit for bit, the same pairs and distances, the same rows
  * in the same partitions. Also pins the jobs the grid and the split
  * run. */
class CapstoneOnePassSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  lazy val bench: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    s
  }

  /** The per-damping join path and the join-based split, as they were
    * before the one-pass rewrite. */
  private object Reference {
    private def sortedListByRank(rank: Column, item: Column): Column =
      transform(array_sort(collect_list(struct(rank.as("r"), item.as("x")))),
                e => e.getField("x"))

    def predictedItems(train: DataFrame, test: DataFrame, damping: Double,
                       k: Int): DataFrame = {
      val w = Window.partitionBy(col("userId"))
        .orderBy(col("predicted_rating").desc, col("movieId"))
      test.join(Popularity.movieScores(train, damping), Seq("movieId"), "left")
        .withColumn("predicted_rating", col("popularity_score"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= lit(k))
        .groupBy(col("userId"))
        .agg(sortedListByRank(col("rank"), col("movieId"))
               .as("predicted_items"))
    }

    def groundTruth(test: DataFrame): DataFrame = {
      val means = test.groupBy(col("userId"))
        .agg(avg(col("rating")).as("mean_rating"))
      val w = Window.partitionBy(col("userId"))
        .orderBy(col("rating").desc, col("movieId"))
      test.join(means, Seq("userId"), "inner")
        .filter(col("rating") > col("mean_rating"))
        .withColumn("rank", row_number().over(w))
        .groupBy(col("userId"))
        .agg(sortedListByRank(col("rank"), col("movieId")).as("actual_items"))
    }

    def trainTest(train: DataFrame, test: DataFrame, damping: Double,
                  k: Int): RankingMetricsDF.Scores =
      RankingMetricsDF.scores(predictedItems(train, test, damping, k)
          .join(groundTruth(test), Seq("userId"), "inner"),
        "predicted_items", "actual_items", k)

    def split(ratings: DataFrame, seed: Long,
              minRatings: Long): Splitting.Splits = {
      val cleaned = ratings.na.drop(Seq("userId", "movieId", "rating"))
      val popular = cleaned.groupBy(col("movieId"))
        .agg(count(col("rating")).as("rating_count"))
        .filter(col("rating_count") >= lit(minRatings))
        .select(col("movieId"))
      val filtered = cleaned.join(popular, Seq("movieId"), "left_semi")
      val Array(train0, val0, test0) =
        filtered.randomSplit(Array(0.8, 0.1, 0.1), seed)
      def foldBack(split: DataFrame): (DataFrame, DataFrame) = {
        val ids = split.select(col("movieId")).distinct()
        val Array(back, _) = ids.randomSplit(Array(0.4, 0.6), seed)
        (split.join(back, Seq("movieId"), "left_semi"),
         split.join(back, Seq("movieId"), "left_anti"))
      }
      val (valBack, valKeep) = foldBack(val0)
      val (testBack, testKeep) = foldBack(test0)
      Splitting.Splits(train0.union(valBack).union(testBack), valKeep,
        testKeep)
    }
  }

  private def ratings(seed: Long): DataFrame = {
    val r = SyntheticRatings.generate(bench, nUsers = 600, nMovies = 200,
      minHeavy = 30, maxHeavy = 90, seed = seed).cache()
    r.count()
    r
  }

  private def bits(s: RankingMetricsDF.Scores): Seq[Long] =
    Seq(s.precision, s.recall, s.map, s.ndcg)
      .map(java.lang.Double.doubleToRawLongBits)

  /** Every partition's rows, in order. */
  private def placed(df: DataFrame): Seq[Seq[Row]] =
    df.rdd.glom().collect().map(_.toSeq).toSeq

  private def placed(s: Splitting.Splits): Seq[Seq[Seq[Row]]] =
    Seq(placed(s.train), placed(s.validation), placed(s.test))

  test("evaluateDampings equals the per-damping join path bit for bit; " +
       "the join-free ground truth equals the self-join one") {
    val dampings = Seq(10.0, 100.0, 1000.0, 10000.0)
    for (seed <- Seq(7L, 8L)) {
      val r = ratings(seed)
      val sp = Splitting.split(r)
      for (k <- Seq(50, 100)) {
        val got = Popularity.evaluateDampings(sp.train, sp.validation,
          dampings, k)
        val want = dampings.map(d =>
          Reference.trainTest(sp.train, sp.validation, d, k))
        assert(got.map(bits) == want.map(bits),
          s"seed $seed k $k: $got != $want")
      }
      def lists(df: DataFrame): Map[Any, Seq[Any]] =
        df.collect().map(row => row.get(0) -> row.getSeq[Any](1)).toMap
      val truth = lists(Popularity.groundTruth(sp.test))
      assert(truth.nonEmpty && truth.values.forall(_.nonEmpty))
      assert(truth == lists(Reference.groundTruth(sp.test)), s"seed $seed")
      r.unpersist()
    }
  }

  /** (id_a, id_b, distance bits) rows, sorted: a multiset, so a pair
    * emitted twice shows. */
  private def pairRows(df: DataFrame): Seq[String] =
    df.collect().map(r =>
      s"${r.get(0)}|${r.get(1)}|${java.lang.Double.doubleToRawLongBits(r.getDouble(2))}")
      .toSeq.sorted

  /** MLlib's own LSH join in [[pairRows]] form. */
  private def mllibPairs(joined: Dataset[_], self: Boolean): Seq[String] =
    pairRows(joined.toDF()
      .filter(if (self) col("datasetA.id") < col("datasetB.id") else lit(true))
      .select(col("datasetA.id"), col("datasetB.id"), col("dist")))

  test("lshJoin equals MLlib's LSH join: MinHash self-join, BRP self-join " +
       "and BRP two-sided, same pairs and distances") {
    val r = ratings(7L)
    // planted clones give the MinHash join Jaccard-1.0 pairs to find
    val clones = r.filter(col("userId") % 9 === 0)
      .withColumn("userId", col("userId") + 100000)
    val sets = Segmentation.userMovieSets(r.union(clones))
    val featured = new CountVectorizer().setInputCol("movies")
      .setOutputCol("features").setBinary(true).fit(sets).transform(sets)
      .select(col("userId").as("id"), col("features")).cache()
    val mh = new MinHashLSH().setInputCol("features").setOutputCol("hashes")
      .setNumHashTables(5).setSeed(42L).fit(featured)
    val mhGot = pairRows(Pairs.lshJoin(mh, featured, None, 0.8))
    assert(mhGot.size > clones.select("userId").distinct().count())
    assert(mhGot == mllibPairs(
      mh.approxSimilarityJoin(featured, featured, 0.8, "dist"), self = true))

    val unit = Tables.embeddings(bench, TestSpark.sf0001)
      .filter(graft.similarity.Similarity.l2Norm(col("embedding")) > 0.0)
      .select(col("vec_id").as("id"),
        array_to_vector(graft.similarity.Similarity.normalize(
          col("embedding"))).as("v"))
      .cache()
    val brp = new BucketedRandomProjectionLSH().setInputCol("v")
      .setOutputCol("hashes").setBucketLength(0.5).setNumHashTables(4)
      .setSeed(42L).fit(unit)
    val selfGot = pairRows(Pairs.lshJoin(brp, unit, None, 1.2))
    assert(selfGot.nonEmpty)
    assert(selfGot == mllibPairs(
      brp.approxSimilarityJoin(unit, unit, 1.2, "dist"), self = true))
    val queries = unit.filter(col("id") < 40)
    val twoGot = pairRows(Pairs.lshJoin(brp, queries, Some(unit), 1.2))
    assert(twoGot.exists(p => p.split('|')(0) != p.split('|')(1)))
    assert(twoGot == mllibPairs(
      brp.approxSimilarityJoin(queries, unit, 1.2, "dist"), self = false))
    Seq(featured, unit, r).foreach(_.unpersist())
  }

  test("split: the driver-key path, the join path (cap 0) and the " +
       "pre-checkpoint spelling place the same rows in the same partitions") {
    val r = ratings(7L)
    val driver = placed(Splitting.splitWith(r, 42L, 5L,
      GlobalOrdinal.DriverRowCap))
    assert(driver.forall(_.flatten.nonEmpty))
    assert(driver == placed(Splitting.splitWith(r, 42L, 5L, 0L)))
    assert(driver == placed(Reference.split(r, 42L, 5L)))
    r.unpersist()
  }

  test("jobs: gridSearch over 4 dampings and split with its counts") {
    val r = ratings(8L)
    val sp = Splitting.split(r)
    val (train, validation) = (sp.train.cache(), sp.validation.cache())
    train.count(); validation.count()
    val grid = Probe.record(bench) {
      Popularity.gridSearch(train, validation, k = 100): Unit
    }
    val split = Probe.record(bench) {
      val s = Splitting.split(r)
      Seq(s.train, s.validation, s.test).foreach(_.count())
    }
    assert((grid.jobs.size, split.jobs.size) == (2, 7),
      (grid.jobs ++ split.jobs).mkString("\n"))
    Seq(train, validation, r).foreach(_.unpersist())
  }

  test("under src/main/scala nothing calls MLlib's approxSimilarityJoin") {
    val offenders = Files.walk(Path.of("src/main/scala")).iterator().asScala
      .map(_.toString)
      .filter(p => p.endsWith(".scala") &&
        Files.readString(Path.of(p)).contains("approxSimilarityJoin")).toSeq
    assert(offenders.isEmpty, offenders)
  }
}
