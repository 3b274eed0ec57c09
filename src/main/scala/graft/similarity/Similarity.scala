package graft.similarity

import graft.ops.Pairs
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Two paths, same contract:
  *  - exact brute-force cosine top-k — the correctness baseline, and the
  *    right plan when the query set is small (broadcast queries, one
  *    pass over the corpus, per-partition top-k);
  *  - LSH-bucketed ANN (random hyperplane projection on the unit
  *    sphere) — the 100-TB path: candidates come from an equi-join on
  *    (hash table, bucket), so the corpus is never crossed with itself.
  *
  * Cosine math stays in native array expressions (zip_with + aggregate,
  * codegen'd, cast to double before multiplying — float dot products
  * drift between engines). On the unit sphere cos = 1 − d²/2, so a
  * cosine threshold t maps to a Euclidean radius √(2(1−t)).
  */
object Similarity {

  /** Σ aᵢ·bᵢ in double precision (deterministic left-to-right fold) —
    * the native codegen kernel [[graft.functions.VectorKernels.dot]].
    * [[dotHof]] is the composed higher-order-function reference form it
    * replaced (bit-identical; randomized-equivalence-tested) — HOF
    * lambdas evaluate interpreted outside whole-stage codegen, which
    * was the entire runtime of the brute-force scan. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorKernels.dot(a, b)

  /** Reference HOF formulation of [[dot]] (kept for the kernel
    * equivalence spec; do not use in hot paths). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
              lit(0.0), (acc, v) => acc + v)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Unit-normalized copy of an array vector (double elements). */
  def normalize(a: Column): Column = {
    val n = l2Norm(a)
    transform(a, x => x.cast("double") / n)
  }

  /** Exact cosine top-k: for every query row, the k nearest corpus rows
    * by cosine, ties broken by corpus id. Output:
    * (query_id, neighbor_id, cos, rank).
    *
    * Plan: broadcast(queries) × corpus — ONE pass over the corpus with
    * |Q| dot products per row, then a per-query top-k window. Right for
    * |Q| ≪ |corpus| (the online-serving shape). For |Q| ≈ |corpus| use
    * [[cosinePairsLsh]] or IVF-partitioned search instead. */
  def cosineTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                 qId: String = "vec_id", qVec: String = "embedding",
                 cId: String = "vec_id", cVec: String = "embedding")
      : DataFrame = {
    // norms computed ONCE per row (not per pair); cos is then one dot +
    // one divide per pair — all inside codegen via the native kernel
    val q = queries.select(col(qId).as("query_id"), col(qVec).as("qv"))
      .withColumn("qn", l2Norm(col("qv")))
    val c = corpus.select(col(cId).as("neighbor_id"), col(cVec).as("cv"))
      .withColumn("cn", l2Norm(col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_raw").desc, col("neighbor_id"))
    broadcast(q).crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_raw",
        dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= lit(k))
      .select(col("query_id"), col("neighbor_id"),
              col("cos_raw").as("cos"), col("rank"))
  }

  /** All pairs with cosine ≥ minCosine via random-hyperplane LSH:
    * normalize → BucketedRandomProjectionLSH → the id-only banded
    * self-join ([[graft.ops.Pairs.lshJoin]]) → exact distance filter
    * at radius √(2(1−t)). `idCol` must be unique. Output:
    * (id_a, id_b, cos), id_a < id_b. Zero-norm vectors are dropped
    * (cosine undefined). */
  def cosinePairsLsh(emb: DataFrame, vecCol: String = "embedding",
                     idCol: String = "vec_id", minCosine: Double = 0.9,
                     bucketLength: Double = 0.25, numHashTables: Int = 4,
                     seed: Long = 42L): DataFrame = {
    // load-bearing for the self-join (normalize + vectorize once);
    // localCheckpoint — see Dedup.minhashNearDuplicates for the
    // lifecycle contract (eager, cleaner-reclaimed, no CacheManager
    // registration)
    val unit = emb
      .select(col(idCol).as("id"), col(vecCol).as("raw"))
      .filter(l2Norm(col("raw")) > lit(0.0))
      .select(col("id"), array_to_vector(normalize(col("raw"))).as("v"))
      .localCheckpoint()
    val brp = new BucketedRandomProjectionLSH()
      .setInputCol("v").setOutputCol("hashes")
      .setBucketLength(bucketLength).setNumHashTables(numHashTables)
      .setSeed(seed)
    val radius = math.sqrt(2.0 * (1.0 - minCosine))
    Pairs.lshJoin(brp.fit(unit), unit, None, radius)
      .select(col("id_a"), col("id_b"),
              (lit(1.0) - col("dist") * col("dist") / 2.0).as("cos"))
  }

  /** IVF (inverted-file) ANN top-k: a k-means coarse quantizer assigns
    * every corpus vector to one of `nCells` cells; each query probes its
    * `nProbe` nearest cells and ranks only those cells' vectors — the
    * classic FAISS-style recall/cost dial, here as a pure equi-join
    * plan: corpus is scanned once to assign cells (map + tiny broadcast
    * of centroids), the candidate join is `query_cell = corpus_cell`,
    * and per-query top-k runs with WindowGroupLimit. At 100 TB the
    * corpus side would be WRITTEN partitioned by cell, turning every
    * search into a partition-pruned scan of nProbe/nCells of the data.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nCells: Int = 16, nProbe: Int = 4, seed: Long = 42L,
              qId: String = "vec_id", qVec: String = "embedding",
              cId: String = "vec_id", cVec: String = "embedding")
      : DataFrame = {
    // load-bearing: KMeans.fit ITERATES over c, then transform reads
    // it again; localCheckpoint — see Dedup.minhashNearDuplicates for
    // the lifecycle contract
    val c = corpus
      .select(col(cId).as("neighbor_id"), col(cVec).as("cv"))
      .filter(l2Norm(col("cv")) > lit(0.0))
      .withColumn("v", array_to_vector(normalize(col("cv"))))
      .localCheckpoint()
    val km = new KMeans().setK(nCells).setSeed(seed)
      .setFeaturesCol("v").setPredictionCol("cell")
    // drop the KMeans training summary (frame + session) the predict
    // UDF's closure would otherwise carry — see SummaryBridge
    val model =
      org.apache.spark.ml.graft.SummaryBridge.dropSummary(km.fit(c))
    val cells = model.transform(c).select(
      col("neighbor_id"), col("cv"), col("cell"))
    // centroids are nCells tiny vectors — ship them as a literal frame,
    // rank each query's cells, keep nProbe (cross join is |Q| × nCells)
    val spark = corpus.sparkSession
    import spark.implicits._
    val centers = model.clusterCenters.zipWithIndex
      .map { case (v, i) => (i, v.toArray.map(_.toFloat).toSeq) }
      .toSeq.toDF("cell", "center")
    val q = queries
      .select(col(qId).as("query_id"), col(qVec).as("qv"))
      .filter(l2Norm(col("qv")) > lit(0.0))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("center_cos").desc, col("cell"))
    val probed = q.crossJoin(broadcast(centers))
      .withColumn("center_cos", cosine(col("qv"), col("center")))
      .withColumn("probe_rank", row_number().over(wProbe))
      .filter(col("probe_rank") <= lit(nProbe))
      .select(col("query_id"), col("qv"), col("cell"))
    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_raw").desc, col("neighbor_id"))
    probed.join(cells, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_raw", cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= lit(k))
      .select(col("query_id"), col("neighbor_id"),
              col("cos_raw").as("cos"), col("rank"))
  }

  /** Materialized IVF index: the corpus written as parquet PARTITIONED
    * BY cell (plus a tiny `centroids` table alongside) — the concrete
    * form of the [[ivfTopK]] scale story. At 100 TB the index is built
    * once; every search then reads only its probed cells' directories
    * (partition pruning, proven in the spec via
    * [[graft.sources.Layout.isPartitionPruned]]). Same seed ⇒ same
    * quantizer ⇒ results identical to the in-memory [[ivfTopK]]. */
  def writeIvfIndex(corpus: DataFrame, path: String, nCells: Int = 16,
                    seed: Long = 42L, cId: String = "vec_id",
                    cVec: String = "embedding"): Unit = {
    val c = corpus
      .select(col(cId).as("neighbor_id"), col(cVec).as("cv"))
      .filter(l2Norm(col("cv")) > lit(0.0))
      .withColumn("v", array_to_vector(normalize(col("cv"))))
    val km = new KMeans().setK(nCells).setSeed(seed)
      .setFeaturesCol("v").setPredictionCol("cell")
    val model =
      org.apache.spark.ml.graft.SummaryBridge.dropSummary(km.fit(c))
    model.transform(c)
      .select(col("neighbor_id"), col("cv"), col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/cells")
    val spark = corpus.sparkSession
    import spark.implicits._
    model.clusterCenters.zipWithIndex
      .map { case (v, i) => (i, v.toArray.map(_.toFloat).toSeq) }
      .toSeq.toDF("cell", "center")
      .write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Search a [[writeIvfIndex]] index: rank cells per query against the
    * (tiny) centroid table, collect the probed cell ids, and scan ONLY
    * those partitions — `cell IN (...)` resolves against directory
    * names before any file opens. The driver sees |Q|·nProbe cell ids,
    * never data. */
  def searchIvfIndex(spark: SparkSession, path: String, queries: DataFrame,
                     k: Int, nProbe: Int = 4, qId: String = "vec_id",
                     qVec: String = "embedding"): DataFrame = {
    val centers = spark.read.parquet(s"$path/centroids")
    val q = queries
      .select(col(qId).as("query_id"), col(qVec).as("qv"))
      .filter(l2Norm(col("qv")) > lit(0.0))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("center_cos").desc, col("cell"))
    // deliberately NOT cached: |Q|·nCells rows through a broadcast cross
    // join is cheaper to recompute for its two consumers than to leave a
    // cached block leaking per search call in a long-lived session
    // (ADVICE r3)
    val probed = q.crossJoin(broadcast(centers))
      .withColumn("center_cos", cosine(col("qv"), col("center")))
      .withColumn("probe_rank", row_number().over(wProbe))
      .filter(col("probe_rank") <= lit(nProbe))
      .select(col("query_id"), col("qv"), col("cell"))
    val probedCells = probed.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val cells = spark.read.parquet(s"$path/cells")
      .filter(col("cell").isin(probedCells: _*))
    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_raw").desc, col("neighbor_id"))
    probed.join(cells, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_raw", cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= lit(k))
      .select(col("query_id"), col("neighbor_id"),
              col("cos_raw").as("cos"), col("rank"))
  }

  /** ANN top-k: LSH candidate join at `radius`, then per-query top-k.
    * Recall < 1 by construction; widen radius / add hash tables to
    * raise it (property-tested ≥ 0.9 against [[cosineTopK]]). */
  def annTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              minCosine: Double = 0.0, bucketLength: Double = 0.25,
              numHashTables: Int = 8, seed: Long = 42L,
              qId: String = "vec_id", qVec: String = "embedding",
              cId: String = "vec_id", cVec: String = "embedding")
      : DataFrame = {
    val q = queries
      .select(col(qId).as("id"), col(qVec).as("raw"))
      .filter(l2Norm(col("raw")) > lit(0.0))
      .select(col("id"), array_to_vector(normalize(col("raw"))).as("v"))
    // load-bearing for the corpus side of the LSH join;
    // localCheckpoint — see Dedup.minhashNearDuplicates for the
    // lifecycle contract
    val c = corpus
      .select(col(cId).as("id"), col(cVec).as("raw"))
      .filter(l2Norm(col("raw")) > lit(0.0))
      .select(col("id"), array_to_vector(normalize(col("raw"))).as("v"))
      .localCheckpoint()
    val brp = new BucketedRandomProjectionLSH()
      .setInputCol("v").setOutputCol("hashes")
      .setBucketLength(bucketLength).setNumHashTables(numHashTables)
      .setSeed(seed)
    val model = brp.fit(c)
    val radius = math.sqrt(2.0 * (1.0 - minCosine))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_raw").desc, col("neighbor_id"))
    Pairs.lshJoin(model, q, Some(c), radius)
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a").as("query_id"), col("id_b").as("neighbor_id"),
              (lit(1.0) - col("dist") * col("dist") / 2.0).as("cos_raw"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= lit(k))
      .select(col("query_id"), col("neighbor_id"),
              col("cos_raw").as("cos"), col("rank"))
  }
}
