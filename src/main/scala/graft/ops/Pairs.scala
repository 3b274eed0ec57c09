package graft.ops

import org.apache.spark.ml.Model
import org.apache.spark.ml.feature.{HashingTF, MinHashLSH}
import org.apache.spark.ml.graft.LshBridge
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pair-enumeration primitives — the scale-critical core of every
  * "compare entities pairwise" pipeline (user twins, correlation
  * validation, near-dup).
  *
  * Two regimes:
  *  - ALL-PAIRS-per-key semantics (the reference's
  *    customer_segmentation_2.py:23-33 double self-join): inherently
  *    Σ_k C(n_k, 2) output. The danger at scale is not the output size
  *    but the SHUFFLE KEY: joining on a low-cardinality key (events has
  *    5 event_types) caps parallelism at 5 partitions — one straggler
  *    executor per key does C(n_k,2) work. [[saltedSelfPairs]] keeps the
  *    exact semantics while multiplying parallelism by `numSalts`;
  *    [[compactSelfPairs]] is the broadcast theta-join form.
  *  - CANDIDATE generation (what a 100-TB pipeline actually wants):
  *    every near-duplicate detector explodes a signature into
  *    (band, bucket) keys and meets its candidates through ONE band
  *    join, [[bandJoin]] — equi-join on (band, bucket), id_a < id_b,
  *    `distinct` — before checking the true distance (the pigeonhole
  *    band construction of Manku et al., WWW 2007). Its callers:
  *    [[lshJoin]] (MinHash and random-projection tables: the movie
  *    twins, [[minhashCandidatePairs]], text MinHash dedup, embedding
  *    pairs, ANN top-k) and `Dedup.bandedHammingPairs` (64-bit bands:
  *    SimHash, image pHash, audio fingerprints, video frame pHash).
  *    Output ≪ C(n,2), equi-join shaped, linear shuffle.
  */
object Pairs {

  /** All (a, b) row pairs sharing `keyCol` with a.idCol < b.idCol —
    * identical output to a plain self-equi-join, but the left side is
    * salted into `numSalts` buckets and the right side replicated once
    * per bucket, so the join shuffle has |keys|·numSalts reducers
    * instead of |keys|. Replication cost: the (small, pre-aggregated)
    * input is shuffled numSalts+1 times total — the price of turning a
    * 5-way parallel quadratic stage into a 5·S-way one.
    *
    * Extra payload columns survive with `_a`/`_b` suffixes. */
  def saltedSelfPairs(df: DataFrame, keyCol: String, idCol: String,
                      payload: Seq[String] = Nil,
                      numSalts: Int = 8): DataFrame = {
    def side(suffix: String): DataFrame =
      df.select((col(keyCol).as("key") +: col(idCol).as(s"id$suffix") +:
        payload.map(c => col(c).as(s"${c}$suffix"))): _*)
    // deterministic salt: bucket of the LEFT row id (any function of the
    // left row works — each left row lives in exactly one bucket, and
    // the right side is present in all of them, so every qualifying
    // pair appears exactly once)
    val a = side("_a").withColumn("salt",
      pmod(xxhash64(col("id_a")), lit(numSalts)).cast("int"))
    val b = side("_b").withColumn("salt",
      explode(sequence(lit(0), lit(numSalts - 1))))
    a.join(b, Seq("key", "salt"))
      .filter(col("id_a") < col("id_b"))
      .drop("salt")
  }

  /** All entity pairs (id_a < id_b) over PRE-COMPACTED per-entity rows,
    * via a broadcast nested-loop theta join — every non-id column
    * survives with `_a`/`_b` suffixes.
    *
    * When entities compact to one small row each (a key set, a key→value
    * map), this beats the key-equi-join + re-group form: the quadratic
    * work is inherent to all-pairs semantics either way, but here it is
    * pure partition-local COMPUTE — no skewed low-cardinality shuffle,
    * no |pairs|·|keys| intermediate rows through a hash aggregate. The
    * left side keeps its scan partitioning; the right side ships once as
    * a broadcast (|entities| small rows). Use while ONE side fits in a
    * broadcast (~10⁵–10⁶ compacted rows); beyond that, the honest
    * scale answer is candidate generation ([[minhashCandidatePairs]]),
    * not a bigger all-pairs engine.
    *
    * The probe side is round-robin respread over `slices` partitions
    * first: compacted frames are tiny post-aggregation, so AQE coalesces
    * them to ONE partition — without the respread the whole quadratic
    * nested-loop stage (and everything fused after it) runs on a single
    * core. */
  def compactSelfPairs(perEntity: DataFrame, idCol: String,
                       slices: Int = 0): DataFrame = {
    val n = if (slices > 0) slices
            else perEntity.sparkSession.sparkContext.defaultParallelism
    def side(sfx: String): DataFrame =
      perEntity.select(perEntity.columns.map(c => col(c).as(c + sfx)): _*)
    side("_a").repartition(n).join(broadcast(side("_b")),
      col(s"${idCol}_a") < col(s"${idCol}_b"))
  }

  /** Candidate pairs (id_a < id_b) whose item-set Jaccard similarity can
    * reach `minJaccard`, via MinHash banding: HashingTF the set, then
    * [[minhashSelfJoin]]. Probability a pair at true Jaccard j survives
    * ≥1 band ≈ 1−(1−j)^tables, so at j ≥ 0.5 and 5 tables ≈ 97%; raise
    * tables for recall. Output: (id_a, id_b, jaccard_sim) — callers
    * needing more than the MinHash-estimated measure re-verify with an
    * exact one (corr, exact Jaccard) downstream. */
  def minhashCandidatePairs(sets: DataFrame, idCol: String,
                            itemsCol: String, minJaccard: Double = 0.5,
                            numHashTables: Int = 5,
                            numFeatures: Int = 1 << 20,
                            seed: Long = 42L): DataFrame = {
    val base = sets
      .select(col(idCol).as("id"), col(itemsCol).as("items"))
      .filter(size(col("items")) > 0)
    val tf = new HashingTF().setInputCol("items").setOutputCol("features")
      .setNumFeatures(numFeatures).setBinary(true)
    minhashSelfJoin(tf.transform(base), 1.0 - minJaccard, numHashTables,
                    seed)
      .withColumnRenamed("sim", "jaccard_sim")
  }

  /** The MinHash tail shared by [[minhashCandidatePairs]] and
    * `Segmentation.movieTwins`: fit MinHashLSH on `vec` (`id`, binary
    * `features`) and run the [[lshJoin]] self-join at Jaccard distance
    * < `maxDistance` — the distance bound, as given, so a caller's
    * threshold meets no extra float subtraction. Output:
    * (id_a, id_b, sim = 1 − dist).
    *
    * localCheckpoint (NOT cache) serves the fit and BOTH sides of the
    * self-join: the vectorizing pass runs exactly once, and unlike
    * cache() the blocks are (a) never registered in CacheManager's
    * canonicalized-plan map — so a later identical plan over
    * overwritten input can't be silently served stale results, and
    * repeat-pass benchmarks measure the operator, not a leaked cache —
    * and (b) reclaimed by the ContextCleaner when the returned frame is
    * GC'd, with no unpersist obligation on the caller. Tradeoff:
    * materialization is EAGER (the pass runs at call time) and
    * checkpoint blocks are not recomputable after executor loss — the
    * same posture as `Dedup.connectedComponents`' iteration state,
    * acceptable for a single-query lifetime. (Same contract:
    * `Similarity.cosinePairsLsh` / `annTopK` / `ivfTopK`,
    * `Dedup.semanticCells`.) */
  private[graft] def minhashSelfJoin(vec: DataFrame, maxDistance: Double,
                                     numHashTables: Int,
                                     seed: Long): DataFrame = {
    val v = vec.localCheckpoint()
    val mh = new MinHashLSH().setInputCol("features").setOutputCol("hashes")
      .setNumHashTables(numHashTables).setSeed(seed)
    lshJoin(mh.fit(v), v, None, maxDistance)
      .select(col("id_a"), col("id_b"), (lit(1.0) - col("dist")).as("sim"))
  }

  /** The band join: the distinct (id_a, id_b, carried_a…, carried_b…)
    * rows of banded frames that share a (band, bucket) key. `a` and `b`
    * carry `id`, `band`, `bucket` and the `carried` columns (suffixed
    * `_a`/`_b` in the output); `b = None` is the self-join, each
    * unordered pair once as id_a < id_b. `distinct` folds the pairs
    * that collide in several bands, so only the narrow banded rows and
    * the candidate rows cross the shuffles. */
  private[graft] def bandJoin(a: DataFrame, b: Option[DataFrame],
                              carried: Seq[String] = Nil): DataFrame = {
    def side(df: DataFrame, sfx: String): DataFrame =
      df.select(Seq(col("id").as(s"id$sfx"), col("band"), col("bucket")) ++
        carried.map(c => col(c).as(c + sfx)): _*)
    val joined = side(a, "_a").join(side(b.getOrElse(a), "_b"),
      Seq("band", "bucket"))
    (if (b.isEmpty) joined.filter(col("id_a") < col("id_b")) else joined)
      .select(Seq(col("id_a"), col("id_b")) ++
        carried.map(c => col(c + "_a")) ++ carried.map(c => col(c + "_b")): _*)
      .distinct()
  }

  /** The LSH similarity join, run on ids: the pairs whose hashes under
    * `model` (a MinHash or bucketed-random-projection model) collide
    * in at least one hash table and whose key distance (Jaccard for
    * MinHash, Euclidean for bucketed random projection) is below
    * `threshold` — MLlib's `LSHModel` join semantics, pair for pair and
    * distance for distance. `a` and `b` carry an `id` column, unique
    * per side, and the model's input vector column. `b = None` is the
    * self-join: each unordered pair once, as id_a < id_b. Output:
    * (id_a, id_b, dist).
    *
    * Plan: each side's hash values posexplode into narrow
    * (id, table, hash) rows; the [[bandJoin]] on (table, hash) and its
    * `distinct` move only those rows and the id pairs; the vectors join
    * back once per side for the exact distance filter. (MLlib's own
    * join carries each whole row — vector, hash array, every other
    * column — through the band join and runs `distinct` over row
    * pairs.) */
  def lshJoin(model: Model[_], a: DataFrame, b: Option[DataFrame],
              threshold: Double): DataFrame = {
    val in = LshBridge.inputCol(model)
    val hashValues = udf(LshBridge.hashValues(model))
    // non-deterministic only to the optimizer: it keeps the threshold
    // filter above the projection instead of pushing a second copy of
    // the distance below it, so each pair's distance is computed once
    val distance =
      udf(LshBridge.keyDistance(model)).asNondeterministic()
    def bands(df: DataFrame): DataFrame =
      df.select(col("id"),
          posexplode(hashValues(col(in))).as(Seq("band", "bucket")))
    def vectors(df: DataFrame, id: String, v: String): DataFrame =
      df.select(col("id").as(id), col(in).as(v))
    val other = b.getOrElse(a)
    bandJoin(bands(a), b.map(bands))
      .join(vectors(a, "id_a", "__va"), "id_a")
      .join(vectors(other, "id_b", "__vb"), "id_b")
      .select(col("id_a"), col("id_b"),
              distance(col("__va"), col("__vb")).as("dist"))
      .filter(col("dist") < lit(threshold))
  }
}
