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
  *    exact semantics while multiplying parallelism by `numSalts`.
  *  - CANDIDATE generation (what a 100-TB pipeline actually wants):
  *    [[minhashCandidatePairs]] enumerates only pairs whose set overlap
  *    can reach a Jaccard threshold, via MinHash banding — output
  *    ≪ C(n,2), equi-join shaped, linear shuffle.
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
    * reach `minJaccard`, via MinHash banding: HashingTF the set, draw
    * `numHashTables` MinHash signatures, equi-join on (band, signature).
    * Probability a pair at true Jaccard j survives ≥1 band ≈
    * 1−(1−j)^tables, so at j ≥ 0.5 and 5 tables ≈ 97%; raise tables for
    * recall. Output is the candidate set only — callers re-verify with
    * an exact measure (corr, exact Jaccard) downstream. */
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
    val vec = tf.transform(base)
    val mh = new MinHashLSH().setInputCol("features").setOutputCol("hashes")
      .setNumHashTables(numHashTables).setSeed(seed)
    lshJoin(mh.fit(vec), vec, None, 1.0 - minJaccard)
      .select(col("id_a"), col("id_b"),
              (lit(1.0) - col("dist")).as("jaccard_sim"))
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
    * (id, table, hash) rows; the equi-join on (table, hash) and the
    * `distinct` that folds pairs colliding in several tables move only
    * those rows and the id pairs; the vectors join back once per side
    * for the exact distance filter. (MLlib's own join carries each
    * whole row — vector, hash array, every other column — through the
    * band join and runs `distinct` over row pairs.) */
  def lshJoin(model: Model[_], a: DataFrame, b: Option[DataFrame],
              threshold: Double): DataFrame = {
    val in = LshBridge.inputCol(model)
    val hashValues = udf(LshBridge.hashValues(model))
    // non-deterministic only to the optimizer: it keeps the threshold
    // filter above the projection instead of pushing a second copy of
    // the distance below it, so each pair's distance is computed once
    val distance =
      udf(LshBridge.keyDistance(model)).asNondeterministic()
    def bands(df: DataFrame, id: String): DataFrame =
      df.select(col("id").as(id),
          posexplode(hashValues(col(in))).as(Seq("__table", "__hash")))
    def vectors(df: DataFrame, id: String, v: String): DataFrame =
      df.select(col("id").as(id), col(in).as(v))
    val other = b.getOrElse(a)
    val banded = bands(a, "id_a").join(bands(other, "id_b"),
      Seq("__table", "__hash"))
    val candidates = (if (b.isEmpty) banded.filter(col("id_a") < col("id_b"))
                      else banded)
      .select(col("id_a"), col("id_b")).distinct()
    candidates
      .join(vectors(a, "id_a", "__va"), "id_a")
      .join(vectors(other, "id_b", "__vb"), "id_b")
      .select(col("id_a"), col("id_b"),
              distance(col("__va"), col("__vb")).as("dist"))
      .filter(col("dist") < lit(threshold))
  }
}
