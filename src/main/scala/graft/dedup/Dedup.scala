package graft.dedup

import graft.functions.SimHash64.simhash64
import graft.multimodal.{ImagePhash, MediaKernel, MediaPhash}
import graft.ops.{GlobalOrdinal, Pairs}
import graft.text.Text
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.reflect.runtime.universe.TypeTag

/** Deduplication operators for a 100-TB training-data pipeline.
  *
  * Document detectors, in increasing tolerance:
  *  - exact: content-hash groupBy — one shuffle on a 256-bit key
  *    (plus the normalized-content key and the incremental anti-join).
  *  - MinHash+LSH: shingle sets → MinHash signatures → banded
  *    candidate join (the machinery of the reference's movie-twin
  *    pipeline, customer_segmentation_1.py:22-31, pointed at text).
  *  - SimHash: 64-bit signature, band-bucketed Hamming join — the
  *    cheapest per-byte detector (one long per doc).
  *  - n-gram Jaccard: exact set overlap via a pruned inverted shingle
  *    index — the ground-truth detector the approximate ones are
  *    validated against (also cross-corpus, and behind clustering
  *    into kept/dropped docs and soft weights).
  * Media and embedding detectors: image pHash, audio fingerprint and
  * video frame pHash (64-bit signatures from the multimodal kernels,
  * the SimHash join), embedding cosine pairs (random-projection LSH)
  * and SemDeDup's within-cluster pairs. Sub-document passes: line
  * dedup, exact-substring span dedup, benchmark decontamination.
  *
  * Every banded detector — MinHash, SimHash and the three media
  * signatures, embedding pairs — meets its candidates through the one
  * band join [[graft.ops.Pairs.bandJoin]]: equi-join on (band, bucket),
  * id_a < id_b, `distinct`, then the true distance.
  *
  * Scale design: nothing here collects to the driver. HashingTF (not
  * CountVectorizer) vectorizes shingles for LSH — CountVectorizer.fit
  * builds the vocabulary ON THE DRIVER, which at web scale is billions
  * of distinct shingles; HashingTF is stateless feature hashing, one
  * map-side pass. All candidate generation is equi-join shaped (band →
  * bucket), so Spark shuffles each signature once instead of comparing
  * |D|² pairs.
  */
object Dedup {

  /** Exact-duplicate groups: one row per distinct content, carrying the
    * canonical (minimum) id and the copy count. */
  def exactGroups(docs: DataFrame, textCol: String = "text",
                  idCol: String = "doc_id"): DataFrame =
    docs.groupBy(sha2(col(textCol), 256).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"),
           count(lit(1)).as("n_copies"))

  /** Corpus duplication report, the histogram form: one row per exact
    * cluster SIZE with the group count, total docs, and excess
    * (beyond-first) copies — the standard corpus-health table a dedup
    * pass is judged by ("how much of the crawl is copies, and in what
    * shape: many pairs or a few megaclusters"). Two map-side-combined
    * aggregates (hash groups, then size groups) — nothing leaves the
    * executors but the ≤|distinct sizes| histogram rows. */
  def duplicationHistogram(docs: DataFrame, textCol: String = "text",
                           idCol: String = "doc_id"): DataFrame =
    exactGroups(docs, textCol, idCol)
      .groupBy(col("n_copies"))
      .agg(count(lit(1)).as("n_groups"),
        sum(col("n_copies")).cast("long").as("n_docs"),
        sum(col("n_copies") - 1L).cast("long").as("n_excess"))

  /** The one-row rate summary over [[duplicationHistogram]]:
    * `(n_docs, n_distinct, n_excess, dup_frac)` with dup_frac =
    * excess/total — the headline number. */
  def duplicationRate(docs: DataFrame, textCol: String = "text",
                      idCol: String = "doc_id"): DataFrame =
    duplicationHistogram(docs, textCol, idCol)
      .agg(coalesce(sum(col("n_docs")), lit(0L)).cast("long")
             .as("n_docs"),
        coalesce(sum(col("n_groups")), lit(0L)).cast("long")
          .as("n_distinct"),
        coalesce(sum(col("n_excess")), lit(0L)).cast("long")
          .as("n_excess"))
      .select(col("n_docs"), col("n_distinct"), col("n_excess"),
        when(col("n_docs") === 0L, lit(0.0))
          .otherwise(col("n_excess").cast("double") /
            col("n_docs").cast("double")).as("dup_frac"))

  /** Normalized-content dedup key: SHA-256 of the case-folded,
    * [[graft.text.Text.normalizeText]]-canonicalized text. Two raw
    * variants that differ only in Unicode composition form, control
    * characters, whitespace runs, or case fold to the SAME key — the
    * duplicate class exact hashing misses on crawled corpora (the same
    * page re-crawled through a different extractor). All codegen'd
    * scalar work, so keying a 100-TB scan is map-side. */
  def normalizedKey(text: Column): Column =
    sha2(lower(Text.normalizeText(text)), 256)

  /** Normalization-aware exact dedup that keeps the CLEANEST copy: rows
    * group by [[normalizedKey]], and within each group the survivor is
    * the row minimizing `(length(raw text), id)` — the shortest raw
    * variant is by construction the one with the least normalization
    * junk (no control bytes, no whitespace padding), and the id breaks
    * exact ties deterministically. Unlike [[dropExactDuplicates]] the
    * members of a group here genuinely DIFFER in raw bytes, so which
    * copy survives matters; "already clean beats cleaned-up" keeps the
    * output byte-stable under re-runs that add mutated copies.
    *
    * One hash aggregate (`min_by` on a struct ordering key) — one
    * shuffle on the 256-bit key, no join, no window sort; same 100-TB
    * shape as [[dropExactDuplicates]]. Output: every column of the
    * kept row plus `n_copies`. */
  def dropNormalizedDuplicates(docs: DataFrame, textCol: String = "text",
                               idCol: String = "doc_id"): DataFrame = {
    val cols = docs.columns.toIndexedSeq
    docs.groupBy(normalizedKey(col(textCol)).as("__norm_hash"))
      .agg(min_by(struct(cols.map(col): _*),
                  struct(length(col(textCol)), col(idCol))).as("row"),
           count(lit(1)).as("n_copies"))
      .select(cols.map(c => col(s"row.$c")) :+ col("n_copies"): _*)
  }

  /** Exact dedup: keep the full row with the minimum id per distinct
    * content. min_by in a single hash aggregate — one shuffle, no join,
    * no window sort. */
  def dropExactDuplicates(docs: DataFrame, textCol: String = "text",
                          idCol: String = "doc_id"): DataFrame = {
    val cols = docs.columns.toIndexedSeq
    docs.groupBy(sha2(col(textCol), 256).as("content_hash"))
      .agg(min_by(struct(cols.map(col): _*), col(idCol)).as("row"))
      .select(cols.map(c => col(s"row.$c")): _*)
  }

  /** Near-duplicate pairs by MinHash-estimated Jaccard over word
    * k-shingles. Output: (id_a, id_b, jaccard_sim), id_a < id_b,
    * jaccard_sim ≥ minJaccard.
    *
    * Plan shape: shingle (map) → [[graft.ops.Pairs.minhashCandidatePairs]]:
    * HashingTF (map, checkpointed once for the fit and both join
    * sides), then the id-only LSH self-join — MinHash values posexplode
    * into (id, table, hash) rows, the band join pairs them with
    * id_a < id_b and `distinct`, the sparse vectors join back for the
    * exact Jaccard filter. The shuffles carry ids, hash values and, for
    * the candidates only, the vectors — candidate-bounded, never |D|².
    * numFeatures 2²⁰ keeps shingle collisions ~|shingles|/2²⁰. `idCol`
    * must be unique. */
  def minhashNearDuplicates(docs: DataFrame, textCol: String = "text",
                            idCol: String = "doc_id", k: Int = 5,
                            minJaccard: Double = 0.7,
                            numHashTables: Int = 5,
                            numFeatures: Int = 1 << 20,
                            seed: Long = 42L): DataFrame =
    Pairs.minhashCandidatePairs(
      docs.select(col(idCol).as("id"),
                  Text.wordShingles(col(textCol), k).as("sh")),
      "id", "sh", minJaccard, numHashTables, numFeatures, seed)

  /** Near-duplicate pairs by SimHash: 64-bit signatures compared at
    * Hamming distance ≤ maxHamming. Candidates come from a band join —
    * the signature is cut into `bands` equal bit-bands; by pigeonhole,
    * any pair within Hamming distance (bands-1) shares ≥1 exact band, so
    * the equi-join on (band index, band bits) finds every such pair
    * while shuffling one long per doc per band. maxHamming must be
    * < bands for completeness (the Manku et al. construction). */
  def simhashNearDuplicates(docs: DataFrame, textCol: String = "text",
                            idCol: String = "doc_id",
                            maxHamming: Int = 3,
                            bands: Int = 4): DataFrame =
    bandedHammingPairs(docs.select(
      col(idCol).as("id"),
      simhash64(Text.tokenize(col(textCol))).as("sig")),
      maxHamming, bands)

  /** Banded Hamming self-join over 64-bit signatures — the shared
    * candidate machinery of [[simhashNearDuplicates]] (text) and the
    * media detectors (image, audio, video frames). `signed` must carry
    * (`id`, `sig: long`) plus the `carried` columns; output (id_a,
    * id_b, carried_a…, carried_b…, hamming ≤ maxHamming). The
    * signature is cut into `bands` equal bit-bands that meet through
    * [[graft.ops.Pairs.bandJoin]]: one long per row per band rides the
    * shuffle; completeness for Hamming < bands by pigeonhole (Manku et
    * al. 2007). */
  private[graft] def bandedHammingPairs(signed: DataFrame,
                                        maxHamming: Int,
                                        bands: Int,
                                        carried: Seq[String] = Nil)
      : DataFrame = {
    require(maxHamming < bands,
      s"band join is only complete for hamming < bands ($maxHamming >= $bands)")
    val bits = 64 / bands
    val mask = if (bits == 64) -1L else (1L << bits) - 1
    val banded = signed.select(Seq(col("id"), col("sig")) ++
      carried.map(col) :+
      posexplode(array((0 until bands).map(b =>
        shiftright(col("sig"), b * bits).bitwiseAND(lit(mask))): _*))
        .as(Seq("band", "bucket")): _*)
    Pairs.bandJoin(banded, None, carried :+ "sig")
      .select(Seq(col("id_a"), col("id_b")) ++
        carried.flatMap(c => Seq(col(c + "_a"), col(c + "_b"))) :+
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"): _*)
      .filter(col("hamming") <= lit(maxHamming))
  }

  /** (id, sig) from a [[graft.multimodal.MediaKernel]] signature kernel
    * over `assets`' (idCol, contentCol) — the one front end of the
    * media detectors. The bytes stay inside the map-shaped kernel pass;
    * only the id and its signature leave it. */
  private def mediaSignatures[O: TypeTag](
      assets: DataFrame, idCol: String, contentCol: String,
      factory: MediaKernel.Factory[Array[Byte], O],
      batchSize: Int): DataFrame = {
    val spark = assets.sparkSession
    import spark.implicits._
    MediaKernel.runKernel(
        assets.select(col(idCol).as("asset_id"),
                      col(contentCol).as("content")),
        factory, batchSize)
      .select(col("_1").as("id"), col("_2").as("sig"))
  }

  /** Near-duplicate IMAGE pairs by perceptual hash: decode the real
    * pixels ([[graft.multimodal.ImagePhash]] — DCT pHash), then the
    * same banded Hamming join as SimHash. Re-encodes and
    * perceptually-identical variants land within a few bits;
    * undecodable assets are quarantined (dropped from pairing — list
    * them via [[graft.multimodal.Multimodal.decodeImages]]'s `ok`).
    * Scale: hash is a map-shaped kernel pass (pixels never shuffle);
    * pairing ships one long per image per band. */
  def phashNearDuplicates(assets: DataFrame,
                          idCol: String = "asset_id",
                          contentCol: String = "content",
                          maxHamming: Int = 3,
                          bands: Int = 4): DataFrame =
    bandedHammingPairs(
      mediaSignatures(assets, idCol, contentCol,
        ImagePhash.hasherFactory, batchSize = 64)
        .filter(col("sig").isNotNull),
      maxHamming, bands)

  /** Near-duplicate AUDIO pairs by spectral fingerprint (DD18): decode
    * the real PCM ([[graft.multimodal.MediaPhash.audioFingerprint64]]
    * — Haitsma–Kalker band-energy delta bits over a 9×9 log-energy
    * grid), then the same banded Hamming join as SimHash/image-pHash.
    * Re-renders of the same signal (gain change, 8↔16-bit
    * requantization) land within a few bits; undecodable assets are
    * quarantined (dropped from pairing). Scale: the fingerprint is a
    * map-shaped kernel pass (PCM never shuffles); pairing ships one
    * long per asset per band. */
  def audioFingerprintNearDuplicates(assets: DataFrame,
                                     idCol: String = "asset_id",
                                     contentCol: String = "content",
                                     maxHamming: Int = 6,
                                     bands: Int = 8): DataFrame =
    bandedHammingPairs(
      mediaSignatures(assets, idCol, contentCol,
        MediaPhash.audioHasherFactory, batchSize = 64)
        .filter(col("sig").isNotNull),
      maxHamming, bands)

  /** Near-duplicate VIDEO pairs by sampled-frame pHash (DD19): every
    * `everyNth` frame's REAL luma plane is DCT-pHashed
    * ([[graft.multimodal.MediaPhash.lumaPhash64]]), frame hashes pair
    * through the banded Hamming join (each frame's index carried), and
    * a video pair survives when ≥ `minMatchingFrames` DISTINCT sampled
    * frames of EACH side match within `maxHamming` bits (the min of the
    * two per-side distinct counts — a static clip whose every frame
    * matches one frame of another video shares ONE frame of content,
    * not many, and must not qualify) — re-encodes and mild
    * requantizations of the same footage share most sampled frames;
    * unrelated footage shares none. Output:
    * `(id_a, id_b, n_matching_frames)`.
    *
    * Scale: hashing is map-shaped (planes never shuffle — one long
    * per sampled frame leaves the kernel); the pairing join fans out
    * per matching frame-hash band, grouped straight back down to one
    * row per video pair. */
  def videoFrameNearDuplicates(assets: DataFrame,
                               idCol: String = "asset_id",
                               contentCol: String = "content",
                               everyNth: Int = 2, maxFrames: Int = 16,
                               maxHamming: Int = 3, bands: Int = 4,
                               minMatchingFrames: Long = 3L): DataFrame = {
    val frames = mediaSignatures(assets, idCol, contentCol,
        MediaPhash.frameHashFactory(everyNth, maxFrames), batchSize = 16)
      .select(col("id"), explode(col("sig")).as("f"))
      .select(col("id"), col("f._1").as("fidx"), col("f._2").as("sig"))
    bandedHammingPairs(frames, maxHamming, bands, Seq("fidx"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(least(countDistinct(col("fidx_a")), countDistinct(col("fidx_b")))
        .as("n_matching_frames"))
      .filter(col("n_matching_frames") >= lit(minMatchingFrames))
  }

  /** EXACT n-gram Jaccard pairs via a shingle equi-join:
    * |A∩B| from the join, |A∪B| = |A|+|B|−|A∩B|. Output:
    * (id_a, id_b, n_common, jaccard), jaccard ≥ minJaccard.
    *
    * Scale: the join key is the shingle; a shingle shared by d docs
    * contributes C(d,2) pairs, so ubiquitous shingles are skew bombs.
    * maxShingleFreq drops shingles seen in more than that many docs —
    * standard prefix-frequency pruning: a shingle in >F docs can only
    * certify pairs that share OTHER rarer shingles too when Jaccard is
    * high, and an F-frequent shingle alone implies similarity ≤ 1/F per
    * pair… at minJaccard ≥ 0.5 dropping F ≥ 1000 shingles loses nothing
    * in practice while capping the join fan-out. */
  def ngramJaccardPairs(docs: DataFrame, textCol: String = "text",
                        idCol: String = "doc_id", k: Int = 5,
                        minJaccard: Double = 0.5,
                        maxShingleFreq: Long = 1000L): DataFrame = {
    val grouped = shingleIndex(docs, textCol, idCol, k, maxShingleFreq)
    // pair expansion as CHAINED GENERATORS, not one flattened array:
    // explode the posting list, filter each element's successors (a
    // df-sized array, ≤ maxShingleFreq), explode again. Peak per-row
    // memory is O(df) instead of the old flatten(transform(transform))'s
    // C(df,2) struct array (~12 MB worst case at F=1000), the generators
    // pipeline inside codegen, and the cap can rise beyond 2000 safely.
    // Measured at sf0.1 / local[32], median of 3 alternating passes:
    // generators 1.45 s, a flat shingle self-equi-join 1.55 s, the old
    // in-array expansion 1.97 s (DuckDB's flat-join twin: 0.85 s).
    finishJaccard(grouped
      .select(col("ds"), explode(col("ds")).as("a"))
      .select(col("a"),
              explode(filter(col("ds"), b => b("id") > col("a.id"))).as("b"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
               col("a.n_sh").as("n_a"), col("b.n_sh").as("n_b"))
      .agg(count(lit(1)).as("n_common")), minJaccard)
  }

  /** Inverted shingle index: one row per surviving shingle with its
    * posting list. One shuffle; the df-filter (frequency pruning) is
    * folded into the same aggregate. Keys are the 8-byte
    * [[graft.text.Text.wordShingleHashes]] longs — the shingle is
    * never output, so only a collision-free key is needed, and the
    * exchange shrinks ~5× vs shuffling k-word strings. */
  private def shingleIndex(docs: DataFrame, textCol: String, idCol: String,
                           k: Int, maxShingleFreq: Long): DataFrame =
    shingleSides(docs, textCol, idCol, k)
      .groupBy(col("shingle"))
      .agg(collect_list(struct(col("id"), col("n_sh"))).as("ds"))
      .filter(size(col("ds")).between(2, maxShingleFreq))

  /** (id, n_sh, shingle) stream of a corpus side — `shingle` is the
    * 8-byte hash KEY ([[graft.text.Text.wordShingleHashes]]), the
    * shared input shape of the cross-corpus candidate machinery and
    * the persistent [[DedupIndex]] (which persists these keys). */
  private[dedup] def shingleSides(df: DataFrame, textCol: String,
                                  idCol: String, k: Int): DataFrame = df
    .select(col(idCol).as("id"),
            Text.wordShingleHashes(col(textCol), k).as("sh"))
    .filter(size(col("sh")) > 0)
    .select(col("id"), size(col("sh")).as("n_sh"),
            explode(col("sh")).as("shingle"))

  private[dedup] def finishJaccard(counted: DataFrame,
                            minJaccard: Double): DataFrame =
    counted
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= lit(minJaccard))
      .select(col("id_a"), col("id_b"), col("n_common"), col("jaccard"))

  /** (node, component) for every node of `edges`, labelled by the
    * component's least node under `ord` (the iterative path's min label). */
  private def unionFind[T](edges: Array[(T, T)])(
      implicit ord: Ordering[T]): Seq[(T, T)] = {
    val parent = new java.util.HashMap[T, T]()
    def find(x: T): T = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.get(r)
      var c = x // path compression
      while (parent.getOrDefault(c, c) != c) {
        val n = parent.get(c); parent.put(c, r); c = n
      }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        if (ord.lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    edges.iterator.flatMap(e => Iterator(e._1, e._2)).distinct
      .map(x => (x, find(x))).toSeq
  }

  /** Connected components of an undirected pair graph by min-label
    * propagation WITH POINTER JUMPING: each sweep every node adopts the
    * smallest component id among itself, its neighbors, and — the
    * jump — its current component's component. Edge propagation alone
    * needs DIAMETER sweeps (a 1000-hop chain at corpus scale would
    * silently truncate at any fixed cap); the label-indirection step
    * halves remaining path lengths, so convergence is
    * O(log diameter) — 20 sweeps cover diameters beyond 2²⁰. Input:
    * pairs (id_a, id_b); output: (id, component) for every node that
    * appears in a pair (singletons are implicitly their own
    * component). Throws if the cap is somehow still hit — a silently
    * wrong clustering is worse than a failed job.
    *
    * This is the driver-coordinated iterative shape Spark uses for ALS/
    * Pregel: each sweep is joins + a min-aggregate, `localCheckpoint`
    * truncates the growing lineage so iteration N doesn't replan
    * N-deep. Convergence is checked with a count — a scalar to the
    * driver, never data. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
                          driverEdgeLimit: Long =
                            GlobalOrdinal.DriverRowCap): DataFrame = {
    val edges = pairs
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .cache()
    var labels: DataFrame = null
    var changed = 1L
    var iter = 0
    // finally: the edges cache must be dropped on EVERY exit path —
    // a registered cache leaks blocks in long-lived sessions AND
    // silently serves any later identical plan from cache
    // (CacheManager matches canonicalized plans), corrupting
    // repeat-pass measurements (found via the round-5 scale probe's
    // bogus min-of-2 reading). Leaving it behind on the
    // non-convergence throw would do the same to whoever catches and
    // retries.
    try {
    // ADAPTIVE SIZE SWITCH (the AQE/broadcast-join pattern applied to
    // graph clustering): the pair graph after candidate generation is
    // routinely orders of magnitude smaller than the corpus — at sf0.1
    // a few hundred edges, and even a 100-TB corpus's near-dup graph
    // can land under a million edges after exact dedup. For such
    // graphs the iterative path's cost is pure scheduling (each sweep
    // is 2 joins + an aggregate + a checkpoint + a count action ≈ a
    // dozen jobs for 3 sweeps) — measured 2.0 s of q_curation's 4.6 s
    // at sf0.1 on a ~300-edge graph. Up to `driverEdgeLimit`
    // directed-edge rows a driver union-find answers from the one job
    // of [[GlobalOrdinal.collectUpTo]] (which also fills the edges
    // cache the iterative path reads); above it nothing is kept on
    // the driver.
    // Fast path for integral ids (union-find over a long map) AND —
    // round 19 — string ids (the page-identity URL graph took the
    // iterative path's ~5 jobs for a 60-edge graph solely because its
    // keys are strings); exotic id types still take the iterative
    // path.
    val idType = pairs.schema(pairs.schema.fieldIndex("id_a")).dataType
    val integralId = idType == org.apache.spark.sql.types.LongType ||
      idType == org.apache.spark.sql.types.IntegerType
    val stringId = idType == org.apache.spark.sql.types.StringType
    val small =
      if (integralId || stringId)
        GlobalOrdinal.collectUpTo(edges, driverEdgeLimit)
      else None
    if (small.nonEmpty) {
      val rows = small.get
      val spark = pairs.sparkSession
      import spark.implicits._
      val comps =
        if (integralId) spark.createDataset(unionFind(rows.map(r =>
          (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue))))
          .toDF("id", "component")
        else {
          // min-root order MUST match the iterative path's min(component)
          // on StringType, which is UTF8String order — unsigned UTF-8
          // byte comparison. Java's String.compareTo is UTF-16 code-unit
          // order, which DIVERGES on supplementary-plane ids, so compare
          // the UTF-8 bytes explicitly.
          val utf8Order: Ordering[String] = (a, b) =>
            java.util.Arrays.compareUnsigned(
              a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
              b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          spark.createDataset(unionFind(
            rows.map(r => (r.getString(0), r.getString(1))))(utf8Order))
            .toDF("id", "component")
        }
      return comps.select(col("id").cast(idType), col("component").cast(idType))
    }
    labels = edges.select(col("src").as("id")).distinct()
      .withColumn("component", col("id"))
      .localCheckpoint()
    while (changed > 0 && iter < maxIter) {
      // each id's own current label rides the aggregate tagged `own`,
      // so convergence is read off the SAME aggregate (min old label
      // vs min new label per id) — the round-6 form paid a separate
      // next⋈labels join + shuffle per sweep just to count changes;
      // here the count is a scan of the already-checkpointed result
      val own = labels
        .select(col("id"), col("component"), lit(true).as("own"))
      val prop = edges
        .join(labels, edges("dst") === labels("id"))
        .select(edges("src").as("id"), col("component"),
                lit(false).as("own"))
      // pointer jump: node → component's component (cuts path length
      // in half each sweep; joins labels to itself on the label).
      // Sweep 0 skips it — labels start as component = id, so the
      // jump is a pure identity join there.
      val base = own.union(prop)
      val next = (if (iter == 0) base
                  else base.union(labels.as("a")
                    .join(labels.as("b"), col("a.component") === col("b.id"))
                    .select(col("a.id").as("id"),
                            col("b.component").as("component"),
                            lit(false).as("own"))))
        .groupBy(col("id"))
        .agg(min(col("component")).as("component"),
             min(when(col("own"), col("component"))).as("__old"))
        .localCheckpoint()
      changed = next.filter(col("component") =!= col("__old")).count()
      labels = next.drop("__old")
      iter += 1
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter sweeps " +
        s"($changed labels still changing) — raise maxIter")
    // labels are localCheckpointed — no lineage into edges survives
    labels
    } finally edges.unpersist(blocking = false)
  }

  /** Near-dup DEDUPLICATION (not just detection): cluster the exact
    * n-gram Jaccard pair graph with [[connectedComponents]] and keep
    * one canonical (minimum-id) document per cluster; docs in no
    * cluster keep themselves. Output: the input rows + `component` +
    * `kept`. Filter on `kept` for the deduplicated corpus. */
  def markNearDuplicates(docs: DataFrame, textCol: String = "text",
                         idCol: String = "doc_id", k: Int = 5,
                         minJaccard: Double = 0.5): DataFrame = {
    // two consumers (the pair machinery and the final label join) —
    // own the input's evaluation ONCE, lazily (the concatChunks
    // contract): without this the caller's entire upstream lineage
    // (curate: scan → kernels → filters → exact dedup) re-executes
    // per consumer — measured as the bulk of q_curation's wall time
    // at sf0.1 (round 10)
    val d = docs.localCheckpoint(false)
    val pairs = ngramJaccardPairs(d, textCol, idCol, k, minJaccard)
      .select(col("id_a"), col("id_b"))
    val comp = connectedComponents(pairs)
      .withColumnRenamed("id", "__cc_id")
    d
      .join(comp, d(idCol) === comp("__cc_id"), "left")
      .withColumn("component", coalesce(col("component"), d(idCol)))
      .withColumn("kept", d(idCol) === col("component"))
      .drop("__cc_id")
  }

  /** INCREMENTAL exact dedup: drop from `newDocs` every doc whose text
    * already exists in `existing` — the daily-crawl-vs-landed-corpus
    * shape (the new batch is deduped against 100 TB without touching
    * it: the existing side reduces to distinct content hashes, one
    * anti-join). Within-batch duplicates are NOT touched — compose
    * with [[exactGroups]]/[[dropExactDuplicates]] for that.
    *
    * Dedup is purely by content hash — no id column is consulted, so
    * unlike [[dropDuplicatesAgainst]] this takes no `idCol` (ADVICE
    * r7: the parameter existed, unused, and implied the batch id
    * mattered to the semantics). */
  def dropExactDuplicatesAgainst(newDocs: DataFrame, existing: DataFrame,
                                 textCol: String = "text"): DataFrame = {
    val seen = existing
      .select(sha2(col(textCol), 256).as("__seen_hash")).distinct()
    newDocs
      .withColumn("__h", sha2(col(textCol), 256))
      .join(seen, col("__h") === col("__seen_hash"), "left_anti")
      .drop("__h")
  }

  /** Cross-corpus near-dup pairs: exact n-gram Jaccard between each
    * new doc and each existing doc, via the same pruned inverted-index
    * join as [[ngramJaccardPairs]] — posting lists built on the
    * EXISTING side (that is where web-scale shingle frequencies live),
    * frequency-capped at `maxShingleFreq`, the new side streamed
    * through with one equi-join on the shingle. Output:
    * (new_id, old_id, n_common, jaccard ≥ minJaccard). */
  def crossNgramJaccardPairs(newDocs: DataFrame, existing: DataFrame,
                             textCol: String = "text",
                             idCol: String = "doc_id", k: Int = 5,
                             minJaccard: Double = 0.5,
                             maxShingleFreq: Long = 1000L): DataFrame = {
    def sides(df: DataFrame) = shingleSides(df, textCol, idCol, k)
    // two consumers of the existing side's shingle stream (the hot
    // count and the posting build) — own the tokenize+shingle pass
    // once; a real deployment materializes the pruned index instead
    // (see scaladoc), this is the one-shot spelling's equivalent
    val es = sides(existing).localCheckpoint(false)
    // hot-shingle prefilter BEFORE collecting posting lists: filtering
    // on size(collect_list(…)) only after the list exists would grow
    // one aggregation buffer to the shingle's full document frequency —
    // on the EXISTING side that frequency is web-scale for boilerplate
    // shingles. A count aggregate has map-side partials (skew-safe);
    // the surviving hot set is tiny and rides an anti-join.
    val hot = es.groupBy(col("shingle"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxShingleFreq)
      .select(col("shingle"))
    val posting = es
      .join(hot, Seq("shingle"), "left_anti")
      .groupBy(col("shingle"))
      .agg(collect_list(struct(col("id"), col("n_sh"))).as("ds"))
    finishJaccard(sides(newDocs)
      .withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a")
      .join(posting, Seq("shingle"))
      .select(col("id_a"), col("n_a"), explode(col("ds")).as("b"))
      .groupBy(col("id_a"), col("b.id").as("id_b"),
               col("n_a"), col("b.n_sh").as("n_b"))
      .agg(count(lit(1)).as("n_common")), minJaccard)
  }

  /** INCREMENTAL dedup, exact + near: the new batch minus anything
    * exactly present in OR near-duplicating (`k`-gram Jaccard ≥
    * `minJaccard`) the existing corpus. The existing corpus is never
    * rewritten — this is the ingest-side filter a continuously-growing
    * 100-TB corpus runs on every arriving batch, with within-batch
    * dedup ([[dropExactDuplicates]] / [[markNearDuplicates]]) composed
    * separately by the caller. */
  def dropDuplicatesAgainst(newDocs: DataFrame, existing: DataFrame,
                            textCol: String = "text",
                            idCol: String = "doc_id", k: Int = 5,
                            minJaccard: Double = 0.5,
                            maxShingleFreq: Long = 1000L): DataFrame = {
    // lazy localCheckpoint: afterExact is consumed TWICE (the near
    // candidate join's probe side + the final anti-join's left side);
    // without it each consumer re-runs the exact anti-join — and with
    // it the 100-TB existing side is scanned by the exact stage once,
    // not once per consumer. (The near stage's own two existing-side
    // scans — hot set + posting lists — are the documented pair a real
    // deployment replaces with a materialized index.)
    val afterExact =
      dropExactDuplicatesAgainst(newDocs, existing, textCol)
        .localCheckpoint(false)
    val nearHits =
      crossNgramJaccardPairs(afterExact, existing, textCol, idCol, k,
                             minJaccard, maxShingleFreq)
        .select(col("id_a").as(idCol)).distinct()
    afterExact.join(nearHits, Seq(idCol), "left_anti")
  }

  /** SOFT dedup: duplication-aware training weights instead of
    * dropping. Each document's weight is 1 / |its near-dup cluster|
    * (clusters from [[markNearDuplicates]]'s connected components;
    * singletons weigh 1.0), so a cluster of any size contributes ONE
    * document's worth of gradient in expectation — repeated data
    * measurably degrades models (Hernandez et al. 2022, "Scaling Laws
    * and Interpretability of Learning from Repeated Data"), but hard
    * dropping discards the cluster's best formatting/variant
    * information; weighting keeps coverage and lets the sampler
    * decide. One extra groupBy(component) + broadcast-size join on top
    * of the CC labels — same scale shape as the hard-dedup path. */
  def duplicationWeights(docs: DataFrame, textCol: String = "text",
                         idCol: String = "doc_id", k: Int = 5,
                         minJaccard: Double = 0.5): DataFrame = {
    // marked feeds both the size aggregate and the final join — one
    // evaluation (its own lineage ends at markNearDuplicates's
    // checkpoint, but the label join itself would still run twice)
    val marked = markNearDuplicates(docs, textCol, idCol, k, minJaccard)
      .localCheckpoint(false)
    val sizes = marked.groupBy(col("component"))
      .agg(count(lit(1)).as("n_copies"))
    marked.join(sizes, Seq("component"))
      .select(col(idCol), col("component"), col("n_copies"),
              (lit(1.0) / col("n_copies").cast("double")).as("weight"))
  }

  /** Benchmark DECONTAMINATION hits: for each corpus doc, how many of
    * its distinct word k-shingles appear anywhere in the benchmark/eval
    * set — the overlap stage a training pipeline runs so evaluation
    * data never leaks into training data (GPT-3 App. C used 13-gram
    * overlap; k is a dial). Plan: inverted-index semi-join on the
    * shingle — the benchmark side reduces to DISTINCT shingles (small:
    * eval sets ≪ corpus, AQE broadcasts it), the corpus side shuffles
    * O(|doc shingles|) rows once. Never |corpus| × |bench|. */
  def contaminationHits(corpus: DataFrame, bench: DataFrame,
                        textCol: String = "text", idCol: String = "doc_id",
                        k: Int = 5): DataFrame =
    corpusShingles(corpus, textCol, idCol, k)
      .join(benchShingles(bench, textCol, k), Seq("shingle"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))

  /** (doc_id, shingle) for every word k-shingle of every corpus doc —
    * the corpus side of the decontamination joins. */
  private def corpusShingles(corpus: DataFrame, textCol: String,
                             idCol: String, k: Int): DataFrame =
    corpus.select(col(idCol).as("doc_id"),
      explode(Text.wordShingleHashes(col(textCol), k)).as("shingle"))

  /** The benchmark's DISTINCT word k-shingles (`shingle`). */
  private def benchShingles(bench: DataFrame, textCol: String,
                            k: Int): DataFrame =
    bench
      .select(explode(Text.wordShingleHashes(col(textCol), k)).as("shingle"))
      .distinct()

  /** `corpus` minus the docs whose `scored` row (keyed `doc_id`)
    * satisfies `flag` — one anti-join on the id. */
  private def dropFlagged(corpus: DataFrame, scored: DataFrame,
                          flag: Column, idCol: String): DataFrame =
    corpus.join(scored.filter(flag).select(col("doc_id").as(idCol)),
      Seq(idCol), "left_anti")

  /** The decontaminated corpus: drop docs with ≥ `minHits` benchmark
    * shingle hits (1 = any overlap, the conservative default). */
  def dropContaminated(corpus: DataFrame, bench: DataFrame,
                       textCol: String = "text", idCol: String = "doc_id",
                       k: Int = 5, minHits: Long = 1L): DataFrame =
    dropFlagged(corpus, contaminationHits(corpus, bench, textCol, idCol, k),
      col("n_hits") >= lit(minHits), idCol)

  /** FRACTION-threshold contamination — the GPT-3 Appendix C /
    * BigBench semantic: a doc is contaminated when MORE than
    * `maxFracPct`% of its distinct k-shingles hit the benchmark
    * (absolute-count [[dropContaminated]] over-fires on long docs that
    * graze a common phrase; the fraction scales with doc length). Per
    * doc: distinct-shingle count, hit count, and the flag — decided in
    * EXACT integer arithmetic (`hits·100 > pct·total`), so the oracle
    * can replay it with no float boundary. Docs shorter than k tokens
    * have one degenerate shingle (the whole text) and are judged on
    * it, same as the hit path.
    *
    * Plan: ONE exchange of the corpus's exploded shingles, LEFT-joined
    * against the benchmark's distinct shingles (eval sets are small →
    * AQE broadcasts), one aggregate counting rows and hits together —
    * the fraction costs nothing over the hit count. */
  def contaminationFraction(corpus: DataFrame, bench: DataFrame,
                            textCol: String = "text",
                            idCol: String = "doc_id", k: Int = 5,
                            maxFracPct: Long = 50L): DataFrame = {
    require(maxFracPct >= 0 && maxFracPct <= 100,
      s"maxFracPct must be a percentage: $maxFracPct")
    corpusShingles(corpus, textCol, idCol, k)
      .join(benchShingles(bench, textCol, k).withColumn("__hit", lit(1)),
        Seq("shingle"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"), count(col("__hit")).as("n_hits"))
      .withColumn("contaminated",
        (col("n_hits") * 100L > col("n_shingles") * lit(maxFracPct))
          .cast("long"))
  }

  /** The fraction-decontaminated corpus: [[contaminationFraction]]'s
    * flagged docs anti-joined away; docs with no shingle rows (null
    * text filtered upstream) never flag. */
  def dropContaminatedFraction(corpus: DataFrame, bench: DataFrame,
                               textCol: String = "text",
                               idCol: String = "doc_id", k: Int = 5,
                               maxFracPct: Long = 50L): DataFrame =
    dropFlagged(corpus,
      contaminationFraction(corpus, bench, textCol, idCol, k, maxFracPct),
      col("contaminated") === 1L, idCol)

  /** [[dropContaminated]] with a Bloom prefilter — IDENTICAL output,
    * different 100-TB shape. The exact path shuffles every corpus
    * shingle once (O(corpus shingles) exchange rows); here a Bloom
    * filter over the benchmark's distinct shingles (eval sets are
    * small — GPT-3's decontamination benchmarks are ≪ 1 GB against a
    * 45-TB corpus) is broadcast to the scan, and each doc is tested
    * scan-locally with one array-UDF call. Only the docs with ≥ 1
    * Bloom hit — benchmark members, true near-members, and the fpp
    * tail — proceed to the exact shingle semi-join; Bloom filters
    * have NO false negatives, so prefilter → exact-verify equals the
    * exact path bit-for-bit while the shuffle shrinks from the whole
    * corpus to the candidate sliver.
    *
    * The UDF is the justified kind: Spark has no Column-level Bloom
    * probe, and the probe must ride the scan (a join would reintroduce
    * the shuffle this exists to avoid). `fpp` trades candidate-sliver
    * size against filter bytes; 1% over 1e8 shingles ≈ 114 MB, a fine
    * broadcast.
    *
    * NOTE: unlike the fully-lazy exact path, the Bloom filter is
    * materialized AT CALL TIME (two jobs over `bench`: a count and the
    * sketch build). Consume the returned frame before overwriting the
    * bench input in place, or the prefilter tests yesterday's eval set
    * while the exact verify reads today's (the round-5 stale-input
    * lesson, here as an eager snapshot instead of a stale cache). The
    * broadcast's lifetime is tied to the returned plan — the
    * ContextCleaner reclaims it with the closure, no manual destroy. */
  def dropContaminatedBloom(corpus: DataFrame, bench: DataFrame,
                            textCol: String = "text", idCol: String = "doc_id",
                            k: Int = 5, minHits: Long = 1L,
                            fpp: Double = 0.01): DataFrame = {
    val spark = corpus.sparkSession
    val bs = benchShingles(bench, textCol, k)
    val n = math.max(bs.count(), 1L)
    val bloom = bs.stat.bloomFilter("shingle", n, fpp)
    val bloomBc = spark.sparkContext.broadcast(bloom)
    val anyHit = udf { shingles: Seq[Long] =>
      shingles != null && shingles.exists(bloomBc.value.mightContainLong)
    }
    val candidates = corpus
      .filter(anyHit(Text.wordShingleHashes(col(textCol), k)))
    dropFlagged(corpus,
      contaminationHits(candidates, bench, textCol, idCol, k),
      col("n_hits") >= lit(minHits), idCol)
  }

  /** Corpus-level LINE deduplication (the CCNet/RefinedWeb cleaning
    * pass): lines whose exact text occurs ≥ `minCount` times ACROSS THE
    * WHOLE CORPUS — navigation chrome, cookie banners, boilerplate
    * footers — are removed from every document, and each document's
    * text is reconstructed from its surviving lines in original order.
    * Blank (whitespace-only) lines are exempt from counting and
    * removal: they are structure, not boilerplate, and removing them
    * would merge unrelated paragraphs.
    *
    * Output: `idCol`, rebuilt `textCol`, `n_lines`, `n_kept`.
    *
    * Plan shape: one NARROW groupBy(line) pass builds the removal set
    * (only the line — or its 8-byte hash with `byHash` — rides the
    * count shuffle, and map-side partial aggregation collapses repeats
    * before exchange). Boilerplate sets are small relative to any
    * corpus, so when the removal set fits `broadcastKeyLimit` the
    * rebuild is ONE BROADCAST MAP PASS over the documents — the corpus
    * itself never shuffles at all (the round-7 q_line_dedup finding:
    * the old form shipped every document's full text through two
    * line-keyed exchanges). Above the limit it falls back to the
    * explode → left join on the line key → groupBy(doc) sorted-rebuild
    * form, whose shuffles are keyed on values that exist at any scale.
    * The driver bound mirrors the CC union-find fast path:
    * [[GlobalOrdinal.DriverRowCap]] removal lines collected, with the
    * distributed form as the automatic fallback.
    *
    * `byHash = true` keys the count shuffle on xxhash64(line) so the
    * exchange carries 8-byte keys instead of full line strings — the
    * 100-TB spelling (the representative line string per hash rides the
    * aggregation buffer, one per group, so the broadcast set still
    * matches EXACT strings and a hash collision costs one extra
    * counted line, never a wrong removal on the fast path); the
    * default keeps exact strings so the DuckDB oracle can replay it. */
  def dedupLines(docs: DataFrame, textCol: String = "text",
                 idCol: String = "doc_id", minCount: Long = 2L,
                 byHash: Boolean = false,
                 broadcastKeyLimit: Long = GlobalOrdinal.DriverRowCap)
      : DataFrame = {
    val spark = docs.sparkSession
    val key: Column => Column =
      if (byHash) (c: Column) => xxhash64(c) else identity
    // removal set: non-blank lines occurring >= minCount corpus-wide
    val removal = docs
      .select(explode(split(col(textCol), "\n")).as("__line"))
      .filter(trim(col("__line")) =!= "")
      .groupBy(key(col("__line")).as("__k"))
      .agg(count(lit(1)).as("__cnt"), min(col("__line")).as("__line"))
      .filter(col("__cnt") >= lit(minCount))
      .select(col("__k"), col("__line"))
    // size probe and collection are ONE job: if the removal set fits,
    // the probe IS the set (no separate count pass); if not, fall back
    // to the join form (which recomputes the count aggregate — the
    // over-limit case is the 100-TB-boilerplate shape where a second
    // pass is the cost of not collecting it)
    val probe = GlobalOrdinal.collectUpTo(removal.select(col("__line")),
      broadcastKeyLimit)
    if (probe.nonEmpty) {
      // FAST PATH: broadcast the removal strings; rebuild every doc in
      // one map pass. One narrow shuffle total (the count), zero over
      // the corpus. A single UDF call per document — not a HOF chain —
      // so lines split exactly once per row.
      val bc = spark.sparkContext.broadcast(
        probe.get.map(_.getString(0)).toSet)
      val rebuild = udf { text: String =>
        // -1 limit: keep trailing empty lines, matching SQL split()
        val all = text.split("\n", -1)
        val kept = all.filter(l => l.trim.isEmpty || !bc.value.contains(l))
        (kept.mkString("\n"), all.length.toLong, kept.length.toLong)
      }
      docs
        .filter(col(textCol).isNotNull)
        .select(col(idCol), rebuild(col(textCol)).as("__r"))
        .select(col(idCol), col("__r._1").as(textCol),
                col("__r._2").as("n_lines"), col("__r._3").as("n_kept"))
    } else {
      val lines = docs.select(
        col(idCol),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      lines
        .join(removal.select(col("__k"), lit(true).as("__rm")),
              key(col("line")) === col("__k"), "left")
        .groupBy(col(idCol))
        .agg(
          count(lit(1)).as("n_lines"),
          count(when(col("__rm").isNull, 1)).as("n_kept"),
          concat_ws("\n",
            transform(
              array_sort(collect_list(
                when(col("__rm").isNull, struct(col("pos"), col("line"))))),
              s => s.getField("line"))).as(textCol))
        .select(col(idCol), col(textCol), col("n_lines"), col("n_kept"))
    }
  }

  /** Near-duplicate pairs by embedding cosine ≥ minCosine — delegates
    * to the similarity module's LSH-bucketed pair join (dedup and
    * similarity search share the candidate-generation primitive). */
  def embeddingNearDuplicates(emb: DataFrame, vecCol: String = "embedding",
                              idCol: String = "vec_id",
                              minCosine: Double = 0.95,
                              bucketLength: Double = 0.25,
                              numHashTables: Int = 4,
                              seed: Long = 42L): DataFrame =
    graft.similarity.Similarity.cosinePairsLsh(
      emb, vecCol, idCol, minCosine, bucketLength, numHashTables, seed)

  /** Embeddings clustered by a seeded k-means coarse quantizer, with
    * each row's cosine to its own centroid — the shared front half of
    * [[semanticPairs]]/[[semanticDedup]]. Zero-norm vectors are
    * dropped (cosine is undefined for them). The quantizer fits on a
    * `fitSample` fraction when < 1 — at corpus scale k-means sees a
    * sample, `transform` sees everything.
    *
    * Load-bearing localCheckpoint on the normalized frame: KMeans.fit
    * iterates over it and transform reads it again; lifecycle contract
    * as in [[graft.ops.Pairs.minhashSelfJoin]] (eager,
    * cleaner-reclaimed, no CacheManager registration). */
  private def semanticCells(emb: DataFrame, vecCol: String, idCol: String,
                            nClusters: Int, fitSample: Double,
                            seed: Long): DataFrame = {
    import graft.similarity.Similarity
    val base = emb
      .select(col(idCol).as("id"), col(vecCol).as("e"))
      .filter(Similarity.l2Norm(col("e")) > lit(0.0))
      .withColumn("nrm", Similarity.l2Norm(col("e")))
      .withColumn("v", array_to_vector(Similarity.normalize(col("e"))))
      .localCheckpoint()
    val km = new KMeans().setK(nClusters).setSeed(seed)
      .setFeaturesCol("v").setPredictionCol("cell")
    val model = org.apache.spark.ml.graft.SummaryBridge.dropSummary(
      km.fit(
        if (fitSample < 1.0) base.sample(fitSample, seed) else base))
    val spark = emb.sparkSession
    import spark.implicits._
    val centers = model.clusterCenters.zipWithIndex
      .map { case (v, i) => (i, v.toArray.toSeq) }
      .toSeq.toDF("cell", "center")
    model.transform(base)
      .join(broadcast(centers), Seq("cell"))
      // v is unit-normalized and so is the centroid's construction
      // space, but the centroid itself (a mean) is not unit length —
      // use the full cosine, not a bare dot
      .withColumn("centroid_cos", Similarity.cosine(col("e"), col("center")))
      .select(col("id"), col("cell"), col("e"), col("nrm"),
              col("centroid_cos"))
  }

  /** Within-cluster near-duplicate pairs for SemDeDup: k-means cells
    * from [[semanticCells]], then all pairs INSIDE each cell at cosine
    * ≥ `minCosine`. Output: (id_a, id_b, cell, cos).
    *
    * Scale shape: the quadratic stage is confined to cells —
    * Σ_c C(n_c, 2) with n_c ≈ N/nClusters, never C(N, 2). Raise
    * `nClusters` with corpus size so cells stay bounded (SemDeDup runs
    * 50k clusters on LAION-440M). The pair join is
    * [[graft.ops.Pairs.saltedSelfPairs]] on the cell id, so a few hot
    * cells can't cap parallelism at nClusters partitions. */
  def semanticPairs(emb: DataFrame, vecCol: String = "embedding",
                    idCol: String = "vec_id", nClusters: Int = 16,
                    minCosine: Double = 0.95, fitSample: Double = 1.0,
                    numSalts: Int = 8, seed: Long = 42L): DataFrame =
    pairsFromCells(
      semanticCells(emb, vecCol, idCol, nClusters, fitSample, seed),
      minCosine, numSalts)

  private def pairsFromCells(cells: DataFrame, minCosine: Double,
                             numSalts: Int): DataFrame = {
    import graft.similarity.Similarity
    Pairs.saltedSelfPairs(cells, "cell", "id",
        payload = Seq("e", "nrm"), numSalts = numSalts)
      .withColumn("cos",
        Similarity.dot(col("e_a"), col("e_b")) /
          (col("nrm_a") * col("nrm_b")))
      .filter(col("cos") >= lit(minCosine))
      .select(col("id_a"), col("id_b"), col("key").as("cell"), col("cos"))
  }

  /** SEMANTIC deduplication — SemDeDup (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space with seeded
    * k-means, connect within-cluster pairs at cosine ≥ `minCosine`
    * into semantic groups ([[connectedComponents]]), and keep ONE
    * representative per group — per the paper's rule, the member
    * LEAST similar to its cluster centroid (retains the most atypical
    * exemplar, maximizing kept diversity), min-id tiebreak.
    *
    * Output: one row per non-zero-norm input — (idCol, cell,
    * centroid_cos, component, kept). Filter `kept` for the
    * semantically deduplicated corpus.
    *
    * This intentionally finds only WITHIN-cluster duplicates (the
    * SemDeDup contract): a near-dup pair split across a cell boundary
    * is missed, which the paper accepts in exchange for never
    * comparing across clusters. [[embeddingNearDuplicates]] (LSH) is
    * the recall-oriented alternative when cross-cluster pairs matter. */
  def semanticDedup(emb: DataFrame, vecCol: String = "embedding",
                    idCol: String = "vec_id", nClusters: Int = 16,
                    minCosine: Double = 0.95, fitSample: Double = 1.0,
                    numSalts: Int = 8, seed: Long = 42L): DataFrame = {
    val cells = semanticCells(emb, vecCol, idCol, nClusters, fitSample, seed)
    val pairs = pairsFromCells(cells, minCosine, numSalts)
    val comp = connectedComponents(pairs.select(col("id_a"), col("id_b")))
      .withColumnRenamed("id", "__cc_id")
    val wKeep = Window.partitionBy(col("component"))
      .orderBy(col("centroid_cos").asc, col("id").asc)
    cells
      .join(comp, cells("id") === comp("__cc_id"), "left")
      .withColumn("component", coalesce(col("component"), col("id")))
      .withColumn("kept", row_number().over(wKeep) === lit(1))
      .select(col("id").as(idCol), col("cell"), col("centroid_cos"),
              col("component"), col("kept"))
  }

  /** EXACT-SUBSTRING (span) dedup — the Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better",
    * ExactSubstr) member of the family, sitting between line dedup
    * (whole repeated lines) and document dedup (whole docs): any run
    * of ≥ k tokens appearing verbatim in ≥ 2 DISTINCT documents is
    * removed from every doc EXCEPT the lowest-id one holding it —
    * one canonical copy of every repeated passage survives. Intra-doc
    * repetition is deliberately out of scope ([[graft.functions.
    * RepetitionStats]] covers it).
    *
    * Mechanics: every k-token window is keyed by xxhash64 over its
    * token-slice ARRAY — the key is engine-INTERNAL (grouping only,
    * never output), so it needs to be collision-free, not portable:
    * no joined-string build, no crypto digest, and the window
    * exchange carries an 8-byte long where the earlier md5-hex form
    * shuffled a 32-char string (the SQL twin keeps md5 — either
    * engine may pick any injective-whp key). A NARROW
    * groupBy(key) pass finds keys spanning ≥ 2 docs and each key's
    * canonical (min) doc; every non-canonical occurrence marks the
    * interval [start, start+k−1]; a token is dropped iff ANY marked
    * interval of its doc covers it — consecutive windows of one
    * shared passage union into the full passage through the coverage
    * test, so no explicit interval merging is needed; the text is
    * rebuilt in original order. Docs with every token covered remain
    * as rows with empty text (callers decide about stubs); docs
    * shorter than k tokens have no windows and pass through intact.
    *
    * Scale shape: the window exchange carries (8-byte key, id,
    * start) — never text; the coverage test is an equi-join on the
    * doc id with a range predicate (a doc joins only its OWN marked
    * intervals); the rebuild is line dedup's sorted-collect form.
    * Output: `idCol`, rebuilt `textCol`, `n_tokens`, `n_kept`. */
  def dropRepeatedSpans(docs: DataFrame, textCol: String = "text",
                        idCol: String = "doc_id", k: Int = 20)
      : DataFrame = {
    require(k >= 2, s"span length k must be >= 2, got $k")
    val toks = split(col(textCol), " ")
    // three consumers (windows, tokens, rebuild ids) — own the
    // evaluation once, lazily (the concatChunks contract)
    val base = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), toks.as("t"), size(toks).as("n"))
      .localCheckpoint(false)
    val wins = base.filter(col("n") >= k)
      .select(col("id"),
              posexplode(graft.functions.Shingles
                .windowHashes(col("t"), k)).as(Seq("s", "key")))
    // "≥ 2 distinct docs" as min≠max — same predicate, but a plain
    // two-value aggregate instead of countDistinct's Expand + two-phase
    // plan (intra-doc repeats of a key still count as ONE doc)
    val dupKeys = wins.groupBy(col("key"))
      .agg(min(col("id")).as("canon"), max(col("id")).as("__mx"))
      .filter(col("__mx") =!= col("canon"))
      .select(col("key"), col("canon"))
    val remove = wins.join(dupKeys, Seq("key"))
      .filter(col("id") =!= col("canon"))
      .select(col("id").as("rid"), col("s").as("lo"),
              (col("s") + (k - 1)).as("hi"))
    // Only docs that actually LOSE a span go through the explode →
    // anti-join → sorted-collect rebuild; in a real corpus that's the
    // duplicated sliver, not the corpus (planted testdata: ~10%). An
    // untouched doc's rebuild is the identity `array_join(t, " ")` —
    // byte-identical to the collect_list form, because EVERY output
    // doc is space-rejoined tokens (split/join round-trips exactly,
    // empty tokens included) — so it never needs to explode at all.
    val affected = remove.select(col("rid").as("id")).distinct()
    val tokens = base.join(affected, Seq("id"), "left_semi")
      .select(col("id"), posexplode(col("t")).as(Seq("pos", "w")))
    val kept = tokens.join(remove,
      col("id") === col("rid") && col("pos").between(col("lo"), col("hi")),
      "left_anti")
    val rebuilt = kept.groupBy(col("id"))
      .agg(array_join(transform(
             array_sort(collect_list(struct(col("pos"), col("w")))),
             x => x.getField("w")), " ").as("__text"),
           count(lit(1)).as("n_kept"))
    base.select(col("id"), col("t"), col("n"))
      .join(affected.withColumn("__aff", lit(true)), Seq("id"), "left")
      .join(rebuilt, Seq("id"), "left")
      .select(col("id").as(idCol),
              // affected + absent from `rebuilt` = every token covered
              // → empty text, not the identity rebuild
              coalesce(col("__text"),
                       when(col("__aff"), lit(""))
                         .otherwise(array_join(col("t"), " ")))
                .as(textCol),
              col("n").cast("long").as("n_tokens"),
              coalesce(col("n_kept"),
                       when(col("__aff"), lit(0L))
                         .otherwise(col("n").cast("long")))
                .as("n_kept"))
  }
}
