package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTENT BM25 inverted index — the materialized form of
  * [[Lexical.bm25TopK]]'s postings build, on the
  * [[graft.dedup.DedupIndex]] lifecycle pattern: a continuously
  * growing corpus builds the index ONCE, appends each landed batch,
  * and every query scores against the stored postings without
  * touching the corpus again. At 100 TB this is the difference
  * between a per-query corpus tokenize (re-reading everything) and a
  * word-keyed posting probe.
  *
  * Layout under `path` (plain parquet; a deployment buckets
  * `postings` by `word` for partition-pruned probes —
  * [[graft.sources.Bucketing]]):
  *  - `postings/batch=<tag>/`  (word, doc_id, tf)
  *  - `doclen/batch=<tag>/`    (doc_id, len) — the length prior; kept
  *                  separate because a query's candidate lookup must
  *                  not pay a postings re-aggregation by doc
  *  - `meta/batch=<tag>/`      one row (n_docs) — the corpus size per
  *                  batch, SUMMED at query time; counted off the
  *                  batch frame itself so null-text docs (no tokens,
  *                  no doclen row) still count, exactly as the
  *                  in-memory path's `docs.count()` does
  *
  * Batch-scoped partition directories with per-directory OVERWRITE
  * make appends idempotent under at-least-once retries (the
  * DedupIndex/foreachBatch contract): a re-run replaces its own
  * files, never duplicates postings.
  *
  * ==Exact parity==
  * [[searchBm25]] returns byte-identical rankings to
  * [[Lexical.bm25TopK]] over the union of all landed batches
  * (spec-pinned): both paths score through the SAME
  * [[Lexical.bm25RankFromParts]] spelling; df/len/N/avgdl are
  * aggregates the index stores losslessly. Document ids must be
  * unique across batches — the caller's contract, as in DedupIndex.
  */
object LexicalIndex {

  /** Build the index at `path` from a corpus frame. `wordBuckets > 0`
    * lays the postings out hash-partitioned by word
    * (`bucket=<pmod(hash(word), n)>` dirs inside each batch): a probe
    * then PARTITION-PRUNES to the query words' buckets before any
    * file is listed — at 100 TB the probe cost drops from
    * all-postings-files to queried-buckets/n of them. The bucket
    * count is pinned in `layout.json`; appends read and follow it. */
  def build(docs: DataFrame, path: String,
            textCol: String = "text", idCol: String = "doc_id",
            wordBuckets: Int = 0): Unit = {
    require(wordBuckets >= 0, s"negative wordBuckets: $wordBuckets")
    writeLayout(docs.sparkSession, path, wordBuckets)
    append(docs, path, "base", textCol, idCol)
  }

  /** `layout.json`: the index's pinned word-bucket count. */
  private final case class IndexLayout(wordBuckets: Int = 0)

  // layout.json goes through Hadoop FS ([[graft.sources.SidecarIo]]):
  // the index path may be hdfs:// or s3a://, where a java.nio probe
  // would silently report the pin absent and pruning would vanish
  private def writeLayout(spark: SparkSession, path: String,
                          wordBuckets: Int): Unit =
    graft.sources.SidecarIo.writeJsonAtomic(spark, s"$path/layout.json",
      IndexLayout(wordBuckets))

  private[graft] def wordBucketsOf(spark: SparkSession, path: String): Int =
    graft.sources.SidecarIo.readJson[IndexLayout](spark,
      s"$path/layout.json").fold(0)(_.wordBuckets) // 0: pre-layout index

  /** Land one batch's postings under `batch=<tag>` (idempotent:
    * re-running a tag overwrites its own directories). */
  def append(batch: DataFrame, path: String, batchTag: String,
             textCol: String = "text",
             idCol: String = "doc_id"): Unit = {
    require(batchTag.nonEmpty &&
      batchTag.forall(c => c.isLetterOrDigit || c == '-' || c == '_'),
      s"batchTag must be directory-safe, got '$batchTag'")
    val spark = batch.sparkSession
    import spark.implicits._
    val nBuckets = wordBucketsOf(spark, path)
    // n_docs OBSERVES the postings write (a CollectMetrics node on the
    // batch frame, below the tokenizer) instead of running its own
    // count job — the old spelling re-evaluated the whole batch
    // lineage a second time just to count it (a second micro-batch
    // pass per append at ingest scale). The node sits UNDER the
    // tokenize/filter chain, so null-text docs (no tokens, no doclen
    // row) still count, exactly as `docs.count()` did.
    val nDocsObs = new org.apache.spark.sql.Observation()
    val tf = Lexical.tfPostings(
      batch.observe(nDocsObs, count(lit(1)).as("n_docs")),
      idCol, textCol)
    // the batch is TOKENIZED ONCE — the postings write is the only
    // action that evaluates `tf`; doclen re-aggregates the WRITTEN
    // postings (a narrow columnar read of this batch's own files) and
    // tot_len sums the written doclen, instead of each action
    // re-running the explode+groupBy over the corpus text (guide
    // §1.2: the tokenize pass was paid three times)
    if (nBuckets > 0)
      tf.withColumn("bucket", pmod(hash(col("word")), lit(nBuckets)))
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(s"$path/postings/batch=$batchTag")
    else
      tf.write.mode("overwrite")
        .parquet(s"$path/postings/batch=$batchTag")
    // len feeds the BM25 prior; n2 (Σtf², the full-document norm) is
    // stored so the cosine side of a HYBRID probe never has to
    // re-aggregate the whole postings table at query time. The
    // read-back carries tf's EXPLICIT schema: an empty bucketed batch
    // writes no part files at all, and schema inference over the bare
    // directory would throw where the empty frame is the right answer
    // tot_len (Σlen over the batch, exact integer math) makes the
    // avgdl prior a META aggregate at query time — without it every
    // search re-scans the WHOLE doclen table just to average it,
    // an O(corpus) pass per query at 100 TB; with it the global
    // prior costs O(landed batches). Σlen ≡ Σtf by construction,
    // and the total OBSERVES the doclen write itself (a CollectMetrics
    // side-channel on the same job) instead of re-reading the files
    val obs = new org.apache.spark.sql.Observation()
    spark.read.schema(tf.schema)
      .parquet(s"$path/postings/batch=$batchTag")
      .groupBy(col("doc_id")).agg(sum(col("tf")).as("len"),
        sum(col("tf") * col("tf")).as("n2"))
      .observe(obs, coalesce(sum(col("len")), lit(0L)).as("tot"))
      .write.mode("overwrite").parquet(s"$path/doclen/batch=$batchTag")
    val totLen = obs.get("tot").asInstanceOf[Long]
    // a literal-empty batch (the cold-start layout pin) collapses to
    // an empty LocalRelation and the optimizer eliminates the
    // CollectMetrics node with it — the posted metrics row is EMPTY;
    // fall back to the count (trivial on exactly that shape)
    val nDocs =
      try nDocsObs.get("n_docs").asInstanceOf[Long]
      catch { case _: NoSuchElementException => batch.count() }
    Seq((nDocs, totLen))
      .toDF("n_docs", "tot_len")
      .write.mode("overwrite").parquet(s"$path/meta/batch=$batchTag")
  }

  /** Fold every landed batch into ONE (`dst` must be fresh; swap
    * directories after, the [[graft.dedup.DedupIndex.compact]]
    * contract): a long-lived index accumulates one postings/doclen
    * dir per landed batch — many small files, per-batch listing cost
    * on every probe. The fold is three reads and three writes, no
    * re-tokenization (the corpus is never touched), and preserves a
    * word-bucketed layout. Search results are byte-identical across
    * the fold (spec-pinned). */
  def compact(path: String, dst: String): Unit = {
    require(dst != path, "compact to a fresh directory, then swap")
    val spark = SparkSession.active
    import spark.implicits._
    val nBuckets = wordBucketsOf(spark, path)
    writeLayout(spark, dst, nBuckets)
    val postings = spark.read.parquet(s"$path/postings")
      .select(col("word"), col("doc_id"), col("tf"))
    if (nBuckets > 0)
      postings
        .withColumn("bucket", pmod(hash(col("word")), lit(nBuckets)))
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(s"$dst/postings/batch=base")
    else postings.write.mode("overwrite")
      .parquet(s"$dst/postings/batch=base")
    spark.read.parquet(s"$path/doclen")
      .select(col("doc_id"), col("len"), col("n2"))
      .write.mode("overwrite").parquet(s"$dst/doclen/batch=base")
    val n = metaTotals(spark, path)._1
    // the fold UPGRADES pre-tot_len and MIXED-coverage indexes: sum
    // the stored batch totals when every batch carries one, else
    // derive once from doclen (the last full scan that index will
    // ever pay for its avgdl)
    Seq((n, totLenOf(spark, path))).toDF("n_docs", "tot_len")
      .write.mode("overwrite").parquet(s"$dst/meta/batch=base")
  }

  /** (Σ n_docs, Σ tot_len or -1) read DRIVER-SIDE off the meta
    * table's parquet files — one row per landed batch, so this is a
    * metadata-scale loop, not a dataset: the old spelling was a
    * `mergeSchema` read (a distributed footer-merge job) plus an
    * aggregate job, paid by EVERY probe's global prior. Schema
    * mixing is handled per file (the reason mergeSchema was there):
    * a pre-`tot_len` batch file simply lacks the field, and any row
    * without a trustable tot_len drops the stored-total claim —
    * tot_len is reported only when EVERY batch row carries it,
    * exactly the old coverage rule (a partial sum would silently
    * undercount the corpus length and skew avgdl). */
  private def metaTotals(spark: SparkSession, path: String)
      : (Long, Long) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(s"$path/meta")
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root))
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "PATH_NOT_FOUND",
        messageParameters = Map("path" -> root.toString))
    var n = 0L
    var tot = 0L
    var allTot = true
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (f.isFile && !name.startsWith("_") && !name.startsWith(".")) {
        val reader = org.apache.parquet.hadoop.ParquetReader
          .builder(
            new org.apache.parquet.hadoop.example.GroupReadSupport(),
            f.getPath)
          .withConf(conf).build()
        try {
          var g = reader.read()
          while (g != null) {
            val t = g.getType
            if (t.containsField("n_docs") &&
                g.getFieldRepetitionCount("n_docs") > 0)
              n += g.getLong("n_docs", 0)
            if (!t.containsField("tot_len") ||
                g.getFieldRepetitionCount("tot_len") == 0)
              allTot = false
            else tot += g.getLong("tot_len", 0)
            g = reader.read()
          }
        } finally reader.close()
      }
    }
    (n, if (allTot) tot else -1L)
  }

  /** Σ document length over the whole index: the stored per-batch
    * `tot_len` totals when EVERY batch carries one, else one doclen
    * scan (legacy / mixed-schema indexes — [[compact]] upgrades
    * them). */
  private def totLenOf(spark: SparkSession, path: String): Long = {
    val (_, tot) = metaTotals(spark, path)
    if (tot >= 0L) tot
    else spark.read.parquet(s"$path/doclen")
      .agg(coalesce(sum(col("len")), lit(0L))).head().getLong(0)
  }

  /** Retention GC: rebuild the index at `dst` WITHOUT the docs in
    * `removedIds` (one `doc_id` column) — the right-to-erasure pass
    * hits the inverted index too, and nothing before this expired a
    * removed doc's postings (it kept RANKING forever). Only the index
    * and the small removal set are scanned. `removedIds` must be ids
    * that were actually landed (the corpus-side delete's key set —
    * [[graft.sources.Snapshot.deleteKeysMor]] pairs with this): the
    * stored `n_docs` decreases by the removal count, so phantom ids
    * would skew the BM25 N — ENFORCED by an accounting check
    * (removals without a doclen row are bounded by the index's
    * null-text population; one more proves a phantom and aborts). */
  def gc(removedIds: DataFrame, path: String, dst: String): Unit = {
    require(dst != path, "gc to a fresh directory, then swap")
    val spark = removedIds.sparkSession
    import spark.implicits._
    val nBuckets = wordBucketsOf(spark, path)
    writeLayout(spark, dst, nBuckets)
    val dead = removedIds.select(col(removedIds.columns.head)
      .cast("long").as("doc_id")).distinct()
    // no forced broadcast: the removal set is usually small but its
    // size is the CALLER's data — AQE picks broadcast when it fits
    // and falls back to a shuffle join when a bulk erasure doesn't
    val postings = spark.read.parquet(s"$path/postings")
      .select(col("word"), col("doc_id"), col("tf"))
      .join(dead, Seq("doc_id"), "left_anti")
    if (nBuckets > 0)
      postings
        .withColumn("bucket", pmod(hash(col("word")), lit(nBuckets)))
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(s"$dst/postings/batch=base")
    else postings.write.mode("overwrite")
      .parquet(s"$dst/postings/batch=base")
    val doclen = spark.read.parquet(s"$path/doclen")
      .select(col("doc_id"), col("len"), col("n2"))
    doclen.join(dead, Seq("doc_id"), "left_anti")
      .write.mode("overwrite").parquet(s"$dst/doclen/batch=base")
    val n = metaTotals(spark, path)._1
    // ALL of gc's accounting in ONE aggregate job (guide §1.2 — this
    // was three: |dead|, the matched semi-join stats, |doclen|): a
    // full-outer join of the unique-keyed doclen with the distinct
    // removal set classifies every row as doclen-only / matched /
    // removal-only, and one pass counts each class. The removed docs'
    // length mass leaves tot_len with them — the avgdl prior stays
    // exact through erasure.
    val acct = doclen.withColumn("__dl", lit(1))
      .join(dead.withColumn("__dd", lit(1)), Seq("doc_id"),
        "full_outer")
      .agg(
        coalesce(sum(col("__dd")), lit(0L)).as("removed_n"),
        coalesce(sum(when(col("__dd") === 1 && col("__dl") === 1,
          lit(1L))), lit(0L)).as("matched"),
        coalesce(sum(when(col("__dd") === 1, col("len"))), lit(0L))
          .as("removed_len"),
        coalesce(sum(col("__dl")), lit(0L)).as("doclen_rows"))
      .head()
    val removedN = acct.getLong(0)
    val matchedLen = acct.getLong(1)
    val removedLen = acct.getLong(2)
    // PHANTOM-ID accounting: `n` decreases by removedN, so an id that
    // was never landed would silently skew every idf. Removed ids
    // without a doclen row are either null-text docs (counted in
    // n_docs but tokenless — legitimately absent from doclen) or
    // phantoms; the null-text population is exactly
    // n - |doclen|, so more no-doclen removals than that PROVES at
    // least one phantom — refuse loudly rather than corrupt N.
    val nullTextDocs = math.max(0L, n - acct.getLong(3))
    require(removedN - matchedLen <= nullTextDocs,
      s"gc removal set carries ids never landed in this index: " +
        s"$removedN removed, only $matchedLen have doclen rows and " +
        s"the index holds $nullTextDocs null-text docs — a phantom " +
        "id would skew every BM25 idf; gc only with landed ids " +
        "(the corpus-side delete's key set)")
    Seq((math.max(0L, n - removedN),
        math.max(0L, totLenOf(spark, path) - removedLen)))
      .toDF("n_docs", "tot_len")
      .write.mode("overwrite").parquet(s"$dst/meta/batch=base")
  }

  /** The df-bounded postings probe both searches share: the stored
    * postings restricted to the query's words. On a word-bucketed
    * layout ([[build]] `wordBuckets`) the probe first PARTITION-
    * PRUNES to the query words' buckets — the bucket list is computed
    * with the same `pmod(hash(word), n)` the writer used, collected
    * driver-side (bounded by the query's word count), and applied as
    * a literal partition filter, so pruning is static and visible in
    * the plan (no reliance on runtime DPP). */
  private def probePostings(spark: SparkSession, path: String,
                            qwords: DataFrame): DataFrame = {
    val raw = spark.read.parquet(s"$path/postings")
    val n = wordBucketsOf(spark, path)
    val base =
      if (n > 0 && raw.columns.contains("bucket")) {
        val buckets = qwords
          .withColumn("bucket", pmod(hash(col("word")), lit(n)))
          .select(col("bucket")).distinct()
          .collect().map(_.getInt(0)).toSeq
        raw.filter(col("bucket").isin(buckets: _*))
      } else raw
    base.select(col("word"), col("doc_id"), col("tf"))
      .join(broadcast(qwords), Seq("word"))
  }

  /** BM25 top-k against the stored postings. The probe reads only the
    * posting rows of the QUERY's words (one broadcast semi-join on
    * `word` — with word-bucketed postings this is partition-pruned),
    * plus the doclen/meta tables for the global priors; the corpus
    * text is never read. */
  def searchBm25(spark: SparkSession, path: String, queries: DataFrame,
                 k: Int, k1: Double = 1.2, b: Double = 0.75,
                 queryIdCol: String = "query_id",
                 queryTextCol: String = "qtext"): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val qterms = Lexical.queryTerms(queries, queryIdCol, queryTextCol)
    val qwords = qterms.select(col("word")).distinct()
    val rel = probePostings(spark, path, qwords)
    val df = rel.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val len = spark.read.parquet(s"$path/doclen")
      .select(col("doc_id"), col("len"))
    val g = globalPrior(spark, path, len)
    val cand = broadcast(qterms).join(rel, Seq("word"))
    Lexical.bm25RankFromParts(cand, df, len, g, k, k1, b)
  }

  /** The (n, avgdl) global prior frame both searches feed to
    * [[Lexical.bm25RankFromParts]]: a META-ONLY aggregate when the
    * index stores per-batch `tot_len` (O(batches) rows — no doclen
    * scan per query), falling back to the doclen sum for pre-tot_len
    * indexes (compact upgrades them). Exact either way: batch totals
    * are integer sums of the same lengths. */
  private def globalPrior(spark: SparkSession, path: String,
                          len: DataFrame): DataFrame = {
    import spark.implicits._
    val (n, storedTot) = metaTotals(spark, path)
    if (storedTot >= 0L)
      Seq((n, storedTot)).toDF("n", "tot")
        .withColumn("avgdl", col("tot") * lit(1.0) / col("n"))
    else // mixed/legacy coverage: the honest doclen scan, once
      Seq(n).toDF("n")
        .crossJoin(len.agg(coalesce(sum(col("len")), lit(0L)).as("tot")))
        .withColumn("avgdl", col("tot") * lit(1.0) / col("n"))
  }

  /** HYBRID (BM25 + word-cosine, RRF-fused) top-k against the stored
    * index — the at-scale spelling of [[Lexical.hybridTopK]]: both
    * rankers probe the SAME stored posting rows of the query's words
    * (one df-bounded join, shared by plan reuse), the cosine doc
    * norms come from the `doclen` table's stored `n2` (written at
    * append time — no full-postings aggregate at query time), and
    * the fusion is [[Lexical.rrfFuse]] verbatim. Byte-identical to
    * the in-memory hybrid over the same corpus (spec-pinned).
    * Indexes built before the `n2` column must be rebuilt. */
  def searchHybrid(spark: SparkSession, path: String,
                   queries: DataFrame, k: Int, kEach: Int = 10,
                   k1: Double = 1.2, b: Double = 0.75, kRrf: Int = 60,
                   queryIdCol: String = "query_id",
                   queryTextCol: String = "qtext"): DataFrame = {
    require(k > 0 && kEach > 0)
    val qterms = Lexical.queryTerms(queries, queryIdCol, queryTextCol)
    val qwords = qterms.select(col("word")).distinct()
    // the probe is referenced three times (df aggregate, BM25
    // candidates, cosine dot); a localCheckpoint to read the
    // bucket-pruned postings once was MEASURED (r18: medians 2.50 s
    // without vs 2.37–2.71 s with, inside window noise) and bought
    // nothing — the pruned probe scan is cheap enough that the
    // checkpoint's materialization cancels the saved re-reads, the
    // same result the in-memory hybrid recorded. Left re-planned.
    val rel = probePostings(spark, path, qwords)
    val df = rel.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val doclen = spark.read.parquet(s"$path/doclen")
    require(doclen.columns.contains("n2"),
      s"index at $path predates stored doc norms — rebuild it " +
        "(LexicalIndex.build) to enable hybrid search")
    val len = doclen.select(col("doc_id"), col("len"))
    val g = globalPrior(spark, path, len)
    val bmCand = broadcast(qterms).join(rel, Seq("word"))
    val bm = Lexical.bm25RankFromParts(bmCand, df, len, g, kEach, k1, b)
    val qtf = Lexical.queryTf(queries, queryIdCol, queryTextCol)
    val dot = broadcast(qtf).join(rel, Seq("word"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("qtf") * col("tf")).as("dot"))
    val cos = Lexical.cosineRankFromParts(dot, qtf,
      doclen.select(col("doc_id"), col("n2")), kEach)
    Lexical.rrfFuse(Seq(bm, cos), k, kRrf)
  }
}
