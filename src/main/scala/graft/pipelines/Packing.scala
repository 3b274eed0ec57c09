package graft.pipelines

import graft.ops.GlobalOrdinal
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Sequence packing — turning a curated corpus into fixed-token-budget
  * training sequences, the last hop of an LLM data pipeline.
  *
  * Two contracts, matching the two shapes in production use:
  *
  *  - [[concatChunks]] — GPT-style concatenate-then-chunk: documents
  *    are laid end-to-end in a deterministic order and the token
  *    stream is cut every `budget` tokens; a document may straddle a
  *    chunk boundary. Implemented as a DISTRIBUTED prefix sum (a
  *    partition-less `Window.orderBy` would plan
  *    `Exchange SinglePartition` and funnel the corpus through one
  *    task): [[graft.ops.GlobalOrdinal.prefix]]. SQL-expressible
  *    semantics → full DuckDB oracle (`q_pack_chunks`).
  *
  *  - [[binPackGreedy]] — no-straddle packing (each sequence holds
  *    whole documents; leftover budget is padding): first-fit-
  *    decreasing run INDEPENDENTLY PER PARTITION over a hash-
  *    distributed id spread (each partition sees a representative
  *    size mix), with globally-unique bin ids (partition id ⊕ local
  *    bin counter). Greedy packing is inherently sequential, so the
  *    distributed form accepts per-partition locality: the FFD waste
  *    bound (≤ 11/9·OPT + 6/9 bins) applies per partition, and
  *    partitions pack in parallel with no coordination. This is the
  *    `mapPartitions`-as-last-resort case the build plan reserves for
  *    genuinely imperative per-partition logic (SURVEY §7.3).
  */
object Packing {

  /** Token-stream offsets and chunk assignment for each document:
    * (input columns…, offset, chunk, chunk_end) where `offset` is the
    * document's first-token position in the concatenated stream
    * ordered by `orderCol`, `chunk` = offset / budget is the training
    * sequence its first token lands in, and `chunk_end` the sequence
    * of its last token (straddles when chunk_end > chunk).
    *
    * `orderCol` must be a NUMERIC, unique order key (doc ids).
    *
    * Plan: [[graft.ops.GlobalOrdinal.prefix]] over quantile buckets of
    * the order key — one eager approx-quantile pass fixes the boundary
    * literals (collected once, so every branch sees identical
    * buckets), one aggregate collects the per-bucket token totals, and
    * the corpus takes one hash exchange on the bucket id for the
    * local prefix-sum window. No single-partition plan node anywhere
    * — not even a bounded one. Null token counts contribute 0.
    *
    * The operator OWNS ITS EVALUATION COUNT (VERDICT r7 #3): the plan
    * reads its input three times (range-bound probe, bucket-totals
    * aggregate, main window pass), so by default the input is lazily
    * `localCheckpoint`ed here — the quantile probe (the first action)
    * materializes it and the other two passes read the stored blocks;
    * an expensive upstream DAG executes ONCE however this is called.
    * Blocks live on executors (memory, spilling to local disk), so the
    * cost is one pass of the input's width: callers with wide rows
    * (raw text, blobs) should project down to (orderCol, tokensCol)
    * first — offsets join back by the unique order key — as
    * `Curation.prepareTrainingData` does. `ownInput = false` opts out
    * when the caller already caches/checkpoints. */
  def concatChunks(docs: DataFrame, tokensCol: String, budget: Int,
                   orderCol: String = "doc_id",
                   ownInput: Boolean = true): DataFrame = {
    require(budget > 0, "budget must be positive")
    val input = if (ownInput) docs.localCheckpoint(false) else docs
    val (ranked, _) = GlobalOrdinal.prefix(input, Seq(GlobalOrdinal.Ordinal(
      "offset", GlobalOrdinal.quantileBucket(input, col(orderCol)),
      Seq(col(orderCol)))), col(tokensCol))
    ranked
      // integral division (`div`), never Column./ — the `/` operator is
      // double division, which silently loses integer precision once
      // offsets pass ~2^53 (a few PB of tokens, i.e. exactly the scale
      // this API claims); `div` matches the DuckDB oracle's `//`
      .withColumn("__last",
        col("offset") + greatest(col(tokensCol).cast("long"), lit(1L)) - 1L)
      .withColumn("chunk", expr(s"offset div ${budget}L"))
      .withColumn("chunk_end", expr(s"__last div ${budget}L"))
      .drop("__last")
  }

  /** Whole-document first-fit packing: output (idCol, n_tokens,
    * bin_id), every document assigned to exactly one bin, no bin's
    * token sum exceeding `budget` — except a single over-budget
    * document, which gets a bin of its own (the caller decides to
    * truncate or split those upstream).
    *
    * Documents are hash-distributed by id over `numPartitions` (a
    * deterministic spread in which each partition receives a
    * representative mix of sizes), sorted size-descending WITHIN each
    * partition (first-fit-DECREASING — the classic waste bound, which
    * holds per partition), and packed with a local first-fit; bin ids
    * are (partition index) + numPartitions · (local bin ordinal), so
    * they are globally unique without any cross-partition
    * coordination. */
  /** Overlapping token-window chunking — the RAG-indexing shape (and
    * the sliding-window eval shape): each document's whitespace token
    * stream is cut into windows of `width` tokens whose starts advance
    * by `stride`; `stride < width` overlaps consecutive chunks so no
    * boundary-straddling span is lost to retrieval. Output: one row
    * per (doc, window) — (idCol, chunk_idx, token_start, chunk_text,
    * n_tokens); the final window may be shorter than `width`.
    *
    * Pure generator plan: split once, `sequence` + `explode` for the
    * window starts, `slice`/`array_join` rebuild the window text —
    * all codegen'd array expressions, no UDF, no shuffle at all (the
    * output inherits the scan's partitioning; a 100-TB corpus chunks
    * map-side). Null texts produce no rows — filtered explicitly,
    * because Spark's size(null) is −1 (a null text would otherwise
    * emit one junk row where the SQL twin's unnest(NULL) emits none).
    * Fully SQL-expressible → DuckDB-oracled (`q_chunk_overlap`). */
  def chunkOverlap(docs: DataFrame, textCol: String = "text",
                   idCol: String = "doc_id", width: Int = 32,
                   stride: Int = 24): DataFrame = {
    require(width > 0 && stride > 0 && stride <= width,
      s"need 0 < stride <= width, got width=$width stride=$stride")
    val toks = split(col(textCol), " ")
    docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol), toks.as("__toks"), size(toks).as("__n"))
      .select(col(idCol), col("__toks"), col("__n"),
        explode(sequence(lit(0), greatest(col("__n") - 1, lit(0)),
                         lit(stride))).as("__start"))
      .select(col(idCol),
        (col("__start") / lit(stride)).cast("long").as("chunk_idx"),
        col("__start").cast("long").as("token_start"),
        array_join(slice(col("__toks"), col("__start") + 1, lit(width)),
                   " ")
          .as("chunk_text"),
        least(lit(width), col("__n") - col("__start")).cast("long")
          .as("n_tokens"))
  }

  def binPackGreedy(docs: DataFrame, tokensCol: String, budget: Int,
                    idCol: String = "doc_id",
                    numPartitions: Int = 0): DataFrame = {
    require(budget > 0, "budget must be positive")
    val spark = docs.sparkSession
    val n = if (numPartitions > 0) numPartitions
            else spark.sparkContext.defaultParallelism
    val prepped = docs
      .select(col(idCol), col(tokensCol).cast("long").as("n_tokens"))
      .repartition(n, col(idCol))
      .sortWithinPartitions(col("n_tokens").desc, col(idCol))
    val outSchema = StructType(prepped.schema.fields :+
      StructField("bin_id", LongType, nullable = false))
    val rows = prepped.rdd.mapPartitionsWithIndex { (pid, it) =>
      // first-fit: bins keep remaining capacity; linear scan is fine —
      // per-partition bin count is bounded by slice token sum / budget
      val remaining = scala.collection.mutable.ArrayBuffer.empty[Long]
      it.map { r =>
        val id = r.get(0)
        // fail loudly on null/negative token counts: a null would NPE
        // deep in the task, and a negative would silently inflate bin
        // capacity, breaking the no-bin-over-budget invariant
        require(!r.isNullAt(1),
          s"binPackGreedy: null $tokensCol for $idCol=$id")
        val tok = r.getLong(1)
        require(tok >= 0,
          s"binPackGreedy: negative $tokensCol ($tok) for $idCol=$id")
        var b = 0
        while (b < remaining.length && remaining(b) < tok) b += 1
        if (b == remaining.length) remaining += budget.toLong
        // an over-budget document gets a bin of its own, sealed with
        // capacity -1 so nothing (not even a zero-token doc) joins it
        remaining(b) = if (tok > budget) -1L else remaining(b) - tok
        Row(id, tok, pid.toLong + n.toLong * b.toLong)
      }
    }
    spark.createDataFrame(rows, outSchema)
  }
}
