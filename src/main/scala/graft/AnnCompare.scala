package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ANN recall/latency comparison at equal budget — the data behind
  * SCALING.md's variant-selection table (VERDICT r14 #8): exact
  * brute-force cosine is the ground truth; BRP-LSH, IVF, PQ+refine,
  * and residual-IVF-PQ run over the SAME corpus and query sample at
  * their committed default budgets, reporting wall seconds and
  * recall@k against the exact top-k set.
  *
  * Usage (regenerates the table):
  * {{{
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  *     sbt "runMain graft.AnnCompare"
  * }}}
  * Prints one markdown table + one JSON line. Queries are the
  * deterministic `vec_id % 50 == 0` sample (no seed, replayable);
  * recall@k = |approx ∩ exact| / k averaged over queries, the
  * standard FAISS-benchmark metric. */
object AnnCompare {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val k = 10
    val spark = Session.start(Session.verify(Session.cpus))

    val corpus = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).localCheckpoint()
    val queries = corpus.filter(col("vec_id") % 50 === 0)
      .localCheckpoint()
    val nQ = queries.count()
    val nC = corpus.count()

    def topSets(df: DataFrame): Map[Long, Set[Long]] =
      df.select(col("query_id").cast("long"),
          col("neighbor_id").cast("long"))
        .collect().groupBy(_.getLong(0))
        .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSet }

    def timedSets(f: => DataFrame): (Double, Map[Long, Set[Long]]) = {
      val t0 = System.nanoTime()
      val sets = topSets(f)
      ((System.nanoTime() - t0) / 1e9, sets)
    }

    // warmup: touch both frames through one small job each
    corpus.count(); queries.count()

    val (exactSec, exact) = timedSets(
      graft.similarity.Similarity.cosineTopK(queries, corpus, k))

    def recall(approx: Map[Long, Set[Long]]): Double = {
      val per = exact.toSeq.map { case (q, truth) =>
        approx.get(q).map(a => (a intersect truth).size.toDouble / k)
          .getOrElse(0.0)
      }
      if (per.isEmpty) 0.0 else per.sum / per.size
    }

    // two budget tiers per family: the committed defaults (what the
    // golden queries run) and a WIDE tier (more probes / more codes /
    // deeper refine) — the recall/latency dial users actually turn.
    // PQ walls at this scale are dominated by one-off TRAINING
    // (trainPq + KMeans fit run inside the call); at 100 TB the index
    // is built once (writePqIndex) and amortized across every search.
    val variants: Seq[(String, () => DataFrame)] = Seq(
      "brp_lsh" -> (() => graft.similarity.Similarity.annTopK(
        queries, corpus, k)),
      "ivf_p4" -> (() => graft.similarity.Similarity.ivfTopK(
        queries, corpus, k)),
      "ivf_p8" -> (() => graft.similarity.Similarity.ivfTopK(
        queries, corpus, k, nCells = 16, nProbe = 8)),
      "pq_r5" -> (() => graft.similarity.Pq.pqTopKRefined(
        queries, corpus, k)),
      "pq_r20_k64" -> (() => graft.similarity.Pq.pqTopKRefined(
        queries, corpus, k, refine = 20, m = 8, kCodes = 64)),
      "ivfpq" -> (() => graft.similarity.Pq.ivfPqTopK(
        queries, corpus, k)),
      "ivfpq_wide" -> (() => graft.similarity.Pq.ivfPqTopK(
        queries, corpus, k, nCells = 16, nProbe = 8, refine = 20,
        m = 8, kCodes = 64)),
      "ivfpq_res" -> (() => graft.similarity.Pq.ivfPqResidualTopK(
        queries, corpus, k)),
      "ivfpq_res_wide" -> (() => graft.similarity.Pq.ivfPqResidualTopK(
        queries, corpus, k, nCells = 16, nProbe = 8, m = 8,
        kCodes = 64)))

    val rows = variants.map { case (name, f) =>
      val (sec, sets) = timedSets(f())
      (name, sec, recall(sets))
    }

    def f2(v: Double) = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    def f3(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    println(s"\nANN comparison: |corpus|=$nC |queries|=$nQ k=$k sf=$sfDir")
    println("| variant | wall s | recall@10 | vs exact wall |")
    println("|---|---|---|---|")
    println(s"| exact_cosine | ${f2(exactSec)} | 1.000 | 1.00x |")
    rows.foreach { case (n, s, r) =>
      println(s"| $n | ${f2(s)} | ${f3(r)} | ${f2(s / exactSec)}x |")
    }
    val json = rows.map { case (n, s, r) =>
      s""""$n":{"sec":${f2(s)},"recall":${f3(r)}}""" }
      .mkString(",")
    println(s"""{"aux":"ann_compare","exact_sec":${f2(exactSec)},$json,"n_corpus":$nC,"n_queries":$nQ,"k":$k,"sf":"$sfDir"}""")
    spark.stop()
  }
}
