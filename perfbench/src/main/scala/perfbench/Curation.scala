package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.pipelines.{Curation => Curate}
import graft.similarity.Similarity

final case class Doc(doc_id: Long, text: String, lang: String,
                     source: String)
final case class Vec(vec_id: Long, embedding: Seq[Float], label: Int)

/** The LLM-data extension: curate a seeded corpus, then exact dedup,
  * MinHash near-dup pairs, their connected components, embedding near-dup
  * pairs and brute-force cosine top-k. The per-row kernels of `functions`
  * and `text` plus `dedup` and `similarity` do the work; little shuffle,
  * no writes.
  *
  * The corpus follows the testdata `documents` shape (30-word vocabulary,
  * 8-100 words a document, five language labels, 20 sources), grown by
  * the position-keyed word scramble of `graft.ScaleProbe`, plus planted
  * copies: 1% near-copies (one word appended, so word 5-shingle Jaccard
  * stays above 0.9) and 0.5% exact copies. Inputs are made on the driver,
  * so set-up runs no Spark job for them. */
final class Curation(seed: Long, tiny: Boolean, wrongExpected: Boolean)
    extends Workload {
  private val (baseDocs, replicas, nVecs, nQueries) =
    if (tiny) (100, 2, 100, 5) else (250, 4, 300, 20)
  private val topK = 10
  val nominalPassS = 4.0
  private val copyOffset = 1000000000L
  private val exactOffset = 2000000000L
  private var docs: DataFrame = _
  private var emb: DataFrame = _
  private var queries: DataFrame = _
  private var plantedDocs: Set[(Long, Long)] = Set.empty
  private var plantedVecs: Set[(Long, Long)] = Set.empty
  private var distinctTexts = 0L
  private var lastRecall = 0.0

  private val vocab = Seq("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")

  def prepare(spark: SparkSession): String = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val langs = Seq("en", "en", "zh", "es", "fr", "de")
    val base = (0 until baseDocs).map { d =>
      Doc(d.toLong, Seq.fill(8 + rnd.nextInt(93))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" "), langs(rnd.nextInt(langs.size)), s"src${d % 20}")
    }
    // replica 0 keeps the text; replicas 1.. permute word positions with
    // a (seed, doc, replica)-keyed shuffle (graft.ScaleProbe's scheme)
    val grown = base ++ (1 until replicas).flatMap(rep => base.map { b =>
      val words = b.text.split(' ').toSeq
      b.copy(doc_id = b.doc_id + rep.toLong * baseDocs,
        text = new scala.util.Random(seed * 1000003L + rep * 7919L + b.doc_id)
          .shuffle(words).mkString(" "))
    })
    // in each block of 100 documents, the first one of 20 words or more
    val near = grown.grouped(100).flatMap(_.find(_.text.count(_ == ' ') >= 19))
      .toSeq
    val exact = grown.grouped(200).map(_.head).toSeq
    val all = grown ++
      near.map(g => g.copy(doc_id = g.doc_id + copyOffset,
        text = g.text + " appendix")) ++
      exact.map(g => g.copy(doc_id = g.doc_id + exactOffset))
    plantedDocs = near.map(g => (g.doc_id, g.doc_id + copyOffset)).toSet
    distinctTexts = all.map(_.text).distinct.size.toLong
    docs = all.toDF().withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(8).cache()

    // 64-d vectors around 10 seeded centroids; 1% planted copies with a
    // 1e-4 relative jitter (cosine > 0.9999)
    val dims = 64
    val centroids = Seq.fill(10, dims)(rnd.nextDouble() * 2 - 1)
    val vecs = (0 until nVecs).map { v =>
      val label = rnd.nextInt(10)
      Vec(v.toLong, centroids(label).map(c =>
        (c + rnd.nextDouble() * 2 - 1).toFloat), label)
    }
    val copies = vecs.grouped(100).map(_.head).toSeq
    plantedVecs = copies.map(v => (v.vec_id, v.vec_id + copyOffset)).toSet
    emb = (vecs ++ copies.map(v => v.copy(vec_id = v.vec_id + copyOffset,
      embedding = v.embedding.map(x =>
        (x * (1 + (rnd.nextDouble() - 0.5) * 2e-4)).toFloat)))).toDF()
      .repartition(8).cache()
    queries = emb.filter(col("vec_id") < nQueries).cache()
    s"docs=${all.size} distinct_texts=$distinctTexts " +
      s"planted_near=${plantedDocs.size} vectors=${vecs.size + copies.size} " +
      s"planted_vec=${plantedVecs.size} queries=$nQueries"
  }

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select(col("id_a"), col("id_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  def pass(spark: SparkSession, t: Tracer, c: Checks, n: Int): Unit = {
    val curated = t.call("pipelines.curate") {
      Curate.curate(docs.select(col("doc_id"), col("text"))).count()
    }
    c.same("pipelines.curate", "curated", curated)
    c.check("pipelines.curate", curated > 0, "curation kept no document")

    val exact = t.call("dedup.exact") { Dedup.dropExactDuplicates(docs).count() }
    val expected = distinctTexts + (if (wrongExpected) 1 else 0)
    c.check("dedup.exact", exact == expected,
      s"exact dedup kept $exact rows, distinct texts $expected")

    val (nearDf, near) = t.call("dedup.minhash_pairs") {
      val p = Dedup.minhashNearDuplicates(docs).localCheckpoint()
      (p, pairs(p))
    }
    val missing = plantedDocs.filterNot(near.contains)
    lastRecall = 1.0 - missing.size.toDouble / math.max(1, plantedDocs.size)
    c.same("dedup.minhash_pairs", "near_pairs", near.size)
    c.check("dedup.minhash_pairs", plantedDocs.nonEmpty && missing.isEmpty,
      s"${missing.size} of ${plantedDocs.size} planted near-copies missed")

    val components = t.call("dedup.components") {
      Dedup.connectedComponents(nearDf).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    c.check("dedup.components", plantedDocs.forall { case (a, b) =>
      components.get(a).exists(components.get(b).contains) },
      "a planted pair is split across components")

    val vecPairs = t.call("dedup.embedding_pairs") {
      pairs(Dedup.embeddingNearDuplicates(emb, minCosine = 0.99))
    }
    val vecMissing = plantedVecs.filterNot(vecPairs.contains)
    c.check("dedup.embedding_pairs", plantedVecs.nonEmpty && vecMissing.isEmpty,
      s"${vecMissing.size} of ${plantedVecs.size} planted vector copies missed")

    val top = t.call("similarity.cosine_topk") {
      Similarity.cosineTopK(queries, emb, topK).collect().toSeq
    }
    val byQuery = top.groupBy(_.getLong(0))
    c.check("similarity.cosine_topk", byQuery.size == nQueries &&
      byQuery.forall { case (q, rs) =>
        rs.size == topK && rs.forall(_.getLong(1) != q) },
      s"top-$topK answered ${byQuery.size} of $nQueries queries, or a " +
        "query returned itself or the wrong count")
  }

  override def layerValues: Map[String, Double] = Map("dup_recall" -> lastRecall)

  override def cleanup(spark: SparkSession): Unit =
    Seq(docs, emb, queries).filter(_ != null).foreach(_.unpersist())
}
