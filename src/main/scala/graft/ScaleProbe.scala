package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf0.1 → sf1 empirical scaling probe for the heavy queries (VERDICT
  * r4 "Next round" #3): generates a 10× corpus from the sf0.1 testdata
  * (no sf1 exists in the harness), times the heavy queries at both
  * scales, and prints one JSON line with per-query growth factors.
  *
  * Generation preserves the statistical shape a real 10× corpus would
  * have instead of naively replicating rows:
  *  - `documents`: 10 replicas with offset doc_ids; replica 0 keeps
  *    the original text, replicas 1..9 apply an independent
  *    per-(doc, replica) word-order permutation (sort positions by
  *    xxhash64(doc_id, rep, pos)). Language-ID and quality kernels are
  *    token-multiset functions, so per-doc scores survive; word
  *    k-shingles do NOT survive reordering, so cross-replica Jaccard
  *    ≈ 0. Because the permutation is doc-keyed, ORGANIC dup pairs
  *    (distinct doc_ids, near-identical text) also decohere in
  *    replicas 1..9 — the scaled corpus has ~1× (not 10×) organic
  *    pairs; the PLANTED pairs every dedup query injects (mutation of
  *    the already-scrambled text inside the query) do scale 10×, so
  *    the pair/clustering stages still grow with the corpus, at a
  *    lower-than-real dup density. Naive replication would instead
  *    make every doc a 10-way exact dup — a different workload
  *    entirely; see SCALING.md for why the word-keyed alternative is
  *    worse.
  *  - `events`: 10 replicas with offset user_ids (new users, same
  *    activity shape); timestamps unchanged.
  *
  * Usage: runMain graft.ScaleProbe [srcDir] [dstDir] [replicas]
  * Defaults: /root/testdata/sf0.1  .bench/sf1  10
  */
object ScaleProbe {

  /** The heavy five from VERDICT r4 plus the round-5 global-window
    * packing query (the one operator whose shuffle is a full
    * range-sort — worth an empirical growth datum); q_self_join_pairs
    * is run with a single pass (its all-pairs semantics make it the
    * slowest probe — see SCALING.md). Round 7 adds the two heaviest
    * previously-unprobed composites (VERDICT r6 #3): the five-stage
    * funnel fold and SemDeDup (k-means + cell-confined pairs + CC). */
  val Heavy = Seq("q_text_stats", "q_ngram_jaccard", "q_dedup_near",
                  // round 11: sketch-then-confirm heavy-hitters —
                  // two corpus scans, k-counter state; growth must
                  // track the scan, never the key count
                  "q_domain_heavyhitters",
                  "q_curation", "q_pack_chunks", "q_self_join_pairs",
                  "q_funnel", "q_semantic_dedup",
                  // round-7 part 2: the new corpus operators — the
                  // map-only repetition kernel should track scan time;
                  // line dedup's two line-keyed shuffles should track
                  // the line count
                  "q_repetition_signals", "q_line_dedup",
                  // round-7 part 3: LM scoring (broadcast target +
                  // map), incremental dedup (existing-side index 10×),
                  // soft-dedup weights (pair graph + CC at 10×)
                  "q_lm_score", "q_incremental_dedup", "q_dedup_weights",
                  // round-8 part 2: PQ (train + encode scale with the
                  // corpus, ADC scan with the code table) and learned
                  // BPE (the dictionary — and so the driver loop —
                  // grows SUBlinearly; the count aggregate is the 10×
                  // part)
                  "q_pq_topk", "q_bpe_tokens",
                  // round 9: mixture (per-source window — budget
                  // boundary work is per-source; doc count is the 10×
                  // part), shard manifest (map arithmetic + one narrow
                  // aggregate — should track scan time), and span dedup
                  // (window-key exchange + affected-sliver rebuild)
                  "q_mix_budget", "q_shard_manifest", "q_span_dedup",
                  // round-9 part 2: fraction decontamination (the
                  // corpus-side shingle exchange is the 10× part; the
                  // benchmark side stays broadcast-small) — q_sniff_route
                  // is omitted: it reads no testdata (fixed 60 assets)
                  "q_decontamination_frac",
                  // round-10 part 2: URL canonicalization (pure map —
                  // should track scan time) and the domain cap (the
                  // one wide stage is the per-domain row_number
                  // window; the planted fixture spreads docs over 21
                  // domains, so partitions grow evenly — the
                  // MEGA-domain skew case is the documented hazard,
                  // not reproducible from uniform testdata)
                  "q_url_canonicalize", "q_domain_cap",
                  // round-10 part 3: the two whole-graph passes (the
                  // planted edge set is ~2|V| so both scale with the
                  // corpus; PageRank's per-iteration rank⋈edges join
                  // and Triangles' wedge join are the 10× parts),
                  // inference (broadcast matrix constant, scan 10×),
                  // the profile aggregate (distinct exchanges are the
                  // wide part), the key+hash diff join, and the three
                  // event-behavior shapes (per-user aggregates and
                  // windows — user count is the 10× part)
                  "q_pagerank", "q_triangles", "q_embed_infer",
                  "q_profile", "q_table_diff", "q_cohort_retention",
                  "q_event_funnel", "q_event_transitions",
                  // round-10 part-3b: the explicit-values pivot (one
                  // two-phase aggregate) and the global ntile window
                  // (the documented single-partition hazard — watch
                  // it). q_bucketed_join is OMITTED: the generated 10×
                  // corpus carries only documents/events replicas, not
                  // orders/lineitem (its scale story is the plan shape
                  // — exchange-free by construction — not a growth
                  // curve, BucketingSpec proves it)
                  "q_pivot_events", "q_char_deciles",
                  // round-10 part 4 (the perf-rework session): the
                  // dense-kernel ANN query — BOTH sides of its
                  // broadcast pass grow with the corpus (queries are
                  // every-50th-doc), so it is declared
                  // quadratic-with-N like q_self_join_pairs; the
                  // production spelling for corpus-scale query sides
                  // is the IVF/PQ index. DSIR (feature join; vocab
                  // sublinear), quality selection (LM pass + one
                  // percentile threshold), the curate→pack and gated
                  // compositions, and the index-served incremental
                  // dedup (index build amortized via the per-dir
                  // memo; the probe measures the recurring per-batch
                  // query)
                  "q_hashed_embed_topk", "q_dsir_weights",
                  "q_select_top_quality", "q_training_data",
                  "q_curation_gated", "q_incremental_dedup_index",
                  // round-10 part 5: leak-safe split + audit (the
                  // near-dup pair machinery is the 10× part — the
                  // split cut itself is map-side; the audit joins the
                  // pair SLIVER to the assignment twice) and the
                  // epoch re-shuffle audit (its global row_number is
                  // the declared single-partition audit spelling over
                  // a doc_id-only projection — watch it; production
                  // is the shard-local writeShards path)
                  "q_split_leakproof", "q_split_leakage",
                  "q_epoch_shuffle",
                  // round 13: the rule filters and the script profile
                  // are pure map passes (growth must track the scan);
                  // the composed C4 clean adds the window-hash groupBy
                  // + anti-join + rebuild (sentence count is the 10×
                  // part); source overlap's shingle stream is the 10×
                  // part while the sketch exchange stays O(sources×k);
                  // LM tiers = the LM pass + one two-percentile
                  // aggregate. q_wet_extract / q_wat_metadata are
                  // omitted: fixed authored fixtures, no testdata
                  // (the q_sniff_route rationale)
                  "q_gopher_filter", "q_c4_lines", "q_c4_clean",
                  "q_source_overlap", "q_script_detect", "q_lm_tiers",
                  // round-13 part 2: PSI drift (one ref percentile
                  // aggregate + two broadcast-edge histograms — both
                  // snapshots are the 10× part), snapshot novelty
                  // (two distinct-hash exchanges + the anti-join),
                  // and the per-source league table (one groupBy
                  // with map-side-combined integer sums)
                  "q_drift_psi", "q_novelty_rate", "q_source_report",
                  // round 14: multilingual langID (one LangId kernel
                  // call per row — pure map over the planted scan),
                  // the detected-language facet (map + 20-group agg),
                  // the 9-script agreement audit (LangId + staged
                  // ScriptHits census, map-only), and the unigram
                  // tokenizer (the BPE shape: one corpus count
                  // aggregate feeds a driver-bounded trainer, encode
                  // is the memoized-UDF map). q_docx_extract /
                  // q_epub_extract / q_audio_fingerprint /
                  // q_video_framedup are omitted: fixed authored
                  // fixtures (the q_sniff_route rationale)
                  "q_lang_id", "q_lang_facets_detected",
                  "q_lang_script_audit", "q_unigram_tokens",
                  // round 15: the trained langID (fit is constant —
                  // the built-in corpus doesn't grow with the data;
                  // scoring is one hashed-n-gram map pass, the 10×
                  // part) and the snapshot read-path (two appends +
                  // compact + two pinned reads — every stage scans
                  // the doc corpus, so growth must track the scan;
                  // the manifest work is O(files), constant here)
                  "q_lang_id_model", "q_snapshot_read",
                  // round 15 part 2: the lakehouse writes (skip /
                  // merge / delete all scan + stage the corpus, so
                  // growth tracks the scan; manifest + stats work is
                  // O(files), constant here), BM25 (one tokenize
                  // pass + postings aggregates — the 10× part — then
                  // df-bounded query joins), the RRF hybrid (two
                  // rankers over the same postings shape), and the
                  // WordPiece tokenizer (the BPE probe shape: corpus
                  // count aggregate + memoized-UDF encode map)
                  "q_snapshot_skip", "q_snapshot_merge",
                  "q_snapshot_delete", "q_snapshot_incremental",
                  "q_snapshot_asof",
                  "q_bm25_topk", "q_bm25_index",
                  "q_hybrid_rrf", "q_wordpiece_tokens",
                  // round 16: the merge-on-read delete (four corpus
                  // appends + one narrow accounting count + the
                  // residual-filtered read — growth must track the
                  // scan, the delete COMMIT itself is O(manifest)),
                  // CDC across a rewrite (two snapshot scans + one
                  // 16-byte-key shuffle), schema evolution (metadata
                  // commits + mapped scan), and the index-fed hybrid
                  // (postings build is the 10× part; the probe is
                  // df-bounded)
                  "q_snapshot_delete_mor", "q_snapshot_cdc",
                  "q_snapshot_rename", "q_hybrid_rrf_index",
                  // round 17: the MoR merge (corpus appends + one
                  // pruned accounting scan + key-file write — the
                  // commit itself is O(manifest)) and the bloom
                  // point-delete (four appends + bloom build is the
                  // 10× part; the accounting scan is bloom-pruned to
                  // O(1) files). q_snapshot_cdc above now rides the
                  // CHAIN-WALK differ: its diff stage reads only the
                  // window's changed/affected files, so growth must
                  // track the appends (the scan), never the diff
                  "q_snapshot_merge_mor", "q_snapshot_bloom",
                  // partition evolution: two corpus appends + the
                  // mixed-layout read + the folding compaction — all
                  // scans; the layout commit itself is O(manifest)
                  "q_snapshot_partition")

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else ".bench/sf1"
    val replicas = if (args.length > 2) args(2).toInt else 10
    val spark = Session.start(Session.verify(Session.cpus))

    import Probe.{exec, timed}

    // COMPRESSED-WALKER probe (round 10 part 2): the Mp3Io/H264Io
    // structural walkers are map-shaped over the kernel seam, so
    // growth must track the asset count, nothing else. Assets are
    // materialized eagerly (localCheckpoint) before timing so the
    // probe isolates the walk from the authoring map.
    // SPARK_GRAFT_PROBE_ONLY=media runs just this block;
    // SPARK_GRAFT_PROBE_QUERIES skips it (query-subset iteration).
    if (!sys.env.contains("SPARK_GRAFT_PROBE_QUERIES")) {
      def mediaProbe(name: String, mk: Int => DataFrame,
                     parse: DataFrame => DataFrame): Unit = {
        def t(n: Int): Double = {
          val assets = mk(n).localCheckpoint(true)
          try {
            // min-of-4: each pass deserializes the full blob column
            // (fresh byte arrays), so individual passes can catch a
            // GC pause; min is the contention-robust ratio statistic
            val ts = Seq.fill(4)(timed(exec(parse(assets))))
            ts.map(math.abs).min
          } finally { assets.unpersist(); () }
        }
        val b = t(6400); val s = t(64000)
        println(f"""{"probe":"$name%s","assets_base":6400,"assets_10x":64000,"base_sec":$b%.3f,"scaled_sec":$s%.3f,"growth":${s / b}%.3f}""")
      }
      mediaProbe("mp3_walk",
        n => graft.multimodal.Multimodal.syntheticMp3Assets(spark, n),
        d => graft.multimodal.Multimodal.parseMp3Streams(d))
      // round 11: MP4 box walker — probe-sized files (400 samples →
      // KB-scale stts/stsz/stco tables + mdat) so the box walk and
      // table expansion, not task setup, set the ratio
      def bigMp4(n: Int): DataFrame = {
        import spark.implicits._
        spark.range(n).as[Long].map { id =>
          (id, graft.multimodal.Mp4Io.encodeMp4(
            widthMbs = 2 + (id % 6).toInt, heightMbs = 2 + (id % 4).toInt,
            nSamples = 400, sampleDelta = 120L, timescale = 1000L,
            seed = id))
        }.toDF("asset_id", "content")
      }
      mediaProbe("mp4_walk", bigMp4,
        d => graft.multimodal.Multimodal.parseMp4Streams(d))
      // the declared 64-asset surface's streams are a few hundred
      // bytes — author probe-sized streams (200 slice NALs ≈ 6 KB,
      // the mass of the MP3 probe's) so the walk, not task setup, is
      // what the ratio measures
      def bigH264(n: Int): DataFrame = {
        import spark.implicits._
        spark.range(n).as[Long].map { id =>
          (id, graft.multimodal.H264Io.encodeAnnexB(
            widthMbs = 1 + (id % 6).toInt, heightMbs = 1 + (id % 4).toInt,
            nIdr = 30, nNonIdr = 170, seed = id))
        }.toDF("asset_id", "content")
      }
      mediaProbe("h264_walk", bigH264,
        d => graft.multimodal.Multimodal.parseH264Streams(d))
      // round 12: the crawl/document stack under the same growth gate.
      // WARC container walk + HTML extraction: each blob is a 50-record
      // shard (~15 KB), parse = record walk + html_text/html_title —
      // map-shaped, growth must track the blob count
      def bigWarc(n: Int): DataFrame = {
        import spark.implicits._
        spark.range(n).as[Long].map { id =>
          val recs = (0 until 50).map { r =>
            val d = id * 50L + r
            ("response", s"http://w${d % 9}.example/p$d",
             "2024-01-01T00:00:00Z", s"<urn:uuid:w$d>",
             "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
               s"<html><head><title>W $d</title></head><body>" +
               s"<p>alpha $d beta ${d % 7}</p></body></html>")
          }
          (id, graft.sources.Warc.writeWarc(recs))
        }.toDF("asset_id", "content")
      }
      mediaProbe("warc_walk", bigWarc, { d =>
        import spark.implicits._
        val rows = d.select(col("asset_id"), col("content"))
          .as[(Long, Array[Byte])]
          .flatMap { case (id, raw) =>
            graft.sources.Warc.recordsOf(raw).map(r =>
              (id, r.targetUri, r.httpStatus,
               new String(r.body, "UTF-8")))
          }.toDF("shard", "uri", "status", "html")
        rows.select(col("uri"),
          graft.text.HtmlText.htmlTitle(col("html")).as("t"),
          graft.text.HtmlText.htmlText(col("html")).as("x"))
      })
      // block-level main-content classification: same pages grown by
      // count; the kernel is a codegen'd scalar, so the probe pins
      // its per-row cost shape
      def bigHtml(n: Int): DataFrame = {
        import spark.implicits._
        spark.range(n).as[Long].map { id =>
          (id,
           s"<nav><a href=/a>Home</a> <a href=/b>More $id</a></nav>" +
             s"<h1>Story ${id % 7}</h1>" +
             s"<p>The deterministic article body number $id carries " +
             s"plenty of prose characters for the classifier run.</p>" +
             s"<footer>Copyright ${id % 10}</footer>")
        }.toDF("asset_id", "html")
      }
      mediaProbe("main_content", bigHtml, d =>
        d.select(graft.text.MainContent.htmlMainContent(col("html"))
          .as("t")))
      // PDF object-graph walk + text replay over probe-sized docs
      // (3 pages × 20 lines, FlateDecode)
      def bigPdf(n: Int): DataFrame = {
        import spark.implicits._
        spark.range(n).as[Long].map { id =>
          (id, graft.sources.Pdf.encodePdf(
            (0 until 3).map(p => (0 until 20).map(l =>
              s"Page $p line $l of probe document $id")),
            flate = true, useTJ = id % 2 == 0))
        }.toDF("asset_id", "content")
      }
      mediaProbe("pdf_walk", bigPdf,
        d => graft.sources.Pdf.parsePdfs(d))
      // robots.txt verdicts (the batch join spelling): URL count grows
      // 10×, the 6-host robots table does not — the join is a
      // broadcast against parsed-rule rows, so growth must track the
      // URL side only
      def bigUrls(n: Int): DataFrame = {
        import spark.implicits._
        spark.range(n).select(col("id").as("doc_id"),
          concat(lit("https://s"), col("id") % 6, lit(".example/"),
            when(col("id") % 3 === 0, lit("private/"))
              .otherwise(lit("pub/")),
            lit("a"), col("id")).as("url"))
      }
      {
        import spark.implicits._
        val robots = Seq(
          ("s0.example", "User-agent: *\nDisallow: /private/\n"),
          ("s1.example", "User-agent: *\nDisallow: /\nAllow: /pub\n"),
          ("s2.example", "User-agent: *\nDisallow:\n"),
          ("s3.example", "User-agent: *\nDisallow: /*/x$\n"),
          ("s4.example", "User-agent: graftbot\nDisallow: /private/\n")
        ).toDF("host", "robots_txt")
        mediaProbe("robots_verdicts", bigUrls, d =>
          graft.text.Robots.verdicts(d, robots, "graftbot/1.0")
            .select(col("doc_id"), col("robots_allowed")))
      }
      // round 12: redirect-chain resolution — pointer doubling is a
      // FIXED number of self-joins (4 at maxHops 16) regardless of
      // row count, so growth must track the frame size, never the
      // hop structure. Each 7-id block plants a 6-hop chain plus a
      // tail merging into it (max resolved hops 7, inside the bound).
      def bigRedirects(n: Int): DataFrame =
        spark.range(n).select(
          concat(lit("http://r.example/u"), col("id")).as("src_url"),
          when(pmod(col("id"), lit(7)) === 6,
               concat(lit("http://r.example/u"), col("id") - 6))
            .when(pmod(col("id"), lit(7)) < 5,
                  concat(lit("http://r.example/u"), col("id") + 1))
            .otherwise(concat(lit("http://r.example/t"), col("id")))
            .as("dst_url"))
      mediaProbe("redirect_chains", bigRedirects, d =>
        graft.pipelines.Redirects.resolveChains(d, maxHops = 16))
      // round 12: HITS — 3 fixed iterations over a 2-out-degree
      // synthetic graph; each half-iteration is a |V|-side join + a
      // map-side-combined groupBy + a scalar max, so growth must
      // track |E| linearly
      def bigGraph(n: Int): DataFrame = {
        val half = spark.range(n).select(col("id").as("src"),
          pmod(col("id") * 7 + 3, lit(n.toLong)).as("dst"))
        half.union(spark.range(n).select(col("id").as("src"),
          pmod(col("id") * 13 + 5, lit(n.toLong)).as("dst")))
          .filter(col("src") =!= col("dst"))
      }
      {
        def t(n: Int): Double = {
          val edges = bigGraph(n).localCheckpoint(true)
          val nodes = spark.range(n).toDF("id").localCheckpoint(true)
          try {
            val ts = Seq.fill(4)(timed(exec(
              graft.graph.Hits.hitsScaled(edges, nodes, iters = 3))))
            ts.map(math.abs).min
          } finally { edges.unpersist(); nodes.unpersist(); () }
        }
        val b = t(6400); val s = t(64000)
        println(f"""{"probe":"hits","assets_base":6400,"assets_10x":64000,"base_sec":$b%.3f,"scaled_sec":$s%.3f,"growth":${s / b}%.3f}""")
      }
      // round 12: change-rate estimation — one url-partitioned window
      // + one aggregate; 5 fetches per url, url count grows 10×
      def bigHistory(n: Int): DataFrame =
        spark.range(n.toLong * 5).select(
          concat(lit("http://cr.example/u"), col("id") / 5).as("url"),
          (pmod(col("id"), lit(5)) * 10).as("fetch_t"),
          concat(lit("d"), pmod(col("id"), lit(5)) / 2).as("digest"))
      mediaProbe("change_rate", bigHistory, d =>
        graft.pipelines.Frontier.changeRate(d))
    }
    if (sys.env.get("SPARK_GRAFT_PROBE_ONLY").contains("media")) {
      spark.stop(); return
    }

    generateIfAbsent(spark, src, dst, replicas)

    // min-of-2 passes (1 for the quadratic-semantics query at scale):
    // min is the contention-robust statistic for a RATIO probe — any
    // noise only inflates a pass, never deflates it.
    // SPARK_GRAFT_PROBE_QUERIES=q_a,q_b probes only that subset (the
    // iteration aid for a round's NEW queries; the driver-run default
    // stays the full Heavy list).
    val probeSet: Seq[String] =
      sys.env.get("SPARK_GRAFT_PROBE_QUERIES") match {
        case Some(s) => Heavy.filter(s.split(',').toSet)
        case None => Heavy
      }
    def run(dir: String): Seq[(String, Double)] = probeSet.map { name =>
      val fn = SparkEntry.queries(name)
      val passes = if (name == "q_self_join_pairs" && dir == dst) 1 else 2
      val ts = Seq.fill(passes)(timed(exec(fn(spark, dir))))
      val best = ts.map(math.abs).min
      name -> (if (ts.forall(_ > 0)) best else -best)
    }

    val base = run(src)
    val scaled = run(dst)

    // PRODUCTION-SHAPE incremental dedup (VERDICT r7 #7): the round-7
    // table row grew BOTH sides 10×; the daily-crawl shape is landed
    // 10×, batch 1×. The batch is the declared query's planted mix
    // built from the BASE corpus both times — only the landed side
    // changes — so the growth figure isolates the landed-side index.
    // ~O(batch) expected: the landed 100 TB reduces to distinct hashes
    // + a frequency-capped posting-list index before anything joins.
    {
      import org.apache.spark.sql.functions._
      def batchFrom(d: DataFrame) = d.select(
        (col("doc_id") + 500000).as("doc_id"),
        when(col("doc_id") % 5 === 0,
             concat(lit("zz1 zz2 zz3 "), col("text")))
          .when(col("doc_id") % 5 === 1, col("text"))
          .otherwise(concat_ws(" ", reverse(split(col("text"), " "))))
          .as("text"))
      val batch = batchFrom(Tables.documents(spark, src))
      def incr(landedDir: String): Double = {
        val landed = Tables.documents(spark, landedDir)
        val ts = Seq.fill(2)(timed(exec(
          graft.dedup.Dedup.dropDuplicatesAgainst(batch, landed)
            .select(col("doc_id")))))
        ts.map(math.abs).min
      }
      val b = incr(src)
      val s = incr(dst)
      println(f"""{"probe":"incremental_realistic","batch":"1x($src)","landed_base_sec":$b%.3f,"landed_10x_sec":$s%.3f,"growth":${s / b}%.3f}""")

      // INDEX-SERVED variant (round 8): the landed corpus materializes
      // into the persistent DedupIndex once; the probe times ONLY the
      // recurring per-batch query. Expected: growth well under the
      // rescan path's — the corpus scan is gone entirely; what remains
      // that scales with landed size is the narrow posting recount.
      def incrIndexed(landedDir: String): (Double, Double) = {
        val path = java.nio.file.Files
          .createTempDirectory("graft-scaleprobe-index").toString
        val tBuild = timed(
          graft.dedup.DedupIndex.build(
            Tables.documents(spark, landedDir)
              .select(col("doc_id"), col("text")), path))
        val ts = Seq.fill(2)(timed(exec(
          graft.dedup.DedupIndex
            .dropDuplicatesAgainstIndex(batch, path)
            .select(col("doc_id")))))
        (ts.map(math.abs).min, math.abs(tBuild))
      }
      val (qb, bb) = incrIndexed(src)
      val (qs, bs) = incrIndexed(dst)
      println(f"""{"probe":"incremental_index","batch":"1x($src)","query_base_sec":$qb%.3f,"query_10x_sec":$qs%.3f,"growth":${qs / qb}%.3f,"build_base_sec":$bb%.3f,"build_10x_sec":$bs%.3f}""")
    }
    def obj(kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
        .mkString("{", ",", "}")
    val growth = base.zip(scaled).map { case ((k, b), (_, s)) =>
      k -> (if (b > 0 && s > 0) s / b else -1.0)
    }
    println(s"""{"probe":"scale","replicas":$replicas,"base_sec":${obj(base)},"scaled_sec":${obj(scaled)},"growth":${obj(growth)},"src":"$src","dst":"$dst"}""")
    spark.stop()
  }

  def generateIfAbsent(spark: SparkSession, src: String, dst: String,
                       replicas: Int): Unit = {
    // completion marker, written only after BOTH tables land — a crash
    // mid-generation must not leave a partial corpus that later runs
    // silently accept (checking documents.parquet alone would)
    val marker = new java.io.File(s"$dst/_GRAFT_GENERATED")
    val reps = spark.range(replicas).select(col("id").as("rep"))
    val docOff = 10000000L

    // embeddings joined the probe in round 7 — a corpus generated by an
    // earlier round carries the marker but not the table, so its
    // presence is checked separately and backfilled alone
    val embDir = new java.io.File(s"$dst/embeddings.parquet")
    def generateEmbeddings(): Unit = {
      // 10 replicas with offset vec_ids; replica 0 keeps the original
      // vector, replicas 1..9 take independent per-(vec, rep, element)
      // multiplicative jitter x·(1 + u), u uniform in ±0.8 — replicas
      // stay correlated with the original (cos ≈ 0.9, so the k-means
      // cell structure scales coherently) but BELOW the 0.95 pair
      // threshold: naive replication would instead make every vector a
      // 10-way exact dup, a different workload entirely (the documents
      // rationale above, in embedding space)
      val emb = Tables.embeddings(spark, src).crossJoin(reps)
        .withColumn("vec_id", col("vec_id") + col("rep") * lit(docOff))
        .withColumn("embedding",
          when(col("rep") === 0, col("embedding")).otherwise(
            zip_with(
              col("embedding"),
              sequence(lit(0), size(col("embedding")) - 1),
              (x, i) => (x * (lit(1.0) +
                (pmod(xxhash64(col("vec_id"), col("rep"), i), lit(1000))
                  .cast("double") / 999.0 * 1.6 - 0.8))).cast("float"))))
        .drop("rep")
      emb.repartition(16).write.mode("overwrite")
        .parquet(s"$dst/embeddings.parquet")
    }
    // orders joined in round 15 — same backfill treatment as embeddings
    val ordDir = new java.io.File(s"$dst/orders.parquet")
    def generateOrders(): Unit = {
      // offset keys keep o_orderkey unique across replicas, which the
      // snapshot queries' key-sliced appends and merge-source
      // distinctness require
      val orders = Tables.orders(spark, src).crossJoin(reps)
        .withColumn("o_orderkey",
          col("o_orderkey") + col("rep") * lit(docOff))
        .drop("rep")
      orders.repartition(16).write.mode("overwrite")
        .parquet(s"$dst/orders.parquet")
    }
    if (marker.exists()) {
      var invalidated = false
      if (!embDir.exists()) { generateEmbeddings(); invalidated = true }
      if (!ordDir.exists()) { generateOrders(); invalidated = true }
      if (invalidated) Tables.invalidate(dst)
      return
    }

    // POSITION-keyed deterministic shuffle: sort (hash(doc, rep, pos),
    // word) structs. Keying by position (not word value) is load-
    // bearing: a word-keyed sort canonicalizes order per replica, so
    // docs sharing vocabulary share long identical runs and the
    // shingle-pair workload explodes ~100× superlinearly (first probe
    // attempt measured Σ C(df,2) = 313M — a generation artifact, not
    // engine behavior). Independent per-doc permutations keep
    // cross-doc shingle overlap at the organic level.
    val docs = Tables.documents(spark, src).crossJoin(reps)
      .withColumn("scrambled_id", col("doc_id") + col("rep") * lit(docOff))
      .withColumn("text",
        when(col("rep") === 0, col("text")).otherwise(
          array_join(
            transform(
              array_sort(
                zip_with(
                  split(col("text"), " "),
                  sequence(lit(0), size(split(col("text"), " ")) - 1),
                  (w, i) => struct(
                    xxhash64(col("doc_id"), col("rep"), i).as("k"),
                    w.as("w")))),
              s => s.getField("w")),
            " ")))
      .withColumn("doc_id", col("scrambled_id"))
      .drop("rep", "scrambled_id")
    docs.repartition(16).write.mode("overwrite")
      .parquet(s"$dst/documents.parquet")

    // ts is read as int64 epoch-nanos (nanosAsLong) and written back as
    // plain int64 — every query already treats it as epoch-nanos
    val events = Tables.events(spark, src).crossJoin(reps)
      .withColumn("user_id", col("user_id") + col("rep") * lit(docOff))
      .withColumn("event_id", col("event_id") + col("rep") * lit(docOff))
      .drop("rep")
    events.repartition(16).write.mode("overwrite")
      .parquet(s"$dst/events.parquet")
    generateOrders()
    generateEmbeddings()
    // the overwrites above invalidate any memoized relations under dst
    Tables.invalidate(dst)
    marker.createNewFile(): Unit
  }
}
