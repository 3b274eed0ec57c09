package graft.pipelines

import graft.ops.GlobalOrdinal
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Redirect-chain resolution — the crawl-graph step after
  * [[graft.ops.Corpus.redirectMap]]'s per-response redirect surface:
  * a moved page often sits behind a CHAIN of 3xx hops (http→https,
  * apex→www, path migration, CDN cutover stacked over years), and
  * the frontier wants the chain's LANDING URL — one fetch, not one
  * per hop — plus the hop count (a ranking/abuse signal) and a loud
  * flag for cycles and over-long chains (both crawl reality;
  * browsers cap around 20 hops and so do we, configurably).
  *
  * ==Algorithm: pointer doubling==
  * The naive spelling follows one hop per join — `maxHops` shuffle
  * rounds. This is the textbook pointer-jumping case (same family
  * as [[graft.dedup.Dedup.connectedComponents]]'s label
  * propagation): keep per-source state `(cur, hops)` and compose the
  * partial function with ITSELF each sweep, so covered chain length
  * DOUBLES — `ceil(log2(maxHops))` self-joins resolve every chain up
  * to `maxHops` (16 hops = 4 sweeps). Each sweep is one equi-join of
  * the |redirects|-sized state frame against itself on the jump key
  * (never the corpus), `localCheckpoint`'d so the plan stays O(1)
  * deep. A row whose `cur` is terminal (no outgoing redirect) left-
  * joins null and stops accumulating, so finished chains carry EXACT
  * hop counts. A cycle never reaches a terminal: after the fixed
  * sweeps its `cur` still has an outgoing edge, and the final flag
  * join marks it `resolved = false` (final URL and hops null — a
  * cycle has no landing URL; reporting the stuck pointer would be
  * noise pretending to be data).
  *
  * ==Scale==
  * State frame = one row per redirect SOURCE — a sliver of the
  * corpus (single-digit % of responses on real crawls). O(log
  * maxHops) shuffle rounds, all keyed on the url; no per-hop
  * iteration, cycles flagged without being walked. At 100 TB the
  * redirect frame is millions of rows — the 4 sweeps are seconds.
  * Up to `driverEdgeLimit` sources the identical recurrence replays
  * on the driver in one collect (the connectedComponents adaptive
  * switch — sweep jobs are pure scheduling at that size); above it
  * nothing is ever collected.
  *
  * Reference: redirect semantics per RFC 9110 §15.4 (the reference
  * engine's crawl fixtures stop at single-hop Location parsing). */
object Redirects {

  /** Resolve redirect chains.
    *
    * @param redirects one row per redirect edge: `src_url` (the
    *                  fetched URL) → `dst_url` (its resolved
    *                  `Location`). A source with CONFLICTING targets
    *                  (re-fetches disagreeing over time) collapses
    *                  deterministically to the minimum target —
    *                  document-order arbitrary would make the output
    *                  nondeterministic under shuffle.
    * @param maxHops   chains longer than this (and all cycles) come
    *                  back `resolved = false`.
    * @return `(url, final_url, n_hops, resolved)` — one row per
    *         distinct redirect source; `final_url`/`n_hops` null
    *         when unresolved. */
  def resolveChains(redirects: DataFrame, maxHops: Int = 16,
                    driverEdgeLimit: Long = GlobalOrdinal.DriverRowCap)
      : DataFrame = {
    require(maxHops >= 1 && maxHops <= 1024,
      s"maxHops must be in [1, 1024], got $maxHops")
    val edges = redirects
      .groupBy(col("src_url").as("url"))
      .agg(min(col("dst_url")).as("cur"))
      .localCheckpoint()

    // jump table = the state itself; each sweep composes state∘state
    val sweeps = 32 - Integer.numberOfLeadingZeros(
      math.max(1, maxHops - 1)) // ceil(log2(maxHops))

    // ADAPTIVE SIZE SWITCH (the connectedComponents/PageRank
    // pattern): a crawl window's redirect frame is routinely tiny
    // after the 3xx filter, and up to `driverEdgeLimit` sources the
    // sweeps' cost is pure scheduling — each is a self-join + an
    // eager checkpoint job (q_redirect_chain: 10 jobs for a 37-row
    // planted graph). The driver replays the IDENTICAL pointer-
    // doubling recurrence over a hash map — same sweep count, same
    // compose, same terminal test; the min-target collapse already
    // happened in the Spark aggregate above, so no driver-side string
    // ordering is involved, only equality (Java String equality ==
    // UTF8String equality). The gating collect reads the checkpoint
    // the distributed path needs anyway; above the limit nothing is
    // kept on the driver.
    val small = GlobalOrdinal.collectUpTo(edges, driverEdgeLimit)
    if (small.nonEmpty) {
      val spark = redirects.sparkSession
      val es = small.get.map(r => (r.getString(0), r.getString(1)))
      var st = new java.util.HashMap[String, (String, Long)]()
      es.foreach { case (u, c) => st.put(u, (c, 1L)) }
      for (_ <- 0 until sweeps) {
        val next = new java.util.HashMap[String, (String, Long)](
          st.size() * 2)
        st.forEach { (u, ch) =>
          val j = st.get(ch._1) // null cur / terminal cur → no jump
          next.put(u, if (j == null) ch else (j._1, ch._2 + j._2))
        }
        st = next
      }
      val srcs = new java.util.HashSet[String]()
      es.foreach { case (u, _) => srcs.add(u) }
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row](
        es.length)
      es.foreach { case (u, _) =>
        val (cur, hops) = st.get(u)
        val open = srcs.contains(cur) || hops > maxHops
        rows.add(org.apache.spark.sql.Row(u,
          if (open) null else cur,
          if (open) null else java.lang.Long.valueOf(hops),
          if (open) 0L else 1L))
      }
      import org.apache.spark.sql.types._
      return spark.createDataFrame(rows, StructType(Seq(
        StructField("url", StringType), StructField("final_url", StringType),
        StructField("n_hops", LongType), StructField("resolved", LongType))))
    }

    var state = edges.select(col("url"), col("cur"),
                             lit(1L).as("hops"))
    var s = 0
    while (s < sweeps) {
      val jump = state.select(col("url").as("j_url"),
                              col("cur").as("j_cur"),
                              col("hops").as("j_hops"))
      state = state.join(jump, col("cur") === col("j_url"), "left")
        .select(col("url"),
                coalesce(col("j_cur"), col("cur")).as("cur"),
                (col("hops") + coalesce(col("j_hops"), lit(0L)))
                  .as("hops"))
        .localCheckpoint()
      s += 1
    }

    // terminal test: cur has no outgoing redirect. Cycle members and
    // over-maxHops chains still point at a source here.
    val srcs = edges.select(col("url").as("t_url"))
    val open = col("t_url").isNotNull || col("hops") > maxHops
    state.join(srcs, col("cur") === col("t_url"), "left")
      .select(col("url"),
              when(open, lit(null)).otherwise(col("cur"))
                .as("final_url"),
              when(open, lit(null)).otherwise(col("hops"))
                .cast("long").as("n_hops"),
              (!open).cast("long").as("resolved"))
  }

  /** The `redirects` input shaped from a crawl frame carrying
    * `target_uri` / `redirect_target` / `is_redirect` columns (the
    * [[graft.ops.Corpus.redirectMap]] surface): keeps resolvable 3xx
    * rows only. */
  def edgesFromCrawl(crawl: DataFrame): DataFrame =
    crawl.filter(col("is_redirect") === 1L &&
                 col("redirect_target").isNotNull)
      .select(col("target_uri").as("src_url"),
              col("redirect_target").as("dst_url"))
}
