package graft.graph

import graft.ops.GlobalOrdinal
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** PageRank over a directed edge list — the classic iterative graph
  * operator a corpus-curation pipeline runs over its LINK graph:
  * Common-Crawl-style harvests keep a per-page (or per-domain)
  * authority score and feed it into quality filtering / crawl
  * prioritization, exactly the role the damped-popularity and
  * domain-cap operators play for non-graph signals. Complements
  * [[graft.dedup.Dedup]]'s connected components (the engine's other
  * whole-graph pass): CC is the undirected equivalence closure,
  * PageRank the directed stationary mass.
  *
  * Reference anchor: the capstone has no graph op beyond its
  * similarity joins (`segmentation.py`); this is the §2.11 extension
  * family's "what a 100-TB training-data pipeline needs" lane.
  *
  * ==Two spellings==
  *  - [[pageRankScaled]] — INTEGER-exact fixed-point arithmetic
  *    (ranks are `BIGINT` multiples of `1/scale`), every operation a
  *    `div`-floored integer — so an independent engine unrolling the
  *    same recurrence reproduces it BIT-FOR-BIT (declared
  *    `q_pagerank`, hash-gated against a DuckDB twin; float PageRank
  *    could only ever be tolerance-compared across engines).
  *  - [[pageRank]] — the double-precision production spelling, same
  *    plan shape; spec-pinned to track the scaled ranks within
  *    `O(iters/scale)` per node.
  *
  * ==Recurrence==
  * `r⁰_v = scale` (the "ranks sum to N" normalization — keeps every
  * intermediate in `[0, N·scale]`, far under 2⁶³ even at 10⁹ nodes),
  * then `iters` rounds of
  * {{{
  *   r_v = ((dampDen−dampNum)·scale) div dampDen
  *       + Σ_{u→v} (dampNum·r_u) div (dampDen·outdeg_u)
  * }}}
  * Dangling mass (nodes with no outlinks) is dropped, the standard
  * simplification — declared semantics, identical in the twin.
  * Parallel edges are legal and each carries mass; callers wanting
  * set-semantics dedupe first.
  *
  * ==Scale shape==
  * The edge list (the 100-TB side) is joined once per iteration
  * against the rank table (|V| rows — always the SMALL side, e.g.
  * ~10⁹ ranks vs ~10¹¹ edges). [[pageRankScaled]] pre-joins
  * out-degrees ONCE, hash-repartitions edges by `src` ONCE and
  * persists that layout, so each iteration's `ranks ⋈ edges` reuses
  * the edge partitioning (AQE sees matching hash partitioning and
  * shuffles only the rank side); the per-iteration wide stage is the
  * unavoidable contribution `groupBy(dst)` with map-side partial
  * sums. Rank lineage is cut every iteration (`localCheckpoint`) so
  * the plan stays O(1) deep instead of O(iters) — swap for reliable
  * checkpointing on a real cluster. Driver holds nothing; no
  * collect anywhere.
  */
object PageRank {

  /** Out-degree per source node — exposed for tests and for callers
    * that precompute degrees across runs. */
  def outDegrees(edges: DataFrame, srcCol: String = "src"): DataFrame =
    edges.groupBy(col(srcCol)).agg(count(lit(1)).as("outdeg"))

  /** Integer-exact PageRank; returns `(id, rank)` with `rank` the
    * BIGINT fixed-point mass (multiples of `1/scale`, `r⁰ = scale`).
    *
    * `nodes` must carry every vertex that should receive the base
    * mass (isolated sinks included); `edges` rows whose `src` is
    * absent from `nodes` still contribute (declared semantics: the
    * node universe is the caller's contract, same posture as
    * [[graft.dedup.Dedup]]'s CC). */
  def pageRankScaled(edges: DataFrame, nodes: DataFrame,
                     iters: Int = 5, scale: Long = 1000000L,
                     dampNum: Long = 85L, dampDen: Long = 100L,
                     srcCol: String = "src", dstCol: String = "dst",
                     idCol: String = "id",
                     driverEdgeLimit: Long = GlobalOrdinal.DriverRowCap)
      : DataFrame = {
    require(iters >= 0, s"bad iters $iters")
    require(scale > 0 && dampNum >= 0 && dampDen > dampNum,
      s"bad damping $dampNum/$dampDen @ scale $scale")
    val spark = edges.sparkSession
    val shuffle = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // one-time edge prep: attach outdeg, lay out by src, persist —
    // every iteration reuses this exact partitioning
    val e = edges
      .select(col(srcCol).cast("long").as("src"),
              col(dstCol).cast("long").as("dst"))
      .join(outDegrees(edges.select(col(srcCol).cast("long").as("src"))),
            Seq("src"))
      .repartition(shuffle, col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val base = ((dampDen - dampNum) * scale) / dampDen
    val n0 = nodes.select(col(idCol).cast("long").as("id"))
    var ranks = n0.withColumn("rank", lit(scale))
    try {
    // ADAPTIVE SIZE SWITCH (the Dedup.connectedComponents pattern):
    // after candidate filtering a link graph is routinely far smaller
    // than the corpus, and up to `driverEdgeLimit` directed edges the
    // iterative path's cost is pure scheduling: each of `iters` rounds
    // is 2 joins + an aggregate + a lineage cut. The recurrence is
    // integer-exact floor arithmetic, so the driver loop reproduces
    // the distributed path BIT-FOR-BIT (same `div`, same Σ over
    // longs — order-free). The gating collect also fills the persist
    // the iterative path reads; above the limit nothing is kept on
    // the driver.
    val small = GlobalOrdinal.collectUpTo(e, driverEdgeLimit)
    if (small.nonEmpty) {
      import spark.implicits._
      val es = small.get.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val ns = n0.as[Long].collect()
      val rank = new java.util.HashMap[Long, java.lang.Long](ns.length * 2)
      ns.foreach(id => rank.put(id, scale))
      for (_ <- 0 until iters) {
        val mass = new java.util.HashMap[Long, Long](ns.length * 2)
        es.foreach { case (s, d, od) =>
          val r = rank.get(s) // src outside the node universe → no mass
          if (r != null)
            mass.merge(d, (dampNum * r) / (dampDen * od), _ + _)
        }
        ns.foreach(id => rank.put(id, base + mass.getOrDefault(id, 0L)))
      }
      return spark
        .createDataset(ns.toSeq.map(id => (id, rank.get(id).longValue())))
        .toDF("id", "rank")
    }
      for (_ <- 0 until iters) {
        val contribs = e
          .join(ranks.withColumnRenamed("id", "src"), Seq("src"))
          .select(col("dst"),
            // SQL `div`: exact BIGINT floor division (Column./ would
            // detour through doubles and lose exactness past 2^53)
            expr(s"(${dampNum}L * rank) div (${dampDen}L * outdeg)")
              .as("c"))
          .groupBy(col("dst")).agg(sum(col("c")).as("mass"))
        ranks = n0
          .join(contribs.withColumnRenamed("dst", "id"), Seq("id"), "left")
          .select(col("id"),
            (lit(base) + coalesce(col("mass"), lit(0L))).as("rank"))
          .localCheckpoint() // cut lineage: plan depth stays O(1)
      }
      // materialized by the final localCheckpoint (or trivially small
      // at iters=0) — safe to release the edge layout eagerly
      ranks
    } finally e.unpersist(blocking = false)
  }

  /** Double-precision production spelling — identical plan shape
    * (same one-time edge layout, per-iteration small-side shuffle,
    * lineage cut), ranks as `r⁰ = 1.0` floats. Use this when exact
    * cross-engine replay is not required. */
  def pageRank(edges: DataFrame, nodes: DataFrame, iters: Int = 5,
               damping: Double = 0.85, srcCol: String = "src",
               dstCol: String = "dst", idCol: String = "id")
      : DataFrame = {
    require(iters >= 0 && damping >= 0 && damping < 1,
      s"bad iters/damping $iters/$damping")
    val spark = edges.sparkSession
    val shuffle = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val e = edges
      .select(col(srcCol).cast("long").as("src"),
              col(dstCol).cast("long").as("dst"))
      .join(outDegrees(edges.select(col(srcCol).cast("long").as("src"))),
            Seq("src"))
      .repartition(shuffle, col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n0 = nodes.select(col(idCol).cast("long").as("id"))
    var ranks = n0.withColumn("rank", lit(1.0))
    try {
      for (_ <- 0 until iters) {
        val contribs = e
          .join(ranks.withColumnRenamed("id", "src"), Seq("src"))
          .select(col("dst"),
            (lit(damping) * col("rank") / col("outdeg")).as("c"))
          .groupBy(col("dst")).agg(sum(col("c")).as("mass"))
        ranks = n0
          .join(contribs.withColumnRenamed("dst", "id"), Seq("id"), "left")
          .select(col("id"),
            (lit(1.0 - damping) + coalesce(col("mass"), lit(0.0)))
              .as("rank"))
          .localCheckpoint()
      }
      ranks
    } finally e.unpersist(blocking = false)
  }
}
