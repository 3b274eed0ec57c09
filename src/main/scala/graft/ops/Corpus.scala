package graft.ops

import graft.Tables
import graft.dedup.{Dedup, DedupIndex}
import graft.similarity.Similarity
import graft.text.Text
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM-training-corpus operators as declared oracle queries over the
  * `documents` / `embeddings` / `events` testdata (the extension surface
  * of SURVEY §7.5; absent from the reference, which never touches text).
  *
  * Where a detector needs duplicates to detect, the query PLANTS them —
  * the same deterministic clone/mutation is written into the DuckDB
  * oracle SQL, so both engines see the identical corpus and the oracle
  * genuinely checks dedup behavior rather than vacuously grouping
  * distinct rows.
  */
object Corpus {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(col("doc_id"), col("text"))

  /** Snapshot-isolated table reads through the manifest layer
    * ([[graft.sources.Snapshot]]): build a snapshot table from the
    * documents corpus in two appends (evens, then odds), COMPACT it,
    * and aggregate the two PRE-compaction snapshots read AFTER the
    * compaction commit — the hash gate proves time travel returns
    * exactly the rows each version committed (v1 = evens, v2 = all),
    * untouched by the rewrite underneath. The oracle replays the same
    * two slices straight off the parquet source. The table lives in a
    * fresh temp dir per call (left for the OS; a few hundred KB at
    * sf0.01) because the returned frame lazily reads its files. */
  def snapshotRead(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Snapshot
    val table = java.nio.file.Files
      .createTempDirectory("graft-snapq").toString + "/t"
    val d = docs(spark, dir)
    Snapshot.append(d.filter(col("doc_id") % 2 === 0), table) // v1
    Snapshot.append(d.filter(col("doc_id") % 2 === 1), table) // v2
    Snapshot.compact(spark, table)                            // v3
    val v1 = Snapshot.read(spark, table, Some(1L))
      .withColumn("snap", lit(1L))
    val v2 = Snapshot.read(spark, table, Some(2L))
      .withColumn("snap", lit(2L))
    v1.unionByName(v2)
      .groupBy(col("snap"), (col("doc_id") % 8).as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
           sum(length(col("text")).cast("long")).as("total_chars"))
      .orderBy(col("snap"), col("bucket"))
  }

  /** Manifest DATA SKIPPING as a declared query
    * ([[graft.sources.Snapshot.readWhere]]): the orders table lands in
    * a snapshot as four KEY-SORTED appends (each `coalesce(1)` — four
    * files with disjoint `o_orderkey` ranges and per-file min/max
    * recorded in the manifest), then a quartile key-range read answers
    * through the stats index. The query itself asserts files were
    * PRUNED (kept < total — the scale contract, not just the values),
    * and the hash gate proves the pruned read is exact: the oracle is
    * the plain `BETWEEN` aggregate off the raw table. Bounds derive
    * from `max(o_orderkey)` so the query is scale-factor-independent. */
  def snapshotSkip(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Snapshot
    val table = java.nio.file.Files
      .createTempDirectory("graft-snapskip").toString + "/t"
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"))
    val mx = Tables.maxLongOf(spark, dir, "orders", "o_orderkey")
    val q = mx / 4
    Snapshot.append(o.filter(col("o_orderkey") <= q).coalesce(1),
      table, statsCols = Seq("o_orderkey"))
    Snapshot.append(o.filter(col("o_orderkey") > q &&
      col("o_orderkey") <= 2 * q).coalesce(1),
      table, statsCols = Seq("o_orderkey"))
    Snapshot.append(o.filter(col("o_orderkey") > 2 * q &&
      col("o_orderkey") <= 3 * q).coalesce(1),
      table, statsCols = Seq("o_orderkey"))
    Snapshot.append(o.filter(col("o_orderkey") > 3 * q).coalesce(1),
      table, statsCols = Seq("o_orderkey"))
    val (total, kept) = Snapshot.pruneCount(spark, table,
      "o_orderkey", q + 1, 2 * q)
    require(kept < total,
      s"data skipping planned $kept of $total files — no pruning")
    Snapshot.readWhere(spark, table, "o_orderkey", q + 1, 2 * q)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
           sum(col("o_orderkey")).as("sum_key"))
      .orderBy(col("o_orderstatus"))
  }

  /** Snapshot MERGE (copy-on-write upsert) as a declared query
    * ([[graft.sources.Snapshot.merge]]): orders land in two key-sorted
    * files; the source UPDATES every `o_orderkey % 10 == 3` row's
    * price (+1 000 000 cents) and INSERTS a shifted copy of every
    * `% 997 == 0` row under key `k + 10·max`. The final snapshot's
    * per-status aggregate must hash-match the oracle building the same
    * merged state with CASE + UNION off the raw table — update
    * semantics, insert semantics, and untouched-row preservation in
    * one gate. The price idiom (`round(price·100)` cents as BIGINT)
    * is the established cross-engine-stable spelling. */
  def snapshotMerge(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Snapshot
    val table = java.nio.file.Files
      .createTempDirectory("graft-snapmerge").toString + "/t"
    val base = Tables.orders(spark, dir).select(
      col("o_orderkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long").as("price_cents"))
    val mx = Tables.maxLongOf(spark, dir, "orders", "o_orderkey")
    val half = mx / 2
    Snapshot.append(base.filter(col("o_orderkey") <= half).coalesce(1),
      table, statsCols = Seq("o_orderkey"))
    Snapshot.append(base.filter(col("o_orderkey") > half).coalesce(1),
      table, statsCols = Seq("o_orderkey"))
    val updates = base.filter(col("o_orderkey") % 10 === 3)
      .withColumn("price_cents", col("price_cents") + 1000000L)
    val inserts = base.filter(col("o_orderkey") % 997 === 0)
      .select((col("o_orderkey") + 10L * mx).as("o_orderkey"),
        col("o_orderstatus"), col("price_cents"))
    Snapshot.merge(updates.unionByName(inserts), table, "o_orderkey")
    Snapshot.read(spark, table)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
           sum(col("price_cents")).as("sum_price_cents"),
           sum(col("o_orderkey")).as("sum_key"))
      .orderBy(col("o_orderstatus"))
  }

  /** MERGE-ON-READ MERGE (upsert) as a declared query
    * ([[graft.sources.Snapshot.mergeMor]]): the same update+insert
    * source as [[snapshotMerge]], landed as one equality-delete +
    * append commit. The query itself asserts the at-scale contract —
    * every pre-merge data file is carried BYTE-IDENTICAL into the
    * new manifest (zero matched-file rewrites; the copy-on-write
    * twin rewrites every matched file) and the commit records a
    * pending equality delete — and the hash gate proves the
    * read-side anti-join is exact: the merged state must answer the
    * SAME CASE/UNION aggregate as the CoW merge, both before
    * ('mor') and after ('folded') a compaction folds the delete. */
  def snapshotMergeMor(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Snapshot
    val table = java.nio.file.Files
      .createTempDirectory("graft-snapmergemor").toString + "/t"
    val base = Tables.orders(spark, dir).select(
      col("o_orderkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long").as("price_cents"))
    val mx = Tables.maxLongOf(spark, dir, "orders", "o_orderkey")
    val half = mx / 2
    Snapshot.append(base.filter(col("o_orderkey") <= half).coalesce(1),
      table, statsCols = Seq("o_orderkey"))
    Snapshot.append(base.filter(col("o_orderkey") > half).coalesce(1),
      table, statsCols = Seq("o_orderkey"))
    val updates = base.filter(col("o_orderkey") % 10 === 3)
      .withColumn("price_cents", col("price_cents") + 1000000L)
    val inserts = base.filter(col("o_orderkey") % 997 === 0)
      .select((col("o_orderkey") + 10L * mx).as("o_orderkey"),
        col("o_orderstatus"), col("price_cents"))
    val pre = Snapshot.readManifest(spark, table, 2L).get.files
      .map(f => (f.path, f.bytes))
    val v = Snapshot.mergeMor(updates.unionByName(inserts), table,
      "o_orderkey")
    val m = Snapshot.readManifest(spark, table, v).get
    val post = m.files.map(f => (f.path, f.bytes))
    require(m.action == "merge-mor" && post.take(pre.size) == pre &&
      post.size > pre.size,
      s"merge-on-read merge rewrote matched files: ${pre.size} -> " +
        s"${post.size}")
    require(m.eqDeletes.nonEmpty, "no pending equality delete recorded")
    val agg = (df: DataFrame) => df
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
           sum(col("price_cents")).as("sum_price_cents"),
           sum(col("o_orderkey")).as("sum_key"))
    val live = agg(Snapshot.read(spark, table))
    Snapshot.compact(spark, table) // fold the pending delete
    val folded = agg(Snapshot.read(spark, table))
    live.withColumn("phase", lit("mor"))
      .unionByName(folded.withColumn("phase", lit("folded")))
      .orderBy(col("phase"), col("o_orderstatus"))
      .select(col("phase"), col("o_orderstatus"), col("n"),
              col("sum_price_cents"), col("sum_key"))
  }

  /** Snapshot RANGE DELETE as a declared query
    * ([[graft.sources.Snapshot.deleteRange]]): orders land as four
    * key-sorted files; deleting the second quartile must drop that
    * file WHOLESALE (the query asserts the post-delete manifest is a
    * strict subset of the pre-delete one — zero data movement, the
    * retention-expiry contract at 100 TB), and the surviving state
    * must hash-match the oracle's `NOT BETWEEN` aggregate. */
  def snapshotDelete(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Snapshot
    val table = java.nio.file.Files
      .createTempDirectory("graft-snapdel").toString + "/t"
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"))
    val mx = Tables.maxLongOf(spark, dir, "orders", "o_orderkey")
    val q = mx / 4
    Snapshot.append(o.filter(col("o_orderkey") <= q).coalesce(1),
      table, statsCols = Seq("o_orderkey"))
    Snapshot.append(o.filter(col("o_orderkey") > q &&
      col("o_orderkey") <= 2 * q).coalesce(1),
      table, statsCols = Seq("o_orderkey"))
    Snapshot.append(o.filter(col("o_orderkey") > 2 * q &&
      col("o_orderkey") <= 3 * q).coalesce(1),
      table, statsCols = Seq("o_orderkey"))
    Snapshot.append(o.filter(col("o_orderkey") > 3 * q).coalesce(1),
      table, statsCols = Seq("o_orderkey"))
    val pre = Snapshot.readManifest(spark, table, 4L).get.files
      .map(_.path).toSet
    val v = Snapshot.deleteRange(spark, table, "o_orderkey",
      q + 1, 2 * q)
    val post = Snapshot.readManifest(spark, table, v).get.files
      .map(_.path).toSet
    require(post.subsetOf(pre) && post.size == pre.size - 1,
      s"quartile delete was not a wholesale file drop: " +
        s"${pre.size} -> ${post.size} files, staged ${post.diff(pre)}")
    Snapshot.read(spark, table)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
           sum(col("o_orderkey")).as("sum_key"))
      .orderBy(col("o_orderstatus"))
  }

  /** MERGE-ON-READ row deletion as a declared query
    * ([[graft.sources.Snapshot.deleteRangeMor]]): orders land as four
    * key-ranged files, then a range straddling two file boundaries is
    * deleted merge-on-read. The query itself asserts the delete
    * commit REWROTE ZERO DATA FILES (the file list is byte-identical
    * across the commit — the at-scale contract: a retention pass is
    * one manifest write), and the hash gate proves the read-side
    * residual is exact: the oracle is the plain `NOT BETWEEN`
    * aggregate off the raw table. The follow-up compaction folds the
    * pending delete and must re-answer the same aggregate. */
  def snapshotDeleteMor(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Snapshot
    val table = java.nio.file.Files
      .createTempDirectory("graft-snapdelmor").toString + "/t"
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"))
    val mx = Tables.maxLongOf(spark, dir, "orders", "o_orderkey")
    val q = mx / 4
    (0 until 4).foreach { k =>
      val loK = k * q
      val hiF: Column =
        if (k == 0) col("o_orderkey") <= q // keys start at 0
        else if (k == 3) col("o_orderkey") > loK
        else col("o_orderkey") > loK && col("o_orderkey") <= loK + q
      Snapshot.append(o.filter(hiF).coalesce(1), table,
        statsCols = Seq("o_orderkey"))
    }
    // the deleted range straddles the file-1/file-2 boundary: neither
    // file is provably contained, so no wholesale drop is available —
    // copy-on-write would rewrite both; merge-on-read writes NOTHING
    val lo = q / 2 + 1
    val hi = q + q / 2
    val pre = Snapshot.readManifest(spark, table, 4L).get.files
      .map(f => (f.path, f.bytes))
    val v = Snapshot.deleteRangeMor(spark, table, "o_orderkey", lo, hi)
    val m = Snapshot.readManifest(spark, table, v).get
    val post = m.files.map(f => (f.path, f.bytes))
    require(m.action == "delete-mor" && post == pre,
      s"merge-on-read delete touched data files: ${pre.size} -> " +
        s"${post.size}")
    require(m.rangeDeletes.nonEmpty, "no residual recorded")
    val agg = (df: DataFrame) => df
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("sum_key"))
    val live = agg(Snapshot.read(spark, table))
    // folding the delete at compaction must preserve the answer
    Snapshot.compact(spark, table)
    val folded = agg(Snapshot.read(spark, table))
    live.withColumn("phase", lit("mor"))
      .unionByName(folded.withColumn("phase", lit("folded")))
      .orderBy(col("phase"), col("o_orderstatus"))
      .select(col("phase"), col("o_orderstatus"), col("n"),
              col("sum_key"))
  }

  /** PARTITION EVOLUTION as a declared query
    * ([[graft.sources.Snapshot.repartitionTable]]): half the orders
    * land FLAT, the table re-declares itself status-partitioned — a
    * metadata-only commit, asserted in-query to have touched zero
    * data files — and the second half lands under the new layout.
    * The mixed table must read as ONE (a status-filtered aggregate
    * over both layouts), with the facet filter PARTITION-PRUNING the
    * new-layout files (executed-plan assert); after compaction folds
    * the old files into the declared layout the same aggregate must
    * re-answer. The oracle replays both phases off the raw table. */
  def snapshotPartition(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Snapshot
    val table = java.nio.file.Files
      .createTempDirectory("graft-snappart").toString + "/t"
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"))
    Snapshot.append(o.filter(col("o_orderkey") % 2 === 0), table,
      statsCols = Seq("o_orderkey"))                          // v1
    val files1 = Snapshot.readManifest(spark, table, 1L).get.files
      .map(f => (f.path, f.bytes))
    val v2 = Snapshot.repartitionTable(spark, table,
      Seq("o_orderstatus"))                                   // v2
    val m2 = Snapshot.readManifest(spark, table, v2).get
    require(m2.action == "layout" &&
      m2.files.map(f => (f.path, f.bytes)) == files1,
      "partition evolution touched data files")
    Snapshot.appendPartitioned(o.filter(col("o_orderkey") % 2 === 1),
      table, Seq("o_orderstatus"),
      statsCols = Seq("o_orderkey"))                          // v3
    // the facet filter must PARTITION-PRUNE the new-layout files
    val probe = Snapshot.read(spark, table)
      .filter(col("o_orderstatus") === "F")
    val scans = probe.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    require(scans.exists(_.partitionFilters.exists(
      _.references.exists(_.name == "o_orderstatus"))),
      "no partition filter bound on the evolved layout")
    val agg = (df: DataFrame) => df
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("sum_key"))
    val mixed = agg(Snapshot.read(spark, table))
    Snapshot.compact(spark, table) // v4: fold into the declared layout
    val m4 = Snapshot.readManifest(spark, table,
      Snapshot.latestVersion(spark, table).get).get
    require(m4.files.forall(_.path.split('/')
      .exists(_.startsWith("o_orderstatus="))),
      "compaction did not fold the old files into the new layout")
    val folded = agg(Snapshot.read(spark, table))
    mixed.withColumn("phase", lit("mixed"))
      .unionByName(folded.withColumn("phase", lit("folded")))
      .orderBy(col("phase"), col("o_orderstatus"))
      .select(col("phase"), col("o_orderstatus"), col("n"),
              col("sum_key"))
  }

  /** Manifest BLOOM-FILTER pruning as a declared query
    * ([[graft.sources.Snapshot.readEquals]] /
    * [[graft.sources.Snapshot.keyPruneCount]]): a fixed orders slice
    * lands as four residue-class files whose key RANGES all overlap
    * (min/max stats can prune nothing — asserted), with per-file
    * Bloom filters on the key. A key-list delete whose keys all live
    * in ONE residue class must open fewer files than the table holds
    * (the accounting-scan contract the filters exist for — asserted
    * in-query), commit zero data writes (delete-mor contract), and
    * the hash gate proves the surviving state exact against the
    * oracle's modular NOT-filter, both through the read-side
    * anti-join ('mor') and after compaction folds it ('folded').
    * The slice bound (12 000) is FIXED so per-file filters stay far
    * from saturation at every tested scale factor. */
  def snapshotBloom(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Snapshot
    val table = java.nio.file.Files
      .createTempDirectory("graft-snapbloom").toString + "/t"
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"))
      .filter(col("o_orderkey") <= 12000L)
    (0 until 4).foreach { r =>
      Snapshot.append(o.filter(col("o_orderkey") % 4 === r).coalesce(1),
        table, statsCols = Seq("o_orderkey"),
        bloomCols = Seq("o_orderkey"))
    }
    // ranges overlap everywhere: a mid-range POINT admits every file
    // (the midpoint derives from the slice so the assert holds at
    // every scale factor, incl. tables smaller than the slice bound)
    val mid = o.agg(max(col("o_orderkey"))).head().getLong(0) / 2
    val (total, rangeKept) = Snapshot.pruneCount(spark, table,
      "o_orderkey", mid, mid)
    require(rangeKept == total,
      s"fixture broken: ranges should overlap everywhere " +
        s"($rangeKept of $total)")
    // keys ≡ 1 (mod 100) are all ≡ 1 (mod 4): one residue file
    val keys = o.filter(col("o_orderkey") % 100 === 1)
      .select(col("o_orderkey"))
    val (_, kept) = Snapshot.keyPruneCount(spark, table, keys)
    require(kept < total,
      s"bloom pruned nothing: accounting scan opens $kept of $total")
    val pre = Snapshot.readManifest(spark, table, 4L).get.files
      .map(f => (f.path, f.bytes))
    val v = Snapshot.deleteKeysMor(keys, table)
    val m = Snapshot.readManifest(spark, table, v).get
    require(m.files.map(f => (f.path, f.bytes)) == pre,
      "key delete touched data files")
    val agg = (df: DataFrame) => df
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("sum_key"))
    val live = agg(Snapshot.read(spark, table))
    Snapshot.compact(spark, table)
    val folded = agg(Snapshot.read(spark, table))
    live.withColumn("phase", lit("mor"))
      .unionByName(folded.withColumn("phase", lit("folded")))
      .orderBy(col("phase"), col("o_orderstatus"))
      .select(col("phase"), col("o_orderstatus"), col("n"),
              col("sum_key"))
  }

  /** WRITE-AUDIT-PUBLISH as a declared query
    * ([[graft.sources.Snapshot.createBranch]] /
    * [[graft.sources.Snapshot.publish]]): the even orders land on
    * main, the odd orders land on an `audit` BRANCH — asserted
    * in-query to be invisible to main readers (row count and version
    * chain unchanged) while the audit-side read sees the full table —
    * and a fast-forward publish promotes the branch metadata-only
    * (zero data files move, asserted by path+bytes identity). The
    * oracle replays all three phases off the raw table, so the hash
    * gate proves main-before (evens), audit (all), and
    * main-after-publish (all) exactly. */
  def snapshotBranch(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Snapshot
    val table = java.nio.file.Files
      .createTempDirectory("graft-snapbranch").toString + "/t"
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"))
    Snapshot.append(o.filter(col("o_orderkey") % 2 === 0), table) // v1
    Snapshot.createBranch(spark, table, "audit")
    val bv = Snapshot.append(o.filter(col("o_orderkey") % 2 === 1),
      table, branch = "audit")                                    // v2
    // branch files staged once, here — publish must move ZERO bytes
    val branchFiles = Snapshot.readManifest(spark, table, bv).get
      .files.map(f => (f.path, f.bytes))
    // invisible to main: head, version chain, and rows all unchanged
    require(Snapshot.branches(spark, table) ==
      Map("main" -> 1L, "audit" -> bv),
      "branch commit moved the wrong ref")
    require(Snapshot.versions(spark, table).map(_._1) == Seq(1L),
      "branch commit leaked into the main version chain")
    val agg = (df: DataFrame) => df
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("sum_key"))
    val pre = agg(Snapshot.read(spark, table))
    val audit = agg(Snapshot.readBranch(spark, table, "audit"))
    val published = Snapshot.publish(spark, table, "audit")
    require(published == bv, "publish did not fast-forward to the " +
      "audited head")
    // metadata-only promotion: main now reads the EXACT files the
    // branch staged — no rewrite, no copy
    val post = Snapshot.readManifest(spark, table, published).get
      .files.map(f => (f.path, f.bytes))
    require(post == branchFiles, "publish moved data files")
    val after = agg(Snapshot.read(spark, table))
    pre.withColumn("phase", lit("pre"))
      .unionByName(audit.withColumn("phase", lit("audit")))
      .unionByName(after.withColumn("phase", lit("published")))
      .orderBy(col("phase"), col("o_orderstatus"))
      .select(col("phase"), col("o_orderstatus"), col("n"),
              col("sum_key"))
  }

  /** Incremental snapshot consumption as a declared query
    * ([[graft.sources.Snapshot.readAppendsSince]]): documents land in
    * two appends (evens then odds); a consumer baselined at v1 reads
    * ONLY v2's rows off the manifest file-diff — no flag columns, no
    * rewrite. The oracle replays the odd slice straight off the raw
    * table, so the hash gate proves the CDC read is exactly the
    * appended rows, nothing more, nothing less. */
  def snapshotIncremental(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Snapshot
    val table = java.nio.file.Files
      .createTempDirectory("graft-snapinc").toString + "/t"
    val d = docs(spark, dir)
    Snapshot.append(d.filter(col("doc_id") % 2 === 0), table) // v1
    Snapshot.append(d.filter(col("doc_id") % 2 === 1), table) // v2
    Snapshot.readAppendsSince(spark, table, 1L)
      .groupBy((col("doc_id") % 8).as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
           sum(length(col("text")).cast("long")).as("total_chars"),
           sum(col("doc_id")).as("sum_id"))
      .orderBy(col("bucket"))
  }

  /** The DURABLE incremental consumer as a declared query
    * ([[graft.sources.Snapshot.consumeChanges]]): a consumer polls
    * the table twice — first seeing the initial even-doc snapshot as
    * inserts (window (0,1]), then a window spanning an odds append,
    * a merge-on-read range delete AND a compaction, which must net
    * to exactly the surviving odds (insert) and the range-deleted
    * evens (delete). Both windows aggregate side by side; the oracle
    * replays each slice off the raw table, so the hash gate proves
    * the whole consumer lifecycle — baseline advance, rewrite-proof
    * diffing — end to end. */
  def snapshotConsume(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Snapshot
    val table = java.nio.file.Files
      .createTempDirectory("graft-snapcons").toString + "/t"
    val state = java.nio.file.Files
      .createTempDirectory("graft-snapcons-state").toString
    val d = docs(spark, dir).select(col("doc_id"), col("text"))
    val mx = Tables.maxLongOf(spark, dir, "documents", "doc_id")
    val lo = mx / 4
    val hi = mx / 2
    val windows = scala.collection.mutable.ArrayBuffer
      .empty[DataFrame]
    def poll(): Unit =
      Snapshot.consumeChanges(spark, table, state) { df =>
        windows += df
          .groupBy(col("_change"), (col("doc_id") % 8).as("bucket"))
          .agg(count(lit(1)).as("n_docs"),
               sum(col("doc_id")).as("sum_id"))
          .withColumn("win", lit(windows.size + 1L))
      }: Unit
    Snapshot.append(d.filter(col("doc_id") % 2 === 0), table,
      statsCols = Seq("doc_id"))                           // v1
    poll()                                                 // (0,1]
    Snapshot.append(d.filter(col("doc_id") % 2 === 1), table,
      statsCols = Seq("doc_id"))                           // v2
    Snapshot.deleteRangeMor(spark, table, "doc_id", lo, hi) // v3
    Snapshot.compact(spark, table)                         // v4
    poll()                                                 // (1,4]
    require(windows.size == 2, s"expected 2 windows, got ${windows.size}")
    windows.reduce(_ unionByName _)
      .orderBy(col("win"), col("_change"), col("bucket"))
      .select(col("win"), col("_change"), col("bucket"),
              col("n_docs"), col("sum_id"))
  }

  /** NON-ADDITIVE schema evolution as a declared query
    * ([[graft.sources.Snapshot.renameColumn]] /
    * [[graft.sources.Snapshot.widenColumn]]): half the orders land
    * with an INT customer column, the column WIDENS to long and the
    * status column RENAMES — both metadata-only commits, asserted
    * in-query to have touched zero data files — then the second half
    * lands under the evolved schema. The read must serve ONE schema
    * (old files mapped at scan), and after compaction folds the
    * changes into real files the same aggregate must re-answer — the
    * oracle replays both phases from the raw table under the final
    * names. */
  def snapshotRename(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Snapshot
    val table = java.nio.file.Files
      .createTempDirectory("graft-snapren").toString + "/t"
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
    Snapshot.append(
      o.filter(col("o_orderkey") % 2 === 0)
        .withColumn("o_custkey", col("o_custkey").cast("int")), table)
    val files1 = Snapshot.readManifest(spark, table, 1L).get.files
      .map(f => (f.path, f.bytes))
    Snapshot.widenColumn(spark, table, "o_custkey", "long")   // v2
    Snapshot.renameColumn(spark, table, "o_orderstatus", "status") // v3
    val m3 = Snapshot.readManifest(spark, table, 3L).get
    require(m3.files.map(f => (f.path, f.bytes)) == files1,
      "schema evolution touched data files")
    Snapshot.append(
      o.filter(col("o_orderkey") % 2 === 1)
        .withColumnRenamed("o_orderstatus", "status"), table) // v4
    val agg = (df: DataFrame) => df
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n"),
           sum(col("o_custkey")).as("sum_cust"),
           sum(col("o_orderkey")).as("sum_key"))
    val mapped = agg(Snapshot.read(spark, table))
    Snapshot.compact(spark, table)                            // v5: fold
    val folded = agg(Snapshot.read(spark, table))
    mapped.withColumn("phase", lit("mapped"))
      .unionByName(folded.withColumn("phase", lit("folded")))
      .orderBy(col("phase"), col("status"))
      .select(col("phase"), col("status"), col("n"), col("sum_cust"),
              col("sum_key"))
  }

  /** Row-level CDC ACROSS REWRITES as a declared query
    * ([[graft.sources.Snapshot.readChangesSince]]): documents land as
    * evens (v1), the table COMPACTS (v2 — the rewrite that poisons
    * file-identity CDC), odds land (v3), then a doc_id range is
    * deleted merge-on-read (v4). A consumer baselined at v1 asks for
    * changes: the fingerprint multiset diff must emit exactly the
    * odds outside the deleted range as `insert` and the evens inside
    * it as `delete` — the compaction contributes NOTHING. The oracle
    * replays both slices off the raw table, so the hash gate proves
    * the diff is exact row-level CDC, rewrites notwithstanding. */
  def snapshotCdc(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Snapshot
    val table = java.nio.file.Files
      .createTempDirectory("graft-snapcdc").toString + "/t"
    val d = docs(spark, dir).select(col("doc_id"), col("text"))
    val mx = Tables.maxLongOf(spark, dir, "documents", "doc_id")
    val lo = mx / 4
    val hi = mx / 2
    Snapshot.append(d.filter(col("doc_id") % 2 === 0), table,
      statsCols = Seq("doc_id"))                        // v1: evens
    Snapshot.compact(spark, table)                      // v2: rewrite
    Snapshot.append(d.filter(col("doc_id") % 2 === 1), table,
      statsCols = Seq("doc_id"))                        // v3: odds
    Snapshot.deleteRangeMor(spark, table, "doc_id", lo, hi) // v4
    Snapshot.readChangesSince(spark, table, 1L)
      .groupBy(col("_change"), (col("doc_id") % 8).as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("doc_id")).as("sum_id"),
           sum(length(col("text")).cast("long")).as("total_chars"))
      .orderBy(col("_change"), col("bucket"))
  }

  /** Time travel BY TIMESTAMP as a declared query
    * ([[graft.sources.Snapshot.readAsOf]]): documents land in two
    * appends; the query reads the table as of EACH commit's own
    * wall-clock stamp (taken from the manifests, so the query is
    * deterministic even though the clock is not) and aggregates both
    * states side by side — v1 must be the even slice, the post-v2
    * state the whole corpus, exactly [[snapshotRead]]'s contract
    * through the timestamp axis instead of the version axis. */
  def snapshotAsOf(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Snapshot
    val table = java.nio.file.Files
      .createTempDirectory("graft-snapasof").toString + "/t"
    val d = docs(spark, dir)
    Snapshot.append(d.filter(col("doc_id") % 2 === 0), table) // v1
    Snapshot.append(d.filter(col("doc_id") % 2 === 1), table) // v2
    val at1 = Snapshot.readManifest(spark, table, 1L).get.atMicros
    val at2 = Snapshot.readManifest(spark, table, 2L).get.atMicros
    // two commits in the same MICROSECOND would make readAsOf(at1)
    // resolve v2 — fail loudly instead of hash-mismatching (a parquet
    // write takes milliseconds; this cannot happen outside a clock
    // step, and a clock step deserves a loud failure)
    require(at2 > at1, s"commit stamps not increasing: $at1 -> $at2")
    val v1 = Snapshot.readAsOf(spark, table, at1)
      .withColumn("snap", lit(1L))
    val v2 = Snapshot.readAsOf(spark, table, at2)
      .withColumn("snap", lit(2L))
    v1.unionByName(v2)
      .groupBy(col("snap"), (col("doc_id") % 8).as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
           sum(length(col("text")).cast("long")).as("total_chars"))
      .orderBy(col("snap"), col("bucket"))
  }

  /** ROLLBACK as a declared query ([[graft.sources.Snapshot
    * .rollback]]): orders land in two appends, a (deliberately
    * "bad") copy-on-write range delete rewrites the table, and
    * rollback restores v2 as a NEW commit. The query asserts the
    * restore is METADATA-ONLY (the new head references v2's exact
    * file entries — no data moved) and history-preserving (the
    * rolled-past v3 still time-travels); the hash gate then proves
    * both states: phase `bad` = the delete's survivors read at v3
    * AFTER the rollback, phase `restored` = the current head, equal
    * to the full table again. */
  def snapshotRollback(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Snapshot
    val table = java.nio.file.Files
      .createTempDirectory("graft-snaprb").toString + "/t"
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"))
    val mx = Tables.maxLongOf(spark, dir, "orders", "o_orderkey")
    val (lo, hi) = (mx / 4, mx / 2)
    Snapshot.append(o.filter(col("o_orderkey") % 2 === 0), table) // v1
    Snapshot.append(o.filter(col("o_orderkey") % 2 === 1), table) // v2
    Snapshot.deleteRange(spark, table, "o_orderkey", lo, hi)      // v3
    val rb = Snapshot.rollback(spark, table, 2L)                  // v4
    val entriesOf = (v: Long) => Snapshot
      .readManifest(spark, table, v).get.files
      .map(f => (f.path, f.bytes, f.seq)).sortBy(_._1)
    require(entriesOf(rb) == entriesOf(2L),
      "rollback did not restore v2's exact file entries")
    val agg = (df: DataFrame) => df
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("sum_key"))
    agg(Snapshot.read(spark, table, Some(3L)))
      .withColumn("phase", lit("bad"))
      .unionByName(agg(Snapshot.read(spark, table))
        .withColumn("phase", lit("restored")))
      .select(col("phase"), col("o_orderstatus"), col("n"),
        col("sum_key"))
      .orderBy(col("phase"), col("o_orderstatus"))
  }

  /** CHERRY-PICK as a declared query ([[graft.sources.Snapshot
    * .cherryPick]]): main lands one third of orders, an audit branch
    * lands another third, and main then advances with the last third
    * — so [[graft.sources.Snapshot.publish]] must REFUSE the
    * fast-forward (asserted), and the audited append reaches main by
    * replaying its files by reference. The query asserts the pick
    * moved zero bytes (the branch commit's own files join main's
    * head byte-identically) and is idempotent (a second pick returns
    * the same version); the hash gate proves all three states. */
  def snapshotCherrypick(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Snapshot
    val table = java.nio.file.Files
      .createTempDirectory("graft-snapcp").toString + "/t"
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"))
    Snapshot.append(o.filter(col("o_orderkey") % 3 === 0), table) // v1
    Snapshot.createBranch(spark, table, "audit")
    val bv = Snapshot.append(o.filter(col("o_orderkey") % 3 === 1),
      table, branch = "audit")
    Snapshot.append(o.filter(col("o_orderkey") % 3 === 2), table)
    require(scala.util.Try(
      Snapshot.publish(spark, table, "audit")).isFailure,
      "publish accepted a diverged main — fast-forward check broken")
    val mainPre = Snapshot.read(spark, table)
    val audit = Snapshot.readBranch(spark, table, "audit")
    val picked = Snapshot.cherryPick(spark, table, bv)
    require(Snapshot.cherryPick(spark, table, bv) == picked,
      "cherry-pick replayed twice — tag idempotence broken")
    val branchOwn = Snapshot.readManifest(spark, table, bv).get.files
      .map(f => (f.path, f.bytes)).toSet --
      Snapshot.readManifest(spark, table, 1L).get.files
        .map(f => (f.path, f.bytes)).toSet
    val mainNow = Snapshot.readManifest(spark, table, picked).get.files
      .map(f => (f.path, f.bytes)).toSet
    require(branchOwn.subsetOf(mainNow),
      "cherry-pick moved or rewrote the picked files")
    val agg = (df: DataFrame) => df
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("sum_key"))
    agg(mainPre).withColumn("phase", lit("main-pre"))
      .unionByName(agg(audit).withColumn("phase", lit("audit")))
      .unionByName(agg(Snapshot.read(spark, table))
        .withColumn("phase", lit("picked")))
      .select(col("phase"), col("o_orderstatus"), col("n"),
        col("sum_key"))
      .orderBy(col("phase"), col("o_orderstatus"))
  }

  /** BIN-PACKING small-file compaction as a declared query
    * ([[graft.sources.Snapshot.compactSmall]]): events land as one
    * big file plus six micro-batch-sized files, a merge-on-read
    * range delete goes pending, and compactSmall rewrites ONLY the
    * six small files (folding the pending delete into them). The
    * query asserts the big file carried BY REFERENCE (byte-identical
    * entry, original `seq`), the small files packed into one, and
    * the pending delete stayed in the manifest for the carried file;
    * the hash gate proves the compacted table still answers exactly
    * the delete's survivors. */
  def snapshotBinpack(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Snapshot
    val table = java.nio.file.Files
      .createTempDirectory("graft-snapbp").toString + "/t"
    val e = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("user_id"))
    val mx = Tables.maxLongOf(spark, dir, "events", "event_id")
    val (lo, hi) = (mx / 4, mx / 2)
    Snapshot.append(e.filter(col("event_id") % 2 === 0).coalesce(1),
      table)                                                      // v1
    Seq(1L, 3L, 5L, 7L, 9L, 11L).foreach { r =>
      Snapshot.append(e.filter(col("event_id") % 12 === r)
        .coalesce(1), table)
    }                                                        // v2..v7
    Snapshot.deleteRangeMor(spark, table, "event_id", lo, hi) // v8
    val base = Snapshot.readManifest(spark, table, 8L).get
    val bigBytes = base.files.map(_.bytes).max
    val big = base.files.find(_.bytes == bigBytes).get
    val cv = Snapshot.compactSmall(spark, table,
      smallBytes = bigBytes, targetFileBytes = Long.MaxValue / 2)
    val after = Snapshot.readManifest(spark, table, cv).get
    require(after.files.contains(big),
      "compactSmall rewrote (or dropped) the right-sized file")
    require(after.files.size == 2,
      s"expected 1 carried + 1 packed file, got ${after.files.size}")
    require(after.rangeDeletes.nonEmpty,
      "pending MoR delete vanished while a carried file still needs it")
    Snapshot.read(spark, table)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("event_id")).as("sum_event_id"),
        sum(col("user_id")).as("sum_user_id"))
      .orderBy(col("event_type"))
  }

  /** INCREMENTAL MATERIALIZED AGGREGATES as a declared query
    * ([[graft.sources.Materialized]]): a snapshot table of even
    * events gets a per-event-type view (count + sum/cnt of
    * `user_id`), the table then advances with an odd-events append
    * AND a merge-on-read range delete, and ONE refresh folds the net
    * change into the stored state — O(changed rows), never a base
    * rescan. The query asserts the refresh consumed exactly the
    * (create, head] window, that a second refresh is a no-op, and
    * that the fold landed as a merge-on-read UPSERT on the state
    * table (touched keys only — not a state rewrite); the hash gate
    * proves the folded state equals a from-scratch aggregate of the
    * final table, which the oracle recomputes relationally — count,
    * sum/cnt, AND min/max, whose delete-window maintenance runs the
    * TARGETED GROUP RESCAN path (the range delete touches every
    * event_type, so each key re-derives from the pinned snapshot). */
  def mvRefresh(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.{Materialized, Snapshot}
    val root = java.nio.file.Files
      .createTempDirectory("graft-mv").toString
    val table = s"$root/t"
    val mv = s"$root/mv"
    val e = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("user_id"))
    val mx = Tables.maxLongOf(spark, dir, "events", "event_id")
    val (lo, hi) = (mx / 4, mx / 2)
    Snapshot.append(e.filter(col("event_id") % 2 === 0), table) // v1
    Materialized.create(spark, table, mv,
      keyCols = Seq("event_type"), sumCols = Seq("user_id"),
      minMaxCols = Seq("event_id"))
    Snapshot.append(e.filter(col("event_id") % 2 === 1), table) // v2
    Snapshot.deleteRangeMor(spark, table, "event_id", lo, hi)   // v3
    require(Materialized.refresh(spark, table, mv) == Some((1L, 3L)),
      "refresh did not consume the (create, head] window")
    require(Materialized.refresh(spark, table, mv).isEmpty,
      "second refresh re-consumed an already-folded window")
    val stateActions = Snapshot.versions(spark, s"$mv/state")
      .map(_._2)
    require(stateActions == Seq("append", "merge-mor"),
      s"state history $stateActions — the fold must be a " +
        "merge-on-read upsert of touched keys, not a state rewrite")
    Materialized.read(spark, mv).orderBy(col("event_type"))
  }

  /** DERIVED-KEY ROLLUP VIEW as a declared query
    * ([[graft.sources.Materialized]] `deriveCols` — the time-bucket
    * rollup shape, spelled with a deterministic modular bucket so the
    * oracle is integer-exact): the view groups by `event_type` and a
    * DERIVED `bucket = event_id % 7` the table never stored, with
    * min/max maintenance riding the delete window through the
    * targeted rescan. The same create→append→MoR-delete→one-refresh
    * lifecycle as q_mv_refresh; the hash gate proves the folded
    * derived-key state equals DuckDB's from-scratch rollup of the
    * final table. */
  def mvRollup(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.{Materialized, Snapshot}
    val root = java.nio.file.Files
      .createTempDirectory("graft-mvr").toString
    val table = s"$root/t"
    val mv = s"$root/mv"
    val e = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("user_id"))
    val mx = Tables.maxLongOf(spark, dir, "events", "event_id")
    val (lo, hi) = (mx / 4, mx / 2)
    Snapshot.append(e.filter(col("event_id") % 2 === 0), table) // v1
    Materialized.create(spark, table, mv,
      keyCols = Seq("event_type", "bucket"),
      sumCols = Seq("user_id"),
      minMaxCols = Seq("event_id"),
      deriveCols = Seq("bucket" -> "event_id % 7"))
    Snapshot.append(e.filter(col("event_id") % 2 === 1), table) // v2
    Snapshot.deleteRangeMor(spark, table, "event_id", lo, hi)   // v3
    require(Materialized.refresh(spark, table, mv) == Some((1L, 3L)),
      "refresh did not consume the (create, head] window")
    Materialized.read(spark, mv)
      .orderBy(col("event_type"), col("bucket"))
  }

  /** Exact dedup over a corpus with planted exact clones (every 10th doc
    * re-appears under id+100000): content-hash groups with canonical id
    * and copy count. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val clones = d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000).as("doc_id"), col("text"))
    Dedup.exactGroups(d.union(clones))
      .orderBy(col("keep_id"))
  }

  /** Duplication histogram as a declared query: the corpus-health
    * table over a corpus planted with THREE clone families (every
    * 10th doc once more, every 15th doc twice more — %30 docs
    * therefore land in size-4 clusters), so sizes 1/2/3/4 all appear
    * ([[graft.dedup.Dedup.duplicationHistogram]]). */
  def dupHistogram(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val c1 = d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000).as("doc_id"), col("text"))
    val c2 = d.filter(col("doc_id") % 15 === 0)
      .select((col("doc_id") + 300000).as("doc_id"), col("text"))
    val c3 = d.filter(col("doc_id") % 15 === 0)
      .select((col("doc_id") + 310000).as("doc_id"), col("text"))
    Dedup.duplicationHistogram(d.union(c1).union(c2).union(c3))
      .orderBy(col("n_copies"))
  }

  /** Normalization-aware dedup (DD16) over a corpus with planted DIRTY
    * clones: every 10th doc re-appears under id+100000 with whitespace
    * padding, a tab, and the text uppercased — byte-distinct (invisible
    * to exact hashing) but identical after normalize+casefold. The
    * cleanest copy (shortest raw text, id tiebreak) survives: here
    * always the original, asserted by the oracle twin end to end. */
  def dedupKeepCleanest(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val dirty = d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000).as("doc_id"),
              concat(lit("  "), upper(col("text")), lit("\t")).as("text"))
    Dedup.dropNormalizedDuplicates(d.union(dirty))
      .select(col("doc_id"), col("n_copies"),
              length(col("text")).as("n_chars_kept"))
      .orderBy(col("doc_id"))
  }

  /** Exact n-gram (5-shingle) Jaccard near-dup pairs over a corpus with
    * planted near-clones (every 10th doc re-appears under id+100000 with
    * three junk words prepended → Jaccard (S)/(S+3) ∈ (0.5, 1)). */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val mutated = d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000).as("doc_id"),
              concat(lit("zz1 zz2 zz3 "), col("text")).as("text"))
    Dedup.ngramJaccardPairs(d.union(mutated), k = 5, minJaccard = 0.5)
      .select(col("id_a"), col("id_b"), col("n_common"),
              round(col("jaccard") + lit(1e-9), 6).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Near-dup DEDUPLICATION over the planted corpus: connected
    * components of the exact 5-gram Jaccard pair graph, one canonical
    * keep per cluster (oracled via a recursive-CTE transitive closure).
    */
  def dedupNear(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val mutated = d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000).as("doc_id"),
              concat(lit("zz1 zz2 zz3 "), col("text")).as("text"))
    Dedup.markNearDuplicates(d.union(mutated), k = 5, minJaccard = 0.5)
      .select(col("doc_id"), col("component"), col("kept"))
      .orderBy(col("doc_id"))
  }

  /** Leakage-safe splitting as a declared query: the [[dedupNear]]
    * planted corpus → near-dup clusters → whole-cluster 80/10/10
    * assignment ([[graft.pipelines.Splitting.splitByComponent]]), so
    * a doc and its near-duplicate can never straddle a train/eval
    * boundary. Hash-gated end to end: the oracle replays the
    * transitive-closure CTE and the integer md5-u32 threshold cut. */
  def splitLeakproof(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val mutated = d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000).as("doc_id"),
              concat(lit("zz1 zz2 zz3 "), col("text")).as("text"))
    graft.pipelines.Splitting.splitByComponent(
        Dedup.markNearDuplicates(d.union(mutated), k = 5,
                                 minJaccard = 0.5),
        Seq(0.8, 0.1, 0.1))
      .select(col("doc_id"), col("component"), col("split"))
      .orderBy(col("doc_id"))
  }

  /** Split-leakage AUDIT as a declared query: the [[ngramJaccard]]
    * planted pairs against a NAIVE doc-level 80/10/10 split (each doc
    * its own "cluster" — `splitByComponent(componentCol = doc_id)`),
    * reporting the (split_a, split_b) pair matrix with off-diagonal
    * cells flagged — the contamination [[splitLeakproof]] removes,
    * measured. Every planted clone pair is a potential leak, so the
    * off-diagonal mass is structurally nonzero here (spec-pinned;
    * the component split zeroes it on the same pairs). */
  def splitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val mutated = d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000).as("doc_id"),
              concat(lit("zz1 zz2 zz3 "), col("text")).as("text"))
    val corpus = d.union(mutated)
    val pairs = Dedup.ngramJaccardPairs(corpus, k = 5, minJaccard = 0.5)
    val naive = graft.pipelines.Splitting.splitByComponent(
      corpus.select(col("doc_id")), Seq(0.8, 0.1, 0.1),
      componentCol = "doc_id")
    graft.pipelines.Splitting.splitLeakage(pairs, naive)
      .orderBy(col("split_a"), col("split_b"))
  }

  /** Exact-substring span dedup (DD15) over a corpus with a PLANTED
    * shared passage: every 10th doc re-appears under id+100000 with a
    * fixed 25-token preamble prepended, so the preamble (≥ k=20
    * tokens, shared across all clones) survives only in the lowest
    * clone id, and each clone's copied body text — shared verbatim
    * with its lower-id original — is stripped too. Fully
    * deterministic and SQL-expressible → hash-gated end to end
    * (rebuilt text included). */
  def spanDedup(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val preamble = (1 to 25).map(i => s"sp$i").mkString(" ")
    val clones = d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000).as("doc_id"),
              concat(lit(preamble + " "), col("text")).as("text"))
    Dedup.dropRepeatedSpans(d.union(clones), k = 20)
      .orderBy(col("doc_id"))
  }

  /** Token-budget mixture composition (SP6): fill a 10k-token budget
    * 5:3:2 from three sources — each source contributes its
    * md5-permutation prefix of docs until its floor(wᵢ/Σw·B) share is
    * exhausted. Seedless and partitioning-invariant, so the SQL twin
    * (same window, same VALUES budgets) hash-matches exactly. */
  def mixBudget(spark: SparkSession, dir: String): DataFrame =
    graft.pipelines.Splitting.mixToBudget(
        Tables.documents(spark, dir),
        sourceCol = "source", tokensCol = "n_chars", idCol = "doc_id",
        weights = Map("src3" -> 5.0, "src7" -> 3.0, "src11" -> 2.0),
        totalBudget = 10000L)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))

  /** Temperature-flattened mixture as a declared query: per-source
    * masses → wᵢ = √massᵢ (α = 0.5 — sqrt is IEEE-correctly-rounded
    * in every engine, so the twin recomputes the weight math exactly)
    * → the same md5-permutation prefix cut as [[mixBudget]]. The
    * low-mass sources gain share vs their natural proportion — the
    * XLM-R/mT5 upsampling recipe. */
  def mixTemperature(spark: SparkSession, dir: String): DataFrame =
    graft.pipelines.Splitting.mixToBudgetTemperature(
        Tables.documents(spark, dir),
        sourceCol = "source", tokensCol = "n_chars", idCol = "doc_id",
        alpha = 0.5, totalBudget = 20000L)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))

  /** FRACTION-threshold decontamination ([[Dedup.contaminationFraction]],
    * GPT-3 App. C semantic) with planted HALF-COPIES so the threshold
    * genuinely separates: every benchmark doc with id % 40 == 0 gets a
    * chimera at id+200001 whose text is its first half + the second
    * half of the next doc — ~50% shingle overlap, straddling the 50%
    * gate from both sides across docs, while benchmark members sit at
    * 100% and clean docs at ~0%. All-integer output (counts + flag),
    * exact `hits·100 > total·50` arithmetic in both engines. */
  def decontaminationFraction(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val a = d.filter(col("doc_id") % 40 === 0)
      .select(col("doc_id"), split(col("text"), " ").as("wa"))
    val next = d.select((col("doc_id") - 1).as("doc_id"),
                        split(col("text"), " ").as("wb"))
    val planted = a.join(next, Seq("doc_id"))
      // both halves must be non-empty: a 1-token side would plant a
      // leading/trailing space whose empty token Scala's tokenize
      // drops but the SQL twin's string_split keeps (ADVICE r9) —
      // guarding the join keeps both engines on identical streams
      .filter(size(col("wa")) >= 2 && size(col("wb")) >= 2)
      .select((col("doc_id") + 200001L).as("doc_id"),
        concat(
          array_join(slice(col("wa"), lit(1),
            expr("(size(wa) + 1) div 2")), " "),
          lit(" "),
          array_join(slice(col("wb"),
            expr("(size(wb) + 1) div 2 + 1"),
            expr("size(wb) - ((size(wb) + 1) div 2)")), " "))
          .as("text"))
    val corpus = d.union(planted)
    val bench = d.filter(col("doc_id") % 20 === 0)
    Dedup.contaminationFraction(corpus, bench, k = 5, maxFracPct = 50L)
      .orderBy(col("doc_id"))
  }

  /** The mixed-container ingest surface shared by [[sniffRoute]] and
    * [[ingestDecode]]: 80 assets encoded on the executors. Ids 0–59
    * are REAL kernel output (PNG / WAV / Y4M cycling by id % 3, every
    * id % 10 == 7 replaced with non-media bytes); ids 60–79 are the
    * CORRUPT quadrant — valid leading magic over a broken body
    * (truncated PNG, mid-file-cut WAV, `BM`-prefixed text, FORM/AIFF
    * declaring a size past EOF, cycling by id % 4) — which only the
    * structural sniff checks catch. Every asset's true disposition is
    * a closed-form function of its id. */
  private[graft] def mixedAssetSurface(spark: SparkSession)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    spark.range(80).as[Long].map { id =>
      val content: Array[Byte] =
        if (id >= 60) (id % 4) match {
          case 0 => graft.multimodal.ImageIo.encodePng(
            3, 3, seed = id * 7919L).take(12)
          case 1 => graft.multimodal.AudioIo.encodeWav(
            50 + (id % 50).toInt, 8000, 1, seed = id * 6007L).take(20)
          case 2 => s"BM corrupt asset $id".getBytes("US-ASCII")
          case _ => "FORM".getBytes("US-ASCII") ++
            Array[Byte](0, 0, 3, 0x18.toByte) ++
            "AIFF".getBytes("US-ASCII")
        }
        else if (id % 10 == 7) "NOT A MEDIA FILE".getBytes("US-ASCII")
        else (id % 3) match {
          case 0 => graft.multimodal.ImageIo.encodePng(
            2 + (id % 5).toInt, 2 + (id % 4).toInt, seed = id * 7919L)
          case 1 => graft.multimodal.AudioIo.encodeWav(
            50 + (id % 50).toInt, 8000, 1, seed = id * 6007L)
          case _ => graft.multimodal.VideoIo.encodeY4m(
            2, 2, 25, 1, 2, seed = id)
        }
      (id, content)
    }.toDF("asset_id", "content")
  }

  /** Content sniffing + routing over REAL mixed bytes
    * ([[graft.multimodal.Sniff]]) on the 80-asset
    * [[mixedAssetSurface]], detected from header bytes alone and
    * routed image/audio/video/quarantine. The oracle knows the true
    * container of every id in closed form, so a sniffer that misreads
    * a real header — or routes a corrupt quadrant asset anywhere but
    * quarantine — hash-mismatches. */
  def sniffRoute(spark: SparkSession, dir: String): DataFrame =
    graft.multimodal.Sniff.route(mixedAssetSurface(spark))
      .select(col("asset_id"), col("detected"), col("route"))
      .orderBy(col("asset_id"))

  /** The multimodal ingest loop gated END TO END: sniff → route →
    * per-route REAL decode → per-route fact rollup, over the full
    * 80-asset [[mixedAssetSurface]]. Each routed slice goes through
    * its REAL kernel (javax.imageio / javax.sound.sampled / the Y4M
    * demuxer), quarantine keeps raw byte mass, and the rollup pins
    * (n_assets, n_ok, two route-specific fact sums): image →
    * (Σwidth, Σheight), audio → (Σframes, Σduration_ms), video →
    * (Σn_frames, Σduration_ms), quarantine → (Σbytes, 0). The oracle
    * recomputes every sum in closed form from the id → container
    * mapping, so ONE misrouted, misdecoded, or undecoded asset
    * anywhere in the loop breaks the hash — the composition gate the
    * three per-kernel decode oracles don't give on their own.
    *
    * `n_ok` must equal `n_assets` on the three decoder routes: the
    * structural sniff checks promise decoders only see decodable
    * bytes, and this query holds them to it.
    *
    * Scale shape: sniff+route is a map over the scan; the routed
    * frame is localCheckpoint'd once and each decoder reads only its
    * slice (the batch stand-in for the route-partitioned landing of
    * [[graft.streaming.MultimodalIngest]], where partition pruning
    * does the slicing); decode is map-shaped per partition; the only
    * wide stage is four 1-row aggregates. */
  def ingestDecode(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    val routed = graft.multimodal.Sniff.route(mixedAssetSurface(spark))
      .localCheckpoint(false)
    def slice(r: String) = routed.filter(col("route") === r)
    val img = Multimodal.decodeImages(slice("image"))
      .agg(count(lit(1)).as("n_assets"),
           sum(col("ok").cast("long")).as("n_ok"),
           sum(col("width").cast("long")).as("fact_a"),
           sum(col("height").cast("long")).as("fact_b"))
      .select(lit("image").as("route"), col("n_assets"), col("n_ok"),
              col("fact_a"), col("fact_b"))
    val aud = Multimodal.decodeAudio(slice("audio"))
      .agg(count(lit(1)).as("n_assets"),
           sum(col("ok").cast("long")).as("n_ok"),
           sum(col("frames").cast("long")).as("fact_a"),
           sum(col("duration_ms").cast("long")).as("fact_b"))
      .select(lit("audio").as("route"), col("n_assets"), col("n_ok"),
              col("fact_a"), col("fact_b"))
    val vid = Multimodal.decodeVideos(slice("video"))
      .agg(count(lit(1)).as("n_assets"),
           sum(col("ok").cast("long")).as("n_ok"),
           sum(col("n_frames").cast("long")).as("fact_a"),
           sum(col("duration_ms").cast("long")).as("fact_b"))
      .select(lit("video").as("route"), col("n_assets"), col("n_ok"),
              col("fact_a"), col("fact_b"))
    val quar = slice("quarantine")
      .agg(count(lit(1)).as("n_assets"),
           sum(length(col("content")).cast("long")).as("fact_a"))
      .select(lit("quarantine").as("route"), col("n_assets"),
              lit(0L).as("n_ok"), col("fact_a"), lit(0L).as("fact_b"))
    img.unionByName(aud).unionByName(vid).unionByName(quar)
      .orderBy(col("route"))
  }

  /** REAL MP3 frame-header walking ([[graft.multimodal.Mp3Io]]) over
    * 64 authored MPEG-1 Layer III streams — CBR and two-rate VBR,
    * ID3v2/ID3v1 tags, padding bits. The oracle recomputes every
    * fact (rate, channels, frame count, integer-floor duration, the
    * VBR mean bitrate, tag size) arithmetically from the asset id,
    * so a walker that mis-sizes ONE frame, miscounts a tag byte, or
    * rounds duration differently hash-mismatches. */
  def mp3Parse(spark: SparkSession, dir: String): DataFrame =
    graft.multimodal.Multimodal.parseMp3Streams(
        graft.multimodal.Multimodal.syntheticMp3Assets(spark, 64))
      .withColumn("ok", col("ok").cast("long"))
      .orderBy(col("asset_id"))

  /** REAL MP4/ISO-BMFF box walking ([[graft.multimodal.Mp4Io]]) over
    * 64 authored flat files — every 5th cropped to non-multiple-of-16
    * geometry (decoded from avcC's real SPS through the H.264
    * kernel), ragged final chunks, per-id timescales. The oracle
    * recomputes brand/handler/timescale/duration/geometry and the
    * whole sample-table census (sample count, chunk count, mdat
    * bytes, first-to-last sample span) from the asset id — a walker
    * that mis-sizes one box, miscounts one chunk run, or trusts the
    * avc1 display fields over the SPS hash-mismatches. */
  def mp4Parse(spark: SparkSession, dir: String): DataFrame =
    graft.multimodal.Multimodal.parseMp4Streams(
        graft.multimodal.Multimodal.syntheticMp4Assets(spark, 64))
      .withColumn("ok", col("ok").cast("long"))
      .orderBy(col("asset_id"))

  /** REAL H.264 Annex-B walking + exp-Golomb SPS decode
    * ([[graft.multimodal.H264Io]]) over 64 authored streams — every
    * 5th cropped to non-multiple-of-16 geometry, IDR/non-IDR mixes,
    * emulation-prevention bytes in play. The oracle recomputes
    * width/height (with crop arithmetic), profile/level, and the NAL
    * census from the asset id. */
  def h264Parse(spark: SparkSession, dir: String): DataFrame =
    graft.multimodal.Multimodal.parseH264Streams(
        graft.multimodal.Multimodal.syntheticH264Assets(spark, 64))
      .withColumn("ok", col("ok").cast("long"))
      .orderBy(col("asset_id"))

  /** REAL fragmented-MP4 (DASH/CMAF) walking over 64 authored
    * `moof`+`mdat` sequences — duration/sample truth summed from the
    * truns (movie/media durations are 0, as fragmented muxers write
    * them), every fragment's data offset proven inside its own mdat,
    * sequence numbers checked contiguous. Same output schema as
    * [[mp4Parse]]; `n_chunks` counts FRAGMENTS here. */
  def fmp4Parse(spark: SparkSession, dir: String): DataFrame =
    graft.multimodal.Multimodal.parseMp4Streams(
        graft.multimodal.Multimodal.syntheticFmp4Assets(spark, 64))
      .withColumn("ok", col("ok").cast("long"))
      .orderBy(col("asset_id"))

  /** REAL learned image-embedding inference ([[graft.multimodal
    * .ImageEmbed]]): an md5-derived 63×8 linear head over the DCT
    * pixel features of 256 authored PNGs, posexploded to long form.
    * Seeded-float family: no SQL twin (DCT is double math), driver
    * rows-check + committed sf-independent golden (GoldenSeededSpec)
    * — the gate that pins the decode→DCT→GEMV composition
    * bit-for-bit. */
  def imageEmbed(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.{ImageEmbed, Multimodal}
    val w = graft.text.EmbedModel.collectMatrix(
      graft.text.EmbedModel.syntheticWeightRows(
        spark, ImageEmbed.FeatureDim, 8),
      ImageEmbed.FeatureDim, 8)
    ImageEmbed.embedImages(Multimodal.syntheticImageAssets(spark, 256),
        w, dOut = 8)
      .select(col("asset_id"),
              posexplode(col("embedding")).as(Seq("dim", "v")))
      .orderBy(col("asset_id"), col("dim"))
  }

  /** REAL learned audio-embedding inference ([[graft.multimodal
    * .AudioEmbed]]): an md5-derived 64×8 linear head over the
    * time×frequency PCM energy grid of 256 executor-encoded WAVs,
    * posexploded to long form. Seeded-float family like
    * [[imageEmbed]]: no SQL twin (DCT/log double math), driver
    * rows-check + committed sf-independent golden (GoldenSeededSpec)
    * — pins the PCM-read→grid→GEMV composition bit-for-bit. */
  def audioEmbed(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.{AudioEmbed, Multimodal}
    val w = graft.text.EmbedModel.collectMatrix(
      graft.text.EmbedModel.syntheticWeightRows(
        spark, AudioEmbed.FeatureDim, 8),
      AudioEmbed.FeatureDim, 8)
    AudioEmbed.embedAudio(Multimodal.syntheticAudioAssets(spark, 256),
        w, dOut = 8)
      .select(col("asset_id"),
              posexplode(col("embedding")).as(Seq("dim", "v")))
      .orderBy(col("asset_id"), col("dim"))
  }

  /** WARC crawl ingestion + HTML extraction end to end
    * ([[graft.sources.Warc]] → [[graft.text.HtmlText]]): 4 authored
    * shards × 16 response records (odd shards in the Common Crawl
    * record-per-gzip-member layout), each carrying a planted HTML
    * page with title/style/comment/script/entity material. Spark
    * PARSES the container and the markup; the oracle CONSTRUCTS
    * uri/status/title/text/body-length from the id arithmetic — two
    * independent derivations, so a reader that mis-lengths one
    * record or an extractor that keeps one script hash-mismatches.
    * Shards are authored ONCE per JVM (the bucketedCache pattern):
    * content is deterministic, and the bench/soak harnesses invoke
    * the two consuming queries many times per session — a fresh dir
    * per call would leak tmp space unboundedly on a long-lived
    * host. */
  private lazy val warcFixtureCached: String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-warc")
    def html(id: Long): String =
      s"<html><head><title>Doc $id</title><style>p{color:red}</style>" +
      s"</head><body><h1>H${id % 7}</h1><p>alpha &amp; beta ${id % 5}" +
      s"</p><!-- hidden --><script>var x=1;</script><p>tail&#33;</p>" +
      "</body></html>"
    (0 until 4).foreach { f =>
      val recs = (0 until 16).map { r =>
        val id = f * 16L + r
        val status = if (id % 10 == 3) "404 Not Found" else "200 OK"
        ("response", s"http://site${id % 7}.example/p$id",
         "2024-01-01T00:00:00Z", s"<urn:uuid:$id>",
         s"HTTP/1.1 $status\r\nContent-Type: text/html\r\n\r\n${html(id)}")
      }
      java.nio.file.Files.write(tmp.resolve(s"shard$f.warc" +
          (if (f % 2 == 1) ".gz" else "")),
        graft.sources.Warc.writeWarc(recs, gzipPerRecord = f % 2 == 1))
    }
    tmp.toString
  }

  private def warcFixtureDir(spark: SparkSession): String =
    warcFixtureCached

  /** Fixture for [[sitemapParse]]: a 20-entry urlset exercising
    * optional fields and entity-encoded locs by id arithmetic, a
    * gzipped 15-entry urlset (the protocol's standard large form), a
    * 5-entry sitemapindex, and a garbage file that must quarantine.
    * Authored once per JVM (the [[warcFixtureCached]] rationale). */
  private lazy val sitemapFixtureCached: String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-sitemap")
    import graft.sources.Sitemap
    val urlset = Sitemap.writeUrlset((0 until 20).map { id =>
      (s"http://sm.example/p$id" +
         (if (id % 5 == 0) "?a=1&b=2" else ""),
       if (id % 3 == 0) s"2024-01-${10 + id % 19}" else null,
       if (id % 4 == 0) "daily" else if (id % 4 == 2) "weekly" else null,
       if (id % 2 == 0) s"0.${id % 10}" else null)
    })
    java.nio.file.Files.write(tmp.resolve("a.xml"), urlset)
    val big = Sitemap.writeUrlset((100 until 115).map { id =>
      (s"http://sm.example/q$id", null, null, null)
    })
    val gz = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(gz)
    g.write(big); g.close()
    java.nio.file.Files.write(tmp.resolve("b.xml.gz"), gz.toByteArray)
    java.nio.file.Files.write(tmp.resolve("idx.xml"),
      Sitemap.writeIndex((0 until 5).map { k =>
        (s"http://sm.example/sitemap$k.xml.gz", s"2024-02-0${k + 1}")
      }))
    java.nio.file.Files.write(tmp.resolve("junk.xml"),
      "not a sitemap at all".getBytes("UTF-8"))
    tmp.toString
  }

  /** Sitemap protocol parsing ([[graft.sources.Sitemap]]): urlset
    * with optional-field and entity-decode coverage, a gzipped
    * urlset, a sitemapindex, and a quarantined garbage file. Spark
    * WALKS the XML; the oracle CONSTRUCTS every entry from the id
    * arithmetic the fixture was planted with. */
  def sitemapParse(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Sitemap.readSitemaps(spark, sitemapFixtureCached)
      .select(col("kind"), col("loc"), col("lastmod"),
              col("changefreq"), col("priority"))
      .orderBy(col("kind"), col("loc"))

  /** Crawl-frontier scheduling ([[graft.pipelines.Frontier]]): 120
    * planted sitemap locs over 4 hosts (odd paths robots-blocked on
    * two of them), declared priorities, and per-host Crawl-delays
    * (2 s / default / 0.5 s / no-robots default) → per-host fetch
    * slots and polite fetch offsets. Spark parses robots, ranks, and
    * schedules; the oracle reconstructs the plan from the planted
    * arithmetic. */
  def crawlFrontier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val robots = Seq(
      ("f0.example", "User-agent: *\nDisallow: /odd/\nCrawl-delay: 2\n"),
      ("f1.example", "User-agent: *\nDisallow: /odd/\n"),
      ("f2.example", "User-agent: *\nDisallow:\nCrawl-delay: 0.5\n")
    ).toDF("host", "robots_txt")
    val entries = spark.range(120)
      .select(
        concat(lit("http://f"), col("id") % 4, lit(".example/"),
          when(col("id") % 2 === 0, lit("even")).otherwise(lit("odd")),
          lit("/p"), col("id")).as("loc"),
        concat(lit("0."), col("id") % 10).as("priority"))
    graft.pipelines.Frontier.plan(entries, robots, "graftbot/1.0")
      .select(col("host"), col("loc"), col("fetch_slot"),
              col("fetch_offset_ms"))
      .orderBy(col("host"), col("fetch_slot"))
  }

  /** Recrawl scheduling ([[graft.pipelines.Frontier]] with `asOf`):
    * 96 planted sitemap entries over 3 hosts with lastmod dates,
    * the full changefreq vocabulary (incl. `never` → last and
    * missing-lastmod → first), 4-level priority ties, per-host
    * crawl-delays, and a robots-blocked `/skip/` slice. Spark
    * computes staleness and ranks stale-first within priority ties;
    * the oracle reconstructs the whole schedule from the planted
    * arithmetic. */
  def recrawlSchedule(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val robots = Seq(
      ("r0.example", "User-agent: *\nDisallow: /skip/\nCrawl-delay: 2\n"),
      ("r2.example", "User-agent: *\nDisallow: /skip/\nCrawl-delay: 0.5\n"),
      ("r1.example", "User-agent: *\nDisallow: /skip/\n")
    ).toDF("host", "robots_txt")
    val entries = spark.range(96)
      .select(
        concat(lit("http://r"), col("id") % 3, lit(".example/"),
          when(col("id") % 8 === 7, lit("skip")).otherwise(lit("keep")),
          lit("/p"), col("id")).as("loc"),
        concat(lit("0."), (col("id") % 4) * 2).as("priority"),
        when(col("id") % 5 === 4, lit(null).cast("string"))
          .otherwise(concat(lit("2024-01-"),
            lpad((col("id") % 20 + 1).cast("string"), 2, "0")))
          .as("lastmod"),
        element_at(
          array(lit("always"), lit("hourly"), lit("daily"),
                lit("weekly"), lit("monthly"), lit("never")),
          (col("id") % 6 + 1).cast("int")).as("changefreq"))
    graft.pipelines.Frontier
      .plan(entries, robots, "graftbot/1.0", asOf = "2024-02-01")
      .orderBy(col("host"), col("fetch_slot"))
  }

  /** Fixture for [[crawlPolicy]]: 2 WARC shards × 24 response
    * records whose pages carry meta-robots variants by id arithmetic
    * — `id%4==1` declares `noindex, nofollow`; `id%4==2` declares
    * `index` through an attr-order/quoting-variant tag (content
    * before name, unquoted name, uppercase ROBOTS); others declare
    * none. Paths split even/odd (`/even/p{id}` vs `/odd/p{id}`) so a
    * planted robots.txt set can deny a closed-form half. Authored
    * once per JVM (the [[warcFixtureCached]] rationale). */
  private lazy val policyFixtureCached: String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-policy")
    def html(id: Long): String = {
      val meta =
        if (id % 4 == 1) "<meta name=\"robots\" content=\"noindex, nofollow\">"
        else if (id % 4 == 2) "<meta content='index' name=ROBOTS>"
        else ""
      s"<html><head><title>P $id</title>$meta</head>" +
      s"<body><p>policy doc $id</p></body></html>"
    }
    (0 until 2).foreach { f =>
      val recs = (0 until 24).map { r =>
        val id = f * 24L + r
        val oddEven = if (id % 2 == 0) "even" else "odd"
        ("response", s"http://site${id % 5}.example/$oddEven/p$id",
         "2024-01-01T00:00:00Z", s"<urn:uuid:p$id>",
         s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n${html(id)}")
      }
      java.nio.file.Files.write(tmp.resolve(s"policy$f.warc"),
        graft.sources.Warc.writeWarc(recs))
    }
    tmp.toString
  }

  /** The PDF document surface for [[pdfExtract]]: 64 assets encoded
    * on the executors ([[graft.sources.Pdf.encodePdf]] — complete
    * object graph, page tree, content streams, xref). Ids 0–47 are
    * real documents varying every encoder degree of freedom by id
    * arithmetic — page count (`1 + id%3`), lines per page
    * (`2 + id%2`), FlateDecode vs raw (`id%2`), kerned `TJ` arrays vs
    * `Tj` (`id%4==1`), indirect `/Length` objects (`id%3==0`), and
    * the version header. Ids 48–63 are the quarantine quadrant
    * cycling by id%4: an `/Encrypt` trailer, a `/DCTDecode` content
    * filter, a truncation mid-object-graph, and non-PDF bytes. */
  private[graft] def pdfAssetSurface(spark: SparkSession)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    import graft.sources.Pdf
    spark.range(64).as[Long].map { id =>
      val content: Array[Byte] =
        if (id >= 48) (id % 4) match {
          case 0 => Pdf.encodePdf(Seq(Seq("secret")), encrypted = true)
          case 1 => Pdf.encodePdf(Seq(Seq(s"bad $id")), badFilter = true)
          case 2 => Pdf.encodePdf(Seq(Seq(s"cut $id"))).take(80)
          case _ => s"NOT A PDF $id".getBytes("US-ASCII")
        } else {
          val nPages = 1 + (id % 3).toInt
          val nLines = 2 + (id % 2).toInt
          Pdf.encodePdf(
            (0 until nPages).map(p =>
              (0 until nLines).map(l => s"Page $p line $l (doc $id)")),
            flate = id % 2 == 0, useTJ = id % 4 == 1,
            indirectLength = id % 3 == 0,
            version = if (id % 2 == 0) "1.4" else "1.7")
        }
      (id, content)
    }.toDF("asset_id", "content")
  }

  /** PDF text extraction ([[graft.sources.Pdf]]): Spark WALKS the
    * real object graph (trailer → catalog → page tree → content
    * streams, FlateDecode, indirect lengths, `Tj`/`TJ` replay); the
    * oracle CONSTRUCTS every page's text, the show census, and each
    * quarantine disposition from the id arithmetic the surface was
    * planted with. */
  def pdfExtract(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Pdf.parsePdfs(pdfAssetSurface(spark))
      .select(col("asset_id"), col("version"), col("n_pages"),
              col("text"), col("n_chars"), col("n_shows"),
              col("encrypted").cast("long").as("encrypted"),
              col("ok").cast("long").as("ok"), col("reason"))
      .orderBy(col("asset_id"))

  /** The mixed DOCUMENT surface for [[documentIngest]]: 72 assets
    * cycling by id%6 — a real PDF, an HTML page (DOCTYPE-prefixed,
    * the no-magic-number sniff case), plain text (quarantine), an
    * ENCRYPTED PDF (routes to the document lane on magic, then
    * quarantines at parse — routing and decoding are different
    * verdicts, and the composition must keep them apart), a real
    * DOCX, and a real EPUB (both zip containers — the round-14
    * office/ebook family, [[graft.sources.Docx]]). */
  private[graft] def documentAssetSurface(spark: SparkSession)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    import graft.sources.{Docx, Pdf}
    spark.range(72).as[Long].map { id =>
      val content: Array[Byte] = (id % 6) match {
        case 0 => Pdf.encodePdf(Seq((0 until 2).map(l =>
          s"Ingest doc $id line $l")), flate = id % 8 == 0)
        case 1 =>
          (s"<!DOCTYPE html><html><head><title>D $id</title></head>" +
           s"<body><p>The ingested article body number $id carries " +
           "plenty of prose characters for curation.</p></body></html>")
            .getBytes("UTF-8")
        case 2 => s"plain text asset $id with no container".getBytes("UTF-8")
        case 3 => Pdf.encodePdf(Seq(Seq(s"locked $id")), encrypted = true)
        case 4 => Docx.encodeDocx(s"W $id",
          (0 until 2).map(p => s"Word doc $id para $p"))
        case _ => Docx.encodeEpub(s"E $id",
          Seq(("ch0.xhtml", Seq(s"book $id body words"))))
      }
      (id, content)
    }.toDF("asset_id", "content")
  }

  /** The DOCUMENT ingest loop gated end to end (the text twin of
    * [[ingestDecode]]): sniff → route → per-format extraction — PDFs
    * through the [[graft.sources.Pdf]] walker, HTML through the
    * codegen'd kernels — with quarantine rows carried and the
    * encrypted-PDF case proving the route/decode separation. Spark
    * sniffs REAL bytes and parses REAL containers; the oracle
    * constructs every row from the id%6 arithmetic (the six-way
    * [[documentAssetSurface]] cycle: PDF, HTML, raw text, encrypted
    * PDF, DOCX, EPUB). */
  def documentIngest(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.HtmlText
    val routed = graft.multimodal.Sniff.route(documentAssetSurface(spark))
      .localCheckpoint(false)
    val pdf = graft.sources.Pdf.parsePdfs(
        routed.filter(col("detected") === "application/pdf"))
      .select(col("asset_id"), lit("application/pdf").as("detected"),
              lit("document").as("route"),
              lit(null).cast("string").as("title"), col("text"),
              col("ok").cast("long").as("ok"))
    val htmlSlice = routed.filter(col("detected") === "text/html")
      .select(col("asset_id"), col("detected"), col("route"),
              HtmlText.htmlTitle(col("content").cast("string"))
                .as("title"),
              HtmlText.htmlText(col("content").cast("string")).as("text"),
              lit(1L).as("ok"))
    val docx = graft.sources.Docx.parseDocxAssets(
        routed.filter(col("detected")
          .startsWith("application/vnd.openxmlformats")))
      .select(col("asset_id"),
              lit("application/vnd.openxmlformats-officedocument" +
                ".wordprocessingml.document").as("detected"),
              lit("document").as("route"),
              col("title"), col("text"), col("ok").cast("long").as("ok"))
    val epub = graft.sources.Docx.parseEpubAssets(
        routed.filter(col("detected") === "application/epub+zip"))
      .select(col("asset_id"),
              lit("application/epub+zip").as("detected"),
              lit("document").as("route"),
              col("title"), col("text"), col("ok").cast("long").as("ok"))
    val quarantine = routed.filter(col("route") === "quarantine")
      .select(col("asset_id"), col("detected"), col("route"),
              lit(null).cast("string").as("title"),
              lit(null).cast("string").as("text"), lit(0L).as("ok"))
    pdf.unionByName(htmlSlice).unionByName(docx).unionByName(epub)
      .unionByName(quarantine)
      .orderBy(col("asset_id"))
  }

  /** DOCX extraction gated end to end over an authored 48-asset
    * surface ([[graft.sources.Docx.encodeDocx]] — real zip, deflated
    * entries, WordprocessingML body): Spark walks REAL containers;
    * the oracle constructs title/text/paragraph census from the id
    * arithmetic. `id % 8 == 7` plants a zip that is NOT a DOCX (an
    * EPUB container) — the quarantine-at-parse case. */
  def docxExtract(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.sources.Docx
    val surface = spark.range(48).as[Long].map { id =>
      val bytes =
        if (id % 8 == 7) Docx.encodeEpub(s"not a docx $id",
          Seq(("ch0.xhtml", Seq("wrong container"))))
        else Docx.encodeDocx(s"W $id", (0 to (id % 3).toInt).map(p =>
          s"word doc $id para $p text"))
      (id, bytes)
    }.toDF("asset_id", "content")
    Docx.parseDocxAssets(surface)
      .select(col("asset_id"), col("title"), col("text"),
              col("n_paragraphs"), col("n_chars"),
              col("ok").cast("long").as("ok"), col("reason"))
      .orderBy(col("asset_id"))
  }

  /** EPUB extraction gated end to end over an authored 48-asset
    * surface ([[graft.sources.Docx.encodeEpub]] — OCF stored
    * mimetype, container.xml → OPF → spine-ordered XHTML chapters):
    * `id % 8 == 7` plants a zip with no OCF mimetype (a DOCX) — the
    * quarantine-at-parse case. */
  def epubExtract(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.sources.Docx
    val surface = spark.range(48).as[Long].map { id =>
      val bytes =
        if (id % 8 == 7) Docx.encodeDocx(s"not an epub $id",
          Seq("wrong container"))
        else Docx.encodeEpub(s"E $id", (0 to (id % 2).toInt).map(c =>
          (s"ch$c.xhtml", Seq(s"book $id chapter $c para 0 words",
            s"book $id chapter $c para 1 words"))))
      (id, bytes)
    }.toDF("asset_id", "content")
    Docx.parseEpubAssets(surface)
      .select(col("asset_id"), col("title"), col("text"),
              col("n_chapters"), col("n_chars"),
              col("ok").cast("long").as("ok"), col("reason"))
      .orderBy(col("asset_id"))
  }

  /** Fixture for [[mainContentExtract]] / [[crawlCorpusMain]]: 2 WARC
    * shards × 24 pages, each carrying the canonical boilerplate
    * anatomy by id arithmetic — a nav menu of link-only list items
    * (one extra item when `id%3==0`), a short `<h1>` headline that
    * must PROMOTE (its following paragraph is content), two long
    * article paragraphs (the second holding a small inline link that
    * stays under the density bar), a "Related" heading over a
    * link-only div when `id%4==1` (a heading that must NOT promote),
    * a link-only aside, and a short footer. `id%10==3` pages answer
    * 404 (the corpus-composition drop case). Authored once per JVM
    * (the [[warcFixtureCached]] rationale). */
  private lazy val mainContentFixtureCached: String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-maincontent")
    def html(id: Long): String = {
      val navExtra =
        if (id % 3 == 0) "<li><a href=\"/d\">Archive</a></li>" else ""
      val related =
        if (id % 4 == 1)
          "<h2>Related</h2><div><a href=\"/r1\">More one</a> " +
            "<a href=\"/r2\">More two</a></div>"
        else ""
      s"<html><head><title>MC $id</title></head><body>" +
        "<nav><ul><li><a href=\"/a\">Home</a></li>" +
        s"<li><a href=\"/b\">About</a></li>$navExtra</ul></nav>" +
        s"<h1>Story ${id % 7}</h1>" +
        s"<p>The main article body number $id carries ${10 + id % 5} " +
        "deterministic words of plain prose for the classifier.</p>" +
        s"<p>Second paragraph of article $id keeps a " +
        "<a href=\"/x\">small link</a> inside a sentence long enough " +
        "to stay under the density bar.</p>" + related +
        s"<aside><a href=\"/ad\">sponsor ${id % 3}</a></aside>" +
        s"<footer>Copyright ${id % 10}</footer></body></html>"
    }
    (0 until 2).foreach { f =>
      val recs = (0 until 24).map { r =>
        val id = f * 24L + r
        val status = if (id % 10 == 3) "404 Not Found" else "200 OK"
        ("response", s"http://site${id % 5}.example/art$id",
         "2024-01-01T00:00:00Z", s"<urn:uuid:mc$id>",
         s"HTTP/1.1 $status\r\nContent-Type: text/html\r\n\r\n${html(id)}")
      }
      java.nio.file.Files.write(tmp.resolve(s"mc$f.warc"),
        graft.sources.Warc.writeWarc(recs))
    }
    tmp.toString
  }

  /** Block-level main-content extraction ([[graft.text.MainContent]],
    * the jusText tier): Spark SEGMENTS and CLASSIFIES the planted
    * pages (nav/aside/footer boilerplate, promoted headline, content
    * paragraphs, non-promoting "Related" heading); the oracle
    * CONSTRUCTS the surviving prose and the block census from the id
    * arithmetic — an extractor that keeps one nav item or drops one
    * headline hash-mismatches. 404 pages still extract here (the
    * status gate belongs to [[crawlCorpusMain]]). */
  def mainContentExtract(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.MainContent
    graft.sources.Warc.readWarc(spark, mainContentFixtureCached)
      .filter(col("warc_type") === "response")
      .withColumn("blocks",
        MainContent.htmlBlockStats(col("body").cast("string")))
      .select(
        regexp_extract(col("target_uri"), "art(\\d+)$", 1).cast("long")
          .as("doc_id"),
        MainContent.htmlMainContent(col("body").cast("string"))
          .as("main_text"),
        size(col("blocks")).cast("long").as("n_blocks"),
        size(filter(col("blocks"), b => b.getField("content")))
          .cast("long").as("n_content"),
        size(filter(col("blocks"),
          b => b.getField("heading") && b.getField("content")))
          .cast("long").as("n_promoted"))
      .orderBy(col("doc_id"))
  }

  /** The crawl-to-corpus composition with the boilerplate classifier
    * swapped in ([[graft.pipelines.WebCuration.fromWarc]]
    * `mainContentOnly = true`): same WARC shards as
    * [[mainContentExtract]], 200-status gate applied, and the corpus
    * `text` column now carries ONLY classified content — the twin's
    * text is the planted article prose with every nav/aside/footer
    * string absent. */
  def crawlCorpusMain(spark: SparkSession, dir: String): DataFrame = {
    graft.pipelines.WebCuration
      .fromWarc(spark, mainContentFixtureCached, mainContentOnly = true)
      .select(col("canonical_url"), col("domain"), col("title"),
              col("text"), col("n_chars"))
      .orderBy(col("canonical_url"))
  }

  /** Fixture for [[warcProvenance]]: 2 shards (the second in the
    * Common Crawl record-per-gzip-member layout), each led by a
    * `warcinfo` record (software / isPartOf / format warc-fields)
    * and carrying 12 request/response record pairs — the full audit
    * shape a responsible crawler writes. Authored once per JVM (the
    * [[warcFixtureCached]] rationale). */
  private lazy val provenanceFixtureCached: String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-prov")
    (0 until 2).foreach { f =>
      val info = ("warcinfo", s"http://prov.example/shard$f",
        "2024-03-01T00:00:00Z", s"<urn:uuid:info$f>",
        s"software: graftbot/1.$f\r\nisPartOf: crawl-2024-$f\r\n" +
          "format: WARC File Format 1.0\r\n")
      val pairs = (0 until 12).flatMap { r =>
        val id = f * 12L + r
        val uri = s"http://pv${id % 3}.example/p$id"
        Seq(
          ("request", uri, "2024-03-01T00:00:00Z",
           s"<urn:uuid:req$id>",
           s"GET /p$id HTTP/1.1\r\nHost: pv${id % 3}.example\r\n" +
             s"User-Agent: graftbot/1.$f\r\n\r\n"),
          ("response", uri, "2024-03-01T00:00:00Z",
           s"<urn:uuid:resp$id>",
           "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
             s"<html><body><p>prov doc $id</p></body></html>"))
      }
      java.nio.file.Files.write(tmp.resolve(s"prov$f.warc" +
          (if (f == 1) ".gz" else "")),
        graft.sources.Warc.writeWarc(info +: pairs,
          gzipPerRecord = f == 1))
    }
    tmp.toString
  }

  /** Crawl provenance ([[graft.sources.Warc]] non-response surface):
    * `warcinfo` warc-fields (software / isPartOf) and `request`
    * HTTP request lines exposed per record alongside the response
    * rows — the audit trail of who crawled, as part of what, asking
    * for what. Spark PARSES the container, the warc-fields block,
    * and the request block; the oracle CONSTRUCTS all three record
    * kinds from the id arithmetic. */
  def warcProvenance(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Warc.readWarc(spark, provenanceFixtureCached)
      .select(
        regexp_extract(col("warc_file"), "prov(\\d+)\\.warc", 1)
          .cast("long").as("shard"),
        col("warc_type"), col("target_uri"),
        element_at(col("warc_fields"), "software").as("software"),
        element_at(col("warc_fields"), "ispartof").as("is_part_of"),
        col("request_line"), col("http_status"))
      .orderBy(col("shard"), col("warc_type"), col("target_uri"))

  /** The responsible-crawl policy composition: WARC walk →
    * meta-robots extraction ([[graft.text.HtmlMetaRobots]]) +
    * robots.txt verdicts ([[graft.text.Robots]]) → keep = allowed by
    * the host's robots.txt AND not declaring `noindex`. Spark PARSES
    * containers, markup, and robots bodies; the oracle CONSTRUCTS
    * all three flags from the id arithmetic the fixture was planted
    * with. */
  def crawlPolicy(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.text.{HtmlText, Robots}
    val robots = Seq(
      ("site0.example", "User-agent: *\nDisallow: /odd/\n"),
      ("site1.example", "User-agent: *\nDisallow: /odd/\n"),
      ("site2.example", "User-agent: *\nDisallow:\n"),
      ("site3.example", "User-agent: *\nDisallow:\n")
    ).toDF("host", "robots_txt")
    val docs = graft.sources.Warc.readWarc(spark, policyFixtureCached)
      .filter(col("warc_type") === "response" && col("http_status") === 200)
      .select(
        regexp_extract(col("target_uri"), "p(\\d+)$", 1).cast("long")
          .as("doc_id"),
        col("target_uri").as("url"),
        HtmlText.htmlMetaRobots(col("body").cast("string")).as("meta"))
      .withColumn("noindex",
        coalesce(lower(col("meta")).contains("noindex"), lit(false)))
    Robots.verdicts(docs, robots, "graftbot/1.0")
      .select(col("doc_id"),
              lower(parse_url(col("url"), lit("HOST"))).as("host"),
              col("robots_allowed").cast("long").as("robots_ok"),
              col("noindex").cast("long").as("noindex"),
              (col("robots_allowed") && !col("noindex")).cast("long")
                .as("kept"))
      .orderBy(col("doc_id"))
  }

  /** robots.txt crawl-politeness filtering ([[graft.text.Robots]]):
    * 240 planted URLs across 6 hosts × 5 path variants against 5
    * authored robots bodies (one host has none) that exercise every
    * matcher path — plain prefix, mid-pattern `*`, `$` anchor beating
    * a shorter disallow, agent-specific group selection over a
    * deny-all `*` group, empty-Disallow allow-all, deny-all with an
    * allow carve-out, and the no-robots default. Spark PARSES bodies
    * and MATCHES patterns; the oracle CONSTRUCTS the verdict from id
    * arithmetic — two independent derivations of the decision
    * table. */
  def robotsFilter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val robots = Seq(
      ("s0.example",
       "User-agent: *\nDisallow: /private/\nAllow: /private/ok$\n"),
      ("s1.example",
       "User-agent: graftbot\nDisallow: /*/hidden\n\n" +
       "User-agent: *\nDisallow: /\n"),
      ("s2.example", "User-agent: *\nDisallow:\n"),
      ("s4.example", "User-agent: *\nDisallow: /\nAllow: /public\n"),
      ("s5.example",
       "# blanket prefix block\nUser-agent: *\nDisallow: /p\n" +
       "Allow: /private/\n")
    ).toDF("host", "robots_txt")
    val docs = spark.range(240)
      .select(col("id").as("doc_id"),
        concat(lit("https://s"), col("id") % 6, lit(".example"),
          when((col("id") / 6).cast("long") % 5 === 0,
               concat(lit("/p"), (col("id") / 30).cast("long")))
          .when((col("id") / 6).cast("long") % 5 === 1, lit("/private/ok"))
          .when((col("id") / 6).cast("long") % 5 === 2,
               concat(lit("/private/doc"), (col("id") / 30).cast("long")))
          .when((col("id") / 6).cast("long") % 5 === 3,
               concat(lit("/public/a"), (col("id") / 30).cast("long")))
          .otherwise(concat(lit("/a"), (col("id") / 30).cast("long"),
                            lit("/hidden")))).as("url"))
    graft.text.Robots.verdicts(docs, robots, "graftbot/1.0")
      .select(col("doc_id"),
              concat(lit("s"), col("doc_id") % 6, lit(".example"))
                .as("host"),
              col("robots_allowed").cast("long").as("allowed"))
      .orderBy(col("doc_id"))
  }

  def warcExtract(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.HtmlText
    graft.sources.Warc.readWarc(spark, warcFixtureDir(spark))
      .filter(col("warc_type") === "response")
      .select(col("target_uri"),
              col("http_status"),
              HtmlText.htmlTitle(col("body").cast("string")).as("title"),
              HtmlText.htmlText(col("body").cast("string")).as("text"),
              length(col("body")).cast("long").as("n_body_bytes"))
      .orderBy(col("target_uri"))
  }

  /** The crawl-to-corpus composition gate ([[graft.pipelines
    * .WebCuration.fromWarc]]): the q_warc_extract shards flow
    * through WARC walk → 200/text-html filter → HTML extraction →
    * URL canonicalization → registrable domain in ONE declared
    * query, its twin constructed from id arithmetic (404-status ids
    * drop; everything else closed-form). */
  def crawlCorpus(spark: SparkSession, dir: String): DataFrame = {
    val tmp = warcFixtureDir(spark)
    graft.pipelines.WebCuration.fromWarc(spark, tmp)
      .select(col("canonical_url"), col("domain"), col("title"),
              col("text"), col("n_chars"))
      .orderBy(col("canonical_url"))
  }

  /** The compressed-container ingest surface for
    * [[ingestDecodeCompressed]]: 80 assets. Ids 0–39 are real
    * streams (even → MP3, odd → H.264 Annex-B, every id % 10 == 7
    * replaced with non-media text); ids 40–59 are the corrupt
    * quadrant cycling by id % 4: an ID3 tag declaring a size past
    * EOF, an `FF Ex` sync with bitrate index 15, a start code with
    * the forbidden bit set — all caught AT SNIFF — and a valid MP3
    * first frame with a truncated second frame, which sniff CANNOT
    * catch (compressed streams declare no total length) and the
    * structural walker rejects at parse time. Ids 60–79 are the MP4
    * quadrant: flat ISO-BMFF files ([[graft.multimodal.Mp4Io]]),
    * every id % 4 == 3 truncated 40 bytes INSIDE the trailing mdat —
    * the ftyp box is intact so sniff routes it (MP4's leading box
    * declares only its own size, not the file's), and the walker
    * rejects it when the mdat size points past EOF. */
  private[graft] def compressedAssetSurface(spark: SparkSession)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    spark.range(80).as[Long].map { id =>
      val content: Array[Byte] =
        if (id >= 60) {
          val whole = graft.multimodal.Mp4Io.encodeMp4(
            widthMbs = 2 + (id % 6).toInt, heightMbs = 2 + (id % 4).toInt,
            nSamples = 8 + (id % 13).toInt,
            sampleDelta = 120L + 30L * (id % 5),
            timescale = 1000L * (1 + id % 3), seed = id * 6301L,
            cropRight = if (id % 5 == 0) 1 else 0,
            cropBottom = if (id % 5 == 0) 1 else 0)
          if (id % 4 == 3) whole.take(whole.length - 40) else whole
        }
        else if (id >= 40) (id % 4) match {
          case 0 => // ID3 declaring 1000 payload bytes, only 30 total
            Array[Byte]('I', 'D', '3', 3, 0, 0,
                        0, 0, (1000 >> 7).toByte, (1000 & 0x7f).toByte) ++
              Array.fill(20)(0x41.toByte)
          case 1 => // sync with bad bitrate index 15
            Array(0xff, 0xfb, 0xf0, 0x00).map(_.toByte) ++
              Array.fill(12)(0x42.toByte)
          case 2 => // start code + forbidden_zero_bit set
            Array(0, 0, 0, 1, 0x87, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
              .map(_.toByte)
          case _ => // valid first MP3 frame, second frame cut
            val whole = graft.multimodal.Mp3Io.encodeMp3(
              nFrames = 2, versionBits = 3, layer = 3,
              sampleRateIdx = 0, bitrateIdxOf = _ => 5,
              channels = 1, seed = id)
            whole.take(whole.length - 40)
        }
        else if (id % 10 == 7) "NOT A MEDIA FILE".getBytes("US-ASCII")
        else if (id % 2 == 0)
          graft.multimodal.Mp3Io.encodeMp3(
            nFrames = 10 + (id % 20).toInt, versionBits = 3, layer = 3,
            sampleRateIdx = (id % 3).toInt,
            bitrateIdxOf = _ => 5 + (id % 8).toInt,
            channels = 1, seed = id * 9103L)
        else
          graft.multimodal.H264Io.encodeAnnexB(
            widthMbs = 1 + (id % 6).toInt, heightMbs = 1 + (id % 4).toInt,
            nIdr = 1 + (id % 3).toInt, nNonIdr = (id % 5).toInt,
            seed = id * 7877L,
            cropRight = if (id % 5 == 0) 1 else 0,
            cropBottom = if (id % 5 == 0) 1 else 0)
      (id, content)
    }.toDF("asset_id", "content")
  }

  /** The COMPRESSED ingest loop gated end to end — the [[Mp3Io]] /
    * [[H264Io]] twin of [[ingestDecode]]: sniff → route → per-format
    * REAL structural parse → per-format rollup over the 60-asset
    * [[compressedAssetSurface]]. Facts: mp3 → (Σframes,
    * Σduration_ms over parsed-ok streams), h264 → (Σidr, Σwidth),
    * quarantine → (Σbytes, 0). Unlike the raw-container loop,
    * `n_ok < n_assets` on the mp3 route IS the contract: the
    * deep-truncated stream (id % 4 == 3 corrupt case) carries a
    * valid leading frame no length field can expose, so sniff
    * routes it and the WALKER rejects it — the oracle pins that
    * division of labor in closed form. Dispatch is on `detected`
    * (not the coarse route), the way a real ingest hands each
    * container family its own parser. */
  def ingestDecodeCompressed(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    val routed = graft.multimodal.Sniff
      .route(compressedAssetSurface(spark)).localCheckpoint(false)
    val mp3 = Multimodal.parseMp3Streams(
        routed.filter(col("detected") === "audio/mp3"))
      .agg(count(lit(1)).as("n_assets"),
           sum(col("ok").cast("long")).as("n_ok"),
           sum(when(col("ok"), col("frames"))).as("fact_a"),
           sum(when(col("ok"), col("duration_ms"))).as("fact_b"))
      .select(lit("mp3").as("format"), col("n_assets"), col("n_ok"),
              col("fact_a"), col("fact_b"))
    val h264 = Multimodal.parseH264Streams(
        routed.filter(col("detected") === "video/h264"))
      .agg(count(lit(1)).as("n_assets"),
           sum(col("ok").cast("long")).as("n_ok"),
           sum(when(col("ok"), col("n_idr"))).as("fact_a"),
           sum(when(col("ok"), col("width"))).as("fact_b"))
      .select(lit("h264").as("format"), col("n_assets"), col("n_ok"),
              col("fact_a"), col("fact_b"))
    val mp4 = Multimodal.parseMp4Streams(
        routed.filter(col("detected") === "video/mp4"))
      .agg(count(lit(1)).as("n_assets"),
           sum(col("ok").cast("long")).as("n_ok"),
           sum(when(col("ok"), col("n_samples"))).as("fact_a"),
           sum(when(col("ok"), col("width"))).as("fact_b"))
      .select(lit("mp4").as("format"), col("n_assets"), col("n_ok"),
              col("fact_a"), col("fact_b"))
    val quar = routed.filter(col("route") === "quarantine")
      .agg(count(lit(1)).as("n_assets"),
           sum(length(col("content")).cast("long")).as("fact_a"))
      .select(lit("quarantine").as("format"), col("n_assets"),
              lit(0L).as("n_ok"), col("fact_a"), lit(0L).as("fact_b"))
    mp3.unionByName(h264).unionByName(mp4).unionByName(quar)
      .orderBy(col("format"))
  }

  /** Planted URL fixture shared by [[urlCanonicalize]] and
    * [[domainCap]]: a deterministic raw URL per doc_id exercising
    * every canonicalization rule at once — mixed-case scheme/host,
    * `www.` prefixes, generic-SLD ccTLD hosts (`co.uk`), root and
    * trailing-slash paths, tracking + real query parameters in
    * unsorted order, and fragments. */
  private def plantedUrl(i: Column): Column = {
    val h = i % 7
    concat(
      when(i % 2 === 0, lit("https")).otherwise(lit("HTTP")), lit("://"),
      when(i % 3 === 0, concat(lit("WWW.Site"), h, lit(".COM")))
        .when(i % 3 === 1, concat(lit("Blog.site"), h, lit(".co.uk")))
        .otherwise(concat(lit("site"), h, lit(".ORG"))),
      when(i % 4 === 0, lit("/"))
        .otherwise(concat(lit("/p"), i % 4, lit("/"))),
      when(i % 2 === 0,
           concat(lit("?utm_source=news&b="), i % 3, lit("&a=1")))
        .otherwise(concat(lit("?fbclid=abc"), i)),
      lit("#s"), i % 5)
  }

  /** URL canonicalization + registrable domain ([[graft.text.UrlOps]])
    * over planted raw URLs: Spark PARSES the mixed-case, tracking-
    * laden, fragment-bearing fixture with `parse_url` + array
    * functions; the oracle CONSTRUCTS the expected canonical form
    * directly from the id arithmetic — a parser that drops the wrong
    * parameter, sorts differently, keeps a port, or groups `co.uk`
    * one label short hash-mismatches. */
  def urlCanonicalize(spark: SparkSession, dir: String): DataFrame =
    graft.pipelines.WebCuration.withUrlColumns(
        Tables.documents(spark, dir)
          .withColumn("url", plantedUrl(col("doc_id"))))
      .select(col("doc_id"), col("url"), col("canonical_url"),
              col("host"), col("domain"))
      .orderBy(col("doc_id"))

  /** SURT keys ([[graft.text.UrlOps.surtKey]]) over planted URLs:
    * 60 ids cycle www-stripping, sortable query params, a subdomain,
    * an uppercase host, a deep sub-sub host with a bare root path,
    * and a malformed slot (null surt → filtered here; the null
    * posture is UrlOpsSpec's). Sorted BY the surt key, so the oracle
    * also re-derives the contiguity property: the output interleaves
    * hosts of two domains and every domain's rows land adjacent. */
  def surtKeys(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val urls = (0 until 60).flatMap { id =>
      (id % 6) match {
        case 0 => Some(s"http://www.alpha.example/p$id")
        case 1 => Some(s"https://beta.example/dir/p$id?B=2&a=1")
        case 2 => Some(s"http://news.beta.example/p$id")
        case 3 => Some(s"http://ALPHA.example/p$id")
        case 4 => Some("http://x.y.gamma.example/")
        case _ => Some(s"not a url $id")
      }
    }
    urls.toDF("url")
      .select(col("url"),
              graft.text.UrlOps.surtKey(col("url")).as("surt"))
      .filter(col("surt").isNotNull)
      .orderBy(col("surt"), col("url"))
  }

  /** Change-rate recrawl estimation ([[graft.pipelines.Frontier
    * .changeRate]]) over a planted fetch history: 30 URLs, g%5+1
    * fetches 10 hours apart, digest trajectories by g%4 — constant
    * (never changed → interval = stability horizon), changes every
    * fetch, every 2nd, every 3rd; single-fetch URLs yield null (no
    * evidence). The oracle replays the same history through DuckDB's
    * window lag — two engines, one declared recurrence. */
  def changeRateQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val history = for {
      g <- 0 until 30
      k <- 0 to g % 5
    } yield {
      val digest = (g % 4) match {
        case 0 => "d"
        case 1 => s"d$k"
        case 2 => s"d${k / 2}"
        case _ => s"d${k / 3}"
      }
      (s"http://cr.example/u$g", k * 10L, digest)
    }
    graft.pipelines.Frontier.changeRate(
      history.toDF("url", "fetch_t", "digest"))
      .orderBy(col("url"))
  }

  private val surtIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** SURT-indexed layout + subtree lookup ([[graft.sources
    * .UrlIndex]]): 400 planted URLs over 8 host shapes land in a
    * SURT-range-sorted index (built once per JVM — the layout's
    * usage shape; the bench times the read); the `beta.example`
    * subtree lookup must capture the exact host, its `news.`
    * subdomain, and the `www.`-folded spelling while EXCLUDING the
    * `betax.example` and `beta-2.example` prefix decoys — the range
    * arithmetic the layout's pruning rests on. Value preservation is
    * the hash gate; the file-pruning proof is UrlIndexSpec's. */
  def surtScan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val path = surtIndexCache.computeIfAbsent(dir, { _ =>
      val p = java.nio.file.Files
        .createTempDirectory("graft-surtidx").toString + "/urls"
      val urls = (0 until 400).map { id =>
        val host = (id % 8) match {
          case 0 => "alpha.example"
          case 1 => "beta.example"
          case 2 => "news.beta.example"
          case 3 => "betax.example"
          case 4 => "beta-2.example"
          case 5 => "gamma.example"
          case 6 => "www.beta.example"
          case _ => "x.y.gamma.example"
        }
        s"http://$host/p$id"
      }
      graft.sources.UrlIndex.writeSurtIndexed(
        urls.toDF("url"), "url", p, numFiles = 8)
      p
    })
    graft.sources.UrlIndex.lookupDomain(spark, path, "beta.example")
      .select(col("url"), col("surt"))
      .orderBy(col("surt"), col("url"))
  }

  /** Domain-level curation end to end ([[graft.pipelines
    * .WebCuration]]): planted URLs → registrable domain → blocklist
    * drop (literal IN set, map-only) → top-2 per domain by
    * (n_chars desc, doc_id). The one wide stage is the per-domain
    * row_number window — the operator whose whole purpose is taming
    * domain skew, spelled filter-then-cap so the window's input is
    * already blocklist-reduced. */
  def domainCap(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.pipelines.WebCuration.withUrlColumns(
      Tables.documents(spark, dir)
        .withColumn("url", plantedUrl(col("doc_id"))))
    val kept = graft.pipelines.WebCuration.capPerDomain(
      graft.pipelines.WebCuration.dropBlockedDomains(
        docs, Seq("site2.com", "site4.co.uk")),
      maxDocs = 2, qualityCol = "n_chars", idCol = "doc_id")
    kept.select(col("doc_id"), col("domain"), col("domain_rank"),
                col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** EXACT heavy-hitter domains via the Misra–Gries sketch-then-
    * confirm pass ([[graft.ops.Frequent.heavyHitters]]) over a
    * planted skew fixture: 30% of docs land on `mega-a.com`, 20% on
    * `mega-b.net`, 15% on `mid-c.org`, the rest spread over 89 tail
    * domains (~0.4% each). Threshold = 10% of the corpus, sketch
    * size 256 ≪ the line the guarantee needs — the trim path really
    * runs and the confirm pass makes the answer exact, so a plain
    * GROUP BY ... HAVING twin gates it. */
  def domainHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val m = col("doc_id") % 20
    val d = Tables.documents(spark, dir).withColumn("domain",
      when(m < 6, lit("mega-a.com"))
        .when(m < 10, lit("mega-b.net"))
        .when(m < 13, lit("mid-c.org"))
        .otherwise(concat(lit("site"), col("doc_id") % 89,
                          lit(".example"))))
    val n = Tables.rowCountOf(spark, dir, "documents")
    graft.ops.Frequent.heavyHitters(d, "domain", minCount = n / 10,
        sketchSize = 256)
      .orderBy(col("domain"))
  }

  /** URL-level dedup ([[graft.pipelines.WebCuration
    * .dedupByCanonicalUrl]]) over the planted fixture: the raw URLs
    * are all DISTINCT (odd ids carry a unique `fbclid=abc{id}`), but
    * the canonical form collapses to a function of id mod 84
    * (lcm of the fixture's 2/3/4/7 cycles) — ~6 docs per canonical
    * URL at sf0.01 — so the dedup only works if canonicalization
    * first strips exactly the identity-free parts. Keeps the best
    * doc per URL by (n_chars desc, doc_id). */
  def urlDedup(spark: SparkSession, dir: String): DataFrame =
    graft.pipelines.WebCuration.dedupByCanonicalUrl(
        graft.pipelines.WebCuration.withUrlColumns(
          Tables.documents(spark, dir)
            .withColumn("url", plantedUrl(col("doc_id")))))
      .select(col("doc_id"), col("canonical_url"), col("n_chars"))
      .orderBy(col("doc_id"))

  /** REAL classical text embedding + similarity search, hash-gated
    * ([[graft.text.TextVectors]]): every 50th doc queries the corpus
    * for its 3 nearest hashed-TF neighbors. The md5-bucket hashing
    * makes the VECTORS portable and the integer-exact
    * `dot²·2²⁰ div (|a|²·|b|²)` score makes the RANKING portable —
    * the one embedding-similarity query in the family a DuckDB twin
    * can recompute bit-for-bit (the float-cosine queries are
    * golden-pinned instead). Candidates come from a bucket-keyed
    * inverted-index join, never all-pairs. */
  def hashedEmbedTopk(spark: SparkSession, dir: String): DataFrame =
    graft.text.TextVectors.topKBySparseCosine(
        Tables.documents(spark, dir),
        queryPred = col("doc_id") % 50 === 0, k = 3, d = 512)
      .orderBy(col("query_id"), col("rank"))

  /** Epoch-repeating mixture ([[graft.pipelines.Splitting
    * .mixToBudgetEpochs]]): weights 6:3:1 over a 40k-token budget make
    * src2 repeat 3 full epochs + a remainder prefix, src5 one epoch +
    * remainder, src9 remainder only — all three repeat regimes in one
    * hash-gated result. */
  def mixEpochs(spark: SparkSession, dir: String): DataFrame =
    graft.pipelines.Splitting.mixToBudgetEpochs(
        Tables.documents(spark, dir),
        sourceCol = "source", tokensCol = "n_chars", idCol = "doc_id",
        weights = Map("src2" -> 6.0, "src5" -> 3.0, "src9" -> 1.0),
        totalBudget = 40000L)
      .select(col("doc_id"), col("source"), col("n_chars"), col("epoch"))
      .orderBy(col("doc_id"), col("epoch"))

  /** Deterministic shard manifest (SP7): the documents spread over 12
    * shards by uint32(md5(doc_id)[0,8)) mod 12 — per-shard row count +
    * token mass, every shard id present. The twin re-derives the same
    * assignment with a Horner hex parse, so the manifest hash-gates
    * the portable-arithmetic contract end to end. 12, not a power of
    * 16: a 16-shard mod would only exercise the last hex digit. */
  def shardManifestDocs(spark: SparkSession, dir: String): DataFrame =
    graft.pipelines.Sharding.shardManifest(
        Tables.documents(spark, dir),
        idCol = "doc_id", tokensCol = "n_chars", nShards = 12)
      .orderBy(col("shard"))

  /** Per-epoch deterministic re-shuffle audit (SP9): every doc's
    * global position under the epoch-0 and epoch-1
    * [[graft.pipelines.Sharding.epochKey]] permutations, side by
    * side — integer-exact, and the twin replays the same
    * md5("ep:<e>:<id>") row_number in SQL, so the hash gate proves
    * the epoch seed yields the SAME order on any engine and a
    * DIFFERENT order per epoch.
    *
    * The global row_number is DISTRIBUTED ([[GlobalOrdinal.prefix]] —
    * the old spelling ran each epoch's row_number as an
    * `Exchange SinglePartition` window, one reducer holding the whole
    * corpus at 100 TB): the md5 key's first 3 hex chars are a BUCKET
    * that is monotone in the key's lexicographic order (fixed-length
    * hex: char order = digit-value order), so global position = the
    * count of earlier rows + 1. Both epochs' histograms come from ONE
    * aggregate over the thin projection; md5 uniformity keeps the
    * 4096 buckets balanced.
    * Production epoch re-shuffling remains
    * `writeShards(..., orderWithinShards = true, epoch = e)` —
    * shard-local sorts only (ShardingSpec pins that path's per-epoch
    * order directly from the written files). */
  def epochShuffle(spark: SparkSession, dir: String): DataFrame = {
    val keyed = Tables.documents(spark, dir).select(col("doc_id"),
      graft.pipelines.Sharding.epochKey(col("doc_id"), 0L).as("__k0"),
      graft.pipelines.Sharding.epochKey(col("doc_id"), 1L).as("__k1"))
    val (ranked, _) = GlobalOrdinal.prefix(keyed, Seq("0", "1").map(e =>
      GlobalOrdinal.Ordinal(s"__p$e",
        conv(substring(col(s"__k$e"), 1, 3), 16, 10),
        Seq(col(s"__k$e"), col("doc_id")))), lit(1L))
    // int like row_number: positions are bounded by the corpus size
    ranked.select(col("doc_id"),
        (col("__p0") + 1L).cast("int").as("pos_e0"),
        (col("__p1") + 1L).cast("int").as("pos_e1"))
      .orderBy(col("doc_id"))
  }

  /** MinHash+LSH near-dup pairs over the planted corpus — the banded
    * (seeded) scale path of the dedup family; no SQL oracle (the
    * candidate set depends on the LSH seed) → rows-only driver check;
    * DedupSpec proves planted ⊆ found with exact-Jaccard recheck. */
  def dedupMinhash(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val mutated = d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000).as("doc_id"),
              concat(lit("zz1 zz2 zz3 "), col("text")).as("text"))
    Dedup.minhashNearDuplicates(d.union(mutated), minJaccard = 0.5)
      .select(col("id_a"), col("id_b"),
              round(col("jaccard_sim") + lit(1e-9), 6).as("jaccard_sim"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** SimHash near-dup pairs over the planted corpus — one int64
    * signature per doc, pigeonhole band join, Hamming ≤ 3. The
    * signature kernel is deterministic (FNV) but not expressible in
    * the oracle's SQL → rows-only driver check; DedupSpec recomputes
    * signatures against a pure-Scala reference. */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val mutated = d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000).as("doc_id"),
              concat(lit("zz1 zz2 zz3 "), col("text")).as("text"))
    Dedup.simhashNearDuplicates(d.union(mutated))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** ANN top-5 for the first 10 embedding vectors via the BRP-LSH path
    * (seeded hash tables → no SQL oracle; rows-only driver check +
    * sf0.01 golden; SimilaritySpec pins recall ≥ 0.9 vs exact). */
  def annTopKQuery(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 10)
    Similarity.annTopK(queries, emb, k = 5)
      .select(col("query_id"), col("neighbor_id"),
              round(col("cos") + lit(1e-9), 6).as("cos"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** IVF ANN top-5 for the first 10 embedding vectors (k-means coarse
    * quantizer, nProbe=4 of 16 cells — seeded → rows-only + golden;
    * SimilaritySpec pins recall-vs-probes monotonicity and the
    * materialized-index identity). */
  def ivfTopKQuery(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 10)
    Similarity.ivfTopK(queries, emb, k = 5, nCells = 16, nProbe = 4)
      .select(col("query_id"), col("neighbor_id"),
              round(col("cos") + lit(1e-9), 6).as("cos"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Partitioned NSW-lite graph-ANN top-5 for the first 10 embedding
    * vectors ([[graft.similarity.GraphAnn]]): per-cell M-NN graphs
    * built once, beam search as a fixed ≤4-join chain over the probed
    * cells. Seeded quantizer → rows-only + golden; GraphAnnSpec pins
    * recall ≥ 0.9 vs the exact scan and the partition-pruned probe. */
  def nswTopKQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.similarity.GraphAnn
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 10)
    val idx = java.nio.file.Files
      .createTempDirectory("graft-nsw").toString + "/idx"
    GraphAnn.writeNswIndex(emb, idx, nCells = 16, m = 8)
    GraphAnn.searchNswIndex(spark, idx, queries, k = 5,
      nProbe = 4, beam = 8, hops = 3)
      .select(col("query_id"), col("neighbor_id"),
              round(col("cos") + lit(1e-9), 6).as("cos"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** PQ top-5 for the first 10 embedding vectors with exact re-ranking
    * (m=8 subspaces × 16 codes, ADC shortlist ×5) — the memory-scale
    * leg of the similarity family: the corpus-wide scan reads 8-code
    * rows, raw floats only for the shortlist. Seeded quantizer → no
    * SQL oracle; rows-only driver check + sf0.01 golden; PqSpec pins
    * recall and index-vs-in-memory identity. */
  def pqTopKQuery(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 10)
    graft.similarity.Pq.pqTopKRefined(queries, emb, k = 5, refine = 5)
      .select(col("query_id"), col("neighbor_id"),
              round(col("cos") + lit(1e-9), 6).as("cos"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Residual IVF-PQ top-5 for the first 10 embedding vectors (16
    * cells, 4 probes, m=8 × 16 codes over per-cell residuals) — the
    * recall-per-byte leg of the PQ family: same code budget as
    * [[pqTopKQuery]], finer quantization from residual concentration
    * ([[graft.similarity.Pq.ivfPqResidualTopK]]; PqSpec pins the
    * recall ordering, SCALING.md the measured gap). Seeded coarse +
    * sub-quantizers → no SQL oracle; rows-only driver check + sf0.01
    * golden. `cos` is the ADC estimate, rounded like the other
    * similarity queries. */
  def ivfPqResidualQuery(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 10)
    graft.similarity.Pq.ivfPqResidualTopK(queries, emb, k = 5,
        nCells = 16, nProbe = 4)
      .select(col("query_id"), col("neighbor_id"),
              round(col("cos") + lit(1e-9), 6).as("cos"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Exact cosine top-5 neighbors for the first 10 embedding vectors —
    * brute-force baseline of the similarity-search surface. */
  def cosineTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 10)
    Similarity.cosineTopK(queries, emb, k = 5)
      .select(col("query_id"), col("neighbor_id"),
              round(col("cos") + lit(1e-9), 6).as("cos"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Per-document token statistics (raw whitespace tokens, so the SQL
    * oracle is a plain string_split — Text.tokenize's normalization is
    * identity on this corpus). */
  def textStats(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    docs(spark, dir).select(
        col("doc_id"),
        length(col("text")).as("n_chars"),
        size(toks).as("n_tokens"),
        size(array_distinct(toks)).as("n_distinct"),
        round(aggregate(toks, lit(0), (a, t) => a + length(t))
                .cast("double") / size(toks).cast("double") + lit(1e-9), 6)
          .as("avg_token_len"),
        Text.bpeTokenCount(col("text")).as("bpe_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Portable document fingerprint: minimum md5 over word 3-shingles +
    * distinct-shingle count (Text.fingerprint's grid, md5 so DuckDB
    * reproduces it bit-for-bit). */
  def docFingerprint(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val sh = graft.functions.Shingles.shingles(split(col("text"), " "), 3)
    d.select(col("doc_id"), sh.as("sh"))
      .select(col("doc_id"),
              array_min(transform(col("sh"), s => md5(s))).as("fp"),
              size(col("sh")).as("n_shingles"))
      .orderBy(col("doc_id"))
  }

  /** JSON field extraction over events.props + per-user aggregate —
    * the multimodal-metadata access path (SURVEY §7.5 from_json). */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .select(col("user_id"),
              get_json_object(col("props"), "$.k").cast("long").as("k"))
      .filter(col("k").isNotNull)
      .groupBy(col("user_id"))
      .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("cnt"),
           min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy(col("user_id"))
  }

  /** Tumbling 1-hour event-time windows (graft.streaming batch form —
    * identical aggregation runs under Structured Streaming with a
    * watermark). */
  def windowTumbling(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.tumblingCounts(Tables.events(spark, dir))
      .orderBy(col("bucket_start_s"), col("event_type"))

  /** Sliding 1-hour windows at 15-minute stride (graft.streaming batch
    * form — each event lands in exactly 4 epoch-aligned windows; the
    * oracle expands the same window set with generate_series). */
  def windowSliding(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.slidingAvg(Tables.events(spark, dir))
      .orderBy(col("bucket_start_s"), col("event_type"))

  /** Per-user 30-minute-gap session windows (events closer than the gap
    * merge; oracled against a gaps-and-islands SQL formulation). */
  def sessionWindow(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.sessionCounts(Tables.events(spark, dir))
      .orderBy(col("user_id"), col("session_start_s"))

  /** Multimodal asset metadata: binary content column + typed meta from
    * the fake asset table, hashed/sized/frame-planned (codec kernels
    * stubbed — graft.multimodal scaladoc). */
  def multimodalMeta(spark: SparkSession, dir: String): DataFrame = {
    val assets = graft.multimodal.Multimodal.assetsFromDocuments(
      Tables.documents(spark, dir))
    graft.multimodal.Multimodal.enrich(assets)
      .select(col("asset_id"), col("modality"), col("content_hash"),
              col("n_bytes"),
              col("meta.width").as("width"),
              col("meta.height").as("height"),
              size(col("frame_times_ms")).as("n_frames_planned"))
      .orderBy(col("asset_id"))
  }

  /** REAL image decode, oracle-gated end to end: Spark ENCODES 64
    * deterministic PNGs on the executors ([[graft.multimodal.ImageIo
    * .encodePng]]) and DECODES them with the real `javax.imageio`
    * kernel over the MediaKernel seam. The oracle computes the same
    * facts in closed form — width/height/bands are pure functions of
    * the asset id — so a decode that returns anything but the true
    * pixel dimensions of the true PNG bytes hash-mismatches. The `ok`
    * flag rides along as 0/1 so the oracle also gates "every asset
    * decoded". */
  def imageDecode(spark: SparkSession, dir: String): DataFrame =
    graft.multimodal.Multimodal.decodeImages(
      graft.multimodal.Multimodal.syntheticImageAssets(spark, 64))
      .select(col("asset_id"),
              col("width").cast("long").as("width"),
              col("height").cast("long").as("height"),
              col("channels").cast("long").as("channels"),
              col("format"),
              col("ok").cast("long").as("ok"))
      .orderBy(col("asset_id"))

  /** REAL audio decode, oracle-gated end to end (the audio twin of
    * [[imageDecode]]): Spark encodes 64 deterministic 16-bit PCM WAVs
    * on the executors and decodes their headers with the real
    * `javax.sound.sampled` kernel; the oracle computes the same shape
    * facts (rate/channels/frames/duration) in closed form. */
  def audioDecode(spark: SparkSession, dir: String): DataFrame =
    graft.multimodal.Multimodal.decodeAudio(
      graft.multimodal.Multimodal.syntheticAudioAssets(spark, 64))
      .select(col("asset_id"),
              col("sample_rate_hz").cast("long").as("sample_rate_hz"),
              col("channels").cast("long").as("channels"),
              col("frames").cast("long").as("frames"),
              col("duration_ms").cast("long").as("duration_ms"),
              col("format"),
              col("ok").cast("long").as("ok"))
      .orderBy(col("asset_id"))

  /** REAL video demux + frame sampling, oracle-gated end to end (the
    * video twin of [[imageDecode]]/[[audioDecode]]): Spark encodes 64
    * deterministic Y4M streams on the executors, demuxes them with the
    * real [[graft.multimodal.VideoIo]] kernel, and samples every 2nd
    * frame (≤ 4) reading the REAL luma planes. The oracle recomputes
    * every fact in closed form — including each sampled frame's byte
    * offset and exact luma-plane sum, which only come out right if the
    * kernel walked genuine frame boundaries in the genuine bytes. */
  def videoDecode(spark: SparkSession, dir: String): DataFrame = {
    val assets = graft.multimodal.Multimodal.syntheticVideoAssets(spark, 64)
    val meta = graft.multimodal.Multimodal.decodeVideos(assets)
    val frames = graft.multimodal.Multimodal.sampleVideoFrames(assets)
    meta.join(frames, Seq("asset_id"))
      .select(col("asset_id"),
              col("width").cast("long").as("width"),
              col("height").cast("long").as("height"),
              col("fps_num").cast("long").as("fps_num"),
              col("fps_den").cast("long").as("fps_den"),
              col("colorspace"),
              col("n_frames").cast("long").as("n_frames"),
              col("duration_ms").cast("long").as("duration_ms"),
              col("ok").cast("long").as("ok"),
              col("frame_idx").cast("long").as("frame_idx"),
              col("byte_off").cast("long").as("byte_off"),
              col("luma_sum").cast("long").as("luma_sum"))
      .orderBy(col("asset_id"), col("frame_idx"))
  }

  /** REAL perceptual image dedup as a declared query (golden-pinned —
    * pixels are not SQL-expressible): 64 distinct 64×64 textures, every
    * 8th one planted again as a BMP TRANSCODE (same pixels, different
    * container) under id+100000; [[graft.dedup.Dedup.phashNearDuplicates]]
    * must recover exactly the planted pairs at Hamming 0 — distinct
    * textures sit ~31 bits apart, far outside the band-join radius. */
  def phashNeardup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = spark.range(64).as[Long]
      .map { id =>
        (id, graft.multimodal.ImageIo.encodePng(64, 64, seed = id * 104729L))
      }.toDF("asset_id", "content")
    val twins = base.as[(Long, Array[Byte])]
      .filter(_._1 % 8 == 0)
      .map { case (id, png) =>
        (id + 100000L, graft.multimodal.ImageIo.transcode(png, "bmp"))
      }.toDF("asset_id", "content")
    graft.dedup.Dedup.phashNearDuplicates(base.union(twins))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Per-id six-note melody on a chromatic scale over 220 Hz — the
    * audio-fingerprint plant ([[audioFingerprintDedup]]). */
  private def melody(id: Long): Seq[Double] =
    Seq.tabulate(6) { k =>
      220.0 * StrictMath.pow(2.0,
        (((id * 5 + k * 7 + (id % 11) * k) % 24).toDouble) / 12.0)
    }

  /** Audio-fingerprint near-dup (DD18) as a declared query: 48
    * distinct six-note melodies (16-bit WAV); every `%6==0` asset is
    * RE-RENDERED at 8-bit depth and 0.72 gain — the transcode clone
    * the band-energy delta fingerprint must recover. PCM is not
    * SQL-expressible → rows-only driver check + committed sf0.01
    * golden ([[graft.dedup.Dedup.audioFingerprintNearDuplicates]]). */
  def audioFingerprintDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.multimodal.AudioIo
    val base = spark.range(48).as[Long].map { id =>
      (id, AudioIo.encodeToneWav(8192, 8000, bits = 16,
        amplitude = 0.9, notesHz = melody(id), seed = id))
    }.toDF("asset_id", "content")
    val twins = spark.range(48).as[Long].filter(_ % 6 == 0).map { id =>
      (id + 1000L, AudioIo.encodeToneWav(8192, 8000, bits = 8,
        amplitude = 0.72, notesHz = melody(id), seed = id))
    }.toDF("asset_id", "content")
    graft.dedup.Dedup.audioFingerprintNearDuplicates(base.union(twins))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Video sampled-frame pHash near-dup (DD19) as a declared query:
    * 24 textured Y4M clips (64×48, 12 frames); every `%6==0` clip is
    * RE-ENCODED at 6-bit luma depth — the requantized clone whose
    * sampled frames must still match within the Hamming budget.
    * Pixels are not SQL-expressible → rows-only driver check +
    * committed sf0.01 golden
    * ([[graft.dedup.Dedup.videoFrameNearDuplicates]]). */
  def videoFrameDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.multimodal.VideoIo
    val base = spark.range(24).as[Long].map { id =>
      (id, VideoIo.encodeY4mTextured(64, 48, 25, 1, nFrames = 12,
        seed = 1000L + id))
    }.toDF("asset_id", "content")
    val twins = spark.range(24).as[Long].filter(_ % 6 == 0).map { id =>
      (id + 1000L, VideoIo.encodeY4mTextured(64, 48, 25, 1, nFrames = 12,
        seed = 1000L + id, quantBits = 6))
    }.toDF("asset_id", "content")
    graft.dedup.Dedup.videoFrameNearDuplicates(base.union(twins))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Per-document heuristic language ID over the multilingual-planted
    * corpus ([[LangPlants]] — 19 languages across 9 scripts; the
    * oracle is GENERATED from the same profile/threshold constants.
    * With a shared denominator the ratio argmax reduces to integer
    * hit-count comparisons; the char-class rules are single-division
    * IEEE compares, engine-portable unrounded). */
  def langId(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"),
              plantMultilingual(col("doc_id"), col("text")).as("text"))
      // tokens materialized once — the langId expression tree references
      // them ~12x and HOFs re-evaluate per reference (Text.langId doc)
      .select(col("doc_id"), col("text"),
              Text.tokenize(col("text")).as("toks"))
      .select(col("doc_id"),
              Text.langIdFromTokens(col("toks"), col("text"))
                .as("detected"))
      .orderBy(col("doc_id"))

  /** The TRAINED language classifier over the same planted
    * multilingual corpus ([[graft.ml.LangModel]] — hashed char-n-gram
    * multinomial logistic, the fastText/CLD3 shape): fit on the
    * built-in deterministic training corpus, score every planted doc,
    * and carry the heuristic ladder's verdict alongside for the
    * agreement audit. Float probabilities inside → golden posture
    * (sf0.01 golden pins strings only: doc_id, detected, predicted,
    * agree — no L-BFGS float reaches the comparator). LangModelSpec
    * pins ≥ 95% plant agreement and the kanji-only-ja fix. On the
    * committed golden, every disagreement is ladder-`und` → model-`en`
    * on the organic English word-soup docs: rows where the ladder has
    * NO stopword hit and gives up while the hashed n-grams still carry
    * evidence — the model strictly extending the ladder, not
    * contradicting it. */
  def langIdModel(spark: SparkSession, dir: String): DataFrame = {
    val model = graft.ml.LangModel.fit(
      graft.ml.LangModel.trainingCorpus(spark))
    val planted = docs(spark, dir)
      .select(col("doc_id"),
              plantMultilingual(col("doc_id"), col("text")).as("text"))
      .select(col("doc_id"), col("text"),
              Text.tokenize(col("text")).as("toks"))
      .select(col("doc_id"), col("text"),
              Text.langIdFromTokens(col("toks"), col("text"))
                .as("detected"))
    model.score(planted)
      .select(col("doc_id"), col("detected"),
              col("lang_pred").as("predicted"),
              (col("detected") === col("lang_pred")).cast("long")
                .as("agree"))
      .orderBy(col("doc_id"))
  }

  /** Detected-language facets over the same planted multilingual
    * corpus — docs + chars per detected language, the
    * partition/mixture profile a multilingual crawl starts from
    * (what SP11's temperature mixture consumes). One map pass + one
    * 19-group aggregate. */
  def langFacetsDetected(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"),
              plantMultilingual(col("doc_id"), col("text")).as("text"))
      .select(col("text"), Text.tokenize(col("text")).as("toks"))
      .select(Text.langIdFromTokens(col("toks"), col("text"))
                .as("detected"),
              length(col("text")).cast("long").as("nch"))
      .groupBy(col("detected"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nch")).as("total_chars"))
      .orderBy(col("detected"))

  /** Per-document quality score (graft.text heuristics; the oracle
    * replicates the exact formula over string_split — tokenize is
    * identity-equivalent on this corpus, punctuation count is zero). */
  def textQuality(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), col("text"),
              Text.tokenize(col("text")).as("toks"))
      .select(col("doc_id"),
              Text.qualityScoreFromTokens(col("toks"), col("text"))
                .as("quality"))
      .orderBy(col("doc_id"))

  /** Embedding near-dup pairs over planted duplicate vectors (LSH
    * candidates + exact cosine; seed-dependent candidate set → no SQL
    * oracle, rows-only driver check; SimilaritySpec covers recall). */
  def embeddingNearDup(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val clones = emb.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding"),
              col("label"))
    graft.dedup.Dedup.embeddingNearDuplicates(emb.union(clones),
        minCosine = 0.99)
      .select(col("id_a"), col("id_b"),
              round(col("cos") + lit(1e-9), 6).as("cos"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** As-of join: every click event matched to its user's latest
    * at-or-before purchase (purchases pre-aggregated unique per
    * (user, ts) — the [[AsOf.asOfJoin]] right-side contract).
    * Left-outer semantics: clicks before any purchase carry nulls.
    *
    * Times are truncated to MICROS on both engines: DuckDB reads the
    * parquet nano-timestamps at micro precision, and micros stay exact
    * through the comparator's float64 (nanos don't — 2⁵³ < 1e18). */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .withColumn("ts_us", expr("ts div 1000"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts_us"))
      .agg(max(col("value")).as("v"))
    AsOf.asOfJoin(clicks, purchases, Seq("user_id"), "ts_us", "ts_us",
        Seq("v"))
      .select(col("event_id"), col("user_id"), col("ts_us"),
              col("asof_ts_us"), col("asof_v"))
      .orderBy(col("event_id"))
  }

  /** Range self-join: per event, how many same-user events follow
    * within 5 minutes — bucketized interval join ([[AsOf.rangeSelfJoin]]),
    * folded to a count and re-attached left-outer so zero-follower
    * events keep their 0. */
  def rangeJoinFollowers(spark: SparkSession, dir: String): DataFrame = {
    val horizonUs = 300L * 1000000L
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
              expr("ts div 1000").as("ts_us"))
    val counts = AsOf.rangeSelfJoin(ev, Seq("user_id"), "ts_us", horizonUs,
        payload = Seq("event_id"))
      .groupBy(col("event_id_l").as("event_id"))
      .agg(count(lit(1)).as("n_next"))
    ev.select(col("event_id"), col("user_id"))
      .join(counts, Seq("event_id"), "left")
      .select(col("event_id"), col("user_id"),
              coalesce(col("n_next"), lit(0L)).as("n_next"))
      .orderBy(col("event_id"))
  }

  /** EXACT embedding near-dup pairs over planted duplicate vectors:
    * all-pairs cosine ≥ 0.99 via [[graft.ops.Pairs.compactSelfPairs]] +
    * the native dot kernel — the hash-gated ground-truth twin of the
    * LSH [[embeddingNearDup]] (whose seeded candidate set is rows-only).
    * Capped to vec_id < 500 (+ clones) so the oracle's unnest-join
    * pairwise form stays tractable at any SF. */
  def embeddingNearDupExact(spark: SparkSession, dir: String): DataFrame = {
    import graft.similarity.Similarity
    val base = Tables.embeddings(spark, dir)
      .filter(col("vec_id") < 500)
      .select(col("vec_id"), col("embedding"))
    val clones = base.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
    val compact = base.union(clones)
      .select(col("vec_id").as("id"), col("embedding").as("e"),
              Similarity.l2Norm(col("embedding")).as("nrm"))
    Pairs.compactSelfPairs(compact, "id")
      .select(col("id_a"), col("id_b"),
              (Similarity.dot(col("e_a"), col("e_b")) /
                (col("nrm_a") * col("nrm_b"))).as("cos_raw"))
      .filter(col("cos_raw") >= lit(0.99))
      .select(col("id_a"), col("id_b"),
              round(col("cos_raw") + lit(1e-9), 6).as("cos"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** SemDeDup semantic dedup over embeddings + planted identical-vector
    * clones (every 10th vec_id under +100000): k-means cells are
    * seed-dependent (no SQL oracle → rows-only driver check); the
    * committed sf0.01 golden (GoldenSeededSpec) pins content and
    * DedupSpec pins semantics. The embeddings table has no organic
    * pairs at cosine ≥ 0.95 (DuckDB-checked at sf0.001/sf0.01), so the
    * planted pairs are exactly the expected duplicate set. */
  def semanticDedupMarked(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val clones = emb.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
    graft.dedup.Dedup.semanticDedup(emb.union(clones), nClusters = 16,
        minCosine = 0.95)
      .select(col("vec_id"), col("cell"), col("component"), col("kept"),
              round(col("centroid_cos") + lit(1e-9), 6).as("centroid_cos"))
      .orderBy(col("vec_id"))
  }

  /** GPT-style pack-and-chunk assignment (SP2): documents laid
    * end-to-end by doc_id, the token stream cut every 2048 tokens —
    * pure window arithmetic, full SQL oracle. */
  def packChunks(spark: SparkSession, dir: String): DataFrame = {
    val t = docs(spark, dir).select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    graft.pipelines.Packing.concatChunks(t, "n_tokens", 2048)
      .orderBy(col("doc_id"))
  }

  /** RAG-style overlapping chunking (SP4): 32-token windows advancing
    * by 24 over each doc's whitespace token stream — map-side only,
    * full SQL oracle (string_split + generate_series + list_slice
    * twin). */
  def chunkOverlapQuery(spark: SparkSession, dir: String): DataFrame =
    graft.pipelines.Packing.chunkOverlap(docs(spark, dir))
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** Vocabulary profile: top words by document frequency (plus total
    * occurrences) — the explode → two-phase agg → top-k shape of every
    * corpus vocabulary/stopword analysis. At 100 TB the exact form
    * shuffles one row per distinct (doc, word); the sketch path is
    * approx_count_distinct/frequent-items over the same explode. */
  /** Learned-BPE token counts (TX13): train 200 merges on THIS corpus's
    * word-frequency dictionary (one distributed aggregate + a
    * driver-side merge loop over the compact vocab — the HF-tokenizers
    * shape, [[graft.text.Bpe]]), then count each doc's subword tokens
    * next to its whole-word count. Deterministic (exact long counts,
    * lexicographic tie-breaks — no seed), but the merge recursion has
    * no SQL form → rows-only driver check + committed sf0.01 golden. */
  def bpeTokens(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val model = graft.text.Bpe.learnBpe(
      graft.text.Bpe.wordCounts(d), numMerges = 200)
    d.select(col("doc_id"),
             graft.text.Bpe.bpeTokenCount(col("text"), model)
               .as("n_bpe_tokens"),
             graft.text.Text.tokenCount(col("text")).as("n_word_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Unigram-LM (SentencePiece-shape) token counts (TX31): train a
    * 300-piece unigram model on THIS corpus's word-frequency
    * dictionary (the same one-aggregate + driver-bounded trainer
    * shape as [[bpeTokens]] — [[graft.text.Unigram]]), then count
    * each doc's Viterbi pieces next to its whole-word and BPE-ish
    * counts. Deterministic (StrictMath.log over exact longs,
    * logp→length→lexicographic tie ladder), but the lattice
    * recursion has no SQL form → rows-only driver check + committed
    * sf0.01 golden. */
  def unigramTokens(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val model = graft.text.Unigram.learn(
      graft.text.Bpe.wordCounts(d), vocabSize = 300)
    d.select(col("doc_id"),
             graft.text.Unigram.unigramTokenCount(col("text"), model)
               .as("n_unigram_tokens"),
             graft.text.Text.tokenCount(col("text")).as("n_word_tokens"))
      .orderBy(col("doc_id"))
  }

  /** WordPiece (BERT-family) tokenizer over the corpus — the third
    * tokenizer family next to BPE and unigram-LM, same golden
    * posture (the likelihood-merge recursion has no SQL form): learn
    * a 55-piece vocabulary from the shared word dictionary — small
    * enough that the corpus's words genuinely SPLIT into subword
    * pieces (at 300 the 31-word synthetic vocabulary would memorize
    * whole words and the pin would only prove 1 word = 1 piece) —
    * and emit per-doc piece counts beside the whitespace-word count. */
  def wordpieceTokens(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val model = graft.text.WordPiece.learn(
      graft.text.Bpe.wordCounts(d), vocabSize = 55)
    d.select(col("doc_id"),
             graft.text.WordPiece
               .wordpieceTokenCount(col("text"), model)
               .as("n_wordpiece_tokens"),
             graft.text.Text.tokenCount(col("text")).as("n_word_tokens"))
      .orderBy(col("doc_id"))
  }

  def vocabTopK(spark: SparkSession, dir: String, k: Int = 25): DataFrame = {
    val words = docs(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
    words
      .groupBy(col("word"))
      .agg(countDistinct(col("doc_id")).as("df"),
           count(lit(1)).as("occurrences"))
      .orderBy(col("df").desc, col("occurrences").desc, col("word"))
      .limit(k)
  }

  /** TF-IDF term weighting: top-3 terms per document by raw term
    * frequency (ties: document frequency asc — rarer wins — then word),
    * scored with smoothed idf `ln((N+1)/(df+1)) + 1`. Selection order
    * is a pure INTEGER tuple, so ranks are engine-portable; only the
    * reported score is float (rounded @6dp).
    *
    * Plan shape (round 5, PlanSpec-audited): the text is tokenized and
    * EXPLODED EXACTLY ONCE — df rides a `count over (partition by
    * word)` WINDOW on the tf aggregate instead of a separate
    * re-derived branch (Spark does not reuse sibling exchanges here,
    * neither statically nor via AQE stage reuse — measured: the
    * branch form re-ran scan+explode per branch). N comes from a
    * doc_id-only column-pruned scan (no explode), broadcast as one
    * row. Shuffles: (doc, word) fold → word window → doc_id rank
    * window. */
  def tfidfTopTerms(spark: SparkSession, dir: String, k: Int = 3)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = docs(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
    val tf = words.groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("word"))))
    val n = docs(spark, dir).select(countDistinct(col("doc_id")).as("n"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tf").desc, col("df").asc, col("word"))
    tf
      .crossJoin(broadcast(n))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= lit(k))
      .select(col("doc_id"), col("rank"), col("word"), col("tf"), col("df"),
              round(col("tf") *
                      (log((col("n") + 1).cast("double") /
                           (col("df") + 1).cast("double")) + lit(1.0))
                    + lit(1e-9), 6).as("tfidf"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** The fixed literal query set for the lexical-retrieval oracles —
    * corpus-vocabulary words so every query matches many documents
    * (the twins repeat the same VALUES list). */
  private def retrievalQueries(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((1L, "hash merge fast scan"),
        (2L, "slow batch table value"),
        (3L, "key row part agg")).toDF("query_id", "qtext")
  }

  /** BM25 top-k retrieval ([[graft.similarity.Lexical.bm25TopK]])
    * over the documents corpus with three fixed corpus-vocabulary
    * queries. Integer-grid scores (per-term micro contributions
    * summed as longs) make rank AND value hash-gateable — the twin
    * replays the exact Robertson idf / saturation spelling in SQL. */
  def bm25Topk(spark: SparkSession, dir: String): DataFrame =
    graft.similarity.Lexical.bm25TopK(
        docs(spark, dir), retrievalQueries(spark), k = 5)
      .orderBy(col("query_id"), col("rank"))

  /** BM25 answered from the PERSISTED index
    * ([[graft.similarity.LexicalIndex]]): the corpus lands in the
    * posting/doclen/meta layout in two batches, then the query scores
    * off the STORED postings (the corpus text is never re-read). The
    * oracle is the same BM25 CTE as `q_bm25_topk` — the hash gate IS
    * the index/in-memory parity proof, end to end through DuckDB. */
  def bm25Index(spark: SparkSession, dir: String): DataFrame = {
    import graft.similarity.LexicalIndex
    val path = java.nio.file.Files
      .createTempDirectory("graft-lexidx-q").toString
    val d = docs(spark, dir)
    LexicalIndex.build(d.filter(col("doc_id") % 2 === 0), path)
    LexicalIndex.append(d.filter(col("doc_id") % 2 === 1), path, "b1")
    LexicalIndex.searchBm25(spark, path, retrievalQueries(spark), k = 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Hybrid retrieval: BM25 fused with the raw word-space sparse
    * cosine by reciprocal-rank fusion
    * ([[graft.similarity.Lexical.rrfFuse]], Cormack et al. 2009) —
    * two heterogeneous lexical rankers, k=10 each, fused to a final
    * top-5. All three stages are integer-exact, so the whole fusion
    * hash-gates against the CTE replay. */
  def hybridRrf(spark: SparkSession, dir: String): DataFrame =
    graft.similarity.Lexical.hybridTopK(
        docs(spark, dir), retrievalQueries(spark), k = 5, kEach = 10)
      .orderBy(col("query_id"), col("rank"))

  /** Hybrid retrieval answered from the PERSISTED index
    * ([[graft.similarity.LexicalIndex.searchHybrid]]): both rankers
    * probe the stored postings of the query's words, the cosine doc
    * norms come off the index's stored `n2` column, and the fusion is
    * the same RRF. The oracle is `q_hybrid_rrf`'s CTE verbatim — the
    * hash gate IS the index/in-memory parity proof (the
    * `q_incremental_dedup_index` byte-parity pattern). */
  def hybridRrfIndex(spark: SparkSession, dir: String): DataFrame = {
    import graft.similarity.LexicalIndex
    val path = java.nio.file.Files
      .createTempDirectory("graft-lexidx-h").toString
    val d = docs(spark, dir)
    LexicalIndex.build(d.filter(col("doc_id") % 2 === 0), path)
    LexicalIndex.append(d.filter(col("doc_id") % 2 === 1), path, "b1")
    LexicalIndex.searchHybrid(spark, path, retrievalQueries(spark),
        k = 5, kEach = 10)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Content filters: URL/email mention counts + distinct-bigram
    * repetition ratio per document — the C4/Gopher-style cleaning
    * signals. URLs/emails are PLANTED on every 7th doc (identically in
    * the oracle SQL) so the detectors are checked non-vacuously on the
    * synthetic corpus. */
  def contentFilters(spark: SparkSession, dir: String): DataFrame = {
    val planted = docs(spark, dir).select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 7 === 0,
          lit(" contact bob@example.com or visit https://example.org/a?b=1 now"))
          .otherwise(lit(""))).as("text"))
    planted.select(
        col("doc_id"),
        Text.urlCount(col("text")).as("n_urls"),
        Text.emailCount(col("text")).as("n_emails"),
        round(Text.distinctBigramRatio(split(col("text"), " ")) + lit(1e-9), 6)
          .as("bigram_ratio"))
      .orderBy(col("doc_id"))
  }

  /** TX11 — PII redaction over documents with planted PII (every 7th
    * doc gets an email, URL, phone and IP appended, mirroring the
    * contentFilters planting so the redaction is non-vacuous): output
    * is the redacted text itself, hash-gated against the DuckDB
    * regexp_replace twin byte-for-byte. */
  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    val planted = docs(spark, dir).select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 7 === 0,
          lit(" contact bob@example.com or https://example.org/a?b=1" +
              " or call 555-123-4567 from 10.0.0.1"))
          .otherwise(lit(""))).as("text"))
    planted.select(col("doc_id"),
        Text.redactPii(col("text")).as("text_redacted"))
      .orderBy(col("doc_id"))
  }

  /** TX14 — canonical text normalization over documents with planted
    * mess (every 6th doc gets a suffix mixing decomposed Unicode
    * (`e` + combining acute U+0301), a BEL control char, tabs and
    * multi-space runs — synthetic testdata text is clean ASCII, so
    * without planting the normalize pass would be vacuous): output is
    * the normalized text itself, hash-gated byte-for-byte against the
    * DuckDB `nfc_normalize` + regexp twin. */
  def normalizeTextQuery(spark: SparkSession, dir: String): DataFrame = {
    val planted = docs(spark, dir).select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 6 === 0,
          lit("  cafe\u0301 \u0007 bad\tws  x"))
          .otherwise(lit(""))).as("text"))
    planted.select(col("doc_id"),
        Text.normalizeText(col("text")).as("text_norm"))
      .orderBy(col("doc_id"))
  }

  /** Per-document token entropy (Shannon, nats): H = ln n − (Σ c·ln c)/n
    * over the word histogram — the vocabulary-diversity signal of
    * repetition filters (low entropy = the same words loop). Integer
    * histogram + one float finish, so the oracle twin agrees to the
    * 6dp round. */
  def tokenEntropy(spark: SparkSession, dir: String): DataFrame = {
    docs(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n"),
           sum(col("c").cast("double") * log(col("c").cast("double")))
             .as("s"))
      .select(col("doc_id"),
              round(log(col("n").cast("double")) -
                      col("s") / col("n").cast("double") + lit(1e-9), 6)
                .as("entropy"))
      .orderBy(col("doc_id"))
  }

  /** DSIR importance weights (Xie et al. 2023) over the documents
    * table, exact-feature variant: target distribution = every 7th
    * doc, raw = the whole corpus; per-doc score = Σ quantized
    * log(target/raw) likelihood ratios of its unigram+bigram
    * multiset (integer-grid — see [[graft.pipelines.Dsir]]). Full
    * DuckDB oracle; the hashed-bucket scale path is golden-pinned in
    * DsirSpec. */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select(col("doc_id"), col("text"))
    graft.pipelines.Dsir
      .scoreExact(d, d.filter(col("doc_id") % 7 === 0))
      .orderBy(col("doc_id"))
  }

  /** Benchmark decontamination: every 20th doc plays the eval set; the
    * query reports each corpus doc's distinct-5-shingle overlap with
    * it ([[Dedup.contaminationHits]]) — eval-set members hit on
    * themselves, near-dups of them hit partially. */
  def decontamination(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    Dedup.contaminationHits(d, d.filter(col("doc_id") % 20 === 0))
      .orderBy(col("doc_id"))
  }

  /** CCNet-style bigram-LM quality scores as a declared query: every
    * 4th doc plays the trusted target corpus; each doc's quantized
    * log-likelihood under the target's add-1 bigram LM
    * ([[graft.pipelines.NgramLm.score]]) — target members score high,
    * off-distribution docs low. Full DuckDB oracle (integer-grid,
    * order-free sums). */
  def lmScore(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    graft.pipelines.NgramLm
      .score(d, d.filter(col("doc_id") % 4 === 0))
      .orderBy(col("doc_id"))
  }

  /** Classifier calibration bins as a declared query: a DETERMINISTIC
    * (score, label) pairing from id arithmetic — scores on the dyadic
    * `k/128` grid so double partial sums are EXACT and order-free
    * (the hash-gate requirement; arbitrary float scores would sum
    * with sub-ulp order dependence), labels correlated with the score
    * so the reliability table is non-trivially calibrated. Gates the
    * binning + rate math ([[graft.ml.BinaryMetricsDF
    * .calibrationBins]]); ECE on top is spec-pinned (a 10-row double
    * sum has no order-free spelling). */
  def calibrationBins(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val scored = docs(spark, dir).select(id,
      ((id % 128).cast("double") / lit(128.0)).as("score"),
      ((id * 7919) % 128 < id % 128).cast("long").as("label"))
    graft.ml.BinaryMetricsDF
      .calibrationBins(scored, "score", "label", nBins = 10)
      .select(col("bin"), col("n"), col("n_pos"),
        round(col("mean_score") + lit(1e-9), 6).as("mean_score"),
        round(col("pos_rate") + lit(1e-9), 6).as("pos_rate"))
      .orderBy(col("bin"))
  }

  /** PSI distribution drift as a declared query: reference = the
    * corpus length distribution, current = the same lengths shifted
    * by id arithmetic (`+ (id%5)·40` — a deterministic upward drift),
    * binned by the reference deciles ([[graft.ops.Drift.psiBins]]).
    * Counts are integers; each bin's (p−q)·ln(p/q) contribution is
    * quantized on the 2^20 grid (the NgramLm posture), so the whole
    * table hash-gates. */
  def driftPsi(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"))
    val ref = d.select(col("n_chars").cast("double").as("v"))
    val cur = d.select((col("n_chars") + (col("doc_id") % 5) * 40)
      .cast("double").as("v"))
    graft.ops.Drift.psiBins(ref, cur, "v", nBins = 10)
      .orderBy(col("bin"))
  }

  /** Snapshot novelty as a declared query: reference = the corpus,
    * current = a deterministic blend (every doc with `id%3==0` is a
    * verbatim re-fetch of the reference doc, the rest are prefixed —
    * new content), so the novelty fraction is exactly the non-%3
    * share of distinct texts ([[graft.ops.Drift.noveltyRate]]). */
  def noveltyRate(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val cur = d.select(col("doc_id"),
      when(col("doc_id") % 3 === 0, col("text"))
        .otherwise(concat(lit("refreshed page "), col("doc_id"),
          lit(" "), col("text"))).as("text"))
    graft.ops.Drift.noveltyRate(d, cur)
      .select(col("n_cur"), col("n_novel"),
        round(col("novelty") + lit(1e-9), 6).as("novelty"))
  }

  /** Per-source quality LEAGUE TABLE as a declared query — the
    * one-report composition a multi-source corpus review starts
    * from: per source, doc count, token mass, distinct-text count
    * (dup pressure), mean quality on the 10^6 integer grid (sums of
    * arbitrary doubles are partition-order-dependent; quantize THEN
    * sum — the DSIR trick — keeps the mean hash-stable), and the
    * English share. One groupBy over the scan. */
  def sourceReport(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("source"), col("text"), col("n_chars"))
      .withColumn("__toks", Text.tokenize(col("text")))
      .withColumn("__q_q",
        round(Text.qualityScoreFromTokens(col("__toks"), col("text"))
          * lit(1000000.0)).cast("long"))
      .withColumn("__en",
        (Text.langIdFromTokens(col("__toks"), col("text")) === "en")
          .cast("long"))
    d.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("n_chars"),
        countDistinct(sha2(col("text"), 256)).as("n_distinct"),
        sum(col("__q_q")).as("sum_quality_q"),
        sum(col("__en")).as("n_en"))
      .select(col("source"), col("n_docs"), col("n_chars"),
        col("n_distinct"), col("sum_quality_q"),
        round((col("sum_quality_q").cast("double") / lit(1000000.0)) /
          col("n_docs").cast("double") + lit(1e-9), 6)
          .as("mean_quality"),
        round(col("n_en").cast("double") / col("n_docs").cast("double")
          + lit(1e-9), 6).as("en_frac"))
      .orderBy(col("source"))
  }

  /** Threshold sweep as a declared query: the [[calibrationBins]]
    * deterministic (score, label) pairing swept over ten cutoffs —
    * the operating-point table (precision/recall/keep-fraction per
    * threshold) that picks a quality filter's cutoff. All counts are
    * integer sums; ratios are single divisions. */
  def thresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val scored = docs(spark, dir).select(id,
      ((id % 128).cast("double") / lit(128.0)).as("score"),
      ((id * 7919) % 128 < id % 128).cast("long").as("label"))
    graft.ml.BinaryMetricsDF.thresholdSweep(scored, "score", "label",
        thresholds = (0 until 10).map(_ / 10.0))
      .select(round(col("threshold") + lit(1e-9), 6).as("threshold"),
        col("n_kept"), col("n_tp"),
        round(col("precision") + lit(1e-9), 6).as("precision"),
        round(col("recall") + lit(1e-9), 6).as("recall"),
        round(col("keep_frac") + lit(1e-9), 6).as("keep_frac"))
      .orderBy(col("threshold"))
  }

  /** CCNet head/middle/tail tiers as a declared query: the %4 target
    * LM of [[lmScore]], mean log-likelihood terciles via two exact
    * distributed percentiles ([[graft.pipelines.NgramLm.tiers]]) —
    * the bucketing CCNet publishes (head = most Wikipedia-like
    * third). */
  def lmTiers(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    graft.pipelines.NgramLm
      .tiers(d, d.filter(col("doc_id") % 4 === 0))
      .select(col("doc_id"),
        round(col("mean_ll") + lit(1e-9), 6).as("mean_ll"),
        col("tier"))
      .orderBy(col("doc_id"))
  }

  /** PER-LANGUAGE CCNet tiers as a declared query — the form the
    * published pipeline runs (perplexity scales differ across
    * languages; a global tercile tiers by language, not quality),
    * runnable since round-14's multilingual langID: the planted
    * 19-language corpus ([[LangPlants]]) is scored under the %4==0
    * target LM and terciled WITHIN each detected language
    * ([[graft.pipelines.NgramLm.tiersByGroup]]). One scoring pass,
    * one per-language two-percentile aggregate, one broadcast join. */
  def lmTiersByLanguage(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val planted = docs(spark, dir)
      .select(id, plantMultilingual(id, col("text")).as("text"))
      .localCheckpoint(false)
    val langs = planted.select(id,
      Text.langIdFromTokens(Text.tokenize(col("text")), col("text"))
        .as("lang"))
    graft.pipelines.NgramLm
      .tiersByGroup(planted, planted.filter(id % 4 === 0), langs)
      .select(id, col("lang"),
        round(col("mean_ll") + lit(1e-9), 6).as("mean_ll"),
        col("tier"))
      .orderBy(id)
  }

  /** The corpus → training-sequences COMPOSITION as a declared query:
    * [[graft.pipelines.Curation.prepareTrainingData]] with default
    * config (curate → pack-and-chunk, no LM stage — selection is
    * separately gated by q_select_top_quality); the oracle splices the
    * q_curation survivor CTEs into the q_pack_chunks prefix-sum
    * window, so one hash covers the whole composition. */
  def trainingData(spark: SparkSession, dir: String): DataFrame =
    graft.pipelines.Curation.prepareTrainingData(docs(spark, dir))
      .orderBy(col("doc_id"))

  /** AUC as a declared query: how well document LENGTH separates the
    * en/de slice of the corpus from the rest — an arbitrary but fully
    * deterministic (score, label) pairing whose job is to hash-gate
    * the rank-sum AUC MATH (ties included: lengths collide) against
    * the DuckDB twin; the estimator's semantics are pinned separately
    * against mllib in BinaryMetricsSpec. */
  def aucLength(spark: SparkSession, dir: String): DataFrame =
    graft.ml.BinaryMetricsDF
      .aucROC(
        Tables.documents(spark, dir)
          .select(length(col("text")).as("score"),
                  col("lang").isin("en", "de").cast("int").as("label")),
        "score", "label")
      .select(round(col("auc") + lit(1e-9), 6).as("auc"),
              col("pos"), col("neg"))

  /** Quality SELECTION as a declared query (the FineWeb/DCLM step):
    * LM-score every doc ([[lmScore]]'s model), keep the top 25% by
    * mean log-likelihood via one distributed exact-percentile
    * threshold ([[graft.pipelines.Splitting.selectTopFraction]]).
    * Same estimator as the green q_percentiles twin; note ties AT the
    * threshold are engine-sensitive in general (when (1−frac)·(n−1) is
    * integral both engines return an exact data value, and even the
    * interpolated case can differ by an ulp and flip `>=` membership
    * for a boundary doc — the Splitting scaladoc's caveat). On this
    * corpus the threshold interpolates strictly between scores, which
    * the hash gate itself verifies every round. */
  def selectTopQuality(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val scored = graft.pipelines.NgramLm
      .score(d, d.filter(col("doc_id") % 4 === 0))
      .select(col("doc_id"),
              (col("ll_q").cast("double") /
               col("n_bigrams").cast("double")).as("mean_ll"))
    graft.pipelines.Splitting.selectTopFraction(scored, "mean_ll", 0.25)
      .select(col("doc_id"), round(col("mean_ll") + lit(1e-9), 6)
        .as("mean_ll"))
      .orderBy(col("doc_id"))
  }

  /** Incremental (cross-corpus) dedup as a declared query: the corpus
    * plays the landed 100-TB side; the "arriving batch" is planted from
    * it — every 5th-plus-1 doc an exact copy (dropped by the hash
    * anti-join), every 5th-plus-0 a junk-prefix near-clone (dropped by
    * the cross-corpus Jaccard join), the rest word-reversed (novel
    * shingle sets → kept). Output: the surviving new docs. */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    Dedup.dropDuplicatesAgainst(plantedBatch(d), d)
      .select(col("doc_id"), length(col("text")).as("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** The planted arriving batch shared by [[incrementalDedup]] and
    * [[incrementalDedupIndex]] (and mirrored verbatim in both queries'
    * oracle SQL). */
  private def plantedBatch(d: DataFrame): DataFrame = d.select(
    (col("doc_id") + 500000).as("doc_id"),
    when(col("doc_id") % 5 === 0,
         concat(lit("zz1 zz2 zz3 "), col("text")))
      .when(col("doc_id") % 5 === 1, col("text"))
      .otherwise(concat_ws(" ", reverse(split(col("text"), " "))))
      .as("text"))

  /** [[incrementalDedup]] served from the PERSISTENT posting index
    * ([[graft.dedup.DedupIndex]]) instead of rescanning the landed
    * corpus: the corpus lands in two installments (index `build` on the
    * even-id half, `append` of the odd-id half — exercising the
    * hot-cap-under-appends parity argument in the index scaladoc), then
    * the same planted batch dedups against the index alone. Same oracle
    * SQL as q_incremental_dedup: the gate proves the materialized path
    * is byte-equivalent to the rescan path.
    *
    * The built index is memoized per corpus dir: it is a persistent
    * artifact by definition (built once when the corpus lands, amortized
    * over every arriving batch), so repeated invocations — Bench's
    * warmup + 3 timed passes — measure the operator's actual recurring
    * cost, the per-batch query, not 4 rebuilds of the one-time index. */
  def incrementalDedupIndex(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val path = indexCache.synchronized {
      indexCache.getOrElseUpdate(dir, {
        val p = java.nio.file.Files
          .createTempDirectory("graft-dedup-index").toString
        DedupIndex.build(d.filter(col("doc_id") % 2 === 0), p)
        DedupIndex.append(d.filter(col("doc_id") % 2 =!= 0), p, "b1")
        p
      })
    }
    DedupIndex.dropDuplicatesAgainstIndex(plantedBatch(d), path)
      .select(col("doc_id"), length(col("text")).as("n_chars"))
      .orderBy(col("doc_id"))
  }
  private val indexCache = scala.collection.mutable.Map.empty[String, String]

  /** Soft-dedup duplication weights over the same planted corpus as
    * [[dedupNear]]: weight = 1 / |near-dup cluster|
    * ([[Dedup.duplicationWeights]]) — the oracle extends the
    * q_dedup_near transitive-closure CTE with a per-component size. */
  def dedupWeights(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val mutated = d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000).as("doc_id"),
              concat(lit("zz1 zz2 zz3 "), col("text")).as("text"))
    Dedup.duplicationWeights(d.union(mutated), k = 5, minJaccard = 0.5)
      .select(col("doc_id"), col("component"), col("n_copies"),
              round(col("weight") + lit(1e-9), 6).as("weight"))
      .orderBy(col("doc_id"))
  }

  /** Decontamination as an END-TO-END filter via the Bloom-prefilter
    * path ([[Dedup.dropContaminatedBloom]]): same corpus/eval split as
    * [[decontamination]], output = the docs that SURVIVE (no shingle
    * overlap with the every-20th-doc eval set). The Bloom stage is a
    * scan-local prefilter with no false negatives, so the oracle is the
    * plain exact-path complement — the hash gate proves the prefilter
    * did not change semantics. */
  def decontaminationBloom(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    Dedup.dropContaminatedBloom(d, d.filter(col("doc_id") % 20 === 0))
      .select(col("doc_id"), length(col("text")).as("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** The synthetic corpus reflowed into 6-token lines (it is generated
    * single-line; line-level operators need lines to operate on), with
    * optional planted structure — all of it replayed verbatim in the
    * DuckDB oracle twins so both engines see the identical lined
    * corpus:
    *  - `intraDupEvery`: every n-th doc repeats its own first line
    *    twice at the end (intra-doc repetition for the Gopher signals);
    *  - `boilerplate`: every even doc gets this shared footer line
    *    (cross-doc boilerplate for line dedup). */
  private def linedDocs(spark: SparkSession, dir: String,
                        intraDupEvery: Int = 0,
                        boilerplate: Option[String] = None): DataFrame = {
    // staged projections: each non-cheap array expression is referenced
    // 2+ times downstream, so CollapseProject keeps the boundaries and
    // each is computed once per row (see Text.repetitionSignals perf
    // note on interpreted-HOF re-evaluation)
    val d = docs(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("__ws"))
      .select(col("doc_id"), transform(
        sequence(lit(1),
          greatest(ceil(size(col("__ws")).cast("double") / lit(6.0))
                     .cast("int"), lit(1))),
        i => concat_ws(" ", slice(col("__ws"), (i - 1) * 6 + 1, lit(6))))
        .as("__lines"))
    val withDup =
      if (intraDupEvery > 0)
        when(col("doc_id") % intraDupEvery === 0,
             concat(col("__lines"),
                    array(element_at(col("__lines"), 1),
                          element_at(col("__lines"), 1))))
          .otherwise(col("__lines"))
      else col("__lines")
    val withBoiler = boilerplate match {
      case Some(b) =>
        when(col("doc_id") % 2 === 0, concat(withDup, array(lit(b))))
          .otherwise(withDup)
      case None => withDup
    }
    d.select(col("doc_id"), concat_ws("\n", withBoiler).as("text"))
  }

  /** The Gopher-filter test corpus: the lined corpus with one planted
    * rule violation per id-arithmetic family, so every published rule
    * fires non-vacuously at any SF ([[gopherSql]] is the engine twin):
    *  - `%5`  — every line bullet-prefixed ("- ")    → bullets rule
    *  - `%7`  — odd (1-based) lines end in " ..."    → ellipsis rule
    *  - `%9`  — appended "# # # # # #" line          → symbol ratio
    *  - `%11` — appended digit-word line             → alpha fraction
    *  - `%3`  — appended stop-word line              → stopword PASSES
    *  - `%23` — appended 24×"a" line                 → repetition
    * Unplanted docs fail the stop-word rule (the soup vocabulary has
    * only "the") and half fail the 50-word floor — both keep and every
    * drop reason appear in the verdict. */
  private[graft] def gopherDocs(spark: SparkSession, dir: String)
      : DataFrame = {
    val d = docs(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("__ws"))
      .select(col("doc_id"), transform(
        sequence(lit(1),
          greatest(ceil(size(col("__ws")).cast("double") / lit(6.0))
                     .cast("int"), lit(1))),
        i => concat_ws(" ", slice(col("__ws"), (i - 1) * 6 + 1, lit(6))))
        .as("__l0"))
    val id = col("doc_id")
    val bullets = when(id % 5 === 0,
      transform(col("__l0"), x => concat(lit("- "), x)))
      .otherwise(col("__l0"))
    val ell = when(id % 7 === 0,
      transform(col("__l1"), (x, i) =>
        when(i % 2 === 0, concat(x, lit(" ..."))).otherwise(x)))
      .otherwise(col("__l1"))
    def appended(on: Column, line: String): Column => Column =
      prev => when(on, concat(prev, array(lit(line)))).otherwise(prev)
    val planted = Seq(
      appended(id % 9 === 0, GopherSymbolLine),
      appended(id % 11 === 0, GopherDigitLine),
      appended(id % 3 === 0, GopherStopLine),
      appended(id % 23 === 0, GopherRepeatLine))
      .foldLeft(col("__l2"): Column)((c, f) => f(c))
    d.select(col("doc_id"), bullets.as("__l1"))
      .select(col("doc_id"), ell.as("__l2"))
      .select(col("doc_id"), concat_ws("\n", planted).as("text"))
  }

  private[graft] val GopherSymbolLine = "# # # # # #"
  private[graft] val GopherDigitLine = "12345 67890 314 159 265 358"
  private[graft] val GopherStopLine = "the of and that have with"
  private[graft] val GopherRepeatLine = Seq.fill(24)("a").mkString(" ")

  /** Gopher rule-based filtering as a declared query: the full
    * published rule set ([[graft.text.Gopher]]) over the planted
    * corpus; per-doc signals (rounded at the edge; flags computed on
    * the unrounded values — IEEE division is engine-portable), one
    * 0/1 flag per rule, the composite keep, and the first-failed-rule
    * drop reason. Map-only: every signal rides the document scan. */
  def gopherFilter(spark: SparkSession, dir: String): DataFrame = {
    val v = graft.text.Gopher.verdict(gopherDocs(spark, dir))
    v.select(
      col("doc_id"),
      col("n_words"),
      round(col("mean_word_len") + lit(1e-9), 6).as("mean_word_len"),
      round(col("symbol_ratio") + lit(1e-9), 6).as("symbol_ratio"),
      round(col("alpha_frac") + lit(1e-9), 6).as("alpha_frac"),
      col("n_stop"),
      round(col("bullet_frac") + lit(1e-9), 6).as("bullet_frac"),
      round(col("ellipsis_frac") + lit(1e-9), 6).as("ellipsis_frac"),
      round(col("dup_line_frac") + lit(1e-9), 6).as("dup_line_frac"),
      round(col("top_2gram_cov") + lit(1e-9), 6).as("top_2gram_cov"),
      col("pass_word_count"), col("pass_mean_word_len"),
      col("pass_symbol_ratio"), col("pass_bullets"),
      col("pass_ellipsis"), col("pass_alpha_frac"),
      col("pass_stopwords"), col("pass_repetition"),
      col("keep"), col("drop_reason"))
      .orderBy(col("doc_id"))
  }

  /** SQL fragment building the same planted corpus as [[gopherDocs]] —
    * produces CTE `gdoc(doc_id, lines, text)`. */
  private[graft] def gopherSql: String =
    s"""gt AS (SELECT doc_id, string_split(text, ' ') AS ws
               FROM documents),
        gl0 AS (SELECT doc_id,
                 list_transform(
                   generate_series(1,
                     greatest(CAST(ceil(len(ws) / 6.0) AS INT), 1)),
                   i -> array_to_string(
                          list_slice(ws, (i-1)*6 + 1, (i-1)*6 + 6), ' '))
                   AS l0
               FROM gt),
        gl1 AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0
                 THEN list_transform(l0, x -> '- ' || x) ELSE l0 END AS l1
               FROM gl0),
        gl2 AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0
                 THEN list_transform(generate_series(1, len(l1)),
                   i -> CASE WHEN i % 2 = 1 THEN l1[i] || ' ...'
                        ELSE l1[i] END)
                 ELSE l1 END AS l2
               FROM gl1),
        gl3 AS (SELECT doc_id, CASE WHEN doc_id % 9 = 0
                 THEN list_append(l2, '$GopherSymbolLine') ELSE l2 END
                 AS l3 FROM gl2),
        gl4 AS (SELECT doc_id, CASE WHEN doc_id % 11 = 0
                 THEN list_append(l3, '$GopherDigitLine') ELSE l3 END
                 AS l4 FROM gl3),
        gl5 AS (SELECT doc_id, CASE WHEN doc_id % 3 = 0
                 THEN list_append(l4, '$GopherStopLine') ELSE l4 END
                 AS l5 FROM gl4),
        gl6 AS (SELECT doc_id, CASE WHEN doc_id % 23 = 0
                 THEN list_append(l5, '$GopherRepeatLine') ELSE l5 END
                 AS lines FROM gl5),
        gdoc AS (SELECT doc_id, lines,
                   array_to_string(lines, chr(10)) AS text FROM gl6)"""

  // --- C4 cleaning ruleset (round 13) -----------------------------------

  private[graft] val C4TinyLine = "tiny line here."
  private[graft] val C4JsLine =
    "please enable javascript to continue viewing."
  private[graft] val C4BadLine =
    "casino night winners collect big prizes."
  private[graft] val C4LoremLine =
    "lorem ipsum dolor sit amet consectetur."
  private[graft] val C4BraceLine = "code sample { return value } here."
  private[graft] val C4SharedLines = Seq(
    "shared span sentence alpha beta gamma.",
    "shared span sentence delta epsilon zeta.",
    "shared span sentence eta theta iota.")

  /** The C4-ruleset test corpus ([[c4Sql]] is the engine twin): the
    * lined corpus where line i (1-based) gets a terminal period only
    * when `(doc_id + i) % 4 != 0` (≈25% of lines fail the terminal-
    * punctuation rule), plus one planted violation per id family:
    * `%6` a 3-word line (min-words), `%9` a javascript line, `%13` a
    * bad-word line (page drop), `%17` "lorem ipsum" (page drop),
    * `%19` a "{" line (page drop), and `%10` a SHARED three-sentence
    * block — the corpus-level three-sentence span every tenth doc
    * duplicates, so [[graft.text.C4.spanDedup3]] fires. */
  private[graft] def c4Docs(spark: SparkSession, dir: String)
      : DataFrame = {
    val d = docs(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("__ws"))
      .select(col("doc_id"), transform(
        sequence(lit(1),
          greatest(ceil(size(col("__ws")).cast("double") / lit(6.0))
                     .cast("int"), lit(1))),
        i => concat_ws(" ", slice(col("__ws"), (i - 1) * 6 + 1, lit(6))))
        .as("__l0"))
    val id = col("doc_id")
    val punct = transform(col("__l0"), (x, i0) =>
      when((id + i0 + 1) % 4 =!= 0, concat(x, lit("."))).otherwise(x))
    def appended(on: Column, ls: Seq[String]): Column => Column =
      prev => when(on, concat(prev, array(ls.map(lit): _*)))
        .otherwise(prev)
    val planted = Seq(
      appended(id % 6 === 0, Seq(C4TinyLine)),
      appended(id % 9 === 0, Seq(C4JsLine)),
      appended(id % 13 === 0, Seq(C4BadLine)),
      appended(id % 17 === 0, Seq(C4LoremLine)),
      appended(id % 19 === 0, Seq(C4BraceLine)),
      appended(id % 10 === 0, C4SharedLines))
      .foldLeft(col("__l1"): Column)((c, f) => f(c))
    d.select(col("doc_id"), punct.as("__l1"))
      .select(col("doc_id"), concat_ws("\n", planted).as("text"))
  }

  /** C4 line-level cleaning as a declared query: kept-line rebuild
    * plus counts; the hash gate covers the rebuilt text
    * byte-for-byte. Map-only. */
  def c4Lines(spark: SparkSession, dir: String): DataFrame =
    graft.text.C4.cleanLines(c4Docs(spark, dir))
      .select(col("doc_id"), col("n_lines"), col("n_kept"), col("text"))
      .orderBy(col("doc_id"))

  /** C4 page-level policy as a declared query: sentence floor on the
    * line-filtered text, bad-word / lorem-ipsum / brace checks on the
    * RAW text, first-failed drop reason. Map-only. */
  def c4Page(spark: SparkSession, dir: String): DataFrame =
    graft.text.C4.pageVerdict(
      graft.text.C4.cleanLines(c4Docs(spark, dir)))
      .select(col("doc_id"), col("n_sentences"),
        col("pass_sentences"), col("pass_badwords"),
        col("pass_lorem_ipsum"), col("pass_brace"),
        col("keep"), col("drop_reason"))
      .orderBy(col("doc_id"))

  /** The COMPOSED C4 pipeline as a declared query: line filter → page
    * policy → corpus-level three-sentence span dedup; the hash gate
    * covers the final rebuilt text of every surviving page. */
  def c4Clean(spark: SparkSession, dir: String): DataFrame = {
    val c4 = graft.text.C4
    val kept = c4.pageVerdict(c4.cleanLines(c4Docs(spark, dir)))
      .filter(col("keep") === 1L)
      .select(col("doc_id"), col("text"))
    c4.spanDedup3(kept).orderBy(col("doc_id"))
  }

  /** SQL fragment building the same planted corpus as [[c4Docs]] plus
    * the line-filter stage — produces CTEs `c4doc(doc_id, lines,
    * text)` and `c4kt(doc_id, n_lines, kept, ktext, text)` (kept-line
    * array, rebuilt text, raw text). */
  private[graft] def c4Sql: String = {
    val shared = C4SharedLines.map(s => s"'$s'").mkString(", ")
    s"""c0 AS (SELECT doc_id, string_split(text, ' ') AS ws
               FROM documents),
        c1 AS (SELECT doc_id,
                 list_transform(
                   generate_series(1,
                     greatest(CAST(ceil(len(ws) / 6.0) AS INT), 1)),
                   i -> array_to_string(
                          list_slice(ws, (i-1)*6 + 1, (i-1)*6 + 6), ' '))
                   AS l0
               FROM c0),
        c2 AS (SELECT doc_id,
                 list_transform(generate_series(1, len(l0)),
                   i -> CASE WHEN (doc_id + i) % 4 <> 0
                        THEN l0[i] || '.' ELSE l0[i] END) AS l1
               FROM c1),
        c3 AS (SELECT doc_id, CASE WHEN doc_id % 6 = 0
                 THEN list_append(l1, '$C4TinyLine') ELSE l1 END AS l2
               FROM c2),
        c4p AS (SELECT doc_id, CASE WHEN doc_id % 9 = 0
                 THEN list_append(l2, '$C4JsLine') ELSE l2 END AS l3
               FROM c3),
        c5 AS (SELECT doc_id, CASE WHEN doc_id % 13 = 0
                 THEN list_append(l3, '$C4BadLine') ELSE l3 END AS l4
               FROM c4p),
        c6 AS (SELECT doc_id, CASE WHEN doc_id % 17 = 0
                 THEN list_append(l4, '$C4LoremLine') ELSE l4 END AS l5
               FROM c5),
        c7 AS (SELECT doc_id, CASE WHEN doc_id % 19 = 0
                 THEN list_append(l5, '$C4BraceLine') ELSE l5 END AS l6
               FROM c6),
        c8 AS (SELECT doc_id, CASE WHEN doc_id % 10 = 0
                 THEN list_concat(l6, [$shared]) ELSE l6 END AS lines
               FROM c7),
        c4doc AS (SELECT doc_id, lines,
                    array_to_string(lines, chr(10)) AS text FROM c8),
        c4k AS (SELECT doc_id, CAST(len(lines) AS BIGINT) AS n_lines,
                  list_filter(lines, l ->
                    (l LIKE '%.' OR l LIKE '%!' OR l LIKE '%?'
                     OR l LIKE '%"')
                    AND len(list_filter(string_split(l, ' '),
                          x -> x <> '')) >= 5
                    AND NOT regexp_matches(lower(l),
                          '\\bjavascript\\b')) AS kept,
                  text
                FROM c4doc),
        c4kt AS (SELECT doc_id, n_lines, kept,
                   coalesce(array_to_string(kept, chr(10)), '')
                     AS ktext, text
                 FROM c4k)"""
  }

  /** Fixture for [[wetExtract]]: two WET shards (one plain, one
    * record-per-member gzip — both real Common Crawl layouts), each a
    * `warcinfo` header record plus 10 `conversion` records whose
    * text payload is id arithmetic. */
  private lazy val wetFixtureCached: String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-wet")
    def text(id: Long): String =
      s"extracted text for page $id alpha${id % 5}" +
        (" tail" * (id % 4).toInt)
    (0 until 2).foreach { f =>
      val recs = ("warcinfo", null,
        "2024-03-01T00:00:00Z", s"<urn:uuid:info$f>",
        "software: graft-wet 1.0\r\nisPartOf: graft-test\r\n") +:
        (0 until 10).map { r =>
          val id = f * 10L + r
          ("conversion", s"http://wet${id % 5}.example/p$id",
           "2024-03-01T00:00:00Z", s"<urn:uuid:wet$id>", text(id))
        }
      java.nio.file.Files.write(
        tmp.resolve(s"shard$f.warc.wet" + (if (f == 1) ".gz" else "")),
        graft.sources.Warc.writeWarc(recs, gzipPerRecord = f == 1))
    }
    tmp.toString
  }

  /** WET extraction as a declared query: the conversion-record text
    * surface of [[graft.sources.Warc.readWet]], with char/token
    * counts; the warcinfo record must NOT leak into the rows. */
  def wetExtract(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Warc.readWet(spark, wetFixtureCached)
      .select(col("target_uri"), col("text"),
        length(col("text")).cast("long").as("n_chars"),
        Text.tokenCount(col("text")).cast("long").as("n_tokens"))
      .orderBy(col("target_uri"))

  /** Fixture for [[watMetadata]]: one WAT shard — a `warcinfo`
    * record plus 20 `metadata` records carrying the Common Crawl
    * JSON envelope (header metadata + HTML title + links), built by
    * id arithmetic. */
  private lazy val watFixtureCached: String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-wat")
    def envelope(id: Long): String = {
      val links = (0 until (1 + (id % 3)).toInt).map { k =>
        s"""{"url":"http://l$k.example/x$id","text":"L$id-$k"}"""
      }.mkString(",")
      s"""{"Envelope":{"WARC-Header-Metadata":{""" +
        s""""WARC-Target-URI":"http://w${id % 5}.example/p$id",""" +
        s""""WARC-Date":"2024-03-01T00:00:00Z"},""" +
        s""""Payload-Metadata":{"HTTP-Response-Metadata":{""" +
        s""""HTML-Metadata":{"Head":{"Title":"Page $id"},""" +
        s""""Links":[$links]}}}}}"""
    }
    val recs = ("warcinfo", null,
      "2024-03-01T00:00:00Z", "<urn:uuid:infowat>",
      "software: graft-wat 1.0\r\n") +:
      (0 until 20).map { id =>
        ("metadata", s"http://w${id % 5}.example/p$id",
         "2024-03-01T00:00:00Z", s"<urn:uuid:wat$id>",
         envelope(id))
      }
    java.nio.file.Files.write(tmp.resolve("shard0.warc.wat"),
      graft.sources.Warc.writeWarc(recs))
    tmp.toString
  }

  /** WAT metadata extraction as a declared query: title, link count,
    * and first link pulled from the JSON envelope with codegen'd
    * `get_json_object` paths — no UDF, no schema pin on the
    * version-skewed envelope. */
  def watMetadata(spark: SparkSession, dir: String): DataFrame = {
    val html = "$['Envelope']['Payload-Metadata']" +
      "['HTTP-Response-Metadata']['HTML-Metadata']"
    graft.sources.Warc.readWat(spark, watFixtureCached)
      .select(col("target_uri"),
        get_json_object(col("json"), s"$html['Head']['Title']")
          .as("title"),
        json_array_length(
          get_json_object(col("json"), s"$html['Links']"))
          .cast("long").as("n_links"),
        get_json_object(col("json"), s"$html['Links'][0]['url']")
          .as("first_link"))
      .orderBy(col("target_uri"))
  }

  /** Per-script plants for [[scriptDetect]]: `(modulus, snippet)` —
    * appended to `doc_id % modulus == 0` docs; `%13` docs are fully
    * REWRITTEN in Cyrillic first (`ScriptOverride`, repeated
    * `1 + id%3` times) so the dominant script flips for some docs,
    * not just the counts. */
  private[graft] val ScriptPlants: Seq[(Int, String)] = Seq(
    3 -> "привет мир как дела сегодня",
    5 -> "统计分析引擎测试文本",
    7 -> "αλφα βητα γαμμα δελτα",
    11 -> "مرحبا بالعالم اليوم",
    17 -> "한국어 텍스트 예시",
    19 -> "にほんごのてきすと",
    23 -> "שלום לכולם בעולם הזה",
    29 -> "नमस्ते दुनिया के लोग आज")
  private[graft] val ScriptOverride =
    "русский текст документа целиком без латиницы"

  /** All nine census scripts, in [[graft.text.Scripts.Ranges]]
    * (dominance-tie) order. */
  private[graft] val ScriptSet: Seq[String] =
    graft.text.Scripts.Ranges.map(_._1)

  /** Planted multilingual snippets — one per detectable language.
    * The profile languages get lowercase prose rich in their OWN
    * stopword profile (and strictly outscoring every other profile);
    * zh/ja/ko are script text the char-class rules identify. doc_id %
    * 24 ∈ [0, 19) picks the snippet, repeated `1 + doc_id % 3` times;
    * residues 19–23 keep the organic soup ([[SparkEntry]] generates
    * the DuckDB spelling from the same constant). Words are chosen
    * mark/ZWNJ-safe so `Text.tokenize` ≡ `string_split` on the
    * planted text. */
  private[graft] val LangPlants: Seq[(String, String)] = Seq(
    "en" -> ("the cat and the dog of this house are not in that " +
      "tree but it was his to keep"),
    "de" -> ("der hund und die katze ist nicht ein tier mit dem " +
      "mann auf dem weg zu haus"),
    "es" -> ("el perro y la casa de los vecinos es una cosa que " +
      "anda con su madre para el patio del pueblo"),
    "fr" -> ("le chien et la maison des enfants est dans une rue " +
      "qui est sur le pont pour que pas au jour"),
    "ru" -> ("и вот он сказал что это не так как мы думали но по " +
      "правде из всех у нас за окном от них же"),
    "uk" -> ("і ось він сказав що це не так як ми думали але з " +
      "усіх у нас за вікном від них по правді"),
    "ar" -> ("هذا هو البيت الذي كان فيه كل من في المدينة مع أن ما " +
      "بعد اليوم إلى الغد عن التي لم تكن على الأرض"),
    "fa" -> ("در این خانه که با آن مرد از شهر به اینجا آمد است " +
      "برای خود تا می بر هم نیز باشد را"),
    "he" -> ("זה הוא הבית של האיש עם כל מה שיש בו גם אני לא יודע " +
      "אם או אבל על זה היא"),
    "hi" -> ("यह घर है और उस का एक आदमी जो पर से को में था कि ने " +
      "की के हैं"),
    "el" -> ("και το σπίτι η γυναίκα ο άντρας να πει του παιδιού " +
      "με τα άλλα που ξέρει από εδώ για την πόλη στο δρόμο δεν " +
      "είναι τη νύχτα"),
    "tr" -> ("ve bir ev bu adam için ile ne ben çok ama gibi daha " +
      "var yok sen biz ki burada"),
    "pt" -> ("não com uma casa os homens em cidade mais como mas " +
      "foi são ele ela seu também já isso"),
    "it" -> ("il cane lo zio gli amici le case di che è per non " +
      "una sono ma si come più anche qui"),
    "nl" -> ("de man het huis een vrouw van dat niet op te zijn " +
      "met voor maar ook naar bij hier"),
    "pl" -> ("nie się jest jak ale tak przez być przy już bardzo " +
      "może tylko czy gdy oraz dom tutaj"),
    "zh" -> "统计分析引擎正在处理中文文本数据并生成结果报告",
    "ja" -> "にほんごのぶんしょうはかなもじでかかれています",
    "ko" -> "한국어 문장은 한글로 작성되어 있습니다")

  /** The Spark spelling of [[LangPlants]]' planting CASE (the oracle
    * twin is generated from the same constant): override when
    * `id % 24 < 19`, else `keep`. */
  private def plantMultilingual(id: Column, keep: Column): Column = {
    val reps = (id % 3 + 1).cast("int")
    def rep(s: String) = concat_ws(" ", array_repeat(lit(s), reps))
    LangPlants.zipWithIndex.tail.foldLeft(
      when(id % 24 === 0, rep(LangPlants.head._2))) {
      case (acc, ((_, s), i)) => acc.when(id % 24 === i, rep(s))
    }.otherwise(keep)
  }

  /** Unicode-script profiling as a declared query
    * ([[graft.text.Scripts]]): per-script character counts, the
    * dominant script, its share, and the mixed-script flag over the
    * planted multilingual corpus. Map-only — `regexp_count` per
    * range, riding the scan. */
  def scriptDetect(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val overridden = when(id % 13 === 0,
      concat_ws(" ", array_repeat(lit(ScriptOverride),
        (id % 3 + 1).cast("int"))))
      .otherwise(col("text"))
    // LINEAR concat of per-plant suffixes — the old foldLeft nested
    // the accumulated expression in BOTH branches of every when,
    // doubling the tree per plant (2^8 copies of the base text at 8
    // plants: codegen blows the size limits and even the interpreted
    // CASE walk is exponential). Same values, same order, and the
    // same spelling as the generated twin's `|| CASE ... END` chain.
    val planted = concat(overridden +: ScriptPlants.map {
      case (m, snippet) =>
        when(id % m === 0, lit(" " + snippet)).otherwise(lit(""))
    }: _*)
    // the kernel is STAGED as its own projection so every profile
    // field is a cheap attribute extract (Scripts.scriptProfile doc —
    // the struct-of-kernel-references form re-ran the walk per field
    // when codegen fell back on the planted CASE tree)
    val k = col("__k")
    docs(spark, dir)
      .select(id, planted.as("text"))
      .select(id, graft.functions.ScriptHits.scriptHits(col("text"))
        .as("__k"))
      .select(id,
        graft.text.Scripts.profileFromKernel(k, ScriptSet).as("p"),
        graft.text.Scripts.mixedFromKernel(k, scripts = ScriptSet)
          .cast("long").as("mixed"))
      .select((Seq(id) ++
        ScriptSet.map(s => col(s"p.n_$s").as(s"n_$s")) ++
        Seq(col("p.n_scripted").as("n_scripted"),
          col("p.dominant").as("dominant"),
          round(col("p.dom_frac") + lit(1e-9), 6).as("dom_frac"),
          col("mixed"))): _*)
      .orderBy(id)
  }

  private[graft] val ScriptAuditBlock =
    "русский блок достаточно длинный чтобы доминировать"

  /** Language↔script agreement audit as a declared query. Two plant
    * families over the soup corpus: `%24 < 19` docs are OVERRIDDEN
    * with a [[LangPlants]] snippet (agreement cases across all nine
    * scripts — ru↔cyrillic, ar/fa↔arabic, he↔hebrew, hi↔devanagari,
    * el↔greek, ko↔hangul, ja↔kana, zh↔cjk, Latin languages↔latin);
    * among the remaining soup docs, `%4 == 1` keeps its English
    * stopwords (detected language UNCHANGED — hits survive appended
    * text) but gains a Cyrillic block repeated until it dominates the
    * character mass — the "lang=en but the page is Cyrillic"
    * mislabel/mojibake/spam case
    * ([[graft.text.Scripts.langScriptAgree]]). Map-only. */
  def langScriptAudit(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val reps = ceil(col("n_chars").cast("double") / lit(40.0))
      .cast("int") + 1
    val cyrAppended = when(id % 4 === 1,
      concat(col("text"), lit(" "),
        concat_ws(" ", array_repeat(lit(ScriptAuditBlock), reps))))
      .otherwise(col("text"))
    val planted = docs(spark, dir)
      .join(Tables.documents(spark, dir).select(id, col("n_chars")),
        "doc_id")
      .select(id, plantMultilingual(id, cyrAppended).as("text"))
    // kernel staged (scriptDetect rationale); langID is the one-call
    // native kernel
    planted
      .select(id, col("text"),
        graft.functions.ScriptHits.scriptHits(col("text")).as("__k"))
      .select(id,
        Text.langIdFromTokens(Text.tokenize(col("text")), col("text"))
          .as("detected"),
        graft.text.Scripts.profileFromKernel(col("__k"), ScriptSet)
          .getField("dominant").as("dominant"))
      .withColumn("agree", graft.text.Scripts
        .langScriptAgree(col("detected"), col("dominant"))
        .cast("long"))
      .orderBy(id)
  }

  /** Source-pair corpus-overlap matrix as a declared query: bottom-64
    * KMV sketches over distinct 3-shingle md5s per source (the
    * mergeable typed Aggregator — state ≤ 64 strings, map-side
    * combined), then pairwise Jaccard/containment estimates from the
    * sketches alone ([[graft.dedup.OverlapSketch]]). The estimator is
    * seed-free and deterministic, so the DuckDB twin replays it
    * exactly (row_number bottom-k + list ops) and the hash gate
    * covers the production Aggregator end to end. The testdata
    * sources overlap ORGANICALLY (shared soup vocabulary) — no
    * planting needed for a non-vacuous matrix. */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(col("source"), col("text"))
    graft.dedup.OverlapSketch.sourceOverlap(d, k = 64)
      .select(col("key_a").as("src_a"), col("key_b").as("src_b"),
        col("n_union"), col("n_common"), col("n_a"), col("n_b"),
        round(col("j_est") + lit(1e-9), 6).as("j_est"),
        round(col("c_ab") + lit(1e-9), 6).as("c_ab"),
        round(col("c_ba") + lit(1e-9), 6).as("c_ba"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** SQL fragment building the same lined corpus as [[linedDocs]] —
    * interpolated into the oracle twins (single source of the planting
    * spelling). Produces CTE `lined(doc_id, lines)`. */
  private[graft] def linedSql(intraDupEvery: Int = 0,
                              boilerplate: String = ""): String = {
    val dup =
      if (intraDupEvery > 0)
        s"CASE WHEN doc_id % $intraDupEvery = 0 THEN " +
          "list_concat(lines0, [lines0[1], lines0[1]]) ELSE lines0 END"
      else "lines0"
    val boiler =
      if (boilerplate.nonEmpty)
        s"CASE WHEN doc_id % 2 = 0 THEN list_append(dup1, '$boilerplate') " +
          "ELSE dup1 END"
      else "dup1"
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        lx AS (SELECT doc_id,
                 list_transform(
                   generate_series(1,
                     greatest(CAST(ceil(len(ws) / 6.0) AS INT), 1)),
                   i -> array_to_string(
                          list_slice(ws, (i-1)*6 + 1, (i-1)*6 + 6), ' '))
                   AS lines0
               FROM t),
        ld AS (SELECT doc_id, $dup AS dup1 FROM lx),
        lined AS (SELECT doc_id, $boiler AS lines FROM ld)"""
  }

  /** Gopher-style repetition signals as a declared query: the corpus
    * reflowed into lines with every 3rd doc repeating its first line
    * twice ([[linedDocs]]); per-doc duplicate-line fractions and
    * top-{2,3,4}-gram character coverage ([[Text.repetitionSignals]]).
    * Map-only — the whole query is one pass over the scan. */
  def repetitionSignals(spark: SparkSession, dir: String): DataFrame =
    // two-step projection: the kernel struct is non-cheap and
    // referenced six times below, so CollapseProject keeps the
    // boundary and it evaluates once per row
    linedDocs(spark, dir, intraDupEvery = 3)
      .select(col("doc_id"),
              Text.repetitionSignals(col("text")).as("r"))
      .select(
        col("doc_id"),
        col("r.n_lines").as("n_lines"),
        round(col("r.dup_line_frac") + lit(1e-9), 6).as("dup_line_frac"),
        round(col("r.dup_line_char_frac") + lit(1e-9), 6)
          .as("dup_line_char_frac"),
        round(col("r.top_2gram_cov") + lit(1e-9), 6).as("top_2gram_cov"),
        round(col("r.top_3gram_cov") + lit(1e-9), 6).as("top_3gram_cov"),
        round(col("r.top_4gram_cov") + lit(1e-9), 6).as("top_4gram_cov"))
      .orderBy(col("doc_id"))

  /** Corpus-level line dedup as a declared query: the lined corpus with
    * a shared boilerplate footer planted on every even doc; lines
    * occurring ≥ 3 times corpus-wide are removed and each doc's text is
    * rebuilt in order ([[Dedup.dedupLines]]). The hash gate covers the
    * full reconstructed text byte-for-byte. */
  def lineDedup(spark: SparkSession, dir: String): DataFrame = {
    // lazy localCheckpoint: dedupLines makes two passes (removal count,
    // rebuild) and the reflow transform is the expensive part of this
    // query's input — one materialized copy instead of two evaluations
    // (LineProbe r8: 0.64 s → 0.34 s for the dedup on top)
    val lined = linedDocs(spark, dir,
      boilerplate = Some(LineDedupBoilerplate))
      .localCheckpoint(false)
    Dedup.dedupLines(lined, minCount = 3L)
      .orderBy(col("doc_id"))
  }

  private[graft] val LineDedupBoilerplate =
    "subscribe to the graft newsletter"

  /** The END-TO-END curation pipeline as a declared query: langID
    * allow-list → quality + URL filters → exact dedup → near-dup dedup
    * (no mixture — every remaining stage is deterministic). The oracle
    * SQL composes the already-verified per-stage twins (q_lang_id,
    * q_text_quality, q_dedup_exact, q_dedup_near), so the HASH gate
    * covers the whole funnel, not just its parts. */
  def curationRun(spark: SparkSession, dir: String): DataFrame =
    graft.pipelines.Curation.curate(docs(spark, dir))
      .select(col("doc_id"), col("detected"), col("quality"))
      .orderBy(col("doc_id"))

  /** The GATED curation pipeline as a declared query (VERDICT r7 #8):
    * every 7th doc is planted as a LOOPING document (its whole text
    * duplicated as a second line), and [[graft.pipelines.Curation]]
    * runs with the round-7 repetition gate ON (`maxDupLineFrac = 0.4`;
    * planted docs score exactly 0.5, clean docs 0.0) — so the hash
    * gate covers the composed curate path WITH the gate planned, not
    * just the gate kernel in isolation. The oracle replays the same
    * planting and the same dup-line-fraction filter; its token CTE
    * folds the planted newline into a separator exactly as
    * [[graft.text.Text.tokenize]] does. */
  def curationGated(spark: SparkSession, dir: String): DataFrame = {
    val planted = docs(spark, dir).withColumn("text",
      when(col("doc_id") % 7 === 0,
           concat(col("text"), lit("\n"), col("text")))
        .otherwise(col("text")))
    graft.pipelines.Curation
      .curate(planted, graft.pipelines.Curation.Config(maxDupLineFrac = 0.4))
      .select(col("doc_id"), col("detected"), col("quality"))
      .orderBy(col("doc_id"))
  }

  /** The curation FUNNEL REPORT as a declared query: one row with the
    * per-stage survivor counts, computed by the single-aggregate fold
    * ([[graft.pipelines.Curation.funnelFrame]]) and hash-gated against
    * the same composed DuckDB CTEs as `q_curation` with count
    * subqueries on top. */
  def curationFunnel(spark: SparkSession, dir: String): DataFrame =
    graft.pipelines.Curation.funnelFrame(docs(spark, dir))

  /** REAL learned-embedding inference as a declared query, hash-gated
    * end to end THROUGH THE PRODUCTION KERNEL: the weight checkpoint is
    * the portable synthetic model ([[graft.text.EmbedModel
    * .syntheticWeightRows]], 64×8 integer weights), inference runs the
    * broadcast-matrix embedding-bag map ([[graft.text.EmbedModel
    * .embedBag]] — the zero-shuffle 100-TB spelling, NOT the relational
    * oracle twin), and the output is posexploded to `(doc_id, dim,
    * val)` long form. Integer weights keep the float accumulation
    * exact (|partial sums| ≤ tokens·1000 ≪ 2²⁴ — testdata max is 100
    * tokens/doc), which is what lets a DuckDB relational twin gate a
    * kernel that never materializes a join. Docs are filtered to ≥1
    * token so both spellings share inner semantics (the bag embeds the
    * empty doc to 0⃗; the join drops it). */
  def embedInfer(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.EmbedModel
    val V = 64; val D = 8
    val m = EmbedModel.collectMatrix(
      EmbedModel.syntheticWeightRows(spark, V, D), V, D)
    val docsWithTokens = Tables.documents(spark, dir)
      .filter(size(filter(split(col("text"), " "),
                          t => t =!= "")) > 0)
    EmbedModel.embedBag(docsWithTokens, m, V, D)
      .select(col("doc_id"),
              posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("doc_id"), col("dim").cast("long").as("dim"),
              col("v").cast("long").as("val"))
      .orderBy(col("doc_id"), col("dim"))
  }

  /** Z-order clustered layout as a declared query ([[graft.sources
    * .Clustering.writeClustered]]): rewrite `events` clustered by
    * `(user_id, event_id)`, then answer a BOTH-dimension range slice
    * from the clustered copy. The hash gate proves the layout op is
    * value-preserving — same rows, same aggregates — while
    * ClusteringSpec proves the file-envelope pruning that is the
    * layout's reason to exist (each written file covers a small
    * (user_id, event_id) rectangle, so min/max stats prune either
    * dimension; a sorted layout prunes only its sort column). */
  private val clusteredEventsCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  def clusterScan(spark: SparkSession, dir: String): DataFrame = {
    // cluster ONCE per input dir, query many times — the layout's
    // real usage shape (and what the bench should time: the read)
    val path = clusteredEventsCache.computeIfAbsent(dir, { d =>
      val p = java.nio.file.Files
        .createTempDirectory("graft-cluster").toString + "/events_z"
      graft.sources.Clustering.writeClustered(
        Tables.events(spark, d), p, "user_id", "event_id", 16)
      p
    })
    spark.read.parquet(path)
      .filter(col("user_id").between(3, 8) &&
              col("event_id").between(200, 699))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("event_id")).as("sum_event_id"),
           sum(col("user_id")).as("sum_user_id"))
      .orderBy(col("event_type"))
  }

  /** Corpus facets: docs + chars per (lang, source) — the partition-key
    * profile a 100-TB layout decision starts from. */
  def langFacets(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .orderBy(col("lang"), col("source"))
  }

  /** `uint32(md5(s)[0,8 hex))` as a Column — the portable hash every
    * planted fixture keys on ([[graft.pipelines.Sharding.shardId]]
    * arithmetic). */
  private def u32(s: Column): Column =
    conv(substring(md5(s.cast("binary")), 1, 8), 16, 10).cast("long")

  /** Planted deterministic link graph over doc_ids: doc `i` links to
    * `k_i = 1 + (u32(md5("prk:"+i)) mod 3)` targets
    * `u32(md5("pr:"+i+":"+j)) mod N`, self-links dropped, parallel
    * edges deduped — a web-shaped directed graph both engines
    * regenerate bit-for-bit from the id column alone. */
  private def plantedEdges(d: DataFrame, n: Long): DataFrame = {
    val spark = d.sparkSession
    d.select(col("doc_id").as("src"))
      .crossJoin(spark.range(3).toDF("j"))
      .filter(col("j") <
        lit(1L) + pmod(u32(concat_ws(":", lit("prk"), col("src"))), lit(3L)))
      .select(col("src"),
        pmod(u32(concat_ws(":", lit("pr"), col("src"), col("j"))),
             lit(n)).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** PageRank over the planted link graph ([[graft.graph.PageRank
    * .pageRankScaled]], 5 iterations, integer fixed-point): the
    * directed-authority signal a crawl-curation pipeline ranks
    * domains with. The oracle unrolls the identical integer
    * recurrence, so any drift in damping, dangling handling, degree
    * computation, or floor-division order hash-mismatches. */
  def pageRankDocs(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val n = Tables.rowCountOf(spark, dir, "documents") // footer rows
    graft.graph.PageRank.pageRankScaled(
        plantedEdges(d, n), d.select(col("doc_id").as("id")))
      .select(col("id").as("doc_id"), col("rank"))
      .orderBy(col("doc_id"))
  }

  /** Fixture for [[pageIdentity]]: 60 WARC responses in blocks of 4
    * — a root page, a page whose `<link rel=canonical>` points at
    * the root, a 301 whose `Location` points at the root, and a page
    * whose BODY BYTES equal the root's — so each block collapses to
    * one identity through three DIFFERENT signals at once. URLs are
    * zero-padded so the min-string identity equals the min-numeric
    * one on both engines. */
  private lazy val identityFixtureCached: String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-identity")
    def u(id: Int) = f"p$id%02d"
    val recs = (0 until 60).map { id =>
      val http = (id % 4) match {
        case 1 =>
          "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
            s"""<html><head><link rel="canonical" href="/${u(id - 1)}">""" +
            s"</head><body>variant $id</body></html>"
        case 2 =>
          s"HTTP/1.1 301 Moved Permanently\r\nLocation: /${u(id - 2)}\r\n" +
            "Content-Type: text/html\r\n\r\n"
        case 3 =>
          "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
            s"<html><body>root ${id - 3}</body></html>"
        case _ =>
          "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
            s"<html><body>root $id</body></html>"
      }
      ("response", s"http://pi.example/${u(id)}",
       "2024-01-01T00:00:00Z", s"<urn:uuid:pi$id>", http)
    }
    java.nio.file.Files.write(tmp.resolve("identity.warc"),
      graft.sources.Warc.writeWarc(recs))
    tmp.toString
  }

  /** Page-identity resolution ([[graft.pipelines.WebCuration
    * .resolvePageIdentity]]): canonical link + redirect Location +
    * body digest UNIONED into one identity graph, connected
    * components assigning every URL its cluster's min URL — the
    * collapse no single signal sees. */
  def pageIdentity(spark: SparkSession, dir: String): DataFrame =
    graft.pipelines.WebCuration.resolvePageIdentity(
        graft.sources.Warc.readWarc(spark, identityFixtureCached))
      .orderBy(col("url"))

  /** Compression-ratio quality signal ([[graft.functions
    * .DeflateRatio]]) per document: integer fixed-point
    * `len(deflate(text)) · 2²⁰ div len(text)` — templated spam
    * compresses far below natural prose, binary junk barely at all,
    * so both ratio tails flag junk. No SQL twin (DuckDB exposes no
    * deflate-length function) → rows-only for the driver, pinned by
    * the committed sf0.01 golden + DeflateRatioSpec. */
  def deflateRatioDocs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
              graft.functions.DeflateRatio.deflateRatio(col("text"))
                .as("ratio_x2p20"))
      .orderBy(col("doc_id"))

  /** HITS hubs & authorities over the same planted link graph
    * ([[graft.graph.Hits.hitsScaled]], 3 iterations, integer
    * fixed-point with MAX normalization): the complementary
    * link-ranking pass — authority feeds quality priors, hub
    * strength flags the directory pages whose outlinks are
    * high-yield frontier candidates. The oracle unrolls the
    * identical recurrence (same floor divisions, same max
    * normalizer, same node universe), so drift in either gather
    * direction or the normalization hash-mismatches. */
  def hitsDocs(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val n = Tables.rowCountOf(spark, dir, "documents") // footer rows
    graft.graph.Hits.hitsScaled(
        plantedEdges(d, n), d.select(col("doc_id").as("id")))
      .select(col("id").as("doc_id"), col("hub"), col("auth"))
      .orderBy(col("doc_id"))
  }

  /** Compaction as a declared query ([[graft.sources.Layout
    * .compact]]): land `events` partitioned by `event_type` in two
    * append batches (the many-small-files state a micro-batch sink
    * accumulates), COMPACT the directory (restart-safe swap, leaf
    * layout preserved), then answer a type-sliced aggregate from the
    * compacted copy. The hash gate proves the maintenance op is
    * value-preserving — same rows, same aggregates, partition
    * pruning intact — while LayoutCompactSpec proves the file-count
    * bound and crash-resume machinery. */
  private val compactedEventsCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  def compactScan(spark: SparkSession, dir: String): DataFrame = {
    val path = compactedEventsCache.computeIfAbsent(dir, { d =>
      val p = java.nio.file.Files
        .createTempDirectory("graft-compact").toString + "/events_t"
      val ev = Tables.events(spark, d)
      // two "micro-batches", each spread over several tasks per key —
      // the small-file accumulation compaction exists to fold
      Seq(0, 1).foreach { half =>
        ev.filter(pmod(col("event_id"), lit(2)) === half)
          .repartition(8)
          .write.mode("append").partitionBy("event_type").parquet(p)
      }
      graft.sources.Layout.compact(spark, p)
      p
    })
    spark.read.parquet(path)
      .filter(col("event_type").isin("click", "view", "purchase"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("event_id")).as("sum_event_id"),
           sum(col("user_id")).as("sum_user_id"))
      .orderBy(col("event_type"))
  }

  /** Bucketed co-located join as a declared query ([[graft.sources
    * .Bucketing]]): land orders AND lineitem bucketed by order key
    * (one write-time shuffle each), then join + roll up from the
    * bucketed tables. The hash gate proves the bucketed landing is
    * value-preserving; BucketingSpec proves the exchange-FREE join
    * plan that is bucketing's reason to exist. */
  private val bucketedCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  /** Table names carry a per-JVM nonce: the derby metastore +
    * spark-warehouse live in the WORKING DIRECTORY and outlive the
    * JVM, so a dir-derived name could resolve to a previous run's
    * catalog entry (pointing at that run's /tmp files) — the one
    * cross-session channel that could corrupt this query's values
    * without changing its row count (round-10 driver flake
    * `q_bucketed_join`, rows_match=true hash_match=false). A nonce'd
    * name can only ever resolve to THIS JVM's write. */
  private val bucketedNonce =
    java.util.UUID.randomUUID().toString.replace("-", "").take(12)

  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val (to, tl) = bucketedCache.computeIfAbsent(dir, { d =>
      // drop stale graft_*_b* entries left by earlier JVMs sharing
      // this metastore — their /tmp data dirs may be gone or stale
      spark.catalog.listTables().collect()
        .map(_.name)
        .filter(n => (n.startsWith("graft_orders_b") ||
                      n.startsWith("graft_lineitem_b")) &&
                     !n.contains(bucketedNonce))
        .foreach(n => spark.sql(s"DROP TABLE IF EXISTS `$n`"))
      val tag = s"${bucketedNonce}_${Integer.toHexString(d.hashCode)}"
      val base = java.nio.file.Files
        .createTempDirectory("graft-bucketed").toString
      val no = s"graft_orders_b$tag"; val nl = s"graft_lineitem_b$tag"
      val srcOrders = Tables.orders(spark, d)
      val srcLineitem = Tables.lineitem(spark, d)
      graft.sources.Bucketing.writeBucketed(
        srcOrders, no, s"$base/orders", "o_orderkey", 8)
      graft.sources.Bucketing.writeBucketed(
        srcLineitem, nl, s"$base/lineitem", "l_orderkey", 8)
      // self-verification: the landed tables must carry exactly the
      // source rows — a stale/partial/foreign read fails LOUDLY here
      // instead of surfacing as a silent value drift downstream
      val (wo, so) = (spark.table(no).count(), srcOrders.count())
      val (wl, sl) = (spark.table(nl).count(), srcLineitem.count())
      require(wo == so && wl == sl,
        s"bucketed landing lost rows: orders $wo/$so lineitem $wl/$sl")
      (no, nl)
    })
    spark.table(to)
      .join(spark.table(tl), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderstatus"), col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
           sum(col("l_linenumber").cast("long")).as("sum_linenumber"),
           graft.functions.Exact.sumCents(col("l_extendedprice"))
             .as("sum_price_cents"))
      .orderBy(col("o_orderstatus"), col("l_returnflag"))
  }

  /** Per-vertex triangle participation over the planted link graph
    * (undirected closure; [[graft.graph.Triangles.vertexTriangles]],
    * the degree-ordered forward algorithm) — the local-density signal
    * that pairs with [[pageRankDocs]]'s global authority. */
  def triangleDocs(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    graft.graph.Triangles.vertexTriangles(
        plantedEdges(d, Tables.rowCountOf(spark, dir, "documents")))
      .select(col("id").as("doc_id"), col("n_triangles"))
      .orderBy(col("doc_id"))
  }

  /** First-order event-type transition matrix over `events`
    * ([[graft.ops.Behavior.transitionCounts]]). */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame =
    Behavior.transitionCounts(Tables.events(spark, dir))
      .orderBy(col("from_type"), col("to_type"))

  /** Exact per-column profile of `documents` ([[graft.ops.Profile
    * .profile]]): one scan, one fused aggregate, long-form
    * integer-exact stats — the ANALYZE pass layout decisions start
    * from. */
  def profileDocs(spark: SparkSession, dir: String): DataFrame =
    Profile.profile(Tables.documents(spark, dir),
        numericCols = Seq("doc_id", "n_chars"),
        stringCols = Seq("lang", "source", "text"))
      .orderBy(col("col_name"), col("metric"))

  /** Day-granular cohort retention over `events` ([[graft.ops
    * .Behavior.cohortRetention]]): each user cohorted at their first
    * active day, distinct-user counts per (cohort, age) cell — the
    * retention triangle. */
  def cohortRetentionDays(spark: SparkSession, dir: String): DataFrame =
    Behavior.cohortRetention(Tables.events(spark, dir))
      .select(col("cohort").as("cohort_day"), col("age").as("age_days"),
              col("n_users"))
      .orderBy(col("cohort_day"), col("age_days"))

  /** view → click → purchase ordered funnel over `events`
    * ([[graft.ops.Behavior.sequenceFunnel]]): users completing each
    * prefix strictly in time order, min-time chaining. */
  def eventFunnel(spark: SparkSession, dir: String): DataFrame =
    Behavior.sequenceFunnel(Tables.events(spark, dir),
        Seq(col("event_type") === "view",
            col("event_type") === "click",
            col("event_type") === "purchase"))
      .orderBy(col("step"))

  /** Snapshot diff ([[graft.ops.Diff.diff]]) of `documents` against a
    * planted next-epoch version: drop ids where `u32(md5("del:"+id))
    * mod 17 = 0`, append " v2" to the text where `u32(md5("mod:"+id))
    * mod 10 = 0`, add 10 fresh docs at ids 1000000+. Every key lands
    * with its status — the epoch-reconciliation report an incremental
    * pipeline gates on. */
  def tableDiff(spark: SparkSession, dir: String): DataFrame = {
    val before = Tables.documents(spark, dir)
    val kept = before.filter(
      pmod(u32(concat_ws(":", lit("del"), col("doc_id"))), lit(17L)) =!= 0L)
    val modded = kept.withColumn("text",
      when(pmod(u32(concat_ws(":", lit("mod"), col("doc_id"))),
                lit(10L)) === 0L,
           concat(col("text"), lit(" v2"))).otherwise(col("text")))
    val added = spark.range(10).select(
      (col("id") + 1000000L).as("doc_id"),
      concat(lit("new doc "), col("id")).as("text"),
      lit("en").as("lang"), lit("s_new").as("source"),
      length(concat(lit("new doc "), col("id"))).cast("long").as("n_chars"))
    val after = modded.unionByName(added)
    Diff.diff(before, after, "doc_id",
              Seq("text", "lang", "source", "n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Fixture for [[charsetDecode]]: 48 WARC response records whose
    * BODY BYTES exercise the whole detection cascade by id % 4 —
    * (0) UTF-8 declared by `<meta charset>`, (1) windows-1252 bytes
    * under an `iso-8859-1` HTTP header while the meta tag LIES
    * utf-8 (transport precedence), (2) UTF-8 BOM while the meta tag
    * lies iso-8859-1 (BOM precedence), (3) unlabeled windows-1252
    * (the strict-UTF-8-validation-fails fallback). Every class
    * carries non-ASCII prose so a wrong decode cannot hash-match.
    * Authored once per JVM (the [[warcFixtureCached]] rationale). */
  private lazy val charsetFixtureCached: String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-charset")
    val Bom = Array(0xef.toByte, 0xbb.toByte, 0xbf.toByte)
    def http(contentType: String, body: Array[Byte]): Array[Byte] =
      (s"HTTP/1.1 200 OK\r\nContent-Type: $contentType\r\n\r\n")
        .getBytes("US-ASCII") ++ body
    val recs = (0 until 48).map { id =>
      val (ct, body) = (id % 4) match {
        case 0 => ("text/html",
          (s"""<html><head><meta charset="utf-8"></head>""" +
           s"<body><p>café $id naïve</p></body></html>")
            .getBytes("UTF-8"))
        case 1 => ("text/html; charset=iso-8859-1",
          (s"""<html><head><meta charset="utf-8"></head><body>""" +
           s"<p>résumé $id “quoted”</p></body></html>")
            .getBytes("windows-1252"))
        case 2 => ("text/html",
          Bom ++
          (s"""<html><head><meta charset="iso-8859-1"></head><body>""" +
           s"<p>über $id straße</p></body></html>")
            .getBytes("UTF-8"))
        case _ => ("text/html",
          (s"<html><body><p>naïve café $id</p></body></html>")
            .getBytes("windows-1252"))
      }
      ("response", s"http://cs.example/p$id", "2024-01-01T00:00:00Z",
       s"<urn:uuid:cs$id>", http(ct, body))
    }
    java.nio.file.Files.write(tmp.resolve("charset.warc"),
      graft.sources.Warc.writeWarcRaw(recs))
    tmp.toString
  }

  /** Charset-aware payload decoding ([[graft.text.CharsetSniff]]):
    * the WARC charset fixture flows through sniff (BOM → HTTP header
    * → meta prescan → UTF-8 validation → windows-1252 fallback) and
    * decode, then HTML extraction. Spark DETECTS from the bytes; the
    * oracle CONSTRUCTS the label and the decoded prose from the id
    * arithmetic the fixture was planted with — a wrong cascade order
    * or a wrong decoder both hash-mismatch. */
  def charsetDecode(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.{CharsetSniff, HtmlText}
    graft.sources.Warc.readWarc(spark, charsetFixtureCached)
      .filter(col("warc_type") === "response")
      .select(col("target_uri"),
              CharsetSniff.sniffCharset(col("body"), col("content_type"))
                .as("charset"),
              HtmlText.htmlText(
                CharsetSniff.decodePayload(col("body"), col("content_type")))
                .as("text"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .orderBy(col("target_uri"))
  }

  /** Mojibake repair ([[graft.text.CharsetSniff.fixMojibake]]): 60
    * planted strings, even ids mangled through the UTF-8→cp1252
    * mis-decode (ids % 10 == 6 TWICE), odd ids clean. The repair
    * must restore every even id exactly AND leave every odd id
    * untouched — the oracle constructs the clean text directly, so
    * over- and under-repair both hash-mismatch. */
  def mojibakeFix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.text.CharsetSniff
    val rows = (0 until 60).map { id =>
      val clean = (id % 3) match {
        case 0 => s"café $id naïve"
        case 1 => s"déjà $id – vu"
        case _ => s"“model $id” résumé"
      }
      val input =
        if (id % 2 == 0)
          CharsetSniff.mangle(clean, rounds = if (id % 10 == 6) 2 else 1)
        else clean
      (id.toLong, input)
    }
    rows.toDF("id", "input")
      .select(col("id"),
              CharsetSniff.fixMojibake(col("input")).as("text_fixed"),
              (CharsetSniff.fixMojibake(col("input")) =!= col("input"))
                .cast("long").as("was_broken"))
      .orderBy(col("id"))
  }

  /** Fixture for [[redirectMap]]: 40 WARC responses by id%5 — 200s,
    * 301s with RELATIVE Location (RFC 9110 allows it; resolution
    * against the request URI is the crawler's job), 302s with
    * absolute Location, 301s with protocol-relative Location, and
    * 200s with no Location. */
  private lazy val redirectFixtureCached: String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-redirect")
    val recs = (0 until 40).map { id =>
      val http = (id % 5) match {
        case 1 => s"HTTP/1.1 301 Moved Permanently\r\n" +
          s"Location: /moved$id\r\nContent-Type: text/html\r\n\r\n"
        case 2 => s"HTTP/1.1 302 Found\r\n" +
          s"Location: http://r.example/t$id\r\n" +
          s"Content-Type: text/html\r\n\r\n"
        case 3 => s"HTTP/1.1 301 Moved Permanently\r\n" +
          s"Location: //cdn${id % 2}.example/c$id\r\n" +
          s"Content-Type: text/html\r\n\r\n"
        case _ => s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
          s"<p>ok $id</p>"
      }
      ("response", s"http://h${id % 3}.example/orig$id",
       "2024-01-01T00:00:00Z", s"<urn:uuid:rd$id>", http)
    }
    java.nio.file.Files.write(tmp.resolve("redirect.warc"),
      graft.sources.Warc.writeWarc(recs))
    tmp.toString
  }

  /** HTTP redirect surface ([[graft.sources.Warc.readWarc]]'s
    * `http_location` + [[graft.text.Links.resolveUrl]]): the 3xx
    * Location header parsed from the HTTP block and RESOLVED against
    * the request URI (relative and protocol-relative Locations are
    * crawl reality). Redirect targets are discovery candidates the
    * frontier consumes — without this surface a crawl loses every
    * moved page. */
  def redirectMap(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.Links
    graft.sources.Warc.readWarc(spark, redirectFixtureCached)
      .filter(col("warc_type") === "response")
      .select(col("target_uri"), col("http_status"),
              col("http_location").as("location"),
              Links.resolveUrl(col("target_uri"), col("http_location"))
                .as("redirect_target"),
              (col("http_status") >= 300 && col("http_status") < 400 &&
               col("http_location").isNotNull).cast("long")
                .as("is_redirect"))
      .orderBy(col("target_uri"))
  }

  /** Canonical-link dedup ([[graft.text.Links.htmlCanonical]]): 48
    * pages where id%3 plants an absolute canonical, a RELATIVE
    * canonical (resolves against the page URL), or none
    * (self-canonical); pages sharing a canonical target collapse to
    * one kept URL — the page's OWN dedup signal, applied before any
    * content hashing. */
  def canonicalDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.text.Links
    val pages = (0 until 48).map { id =>
      val link = (id % 3) match {
        case 0 =>
          s"""<link rel="canonical" href="http://cn.example/canon${id % 5}">"""
        case 1 => s"""<link rel="canonical" href="/canon${id % 5}">"""
        case _ => ""
      }
      (s"http://cn.example/v$id",
       s"<html><head>$link</head><body><p>page $id</p></body></html>")
    }
    pages.toDF("url", "raw_html")
      .withColumn("canonical_target",
        coalesce(
          Links.resolveUrl(col("url"), Links.htmlCanonical(col("raw_html"))),
          col("url")))
      .groupBy(col("canonical_target"))
      .agg(count(lit(1)).as("n_pages"),
           min(col("url")).as("kept_url"))
      .orderBy(col("canonical_target"))
  }

  /** robots.txt `Sitemap:` discovery
    * ([[graft.text.Robots.sitemapDirectives]]): 12 planted robots
    * bodies — no directive, one, or two (mixed directive-name case,
    * one with a trailing comment); the discovered URLs are what the
    * sitemap source then fetches. */
  def robotsSitemaps(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val robots = (0 until 12).map { id =>
      val extra = (id % 3) match {
        case 0 => ""
        case 1 => s"Sitemap: http://rs$id.example/sitemap.xml\n"
        case _ => s"sitemap: http://rs$id.example/a.xml\n" +
                  s"SITEMAP: http://rs$id.example/b.xml # crawl me\n"
      }
      (s"rs$id.example",
       s"User-agent: *\nDisallow:\n$extra")
    }
    robots.toDF("host", "robots_txt")
      .select(col("host"),
              explode(graft.text.Robots.sitemapDirectives(col("robots_txt")))
                .as("sitemap_url"))
      .orderBy(col("host"), col("sitemap_url"))
  }

  /** Redirect-chain resolution
    * ([[graft.pipelines.Redirects.resolveChains]]) over planted
    * edges: 12 straight chains of length g%4+1 (every link of every
    * chain is itself a source and must resolve to the SAME landing
    * URL with its own exact hop count), plus the four cyclic shapes
    * crawls hit — self-loop, 2-cycle, 3-cycle, and a tail ENTERING
    * the 3-cycle — all of which must flag unresolved with null
    * landing/hops. The pointer-doubling path is the one under test
    * (4 sweeps at maxHops 16); the oracle walks the same edges with
    * a hop-bounded recursive CTE — two independent derivations. */
  def redirectChains(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val chains = for {
      g <- 0 until 12
      k <- 0 to g % 4
    } yield (s"http://ch.example/g$g/h$k",
             s"http://ch.example/g$g/h${k + 1}")
    val cycles = Seq(
      "http://cy.example/self" -> "http://cy.example/self",
      "http://cy.example/a0" -> "http://cy.example/a1",
      "http://cy.example/a1" -> "http://cy.example/a0",
      "http://cy.example/b0" -> "http://cy.example/b1",
      "http://cy.example/b1" -> "http://cy.example/b2",
      "http://cy.example/b2" -> "http://cy.example/b0",
      "http://cy.example/tail" -> "http://cy.example/b0")
    graft.pipelines.Redirects.resolveChains(
      (chains ++ cycles).toDF("src_url", "dst_url"), maxHops = 16)
      .orderBy(col("url"))
  }

  /** Feed AUTODISCOVERY ([[graft.text.Links.htmlFeedLinks]]): 48
    * pages planting the advertisement anatomy by id%4 — a relative
    * RSS link (resolves against the page URL), an absolute Atom
    * link beside a stylesheet decoy, BOTH with case-varied rel/type,
    * and a page with only non-feed alternates (hreflang variant —
    * no `type`, so not a feed) — the convention that finds the feed
    * inputs nobody pre-registered. */
  def feedDiscovery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.text.Links
    val pages = (0 until 48).map { id =>
      val head = (id % 4) match {
        case 0 =>
          s"""<link rel="alternate" type="application/rss+xml" href="/feed$id.xml">"""
        case 1 =>
          s"""<link rel="stylesheet" href="/s.css">""" +
          s"""<link rel="alternate" type="application/atom+xml" href="http://fx${id % 3}.example/atom$id.xml">"""
        case 2 =>
          s"""<link rel="ALTERNATE" type="Application/RSS+xml" href="/a$id.rss">""" +
          s"""<link rel="alternate" type="application/atom+xml" href="/b$id.atom">"""
        case _ =>
          s"""<link rel="alternate" hreflang="de" href="/de/p$id">""" +
          s"""<link rel="canonical" href="/p$id">"""
      }
      (s"http://fs.example/p$id",
       s"<html><head>$head</head><body>page $id</body></html>")
    }
    pages.toDF("page_url", "raw_html")
      .select(col("page_url"),
              explode(Links.htmlFeedLinks(col("raw_html"))).as("href"))
      .select(col("page_url"),
              Links.resolveUrl(col("page_url"), col("href"))
                .as("feed_url"))
      .orderBy(col("page_url"), col("feed_url"))
  }

  /** Feed-ingest composition ([[graft.streaming.FeedIngest.ingest]]
    * in its batch spelling over the [[feedParse]] fixture): parse →
    * canonicalize → compiled-robots stamp, the discovery pipeline's
    * streaming stage run as a batch twin — gzipped-RSS links fall
    * under the planted Disallow, empty-link/junk rows quarantine,
    * the rest become frontier candidates. FeedIngestSpec proves the
    * STREAM spelling lands the same rows; this oracle gates the
    * values. */
  def feedIngest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rules = graft.text.Robots.compileRules(
      Seq(("fd.example", "User-agent: *\nDisallow: /z\n"))
        .toDF("host", "robots_txt"),
      "graftbot/1.0")
    val feeds = spark.read.format("binaryFile").load(feedFixtureCached)
      .select(lit(0L).as("feed_id"), col("content"))
    graft.streaming.FeedIngest.ingest(feeds, rules)
      .select(col("format"), col("link"), col("candidate_url"),
              col("host"), col("disposition"))
      .orderBy(col("disposition"), col("link"))
  }

  /** Fixture for [[xrobotsPolicy]]: 40 WARC responses planting the
    * X-Robots-Tag anatomy by id%5 — absent; `noindex` (or bare
    * `none`, which implies noindex+nofollow, on id%10==1);
    * `noarchive, nofollow` (nofollow signals, page still indexable);
    * `unavailable_after: <date>` (a directive-with-value DECOY whose
    * colon-bearing token must not read as a bare directive); and a
    * header-clean body carrying `<meta name=robots noindex>` (the
    * meta channel the header complements). */
  private lazy val xrobotsFixtureCached: String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-xrobots")
    val recs = (0 until 40).map { id =>
      val xr = (id % 5) match {
        case 1 => if (id % 10 == 1) "X-Robots-Tag: none\r\n"
                  else "X-Robots-Tag: noindex\r\n"
        case 2 => "X-Robots-Tag: noarchive, nofollow\r\n"
        case 3 => "X-Robots-Tag: unavailable_after: 01 Jan 2030 00:00:00 GMT\r\n"
        case _ => ""
      }
      val meta = if (id % 5 == 4)
        """<meta name="robots" content="noindex">""" else ""
      val http = s"HTTP/1.1 200 OK\r\n${xr}Content-Type: text/html\r\n\r\n" +
        s"<html><head>$meta</head><body><p>doc $id</p></body></html>"
      ("response", s"http://xr.example/p$id",
       "2024-01-01T00:00:00Z", s"<urn:uuid:xr$id>", http)
    }
    java.nio.file.Files.write(tmp.resolve("xrobots.warc"),
      graft.sources.Warc.writeWarc(recs))
    tmp.toString
  }

  /** X-Robots-Tag policy composition ([[graft.text.Robots
    * .xRobotsTokens]] over [[graft.sources.Warc.readWarc]]'s
    * `http_headers` map): the HEADER robots channel — the only one
    * that reaches non-HTML responses — composed with the meta tag;
    * `none` implies noindex+nofollow, directive-with-value decoys
    * don't fire, kept = no noindex on either channel. */
  def xrobotsPolicy(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.{HtmlText, Robots}
    val noindexTokens = array(lit("noindex"), lit("none"))
    val nofollowTokens = array(lit("nofollow"), lit("none"))
    graft.sources.Warc.readWarc(spark, xrobotsFixtureCached)
      .filter(col("warc_type") === "response")
      .select(
        regexp_extract(col("target_uri"), "p(\\d+)$", 1).cast("long")
          .as("doc_id"),
        col("http_headers").getItem("x-robots-tag").as("x_robots"),
        Robots.xRobotsTokens(
          col("http_headers").getItem("x-robots-tag")).as("tokens"),
        HtmlText.htmlMetaRobots(col("body").cast("string")).as("meta"))
      .select(col("doc_id"), col("x_robots"),
        arrays_overlap(col("tokens"), noindexTokens).cast("long")
          .as("h_noindex"),
        arrays_overlap(col("tokens"), nofollowTokens).cast("long")
          .as("h_nofollow"),
        coalesce(lower(col("meta")).contains("noindex"), lit(false))
          .cast("long").as("meta_noindex"))
      .withColumn("kept",
        (col("h_noindex") === 0 && col("meta_noindex") === 0)
          .cast("long"))
      .orderBy(col("doc_id"))
  }

  /** Fixture for [[revisitPolicy]]: 40 WARC responses planting the
    * HTTP validator anatomy by id%4 — ETag+Last-Modified, ETag only,
    * Last-Modified only, neither. */
  private lazy val revisitFixtureCached: String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-revisit")
    val recs = (0 until 40).map { id =>
      val etag = if (id % 4 <= 1) s"ETag: \"e$id\"\r\n" else ""
      val lm = if (id % 4 == 0 || id % 4 == 2)
        f"Last-Modified: Mon, 01 Jan 2024 00:00:$id%02d GMT\r\n" else ""
      val http = s"HTTP/1.1 200 OK\r\n$etag${lm}Content-Type: " +
        s"text/html\r\n\r\n<p>doc $id</p>"
      ("response", s"http://rv.example/p$id",
       "2024-01-01T00:00:00Z", s"<urn:uuid:rv$id>", http)
    }
    java.nio.file.Files.write(tmp.resolve("revisit.warc"),
      graft.sources.Warc.writeWarc(recs))
    tmp.toString
  }

  /** Conditional-revisit plan ([[graft.pipelines.Frontier
    * .revisitPlan]]): the prior crawl's ETag/Last-Modified validators
    * carry forward onto a 50-URL candidate list (40 crawled by id%4
    * validator class + 10 never-crawled) — conditional GET where any
    * validator exists, full fetch where none. */
  def revisitPolicy(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val prior = graft.sources.Warc.readWarc(spark, revisitFixtureCached)
      .filter(col("warc_type") === "response")
      .select(col("target_uri").as("url"), col("http_headers"))
    val candidates = (0 until 50).map(id => s"http://rv.example/p$id")
      .toDF("url")
    graft.pipelines.Frontier.revisitPlan(candidates, prior)
      .orderBy(col("url"))
  }

  /** Fixture for [[feedParse]]: an RSS 2.0 channel of 20 items (two
    * with EMPTY links — the protocol-malformed rows that must
    * quarantine; entity-encoded `&` in every link; pubDate on evens,
    * guid on %3s), an Atom feed of 15 entries (each led by a
    * rel=self decoy link the parser must skip), a GZIPPED RSS of 10
    * items, and a junk file. */
  private lazy val feedFixtureCached: String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-feed")
    val rss1 = (0 until 20).map { id =>
      (if (id % 10 == 7) "" else s"http://fd.example/r$id?a=1&b=$id",
       s"Item $id",
       if (id % 2 == 0) f"2024-01-01T00:00:$id%02dZ" else null,
       if (id % 3 == 0) s"guid-$id" else null)
    }
    val atom = (0 until 15).map { id =>
      (s"http://fd.example/a$id", s"Entry $id",
       f"2024-02-01T12:00:$id%02dZ", s"urn:e$id")
    }
    val rss2 = (0 until 10).map { id =>
      (s"http://fd.example/z$id", s"Zip $id", null, null)
    }
    java.nio.file.Files.write(tmp.resolve("main.rss.xml"),
      graft.sources.Feed.writeRss(rss1))
    java.nio.file.Files.write(tmp.resolve("blog.atom.xml"),
      graft.sources.Feed.writeAtom(atom))
    val gz = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(gz)
    g.write(graft.sources.Feed.writeRss(rss2)); g.close()
    java.nio.file.Files.write(tmp.resolve("zipped.rss.xml.gz"),
      gz.toByteArray)
    java.nio.file.Files.write(tmp.resolve("junk.bin"),
      "this is not a feed".getBytes("UTF-8"))
    tmp.toString
  }

  /** Web-feed discovery ([[graft.sources.Feed.readFeeds]]): RSS 2.0
    * + Atom (RFC 4287) parsing — the freshness discovery channel
    * beside links and sitemaps. Invalid rows (empty RSS links, the
    * junk file) are all-null except `format`, so their tie order
    * under the sort can't wobble the positional compare. */
  def feedParse(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Feed.readFeeds(spark, feedFixtureCached)
      .select(col("format"), col("link"), col("title"),
              col("published"), col("entry_id"))
      .orderBy(col("format"), col("link"))

  /** Fixture for the CDX queries: one PLAIN-layout WARC shard of 24
    * response records whose body text (and therefore record length,
    * offset, and sha256 digest) is id arithmetic — bodies repeat by
    * id%8, planting 8 digest classes of 3 records each for the dedup
    * query. Plain layout because record byte offsets are then
    * CLOSED-FORM (the twin reconstructs every record string and
    * window-sums the lengths); compressed member extents are not
    * SQL-replayable and carry spec coverage instead (WarcCdxSpec
    * slice round-trip). */
  private lazy val cdxFixtureCached: String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-cdx")
    val recs = (0 until 24).map { id =>
      val body = ("data" + (id % 8) + " ") * (1 + (id % 8) % 3)
      ("response", s"http://cdx.example/p$id", "2024-01-01T00:00:00Z",
       s"<urn:uuid:cdx$id>",
       s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n$body")
    }
    java.nio.file.Files.write(tmp.resolve("cdx.warc"),
      graft.sources.Warc.writeWarc(recs))
    tmp.toString
  }

  /** WARC CDX indexing ([[graft.sources.Warc.readCdx]]): record
    * byte extents + content digests — the random-access/dedup index
    * Common Crawl publishes beside its crawls. Spark WALKS the
    * container measuring real offsets; the oracle RECONSTRUCTS every
    * record's serialized form from the id arithmetic, window-sums
    * the lengths into offsets, and recomputes the sha256 digests —
    * a wrong walk, a wrong extent, or a wrong digest all
    * hash-mismatch. */
  def warcCdx(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Warc.readCdx(spark, cdxFixtureCached)
      .select(col("target_uri"), col("http_status"),
              col("content_type").as("mime"), col("digest"),
              col("offset"), col("length"))
      .orderBy(col("offset"))

  /** Digest-level dedup over the CDX index — the cross-crawl "have I
    * already stored this content?" pass (Common Crawl revisit
    * semantics): group by sha256 digest, keep the FIRST stored copy
    * (min offset), count the rest. */
  def cdxDedup(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Warc.readCdx(spark, cdxFixtureCached)
      .filter(col("warc_type") === "response")
      .groupBy(col("digest"))
      .agg(count(lit(1)).as("n_copies"),
           min(col("offset")).as("first_offset"),
           min_by(col("target_uri"), col("offset")).as("first_uri"))
      .orderBy(col("first_offset"))

  /** Fixture for the link queries: 48 pages at
    * `http://s{id%4}.example/dir/page{id}` whose anchors plant every
    * extraction + resolution path by id arithmetic — a shared
    * absolute "hub" target per ext host (so the frontier's
    * distinct-nominating-hosts signal has mass), a relative href
    * with an entity-encoded query, a root-relative `rel=nofollow`
    * link, a dot-segment `../` ref (only on base-less pages: id%3==1
    * excludes id%6==0), a mailto (occupies a posexplode slot, then
    * the http-only filter drops it — the twin reproduces the index
    * GAP), and a protocol-relative ref. Pages with id%6==0 carry a
    * `<base href>` that re-roots relative resolution. */
  private[graft] def linkFixturePages(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val rows = (0 until 48).map { id =>
      val sb = new StringBuilder("<html>")
      if (id % 6 == 0)
        sb ++= s"""<head><base href="http://b${id % 3}.example/bdir/"></head>"""
      sb ++= "<body>"
      sb ++= s"""<a href="http://ext${id % 5}.example/hub">Ext $id</a>"""
      sb ++= s"""<a href="sub/r$id?a=1&amp;b=2">Rel &amp; $id</a>"""
      sb ++= s"""<a href="/root${id % 7}" rel="nofollow">Root $id</a>"""
      if (id % 3 == 1) sb ++= s"""<a href="../up$id">Up $id</a>"""
      if (id % 4 == 2) sb ++= s"""<a href="mailto:m$id@ex.example">Mail $id</a>"""
      if (id % 5 == 3) sb ++= s"""<a href="//pr${id % 3}.example/z$id">PR $id</a>"""
      sb ++= "</body></html>"
      (s"http://s${id % 4}.example/dir/page$id", sb.toString)
    }
    rows.toDF("url", "raw_html")
  }

  /** Link extraction + RFC 3986 resolution
    * ([[graft.pipelines.LinkGraph.pageLinks]]): Spark PARSES tags,
    * decodes entities, and RESOLVES refs (base-href-aware); the
    * oracle CONSTRUCTS href/resolved-target/anchor/index from the id
    * arithmetic — including the posexplode index gap the dropped
    * mailto link leaves behind. */
  def linkExtract(spark: SparkSession, dir: String): DataFrame =
    graft.pipelines.LinkGraph.pageLinks(linkFixturePages(spark))
      .select(regexp_extract(col("src_url"), "page(\\d+)$", 1)
                .cast("long").as("page_id"),
              col("link_idx").cast("long").as("link_idx"),
              col("href"), col("link_url"), col("anchor"),
              col("nofollow").cast("long").as("nofollow"))
      .orderBy(col("page_id"), col("link_idx"))

  /** Host-level link graph ([[graft.pipelines.LinkGraph.hostGraph]])
    * over the same planted pages: one aggregate from per-link rows
    * to `(src_host, dst_host, n_links, n_nofollow)` edges — the
    * frame the PageRank/centrality operators consume. */
  def linkGraph(spark: SparkSession, dir: String): DataFrame =
    graft.pipelines.LinkGraph.hostGraph(
      graft.pipelines.LinkGraph.pageLinks(linkFixturePages(spark)))
      .select(col("src_host"), col("dst_host"),
              col("n_links").cast("long").as("n_links"),
              col("n_nofollow").cast("long").as("n_nofollow"))
      .orderBy(col("src_host"), col("dst_host"))

  /** Frontier expansion ([[graft.pipelines.Frontier.expand]]) — the
    * discovery half of the crawl loop: planted links → canonical
    * candidates, nofollow links don't nominate, two hub URLs sit in
    * the `seen` set and must anti-join away, and the shared hub
    * targets pin the distinct-nominating-hosts aggregation
    * (10 discoveries × 4 hosts each). */
  def frontierExpand(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val links = graft.pipelines.LinkGraph.pageLinks(linkFixturePages(spark))
    val seen = Seq("http://ext0.example/hub", "http://ext1.example/hub")
      .toDF("url")
    graft.pipelines.Frontier.expand(links, seen)
      .select(col("url"), col("host"),
              col("n_discoveries").cast("long").as("n_discoveries"),
              col("n_src_hosts").cast("long").as("n_src_hosts"))
      .orderBy(col("url"))
  }
}
