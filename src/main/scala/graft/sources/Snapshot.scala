package graft.sources

import com.fasterxml.jackson.annotation.JsonIgnore
import com.fasterxml.jackson.databind.annotation.JsonDeserialize
import graft.ops.GlobalOrdinal
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, count,
  count_distinct, lit, max, min, sum, when}
import org.apache.spark.sql.types._
import scala.annotation.meta.{getter, param}

/** Snapshot-isolated table commits — the manifest-based layout
  * (Iceberg-shape, public architecture) that closes [[Layout.compact]]'s
  * operational gap: `compact` is restart-safe for ONE writer, but a
  * reader listing files mid-swap, or a second concurrent appender, has
  * no snapshot to pin. Here every committed state is an immutable
  * MANIFEST (the list of data files that ARE the table at version N),
  * and:
  *
  *  - readers resolve the file list through the manifest they opened —
  *    a compaction committing underneath them changes nothing they can
  *    see (old files are deleted only by [[expire]], never by a
  *    commit); time travel is the same mechanism (`read(version = N)`);
  *  - writers commit by CAS-publishing manifest N+1 (stage data files
  *    → write the manifest body to a scratch name → atomically claim
  *    the `vN+1` name); two concurrent appenders race for the version
  *    number and the loser RETRIES against the new parent — its staged
  *    files are untouched, only the tiny manifest write repeats
  *    (optimistic concurrency, the Iceberg/Delta commit shape);
  *  - compaction is just another commit: a new manifest whose file
  *    list is the rewrite, row-count-verified against the snapshot it
  *    compacts — never an in-place swap under a reader.
  *
  * ==Crash windows (all resumable, SnapshotSpec walks each)==
  * Data files staged but no manifest committed → invisible to every
  * reader, removed by [[expire]]'s orphan sweep. Manifest body written
  * to scratch but never claimed → ignored by readers (only `v*.json`
  * names resolve), swept with the orphans. The claim itself is atomic
  * (hard-link on local filesystems, rename-without-replace on
  * HDFS-semantics filesystems), so a manifest name is only ever bound
  * to COMPLETE content — there is no torn-manifest window.
  *
  * ==Scale shape==
  * A manifest is one line per data file. At 100 TB with 128 MB files
  * that is ~800 K entries ≈ 80 MB of JSON — listable in one driver
  * read, no directory walk (the object-store listing problem this
  * layout exists to avoid). Past that, the public next step is
  * manifest SPLITTING (a manifest-list pointing at per-partition
  * manifests, Iceberg's exact move); the commit protocol here is
  * unchanged by it. Reads plan from the explicit file list, so
  * footer-prune/pushdown behave exactly as a directory scan.
  */
object Snapshot {

  /** Per-file column statistics: `min`/`max` in a TYPED string
    * serialization chosen so the comparison that reads them back is
    * exact — integral and timestamp values as decimal longs
    * (timestamps as microseconds since epoch), floating point through
    * `Double.toString` round-trip, dates as `yyyy-MM-dd` (lexicographic
    * = chronological), strings as themselves. A column whose file
    * slice is entirely null records no stats (absent key), which every
    * pruning decision treats as "must keep" — conservative, never
    * wrong.
    *
    * `nulls` is the file's null count for the column (-1 = unknown,
    * for manifests written before the field existed). min/max ignore
    * nulls, so any WHOLESALE decision about a file — [[deleteRange]]
    * dropping a file its stats prove fully inside the range — must
    * also prove `nulls == 0`: a null row matches no range predicate
    * and must survive the delete (the Iceberg null-count lesson).
    *
    * `bloom` is an optional per-file Bloom filter over the column's
    * values ([[FileBloom]] encoding; empty = none): the POINT-lookup
    * complement to min/max — [[readEquals]] and the key-delete
    * accounting scans prune files the filter proves cannot contain a
    * probed key, even when every file's range overlaps. Requested at
    * write time ([[append]]'s `bloomCols`); rewrites preserve
    * coverage. */
  final case class ColStats(min: String, max: String, typ: String,
                            nulls: Long = -1L, bloom: String = "")

  /** One data file of a snapshot; `path` is table-root-relative (the
    * table directory is relocatable as a unit). `stats` carries the
    * per-file min/max of the columns the writer asked to track
    * ([[append]]'s `statsCols`) — the manifest-level DATA-SKIPPING
    * index ([[readWhere]]) and the file pruner for [[merge]]. Empty
    * for untracked tables (all reads then plan every file, exactly
    * the pre-stats behavior). `rows` is the file's footer row count
    * (the Iceberg `record_count` field), gathered free at stage time
    * from the same footer read that collects stats: accounting counts
    * over whole files ([[deleteRange]] wholesale drops,
    * [[compactSmall]] verification, [[merge]] touched-row math)
    * become pure driver arithmetic instead of a Spark scan — at
    * 100 TB, expiring a month of data without counting it. -1 =
    * unknown (legacy manifests); every consumer falls back to the
    * scan. */
  final case class FileEntry(path: String, bytes: Long,
                             stats: Map[String, ColStats] = Map.empty,
                             seq: Long = 0L, rows: Long = -1L)

  /** A MERGE-ON-READ range delete: rows of the tracked `column` in
    * `[lo, hi]` (typed-string reprs, [[ColStats]] serialization) are
    * dead — applied as a residual `NOT BETWEEN` filter at read time,
    * folded into data files only at compaction. `seq` is the delete's
    * commit version: it applies ONLY to data files staged by earlier
    * commits (`file.seq < seq`, the Iceberg sequence-number rule), so
    * rows (re-)inserted after the delete are never retro-deleted. */
  final case class RangeDelete(column: String, lo: String, hi: String,
                               typ: String, seq: Long)

  /** A MERGE-ON-READ equality delete: a parquet directory under the
    * table (`dir` is table-root-relative) holding the KEY TUPLES of
    * dead rows over columns `cols` — applied as an anti-join at read
    * time (the Iceberg v2 equality-delete file shape). Same `seq`
    * applicability rule as [[RangeDelete]]. */
  final case class EqDelete(dir: String, bytes: Long, rows: Long,
                            cols: Seq[String], seq: Long)

  /** A NON-ADDITIVE schema change, applied at READ to files staged
    * before it (`file.seq < seq` — the same sequencing as deletes)
    * and folded into data files at compaction:
    *  - `rename`: column `from` reads as `to`;
    *  - `widen`: column `from` casts to `typ` (`long` or `double` —
    *    int→long / float→double, the safe widenings);
    *  - `drop`: column `from` disappears from reads.
    * Files staged AFTER the change already carry the new shape and
    * are untouched — reusing a renamed-away or dropped name later
    * creates a genuinely new column (the Iceberg field-id semantic,
    * expressed through commit sequence instead of ids). */
  final case class SchemaChange(kind: String, from: String, to: String,
                                typ: String, seq: Long)

  /** One committed version: `files` IS the table at `version`.
    * `tag` is the writer's idempotence token (empty when unused): a
    * replayed commit carrying a tag some committed manifest already
    * holds is a DUPLICATE and must be skipped — the foreachBatch
    * at-least-once contract ([[append]] with `tag = Some(batchId)`).
    * `atMicros` is the commit wall-clock (epoch micros, stamped at
    * claim time; 0 in manifests written before the field existed) —
    * the [[readAsOf]] time-travel axis.
    *
    * `layout` is the table's DECLARED partition layout
    * ([[repartitionTable]] sets it; commits carry it forward): the
    * layout NEW appends must match and rewrites re-stage under.
    * `None` (legacy manifests, never-evolved tables) derives the
    * layout from the files themselves — old behavior exactly. Old
    * files written under a previous layout stay readable through
    * their own directory scheme (per-commit `basePath` groups). */
  final case class Manifest(version: Long, parent: Long, action: String,
                            rows: Long, files: Seq[FileEntry],
                            tag: String = "", atMicros: Long = 0L,
                            rangeDeletes: Seq[RangeDelete] = Nil,
                            eqDeletes: Seq[EqDelete] = Nil,
                            schemaChanges: Seq[SchemaChange] = Nil,
                            layout: Option[Seq[String]] = None) {
    def hasDeletes: Boolean = rangeDeletes.nonEmpty || eqDeletes.nonEmpty
    def needsMapping: Boolean = hasDeletes || schemaChanges.nonEmpty
  }

  private val SnapDir = "_snapshots"
  private val MaxRetries = 20

  /** Cap on DRIVER-COLLECTED key sets for point-lookup pruning and
    * the merge paths' small-source fast path: at or under it, a key
    * set collects in one [[GlobalOrdinal.collectUpTo]] job and row
    * count, duplicate check, range envelope and Bloom probes are
    * driver arithmetic; above it the distributed aggregate spellings
    * run unchanged. Also the longest IN list [[readIn]] probes against
    * per-file Bloom filters. */
  private val MaxProbeKeys = 10000

  // ---- commit paths ---------------------------------------------------

  /** Append `df` as a new snapshot; returns the committed version.
    * Stages data files once, then CAS-commits (retrying against newer
    * parents if another writer wins the version race — staged files
    * are never re-written).
    *
    * `tag` makes the append IDEMPOTENT for at-least-once writers
    * (Structured Streaming `foreachBatch` replays a batch after a
    * crash): when some committed manifest already carries the tag,
    * the replay is a duplicate — nothing is committed and the
    * existing version is returned. The tag check rides the same
    * commit race as the version CAS (a lost race re-reads the chain,
    * so two replayers of the same batch cannot both land).
    *
    * `statsCols` asks the writer to record per-file min/max for those
    * columns in the manifest (one narrow aggregate over the freshly
    * staged files — the only data this commit wrote): the
    * DATA-SKIPPING index that lets [[readWhere]] plan a selective read
    * over only the files whose range can match, and [[merge]] rewrite
    * only the files whose key range overlaps its source.
    *
    * `bloomCols` (each must also be in `statsCols` — the filter rides
    * the stat entry) additionally records a per-file BLOOM FILTER
    * ([[FileBloom]]): the point-lookup index that lets [[readEquals]]
    * and the key-delete accounting scans prune files even when every
    * file's min/max range overlaps the probe. */
  def append(df: DataFrame, table: String,
             tag: Option[String] = None,
             statsCols: Seq[String] = Nil,
             bloomCols: Seq[String] = Nil,
             branch: String = "main"): Long =
    appendStaged(df, table, Nil, tag, statsCols, bloomCols, branch)

  /** [[append]] with a Hive-partitioned staging layout
    * (`data/<uuid>/k=v/part-*.parquet`): the partition columns stay
    * DIRECTORY-ENCODED inside each commit's staging dir, and
    * [[read]] recovers them via `basePath`, so a facet-filtered scan
    * of a snapshot table is PARTITION-PRUNED exactly like a
    * [[Layout.writePartitioned]] directory — the isolation layer
    * costs none of the read-side pruning (SnapshotSpec proves
    * `partitionFilters` bind on a filtered snapshot read). Keep
    * partition columns at directory-count sanity (the Layout
    * contract: hundreds-to-thousands of values, never ids). */
  def appendPartitioned(df: DataFrame, table: String,
                        partitionCols: Seq[String],
                        tag: Option[String] = None,
                        statsCols: Seq[String] = Nil,
                        bloomCols: Seq[String] = Nil,
                        branch: String = "main"): Long = {
    require(partitionCols.nonEmpty, "use append for unpartitioned data")
    appendStaged(df, table, partitionCols, tag, statsCols, bloomCols,
      branch)
  }

  /** The one append body: stage `df` under `partitionCols` (which
    * must match the table's declared layout), then commit the staged
    * files on top of whatever the parent holds — its pending deletes
    * and schema changes carry unchanged. */
  private def appendStaged(df: DataFrame, table: String,
                           partitionCols: Seq[String],
                           tag: Option[String], statsCols: Seq[String],
                           bloomCols: Seq[String], branch: String): Long = {
    val spark = df.sparkSession
    requireBloomTracked(statsCols, bloomCols)
    tag.flatMap(t => findTag(spark, table, t)) match {
      case Some(v) => return v // replayed batch: already committed
      case None => ()
    }
    val (staged, stagedRows) = stageWrite(spark, table, df, partitionCols,
      statsCols, bloomCols)
    commitRetryingOn(spark, table, branch) { (parent, v) =>
      tag.flatMap(t => findTag(spark, table, t)).foreach { v =>
        throw new DuplicateTag(v) } // raced replayer landed it first
      requireSameLayout(parent, partitionCols)
      Manifest(v, parent.version, "append",
        parent.rows + stagedRows,
        parent.files ++ staged.map(_.copy(seq = v)),
        tag.getOrElse(""),
        rangeDeletes = parent.rangeDeletes, eqDeletes = parent.eqDeletes,
        schemaChanges = parent.schemaChanges)
    }.merge
  }

  /** Committed version carrying `tag`, if any (scans the retained
    * manifest chain — O(versions), driver-side, tiny files). */
  private def findTag(spark: SparkSession, table: String,
                      t: String): Option[Long] =
    reachableManifests(spark, table).iterator
      .collectFirst { case m if m.tag == t => m.version }

  /** The committed version carrying `tag`, if any — the PUBLIC probe
    * for at-least-once callers that must know whether a tagged commit
    * from a crashed run already landed BEFORE recomputing work that
    * depends on the pre-commit state (the [[Materialized.refresh]]
    * window-replay shape: a fold recomputed against already-folded
    * state would be wrong, so the caller short-circuits on this). */
  def tagVersion(spark: SparkSession, table: String,
                 tag: String): Option[Long] = {
    require(tag.nonEmpty, "empty tag")
    findTag(spark, table, tag)
  }

  private final class DuplicateTag(val version: Long)
      extends RuntimeException

  private def requireBloomTracked(statsCols: Seq[String],
                                  bloomCols: Seq[String]): Unit = {
    val untracked = bloomCols.filterNot(statsCols.contains)
    require(untracked.isEmpty,
      s"bloomCols ${untracked.mkString("[", ", ", "]")} not in " +
        "statsCols — the filter rides the column's stats entry; " +
        "track it there too")
  }

  /** Replace the table contents with `df` (a new snapshot whose file
    * list is only the staged files — prior versions stay readable
    * until [[expire]]). Stages under the table's DECLARED partition
    * layout ([[repartitionTable]]) so a replace never silently
    * de-partitions an evolved table; fresh tables stage flat.
    *
    * Bloom coverage follows the same preservation rule as the other
    * rewrite paths ([[compact]], [[merge]]): when `bloomCols` is
    * empty, the replaced snapshot's bloom-covered columns that are
    * still tracked in `statsCols` keep their filters on the new
    * files — a replace never silently drops the table's point-lookup
    * pruning. Pass `bloomCols` explicitly to set (or, with no
    * overlap, effectively reset) coverage. */
  def overwrite(df: DataFrame, table: String,
                statsCols: Seq[String] = Nil,
                bloomCols: Seq[String] = Nil): Long = {
    val spark = df.sparkSession
    requireBloomTracked(statsCols, bloomCols)
    val base = currentManifest(spark, table)
    val effBloom =
      if (bloomCols.nonEmpty) bloomCols
      else base.map(currentBloomColsOf).getOrElse(Nil)
        .filter(statsCols.contains)
    val (staged, stagedRows) = stageWrite(spark, table, df,
      base.map(declaredLayout).getOrElse(Nil), statsCols, effBloom)
    commitRetrying(spark, table) { (parent, v) =>
      Manifest(v, parent.version, "overwrite",
        stagedRows, staged.map(_.copy(seq = v)))
    }.merge
  }

  /** Compact the CURRENT snapshot to `ceil(bytes/targetFileBytes)`
    * files — committed as a new version, row-verified against the
    * snapshot it rewrites; a reader pinned on any version ≤ current
    * is untouched (its files are not deleted). Returns the committed
    * version. If another writer commits between the rewrite and the
    * claim, the compaction REVALIDATES against the advanced parent
    * and retries: interleaved PURE APPENDS carry forward by reference
    * (their files join the compacted manifest untouched — maintenance
    * never starves under a steady append stream); any interleaved
    * rewrite/delete/schema change is a genuine conflict and aborts
    * loudly (the rewrite no longer represents the table) — rerun. */
  def compact(spark: SparkSession, table: String,
              targetFileBytes: Long = 128L << 20,
              branch: String = "main"): Long =
    compactClustered(spark, table, Nil, targetFileBytes, branch)

  /** [[compact]] that additionally CLUSTERS the rewrite on
    * `clusterCols` (range-partition + sort within files): after many
    * interleaved appends every file's key range spans the table and
    * the stats index ([[readWhere]]) can prune nothing — a clustered
    * compaction re-establishes file-level locality, so range reads
    * drop back to O(selectivity) files. This is the lakehouse
    * `OPTIMIZE ... ZORDER`/`sortBy` maintenance pass expressed as
    * just another snapshot commit (pinned readers unaffected, same
    * row-count verification, same revalidate-and-retry contract). Track
    * the cluster column in `statsCols` at append time or the pruning
    * the clustering buys has no index to bind to. For range locality
    * on several columns at once, pre-compute [[Layout]]'s Z-order
    * key and cluster on that. */
  def compactClustered(spark: SparkSession, table: String,
                       clusterCols: Seq[String],
                       targetFileBytes: Long = 128L << 20,
                       branch: String = "main"): Long = {
    require(targetFileBytes > 0)
    compactFiles(spark, table, branch, clusterCols, targetFileBytes, None)
  }

  /** BIN-PACKING small-file compaction: rewrite ONLY the files under
    * `smallBytes` into ~`targetFileBytes` files; every right-sized
    * file carries into the new manifest BY REFERENCE, byte-untouched.
    * This is the steady-state maintenance pass for a table landing
    * streaming micro-batches (one small file per batch is the normal
    * state of a landed table): cost scales with the SMALL-FILE MASS,
    * never the table — a 100 TB table with 2 GB of micro-batch
    * droppings reads and rewrites 2 GB, where [[compact]] would
    * rewrite 100 TB to fix a listing problem.
    *
    * Pending merge-on-read deletes and schema changes FOLD into the
    * rewritten files only (their re-stamped `seq` puts them past every
    * pending entry); the manifest keeps the delete/schema entries
    * because the carried files still need them at read — unless the
    * rewrite covered EVERY old file, in which case the manifest
    * commits clean (carried interleaved appends are newer than every
    * pending entry, so the entries are inert for them too). Row-count
    * verified: the staged rows must equal the small subset's live
    * count, or nothing commits. Same revalidate-and-retry contract as
    * [[compact]] (a value-preserving rewrite overlaps nothing an
    * append adds). Returns the committed version — unchanged when
    * fewer than `minInputFiles` files are under the threshold. */
  def compactSmall(spark: SparkSession, table: String,
                   smallBytes: Long = 32L << 20,
                   targetFileBytes: Long = 128L << 20,
                   minInputFiles: Int = 2,
                   branch: String = "main"): Long = {
    require(smallBytes > 0 && targetFileBytes > 0 && minInputFiles >= 2)
    compactFiles(spark, table, branch, Nil, targetFileBytes,
      Some((smallBytes, minInputFiles)))
  }

  /** The one compaction: a file selector plus one rewrite. `small =
    * None` selects every file of `branch`'s head; `Some((smallBytes,
    * minInputFiles))` selects the files under `smallBytes` and commits
    * nothing when fewer than `minInputFiles` qualify. The selection's
    * LIVE rows (pending deletes and schema changes fold in here) are
    * rewritten into ~`targetFileBytes` files, range-partitioned and
    * sorted on `clusterCols` when given; the manifest drops its
    * pending entries only when the selection covered every file.
    *
    * Row-verified before anything commits: a selection of every file
    * (a small-file one included) against `base.rows` (driver
    * arithmetic — [[liveRowsFromMeta]] is None under pending deletes
    * and would cost a count job), a partial one against its footer rows
    * when no pending delete applies, else one count bounded by the
    * selection. */
  private def compactFiles(spark: SparkSession, table: String,
                           branch: String, clusterCols: Seq[String],
                           targetFileBytes: Long,
                           small: Option[(Long, Int)]): Long = {
    val base = writeBase(spark, table, branch)
    val picked = small.fold(base.files) { case (bytes, _) =>
      base.files.filter(_.bytes < bytes) }
    if (small.exists(_._2 > picked.size)) return base.version
    val whole = picked.size == base.files.size
    val expect = if (whole) base.rows else liveCount(spark, table, base, picked)
    val nf = math.max(1L, (picked.map(_.bytes).sum + targetFileBytes - 1)
      / targetFileBytes).toInt
    // coalesce bounds files per WRITE, so each partition dir of a
    // partitioned table gets at most nf files (the
    // writePartitionedCompact shape)
    val src = readLive(spark, table, base, picked)
    val rewrite =
      if (clusterCols.isEmpty) src.coalesce(nf)
      else src.repartitionByRange(nf, clusterCols.map(col): _*)
        .sortWithinPartitions(clusterCols.map(col): _*)
    val (staged, rewritten) = stageRewrite(spark, table, base, rewrite)
    val op = if (small.isEmpty) "compact" else "compactSmall"
    require(rewritten == expect, s"$op row mismatch: selected live " +
      s"rows=$expect rewritten=$rewritten — nothing committed")
    // a value-preserving rewrite of base's LIVE rows overlaps nothing
    // an append adds: interleaved appends carry forward by reference
    // (their files stay newer than every folded delete / schema
    // change, so a clean manifest is still exact for them)
    commitPlan(spark, table, Plan(base, "compact", op, picked, staged,
      expect, rewritten, _ => false, foldPending = whole, branch = branch))
  }

  /** MERGE (upsert) `source` into the table by `key`, COPY-ON-WRITE:
    * a target row whose key appears in `source` is replaced by the
    * source row; source rows with unseen keys are inserted. Only the
    * files that actually CONTAIN a matched key are rewritten — every
    * other file carries over into the new manifest untouched (no data
    * movement), which is what makes point-wise upserts affordable on a
    * 100 TB table: cost scales with the files hit, not the table.
    *
    * File-hit detection is two-staged, both stages cheap:
    *  1. manifest stats on `key` (when tracked) drop files whose key
    *     range cannot intersect the source's — pure driver math;
    *  2. a key-column-only scan of the survivors (columnar: one column
    *     off disk) semi-joined with the source keys names the files
    *     that truly contain a match.
    *
    * `source` must carry the table's schema and DISTINCT keys (two
    * source rows for one key would make the upsert order-dependent —
    * rejected loudly). Like [[compact]], the commit revalidates when
    * the table advanced mid-flight: interleaved appends whose files
    * provably contain NONE of the merge keys (manifest stats/Blooms)
    * carry forward; an append that might hold a key — its rows would
    * dodge the upsert — aborts loudly; rerun against the new
    * snapshot. Returns the committed version (the current one when
    * `source` is empty). */
  def merge(source: DataFrame, table: String, key: String): Long = {
    val spark = source.sparkSession
    val base = writeBase(spark, table)
    // stage 1: manifest stats drop files outside the source key range
    val (srcRows, ranged) = sourceKeyAgg(source, key, base)
    if (srcRows == 0L) return base.version
    requireUnrenamed(base, Seq(key), "merge key")
    // a probe-cap source with Bloom coverage on any ranged survivor
    // buys per-file Bloom probes for one bounded collect: files that
    // provably hold none of the keys skip stage 2's scan entirely,
    // and the commit's conflict test becomes driver arithmetic
    val smallKeys: Option[Array[Any]] =
      if (srcRows > MaxProbeKeys || !ranged.exists(f =>
            fileStats(f, key, base.schemaChanges)
              .exists(_.bloom.nonEmpty))) None
      else smallKeySample(source.select(col(key)))
    val candidates = smallKeys.fold(ranged)(vs =>
      mayHold(ranged, base.schemaChanges, key, vs.toSeq))
    // stage 2: which candidate files truly contain a matched key
    val touched =
      if (candidates.isEmpty) Nil
      else hitFiles(candidates,
        readFilesWithPath(spark, table, candidates, Some(Seq(key)))
          .join(source.select(col(key).as("__merge_key")),
            col(key) === col("__merge_key"), "left_semi"))
    // the rewrite: surviving rows of the hit files + ALL source rows
    // (replacements and inserts land together in the new files)
    val newData = (if (touched.isEmpty) source
                   else readLive(spark, table, base, touched)
                     .join(source.select(col(key)), Seq(key), "left_anti")
                     .unionByName(source))
    val (staged, stagedRows) = stageRewrite(spark, table, base, newData)
    commitPlan(spark, table, Plan(base, "merge", "merge", touched, staged,
      liveCount(spark, table, base, touched), stagedRows,
      keyConflicts(base, Seq(key), source.select(col(key)), smallKeys,
        sampled = srcRows > MaxProbeKeys)))
  }

  /** MERGE (upsert), MERGE-ON-READ — the at-scale spelling of
    * [[merge]]: matched keys land as an EQUALITY DELETE and ALL
    * source rows (replacements and inserts alike) append as new
    * files, in ONE commit — ZERO matched-file rewrites. A point-wise
    * upsert into a 100 TB table then costs one key-file write, one
    * narrow accounting scan, and the source's own staging — never a
    * data-file rewrite; [[compact]] folds the pending delete into
    * clean files when maintenance runs, exactly as for
    * [[deleteKeysMor]].
    *
    * Sequencing makes the one-commit composition sound: the
    * [[EqDelete]] commits at seq v and applies only to files staged
    * by EARLIER commits (`file.seq < v`), while the source's files
    * stage at seq v — the delete kills the old versions of matched
    * rows and can never touch their replacements.
    *
    * Same contracts as [[merge]]: `source` carries the table's
    * schema with DISTINCT keys (rejected loudly otherwise), the
    * commit revalidates-and-retries across interleaved appends
    * (aborting only on genuine conflicts), and CDC across
    * the commit reads delete+insert per updated row. Prefer [[merge]]
    * when read amplification matters more than write cost (every
    * read until compaction pays the anti-join). */
  def mergeMor(source: DataFrame, table: String, key: String,
               tag: Option[String] = None): Long = {
    val spark = source.sparkSession
    // the at-least-once dedupe rides the same tag machinery as
    // [[append]]: a replayed upsert (crash after the state commit but
    // before its caller's baseline write — the [[Materialized]]
    // refresh shape) must find its first run and not re-apply
    tag.flatMap(t => findTag(spark, table, t)) match {
      case Some(v) => return v
      case None => ()
    }
    val base = writeBase(spark, table)
    val srcKeys = source.select(col(key))
    // ONE bounded collect replaces the count/duplicate aggregate AND
    // the candidate probe's own collect (guide §1.2): a source at or
    // under the probe cap — the micro-batch/MV-state upsert shape
    // this MoR spelling exists for — yields row count, duplicate
    // check, range envelope and Bloom probes as driver arithmetic in
    // one job; a bigger source has that job cancelled past the cap
    // ([[GlobalOrdinal.collectUpTo]]) and pays the aggregate spelling.
    // Candidate files are stats- and bloom-pruned as in
    // [[deleteKeysMor]]: files that provably hold none of the source
    // keys never join the accounting scan.
    val (candidates, smallKeys) = smallKeySample(srcKeys) match {
      case Some(vals) =>
        if (vals.isEmpty) return base.version
        val nonNull = vals.filter(_ != null)
        require(vals.length - nonNull.length <= 1 &&
          sqlDistinctCount(nonNull) == nonNull.length, duplicateKeys(key))
        (keyHits(base.files, base.schemaChanges, Seq(key), srcKeys,
          Some(nonNull)), Some(nonNull))
      case None =>
        val (srcRows, ranged) = sourceKeyAgg(source, key, base)
        if (srcRows == 0L) return base.version
        (ranged, None)
    }
    val eq = writeMatchedKeys(spark, table, base, candidates, srcKeys,
      Seq(key))
    val (staged, stagedRows) = stageRewrite(spark, table, base, source)
    // same conflict rule as [[merge]]: a disjointness-proven append
    // carries forward (the new EqDelete applies to it by seq, but
    // provably touches none of its rows — accounting stays exact)
    commitPlan(spark, table, Plan(base, "merge-mor", "merge", Nil, staged,
      eq.fold(0L)(_._2), stagedRows,
      keyConflicts(base, Seq(key), srcKeys, smallKeys, sampled = true),
      eqDelete = eq.map(_._1), tag = tag))
  }

  private def duplicateKeys(key: String): String =
    s"merge source carries duplicate '$key' values — upsert would be " +
      "order-dependent; dedup the source first"

  /** ONE aggregate over a merge source answers its row count, the
    * duplicate-key check (rejected loudly) and the key envelope:
    * distinct-count spells count_distinct + a null adjustment,
    * matching `select(key).distinct().count()` exactly (nulls
    * collapse to one). Returns the row count and `base`'s files whose
    * key stats admit the envelope — none for all-null keys, which
    * match no row. */
  private def sourceKeyAgg(source: DataFrame, key: String,
                           base: Manifest): (Long, Seq[FileEntry]) = {
    val a = source.agg(count(lit(1)), count(col(key)),
      count_distinct(col(key)), min(col(key)), max(col(key))).head()
    require(a.getLong(2) + (if (a.getLong(0) > a.getLong(1)) 1L else 0L)
      == a.getLong(0), duplicateKeys(key))
    (a.getLong(0),
      if (a.isNullAt(3)) Nil
      else keptByRange(base.files, key, a.get(3), a.get(4),
        base.schemaChanges))
  }

  /** Row-level RANGE DELETE (`lower ≤ column ≤ upper`, inclusive),
    * copy-on-write — the retention-expiry / right-to-erasure shape.
    * The manifest stats triage every file into three classes:
    *
    *  - provably DISJOINT from the range → carried by reference;
    *  - provably fully INSIDE the range AND null-free on the column
    *    (`nulls == 0` — min/max ignore nulls, and a null row matches
    *    no range predicate, so it must survive) → dropped WHOLESALE,
    *    zero data movement — at 100 TB, expiring a month of
    *    time-partitioned data is pure manifest surgery;
    *  - overlapping, stat-less, or null-carrying → rewritten with the
    *    keep filter.
    *
    * The keep filter is null-safe (`NOT coalesce(between, false)`):
    * rows where the column IS NULL are kept, the SQL DELETE contract.
    * Commits like [[compact]]: interleaved appends provably OUTSIDE
    * the range carry forward; an append that might hold an in-range
    * row aborts loudly. Returns the committed version. */
  def deleteRange(spark: SparkSession, table: String, column: String,
                  lower: Any, upper: Any): Long =
    deleteInRange(spark, table, column, lower, upper, mor = false)

  /** Row-level RANGE DELETE, MERGE-ON-READ — the at-scale spelling of
    * [[deleteRange]]: the commit REWRITES ZERO DATA FILES. Files whose
    * stats prove them fully inside the range (and null-free,
    * non-float — [[deleteRange]]'s wholesale rules) leave the manifest
    * outright (pure metadata surgery); files that merely OVERLAP the
    * range stay, and a [[RangeDelete]] entry makes every subsequent
    * read apply the `NOT BETWEEN` residual. A daily retention pass
    * over a 100 TB table is then one manifest write, not a rewrite of
    * every boundary file; [[compact]]/[[compactClustered]] fold the
    * pending deletes into data files when maintenance runs.
    *
    * Row accounting stays EXACT via one column-pruned COUNT over only
    * the affected files (a read, never a write). Same
    * revalidate-and-retry contract as [[deleteRange]]. */
  def deleteRangeMor(spark: SparkSession, table: String, column: String,
                     lower: Any, upper: Any): Long =
    deleteInRange(spark, table, column, lower, upper, mor = true)

  /** Both range deletes: the stats triage selects the files to drop
    * wholesale and the overlapping ones, which are rewritten, or with
    * `mor` left in place under a residual. An interleaved append
    * conflicts iff any of its files might hold a row INSIDE the range
    * (its rows would dodge the delete). */
  private def deleteInRange(spark: SparkSession, table: String,
                            column: String, lower: Any, upper: Any,
                            mor: Boolean): Long = {
    val base = writeBase(spark, table)
    val (dropped, overlapping) = rangeTriage(base, column, lower, upper)
    deletePlanned(spark, table, base, dropped, overlapping,
      if (mor) Residual(column, lower, upper)
      else Rewrite(col(column) >= lit(lower) && col(column) <= lit(upper)),
      appended => keptByRange(appended, column, lower, upper,
        base.schemaChanges).nonEmpty)
  }

  /** The stats triage both range deletes share, over `base`'s files:
    * (wholly inside `[lower, upper]` and droppable outright,
    * OVERLAPPING — stat-less, null-carrying or float files included);
    * every other file is provably disjoint. */
  private def rangeTriage(base: Manifest, column: String, lower: Any,
                          upper: Any): (Seq[FileEntry], Seq[FileEntry]) =
    keptByRange(base.files, column, lower, upper, base.schemaChanges)
      .partition { f =>
        fileStats(f, column, base.schemaChanges) match {
          // floating-point columns NEVER wholesale-drop: parquet float
          // stats may silently ignore NaN values, and a NaN row matches
          // no range predicate, so it must survive the delete — only
          // the rewrite path (whose null-safe keep filter NaN also
          // passes, NaN failing every bounded BETWEEN) can guarantee
          // that. Range READS stay stats-pruned for doubles: a pruned
          // read only needs "no row MATCHES in this file", which holds
          // for NaN under any bounded range.
          case Some(s) if s.nulls == 0L && s.typ != "double" =>
            val lo = reprOf(s.typ, lower)
            val hi = reprOf(s.typ, upper)
            cmp(s.typ, s.min, lo) >= 0 && cmp(s.typ, s.max, hi) <= 0
          case _ => false // stat-less, null-carrying, or float
        }
      }

  /** Row-level DELETE by an arbitrary predicate, copy-on-write: one
    * predicate-column scan names the files that contain a matching
    * row (columnar — only the referenced columns leave disk); only
    * those are rewritten with the null-safe keep filter, everything
    * else carries by reference. No wholesale file drops here — an
    * arbitrary `Column` can't be proven against min/max stats; use
    * [[deleteRange]] when the predicate is a range on a tracked
    * column. Returns the committed version. */
  def deleteWhere(spark: SparkSession, table: String,
                  cond: Column): Long = {
    val base = writeBase(spark, table)
    requireUnrenamed(base, {
      // the predicate's referenced columns, read off the ANALYZED
      // filter (a Spark-4 Column is an opaque node tree until it
      // resolves against a frame; analysis costs no job)
      val probe = readLive(spark, table, base, base.files)
        .filter(coalesce(cond, lit(false)))
      probe.queryExecution.analyzed.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.condition.references.map(_.name).toSeq
      }.flatten.distinct
    }, "deleteWhere predicate")
    val hit = hitFiles(base.files,
      readFilesWithPath(spark, table, base.files, None)
        .filter(coalesce(cond, lit(false))))
    // an arbitrary predicate proves nothing about appended files:
    // ANY interleaved append is a conflict (abort, rerun)
    deletePlanned(spark, table, base, Nil, hit, Rewrite(cond), _.nonEmpty)
  }

  // ---- merge-on-read deletes --------------------------------------------

  /** Row-level DELETE BY KEY, MERGE-ON-READ (the Iceberg v2
    * equality-delete shape): `keys` — one row per dead key over any
    * subset of table columns — lands as a small parquet directory
    * under the table, the manifest records it as an [[EqDelete]], and
    * every subsequent read anti-joins it away. ZERO data files are
    * rewritten; the right-to-erasure pass over a 100 TB table costs
    * one key-file write, whose job is the narrow accounting scan: the
    * file holds only the keys that matched a live row.
    * [[compact]] folds pending key deletes into data; [[expire]]
    * sweeps the key files once no retained manifest references them.
    *
    * Rows whose key columns are NULL never match (anti-join equality
    * semantics — the SQL DELETE contract). Returns the current
    * version unchanged when no live row matches. */
  def deleteKeysMor(keys: DataFrame, table: String,
                    tag: Option[String] = None): Long = {
    val spark = keys.sparkSession
    // replay dedupe, as in [[mergeMor]]: a crashed caller re-running
    // the same logical delete must not re-stage a second delete file
    tag.flatMap(t => findTag(spark, table, t)) match {
      case Some(v) => return v
      case None => ()
    }
    val distinctKeys0 = keys.distinct()
    // a single-column key set at or under the probe cap collects ONCE
    // and replays as a LOCAL relation: candidate pruning and the
    // commit's conflict test become driver arithmetic, and the
    // accounting write's semi-join side stops re-evaluating (and
    // re-shuffling) the caller's lineage, which would otherwise run the
    // distinct twice (probe, write)
    deleteKeys(distinctKeys0, table, tag,
      if (keys.columns.length == 1) smallKeySample(distinctKeys0) else None)
  }

  /** [[deleteKeysMor]] over DISTINCT `distinctKeys0`, with the
    * [[smallKeySample]] of a single key column already taken (None
    * past the probe cap, which no later step re-collects, or for a
    * composite key). */
  private def deleteKeys(distinctKeys0: DataFrame, table: String,
                         tag: Option[String],
                         sample: Option[Array[Any]]): Long = {
    val spark = distinctKeys0.sparkSession
    val base = writeBase(spark, table)
    val cols = distinctKeys0.columns.toSeq
    require(cols.nonEmpty, "empty key frame")
    val distinctKeys = sample match {
      case Some(vals) =>
        spark.createDataFrame(
          java.util.Arrays.asList(
            vals.map(v => org.apache.spark.sql.Row(v)): _*),
          StructType(Seq(distinctKeys0.schema.head)))
      case None => distinctKeys0
    }
    // the exact-accounting scan stats-prunes like merge does: with a
    // single tracked key column, files no key can fall in (range, then
    // Bloom) never join the count; all-null key frames match nothing
    // by anti-join semantics — zero candidates
    deletePlanned(spark, table, base, Nil,
      keyHits(base.files, base.schemaChanges, cols, distinctKeys, sample,
        sampled = true),
      KeyFile(distinctKeys, cols),
      keyConflicts(base, cols, distinctKeys, sample, sampled = true), tag)
  }

  // ---- the write planner -------------------------------------------------
  //
  // Every data-rewriting commit above is planned against the head it
  // read (`base`) as one [[Plan]] and committed by [[commitPlan]]: a
  // selector names the files an op touches (every file or the small
  // ones for the compactions; stats triage, a predicate scan over
  // `__file`, or key candidates for deletes and merges), the op turns
  // them into staged files and row counts, and the one commit tail
  // builds the manifest, carries disjoint mid-flight appends and runs
  // the replay-tag check.

  /** One data-rewriting commit against `base`: `removed` leave the
    * manifest, `staged` join it (stamped with the commit's version),
    * `deadRows` leave and `addedRows` join the row count, and a new
    * [[RangeDelete]]/[[EqDelete]] (its `seq` stamped at commit) lands
    * beside `base`'s pending entries — or, with `foldPending`, every
    * pending delete and schema change folds away (the rewrite covered
    * every file). `conflicts` is the test an interleaved append must
    * fail to be carried forward ([[carriableAppends]]); `op` names the
    * operation in the abort; `tag` is the replay token. */
  private final case class Plan(
      base: Manifest, action: String, op: String,
      removed: Seq[FileEntry], staged: Seq[FileEntry],
      deadRows: Long, addedRows: Long,
      conflicts: Seq[FileEntry] => Boolean,
      rangeDelete: Option[RangeDelete] = None,
      eqDelete: Option[EqDelete] = None,
      foldPending: Boolean = false,
      tag: Option[String] = None,
      branch: String = "main")

  /** Commit `p` on `p.branch`, revalidating against whatever the head
    * became: only pure appends `p.conflicts` clears may have landed
    * since `p.base` (they carry forward by reference); anything else
    * aborts loudly. Returns the committed version, or the version of
    * an earlier commit carrying `p.tag`. */
  private def commitPlan(spark: SparkSession, table: String,
                         p: Plan): Long = {
    val gone = p.removed.map(_.path).toSet
    val kept = p.base.files.filterNot(f => gone.contains(f.path))
    commitRetryingOn(spark, table, p.branch) { (parent, v) =>
      p.tag.flatMap(t => findTag(spark, table, t)).foreach { v =>
        throw new DuplicateTag(v) } // raced replayer landed it first
      val carried = carriableAppends(spark, table, p.base, parent,
        p.conflicts).getOrElse(throw new IllegalStateException(
          s"table advanced v${p.base.version} -> v${parent.version} " +
            s"during ${p.op} with a CONFLICTING commit (a rewrite/" +
            "delete/schema change, or an append the rewrite's rows " +
            s"could overlap); rerun ${p.op} against the new snapshot"))
      val fresh = p.staged.map(_.copy(seq = v))
      def pending[A](entries: Seq[A], added: Option[A]): Seq[A] =
        if (p.foldPending) Nil else entries ++ added
      Manifest(v, parent.version, p.action,
        parent.rows - p.deadRows + p.addedRows,
        // a compaction lists its rewrite before the carried appends
        if (p.action == "compact") kept ++ fresh ++ carried
        else kept ++ carried ++ fresh,
        p.tag.getOrElse(""),
        rangeDeletes = pending(p.base.rangeDeletes,
          p.rangeDelete.map(_.copy(seq = v))),
        eqDeletes = pending(p.base.eqDeletes, p.eqDelete.map(_.copy(seq = v))),
        schemaChanges = pending(p.base.schemaChanges, None))
    }.merge
  }

  /** How a delete disposes of the files its selector hit. */
  private sealed trait DeleteMode
  /** Copy-on-write: rewrite each hit file through the null-safe keep
    * filter `NOT coalesce(cond, false)` (NULL never deletes). */
  private final case class Rewrite(cond: Column) extends DeleteMode
  /** Merge-on-read: a [[RangeDelete]] residual over the hit files. */
  private final case class Residual(column: String, lower: Any,
                                    upper: Any) extends DeleteMode
  /** Merge-on-read: one equality-delete file of `keys` over `cols`. */
  private final case class KeyFile(keys: DataFrame, cols: Seq[String])
      extends DeleteMode

  /** The one delete planner. `dropped` — files the selector proved
    * wholly inside the delete — leave the manifest outright, counted
    * off their footers when no pending delete applies (a metadata
    * read, no data scan); `hit` — files that may hold a match — go
    * through `mode`. Returns `base.version` when nothing matches
    * (nothing commits), else the version [[commitPlan]] commits with
    * `conflicts` as the mid-flight append test. */
  private def deletePlanned(spark: SparkSession, table: String,
                            base: Manifest, dropped: Seq[FileEntry],
                            hit: Seq[FileEntry], mode: DeleteMode,
                            conflicts: Seq[FileEntry] => Boolean,
                            tag: Option[String] = None): Long = {
    if (dropped.isEmpty && hit.isEmpty) return base.version
    val plan = mode match {
      case Rewrite(cond) =>
        val keep = !coalesce(cond, lit(false))
        val (staged, hitRows, keptRows) =
          if (hit.isEmpty) (Nil, 0L, 0L)
          else {
            val src = readLive(spark, table, base, hit)
            // ONE pass answers both accounting counts (kept and
            // total); the keep filter is never null, so the
            // conditional count is exact
            val c = src.agg(count(lit(1)), count(when(keep, lit(1)))).head()
            (if (c.getLong(1) == 0L) Nil // every row deleted: stage nothing
             else stageRewrite(spark, table, base, src.filter(keep))._1,
             c.getLong(0), c.getLong(1))
          }
        Plan(base, "delete", "delete", dropped ++ hit, staged,
          liveCount(spark, table, base, dropped) + hitRows, keptRows,
          conflicts)
      case Residual(column, lower, upper) =>
        val typ = base.files
          .flatMap(f => fileStats(f, column, base.schemaChanges))
          .headOption.map(_.typ).getOrElse {
            // the live schema: a renamed column is absent from the
            // files written before the rename
            val field = emptyRead(spark, table, base).schema
              .find(_.name == column).getOrElse(throw new
                IllegalArgumentException(s"no column '$column' in $table"))
            statTyp(field.dataType).getOrElse(throw new
              IllegalArgumentException(
                s"range delete unsupported for '$column': ${field.dataType}"))
          }
        val deadDropped = liveCount(spark, table, base, dropped)
        val deadHit =
          if (hit.isEmpty) 0L
          else readLive(spark, table, base, hit).filter(coalesce(
            col(column) >= lit(lower) && col(column) <= lit(upper),
            lit(false))).count()
        if (deadDropped + deadHit == 0L && dropped.isEmpty)
          return base.version // nothing matches: no-op, nothing committed
        Plan(base, "delete-mor", "delete", dropped, Nil,
          deadDropped + deadHit, 0L, conflicts,
          // a hit that matched nothing was a stats over-approximation:
          // no residual
          rangeDelete =
            if (deadHit == 0L) None
            else Some(RangeDelete(column, reprOf(typ, lower),
              reprOf(typ, upper), typ, 0L)))
      case KeyFile(keys, cols) =>
        val (d, dead) = writeMatchedKeys(spark, table, base, hit, keys,
          cols).getOrElse(return base.version)
        Plan(base, "delete-mor", "delete", Nil, Nil, dead, 0L, conflicts,
          eqDelete = Some(d), tag = tag)
    }
    commitPlan(spark, table, plan)
  }

  /** Stage `df` under `layout`, then read footer stats over
    * `statsCols`, then build Blooms over `bloomCols` — every write's
    * staging. Returns the entries and their footer row count. */
  private def stageWrite(spark: SparkSession, table: String, df: DataFrame,
                         layout: Seq[String], statsCols: Seq[String],
                         bloomCols: Seq[String]): (Seq[FileEntry], Long) = {
    indexStaged(spark, table, stage(spark, df, table, layout, bloomCols),
      statsCols, bloomCols)
  }

  /** [[stageWrite]] for a rewrite of `base`'s rows: the new files keep
    * the table's declared layout and whatever stats and Bloom coverage
    * it tracks under the current schema. */
  private def stageRewrite(spark: SparkSession, table: String,
                           base: Manifest,
                           df: DataFrame): (Seq[FileEntry], Long) =
    stageWrite(spark, table, df, declaredLayout(base),
      currentStatsColsOf(base), currentBloomColsOf(base))

  /** The equality-delete file of the `keys` over `cols` that match a
    * live row of `hit` under `base`, and the rows it kills — or None
    * (nothing left behind) when no live row matches. Matched keys and
    * exact dead-row accounting come from ONE write job: the hit files'
    * live key columns semi-join the keys and group to the distinct
    * matched keys — the file's rows — while the pre-group row count
    * (the dead rows) and the matched-key count ride the write as
    * CollectMetrics observations. Unmatched keys stay out of the file:
    * they would anti-join nothing but cost every read. The file lands
    * under `deletes/<uuid>`, unpublished until the manifest CAS
    * references it (as in [[stage]], whose schema cache it seeds too);
    * the entry's `seq` is left to [[commitPlan]]. */
  private def writeMatchedKeys(spark: SparkSession, table: String,
                               base: Manifest, hit: Seq[FileEntry],
                               keys: DataFrame, cols: Seq[String])
      : Option[(EqDelete, Long)] = {
    if (hit.isEmpty) return None
    val obs = new org.apache.spark.sql.Observation()
    val matched = readLive(spark, table, base, hit)
      .select(cols.map(col): _*).join(keys, cols, "left_semi")
      .groupBy(cols.map(col): _*).agg(count(lit(1)).as("__graft_live"))
      .observe(obs,
        coalesce(sum(col("__graft_live")), lit(0L)).as("dead"),
        count(lit(1)).as("matched"))
      .select(cols.map(col): _*)
    val rel = s"deletes/${java.util.UUID.randomUUID()}"
    // one file: the grouped output would otherwise leave one per
    // non-empty shuffle partition, and every read opens them all
    matched.coalesce(1).write.mode("errorifexists")
      .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
      .parquet(s"$table/$rel")
    val fs = hadoopFs(spark, table)
    val dir = new org.apache.hadoop.fs.Path(s"$table/$rel")
    val dead = obs.get("dead").asInstanceOf[Long]
    if (dead == 0L) {
      fs.delete(dir, true) // nothing matched: the dir is garbage
      return None
    }
    stagedSchemaCache.put(s"$table/$rel", matched.schema)
    var bytes = 0L
    val it = fs.listFiles(dir, true)
    while (it.hasNext) bytes += it.next().getLen
    Some((EqDelete(rel, bytes, obs.get("matched").asInstanceOf[Long], cols,
      0L), dead))
  }

  /** Live rows of `files` under `m`: [[liveRowsFromMeta]]'s footer
    * arithmetic when provable, else one count over exactly them. */
  private def liveCount(spark: SparkSession, table: String, m: Manifest,
                        files: Seq[FileEntry]): Long =
    if (files.isEmpty) 0L
    else liveRowsFromMeta(m, files).getOrElse(
      readLive(spark, table, m, files).count())

  /** The key selector: the files of `files` that may hold one of the
    * distinct `keys` over `cols` — also the CONFLICT test of the
    * rewrite-commit retry ([[keyConflicts]]): an interleaved append is
    * carriable iff this leaves none of its files (stat-less files
    * keep, i.e. conflict — conservative in both uses). `small` is the
    * key set's values when the driver already holds it whole, and
    * [[mayHold]] probes them with zero jobs. Otherwise, unless a
    * collect over the keys already ran past [[MaxProbeKeys]]
    * (`sampled`), a single-column key set over files with Bloom
    * filters on it is collected first in one bounded job; a key set
    * over the cap prunes by its range envelope from one aggregate.
    * Multi-column keys (no single envelope) keep every file. Shared by
    * the key deletes, the merges, the CDC differ and [[keyPruneCount]],
    * so the observable prune contract IS the accounting scan's plan. */
  private def keyHits(files: Seq[FileEntry], changes: Seq[SchemaChange],
                      cols: Seq[String], keys: DataFrame,
                      small: Option[Array[Any]] = None,
                      sampled: Boolean = false): Seq[FileEntry] = {
    val c = cols.head
    val single = cols.size == 1
    val vals = small.orElse(
      if (single && !sampled && files.exists(f =>
            fileStats(f, c, changes).exists(_.bloom.nonEmpty)))
        GlobalOrdinal.collectUpTo(keys, MaxProbeKeys).map(_.map(_.get(0)))
      else None)
    vals match {
      case Some(vs) => mayHold(files, changes, c, vs.toSeq)
      case None if single &&
          files.exists(f => fileStats(f, c, changes).nonEmpty) =>
        val b = keys.agg(min(col(c)), max(col(c))).head()
        if (b.isNullAt(0)) Nil
        else keptByRange(files, c, b.get(0), b.get(1), changes)
      case None => files
    }
  }

  /** The key ops' mid-flight conflict test: an interleaved append
    * conflicts iff it might contain one of the keys (its rows would
    * dodge the upsert or delete). */
  private def keyConflicts(base: Manifest, cols: Seq[String],
                           keys: DataFrame, small: Option[Array[Any]],
                           sampled: Boolean): Seq[FileEntry] => Boolean =
    appended => keyHits(appended, base.schemaChanges, cols, keys, small,
      sampled).nonEmpty

  /** The files of `files` that `hits` — a frame carrying `__file` —
    * names: one distinct-path collect, bounded by the file count. */
  private def hitFiles(files: Seq[FileEntry],
                       hits: DataFrame): Seq[FileEntry] = {
    val named = byEntryPath(files,
      hits.select("__file").distinct().collect().map(_.getString(0)))
    files.filter(f => named.contains(f.path))
  }

  /** Resolve absolute `_metadata.file_path` values to the
    * table-relative paths of the `files` they name (entry path ->
    * value). The entries are indexed once and each value probes one
    * suffix per entry depth: O(values × depths), where matching every
    * (entry, value) pair by `endsWith` is O(files × values). */
  private def byEntryPath(files: Seq[FileEntry],
                          abs: Iterable[String]): Map[String, String] = {
    val paths = files.iterator.map(_.path).toSet
    val depths = files.iterator.map(_.path.count(_ == '/') + 1).toSet
    abs.iterator.flatMap { a =>
      val segs = a.split('/')
      depths.iterator.filter(_ < segs.length)
        .map(d => segs.takeRight(d).mkString("/")).find(paths).map(_ -> a)
    }.toMap
  }

  // ---- metadata tables ---------------------------------------------------

  /** The manifest's FILE LIST as a DataFrame (the Iceberg
    * `table$files` surface): one row per data file with its size,
    * staging commit (`seq`), and per-column min/max/null stats
    * flattened to `stats_<col>_min`/`_max`/`_nulls`. Driver-built
    * from metadata already in memory — no data file is opened. The
    * operational queries this answers ("which files would a range
    * read keep", "how skewed are file sizes", "what does compaction
    * owe") otherwise need ad-hoc manifest parsing. */
  def filesTable(spark: SparkSession, table: String,
                 version: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.{Row, types => T}
    val m = manifestAt(spark, table, version)
    // stats surface under CURRENT-schema names: a file written before
    // a rename stores its stats under the old name — exposing that
    // raw key would split the column across stats_<old>_* (old files)
    // and stats_<new>_* (new files), so an operational query keyed on
    // the current name silently reads nulls for old files. Each
    // file's keys walk forward through its applicable changes, the
    // same mapping the read path's pruning uses in reverse.
    val changes = m.schemaChanges.sortBy(_.seq)
    val perFile: Seq[Map[String, ColStats]] = m.files.map { f =>
      f.stats.flatMap { case (k0, st) =>
        currentName(f, k0, changes).map(_ -> st)
      }
    }
    val statCols = perFile.flatMap(_.keys).distinct.sorted
    val schema = T.StructType(
      Seq(T.StructField("path", T.StringType, nullable = false),
          T.StructField("bytes", T.LongType, nullable = false),
          T.StructField("seq", T.LongType, nullable = false)) ++
        statCols.flatMap(c => Seq(
          T.StructField(s"stats_${c}_min", T.StringType),
          T.StructField(s"stats_${c}_max", T.StringType),
          T.StructField(s"stats_${c}_nulls", T.LongType),
          T.StructField(s"stats_${c}_bloom_bits", T.LongType))))
    val rows = m.files.zip(perFile).map { case (f, stats) =>
      Row.fromSeq(Seq(f.path, f.bytes, f.seq) ++
        statCols.flatMap(c => stats.get(c) match {
          case Some(st) => Seq(st.min, st.max,
            if (st.nulls < 0) null else st.nulls,
            // bloom coverage surfaced for the maintenance dashboard:
            // which files would a point/key probe still have to open
            if (st.bloom.isEmpty) null
            else java.lang.Long.valueOf(
              java.util.Base64.getDecoder.decode(st.bloom).length * 8L))
          case None => Seq(null, null, null, null)
        }))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** The COMMIT HISTORY as a DataFrame (the Iceberg `table$history`
    * surface): one row per retained version — action, row count,
    * file count/bytes, commit stamp, idempotence tag, and the counts
    * of pending merge-on-read deletes and schema changes the version
    * carries. Driver-built from the manifests. */
  def historyTable(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    mainLineage(spark, table)
      .map(m => (m.version, m.parent, m.action, m.rows,
        m.files.size.toLong, m.files.map(_.bytes).sum, m.tag,
        m.atMicros,
        (m.rangeDeletes.size + m.eqDeletes.size).toLong,
        m.schemaChanges.size.toLong))
      .toDF("version", "parent", "action", "rows", "n_files",
        "total_bytes", "tag", "at_micros", "pending_deletes",
        "pending_schema_changes")
  }

  // ---- non-additive schema evolution ------------------------------------

  /** RENAME a column — a METADATA-ONLY commit (action `schema`): no
    * data file is touched; reads map the old name to the new one for
    * files staged before the rename ([[SchemaChange]] sequencing),
    * and [[compact]] folds the mapping into real files. Pending
    * merge-on-read delete entries on the renamed column are REKEYED
    * in the new manifest so read-side delete filters always reference
    * post-rename names. Partition columns cannot be renamed (their
    * name is baked into the directory layout — compact into a new
    * layout instead). Reusing `from` in a later append creates a NEW
    * column: old files' data stays under `to`. */
  def renameColumn(spark: SparkSession, table: String,
                   from: String, to: String): Long = {
    val base = writeBase(spark, table)
    require(from != to, "rename to the same name is a no-op")
    require(!isPartitionColumn(base, from),
      s"'$from' is a partition column — its name is the directory " +
        "layout; rewrite via compact instead")
    val cur = readLive(spark, table, base, base.files).columns.toSeq
    require(cur.contains(from), s"no column '$from' in $table " +
      cur.mkString("[", ", ", "]"))
    require(!cur.contains(to), s"column '$to' already exists in $table")
    commitMetadata(spark, table, base, "rename", "schema") { (m, v) =>
      m.copy(
        rangeDeletes = m.rangeDeletes.map(d =>
          if (d.column == from) d.copy(column = to) else d),
        eqDeletes = m.eqDeletes.map(d =>
          d.copy(cols = d.cols.map(c => if (c == from) to else c))),
        schemaChanges = m.schemaChanges :+
          SchemaChange("rename", from, to, "", v))
    }
  }

  /** WIDEN a column's type (`int→long` family → `"long"`,
    * `float→double` → `"double"`) — metadata-only like
    * [[renameColumn]]: old files cast at read, compaction folds.
    * Appends after the widen should write the widened type; narrower
    * appends still read correctly through Spark's union coercion. */
  def widenColumn(spark: SparkSession, table: String,
                  column: String, toTyp: String): Long = {
    require(toTyp == "long" || toTyp == "double",
      s"widen target must be 'long' or 'double', got '$toTyp'")
    val base = writeBase(spark, table)
    require(!isPartitionColumn(base, column),
      s"'$column' is a partition column — its values live in the " +
        "directory layout; rewrite via compact instead")
    val schema = readLive(spark, table, base, base.files).schema
    val field = schema.find(_.name == column).getOrElse(
      throw new IllegalArgumentException(s"no column '$column' in " +
        schema.fieldNames.mkString("[", ", ", "]")))
    val ok = (field.dataType, toTyp) match {
      case (ByteType | ShortType | IntegerType | LongType, "long") => true
      case (FloatType | DoubleType, "double") => true
      case _ => false
    }
    require(ok, s"cannot widen ${field.dataType} to $toTyp — only " +
      "int-family to long and float-family to double are lossless")
    commitMetadata(spark, table, base, "widen", "schema") { (m, v) =>
      m.copy(schemaChanges = m.schemaChanges :+
        SchemaChange("widen", column, column, toTyp, v))
    }
  }

  /** DROP a column — metadata-only: reads of pre-drop files project
    * it away; compaction folds the removal into real files (after
    * which [[expire]] reclaims the old files and the bytes are
    * truly gone). Pending equality deletes keyed on the column block
    * the drop (they could no longer be applied) — compact first.
    * Partition columns cannot drop (directory layout). */
  def dropColumn(spark: SparkSession, table: String,
                 column: String): Long = {
    val base = writeBase(spark, table)
    require(!isPartitionColumn(base, column),
      s"'$column' is a partition column — rewrite via compact instead")
    require(!base.eqDeletes.exists(_.cols.contains(column)) &&
      !base.rangeDeletes.exists(_.column == column),
      s"pending merge-on-read deletes reference '$column' — compact " +
        "to fold them before dropping the column")
    val cur = readLive(spark, table, base, base.files).columns.toSeq
    require(cur.contains(column), s"no column '$column' in $table " +
      cur.mkString("[", ", ", "]"))
    require(cur.size > 1, s"cannot drop the only column of $table")
    commitMetadata(spark, table, base, "drop", "schema") { (m, v) =>
      m.copy(schemaChanges = m.schemaChanges :+
        SchemaChange("drop", column, "", "", v))
    }
  }

  /** PARTITION EVOLUTION — change the table's partition layout as a
    * METADATA-ONLY commit (action `layout`, zero files touched,
    * asserted by the oracle): subsequent appends must match the NEW
    * layout ([[appendPartitioned]] validates against it), while files
    * written under the OLD layout stay readable through their own
    * directory scheme ([[readFiles]]'s per-commit `basePath` groups —
    * partition columns parse per group and union as ordinary columns,
    * the Iceberg spec-evolution semantic). Facet-filtered reads
    * partition-prune the new-layout files immediately; old-layout
    * files answer through their data columns (and manifest stats,
    * when tracked) until [[compact]] folds the whole table into the
    * new layout — compaction always re-stages under the DECLARED
    * layout, so one maintenance pass completes the migration.
    * Repartitioning to `Nil` declares the table flat. Partition
    * columns must exist in the current schema; keep them at
    * directory-count sanity (the [[appendPartitioned]] contract). */
  def repartitionTable(spark: SparkSession, table: String,
                       partitionCols: Seq[String]): Long = {
    val base = writeBase(spark, table)
    if (declaredLayout(base) == partitionCols) return base.version
    val cur = readLive(spark, table, base, base.files).columns.toSeq
    partitionCols.foreach(c => require(cur.contains(c),
      s"no column '$c' in $table " + cur.mkString("[", ", ", "]")))
    commitMetadata(spark, table, base, "repartition", "layout") {
      (m, _) => m.copy(layout = Some(partitionCols)) }
  }

  /** A METADATA-ONLY commit on main: `base`'s rows, files and pending
    * entries as version `v` under `action`, then `edit` applied. The
    * change was validated against `base`, so a head that moved since
    * aborts loudly (`op` names the change in the message). */
  private def commitMetadata(spark: SparkSession, table: String,
                             base: Manifest, op: String, action: String)
                            (edit: (Manifest, Long) => Manifest): Long =
    commitRetrying(spark, table) { (parent, v) =>
      require(parent.version == base.version,
        s"table advanced v${base.version} -> v${parent.version} during " +
          s"$op; rerun against the new snapshot")
      edit(base.copy(version = v, parent = parent.version, action = action,
        tag = ""), v)
    }.merge

  /** Row-level DELETE BY PREDICATE, MERGE-ON-READ — the arbitrary-
    * condition face of [[deleteKeysMor]]: one schema-mapped scan
    * names the matching rows' `keyCol` values, and those land as an
    * equality delete (zero data files rewritten). `keyCol` must be
    * unique per row for the predicate's matches to delete EXACTLY
    * them (a shared key value would take innocent rows with it —
    * the caller's contract, same as [[merge]]'s key); matches whose
    * key is NULL are refused loudly (an equality delete can never
    * reach them — silent survival otherwise). Rows inserted later
    * with a matched key are NOT retro-deleted (the [[EqDelete]]
    * sequence rule). Use [[deleteWhere]] when a copy-on-write
    * rewrite is acceptable and predicate-exactness on duplicate
    * keys is required. */
  def deleteWhereMor(spark: SparkSession, table: String, cond: Column,
                     keyCol: String): Long = {
    val base = writeBase(spark, table)
    val matches = readLive(spark, table, base, base.files)
      .filter(coalesce(cond, lit(false)))
    val keys = matches.select(col(keyCol)).distinct()
    // the probe that collects the key set also shows a NULL key (the
    // distinct keeps one); only past the probe cap does a NULL need a
    // scan of its own
    val sample = smallKeySample(keys)
    val nullKey = sample match {
      case Some(vs) => vs.contains(null)
      case None => !matches.filter(col(keyCol).isNull).isEmpty
    }
    require(!nullKey,
      s"matching row(s) carry a NULL '$keyCol' — an " +
        "equality delete cannot reach them; use deleteWhere " +
        "(copy-on-write) or a non-null key column")
    deleteKeys(keys, table, None, sample)
  }

  /** The typed literal a stored stat/delete repr deserializes to —
    * the exact inverse of [[reprOf]]. */
  private def reprToLit(typ: String, repr: String): Column = typ match {
    case "long" => lit(repr.toLong)
    case "double" => lit(repr.toDouble)
    case "string" => lit(repr)
    case "date" => lit(java.sql.Date.valueOf(repr))
    case "timestamp" =>
      val us = repr.toLong
      lit(java.time.Instant.ofEpochSecond(us / 1000000L,
        (us % 1000000L) * 1000L))
    case other =>
      throw new IllegalArgumentException(s"unsupported repr type $other")
  }

  /** The LIVE rows of `files` under manifest `m`: [[readFiles]] with
    * `m`'s pending merge-on-read deletes applied. A delete applies to
    * a file iff the file was staged by an EARLIER commit
    * (`file.seq < delete.seq`), so files are grouped by which deletes
    * reach them — the group count is bounded by the number of pending
    * deletes (small by construction: compaction folds them), never by
    * the file count. Range deletes become residual `NOT BETWEEN`
    * filters (codegen'd, no shuffle); equality deletes become
    * anti-joins against the key files (AQE broadcasts the small
    * side). Tables with no pending deletes pass through untouched —
    * the plan is identical to the pre-MoR one. */
  private def readLive(spark: SparkSession, table: String, m: Manifest,
                       files: Seq[FileEntry]): DataFrame = {
    if (!m.needsMapping || files.isEmpty)
      return readFiles(spark, table, files)
    val seqs = (m.rangeDeletes.map(_.seq) ++ m.eqDeletes.map(_.seq) ++
        m.schemaChanges.map(_.seq))
      .distinct.sorted
    val buckets = files.groupBy { f =>
      val i = seqs.indexWhere(_ > f.seq)
      if (i < 0) seqs.length else i
    }
    buckets.toSeq.sortBy(_._1).map { case (idx, fs) =>
      val applicable = seqs.drop(idx).toSet
      // schema changes FIRST: delete entries are rekeyed to post-change
      // names when the change commits ([[renameColumn]]), so the delete
      // filters below always see the mapped frame
      val mapped = mapSchema(readFiles(spark, table, fs),
        m.schemaChanges.filter(c => applicable.contains(c.seq)))
      // keep = outside the range, null, or NaN. This OR-of-comparisons
      // spelling (rather than NOT coalesce(BETWEEN)) is parquet-
      // PUSHDOWN-friendly: row groups inside surviving files still
      // skip. NaN keeps through `> hi` (Spark orders NaN above every
      // double), null through the explicit isNull — same rows as the
      // null-safe NOT-BETWEEN.
      val ranged = m.rangeDeletes.filter(d => applicable.contains(d.seq))
        .foldLeft(mapped) { (df, d) =>
          df.filter(col(d.column) < reprToLit(d.typ, d.lo) ||
            col(d.column) > reprToLit(d.typ, d.hi) || col(d.column).isNull)
        }
      m.eqDeletes.filter(d => applicable.contains(d.seq))
        .groupBy(_.cols).toSeq.sortBy(_._1.mkString(","))
        .foldLeft(ranged) { case (df, (cols, ds)) =>
          df.join(ds.map(d => eqDeleteKeys(spark, table, d))
            .reduce(_ unionByName _).select(cols.map(col): _*).distinct(),
            cols, "left_anti")
            // a using-column join moves the keys first: keep the
            // table's column order (names quoted: `col` parses dots)
            .select(df.columns.map(c =>
              col("`" + c.replace("`", "``") + "`")): _*)
        }
    }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** A frame written before `changes` in the shape after them: each
    * change applied in commit order to a column the frame still has —
    * rename (skipped when the target name already exists), widen (cast
    * to long or double) or drop. An unknown kind fails loudly. The one
    * schema mapping: [[readLive]] applies a file's pending changes, the
    * CDC differ a delta's in-window ones. */
  private def mapSchema(df: DataFrame,
                        changes: Seq[SchemaChange]): DataFrame =
    changes.sortBy(_.seq).foldLeft(df) { (d, c) =>
      c.kind match {
        case "rename" | "widen" | "drop" if !d.columns.contains(c.from) => d
        case "rename" =>
          if (d.columns.contains(c.to)) d else d.withColumnRenamed(c.from, c.to)
        case "widen" => d.withColumn(c.from, col(c.from).cast(
          if (c.typ == "double") DoubleType else LongType))
        case "drop" => d.drop(c.from)
        case other => throw new IllegalStateException(
          s"unknown schema change kind '$other' in manifest")
      }
    }

  /** An equality delete's key file. */
  private def eqDeleteKeys(spark: SparkSession, table: String,
                           d: EqDelete): DataFrame =
    readStaged(spark, s"$table/${d.dir}", Seq(s"$table/${d.dir}"))

  /** No rows, in the columns and types [[read]] answers at `m`: every
    * file through its commit's schema mapping ([[readLive]] without the
    * deletes, which cannot change the shape), the scan folded away
    * under the false filter. Every pruned read that keeps no file
    * answers this, so an empty answer has the live schema. */
  private def emptyRead(spark: SparkSession, table: String,
                        m: Manifest): DataFrame =
    readLive(spark, table, m.copy(rangeDeletes = Nil, eqDeletes = Nil),
      m.files).filter(lit(false))

  /** Incremental consumption: the rows appended AFTER `sinceVersion`,
    * read straight off the file-list DIFF of the two manifests — the
    * cheap CDC a downstream pipeline polls ("give me what landed since
    * my last run") with no flag columns and no data rewritten. Sound
    * only while the interval is append-only, so any rewriting action
    * ([[compact]], [[overwrite]], [[merge]], delete) in
    * `(sinceVersion, current]` throws loudly — after a rewrite, file
    * identity no longer means row identity; re-baseline on the new
    * snapshot instead of silently double-reading rewritten rows. */
  def readAppendsSince(spark: SparkSession, table: String,
                       sinceVersion: Long): DataFrame = {
    val cur = headOrFail(spark, table,
      missing = new NoSuchElementException(_))
    // a lineage walk, not version-range arithmetic, which would mix
    // branch lineages once refs exist
    val (win, since) = windowOf(spark, table, cur, sinceVersion)
    val from = since.filter(_.version > 0L).getOrElse {
      // not on the walk: a `since` never committed or expired (v0
      // included) fails as a missing snapshot, a retained one as
      // another lineage
      manifestAt(spark, table, Some(sinceVersion))
      throw new IllegalStateException(
        s"v$sinceVersion is not an ancestor of the current head " +
          s"v${cur.version} in $table (expired, or another lineage); " +
          "re-baseline the consumer on the current snapshot")
    }
    win.find(_.action != "append").foreach { m =>
      throw new IllegalStateException(
        s"v${m.version} is a '${m.action}' — the interval " +
          s"($sinceVersion, ${cur.version}] is not append-only; " +
          "re-baseline the consumer on the current snapshot")
    }
    appendDiff(spark, table, from, cur)
  }

  /** The lineage window `(since, until]`: `until` and its ancestors
    * newer than `since`, newest first, plus the manifest at `since`
    * when the walk lands on it (None: a link expired, or `since` is on
    * another lineage). */
  private def windowOf(spark: SparkSession, table: String, until: Manifest,
                       since: Long): (Seq[Manifest], Option[Manifest]) = {
    val walk = lineage(spark, table, until).buffered
    val win = Seq.newBuilder[Manifest]
    while (walk.hasNext && walk.head.version > since) win += walk.next()
    (win.result(), walk.nextOption().filter(_.version == since))
  }

  /** The rows an append-only window adds: the files of `until` that
    * `since` lacks (the manifest file diff — no old-snapshot read), or
    * [[emptyRead]] when there are none. */
  private def appendDiff(spark: SparkSession, table: String,
                         since: Manifest, until: Manifest): DataFrame = {
    val known = since.files.map(_.path).toSet
    val fresh = until.files.filterNot(f => known.contains(f.path))
    if (fresh.isEmpty) emptyRead(spark, table, until)
    else readFiles(spark, table, fresh)
  }

  /** Row-level CDC that SURVIVES REWRITES — the consumer-facing
    * superset of [[readAppendsSince]]: every table row plus a
    * `_change` column (`insert` / `delete`) describing the NET
    * change from `sinceVersion` to the current snapshot.
    *
    * Three regimes, picked automatically:
    *  - APPEND-ONLY interval → the free path: the manifest file diff
    *    ([[readAppendsSince]]), every row an `insert`, no shuffle, no
    *    old-snapshot read.
    *  - Rewrites in the interval, full chain retained → the
    *    CHAIN-WALK DIFF: each commit contributes its own delta
    *    derived from its action (appends read only fresh files,
    *    merge-on-read deletes read only the stats/bloom-pruned files
    *    they could affect, CoW commits read only the files they
    *    swapped, COMPACTION CONTRIBUTES NOTHING — it is
    *    row-count-verified value-preserving), and the weighted
    *    fingerprint combine nets everything: work scales with
    *    CHANGED rows, never table size (the Iceberg-v3 row-lineage
    *    goal, achieved from the manifest chain alone with no lineage
    *    columns stored in data files).
    *  - Chain incomplete / unknown action → the FINGERPRINT MULTISET
    *    DIFF of the two endpoint snapshots: both group by a full-row
    *    md5 ([[graft.ops.Diff.rowFingerprint]]) with counts; two
    *    snapshot scans plus one shuffle on 16-byte keys — the honest
    *    lower bound with nothing else to trust.
    *
    * All regimes share multiset semantics: a value-preserving
    * compaction diffs EMPTY and rows inserted-then-deleted inside
    * the window cancel — downstream incremental consumers ride
    * through maintenance instead of re-baselining. Columns added by
    * the interval (additive evolution) read as null on the base
    * side, so a row that merely gained a null column does NOT
    * churn. */
  def readChangesSince(spark: SparkSession, table: String,
                       sinceVersion: Long): DataFrame = {
    val cur = headOrFail(spark, table,
      missing = new NoSuchElementException(_))
    readChangesBetween(spark, table, sinceVersion, cur.version)
  }

  /** [[readChangesSince]] bounded on BOTH ends: the net row-level
    * change from `sinceVersion` to `untilVersion` (both retained) —
    * the replay/backfill spelling: a consumer that processed up to a
    * pinned version can diff any historical window without racing
    * live commits. Same two regimes as the open-ended form. */
  def readChangesBetween(spark: SparkSession, table: String,
                         sinceVersion: Long,
                         untilVersion: Long): DataFrame = {
    import org.apache.spark.sql.functions.{abs, explode, first, least,
      sequence, shiftright, struct}
    require(untilVersion >= sinceVersion,
      s"inverted interval: ($sinceVersion, $untilVersion]")
    val cur = manifestAt(spark, table, Some(untilVersion))
    // the window is a LINEAGE, not a version range (identical on a
    // linear chain; with branch refs, version numbers are shared across
    // lineages and range arithmetic would mix them). Walked exactly
    // onto `since`, the chain is trustable; an expired link or a
    // `since` on another lineage falls back to the endpoint multiset
    // diff (always correct between two states)
    val (newest, sinceManifest) = windowOf(spark, table, cur, sinceVersion)
    val win = newest.reverse
    if (sinceManifest.nonEmpty && win.forall(_.action == "append"))
      return appendDiff(spark, table, sinceManifest.get, cur)
        .withColumn("_change", lit("insert"))
    val after = prunedReadAt(spark, table, cur, _.files, None)
    val cols = after.columns.toSeq
    // IN-WINDOW schema changes must map every delta frame (and, on
    // the fallback path, the base snapshot) before fingerprinting: a
    // rename inside the window would otherwise null-fill the new name
    // on the base side (every row churns as a null-keyed delete +
    // insert), and a float->double widen changes the string rendering
    // of numerically identical values — either way a metadata-only
    // commit would emit a full-table spurious diff, breaking the
    // net-change contract. Changes are collected from EVERY manifest
    // in the window (not just `until`'s pending list — a compaction
    // inside the window folds and clears it) and applied in commit
    // order, exactly as the read path does.
    val winChanges = win.flatMap(_.schemaChanges)
      .filter(c => c.seq > sinceVersion && c.seq <= cur.version).distinct
    // conform a frame produced in the schema of `fromVersion` to the
    // until-schema: later in-window changes applied, added columns
    // null-filled, column order fixed
    def conform(df: DataFrame, fromVersion: Long): DataFrame = {
      val mapped = mapSchema(df, winChanges.filter(_.seq > fromVersion))
      cols.foldLeft(mapped) { (d, c) =>
        if (d.columns.contains(c)) d else d.withColumn(c, lit(null))
      }.select(cols.map(col): _*)
    }
    val fp = graft.ops.Diff.rowFingerprint(cols)
    // a delta frame weighted +1 (inserted rows) or -1 (deleted rows),
    // pre-aggregated by fingerprint so the global combine sums counts
    def weighted(df: DataFrame, w: Int) = df
      .groupBy(fp.as("__fp"))
      .agg((count(lit(1)) * w).cast("long").as("__w"),
        first(struct(cols.map(col): _*)).as("__row"))
    // the one combine: weighted deltas (or already-netted segment
    // frames — the same (__fp, __w, __row) shape) sum to the net
    def combine(ws: Seq[DataFrame]): DataFrame =
      ws.reduce(_ unionByName _)
        .groupBy(col("__fp"))
        .agg(sum(col("__w")).as("__w"), first(col("__row")).as("__row"))
        .filter(col("__w") =!= 0L)

    // ==CHAIN-WALK DIFF (the at-scale path)==
    // Instead of fingerprinting BOTH endpoint snapshots (O(table) no
    // matter how small the change), walk the window's commits and
    // derive each one's own delta from its action — the multiset
    // identity `until - since = Σ per-commit deltas` makes the union
    // of weighted deltas net to exactly the endpoint diff, and rows
    // inserted then deleted inside the window cancel in the combine:
    //  - compact: NOTHING — the rewrite is row-count-verified and
    //    value-preserving by construction, the whole point: a
    //    maintenance pass contributes zero diff work (the Iceberg v3
    //    row-lineage goal achieved from the manifest chain alone,
    //    with no lineage columns in the data);
    //  - schema / layout: nothing (metadata-only; conform handles
    //    rendering);
    //  - delete-mor / merge-mor: ±only the files the new delete
    //    entries can AFFECT (stats/bloom-pruned exactly like the
    //    operation's own accounting scan) plus dropped/fresh files —
    //    unaffected files have identical live sets on both sides and
    //    are never read;
    //  - append / CoW delete / merge / overwrite: ±only the files the
    //    commit swapped (removed on the parent side, staged on the
    //    child side; an append removes none); carried files are never
    //    read. overwrite degenerates to the full table — honest, it
    //    replaced it.
    // Work scales with CHANGED rows (+ the pruning-kept superset),
    // not table size. Falls back to the endpoint diff when the chain
    // is incomplete or carries an unrecognized action.
    val inert = Set("compact", "schema", "layout")
    val known = inert ++ Set("append", "delete", "merge", "overwrite",
      "delete-mor", "merge-mor")
    def side(files: Seq[FileEntry], under: Manifest,
             w: Int): Seq[DataFrame] =
      if (files.isEmpty) Nil
      else Seq(weighted(conform(readLive(spark, table, under, files),
        under.version), w))
    // commit `m`'s own delta against its lineage predecessor `parent`
    def deltas(m: Manifest, parent: Manifest): Seq[DataFrame] = {
      val childPaths = m.files.map(_.path).toSet
      val parentPaths = parent.files.map(_.path).toSet
      val removed = parent.files.filterNot(f => childPaths.contains(f.path))
      val added = m.files.filterNot(f => parentPaths.contains(f.path))
      m.action match {
        case a if inert(a) => Nil
        case "delete-mor" | "merge-mor" =>
          val newRanges = m.rangeDeletes.filter(_.seq == m.version)
          val newEqs = m.eqDeletes.filter(_.seq == m.version)
          val affected = (removed ++
            newRanges.flatMap(d =>
              keptByRangeRepr(parent.files, d.column, d.lo, d.hi,
                parent.schemaChanges)) ++
            newEqs.flatMap(d => keyHits(parent.files,
              parent.schemaChanges, d.cols,
              eqDeleteKeys(spark, table, d).distinct()))).distinctBy(_.path)
          if (newRanges.size + newEqs.size == 1) {
            // ==KILLED-ROWS SHORTCUT== (the common shape: one MoR
            // commit carries exactly ONE new delete entry): every
            // affected file is a parent file, so for a surviving one
            // child-live = parent-live − rows the new entry matches,
            // and the ± sides cancel on everything EXCEPT the matched
            // rows — emit ONLY those, weighted −1, off one pushdown-
            // filtered read (a range predicate reaches the parquet
            // scan), plus the fresh files +1. Dropped files' rows all
            // match by the wholesale-drop containment proof, so the
            // filter spelling covers them too.
            (if (affected.isEmpty) Nil else {
              val live = readLive(spark, table, parent, affected)
              val killed = newRanges.headOption match {
                case Some(d) =>
                  live.filter(col(d.column) >= reprToLit(d.typ, d.lo) &&
                    col(d.column) <= reprToLit(d.typ, d.hi))
                case None =>
                  val d = newEqs.head
                  live.join(eqDeleteKeys(spark, table, d)
                    .select(d.cols.map(col): _*).distinct(),
                    d.cols, "left_semi")
              }
              Seq(weighted(conform(killed, parent.version), -1))
            }) ++ side(added, m, 1)
          } else {
            // several new entries in one commit (no current writer
            // does this): the general two-sided spelling
            side(affected, parent, -1) ++
              side(affected.filter(f => childPaths.contains(f.path)) ++
                added, m, 1)
          }
        case _ => side(removed, parent, -1) ++ side(added, m, 1)
      }
    }
    val emptyDiff = after.filter(lit(false))
      .withColumn("_change", lit("insert"))
    val net =
      if (sinceManifest.isEmpty || !win.forall(m => known(m.action))) {
        // endpoint multiset diff: two full snapshot scans — the
        // honest lower bound when the chain cannot be trusted
        val before = conform(read(spark, table, Some(sinceVersion)),
          sinceVersion)
        combine(Seq(weighted(before, -1), weighted(after, 1)))
      } else {
        // plan-size guard: each delta-contributing commit adds a
        // grouped subtree to the union; a consumer that fell months
        // behind could otherwise hand Catalyst hundreds of them. The
        // window walks in consecutive SEGMENTS of <= MaxChainDeltas
        // delta commits (one segment, the common case, combines
        // directly); past one, each segment's net MATERIALIZES
        // (localCheckpoint — bounded by the segment's CHANGED rows,
        // and the checkpoint truncates its grouped-union subtree out
        // of the outer plan) before the next plans, then the nets sum
        // exactly like per-commit deltas (the multiset identity
        // telescopes across segments; rows inserted in one segment and
        // deleted in another still cancel). Work stays O(changed rows)
        // for arbitrarily long windows; Catalyst only ever sees
        // MaxChainDeltas grouped subtrees at once. The checkpoint
        // trades re-computability for bounded plans — a lost executor
        // during the diff recomputes the READ (rerun the poll), it
        // never corrupts it.
        val MaxChainDeltas = 24
        val steps = win.zip(sinceManifest.toSeq ++ win)
        def deltaCount(seg: Seq[(Manifest, Manifest)]) =
          seg.count(s => !inert(s._1.action))
        val segs = steps.foldLeft(Vector.empty[Vector[(Manifest, Manifest)]]) {
          (acc, step) =>
            if (acc.nonEmpty && (inert(step._1.action) ||
                deltaCount(acc.last) < MaxChainDeltas))
              acc.init :+ (acc.last :+ step)
            else acc :+ Vector(step)
        }
        val nets = segs.flatMap { seg =>
          val ws = seg.flatMap { case (m, parent) => deltas(m, parent) }
          if (ws.isEmpty) None
          else if (segs.size == 1) Some(combine(ws))
          else Some(combine(ws).localCheckpoint())
        }
        if (nets.isEmpty) return emptyDiff
        if (segs.size == 1) nets.head else combine(nets)
      }
    // per-row copies via a TWO-LEVEL expansion: a single explode of
    // sequence(1, |delta|) materializes one |delta|-long array in one
    // row — a mass-duplicate fingerprint (millions of identical rows
    // deleted at once) would be an executor memory hazard. Chunking
    // caps any materialized array at `Chunk` elements (the outer
    // level emits |delta|/Chunk chunk indexes, itself array-bounded
    // the same way only above Chunk² ≈ 4.3e9 copies of ONE row).
    val Chunk = 65536L // 2^16: shiftright is the exact integer divide
    net
      .select(col("__row"), col("__w"),
        explode(sequence(lit(0L),
          shiftright(abs(col("__w")) - 1L, 16))).as("__c"))
      .select(col("__row"), col("__w"),
        explode(sequence(lit(1L),
          least(lit(Chunk),
            abs(col("__w")) - col("__c") * Chunk))).as("__k"))
      .select(cols.map(c => col("__row." + c)) :+
        when(col("__w") > 0L, lit("insert"))
          .otherwise(lit("delete")).as("_change"): _*)
  }

  /** A DURABLE incremental consumer — the polling loop every
    * downstream pipeline writes by hand, done once: reads the
    * consumer's last-processed version from `stateDir`, hands the net
    * changes since then (via [[readChangesBetween]], so rewrites in
    * the window ride the chain-walk diff — a compaction costs the
    * consumer NOTHING — instead of breaking it) to `handler`, and
    * advances the baseline ATOMICALLY
    * (scratch + rename) only after the handler returns. The window's
    * upper bound is pinned BEFORE the handler runs — a commit racing
    * the poll lands in the next window, never half in this one.
    *
    * At-least-once: a crash after the handler but before the baseline
    * write replays the SAME `(since, until]` window next poll — the
    * window bounds are the handler's idempotence key (tag your side
    * effects with them, the [[graft.streaming.CurationStream
    * .landSnapshot]] batch-tag pattern). A first-time consumer
    * (`stateDir` empty) receives the whole current snapshot as
    * inserts. A consumer that fell behind retention (its baseline
    * expired) fails LOUDLY at resolve — re-baseline deliberately,
    * never silently skip.
    *
    * Returns the processed `(since, until]` window, or None when
    * already up to date. */
  def consumeChanges(spark: SparkSession, table: String,
                     stateDir: String)
                    (handler: DataFrame => Unit): Option[(Long, Long)] = {
    // baseline state goes through Hadoop FS ([[SidecarIo]]): a
    // consumer whose stateDir is hdfs:// or s3a:// must find its
    // baseline there — the java.nio spelling reported it absent and
    // silently re-sent the whole table as inserts every poll
    val statePath = s"$stateDir/baseline.json"
    val since: Long = SidecarIo.readJson[VersionPin](spark, statePath)
      .fold(0L)(_.version)
    val cur = headOrFail(spark, table,
      missing = new NoSuchElementException(_))
    if (cur.version <= since) return None
    val changes =
      if (since == 0L) read(spark, table, Some(cur.version))
        .withColumn("_change", lit("insert"))
      else readChangesBetween(spark, table, since, cur.version)
    handler(changes)
    SidecarIo.writeJsonAtomic(spark, statePath, VersionPin(cur.version))
    Some((since, cur.version))
  }

  // ---- read paths ------------------------------------------------------

  /** The table at `version` (default: latest committed). The returned
    * frame plans from the manifest's explicit file list — it IS the
    * pinned snapshot; later commits cannot change what it reads. */
  def read(spark: SparkSession, table: String,
           version: Option[Long] = None): DataFrame =
    prunedRead(spark, table, version, _.files, None)

  /** The one pruned read: resolve `version`'s manifest (non-empty),
    * keep the files `select` admits, and read them live under the
    * `residual` filter — or, when no file is kept, [[emptyRead]]. */
  private def prunedRead(spark: SparkSession, table: String,
                         version: Option[Long],
                         select: Manifest => Seq[FileEntry],
                         residual: Option[Column]): DataFrame =
    prunedReadAt(spark, table, manifestAt(spark, table, version), select,
      residual)

  /** [[prunedRead]] of an already resolved manifest. */
  private def prunedReadAt(spark: SparkSession, table: String, m: Manifest,
                           select: Manifest => Seq[FileEntry],
                           residual: Option[Column]): DataFrame = {
    if (m.files.isEmpty)
      throw new NoSuchElementException(s"snapshot v${m.version} is empty")
    val kept = select(m)
    if (kept.isEmpty) emptyRead(spark, table, m)
    else residual.foldLeft(readLive(spark, table, m, kept))(_.filter(_))
  }

  /** A RANGE-SELECTIVE read (`lower ≤ column ≤ upper`, both bounds
    * inclusive) that DATA-SKIPS at the manifest: files whose recorded
    * min/max cannot intersect the range are dropped from the plan
    * before Spark ever lists them — the driver-side pruning that makes
    * a selective read of a 100 TB table cost its selectivity, not its
    * size (on top of it, parquet footer pruning inside the surviving
    * files behaves as usual). Files without stats on `column` are kept
    * (conservative), so the result is EXACT for any stats coverage:
    * the residual `BETWEEN` filter is always applied. Bounds take
    * natural Scala/Java values (numbers; `yyyy-MM-dd` strings or
    * `java.sql.Date`; `java.sql.Timestamp`/`Instant`). */
  def readWhere(spark: SparkSession, table: String, column: String,
                lower: Any, upper: Any,
                version: Option[Long] = None): DataFrame =
    prunedRead(spark, table, version,
      m => keptByRange(m.files, column, lower, upper, m.schemaChanges),
      Some(col(column) >= lit(lower) && col(column) <= lit(upper)))

  /** TIME TRAVEL BY TIMESTAMP: the table as of wall-clock `tsMicros`
    * (epoch micros) — the latest committed version whose commit stamp
    * is ≤ the asked time. Resolution is by MAX VERSION among
    * qualifying manifests, so a clock-skewed later commit (NTP step
    * between writers) is included rather than silently hiding newer
    * data — commit ORDER is the truth, the timestamp is the index.
    * Throws when the asked time predates every retained commit
    * (including pre-timestamp manifests, whose stamp is 0). */
  def readAsOf(spark: SparkSession, table: String,
               tsMicros: Long): DataFrame = {
    val qualifying = mainLineage(spark, table)
      .filter(m => m.atMicros > 0L && m.atMicros <= tsMicros)
    if (qualifying.isEmpty)
      throw new NoSuchElementException(
        s"no snapshot in $table committed at or before $tsMicros " +
          "(expired, never committed, or a pre-timestamp manifest)")
    read(spark, table, Some(qualifying.map(_.version).max))
  }

  /** (files in the snapshot, files a [[readWhere]] with these bounds
    * would plan) — the observable data-skipping contract, for specs
    * and capacity math. */
  def pruneCount(spark: SparkSession, table: String, column: String,
                 lower: Any, upper: Any,
                 version: Option[Long] = None): (Int, Int) = {
    val m = manifestAt(spark, table, version)
    (m.files.size,
      keptByRange(m.files, column, lower, upper, m.schemaChanges).size)
  }

  /** A POINT-lookup read (`column = value`) that prunes at the
    * manifest with BOTH indexes: min/max range admission AND, when
    * the writer recorded one ([[append]] `bloomCols`), the per-file
    * Bloom filter — the index that matters on a table whose file key
    * ranges all overlap (any unclustered append history), where range
    * stats alone keep every file and a needle lookup would open all
    * of them. Exact for any coverage: the residual `=` filter always
    * applies, and a filterless or saturated Bloom only keeps more
    * files, never drops a matching one. */
  def readEquals(spark: SparkSession, table: String, column: String,
                 value: Any, version: Option[Long] = None): DataFrame =
    prunedRead(spark, table, version,
      m => mayHold(m.files, m.schemaChanges, column, Seq(value)),
      Some(col(column) === lit(value)))

  /** An IN-LIST read (`column IN (values)`) with the same two-index
    * manifest pruning as [[readEquals]]: a file is planned iff at
    * least ONE value is range-admitted AND bloom-possible — the
    * multi-needle lookup (entity backfills, key audits) that would
    * otherwise open every file of an overlapping-range table. Exact
    * for any coverage: the residual `isin` always applies. */
  def readIn(spark: SparkSession, table: String, column: String,
             values: Seq[Any],
             version: Option[Long] = None): DataFrame = {
    require(values.nonEmpty, "empty IN list")
    prunedRead(spark, table, version,
      m => mayHold(m.files, m.schemaChanges, column, values),
      Some(col(column).isin(values: _*)))
  }

  /** The one value probe: the files of `files` that may hold a row
    * with `column` equal to one of `values` — some value inside the
    * file's min/max AND, when the file has a Bloom filter on the column
    * and the list is within [[MaxProbeKeys]], such a value
    * Bloom-possible. Files without stats on the column keep; nulls
    * match no row (SQL `=`/`IN`, anti-join equality), so an all-null
    * list keeps nothing. Per-value work is hoisted out of the per-file
    * loop: the reprs sort once per stat type (one table shares it), so
    * each file binary-searches its range; hashes compute once per type
    * and each filter base64-decodes once. Past the cap the Bloom layer
    * is skipped: range pruning stands, a list that long hits most
    * files anyway, and every caller's residual or scan is exact.
    * Serves [[readEquals]], [[readIn]], and the key deletes', merges'
    * and their conflict tests' candidates ([[keyHits]]). */
  private def mayHold(files: Seq[FileEntry], changes: Seq[SchemaChange],
                      column: String, values: Seq[Any]): Seq[FileEntry] = {
    val vals = values.filter(_ != null)
    if (vals.isEmpty) return Nil
    final class Probe(typ: String) {
      val ord: Ordering[String] = Ordering.fromLessThan(cmp(typ, _, _) < 0)
      val reprs = vals.map(reprOf(typ, _)).sorted(ord).toIndexedSeq
      lazy val hashes = reprs.map(FileBloom.hashRepr(typ, _))
    }
    val probes = scala.collection.mutable.Map.empty[String, Probe]
    files.filter { f =>
      fileStats(f, column, changes).forall { s =>
        val p = probes.getOrElseUpdate(s.typ, new Probe(s.typ))
        val bloom =
          if (s.bloom.isEmpty || vals.size > MaxProbeKeys) null
          else java.util.Base64.getDecoder.decode(s.bloom)
        (p.reprs.search(s.min)(p.ord).insertionPoint until p.reprs.size)
          .iterator.takeWhile(i => cmp(s.typ, p.reprs(i), s.max) <= 0)
          .exists(i => bloom == null ||
            FileBloom.mayContainHash(bloom, p.hashes(i)))
      }
    }
  }

  /** (files in the snapshot, files a [[readEquals]] would open) —
    * the observable point-lookup pruning contract. */
  def equalsPruneCount(spark: SparkSession, table: String,
                       column: String, value: Any,
                       version: Option[Long] = None): (Int, Int) = {
    val m = manifestAt(spark, table, version)
    (m.files.size,
      mayHold(m.files, m.schemaChanges, column, Seq(value)).size)
  }

  /** (files in the snapshot, files a [[deleteKeysMor]] /
    * [[mergeMor]] accounting scan over `keys` would open) — the
    * observable key-list pruning contract (range envelope + Bloom). */
  def keyPruneCount(spark: SparkSession, table: String,
                    keys: DataFrame,
                    version: Option[Long] = None): (Int, Int) = {
    val m = manifestAt(spark, table, version)
    (m.files.size,
      keyHits(m.files, m.schemaChanges, keys.columns.toSeq,
        keys.distinct()).size)
  }

  private def manifestAt(spark: SparkSession, table: String,
                         version: Option[Long]): Manifest = version match {
    case Some(v) => readManifest(spark, table, v).getOrElse(
      throw new NoSuchElementException(s"no snapshot v$v in $table " +
        "(expired or never committed)"))
    case None => headOrFail(spark, table,
      missing = new NoSuchElementException(_))
  }

  /** The stats of `column` in file `f` — keyed by the name the file
    * was WRITTEN under: a rename committed after the file (`seq`
    * ordering) leaves the file's stats under the old name, so the
    * current name walks the applicable renames BACKWARD to find the
    * stored key. Keeps data skipping alive through a rename without
    * waiting for compaction to rewrite the stats. */
  private def fileStats(f: FileEntry, column: String,
                        changes: Seq[SchemaChange]): Option[ColStats] =
    f.stats.get(writtenName(f, column, changes))

  /** The name file `f` was WRITTEN under for current-schema `column`:
    * applicable renames (seq after the file) walked backward. */
  private def writtenName(f: FileEntry, column: String,
                          changes: Seq[SchemaChange]): String = {
    var name = column
    changes.filter(c => c.kind == "rename" && c.seq > f.seq)
      .sortBy(-_.seq).foreach { c =>
        if (c.to == name) name = c.from
      }
    name
  }

  /** Loud guard for the physical detection scans ([[merge]] stage 2,
    * [[deleteWhere]]'s predicate scan) that read files by CURRENT
    * column names: a pending rename would make an old file's column
    * invisible to them — [[merge]] would fail late with an analysis
    * error, [[deleteWhere]] would SILENTLY null-miss old files'
    * rows. Fold the rename (compact) before these operations. */
  private def requireUnrenamed(base: Manifest, cols: Iterable[String],
                               op: String): Unit = {
    val bad = cols.filter(c => base.files.exists(f =>
      writtenName(f, c, base.schemaChanges) != c)).toSeq.distinct
    require(bad.isEmpty,
      s"$op references ${bad.mkString("[", ", ", "]")}, renamed by a " +
        "pending schema change some files predate — compact to fold " +
        "the rename first")
  }

  /** Files whose stats ADMIT the inclusive range (plus every file
    * without stats on the column — "can't prove absent" keeps).
    * Rename-aware via [[fileStats]]. */
  private def keptByRange(files: Seq[FileEntry], column: String,
                          lower: Any, upper: Any,
                          changes: Seq[SchemaChange] = Nil)
      : Seq[FileEntry] =
    files.filter(f => fileStats(f, column, changes).forall(s =>
      admits(s, reprOf(s.typ, lower), reprOf(s.typ, upper))))

  /** [[keptByRange]] with bounds ALREADY in typed-repr form (the
    * serialization a stored [[RangeDelete]] carries) — the chain-walk
    * differ replays a delete commit's own pruning from its manifest
    * entry. */
  private def keptByRangeRepr(files: Seq[FileEntry], column: String,
                              loRepr: String, hiRepr: String,
                              changes: Seq[SchemaChange])
      : Seq[FileEntry] =
    files.filter(f =>
      fileStats(f, column, changes).forall(admits(_, loRepr, hiRepr)))

  /** Do `s`'s min/max admit some value in `[lo, hi]` (typed reprs)? */
  private def admits(s: ColStats, lo: String, hi: String): Boolean =
    cmp(s.typ, s.max, lo) >= 0 && cmp(s.typ, s.min, hi) <= 0

  /** The merge paths' SMALL-SOURCE probe: one
    * [[GlobalOrdinal.collectUpTo]] job (each task returns at most
    * `MaxProbeKeys + 1` keys; an over-cap total cancels the rest of
    * the job) classifies the source. Some(values, nulls included) =
    * the WHOLE key set is in hand, so row count, duplicate check,
    * candidate pruning and conflict tests become driver arithmetic;
    * None = over the cap (fall back to the aggregate spellings) or a
    * key type whose driver equality diverges from SQL's (binary
    * compares by reference, nested types by element identity — the
    * fast path would mis-judge distinctness). */
  private def smallKeySample(srcKeys: DataFrame): Option[Array[Any]] =
    srcKeys.schema.head.dataType match {
      case BinaryType | _: ArrayType | _: MapType | _: StructType =>
        None
      case _ =>
        GlobalOrdinal.collectUpTo(srcKeys, MaxProbeKeys).map(_.map(_.get(0)))
    }

  /** Driver-side distinct count matching SQL `count_distinct` for the
    * plain scalar key types [[smallKeySample]] admits: float/double
    * negative zeros collapse onto positive zero (SQL equality treats
    * them equal; boxed `equals` does not), and NaN already equals
    * itself under boxing exactly as under SQL aggregation. */
  private def sqlDistinctCount(vals: Array[Any]): Int =
    vals.iterator.map {
      case d: java.lang.Double if d.doubleValue == 0.0 =>
        java.lang.Double.valueOf(0.0): Any
      case f: java.lang.Float if f.floatValue == 0.0f =>
        java.lang.Float.valueOf(0.0f): Any
      case v => v
    }.toSet.size

  /** Driver-side schema cache for IMMUTABLE parquet directories (a
    * commit's `data/<uuid>` staging root and `deletes/<uuid>` key
    * dirs are written ONCE, `errorifexists`, and never change): the
    * first read of a dir infers its schema as usual; every later
    * DataFrame over the same dir passes the cached schema explicitly,
    * which skips Spark's per-`DataFrameReader.parquet` footer
    * schema-inference pass — measurably one small job plus driver
    * time PER READ on the commit-heavy operations (a merge plans the
    * same staging roots four times). Never used for mutable dirs.
    * Bounded: cleared wholesale past 4096 entries (UUID dirs are
    * per-commit; a long session would otherwise grow it forever). */
  private val stagedSchemaCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      org.apache.spark.sql.types.StructType]()

  /** Read immutable staged parquet `paths` under `basePath` with the
    * dir's cached schema (inferred once). */
  private def readStaged(spark: SparkSession, basePath: String,
                         paths: Seq[String]): DataFrame = {
    val cached = stagedSchemaCache.get(basePath)
    val r0 = spark.read.option("basePath", basePath)
    if (cached != null) r0.schema(cached).parquet(paths: _*)
    else {
      val df = r0.parquet(paths: _*)
      if (stagedSchemaCache.size > 4096) stagedSchemaCache.clear()
      stagedSchemaCache.put(basePath, df.schema)
      df
    }
  }

  /** Plan a frame over an explicit manifest file list. Partitioned
    * layouts ([[appendPartitioned]]) need one `basePath` per COMMIT
    * (Spark's partition discovery refuses multiple roots under a
    * single basePath), so files group by their `data/<uuid>` staging
    * root, each group reads with its own basePath (partition columns
    * parse from the k=v dirs, pruning binds per group), and groups
    * union. Commit-count is bounded by compaction cadence — a
    * compacted snapshot is ONE group.
    *
    * The union allows MISSING columns (ADDITIVE schema evolution: a
    * commit may introduce new columns; rows from earlier commits read
    * them as null — the Iceberg add-column semantic). The one-layout
    * rule (same partition columns on every commit, or none) is
    * enforced LOUDLY at append time, where the writer can fix it —
    * with permissive unions a read-side mismatch would otherwise
    * null-fill silently. */
  private def readFiles(spark: SparkSession, table: String,
                        files: Seq[FileEntry]): DataFrame =
    perCommit(spark, table, files)(identity)

  /** `files` read one commit group at a time (each through `f`), the
    * groups unioned by name — [[readFiles]]'s plan shape. */
  private def perCommit(spark: SparkSession, table: String,
                        files: Seq[FileEntry])
                       (f: DataFrame => DataFrame): DataFrame =
    files.groupBy(e => e.path.split('/').take(2).mkString("/")).toSeq
      .sortBy(_._1).map { case (root, fs) =>
        f(readStaged(spark, s"$table/$root", stageDirPath(table, fs)))
      }.reduce(_.unionByName(_, allowMissingColumns = true))

  /** The append-time loudness behind [[readFiles]]'s permissive
    * union: a new commit's partition layout must match the table's
    * DECLARED layout ([[repartitionTable]] evolves it; legacy tables
    * derive it from their files). */
  private def requireSameLayout(parent: Manifest,
                                partitionCols: Seq[String]): Unit = {
    if (parent.files.isEmpty && parent.layout.isEmpty) return
    val existing = declaredLayout(parent)
    require(existing == partitionCols,
      s"partition layout mismatch: table is " +
        s"${if (existing.isEmpty) "unpartitioned" else existing.mkString("[", ",", "]")}, " +
        s"append is ${if (partitionCols.isEmpty) "unpartitioned" else partitionCols.mkString("[", ",", "]")} " +
        "— repartitionTable to change the layout")
  }

  /** [[readFiles]] narrowed to `cols` (None: every column, for
    * predicate scans whose referenced columns aren't statically known)
    * plus the provenance column `__file` (the absolute file path).
    * `_metadata` only resolves on a bare file relation — it must be
    * projected per commit group BEFORE the union, so this cannot be
    * spelled as a select on [[readFiles]]'s result. */
  private def readFilesWithPath(spark: SparkSession, table: String,
                                files: Seq[FileEntry],
                                cols: Option[Seq[String]]): DataFrame =
    perCommit(spark, table, files)(df =>
      df.select(col("_metadata.file_path").as("__file") +:
        cols.getOrElse(df.columns.toSeq).map(col): _*))

  /** All committed versions, oldest first: (version, action, files,
    * rows, tag). */
  def versions(spark: SparkSession, table: String)
      : Seq[(Long, String, Int, Long, String)] =
    mainLineage(spark, table)
      .map(m => (m.version, m.action, m.files.size, m.rows, m.tag))

  def latestVersion(spark: SparkSession, table: String): Option[Long] = {
    val vs = listNumbered(spark, table, "v")
    if (vs.isEmpty) None else Some(vs.max)
  }

  // ---- branch refs (write-audit-publish) ---------------------------------
  //
  // NAMED REFS over the manifest chain (the Iceberg branch/tag model):
  // a refs file under `_snapshots/` maps branch names to head VERSIONS.
  // Refs are themselves versioned and CAS-claimed (`refs-vK.json`
  // through the same scratch + atomic-bind as manifests), so branch
  // head movement is serialized exactly like commits. A table with no
  // refs file is in LEGACY mode: its main head IS its latest version
  // and nothing below changes any behavior — refs appear only when
  // [[createBranch]] first runs.
  //
  // The workflow this exists for is WRITE-AUDIT-PUBLISH: a pipeline
  // lands risky data on an `audit` branch (invisible to every main
  // reader), the oracle/quality queries run against [[readBranch]],
  // and [[publish]] fast-forwards main to the audited head — a
  // metadata-only promotion, no data moves. In refs mode, commits
  // claim GLOBALLY unique version numbers (the claim CAS) but
  // serialize per branch on the ref advance: a commit whose branch
  // head moved underneath it deletes its claimed manifest (still
  // invisible — readers resolve through refs) and retries. A crash
  // between claim and ref-advance leaves an unreachable manifest
  // that [[expire]] sweeps past the grace horizon.

  /** A `refs-v*.json` state: branch name → head version. `v`, the
    * state's number, is its file name's, never written in the body. */
  private[sources] final case class Refs(
      @JsonDeserialize(contentAs = classOf[java.lang.Long])
      heads: Map[String, Long],
      @(JsonIgnore @getter @param) v: Long = 0L)

  private def refsName(k: Long): String = f"refs-v$k%012d.json"

  private def refsPath(table: String,
                       k: Long): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(s"$table/$SnapDir/${refsName(k)}")

  /** The current refs state, or None for a legacy (never-branched)
    * table. */
  private[sources] def refsOf(spark: SparkSession,
                              table: String): Option[Refs] =
    listNumbered(spark, table, "refs-v").maxOption.flatMap(k =>
      SidecarIo.readJson[Refs](spark, refsPath(table, k).toString)
        .map(_.copy(v = k)))

  /** CAS-write refs state `expect.v + 1`; false = lost the race
    * (re-read and retry). */
  private def writeRefsCas(spark: SparkSession, table: String,
                           expectV: Long,
                           heads: Map[String, Long]): Boolean =
    createNew(hadoopFs(spark, table), refsPath(table, expectV + 1),
      SidecarIo.mapper.writeValueAsBytes(Refs(heads)))

  /** Advance `branch` from head `from` to `to`. False = the branch
    * head is no longer `from` (a same-branch commit won — the caller
    * retries its whole commit); bind races against OTHER branches'
    * updates retry internally. */
  private def advanceRef(spark: SparkSession, table: String,
                         branch: String, from: Long,
                         to: Long): Boolean =
    casRefs(spark, table) {
      case None => throw new IllegalStateException(
        s"refs vanished from $table mid-commit — refs files are " +
          "never deleted wholesale; filesystem corruption?")
      case Some(r) =>
        if (!r.heads.get(branch).contains(from)) Left(false)
        else Right((r.heads.updated(branch, to), true))
    }

  /** The one refs update: `next` maps the current refs state (None for
    * a legacy table) to the heads to CAS-write and the value returned
    * once they land — or Left(value) to return without writing. A lost
    * CAS re-reads the refs and asks again, [[MaxRetries]] times. */
  private def casRefs[A](spark: SparkSession, table: String)
                        (next: Option[Refs] => Either[A,
                          (Map[String, Long], A)]): A = {
    var attempt = 0
    while (attempt < MaxRetries) {
      val cur = refsOf(spark, table)
      next(cur) match {
        case Left(a) => return a
        case Right((heads, a)) =>
          if (writeRefsCas(spark, table, cur.fold(0L)(_.v), heads)) return a
      }
      attempt += 1
    }
    throw new IllegalStateException(
      s"lost the refs race $MaxRetries times on $table — " +
        "pathological contention, back off and retry")
  }

  /** Create branch `name` at `at` (default: the current main head).
    * The table enters REFS MODE on first use: main's head is pinned
    * to its current latest version and every subsequent commit
    * advances its branch's ref.
    *
    * The one-time legacy->refs transition is an ADMIN operation: do
    * not race it with concurrent writers (a commit that claims its
    * manifest in the instant before the refs file first appears can
    * be stranded invisible — its writer re-checks refs after the
    * claim, which closes the window for any commit whose claim lands
    * after the refs write, but not one strictly inside it). Once the
    * table is in refs mode every operation is concurrency-safe; this
    * caveat applies only to the very first createBranch on a table
    * with live writers. */
  def createBranch(spark: SparkSession, table: String, name: String,
                   at: Option[Long] = None): Unit = {
    require(name != "main", "'main' always exists")
    require(name.nonEmpty &&
      name.forall(c => c.isLetterOrDigit || c == '-' || c == '_'),
      s"branch name must be ref-safe, got '$name'")
    casRefs(spark, table) { cur =>
      val mainHead = cur.flatMap(_.heads.get("main"))
        .getOrElse(headOrFail(spark, table).version)
      val target = at.getOrElse(mainHead)
      require(readManifest(spark, table, target).nonEmpty,
        s"no snapshot v$target in $table to branch from")
      cur.foreach(r => require(!r.heads.contains(name),
        s"branch '$name' already exists in $table"))
      Right((cur.fold(Map("main" -> mainHead))(_.heads)
        .updated(name, target), ()))
    }
  }

  /** Branch name -> head version (includes `main`); empty for a
    * legacy table (main is implicitly the latest version). */
  def branches(spark: SparkSession,
               table: String): Map[String, Long] =
    refsOf(spark, table).map(_.heads).getOrElse(Map.empty)

  /** Remove branch `name` (its exclusive manifests become orphans
    * that [[expire]] sweeps past the grace horizon). */
  def dropBranch(spark: SparkSession, table: String,
                 name: String): Unit = {
    require(name != "main", "cannot drop 'main'")
    casRefs(spark, table) { cur =>
      val r = cur.getOrElse(
        throw new NoSuchElementException(s"no branches in $table"))
      require(r.heads.contains(name), s"no branch '$name' in $table")
      Right((r.heads - name, ()))
    }
  }

  /** FAST-FORWARD PUBLISH: point main at `branch`'s head — the
    * write-audit-publish promotion, metadata-only (no data file
    * moves; main readers resolve the audited manifests on their next
    * read). Requires main's head to be an ANCESTOR of the branch
    * head (nothing landed on main since the fork); a diverged main
    * aborts loudly — re-branch and re-audit rather than silently
    * dropping main's commits. Drops the branch ref by default (its
    * manifests are now main lineage). Returns the published head. */
  def publish(spark: SparkSession, table: String, branch: String,
              keepBranch: Boolean = false): Long = {
    require(branch != "main", "publish promotes a non-main branch")
    casRefs(spark, table) { cur =>
      val r = cur.getOrElse(
        throw new NoSuchElementException(s"no branches in $table"))
      val bh = r.heads.getOrElse(branch,
        throw new NoSuchElementException(s"no branch '$branch' in " +
          table))
      val mh = r.heads.getOrElse("main",
        throw new IllegalStateException(s"refs without main in $table"))
      val head = readManifest(spark, table, bh)
      require(bh == mh || head.exists(hasAncestor(spark, table, _, mh)),
        s"main (v$mh) is not an ancestor of '$branch' (v$bh) — main " +
          "advanced since the fork; re-branch, re-audit, and publish again")
      Right(((if (keepBranch) r.heads else r.heads - branch)
        .updated("main", bh), bh))
    }
  }

  /** The branch's current table (the audit-side read of
    * write-audit-publish). `read` (no branch) always reads main. */
  def readBranch(spark: SparkSession, table: String,
                 branch: String): DataFrame = {
    val h = headVersionOf(spark, table, branch).getOrElse(
      throw new NoSuchElementException(s"no branch '$branch' in $table"))
    read(spark, table, Some(h))
  }

  /** ROLLBACK: make `branch`'s state equal the snapshot at version
    * `to` again, committed as a NEW version — metadata-only (the
    * restored files are referenced, never copied), and history-
    * preserving (the rolled-past commits stay time-travelable until
    * [[expire]] reclaims them; an audit can still read what the bad
    * commit contained). `to` must be a retained ANCESTOR of the
    * branch head — restoring a version from another lineage would
    * resurrect files with no provenance on this branch; ancestry is
    * re-proven against the fresh head on every commit retry. The
    * restored manifest carries the target's WHOLE state: files with
    * their original `seq`, pending MoR deletes, schema changes, and
    * declared layout (pinned explicitly, so a layout evolved after
    * `to` rolls back with the data), making a read of the new head
    * row-identical to `read(version = to)`. Returns the committed
    * version. */
  def rollback(spark: SparkSession, table: String, to: Long,
               branch: String = "main"): Long = {
    val target = readManifest(spark, table, to).getOrElse(
      throw new NoSuchElementException(
        s"no snapshot v$to in $table (expired or never committed)"))
    commitRetryingOn(spark, table, branch) { (parent, v) =>
      require(hasAncestor(spark, table, parent, to),
        s"v$to is not an ancestor of '$branch' head " +
          s"v${parent.version} in $table — rollback only walks this " +
          "branch's own lineage")
      Manifest(v, parent.version, "rollback", target.rows,
        target.files,
        rangeDeletes = target.rangeDeletes,
        eqDeletes = target.eqDeletes,
        schemaChanges = target.schemaChanges,
        layout = Some(declaredLayout(target)))
    }.merge
  }

  /** CHERRY-PICK: replay the PURE APPEND committed as `version`
    * (typically sitting on an audit branch that can no longer
    * fast-forward — main advanced since the fork, so [[publish]]
    * refuses) onto branch `onto`. Metadata-only: the picked commit's
    * OWN files (its file list minus its parent's) join the target
    * manifest by reference with `seq` re-stamped to the new version —
    * the rows land AS OF NOW, so MoR deletes and schema changes that
    * committed on the target in the meantime do not retro-apply to
    * them, exactly as if the original append ran today. Refused
    * loudly when:
    *  - `version` is not an append (a rewrite doesn't replay by
    *    reference — rerun the operation against the target branch);
    *  - `version` is already in the target lineage, or any picked
    *    file is already in the target head (double-counting rows);
    *  - the pick's parent-state schema changes or declared layout
    *    differ from the target head's (the staged files' shape would
    *    not match the target's read mapping).
    * Idempotent under replay via the commit tag
    * (`cherrypick-v<version>-<onto>`, scoped to the target branch).
    * Returns the committed version. */
  def cherryPick(spark: SparkSession, table: String, version: Long,
                 onto: String = "main"): Long = {
    val src = readManifest(spark, table, version).getOrElse(
      throw new NoSuchElementException(
        s"no snapshot v$version in $table (expired or never " +
          "committed)"))
    require(src.action == "append",
      s"v$version is a '${src.action}' — only pure appends replay " +
        "by reference; rerun the operation against the target branch")
    val srcParent = lineage(spark, table, src).drop(1).nextOption()
      .getOrElse(throw new IllegalStateException(
        s"v$version's parent v${src.parent} expired — the picked " +
          "files can no longer be separated from the inherited ones"))
    val inherited = srcParent.files.map(_.path).toSet
    val added = src.files.filterNot(f => inherited.contains(f.path))
    val addedRows = src.rows - srcParent.rows
    // the tag is scoped to the TARGET branch: the same source commit
    // may legitimately be picked onto two different branches, and a
    // global tag would short-circuit the second pick with the first
    // branch's version
    val tag = s"cherrypick-v$version-$onto"
    findTag(spark, table, tag) match {
      case Some(v) => return v // already picked
      case None => ()
    }
    commitRetryingOn(spark, table, onto) { (parent, v) =>
      findTag(spark, table, tag).foreach { v =>
        throw new DuplicateTag(v) }
      require(!hasAncestor(spark, table, parent, version),
        s"v$version is already in '$onto' lineage (head " +
          s"v${parent.version}) — picking it again would double its " +
          "rows")
      val dup = added.map(_.path).toSet
        .intersect(parent.files.map(_.path).toSet)
      require(dup.isEmpty,
        s"picked files already in '$onto' head: " +
          dup.take(3).mkString(", ") + " — already published or " +
          "picked")
      require(srcParent.schemaChanges == parent.schemaChanges,
        s"schema changes diverged between v$version's parent state " +
          s"and '$onto' head — the picked files' shape would not " +
          "match the target's read mapping; rerun the append against " +
          s"'$onto' instead")
      require(declaredLayout(srcParent) == declaredLayout(parent),
        s"partition layout diverged between v$version's parent " +
          s"state and '$onto' head; rerun the append against " +
          s"'$onto' instead")
      Manifest(v, parent.version, "append", parent.rows + addedRows,
        parent.files ++ added.map(_.copy(seq = v)), tag,
        rangeDeletes = parent.rangeDeletes,
        eqDeletes = parent.eqDeletes,
        schemaChanges = parent.schemaChanges)
    }.merge
  }

  /** `branch`'s head version: through refs when they exist; a legacy
    * table's main head is its latest version. */
  private def headVersionOf(spark: SparkSession, table: String,
                            branch: String): Option[Long] =
    refsOf(spark, table) match {
      case Some(r) => r.heads.get(branch)
      case None =>
        if (branch == "main") latestVersion(spark, table) else None
    }

  /** The MAIN lineage's retained manifests, ascending by version —
    * for a legacy table this is every retained manifest (identical
    * to the pre-refs behavior by construction: a linear chain's
    * lineage walk from its latest version visits every retained
    * version). */
  private def mainLineage(spark: SparkSession,
                          table: String): Seq[Manifest] =
    refsOf(spark, table) match {
      case None => listNumbered(spark, table, "v").sorted
        .flatMap(v => readManifest(spark, table, v))
      case Some(r) =>
        r.heads.get("main").toSeq.flatMap(h =>
          lineageManifests(spark, table, h))
    }

  /** The table state before its first commit: version 0, no files —
    * the parent every lineage ends on. */
  private val Root = Manifest(0L, -1L, "init", 0L, Nil)

  /** `from` and its ancestors, newest first: parent pointers followed
    * lazily (each manifest is read only when the walk asks for it),
    * ending after [[Root]] or at the first ancestor no longer retained.
    * The one place a walk dereferences `parent`. */
  private def lineage(spark: SparkSession, table: String,
                      from: Manifest): Iterator[Manifest] =
    Iterator.iterate(Option(from)) {
      case Some(m) if m.parent > 0L => readManifest(spark, table, m.parent)
      case Some(m) if m.parent == 0L => Some(Root)
      case _ => None
    }.takeWhile(_.nonEmpty).flatten

  /** Is `v` in `from`'s lineage? */
  private def hasAncestor(spark: SparkSession, table: String,
                          from: Manifest, v: Long): Boolean =
    lineage(spark, table, from).find(_.version <= v).exists(_.version == v)

  /** `head` and its retained ancestors, ascending by version. */
  private def lineageManifests(spark: SparkSession, table: String,
                               head: Long): Seq[Manifest] =
    readManifest(spark, table, head).toSeq.flatMap(m =>
      lineage(spark, table, m).takeWhile(_ ne Root)).reverse

  /** Every retained manifest reachable from SOME ref head, newest
    * first (legacy: every retained manifest) — the tag-idempotence
    * search space: an unreachable orphan (crashed mid-commit) must
    * never dedupe a replay. */
  private def reachableManifests(spark: SparkSession,
                                 table: String): Seq[Manifest] =
    refsOf(spark, table) match {
      case None => listNumbered(spark, table, "v").sorted.reverse
        .flatMap(v => readManifest(spark, table, v))
      case Some(r) =>
        val seen = scala.collection.mutable.Map.empty[Long, Manifest]
        r.heads.values.toSeq.distinct.foreach { h =>
          readManifest(spark, table, h).foreach(m =>
            lineage(spark, table, m)
              .takeWhile(a => (a ne Root) && !seen.contains(a.version))
              .foreach(a => seen(a.version) = a))
        }
        seen.values.toSeq.sortBy(-_.version)
    }

  /** Retention: keep the last `keepLast` manifests, delete older ones,
    * then sweep every file under the table not referenced by a
    * SURVIVING manifest — which removes both compacted-away data files
    * and crash orphans (staged-but-never-committed data, unclaimed
    * scratch manifests). Returns (manifests deleted, data files
    * deleted). Pinned reads of expired versions fail loudly at
    * resolve time (the documented retention contract).
    *
    * `graceMicros`: an UNREFERENCED file younger than this horizon is
    * left alone (Iceberg's orphan-file-removal shape). An in-flight
    * commit writes its staged data and `g-*.json` group files BEFORE
    * the manifest CAS binds them; a concurrent expire sweeping those
    * just-written files would leave the winning manifest referencing
    * deleted bytes — a corrupt table. The 10-minute default covers
    * any realistic stage→claim window; pass 0 only when no writer can
    * be concurrent (tests, single-writer maintenance windows). */
  def expire(spark: SparkSession, table: String,
             keepLast: Int = 2,
             graceMicros: Long = 600_000_000L): (Int, Int) = {
    require(keepLast >= 1)
    val sweepBeforeMillis =
      System.currentTimeMillis() - graceMicros / 1000L
    val fs = hadoopFs(spark, table)
    val all = listNumbered(spark, table, "v").sorted
    // refs mode: retention is PER LINEAGE — keep the newest
    // `keepLast` manifests of MAIN's lineage plus everything
    // reachable from a non-main ref (branches are short-lived audit
    // lines; publish/dropBranch releases their retention). Reachable-
    // but-old main ancestry drops immediately (as in legacy mode);
    // UNREACHABLE manifests (a crashed commit's claim, a lost ref
    // race not yet self-deleted) sweep only past the grace horizon —
    // an in-flight commit's fresh claim is invisible but not yet
    // orphaned. Legacy tables take the old count-based split exactly.
    val (keep: Seq[Long], dropNow: Seq[Long], dropGated: Seq[Long]) =
      refsOf(spark, table) match {
        case None =>
          val (d, k) = all.splitAt(math.max(0, all.size - keepLast))
          (k, d, Nil)
        case Some(r) =>
          val mainLin = r.heads.get("main").toSeq
            .flatMap(h => lineageManifests(spark, table, h))
            .map(_.version)
          val keepMain = mainLin.takeRight(keepLast)
          val branchLin = (r.heads - "main").values.toSeq.distinct
            .flatMap(h => lineageManifests(spark, table, h))
            .map(_.version)
          val keepSet = (keepMain ++ branchLin).toSet
          val reachable = (mainLin ++ branchLin).toSet
          (all.filter(keepSet),
           all.filter(v => reachable(v) && !keepSet(v)),
           all.filterNot(reachable))
      }
    val drop = dropNow // legacy naming for the returned count
    dropNow.foreach(v => fs.delete(manifestPath(table, v), false))
    var droppedGated = 0
    dropGated.foreach { v =>
      val p = manifestPath(table, v)
      if (fs.exists(p) &&
          fs.getFileStatus(p).getModificationTime < sweepBeforeMillis) {
        if (fs.delete(p, false)) droppedGated += 1
      }
    }
    val keptFiles = keep.flatMap(manifestFileOf(spark, table, _))
    val keptManifests = keptFiles.map(manifestOf(spark, table, _))
    val live: Set[String] =
      keptManifests.flatMap(_.files.map(_.path)).toSet
    // equality-delete key directories a retained manifest still
    // applies at read time are metadata-live exactly like data files
    val liveDeleteDirs: Seq[String] =
      keptManifests.flatMap(_.eqDeletes.map(_.dir)).distinct
    // group files referenced by a RETAINED manifest survive the
    // _snapshots sweep (the manifest-list layer's metadata liveness)
    val liveGroups: Set[String] = keptFiles.flatMap(_.groups).toSet
    val liveRefs: Set[String] =
      listNumbered(spark, table, "refs-v").maxOption.map(refsName).toSet
    val root = new org.apache.hadoop.fs.Path(table)
    val rootUri = root.toUri.getPath.stripSuffix("/")
    var removed = 0
    val it = fs.listFiles(root, true)
    val doomed = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.hadoop.fs.Path]
    while (it.hasNext) {
      val f = it.next()
      val rel = f.getPath.toUri.getPath.stripPrefix(rootUri)
        .stripPrefix("/")
      val isMeta = f.getPath.getName.startsWith("_") ||
        f.getPath.getName.startsWith(".")
      // inside the grace horizon an unreferenced file may be an
      // in-flight commit's staged data or pre-CAS group file — not
      // yet bound, not yet orphaned; sweeping it would corrupt the
      // commit the moment its manifest claims
      val oldEnough = f.getModificationTime < sweepBeforeMillis
      if (rel.startsWith(SnapDir + "/")) {
        // under _snapshots, retained vN.json names and their group
        // files survive; dropped manifests' groups, orphan groups
        // from lost races, and .tmp-* scratch bodies are swept here
        val isLiveManifest =
          keep.exists(v => rel == s"$SnapDir/${manifestName(v)}")
        val isLiveGroup =
          liveGroups.contains(rel.stripPrefix(SnapDir + "/"))
        // the CURRENT refs file is the table's branch state — always
        // live; superseded refs-v files sweep like lost-race scratch
        val isLiveRefs = liveRefs.contains(
          rel.stripPrefix(SnapDir + "/"))
        if (!isLiveManifest && !isLiveGroup && !isLiveRefs && oldEnough)
          doomed += f.getPath
      } else if (!isMeta && !live.contains(rel) && oldEnough &&
          !liveDeleteDirs.exists(d => rel.startsWith(d + "/"))) {
        // a DATA file no surviving manifest references: compacted-away
        // or a crash orphan (write markers like _SUCCESS are left
        // alone — they are not data and cost nothing)
        doomed += f.getPath
      }
    }
    doomed.foreach { p =>
      if (fs.delete(p, false)) {
        val rel = p.toUri.getPath.stripPrefix(rootUri).stripPrefix("/")
        if (!rel.startsWith(SnapDir + "/")) removed += 1
      }
    }
    (drop.size + droppedGated, removed)
  }

  /** Retention by TIME — the production spelling of [[expire]]:
    * drop every manifest committed before `tsMicros` (keeping at
    * least `minKeepLast` newest regardless, so a quiet table never
    * expires itself empty), then sweep unreferenced files as
    * [[expire]] does. Manifests from before the timestamp field
    * (stamp 0) count as older-than-everything. */
  def expireOlderThan(spark: SparkSession, table: String,
                      tsMicros: Long,
                      minKeepLast: Int = 1,
                      graceMicros: Long = 600_000_000L): (Int, Int) = {
    require(minKeepLast >= 1)
    // Select the keep set by STAMP, not by counting recent manifests:
    // under the clock skew readAsOf tolerates (stamps 100, 50, 200
    // with cutoff 90), count-the-newest would expire a manifest
    // stamped at/after the cutoff while a pre-cutoff one survives.
    // Keep every version >= the OLDEST version whose stamp clears the
    // cutoff (versions are the commit order; a skewed early stamp on
    // a later version keeps that version too, which errs retentive —
    // the safe direction).
    val manifests = listNumbered(spark, table, "v").sorted
      .flatMap(v => readManifest(spark, table, v))
    val firstRecent = manifests.find(_.atMicros >= tsMicros)
      .map(_.version)
    val keepLast = firstRecent match {
      case Some(v) => manifests.count(_.version >= v)
      case None => 0
    }
    expire(spark, table, keepLast = math.max(minKeepLast, keepLast),
      graceMicros = graceMicros)
  }

  // ---- commit protocol internals ----------------------------------------

  /** Write `df` into a fresh `data/<uuid>/` staging dir (optionally
    * Hive-partitioned inside it); returns the table-relative entries.
    * Staged files are invisible until a manifest referencing them is
    * claimed.
    *
    * `bloomCols` additionally enables PARQUET FOOTER Bloom filters
    * (`parquet.bloom.filter.enabled#<col>`) inside each staged file —
    * the IN-FILE point-pruning layer below the manifest's
    * [[FileBloom]]: the manifest filter refuses files past ~12 K
    * distinct keys ([[FileBloom.fold]]'s saturation cutoff, defending
    * the manifest byte budget), and for exactly those large files the
    * footer filter lets the parquet reader skip ROW GROUPS a probed
    * key provably misses — the same manifest/puffin split Iceberg
    * makes. Footer filters ride the data file (no manifest bytes),
    * are sized by parquet per row group, and parquet's reader applies
    * them automatically under pushed-down equality/IN predicates.
    *
    * FLOAT/DOUBLE columns never get a footer filter: parquet hashes
    * raw IEEE bits with no -0.0/+0.0 normalization, so a file holding
    * -0.0 would bloom-reject a `= 0.0` probe and the reader would
    * silently SKIP matching rows — a false negative, the one failure
    * a Bloom layer must never have. (The manifest's [[FileBloom]]
    * normalizes before hashing, so doubles keep manifest-level
    * pruning; they just don't get the in-file layer.) */
  private def stage(spark: SparkSession, df: DataFrame, table: String,
                    partitionCols: Seq[String] = Nil,
                    bloomCols: Seq[String] = Nil): Seq[FileEntry] = {
    val commitId = java.util.UUID.randomUUID().toString
    val rel = s"data/$commitId"
    val dst = s"$table/$rel"
    // FileOutputCommitter v2: task outputs move to the destination at
    // task commit (one rename per file) instead of v1's second
    // job-commit rename pass. v2 trades away job-level atomicity —
    // which THIS writer never relied on: a staging dir is garbage
    // until the manifest CAS publishes it, and a partially-written
    // dir is simply never referenced (the same reasoning Iceberg
    // applies to its own staging writes).
    val writer0 = df.write.mode("errorifexists")
      .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
    val footerSafe = bloomCols.distinct.filter(c =>
      df.schema.find(_.name == c).forall(f => f.dataType match {
        case FloatType | DoubleType => false
        case _ => true
      }))
    val writer = footerSafe.foldLeft(writer0)((w, c) =>
      w.option(s"parquet.bloom.filter.enabled#$c", "true"))
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*)
     else writer).parquet(dst)
    val fs = hadoopFs(spark, table)
    val dstUri = new org.apache.hadoop.fs.Path(dst).toUri.getPath
      .stripSuffix("/")
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(dst), true)
    val entries = scala.collection.mutable.ArrayBuffer.empty[FileEntry]
    while (it.hasNext) {
      val f = it.next()
      val sub = f.getPath.toUri.getPath.stripPrefix(dstUri)
        .stripPrefix("/")
      val isData = !sub.split('/').exists(s =>
        s.startsWith("_") || s.startsWith("."))
      if (isData) entries += FileEntry(s"$rel/$sub", f.getLen)
    }
    require(entries.nonEmpty, s"staging wrote no data files under $dst")
    // seed the immutable-dir schema cache with the WRITER's schema:
    // the first read-back of a new staging dir (the stats gather at
    // append time, a rewrite's readLive, the CDC differ) otherwise
    // pays parquet schema inference — one small RDD job PER NEW DIR,
    // the per-append extra job the job census shows. Parquet
    // round-trips Spark's types and required/optional nullability, so
    // the seeded schema is what inference would return. Partitioned
    // dirs are NOT seeded: read-back moves partition columns to the
    // tail and re-infers their types from the k=v paths — only
    // inference knows that shape.
    if (partitionCols.isEmpty) {
      if (stagedSchemaCache.size > 4096) stagedSchemaCache.clear()
      stagedSchemaCache.put(dst, df.schema)
    }
    entries.sortBy(_.path).toSeq
  }

  /** CONFLICT-SCOPED revalidation for rewrite commits ([[compact]],
    * [[merge]], [[mergeMor]], the deletes): when the table advanced
    * from the `base` a rewrite was computed against to `parent`, the
    * rewrite is still COMMITTABLE iff every interleaved commit is a
    * PURE APPEND that (a) left the rewrite's whole basis live and
    * untouched (every base file still in the parent, byte-identical
    * entry), (b) carried no new deletes, schema changes, or layout
    * change, and (c) appended no file the rewrite's row set could
    * OVERLAP — the caller's `conflicts` predicate, proven from
    * manifest stats/Blooms (a compaction overlaps nothing; a merge
    * conflicts with appends that might contain its keys; a range
    * delete with appends inside its range). The Iceberg
    * revalidate-and-retry shape: maintenance no longer starves under
    * a steady append stream (one commit per streaming micro-batch is
    * the normal state of a landed table, not a pathology).
    *
    * Returns the appended entries to CARRY FORWARD into the rewrite's
    * manifest (their `seq` unchanged — they stay newer than every
    * folded delete/schema change, so dropping those entries from a
    * compacted manifest remains sound for them), or None on a genuine
    * conflict (the caller aborts loudly, exactly as before). Walks
    * parent POINTERS, not version arithmetic, so the check stays
    * correct if lineages ever interleave version numbers. */
  private def carriableAppends(spark: SparkSession, table: String,
                               base: Manifest, parent: Manifest,
                               conflicts: Seq[FileEntry] => Boolean)
      : Option[Seq[FileEntry]] = {
    if (parent.version == base.version) return Some(Nil)
    // every commit since `base` a pure append, down to `base` itself (a
    // chain gap or another lineage cannot be proven: abort)
    if (!lineage(spark, table, parent)
          .dropWhile(m => m.version > base.version && m.action == "append")
          .nextOption().exists(_.version == base.version)) return None
    val baseByPath = base.files.map(f => f.path -> f).toMap
    val parentByPath = parent.files.map(f => f.path -> f).toMap
    val basisIntact = baseByPath.forall { case (p, f) =>
      parentByPath.get(p).contains(f) }
    if (!basisIntact) return None
    if (parent.rangeDeletes != base.rangeDeletes ||
        parent.eqDeletes != base.eqDeletes ||
        parent.schemaChanges != base.schemaChanges ||
        declaredLayout(parent) != declaredLayout(base)) return None
    val appended =
      parent.files.filterNot(f => baseByPath.contains(f.path))
    if (conflicts(appended)) None else Some(appended)
  }

  /** Test seam: consumed (reset to no-op) and invoked once at the
    * start of a commit's CAS loop — SnapshotSpec injects a mid-flight
    * append here to exercise the conflict-scoped retry
    * deterministically. Never set in production code. */
  private[sources] var onCommitAttempt: () => Unit = () => ()

  /** Optimistic-concurrency commit: build the manifest against the
    * current parent, CAS-claim `v(parent+1)`; on a lost race re-read
    * the parent and retry (bounded). Right(v) = this writer committed
    * v; Left(v) = the builder detected its work already landed as v
    * (the [[DuplicateTag]] idempotence path). */
  private def commitRetrying(spark: SparkSession, table: String)
                            (build: (Manifest, Long) => Manifest)
      : Either[Long, Long] =
    commitRetryingOn(spark, table, "main")(build)

  /** [[commitRetrying]] targeted at a BRANCH: the parent is the
    * branch head, the claimed version number is globally unique
    * (max retained version + 1 — identical to `parent.version + 1`
    * for a legacy table, where main's head IS the latest version),
    * and in refs mode the commit serializes on the REF advance: once
    * version numbers are shared across branches, winning the
    * manifest-name CAS no longer proves this branch's head is
    * unmoved, so a claimed manifest whose branch head advanced
    * underneath it is deleted (unreachable — readers resolve through
    * refs, so no reader ever saw it) and the commit retries against
    * the new head. The builder receives `(parent, v)`: the manifest
    * it returns must carry version `v` and stamp staged files'
    * `seq = v`. */
  private def commitRetryingOn(spark: SparkSession, table: String,
                               branch: String)
                              (build: (Manifest, Long) => Manifest)
      : Either[Long, Long] = {
    val hook = onCommitAttempt
    onCommitAttempt = () => ()
    hook()
    var attempt = 0
    while (attempt < MaxRetries) {
      val refs0 = refsOf(spark, table)
      val parent: Manifest =
        (refs0 match {
          case Some(r) =>
            val h = r.heads.getOrElse(branch,
              throw new NoSuchElementException(
                s"no branch '$branch' in $table (createBranch first)"))
            readManifest(spark, table, h)
          case None =>
            if (branch != "main") throw new NoSuchElementException(
              s"no branch '$branch' in $table (createBranch first)")
            currentManifest(spark, table)
        }).getOrElse(Root)
      val nextV = math.max(
        latestVersion(spark, table).getOrElse(0L), parent.version) + 1
      val now = java.time.Instant.now()
      val next =
        try {
          val built = build(parent, nextV)
          built.copy(atMicros =
            now.getEpochSecond * 1000000L + now.getNano / 1000L,
            // the declared layout is table CONFIG: every commit
            // carries it unless the builder set a new one
            // ([[repartitionTable]])
            layout = built.layout.orElse(parent.layout))
        }
        catch { case d: DuplicateTag => return Left(d.version) }
      if (claim(spark, table, next)) {
        // re-check refs AFTER the claim: paired with createBranch's
        // healing pass, this closes the refs-initialization race (a
        // commit that claimed while refs appeared either sees them
        // here and advances its ref, or is seen by the healer)
        refsOf(spark, table) match {
          case None => return Right(next.version) // legacy: done
          case Some(_) =>
            if (advanceRef(spark, table, branch, parent.version,
                next.version))
              return Right(next.version)
            // branch head moved underneath the claim: remove the
            // unreachable manifest and retry against the new head
            hadoopFs(spark, table)
              .delete(manifestPath(table, next.version), false)
        }
      }
      attempt += 1
    }
    throw new IllegalStateException(
      s"lost the commit race $MaxRetries times on $table — " +
        "pathological contention, back off and retry")
  }

  /** Write the manifest file, then atomically claim its version name
    * ([[createNew]]). True iff this writer won the version. */
  private[sources] def claim(spark: SparkSession, table: String,
                             m: Manifest): Boolean = {
    val fs = hadoopFs(spark, table)
    // MANIFEST SPLITTING (the Iceberg manifest-list move): the file
    // list lands as content-addressed per-commit GROUP files; the
    // version manifest only lists their names. An append therefore
    // writes O(new files) of metadata — every carried group already
    // exists under its content hash and is reused by name — where the
    // inline spelling rewrote the ENTIRE table list (~80 MB at 800 K
    // files) on every commit. A lost CAS race leaves the same groups
    // on disk for the retry to reuse (content-addressed = idempotent);
    // groups no retained manifest references are swept by [[expire]].
    val groups = writeGroups(fs, table, m.files)
    createNew(fs, manifestPath(table, m.version),
      SidecarIo.mapper.writeValueAsBytes(ManifestFile(m.version,
        m.parent, m.action, m.rows, m.tag, m.atMicros, m.layout, groups,
        None, m.rangeDeletes, m.eqDeletes, m.schemaChanges)))
  }

  /** Create `dst` holding `bytes`, failing (false) if `dst` already
    * exists — the one commit CAS, for manifests, refs and group files.
    * The body lands complete under a scratch name first, then binds
    * atomically: hard-link on local filesystems (POSIX link(2) fails
    * atomically with EEXIST — java renameTo would REPLACE),
    * rename-without-replace elsewhere (the HDFS atomic-rename
    * contract). A reader never sees a torn body. */
  private def createNew(fs: org.apache.hadoop.fs.FileSystem,
                        dst: org.apache.hadoop.fs.Path,
                        bytes: Array[Byte]): Boolean = {
    fs.mkdirs(dst.getParent)
    val scratch = new org.apache.hadoop.fs.Path(dst.getParent,
      s".tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(scratch, false)
    try out.write(bytes) finally out.close()
    try {
      if ("file" == dst.toUri.getScheme ||
          fs.isInstanceOf[org.apache.hadoop.fs.LocalFileSystem] ||
          fs.isInstanceOf[org.apache.hadoop.fs.RawLocalFileSystem]) {
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(dst.toUri.getPath),
            java.nio.file.Paths.get(scratch.toUri.getPath))
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      } else !fs.exists(dst) && fs.rename(scratch, dst)
    } finally fs.delete(scratch, false)
  }

  /** Write (or reuse) one content-addressed group file per commit
    * root, preserving first-appearance order; returns the ordered
    * group names. A group's name is the sha-256 of its canonical
    * content, so identical lists — a carried group, a lost-race retry
    * — resolve to the SAME file and only genuinely new groups write. */
  private def writeGroups(fs: org.apache.hadoop.fs.FileSystem,
                          table: String,
                          files: Seq[FileEntry]): Seq[String] =
    files.zipWithIndex
      .groupBy { case (f, _) => f.path.split('/').take(2).mkString("/") }
      .values.toSeq.sortBy(_.head._2)
      .map { group =>
        val body = SidecarIo.mapper.writeValueAsBytes(group.map(_._1))
        val sha = java.security.MessageDigest.getInstance("SHA-256")
          .digest(body).map("%02x".format(_)).mkString.take(32)
        val name = s"g-$sha.json"
        val dst = new org.apache.hadoop.fs.Path(s"$table/$SnapDir/$name")
        if (!fs.exists(dst))
          createNew(fs, dst, body) // loser = identical content, fine
        name
      }

  // ---- per-file index -----------------------------------------------------

  /** Per-file bytes ceiling for the DRIVER-SIDE Bloom build: when
    * every staged file is below it, the footer pass that gathers rows
    * and stats also reads the Bloom columns ([[ParquetFooter.read]])
    * and hashes each value with the SAME kernel Spark's `xxhash64`
    * runs ([[FileBloom.hasher]]) — zero Spark jobs for the
    * micro-batch/fixture-sized commits where the job-launch overhead
    * dwarfs the hashing. Otherwise (real at-scale files) one
    * distributed aggregate per column builds them. `private[sources]`
    * so the parity spec can force the Spark path and compare filters
    * byte-for-byte. */
  private[sources] var bloomDriverMaxBytes: Long = 8L << 20

  /** The per-file index of freshly staged `entries`, built in ONE
    * pass: each file's footer is opened once for its row count and
    * the stats of `statsCols` (the Iceberg approach: the writer
    * already computed per-row-group min/max/null-count/row-count, a
    * commit just collects them — O(files in THIS commit), no Spark
    * job), and, on the driver branch ([[bloomDriverMaxBytes]]), the
    * same open reads the `bloomCols` values in one projected pass.
    * Returns the entries and their total footer row count.
    *
    * Footer stats are BOUNDS, and every consumer only needs bounds:
    * [[readWhere]] keeps a superset and re-filters, [[merge]]
    * over-candidates then key-scans, and [[deleteRange]]'s wholesale
    * drop demands containment, which wider bounds only make harder.
    * Partition columns never appear in the file body: their stats are
    * the constant `k=v` value from the staging path, and their
    * filters come from the distributed aggregate, which reads them
    * through partition discovery. A file with no stats on a column
    * (all-null slice, unusable footer stats) gets no filter and is
    * never pruned by it. */
  private def indexStaged(spark: SparkSession, table: String,
                          entries: Seq[FileEntry], statsCols: Seq[String],
                          bloomCols: Seq[String]): (Seq[FileEntry], Long) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val typed: Seq[(String, String)] =
      if (statsCols.isEmpty) Nil
      else {
        val schema = readFiles(spark, table, entries).schema // footers
        statsCols.map { c =>
          val field = schema.find(_.name == c).getOrElse(
            throw new IllegalArgumentException(
              s"stats column '$c' not in table schema " +
                schema.fieldNames.mkString("[", ", ", "]")))
          val typ = statTyp(field.dataType).getOrElse(
            throw new IllegalArgumentException(
              s"stats unsupported for '$c': " +
                s"${field.dataType.simpleString} (supported: integral, " +
                "float/double, string, date, timestamp)"))
          (c, typ)
        }
      }
    val blooms = bloomCols.distinct
    val onDriver =
      if (entries.forall(_.bytes < bloomDriverMaxBytes))
        blooms.filter(c => entries.forall(e =>
          partitionPathValue(e.path, c).isEmpty)).toSet
      else Set.empty[String]
    val read = entries.map { e =>
      val facts = ParquetFooter.read(conf, s"$table/${e.path}",
        typed.filter(c => partitionPathValue(e.path, c._1).isEmpty),
        onDriver)
      val stats =
        if (facts.rows == 0L) Map.empty[String, ColStats]
        else typed.flatMap { case (c, t) =>
          partitionPathValue(e.path, c) match {
            case Some(v) => pathStat(v, t, facts.rows).map(c -> _)
            case None => facts.stats.get(c).map(c -> _)
          }
        }.toMap
      (e.copy(stats = stats, rows = facts.rows), facts.positions)
    }
    val distributed = blooms.filterNot(onDriver).flatMap(c =>
      read.flatMap(_._1.stats.get(c)).headOption.map(st =>
        c -> distributedPositions(spark, table, read.map(_._1), c, st.typ)))
      .toMap
    (read.map { case (e, driverBuilt) =>
      e.copy(stats = e.stats.map { case (c, st) =>
        val ps = driverBuilt.get(c)
          .orElse(distributed.get(c).flatMap(_.get(e.path)))
        c -> ps.flatMap(FileBloom.fold).fold(st)(b => st.copy(bloom = b))
      })
    }, read.map(_._1.rows).sum)
  }

  /** The distributed Bloom build for column `c` (stat type `typ`):
    * one narrow aggregate over ONLY these files — each value hashes
    * once through Spark's `xxhash64` over [[FileBloom.canonExpr]],
    * expands to its K positions mod [[FileBloom.MaxBits]], and
    * `collect_set` per file returns the bounded position sets. Keyed
    * by entry path. */
  private def distributedPositions(spark: SparkSession, table: String,
                                   entries: Seq[FileEntry], c: String,
                                   typ: String): Map[String, Seq[Int]] = {
    import org.apache.spark.sql.functions.{array, collect_set, explode,
      xxhash64}
    val byFile = readFilesWithPath(spark, table, entries, Some(Seq(c)))
      .filter(col(c).isNotNull)
      .select(col("__file"),
        explode(array(FileBloom.positionExprs(xxhash64(
          FileBloom.canonExpr(col(c), typ))): _*)).as("__pos"))
      .groupBy(col("__file"))
      .agg(collect_set(col("__pos")).as("ps"))
      .collect().map(r => r.getString(0) -> r.getSeq[Int](1)).toMap
    byEntryPath(entries, byFile.keys).map { case (p, a) => p -> byFile(a) }
  }

  /** The Bloom coverage of an existing snapshot under the current
    * schema — the columns a rewrite ([[compact]], [[merge]]) must
    * re-filter, exactly as [[currentStatsColsOf]] is the stats
    * coverage. */
  private def currentBloomColsOf(m: Manifest): Seq[String] = {
    val changes = m.schemaChanges.sortBy(_.seq)
    m.files.flatMap { f =>
      f.stats.collect { case (k0, st) if st.bloom.nonEmpty => k0 }
        .flatMap(k0 => currentName(f, k0, changes))
    }.distinct.sorted
  }

  /** Exact LIVE row count of `files` from manifest metadata alone,
    * when provable: every file carries a footer row count
    * ([[FileEntry.rows]]) and no pending range/equality delete
    * APPLIES to it (`d.seq > f.seq` — the sequence rule; an
    * applicable delete makes live ≠ raw). None → the caller pays the
    * scan it always paid. Guide §1.2: don't run a job whose answer
    * the commit already wrote down. */
  private def liveRowsFromMeta(m: Manifest,
                               files: Seq[FileEntry]): Option[Long] = {
    val delSeqs = m.rangeDeletes.map(_.seq) ++ m.eqDeletes.map(_.seq)
    var tot = 0L
    files.foreach { f =>
      if (f.rows < 0L || delSeqs.exists(_ > f.seq)) return None
      tot += f.rows
    }
    Some(tot)
  }

  /** The `k=v` value a staging path carries for a partition column
    * (`data/<uuid>/k=v/.../file`), if any. */
  private def partitionPathValue(path: String,
                                 c: String): Option[String] =
    path.split('/').drop(2).dropRight(1)
      .find(_.startsWith(c + "="))
      .map(seg => ParquetFooter.unescapePathName(seg.substring(c.length + 1)))

  /** Constant stats for a partition column: min = max = the directory
    * value, zero nulls (a Hive null partition spells
    * `__HIVE_DEFAULT_PARTITION__`, which returns absent instead). */
  private def pathStat(v: String, typ: String,
                       rows: Long): Option[ColStats] = {
    if (v == "__HIVE_DEFAULT_PARTITION__") return None
    val repr = typ match {
      case "long" => scala.util.Try(v.toLong.toString).toOption
      case "double" => scala.util.Try(v.toDouble.toString).toOption
      case "string" | "date" => Some(v)
      case _ => None // timestamp partition dirs: not worth the parse
    }
    repr.map(r => ColStats(r, r, typ, 0L))
  }

  /** The tracked stats columns of a manifest under the CURRENT
    * schema: each file's stat keys walked through the schema changes
    * that apply to it (renames follow, dropped columns leave the
    * tracked set) — what a rewrite under the current schema must
    * re-gather. */
  private def currentStatsColsOf(m: Manifest): Seq[String] = {
    val changes = m.schemaChanges.sortBy(_.seq)
    m.files.flatMap { f =>
      f.stats.keys.flatMap(k0 => currentName(f, k0, changes))
    }.distinct.sorted
  }

  /** The CURRENT-schema name of file `f`'s written column `k0`:
    * schema changes staged after the file walked FORWARD (renames
    * follow; a drop ends the column's life — None). The inverse
    * direction of [[writtenName]]. `changes` must be seq-sorted. */
  private def currentName(f: FileEntry, k0: String,
                          changes: Seq[SchemaChange]): Option[String] =
    changes.foldLeft(Option(k0)) { (acc, c) =>
      acc.flatMap { name =>
        if (c.seq <= f.seq) Some(name)
        else c.kind match {
          case "rename" => Some(if (name == c.from) c.to else name)
          case "drop" => if (name == c.from) None else Some(name)
          case _ => Some(name)
        }
      }
    }

  /** Serialized-stat type tag for a column, or None if unsupported. */
  private def statTyp(dt: DataType): Option[String] = dt match {
    case ByteType | ShortType | IntegerType | LongType => Some("long")
    case FloatType | DoubleType => Some("double")
    case StringType => Some("string")
    case DateType => Some("date")
    case TimestampType => Some("timestamp")
    case _ => None
  }

  /** A query bound in the same serialized form as the stored stats. */
  private def reprOf(typ: String, v: Any): String = (typ, v) match {
    case (_, null) => throw new IllegalArgumentException(
      s"null bound for a $typ stats comparison")
    case ("long", n: Number) => n.longValue.toString
    case ("double", n: Number) =>
      val d = n.doubleValue
      require(!d.isNaN, "NaN is not an orderable stats bound — " +
        "NaN rows match no range; filter them explicitly")
      d.toString
    case ("string", s: String) => s
    case ("date", s: String) => s
    case ("date", d: java.sql.Date) => d.toString
    case ("date", d: java.time.LocalDate) => d.toString
    case ("timestamp", t: java.sql.Timestamp) =>
      (t.getTime * 1000L + (t.getNanos % 1000000) / 1000L).toString
    case ("timestamp", i: java.time.Instant) =>
      (i.getEpochSecond * 1000000L + i.getNano / 1000L).toString
    case (t, other) => throw new IllegalArgumentException(
      s"unsupported bound ${other.getClass.getSimpleName} for $t stats")
  }

  /** Exact typed comparison of two serialized stat values. Strings
    * compare in UNSIGNED UTF-8 BYTE order — the order parquet's UTF8
    * statistics are computed under (also code-point order), which
    * `String.compareTo`'s UTF-16 order is NOT for supplementary
    * characters; the comparator must match the stats writer or
    * pruning bounds silently invert on astral-plane text. */
  private[sources] def cmp(typ: String, a: String, b: String): Int = typ match {
    case "long" | "timestamp" => java.lang.Long.compare(a.toLong, b.toLong)
    case "double" =>
      // `+ 0.0` canonicalizes -0.0 to 0.0 before the compare:
      // Double.compare's total order puts -0.0 < 0.0, but the SQL
      // residual filters these bounds stand in for equate them, so a
      // footer max of -0.0 must NOT prune a [0.0, x] readWhere (the
      // Iceberg zero-bound adjustment, done here at the comparator
      // instead of per stored bound).
      java.lang.Double.compare(a.toDouble + 0.0d, b.toDouble + 0.0d)
    case "date" => a.compareTo(b) // yyyy-MM-dd: lexicographic = time
    case _ =>
      java.util.Arrays.compareUnsigned(
        a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  // ---- manifest io -------------------------------------------------------

  private def manifestName(v: Long): String = f"v$v%012d.json"

  private def manifestPath(table: String,
                           v: Long): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(s"$table/$SnapDir/${manifestName(v)}")

  /** The numbers `n` of the table's `_snapshots/<prefix>n.json` files:
    * prefix `v` lists the manifests, `refs-v` the refs states. */
  private def listNumbered(spark: SparkSession, table: String,
                           prefix: String): Seq[Long] = {
    val fs = hadoopFs(spark, table)
    val dir = new org.apache.hadoop.fs.Path(s"$table/$SnapDir")
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith(prefix) && n.endsWith(".json"))
      .flatMap(n => scala.util.Try(
        n.stripPrefix(prefix).stripSuffix(".json").toLong).toOption)
  }

  /** The MAIN head's manifest: through refs when the table has
    * branches, else the latest version (legacy — identical). Branch
    * commits are invisible here by construction. */
  private def currentManifest(spark: SparkSession,
                              table: String): Option[Manifest] =
    headManifest(spark, table, "main")

  private def headManifest(spark: SparkSession, table: String,
                           branch: String): Option[Manifest] =
    headVersionOf(spark, table, branch).flatMap(v =>
      readManifest(spark, table, v))

  /** `branch`'s head manifest, or the one failure for a table with no
    * committed snapshot: `missing` builds it (reads raise
    * NoSuchElementException, writes IllegalStateException). */
  private def headOrFail(spark: SparkSession, table: String,
                         branch: String = "main",
                         missing: String => RuntimeException =
                           new IllegalStateException(_)): Manifest =
    headManifest(spark, table, branch).getOrElse(throw missing(
      "no committed snapshot" +
        (if (branch == "main") "" else s" on '$branch'") + s" in $table"))

  /** The head a write works against: committed and non-empty. */
  private def writeBase(spark: SparkSession, table: String,
                        branch: String = "main"): Manifest = {
    val base = headOrFail(spark, table, branch)
    require(base.files.nonEmpty, s"empty table $table")
    base
  }

  /** A version manifest as written: the header fields plus the
    * ordered group-name list ([[writeGroups]]); manifests written
    * before the split carry their `files` inline instead. */
  private final case class ManifestFile(
      version: Long, parent: Long, action: String, rows: Long,
      tag: String = "", atMicros: Long = 0L,
      layout: Option[Seq[String]] = None, groups: Seq[String] = Nil,
      files: Option[Seq[FileEntry]] = None,
      rangeDeletes: Seq[RangeDelete] = Nil,
      eqDeletes: Seq[EqDelete] = Nil,
      schemaChanges: Seq[SchemaChange] = Nil)

  private def manifestFileOf(spark: SparkSession, table: String,
                             v: Long): Option[ManifestFile] =
    SidecarIo.readJson[ManifestFile](spark, manifestPath(table, v).toString)

  /** The committed manifest at `v`, if retained — the user-facing
    * metadata surface (file accounting, stats inspection, wholesale-
    * delete proofs). File lists resolve through the manifest's group
    * references ([[writeGroups]]); legacy inline-`files` manifests
    * still load. */
  def readManifest(spark: SparkSession, table: String,
                   v: Long): Option[Manifest] =
    manifestFileOf(spark, table, v).map(manifestOf(spark, table, _))

  /** The [[Manifest]] a manifest file binds, its groups resolved. */
  private def manifestOf(spark: SparkSession, table: String,
                         h: ManifestFile): Manifest =
    Manifest(h.version, h.parent, h.action, h.rows,
      h.files.getOrElse(h.groups.flatMap(readGroup(spark, table, _))),
      h.tag, h.atMicros, h.rangeDeletes, h.eqDeletes, h.schemaChanges,
      h.layout)

  /** Bounded per-JVM cache of group files: groups are IMMUTABLE and
    * content-addressed, so a cached parse can never be stale — and
    * the manifest-chain walks ([[findTag]], [[readAsOf]], versions)
    * would otherwise re-read every group per manifest. */
  private val groupCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, Seq[FileEntry]](64, 0.75f,
        true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Seq[FileEntry]]): Boolean =
          size() > 1024
      })

  private def readGroup(spark: SparkSession, table: String,
                        name: String): Seq[FileEntry] = {
    val p = new org.apache.hadoop.fs.Path(s"$table/$SnapDir/$name")
    val key = p.toUri.toString
    val cached = groupCache.get(key)
    if (cached != null) return cached
    val files = SidecarIo.readJson[Seq[FileEntry]](spark, p.toString)
      .getOrElse(throw new java.io.FileNotFoundException(s"$p"))
    groupCache.put(key, files)
    files
  }

  private def stageDirPath(table: String,
                           files: Seq[FileEntry]): Seq[String] =
    files.map(f => s"$table/${f.path}")

  /** Partition columns of a (consistently laid-out) snapshot, read
    * off the manifest's own `k=v` path segments:
    * `data/<uuid>/k1=v1/.../file`. Empty for flat tables. */
  private def partitionColsOf(files: Seq[FileEntry]): Seq[String] =
    files.headOption.map { f =>
      f.path.split('/').drop(2).dropRight(1)
        .filter(_.contains('=')).map(_.takeWhile(_ != '=')).toSeq
    }.getOrElse(Nil)

  /** The table's EFFECTIVE partition layout: the declared one when a
    * [[repartitionTable]] ever set it, else derived from the files
    * (legacy/never-evolved tables — old behavior exactly). This is
    * what appends validate against and rewrites re-stage under. */
  private def declaredLayout(m: Manifest): Seq[String] =
    m.layout.getOrElse(partitionColsOf(m.files))

  /** Is `c` a directory-encoded column anywhere the manifest can see —
    * the current declared layout OR any retained file's own `k=v`
    * path segments (old-layout files keep their directory scheme
    * until compaction folds them)? Schema changes must refuse such
    * columns: their name/value is baked into paths. */
  private def isPartitionColumn(m: Manifest, c: String): Boolean =
    declaredLayout(m).contains(c) ||
      m.files.exists(f => f.path.split('/').drop(2).dropRight(1)
        .exists(_.startsWith(c + "=")))

  private def hadoopFs(spark: SparkSession,
                       path: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
}
