package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Storage-layout operators — the write-side half of 100-TB query
  * performance. A corpus laid out as
  * `path/lang=en/source=src1/part-*.parquet` turns every
  * facet-filtered scan into a PARTITION-PRUNED scan: Spark resolves
  * `WHERE lang = 'en'` against directory names and never opens the
  * other 96% of files. The read-side predicate pushdown the declared
  * queries rely on composes with this — pruning removes files,
  * pushdown then skips row groups inside the survivors.
  */
object Layout {

  /** Hive-style partitioned parquet write. Keep partition columns at
    * directory-count sanity: |distinct(cols)| directories are created,
    * each holding every task's output for that key — pick columns with
    * hundreds-to-thousands of values (lang, source, date), never
    * high-cardinality ids. */
  def writePartitioned(df: DataFrame, path: String,
                       partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Partitioned write with per-key file-count control: repartition by
    * the partition columns first so each directory gets at most
    * `filesPerPartition` files instead of one file per task per key —
    * the small-files problem is the other way partitioned layouts die
    * at scale. */
  def writePartitionedCompact(df: DataFrame, path: String,
                              partitionCols: Seq[String],
                              filesPerPartition: Int = 1): Unit = {
    val keys = partitionCols.map(col)
    val salted = keys :+ (pmod(spark_partition_id(),
      lit(filesPerPartition))).as("__file_salt")
    df.repartition(salted: _*)
      .write.mode("overwrite")
      .partitionBy(partitionCols: _*)
      .parquet(path)
  }

  def readPartitioned(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** True iff `df`'s physical scan prunes partitions with a non-empty
    * partition filter (use in tests/audits to prove a layout pays
    * off). */
  def isPartitionPruned(df: DataFrame): Boolean = {
    val plan = df.queryExecution.executedPlan
    val scans = plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    scans.nonEmpty && scans.forall(_.partitionFilters.nonEmpty)
  }

  /** Result of one [[compact]] pass. `filesBefore` is -1 when the
    * pass resumed a crashed swap (the pre-compaction source is
    * already gone by then). */
  final case class CompactStats(leaves: Int, filesBefore: Long,
                                filesAfter: Long, rows: Long)

  /** Compact a (possibly partition-directed) parquet directory to
    * target file sizes — the maintenance half every micro-batch file
    * sink needs: [[graft.streaming.CurationStream.land]] /
    * [[graft.streaming.MultimodalIngest.land]] accumulate one file
    * set per micro-batch forever, and a year of 30-second batches is
    * a million tiny files whose listing + footer reads dominate every
    * downstream scan. `compact` folds each `k=v` leaf directory to
    * `ceil(leafBytes / targetFileBytes)` files, preserving the
    * partition layout (so partition pruning is untouched — LayoutSpec
    * proves `partitionFilters` still bind after compaction) and the
    * rows exactly (row-count-verified before the swap is committed).
    *
    * ==Exactly-once swap==
    * The rewrite lands in a scratch dir and becomes visible only
    * through a marker + two atomic renames:
    *  1. build `<path>.compact-tmp/` leaf by leaf (idempotent
    *     per-leaf overwrite — the batch-scoped-overwrite trick of
    *     [[graft.dedup.DedupIndex.append]]: a re-run replaces its own
    *     partial output instead of duplicating it);
    *  2. verify row counts, then atomically rename the finished tmp
    *     to `<path>.compact-ready` — THE commit point: the marker dir
    *     only ever holds a complete, verified build;
    *  3. swap: `path` → `<path>.compact-old`, ready → `path`, delete
    *     old.
    * A crash at ANY point is resumable by calling [[compact]] again:
    * before the commit point the scratch dir is rebuilt from the
    * still-intact source; after it, the swap is completed from the
    * marker state (each rename leaves a distinguishable dir
    * configuration, [[finishSwap]]). Renames are atomic on
    * HDFS-semantics filesystems; on a rename-less object store the
    * swap step belongs to the table catalog instead (same posture as
    * [[graft.dedup.DedupIndex.compact]]).
    *
    * ==Streaming-sink input==
    * The source is read with `spark.read.parquet(path)`, which honors
    * a `_spark_metadata` transaction log when present — ONLY files the
    * sink committed are compacted (an orphan from a dead attempt is
    * dropped, which is the log's own contract). The compacted output
    * is a plain parquet layout with no sink log: compact a sink
    * directory only after stopping or rotating the stream writing to
    * it (the lambda split of [[graft.streaming.CurationStream]]:
    * streams land into the live epoch, compaction owns retired
    * epochs).
    *
    * ==Scale shape==
    * One driver loop over leaf directories (hundreds-to-thousands —
    * the [[writePartitioned]] directory-count contract), each leaf a
    * partition-pruned scan + `coalesce` (no shuffle) + write, run
    * `maxConcurrentLeaves` at a time from a driver pool so small
    * leaves don't serialize behind big ones. Data crosses the wire
    * once; no stage shuffles. */
  def compact(spark: SparkSession, path: String,
              targetFileBytes: Long = 128L << 20,
              maxConcurrentLeaves: Int = 4): CompactStats = {
    val fs = hadoopFs(spark, path)
    val ready = new org.apache.hadoop.fs.Path(path + ".compact-ready")
    if (fs.exists(ready)) { // crashed after the commit point: finish
      // footer metadata, not a Spark count scan: ready/ is a fully
      // built plain layout (no sink log, no orphans by construction)
      val rows = footerRowsUnder(spark, ready.toString)
      val stats = CompactStats(leafDirs(fs, ready.toString).size,
        filesBefore = -1L, filesAfter = countDataFiles(fs, ready.toString),
        rows = rows)
      finishSwap(spark, path)
      stats
    } else {
      val before = countDataFiles(fs, path)
      val stats = buildReady(spark, path, targetFileBytes,
                             maxConcurrentLeaves)
      finishSwap(spark, path)
      stats.copy(filesBefore = before)
    }
  }

  /** Phase 1+2 of [[compact]]: build the scratch rewrite, verify row
    * counts, and atomically publish it as `<path>.compact-ready`.
    * Exposed for the restart-safety spec; production calls
    * [[compact]]. */
  private[sources] def buildReady(spark: SparkSession, path: String,
                                  targetFileBytes: Long,
                                  maxConcurrentLeaves: Int = 4)
      : CompactStats = {
    require(targetFileBytes > 0, s"bad target $targetFileBytes")
    val fs = hadoopFs(spark, path)
    val tmp = new org.apache.hadoop.fs.Path(path + ".compact-tmp")
    fs.delete(tmp, true) // stale partial build from a crashed run
    val src = spark.read.parquet(path)
    // exact source rows from footers of the files the read RESOLVED
    // (inputFiles honors a streaming sink's _spark_metadata log, so
    // orphans stay excluded exactly as the scan excludes them) —
    // replaces a full COUNT scan of the table being compacted.
    // inputFiles are URI strings (a `%` in a leaf reads `%25`), so
    // each decodes back to a path
    val srcRows = footerRows(spark, src.inputFiles.toSeq.map(u =>
      new org.apache.hadoop.fs.Path(new java.net.URI(u)).toString))
    val leaves = leafDirs(fs, path)
    val partCols = leaves.headOption.map(_._1.map(_._1)).getOrElse(Nil)
    require(leaves.forall(_._1.map(_._1) == partCols),
      s"inconsistent partition columns under $path")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, maxConcurrentLeaves))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try {
      val jobs = leaves.map { case (values, rel, bytes) =>
        scala.concurrent.Future {
          val nf = math.max(1L, (bytes + targetFileBytes - 1)
            / targetFileBytes).toInt
          val slice = values.foldLeft(src) { case (d, (k, v)) =>
            d.filter(col(k) === lit(v)) }
          val dst = if (rel.isEmpty) tmp.toString else s"$tmp/$rel"
          slice.drop(partCols: _*).coalesce(nf)
            .write.mode("overwrite").parquet(dst)
        }
      }
      jobs.foreach(f =>
        scala.concurrent.Await.result(f,
          scala.concurrent.duration.Duration.Inf))
    } finally pool.shutdown()
    val dstRows = footerRowsUnder(spark, tmp.toString)
    require(dstRows == srcRows,
      s"compact row mismatch: src=$srcRows rewritten=$dstRows — " +
        "scratch NOT published, source untouched")
    val ready = new org.apache.hadoop.fs.Path(path + ".compact-ready")
    fs.delete(ready, true)
    require(fs.rename(tmp, ready), s"rename $tmp -> $ready failed")
    CompactStats(leaves.size, filesBefore = -1L,
      filesAfter = countDataFiles(fs, ready.toString), rows = srcRows)
  }

  /** Phase 3 of [[compact]]: complete the swap from whatever state a
    * crash left. Safe to call repeatedly; no-op when no marker dirs
    * exist. Each branch keys on a dir configuration only ONE crash
    * point produces, so resume never guesses. */
  private[sources] def finishSwap(spark: SparkSession,
                                  path: String): Unit = {
    val fs = hadoopFs(spark, path)
    val p = new org.apache.hadoop.fs.Path(path)
    val ready = new org.apache.hadoop.fs.Path(path + ".compact-ready")
    val old = new org.apache.hadoop.fs.Path(path + ".compact-old")
    if (fs.exists(ready)) {
      if (fs.exists(p) && !fs.exists(old))
        require(fs.rename(p, old), s"rename $p -> $old failed")
      if (!fs.exists(p))
        require(fs.rename(ready, p), s"rename $ready -> $p failed")
    }
    fs.delete(old, true)
  }

  private def hadoopFs(spark: SparkSession,
                       path: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Leaf partition directories under `path`: (partition (col, value)
    * pairs in directory order, relative `k=v/...` dir string, data
    * bytes). Unpartitioned layouts yield one leaf with no pairs.
    * Values are unescaped from Hive `%XX` dir-name escaping. */
  private def leafDirs(fs: org.apache.hadoop.fs.FileSystem, path: String)
      : Seq[(Seq[(String, String)], String, Long)] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val rootUri = root.toUri.getPath.stripSuffix("/")
    val acc = scala.collection.mutable.Map
      .empty[String, Long] // rel leaf dir -> bytes
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val f = it.next()
      val rel = f.getPath.toUri.getPath.stripSuffix("/")
        .stripPrefix(rootUri).stripPrefix("/")
      val segs = rel.split('/').toSeq
      val isData = !segs.exists(s => s.startsWith("_") || s.startsWith("."))
      if (isData) {
        val dir = segs.init.filter(_.contains('=')).mkString("/")
        acc(dir) = acc.getOrElse(dir, 0L) + f.getLen
      }
    }
    acc.toSeq.sortBy(_._1).map { case (rel, bytes) =>
      val pairs = rel.split('/').toSeq.filter(_.nonEmpty).map { seg =>
        val i = seg.indexOf('=')
        seg.substring(0, i) ->
          ParquetFooter.unescapePathName(seg.substring(i + 1))
      }
      (pairs, rel, bytes)
    }
  }

  /** Past this many files the footer walk runs as a Spark job instead
    * of a driver loop: a compaction source at 100 TB is 10⁵–10⁶ files,
    * and one-at-a-time remote `ParquetFileReader.open` round-trips
    * from the driver would serialize hours of latency (guide §5: the
    * driver should do almost no data work — metadata at this volume
    * IS data work). Small commit-sized lists stay on the driver,
    * where a job's scheduling round-trip costs more than the reads. */
  private val DriverFooterFiles = 32

  /** Exact row count from parquet FOOTERS of an explicit file list —
    * footer metadata replacing a full Spark COUNT scan (guide
    * §1.2: the writer/reader already knows these files; counting a
    * 100-TB layout must not re-read it). Callers pass
    * `DataFrame.inputFiles` when `_spark_metadata` sink-log semantics
    * matter (the resolved list already honors the log) or a plain
    * directory walk for freshly-built scratch dirs. Lists past
    * [[DriverFooterFiles]] are read by a Spark job over the path
    * list (executors open footers in parallel, the driver sums one
    * long per task); short lists loop on the driver. */
  private def footerRows(spark: SparkSession,
                         files: Seq[String]): Long =
    if (files.size <= DriverFooterFiles) {
      val conf = spark.sparkContext.hadoopConfiguration
      files.map(ParquetFooter.rows(conf, _)).sum
    } else {
      val sc = spark.sparkContext
      val bc = sc.broadcast(
        new org.apache.spark.util.SerializableConfiguration(
          sc.hadoopConfiguration))
      val slices = math.max(1,
        math.min(files.size / 8, sc.defaultParallelism * 4))
      sc.parallelize(files, slices)
        .mapPartitions { it =>
          val conf = bc.value.value
          var rows = 0L
          it.foreach(f => rows += ParquetFooter.rows(conf, f))
          Iterator.single(rows)
        }
        .fold(0L)(_ + _)
    }

  /** [[footerRows]] over every data file under `dir`. */
  private def footerRowsUnder(spark: SparkSession, dir: String): Long = {
    val fs = hadoopFs(spark, dir)
    val root = new org.apache.hadoop.fs.Path(dir)
    val rootUri = root.toUri.getPath.stripSuffix("/")
    val files = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val f = it.next()
      val rel = f.getPath.toUri.getPath.stripPrefix(rootUri)
        .stripPrefix("/")
      if (!rel.split('/').exists(s => s.startsWith("_") ||
            s.startsWith(".")))
        files += f.getPath.toString
    }
    footerRows(spark, files.toSeq)
  }

  private def countDataFiles(fs: org.apache.hadoop.fs.FileSystem,
                             path: String): Long = {
    val root = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(root)) return 0L
    val rootUri = root.toUri.getPath.stripSuffix("/")
    var n = 0L
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val f = it.next()
      val rel = f.getPath.toUri.getPath.stripPrefix(rootUri).stripPrefix("/")
      if (!rel.split('/').exists(s => s.startsWith("_") ||
            s.startsWith(".")))
        n += 1
    }
    n
  }
}
