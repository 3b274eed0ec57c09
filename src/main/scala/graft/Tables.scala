package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** Typed loaders for the driver testdata tables (TESTDATA.md / FIXTURES.md).
  *
  * Parquet carries its own schema, so no inference pass is needed (unlike
  * the reference's `header=True, inferSchema=True` CSV reads, e.g.
  * splitting_data.py:13). Column pruning + predicate pushdown reach the
  * parquet scan automatically because these are plain declarative reads.
  */
object Tables {
  // Memo of resolved relations per (session, path): `spark.read.parquet`
  // re-lists files and re-reads footers for schema on EVERY call, which
  // at 44 bench queries x 3 passes is pure fixed overhead. The testdata
  // tables are immutable, so the analyzed DataFrame (itself immutable)
  // is safe to reuse. Entries of stopped sessions are evicted on access.
  private val memo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  // Memo keys are normalized absolute paths, so the same directory
  // reached via different spellings (relative vs absolute, trailing
  // slash, `.`/`..` segments) shares one entry — and invalidate()
  // can't miss it or over-evict a sibling sharing a string prefix
  // (".bench/sf1" vs ".bench/sf10"). URI-scheme paths (hdfs://…,
  // s3a://…) are keyed verbatim: Paths.get would collapse `//` and
  // toAbsolutePath would prepend the local cwd, mangling them into
  // bogus local spellings — Hadoop's FileSystem resolves them, not
  // java.nio. Their spellings therefore don't collapse; invalidate()
  // with the same spelling still works. norm() is ONLY the memo key —
  // the read always uses the caller's original spelling.
  private def norm(p: String): String =
    if (p.contains("://")) p
    else java.nio.file.Paths.get(p).toAbsolutePath.normalize.toString

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // events.ts is parquet TIMESTAMP(NANOS) (FIXTURES.md §B), which Spark
    // rejects by default; read it as LongType nanoseconds instead. Queries
    // treat `ts` as int64 epoch-nanos (exact — no precision juggling vs
    // the DuckDB oracle, which uses epoch_ns()).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    memo.keySet.removeIf(k => k._1.sparkContext.isStopped)
    val path = s"$sfDir/$name.parquet"
    memo.computeIfAbsent((spark, norm(path)),
      _ => spark.read.parquet(path))
  }

  /** Drop memo entries under `dir` (path-component match, any
    * spelling) — REQUIRED after overwriting a generated table
    * directory (e.g. `ScaleProbe`), or later reads would resolve to
    * the stale pre-overwrite file listing. */
  def invalidate(dir: String): Unit = {
    val d = norm(dir)
    memo.keySet.removeIf(k =>
      k._2 == d || k._2.startsWith(d + java.io.File.separator))
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** The engine-wide contract for `events.ts` is int64 epoch-NANOseconds
    * (exact integral arithmetic everywhere downstream — EventStreams
    * scaladoc). The driver's generated parquet has carried two physical
    * types across rounds: TIMESTAMP(NANOS) (read as long via
    * `nanosAsLong`, rounds ≤7) and plain TIMESTAMP micros (round 8+,
    * which `nanosAsLong` does NOT touch — it arrives as TimestampType).
    * Normalize here, once, so every consumer keeps the int64-ns
    * contract regardless of which vintage of parquet is on disk.
    *
    * Exactness + timezone independence: `unix_micros` reads the
    * internal epoch-micros long directly (no float, no tz math). The
    * driver writes tz-NAIVE micros (pandas), which Spark 4 infers as
    * TIMESTAMP_NTZ; the DuckDB oracle's `epoch_ns(ts)` treats that
    * naive wall-clock AS the epoch instant, so the NTZ branch must do
    * the same — `timestampdiff` against the epoch NTZ literal is pure
    * wall-clock arithmetic, no session-timezone involvement. ×1000
    * can't overflow long until year ~2262, the bound the ns contract
    * already has. */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts") match {
      case Some(f) if f.dataType == TimestampType =>
        df.withColumn("ts", expr("unix_micros(ts) * 1000L"))
      case Some(f) if f.dataType == TimestampNTZType =>
        df.withColumn("ts", expr(
          "timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01 00:00:00', ts) * 1000L"))
      case _ => df
    }

  def events(s: SparkSession, d: String): DataFrame =
    normalizeEventTs(table(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Exact MAX of an integral column of a testdata table, read off
    * the parquet FOOTER statistics — a driver metadata read where
    * `agg(max(col)).head()` launches a whole Spark job (the fixture
    * bound derivations pay that job per declared query). Only valid
    * for UNFILTERED tables: a filtered frame's max is not a footer
    * fact. Falls back to the aggregate when any row group lacks
    * usable stats — same value either way, footer stats for integral
    * parquet columns are exact. */
  def maxLongOf(spark: SparkSession, sfDir: String, name: String,
                column: String): Long =
    sources.ParquetFooter.tryRead(spark.sparkContext.hadoopConfiguration,
        s"$sfDir/$name.parquet", Seq(column -> "long"))
      .flatMap(_.stats.get(column)).map(_.max.toLong)
      .getOrElse(table(spark, sfDir, name)
        .agg(org.apache.spark.sql.functions.max(
          org.apache.spark.sql.functions.col(column)))
        .head().getLong(0))

  /** Exact row count of a testdata table off the parquet footers —
    * the same metadata read, replacing a count job. */
  def rowCountOf(spark: SparkSession, sfDir: String, name: String): Long =
    sources.ParquetFooter.rows(spark.sparkContext.hadoopConfiguration,
      s"$sfDir/$name.parquet")
}
