package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is built: each preset is a pure
  * conf map, pinned without a session, and [[start]] builds from one.
  * Every preset runs `local[cpus]` in UTC with the UI off. */
object Session {

  /** `SPARK_GRAFT_CPUS` if set, else every core the JVM sees. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  private def local(cpus: Int): Map[String, String] = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  /** graft.Bench's and graft.Probe's timing shape, sized to the total
    * bytes of the files directly under `sfDir` (unbounded if
    * unreadable). */
  def bench(sfDir: String, cpus: Int): Map[String, String] =
    bench(Option(new java.io.File(sfDir).listFiles())
      .map(_.filter(_.isFile).map(_.length).sum).getOrElse(Long.MaxValue),
      cpus)

  private[graft] def bench(inputBytes: Long, cpus: Int): Map[String, String] = {
    // Shuffle partitions sized to the DATA, not the core count (the
    // 100-TB rule applied downward): at sf0.1 the whole input is
    // ~100 MB, so 32-way shuffles plan 32 near-empty reduce tasks per
    // exchange and pure task-launch overhead owns every sub-second
    // query (ConfigProbe r8: floor avg 0.353 s/query at 32 → 0.208 s
    // at 8; the heavy composites got FASTER, not slower). One 64 MB
    // target partition per input split, clamped to [8, cpus] — at
    // sf10+ this lands back on `cpus` exactly as before.
    val shufflePartitions = math.max(8L,
      math.min(cpus.toLong, inputBytes / (64L << 20))).toString
    // AQE sized to the data, like the shuffle-partition formula: each
    // adaptive stage is a scheduling round-trip + re-optimization, and
    // below ~1 GiB of input there is nothing for it to decide — static
    // plans already broadcast the small sides and 8 partitions need no
    // coalescing (ConfigProbe r10: AQE off beat on for BOTH the floor
    // sample, 0.185 vs 0.215 s/query, AND the heavy composites, 14.6
    // vs 15.7 s). Past the threshold — where skew splitting and
    // runtime join re-planning earn their keep — it stays on.
    val adaptive = (inputBytes > (1L << 30)).toString
    // Scan-split size tracks the CORE COUNT against the data, but
    // never drops BELOW the 128 MB default (measured, r19): every
    // testdata parquet is a single file with a single row group
    // (duckdb parquet_metadata census, OPTIMIZATION_r19.md), and
    // parquet splits at row-group boundaries — so sub-default splits
    // cannot add scan parallelism here, only empty task launches (a
    // 546 KB split carved lineitem into ~20 tasks, 19 scanning
    // nothing; the r19 A/A bench read the snapshot family +13..26%
    // under that config). The formula therefore only ever RAISES the
    // split size: at bench SF it is the stock 128 MB (openCost lands
    // on its stock 4 MB via the same 1:32 ratio), and at cluster
    // scale inputBytes/cpus grows it toward the 1 GiB cap guide §6
    // recommends for big sequential scans.
    val maxPartitionBytes = math.max(128L << 20,
      math.min(1L << 30, inputBytes / math.max(1L, cpus.toLong)))
    local(cpus) ++ Map(
      "spark.sql.shuffle.partitions" -> shufflePartitions,
      "spark.sql.adaptive.enabled" -> adaptive,
      "spark.sql.files.maxPartitionBytes" -> maxPartitionBytes.toString,
      "spark.sql.files.openCostInBytes" ->
        math.max(16L << 10, maxPartitionBytes / 32L).toString)
  }

  /** AQE on, one shuffle partition per core: graft.Verify, ScaleProbe,
    * Reproduction, AnnCompare and the test session. */
  def verify(cpus: Int): Map[String, String] = local(cpus) ++ Map(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.adaptive.enabled" -> "true")

  /** A session with `conf`, WARN logging and the full library surface
    * (SQL kernels + the kernel-substitution rule) registered. */
  def start(conf: Map[String, String]): SparkSession = {
    val spark = SparkSession.builder().config(conf).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftExtensions.register(spark)
    spark
  }
}
