package graft.sources

import java.nio.file.Files

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Per-file Bloom filters in the snapshot manifest: point-lookup and
  * key-list pruning where range stats can't prune, with zero false
  * negatives (the correctness direction) across every stat type. */
class FileBloomSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("graft-bloom").toString + "/t"

  test("no false negatives across all stat types: every present key " +
    "is found through readEquals (build-side xxhash64 == probe-side " +
    "XXH64, including the -0.0 normalization)") {
    noFalseNegatives()
  }

  test("no false negatives across all stat types with the filters " +
    "built by the distributed aggregate") {
    val saved = Snapshot.bloomDriverMaxBytes
    try {
      Snapshot.bloomDriverMaxBytes = 0L // force the Spark aggregate
      noFalseNegatives()
    } finally Snapshot.bloomDriverMaxBytes = saved
  }

  /** Every present key of every stat type survives both probes — the
    * point read and the key list — on whichever build path runs. */
  private def noFalseNegatives(): Unit = {
    val t = freshTable()
    val astral = "key-\uD83D\uDE00" // a character outside the BMP
    val df = spark.range(0, 500).select(
      col("id").as("k"),
      when(col("id") === 3L, lit(astral))
        .otherwise(concat(lit("key-"), col("id"))).as("s"),
      (col("id") * 1.5 - 10.0).as("d"),
      date_add(lit(java.sql.Date.valueOf("2024-01-01")),
        col("id").cast("int")).as("dt"),
      timestamp_micros(col("id") * 1000000L + 123456L).as("ts"))
      .withColumn("d", when(col("k") === 7L, lit(-0.0d))
        .otherwise(col("d")))
    val cols = Seq("k", "s", "d", "dt", "ts")
    Snapshot.append(df.coalesce(1), t, statsCols = cols,
      bloomCols = cols)
    // longs: every present key answers (a single hash mismatch would
    // bloom-prune the only file and return an empty frame)
    (0L until 500L by 13L).foreach { k =>
      assert(Snapshot.readEquals(spark, t, "k", k).count() == 1L,
        s"false negative on long key $k")
    }
    (0L until 500L by 29L).foreach { k =>
      assert(Snapshot.readEquals(spark, t, "s", s"key-$k").count() == 1L,
        s"false negative on string key key-$k")
      assert(Snapshot.readEquals(spark, t, "d", k * 1.5 - 10.0)
        .count() == 1L, s"false negative on double key ${k * 1.5 - 10.0}")
      assert(Snapshot.readEquals(spark, t, "dt",
        java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1)
          .plusDays(k))).count() == 1L, s"false negative on date +$k")
      assert(Snapshot.readEquals(spark, t, "ts",
        java.time.Instant.ofEpochSecond(k, 123456000L)).count() == 1L,
        s"false negative on timestamp key $k")
    }
    assert(Snapshot.readEquals(spark, t, "s", astral).count() == 1L,
      "false negative on the non-BMP string key")
    // the -0.0 row answers a +0.0 probe (hash normalization parity)
    assert(Snapshot.readEquals(spark, t, "d", 0.0d).count() == 1L)
    // the key-list side: each present key keeps the one file
    for (k <- Seq(3L, 7L, 499L); c <- cols) {
      val (total, kept) = Snapshot.keyPruneCount(spark, t,
        df.filter(col("k") === k).select(c))
      assert(total == 1 && kept == 1, s"key list dropped $c of row $k")
    }
    // absent values answer empty (pruned or residual-filtered — both
    // are exact)
    assert(Snapshot.readEquals(spark, t, "k", 100000L).count() == 0L)
    assert(Snapshot.readEquals(spark, t, "s", "nope").count() == 0L)
  }

  test("point lookups prune files range stats cannot: overlapping " +
    "ranges, disjoint key residues") {
    val t = freshTable()
    // four files, each spanning ~the whole key range (residues 0–3
    // of 8, so residues 4–7 are genuine in-range gaps) — min/max
    // admits every file for any probe; only the Bloom can tell them
    // apart
    (0 until 4).foreach { r =>
      Snapshot.append(
        spark.range(0, 4000).select((col("id") * 8 + r).as("k"),
          concat(lit("doc "), col("id")).as("text")).coalesce(1),
        t, statsCols = Seq("k"), bloomCols = Seq("k"))
    }
    val (total, rangeKept) = Snapshot.pruneCount(spark, t, "k", 9L, 9L)
    assert(total == 4 && rangeKept == 4,
      s"fixture broken: ranges should overlap everywhere ($rangeKept)")
    val (_, kept) = Snapshot.equalsPruneCount(spark, t, "k", 9L)
    assert(kept < total, s"bloom pruned nothing: $kept of $total")
    assert(Snapshot.readEquals(spark, t, "k", 9L).count() == 1L)
    // an in-range key no file contains (residue 4) usually prunes to
    // zero files; never returns rows either way
    assert(Snapshot.readEquals(spark, t, "k", 12L).count() == 0L)
  }

  test("key-list accounting scans prune by bloom; deleteKeysMor stays " +
    "exact; coverage survives compaction and rename") {
    val t = freshTable()
    (0 until 4).foreach { r =>
      Snapshot.append(
        spark.range(0, 4000).select((col("id") * 4 + r).as("k"),
          concat(lit("doc "), col("id")).as("text")).coalesce(1),
        t, statsCols = Seq("k"), bloomCols = Seq("k"))
    }
    // keys all from residue 1: three files provably hold none
    val keys = Seq(9L, 413L, 1001L, 7777L).toDF("k")
    val (total, kept) = Snapshot.keyPruneCount(spark, t, keys)
    assert(total == 4 && kept < total,
      s"key-list bloom pruned nothing: $kept of $total")
    val v = Snapshot.deleteKeysMor(keys, t)
    assert(Snapshot.readManifest(spark, t, v).get.rows == 15996L)
    assert(Snapshot.read(spark, t)
      .filter(col("k").isin(9L, 413L, 1001L, 7777L)).count() == 0L)
    // compaction re-gathers the filters over the rewritten files
    // (small target => per-file key counts stay inside the filter's
    // useful regime; a single 16 K-key file would correctly DECLINE
    // a saturated filter — the dedicated saturation case below)
    Snapshot.compactClustered(spark, t, Seq("k"), 32L << 10)
    val m = Snapshot.readManifest(spark, t,
      Snapshot.latestVersion(spark, t).get).get
    assert(m.files.forall(_.stats.get("k").exists(_.bloom.nonEmpty)),
      "compaction dropped bloom coverage")
    assert(Snapshot.readEquals(spark, t, "k", 10L).count() == 1L)
    // rename: the filter follows the column to its new name
    Snapshot.renameColumn(spark, t, "k", "key")
    val (_, keptRenamed) =
      Snapshot.equalsPruneCount(spark, t, "key", 10L)
    assert(keptRenamed < m.files.size || m.files.size == 1)
    assert(Snapshot.readEquals(spark, t, "key", 10L).count() == 1L)
  }

  test("readIn: multi-needle lookups prune per value and stay exact; " +
    "filesTable surfaces bloom coverage") {
    val t = freshTable()
    (0 until 4).foreach { r =>
      Snapshot.append(
        spark.range(0, 3000).select((col("id") * 8 + r).as("k"),
          concat(lit("doc "), col("id")).as("text")).coalesce(1),
        t, statsCols = Seq("k"), bloomCols = Seq("k"))
    }
    // three needles across two residue files: the other two files
    // are provably needle-free and must not plan
    val in = Snapshot.readIn(spark, t, "k", Seq(9L, 17L, 82L))
    assert(in.count() == 3L)
    assert(in.inputFiles.toSet.size == 2,
      s"readIn planned ${in.inputFiles.toSet.size} files, expected 2")
    // absent needles (residues 4-7) return empty
    assert(Snapshot.readIn(spark, t, "k", Seq(12L, 20L)).count() == 0L)
    // the metadata table reports per-file bloom coverage
    val files = Snapshot.filesTable(spark, t)
    assert(files.columns.contains("stats_k_bloom_bits"))
    assert(files.filter(col("stats_k_bloom_bits").isNotNull)
      .count() == 4L)
  }

  test("a SATURATED filter is not stored (manifest bytes are the " +
    "guarded resource); probes stay exact without it") {
    val t = freshTable()
    // 100 K distinct keys blow past the cap's useful regime — the
    // fold must decline rather than store a prune-nothing filter
    Snapshot.append(spark.range(0, 100000)
      .select(col("id").as("k"), lit("x").as("text")).coalesce(1),
      t, statsCols = Seq("k"), bloomCols = Seq("k"))
    val m = Snapshot.readManifest(spark, t, 1L).get
    assert(m.files.forall(_.stats("k").bloom.isEmpty),
      "a saturated bloom was stored")
    assert(Snapshot.readEquals(spark, t, "k", 4242L).count() == 1L)
    assert(Snapshot.readEquals(spark, t, "k", 999999L).count() == 0L)
  }

  test("bloomCols must ride statsCols — loud otherwise") {
    val t = freshTable()
    intercept[IllegalArgumentException] {
      Snapshot.append(spark.range(5).select(col("id").as("k")), t,
        statsCols = Nil, bloomCols = Seq("k"))
    }
  }
}
