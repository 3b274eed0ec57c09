package graft.sources

import graft.{Tables, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class LayoutSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("partitioned layout: facet filter is partition-pruned, data intact") {
    val dir = Files.createTempDirectory("graft-layout").toString + "/docs"
    val docs = Tables.documents(spark, TestSpark.sf0001)
    Layout.writePartitioned(docs, dir, Seq("lang"))

    // directory structure is hive-style
    val langDirs = new java.io.File(dir).listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("lang="))
    assert(langDirs.length == docs.select(col("lang")).distinct().count())

    val back = Layout.readPartitioned(spark, dir)
    assert(back.count() == docs.count())

    val filtered = back.filter(col("lang") === "en")
    assert(Layout.isPartitionPruned(filtered),
      "lang filter must resolve against partition directories")
    assert(filtered.count() ==
      docs.filter(col("lang") === "en").count())
    // an unfiltered scan is NOT reported as pruned
    assert(!Layout.isPartitionPruned(back))
  }

  test("partition-path unescape decodes %XX and passes a stray % " +
    "through, so compaction reads a leaf like k=50%off") {
    assert(ParquetFooter.unescapePathName("a%3Ab") == "a:b")
    assert(ParquetFooter.unescapePathName("50%off") == "50%off")
    assert(ParquetFooter.unescapePathName("100%") == "100%")
    val dir = Files.createTempDirectory("graft-layout").toString + "/pct"
    spark.range(0, 10).toDF("id").coalesce(1).write.parquet(s"$dir/k=50%off")
    val stats = Layout.compact(spark, dir, targetFileBytes = 1L << 20)
    assert(stats.leaves == 1 && stats.rows == 10L)
    assert(spark.read.parquet(dir).filter(col("k") === "50%off")
      .count() == 10L)
  }

  test("compact partitioned write bounds files per partition dir") {
    val dir = Files.createTempDirectory("graft-layout").toString + "/compact"
    val docs = Tables.documents(spark, TestSpark.sf0001).repartition(8)
    Layout.writePartitionedCompact(docs, dir, Seq("lang"),
      filesPerPartition = 1)
    val counts = new java.io.File(dir).listFiles()
      .filter(_.isDirectory)
      .map(d => d.listFiles().count(_.getName.startsWith("part-")))
    assert(counts.nonEmpty)
    assert(counts.forall(_ <= 1),
      s"expected <=1 file per lang dir, got ${counts.mkString(",")}")
  }
}
