package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Pins each session preset's conf map key for key, without building a
  * session, and keeps [[Session]] the only place a session is built. */
class SessionSpec extends AnyFunSuite {
  private def local(cpus: Int) = Map("spark.master" -> s"local[$cpus]",
    "spark.sql.session.timeZone" -> "UTC", "spark.ui.enabled" -> "false")
  private def sized(partitions: Int, aqe: Boolean, split: Long, open: Long) =
    Map("spark.sql.shuffle.partitions" -> partitions.toString,
      "spark.sql.adaptive.enabled" -> aqe.toString,
      "spark.sql.files.maxPartitionBytes" -> split.toString,
      "spark.sql.files.openCostInBytes" -> open.toString)

  test("bench at an sf0.1-sized input: 8 partitions, AQE off, stock splits") {
    val sf01 = local(32) ++ sized(8, aqe = false, 134217728L, 4194304L)
    assert(Session.bench(100L << 20, 32) == sf01)
    val sf01Dir = Path.of(TestSpark.sf0001).resolveSibling("sf0.1").toString
    assert(Session.bench(sf01Dir, 32) == sf01)
  }

  test("bench past 1 GiB: AQE on, partitions = min(cpus, input / 64 MiB)") {
    assert(Session.bench(2L << 30, 64) ==
      local(64) ++ sized(32, aqe = true, 134217728L, 4194304L))
    assert(Session.bench(64L << 30, 16) ==
      local(16) ++ sized(16, aqe = true, 1073741824L, 33554432L))
  }

  test("verify(cpus): AQE on, one shuffle partition per core") {
    assert(Session.verify(32) == local(32) ++ Map(
      "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.adaptive.enabled" -> "true"))
  }

  test("TestSpark: local[8], AQE on, 8 partitions, extensions registered") {
    assert(TestSpark.conf == Map(
      "spark.master" -> "local[8]",
      "spark.app.name" -> "graft-tests",
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false"))
    assert(TestSpark.spark.experimental.extraOptimizations
      .contains(graft.functions.KernelSubstitution))
  }

  test("graft.Session is the only place a SparkSession is built") {
    val builder = "SparkSession" + ".builder"
    val offenders = Seq("src/main/scala", "src/test/scala").flatMap(root =>
      Files.walk(Path.of(root)).iterator().asScala.map(_.toString)
        .filter(p => p.endsWith(".scala") &&
          Files.readString(Path.of(p)).contains(builder)).toSeq)
    assert(offenders == Seq("src/main/scala/graft/Session.scala"))
  }
}
