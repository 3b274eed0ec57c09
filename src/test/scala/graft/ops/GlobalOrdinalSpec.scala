package graft.ops

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import graft.{Probe, TestSpark}
import graft.ops.GlobalOrdinal.Ordinal
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** [[GlobalOrdinal]]'s two primitives: `prefix` against a driver-sorted
  * running sum, and each primitive's job count in the bench session
  * shape (AQE off, 8 shuffle partitions — under AQE every shuffle
  * stage is a job of its own). */
class GlobalOrdinalSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  lazy val bench: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    s
  }

  private val schema = StructType(Seq(StructField("id", LongType),
    StructField("key", DoubleType), StructField("mass", LongType)))

  /** Spark's ascending order on a double: nulls first, NaN last,
    * -0.0 equal to 0.0. */
  private val sparkOrder: Ordering[Option[Double]] = (x, y) => (x, y) match {
    case (None, None) => 0
    case (None, _) => -1
    case (_, None) => 1
    case (Some(a), Some(b)) => if (a == b) 0 else java.lang.Double.compare(a, b)
  }

  /** (id, pre) where pre = Σ mass over the rows before it in (key, id)
    * order — nulls count 0. */
  private def driverPrefix(rows: Seq[(Long, Option[Double], Option[Long])])
      : Map[Long, Long] = {
    var acc = 0L
    rows.sortBy(r => (r._2, r._1))(Ordering.Tuple2(sparkOrder, Ordering.Long))
      .map { case (id, _, m) => val o = id -> acc; acc += m.getOrElse(0L); o }
      .toMap
  }

  test("prefix over quantile buckets equals a driver-sorted running sum " +
       "(ties, null masses, NaN and null keys; 1, 3 and 8 partitions)") {
    val row = for {
      key <- Gen.frequency(1 -> Gen.const(None), 8 -> Gen.oneOf(
        -1.5, 0.0, 1.0, 2.0, 3.25, 1e9, Double.NaN).map(Option(_)))
      mass <- Gen.frequency(1 -> Gen.const(None),
        6 -> Gen.choose(0L, 1000L).map(Option(_)))
    } yield (key, mass)
    for (parts <- Seq(1, 3, 8)) {
      val prop = Prop.forAll(Gen.listOf(row)) { gen =>
        val rows = gen.zipWithIndex.map { case ((k, m), i) => (i.toLong, k, m) }
        val df = spark.createDataFrame(spark.sparkContext.parallelize(
          rows.map { case (i, k, m) =>
            Row(i, k.map(Double.box).orNull, m.map(Long.box).orNull)
          }, parts), schema)
        val (out, Seq(total)) = GlobalOrdinal.prefix(df, Seq(Ordinal("pre",
          GlobalOrdinal.quantileBucket(df, col("key")),
          Seq(col("key"), col("id")))), col("mass"))
        val got = out.select("id", "pre").collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        got == driverPrefix(rows) &&
          total == rows.flatMap(_._3).sum && out.columns.toSeq ==
            Seq("id", "key", "mass", "pre")
      }
      val res = Test.check(Test.Parameters.default
        .withMinSuccessfulTests(12).withMaxSize(60)
        .withInitialSeed(Seed(20261017L + parts)), prop)
      assert(res.passed, s"$parts partitions: $res")
    }
  }

  test("prefix: two ordinals, both from ONE histogram job") {
    import bench.implicits._
    val rows = (0L until 300L).map(i => (i, (i * 7919L) % 211L, i % 5L))
    val df = rows.toDF("id", "a", "m").repartition(4)
    var result: (DataFrame, Seq[Long]) = null
    val run = Probe.record(bench) {
      result = GlobalOrdinal.prefix(df, Seq(
        Ordinal("pa", expr("a div 16"), Seq(col("a"), col("id"))),
        Ordinal("pi", expr("id div 32"), Seq(col("id")))), col("m"))
    }
    assert(run.jobs.size == 1, run.jobs)
    val (out, totals) = result
    assert(totals == Seq(rows.map(_._3).sum, rows.map(_._3).sum))
    def expect(order: ((Long, Long, Long)) => (Long, Long)) = {
      var acc = 0L
      rows.sortBy(order).map { r => val o = r._1 -> acc; acc += r._3; o }.toMap
    }
    val got = out.select("id", "pa", "pi").collect()
    assert(got.map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      expect(r => (r._2, r._1)))
    assert(got.map(r => r.getLong(0) -> r.getLong(2)).toMap ==
      expect(r => (r._1, 0L)))
  }

  test("collectUpTo: one job, cached or shuffled; Some at cap = n, " +
       "None at cap = n - 1") {
    val cached = bench.range(0, 600, 1, 16).toDF("id").cache()
    val shuffled = bench.range(0, 6000, 1, 16)
      .groupBy((col("id") % 600).as("id")).count()
    try {
      cached.count()
      for ((name, df) <- Seq("cached" -> cached, "shuffled" -> shuffled)) {
        val all = df.collect().toSeq.sortBy(_.getLong(0))
        for (cap <- Seq(600L, 599L)) {
          var got: Option[Array[Row]] = null
          val run = Probe.record(bench) {
            got = GlobalOrdinal.collectUpTo(df, cap)
          }
          assert(run.jobs.size == 1, s"$name cap=$cap: ${run.jobs}")
          assert(got.map(_.toSeq.sortBy(_.getLong(0))) ==
            (if (cap == 600L) Some(all) else None), s"$name cap=$cap")
        }
      }
      assert(GlobalOrdinal.collectUpTo(cached.limit(0), 0L)
        .exists(_.isEmpty))
    } finally cached.unpersist(blocking = true)
  }

  test("under src/main/scala only GlobalOrdinal.scala calls approxQuantile") {
    val offenders = Files.walk(Path.of("src/main/scala")).iterator().asScala
      .map(_.toString)
      .filter(p => p.endsWith(".scala") &&
        Files.readString(Path.of(p)).contains("approxQuantile")).toSeq
    assert(offenders == Seq("src/main/scala/graft/ops/GlobalOrdinal.scala"))
  }
}
