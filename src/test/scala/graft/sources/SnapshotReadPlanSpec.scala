package graft.sources

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.{Probe, TestSpark}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite

/** Every [[Snapshot]] read, pinned on one commit chain: the Spark jobs
  * each read runs to build and collect its frame (bench session shape:
  * AQE off, 8 shuffle partitions), the files its optimized plan scans
  * (each named by the commit that staged it) and its rows, against a
  * driver-side model of the table at every version. The chain carries
  * a pending range delete, pending equality deletes and a rename, and
  * one [[Snapshot.readChangesBetween]] window per action kind. */
class SnapshotReadPlanSpec extends AnyFunSuite {
  import SnapshotReadPlanSpec.Seen

  lazy val spark: SparkSession = TestSpark.spark
  lazy val bench: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    s
  }

  private def freshDir(): String =
    Files.createTempDirectory("graft-read").toString

  private def doc(i: Long): String = s"doc $i"

  private def rows(ids: Seq[Long], text: Long => String,
                   textCol: String = "text"): DataFrame = {
    val s = bench
    import s.implicits._
    ids.map(i => (i, text(i))).toDF("id", textCol).coalesce(1)
  }

  /** A frame's rows as (id, text[, _change]), sorted; the text column is
    * whichever of `text`/`body` the frame carries. */
  private def contents(rs: Array[Row], columns: Seq[String]): Seq[Seq[Any]] = {
    val txt = columns.find(c => c == "text" || c == "body").get
    val ix = Seq(columns.indexOf("id"), columns.indexOf(txt)) ++
      Seq(columns.indexOf("_change")).filter(_ >= 0)
    rs.toSeq.map(r => ix.map(r.get)).sortBy(_.mkString("|"))
  }

  private def model(m: Map[Long, String]): Seq[Seq[Any]] =
    m.toSeq.map { case (i, s) => Seq[Any](i, s) }.sortBy(_.mkString("|"))

  /** The net change from `a` to `b` as `_change` rows. */
  private def diff(a: Map[Long, String],
                   b: Map[Long, String]): Seq[Seq[Any]] =
    ((b.toSet -- a.toSet).toSeq.map { case (i, s) =>
      Seq[Any](i, s, "insert") } ++
      (a.toSet -- b.toSet).toSeq.map { case (i, s) =>
        Seq[Any](i, s, "delete") }).sortBy(_.mkString("|"))

  private def observe(t: String)(f: => DataFrame): Seen = {
    var df: DataFrame = null
    var got: Array[Row] = null
    val run = Probe.record(bench) { df = f; got = df.collect() }
    Seen(run.jobs.size, df.inputFiles.toSeq.map(p =>
      p.substring(p.indexOf(t + "/") + t.length + 1)).sorted,
      contents(got, df.columns.toSeq))
  }

  /** Name each scanned file by the first version whose manifest holds
    * it: `vK` for a data file, `dK` for an equality-delete key file. */
  private def labels(t: String, files: Seq[String]): Seq[String] = {
    val ms = (1L to Snapshot.latestVersion(bench, t).get)
      .flatMap(v => Snapshot.readManifest(bench, t, v))
    files.map { p =>
      ms.find(_.files.exists(_.path == p)).map(m => s"v${m.version}")
        .orElse(ms.find(_.eqDeletes.exists(d => p.startsWith(d.dir + "/")))
          .map(m => s"d${m.version}"))
        .getOrElse(s"? $p")
    }.sorted
  }

  /** (jobs, files as labels) per read, as measured before the read
    * paths shared one lineage walk, schema mapper and pruned read —
    * except that each equality-delete key file (d5, d6) is now one
    * part file where it was two. */
  private val want: Map[String, (Int, Seq[String])] = Map(
    "read@3" -> (1, Seq("v1", "v2", "v3")),
    "readWhere@3" -> (1, Seq("v2")),
    "readWhere@3 none" -> (0, Seq()),
    "readEquals@3" -> (1, Seq("v2")),
    "readIn@3" -> (1, Seq("v1", "v2")),
    "readAppendsSince(1)@3" -> (1, Seq("v2", "v3")),
    "readAppendsSince(3)@3" -> (0, Seq()),
    "consumeChanges first" -> (1, Seq()),
    "readChangesBetween(0,3]" -> (1, Seq("v1", "v2", "v3")),
    "readChangesBetween(3,3]" -> (0, Seq()),
    "read@7" -> (2, Seq("d5", "d6", "v1", "v2", "v3", "v6")),
    "readWhere@7" -> (2, Seq("d5", "d6", "v1", "v2", "v6")),
    "readWhere@7 none" -> (0, Seq()),
    "readEquals@7" -> (2, Seq("d5", "d6", "v2", "v6")),
    "readEquals@7 deleted" -> (2, Seq("d5", "d6", "v2")),
    "readEquals@7 none" -> (0, Seq()),
    "readIn@7" -> (2, Seq("d5", "d6", "v1", "v2", "v6")),
    "readIn@7 none" -> (0, Seq()),
    "readAsOf@5" -> (2, Seq("d5", "v1", "v2", "v3")),
    "readChangesBetween(3,4]" -> (1, Seq("v1", "v2")),
    "readChangesBetween(4,5]" -> (3, Seq("d5", "v1", "v2")),
    "readChangesBetween(5,6]" -> (4, Seq("d5", "d6", "v1", "v2", "v6")),
    "readChangesBetween(6,7]" -> (0, Seq()),
    "readAppendsSince(7)@8" -> (1, Seq("v8")),
    "readAppendsSince(8)@8" -> (0, Seq()),
    "readChangesBetween(7,8]" -> (1, Seq("v8")),
    "readChangesBetween(8,9]" -> (2, Seq("d5", "d6", "v1", "v8", "v9", "v9",
      "v9")),
    "readChangesBetween(9,10]" -> (1, Seq("v10", "v9")),
    "consumeChanges (3,10]" -> (6, Seq()),
    "readChangesBetween(10,11]" -> (0, Seq()),
    "readChangesBetween(11,12]" -> (0, Seq()),
    "readChangesBetween(12,13]" -> (0, Seq()),
    "readChangesBetween(13,14]" -> (1, Seq("v11", "v14")),
    "readChangesBetween(14,15]" -> (1, Seq("v11", "v14")),
    "readChangesBetween(3,14]" -> (6, Seq("d5", "d6", "v1", "v10", "v11",
      "v14", "v2", "v6", "v8", "v9", "v9", "v9")),
    "readChangesBetween(3,15]" -> (1, Seq("v1", "v11", "v2", "v3")),
    "consumeChanges (10,15]" -> (2, Seq()),
    "consumeChanges up to date" -> (0, Seq()),
    "readBranch audit" -> (1, Seq("v11", "v16")),
    "readChangesBetween(15,16]" -> (1, Seq("v16")),
    "readChangesBetween(11,16]" -> (1, Seq("v11", "v16")))

  test("every read: jobs, scanned files and rows on one commit chain") {
    val dir = freshDir()
    val t = s"$dir/t"
    val state = s"$dir/consumer"
    val models = scala.collection.mutable.Map(0L -> Map.empty[Long, String])
    var cur = Map.empty[Long, String]
    def commit(v: Long)(next: Map[Long, String]): Unit = {
      assert(Snapshot.latestVersion(bench, t).contains(v))
      cur = next
      models(v) = next
    }
    val seen = scala.collection.mutable.LinkedHashMap.empty[String, Seen]
    def check(name: String, expect: Seq[Seq[Any]])(f: => DataFrame): Unit = {
      val s = observe(t)(f)
      assert(s.rows == expect, name)
      seen(name) = s
    }
    def window(a: Long, b: Long): Unit =
      check(s"readChangesBetween($a,$b]", diff(models(a), models(b)))(
        Snapshot.readChangesBetween(bench, t, a, b))
    def consume(name: String, expect: Option[(Long, Long)]): Unit = {
      var got: Array[Row] = Array.empty
      var cols: Seq[String] = Nil
      var processed: Option[(Long, Long)] = None
      val run = Probe.record(bench) {
        processed = Snapshot.consumeChanges(bench, t, state) { df =>
          got = df.collect(); cols = df.columns.toSeq }
      }
      assert(processed == expect, name)
      val rs = expect.fold(Seq.empty[Seq[Any]]) { case (a, b) =>
        diff(models(a), models(b)) }
      assert((if (cols.isEmpty) Nil else contents(got, cols)) == rs, name)
      seen(name) = Seen(run.jobs.size, Nil, rs)
    }
    def stats = Seq("id")

    // v1-v3: three single-file appends, stats and a Bloom filter on id
    for (((lo, hi), v) <- Seq((0L, 100L), (100L, 200L), (200L, 2200L))
           .zip(1L to 3L)) {
      Snapshot.append(rows(lo until hi, doc), t, statsCols = stats,
        bloomCols = stats)
      commit(v)(cur ++ (lo until hi).map(i => i -> doc(i)))
    }
    check("read@3", model(cur))(Snapshot.read(bench, t))
    check("readWhere@3", model(cur.filter(e => e._1 >= 150 && e._1 <= 160)))(
      Snapshot.readWhere(bench, t, "id", 150L, 160L))
    check("readWhere@3 none", Nil)(
      Snapshot.readWhere(bench, t, "id", 9000L, 9100L))
    check("readEquals@3", model(cur.filter(_._1 == 150L)))(
      Snapshot.readEquals(bench, t, "id", 150L))
    check("readIn@3", model(cur.filter(e => Set(5L, 150L)(e._1))))(
      Snapshot.readIn(bench, t, "id", Seq(5L, 150L, 9999L)))
    check("readAppendsSince(1)@3", model(cur -- models(1).keys))(
      Snapshot.readAppendsSince(bench, t, 1L))
    check("readAppendsSince(3)@3", Nil)(Snapshot.readAppendsSince(bench, t, 3L))
    consume("consumeChanges first", Some((0L, 3L)))
    window(0L, 3L)
    window(3L, 3L)

    // v4 range delete, v5 key delete, v6 upsert, all merge-on-read;
    // v7 renames text -> body: every entry stays pending
    Snapshot.deleteRangeMor(bench, t, "id", 90L, 110L)
    commit(4L)(cur.filterNot(e => e._1 >= 90L && e._1 <= 110L))
    Snapshot.deleteKeysMor(rows(Seq(5L, 150L), doc).select("id"), t)
    commit(5L)(cur -- Seq(5L, 150L))
    val upserts = Seq(10L, 120L, 5000L)
    Snapshot.mergeMor(rows(upserts, _ => "U"), t, "id")
    commit(6L)(cur ++ upserts.map(_ -> "U"))
    Snapshot.renameColumn(bench, t, "text", "body")
    commit(7L)(cur)
    check("read@7", model(cur))(Snapshot.read(bench, t))
    check("readWhere@7", model(cur.filter(e => e._1 >= 95 && e._1 <= 130)))(
      Snapshot.readWhere(bench, t, "id", 95L, 130L))
    check("readWhere@7 none", Nil)(
      Snapshot.readWhere(bench, t, "id", 9000L, 9100L))
    check("readEquals@7", model(cur.filter(_._1 == 120L)))(
      Snapshot.readEquals(bench, t, "id", 120L))
    check("readEquals@7 deleted", Nil)(
      Snapshot.readEquals(bench, t, "id", 150L))
    check("readEquals@7 none", Nil)(Snapshot.readEquals(bench, t, "id", 9999L))
    check("readIn@7", model(cur.filter(e => Set(10L, 100L, 5000L)(e._1))))(
      Snapshot.readIn(bench, t, "id", Seq(10L, 100L, 5000L, 9999L)))
    check("readIn@7 none", Nil)(
      Snapshot.readIn(bench, t, "id", Seq(8888L, 9999L)))
    check("readAsOf@5", model(models(5L)))(Snapshot.readAsOf(bench, t,
      Snapshot.readManifest(bench, t, 5L).get.atMicros))
    val refused = intercept[IllegalStateException](
      Snapshot.readAppendsSince(bench, t, 3L))
    assert(refused.getMessage.contains("not append-only"))
    (3L until 7L).foreach(v => window(v, v + 1))

    // v8 append under the new name; v9 copy-on-write merge; v10
    // copy-on-write delete
    Snapshot.append(rows(3000L until 3010L, doc, "body"), t,
      statsCols = stats, bloomCols = stats)
    commit(8L)(cur ++ (3000L until 3010L).map(i => i -> doc(i)))
    check("readAppendsSince(7)@8", model(cur -- models(7).keys))(
      Snapshot.readAppendsSince(bench, t, 7L))
    check("readAppendsSince(8)@8", Nil)(Snapshot.readAppendsSince(bench, t, 8L))
    Snapshot.merge(rows(Seq(20L, 3005L), _ => "M", "body"), t, "id")
    commit(9L)(cur ++ Seq(20L -> "M", 3005L -> "M"))
    Snapshot.deleteWhere(bench, t, col("id") === 42L)
    commit(10L)(cur - 42L)
    (7L until 10L).foreach(v => window(v, v + 1))
    consume("consumeChanges (3,10]", Some((3L, 10L)))

    // v11 compact, v12-v13 layout there and back, v14 overwrite, v15
    // rollback (an action the chain walk does not know: endpoint diff)
    Snapshot.compact(bench, t)
    commit(11L)(cur)
    Snapshot.repartitionTable(bench, t, Seq("id"))
    commit(12L)(cur)
    Snapshot.repartitionTable(bench, t, Nil)
    commit(13L)(cur)
    Snapshot.overwrite(rows(0L until 50L, doc, "body"), t, statsCols = stats)
    commit(14L)((0L until 50L).map(i => i -> doc(i)).toMap)
    Snapshot.rollback(bench, t, 11L)
    commit(15L)(models(11L))
    (10L until 15L).foreach(v => window(v, v + 1))
    window(3L, 14L)
    window(3L, 15L)
    consume("consumeChanges (10,15]", Some((10L, 15L)))
    consume("consumeChanges up to date", None)

    // a branch: its head is another lineage over shared versions
    Snapshot.createBranch(bench, t, "audit")
    Snapshot.append(rows(6000L until 6005L, doc, "body"), t, branch = "audit")
    models(16L) = cur ++ (6000L until 6005L).map(i => i -> doc(i))
    check("readBranch audit", model(models(16L)))(
      Snapshot.readBranch(bench, t, "audit"))
    window(15L, 16L)
    window(11L, 16L)

    val got = seen.toSeq.map { case (name, s) =>
      name -> (s.jobs, labels(t, s.files)) }
    assert(got.toMap == want)
  }

  test("a window past the chain-walk plan cap walks in checkpointed " +
       "segments") {
    val t = s"${freshDir()}/t"
    Snapshot.append(rows(0L until 50L, doc), t, statsCols = Seq("id"))
    (0 until 24).foreach { i =>
      Snapshot.append(rows(Seq(100L + i), doc), t, statsCols = Seq("id"))
    }
    Snapshot.deleteKeysMor(rows(Seq(3L, 110L), doc).select("id"), t)
    val until = Snapshot.latestVersion(bench, t).get
    assert(until == 26L)
    val expect = ((100L until 124L).filterNot(_ == 110L).map(i =>
      Seq[Any](i, doc(i), "insert")) :+ Seq[Any](3L, doc(3L), "delete"))
      .sortBy(_.mkString("|"))
    val s = observe(t)(Snapshot.readChangesBetween(bench, t, 1L, until))
    assert(s.rows == expect)
    assert(s.files.isEmpty) // the final frame reads only segment nets
    assert(s.jobs == 5)
  }

  test("a pruned read that keeps no file answers in the live schema " +
       "after renames, a widen and a drop") {
    val t = s"${freshDir()}/t"
    val s = bench
    import s.implicits._
    for (ids <- Seq(0L until 100L, 100L until 200L))
      Snapshot.append(ids.map(i => (i, doc(i), i.toInt, "x"))
        .toDF("id", "text", "n", "extra").coalesce(1), t,
        statsCols = Seq("id"), bloomCols = Seq("id"))
    Snapshot.renameColumn(bench, t, "id", "key")
    Snapshot.widenColumn(bench, t, "n", "long")
    Snapshot.renameColumn(bench, t, "n", "num")
    Snapshot.dropColumn(bench, t, "extra")
    val head = Snapshot.latestVersion(bench, t).get
    def shape(df: DataFrame): Seq[(String, DataType)] =
      df.schema.map(f => f.name -> f.dataType)
    val live = shape(Snapshot.read(bench, t))
    assert(live == Seq("key" -> LongType, "text" -> StringType,
      "num" -> LongType))
    for ((name, df, want) <- Seq(
        ("readWhere", Snapshot.readWhere(bench, t, "key", 5000L, 6000L),
          live),
        ("readEquals", Snapshot.readEquals(bench, t, "key", 5000L), live),
        ("readIn", Snapshot.readIn(bench, t, "key", Seq(5000L, 6000L)),
          live),
        ("readAppendsSince", Snapshot.readAppendsSince(bench, t, head),
          live),
        ("readChangesBetween",
          Snapshot.readChangesBetween(bench, t, head, head),
          live :+ ("_change" -> StringType)))) {
      assert(shape(df) == want, name)
      assert(df.isEmpty, name)
    }
    // a merge-on-read range delete on a column no file has stats for
    // types its residual off the same live schema
    Snapshot.deleteRangeMor(bench, t, "num", 10L, 19L)
    assert(Snapshot.read(bench, t).count() == 190L)
  }

  test("a pending equality delete on a non-leading column keeps the " +
       "table's column order, through compaction and the empty read") {
    val t = s"${freshDir()}/t"
    // a dotted non-key column: the order is restored by quoted name
    Snapshot.append(rows(0L until 10L, doc)
      .withColumn("a.b", col("id") * 2), t, statsCols = Seq("id"))
    val cols = Seq("id", "text", "a.b")
    def order(df: DataFrame): Seq[String] = df.columns.toSeq
    def none = Snapshot.readWhere(bench, t, "id", 500L, 600L)
    assert(order(Snapshot.read(bench, t)) == cols, "fresh")
    Snapshot.deleteKeysMor(rows(Seq(3L), doc).select("text"), t)
    val pending = Snapshot.read(bench, t)
    assert(order(pending) == cols, "pending")
    assert(pending.select(sum(col("`a.b`"))).head().getLong(0) == 84L)
    assert(order(none) == cols, "pending, empty read")
    Snapshot.compact(bench, t)
    assert(order(Snapshot.read(bench, t)) == cols, "compacted")
    assert(order(none) == cols, "compacted, empty read")
  }

  test("under src/main/scala only Snapshot's lineage walk follows a " +
       "parent pointer") {
    val hits = Files.walk(Path.of("src/main/scala")).iterator().asScala
      .map(_.toString).filter(_.endsWith(".scala"))
      .flatMap(p => """readManifest\([^)]*parent""".r
        .findAllIn(Files.readString(Path.of(p))).map(_ => p)).toSeq
    assert(hits == Seq("src/main/scala/graft/sources/Snapshot.scala"))
  }
}

object SnapshotReadPlanSpec {
  /** One read's observation: jobs to build and collect the frame, the
    * table-relative files its optimized plan scans, its rows. */
  private final case class Seen(jobs: Int, files: Seq[String],
                                rows: Seq[Seq[Any]])
}
