package graft.sources

import java.nio.file.Files

import graft.{Probe, TestSpark}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Every data-rewriting [[Snapshot]] commit, pinned on one fixture: the
  * Spark jobs each op runs (bench session shape: AQE off, 8 shuffle
  * partitions), the manifest it commits (action, rows, files, pending
  * deletes) and the table it leaves, against a driver-side model. Also
  * the paths no other spec reaches: [[Snapshot.deleteRangeMor]] across
  * a mid-flight append, and both sides of the merge paths' probe-key
  * cap. */
class SnapshotWritePlanSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  lazy val bench: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    s
  }

  private def freshTable(): String =
    Files.createTempDirectory("graft-plan").toString + "/t"

  private def rows(ids: Seq[Long], text: Long => String): DataFrame = {
    val s = bench
    import s.implicits._
    ids.map(i => (i, text(i))).toDF("id", "text").coalesce(1)
  }

  private def doc(i: Long): String = s"doc $i"

  /** The table's rows as id -> text. */
  private def contents(t: String): Map[Long, String] =
    Snapshot.read(bench, t).select("id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

  /** Three single-file appends (the third ~20x the others, so a
    * partial small-file selection exists) with stats and a Bloom
    * filter on `id`, then one pending merge-on-read key delete. */
  private def fixture(): (String, Map[Long, String]) = {
    val t = freshTable()
    for ((lo, hi) <- Seq((0L, 100L), (100L, 200L), (200L, 2200L)))
      Snapshot.append(rows(lo until hi, doc), t, statsCols = Seq("id"),
        bloomCols = Seq("id"))
    Snapshot.deleteKeysMor(rows(Seq(5L, 150L), doc).select("id"), t)
    val model = (0L until 2200L).filterNot(Set(5L, 150L))
      .map(i => i -> doc(i)).toMap
    assert(contents(t) == model)
    (t, model)
  }

  /** `op`'s committed version and the jobs it ran. */
  private def recorded(op: => Long): (Long, Int) = {
    var v = -1L
    val run = Probe.record(bench) { v = op }
    (v, run.jobs.size)
  }

  private final case class Expect(jobs: Int, action: String, rows: Long,
                                  files: Int, rangeDeletes: Int,
                                  eqDeletes: Int)

  private val upserts = Seq(10L, 120L, 150L, 5000L)
  private val whereCond: Column =
    col("text") === "doc 42" || col("id") === 250L
  private def outside(lo: Long, hi: Long)(m: Map[Long, String]) =
    m.filterNot { case (i, _) => i >= lo && i <= hi }

  /** (name, op on the fixture table, its model, expected outcome) —
    * the expectations are the values the commits produced before the
    * write paths shared one planner, less one job for each key delete
    * since its key file is written by the accounting job itself. */
  private val ops: Seq[(String, String => Long,
      Map[Long, String] => Map[Long, String], Expect)] = Seq(
    ("merge", t => Snapshot.merge(rows(upserts, _ => "U"), t, "id"),
      _ ++ upserts.map(_ -> "U"), Expect(9, "merge", 2200L, 4, 0, 1)),
    ("mergeMor", t => Snapshot.mergeMor(rows(upserts, _ => "U"), t, "id"),
      _ ++ upserts.map(_ -> "U"), Expect(5, "merge-mor", 2200L, 4, 0, 2)),
    ("deleteRange", t => Snapshot.deleteRange(bench, t, "id", 90L, 199L),
      outside(90L, 199L), Expect(6, "delete", 2089L, 2, 0, 1)),
    ("deleteRangeMor",
      t => Snapshot.deleteRangeMor(bench, t, "id", 90L, 199L),
      outside(90L, 199L), Expect(4, "delete-mor", 2089L, 2, 1, 1)),
    ("deleteWhere", t => Snapshot.deleteWhere(bench, t, whereCond),
      _ -- Seq(42L, 250L), Expect(5, "delete", 2196L, 3, 0, 1)),
    ("deleteWhereMor",
      t => Snapshot.deleteWhereMor(bench, t, whereCond, "id"),
      _ -- Seq(42L, 250L), Expect(5, "delete-mor", 2196L, 3, 0, 2)),
    ("deleteKeysMor",
      t => Snapshot.deleteKeysMor(rows(Seq(7L, 8L, 260L), doc)
        .select("id"), t),
      _ -- Seq(7L, 8L, 260L), Expect(4, "delete-mor", 2195L, 3, 0, 2)),
    ("compact", t => Snapshot.compact(bench, t),
      identity, Expect(2, "compact", 2198L, 1, 0, 0)),
    ("compactClustered",
      t => Snapshot.compactClustered(bench, t, Seq("id")),
      identity, Expect(2, "compact", 2198L, 1, 0, 0)),
    // 4 before a whole-file selection verified against base.rows
    ("compactSmall", t => Snapshot.compactSmall(bench, t),
      identity, Expect(2, "compact", 2198L, 1, 0, 0)),
    ("compactSmall partial", { t =>
      val sizes = Snapshot.readManifest(bench, t,
        Snapshot.latestVersion(bench, t).get).get.files.map(_.bytes).sorted
      assert(sizes(2) > sizes(1) + 1, sizes)
      Snapshot.compactSmall(bench, t, smallBytes = sizes(1) + 1)
    }, identity, Expect(4, "compact", 2198L, 2, 0, 1)),
    ("overwrite",
      t => Snapshot.overwrite(rows(0L until 50L, doc), t,
        statsCols = Seq("id")),
      _ => (0L until 50L).map(i => i -> doc(i)).toMap,
      Expect(1, "overwrite", 50L, 1, 0, 0))
  )

  test("every write op: jobs, manifest and contents on one fixture") {
    val got = ops.map { case (name, op, model, _) =>
      val (t, before) = fixture()
      val (v, jobs) = recorded(op(t))
      val m = Snapshot.readManifest(bench, t, v).get
      val after = contents(t)
      assert(after == model(before), name)
      assert(m.rows == after.size.toLong, name)
      name -> Expect(jobs, m.action, m.rows, m.files.size,
        m.rangeDeletes.size, m.eqDeletes.size)
    }
    for (((name, _, _, want), (_, e)) <- ops.zip(got))
      assert(e == want, name)
  }

  test("deleteRangeMor carries a mid-flight append outside its range " +
       "and aborts on one inside it") {
    for ((appendIds, conflict) <- Seq((1000L until 1020L) -> false,
                                       (15L until 18L) -> true)) {
      val t = freshTable()
      Snapshot.append(rows(0L until 100L, doc), t, statsCols = Seq("id"))
      var carried: Seq[String] = Nil
      Snapshot.onCommitAttempt = () => {
        val v = Snapshot.append(rows(appendIds, doc), t,
          statsCols = Seq("id"))
        val m = Snapshot.readManifest(bench, t, v).get
        val prior = Snapshot.readManifest(bench, t, m.parent).get.files
        carried = m.files.filterNot(prior.contains).map(_.path)
      }
      try {
        if (conflict) {
          val e = intercept[IllegalStateException] {
            Snapshot.deleteRangeMor(bench, t, "id", 10L, 19L)
          }
          assert(e.getMessage.contains("CONFLICTING"))
        } else {
          val v = Snapshot.deleteRangeMor(bench, t, "id", 10L, 19L)
          val m = Snapshot.readManifest(bench, t, v).get
          assert(m.action == "delete-mor" && m.rows == 110L &&
            m.rangeDeletes.size == 1)
          assert(carried.nonEmpty &&
            carried.forall(m.files.map(_.path).contains))
          assert(contents(t) == ((0L until 100L) ++ appendIds)
            .filterNot(i => i >= 10L && i <= 19L).map(i => i -> doc(i))
            .toMap)
        }
      } finally Snapshot.onCommitAttempt = () => ()
    }
  }

  test("merge, mergeMor and deleteKeysMor equal a driver-side model on " +
       "both sides of the probe-key cap") {
    // jobs per op as measured before the fold (the key deletes since
    // their key file is the accounting write; an over-cap key delete
    // since its failed sample is not collected again): the two sides
    // of the cap run different probes, so the count also pins which
    // side ran
    val want = Map("merge@100" -> 6, "mergeMor@100" -> 4,
      "deleteKeysMor@100" -> 3, "merge@10001" -> 5, "mergeMor@10001" -> 5,
      "deleteKeysMor@10001" -> 4)
    val got = for (n <- Seq(100, 10001); op <- Seq("merge", "mergeMor",
        "deleteKeysMor")) yield {
      val t = freshTable()
      for ((lo, hi) <- Seq((0L, 4000L), (4000L, 8000L), (8000L, 12000L)))
        Snapshot.append(rows(lo until hi, doc), t, statsCols = Seq("id"),
          bloomCols = Seq("id"))
      val base = (0L until 12000L).map(i => i -> doc(i)).toMap
      val keys = (0 until n).map(_ * 2L)
      val (_, jobs) = recorded(op match {
        case "merge" => Snapshot.merge(rows(keys, _ => "U"), t, "id")
        case "mergeMor" => Snapshot.mergeMor(rows(keys, _ => "U"), t, "id")
        case _ => Snapshot.deleteKeysMor(rows(keys, doc).select("id"), t)
      })
      val model =
        if (op == "deleteKeysMor") base -- keys
        else base ++ keys.map(_ -> "U")
      assert(contents(t) == model, s"$op at $n keys")
      s"$op@$n" -> jobs
    }
    assert(got.toMap == want)
  }
}
