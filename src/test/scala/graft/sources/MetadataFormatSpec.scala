package graft.sources

import java.nio.file.{Files, Paths}

import graft.TestSpark
import graft.similarity.LexicalIndex
import graft.sources.Snapshot._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The lakehouse's metadata files stay readable across the codec: the
  * bodies below are what the tree-building writers (before the shared
  * [[SidecarIo.mapper]]) produced, kept verbatim, and each must load
  * to the value those writers' readers returned for it. A fixed-seed
  * round trip then checks that whatever the current writer produces
  * loads back to the manifest it wrote. */
class MetadataFormatSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def write(path: String, body: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), body.getBytes("UTF-8"))
  }

  private val bloom = "CIIAAQAgAEAEAIEAgBiAAAAAAQAwACIAAQABEAAAFAAAAAAAAAAB" +
    "AAAAAAgAAAAAQEAwAAACEgCAgAgSBAAAoIAAAgIAEEUAIAQAAAAABAAAAAAEgAAgQABA" +
    "BAIgAAIAAQAAAQAEAEQBAAABACAAAAgKAIAIAEAIACgCAABAAAQ="

  private val group = "g-d1110c800ba2379e700c9d4df134b173.json"

  private val manifestBody = s"""{
  "version" : 5,
  "parent" : 4,
  "action" : "delete-mor",
  "rows" : 9,
  "tag" : "del-3",
  "atMicros" : 1792414965781969,
  "layout" : [ "p" ],
  "groups" : [ "$group" ],
  "rangeDeletes" : [ {
    "column" : "id",
    "lo" : "9",
    "hi" : "10",
    "typ" : "long",
    "seq" : 3
  } ],
  "eqDeletes" : [ {
    "dir" : "deletes/d9843543-cbb1-4f1a-85a0-aca11bfae411",
    "bytes" : 474,
    "rows" : 1,
    "seq" : 5,
    "cols" : [ "id" ]
  } ],
  "schemaChanges" : [ {
    "kind" : "rename",
    "from" : "text",
    "to" : "body",
    "typ" : "",
    "seq" : 4
  } ]
}"""

  private val groupBody = s"""[ {
  "path" : "data/4cd11d29-7e13-4543-81b8-0a32d3064c55/part-00000-f18f8254-d998-4279-bba0-2355038e62aa-c000.snappy.parquet",
  "bytes" : 1049654,
  "seq" : 1,
  "rows" : 12,
  "stats" : {
    "id" : {
      "min" : "0",
      "max" : "11",
      "typ" : "long",
      "nulls" : 0,
      "bloom" : "$bloom"
    },
    "text" : {
      "min" : "doc 1",
      "max" : "doc 9",
      "typ" : "string",
      "nulls" : 3
    }
  }
} ]"""

  private val refsBody = """{
  "heads" : {
    "audit" : 5,
    "main" : 5
  }
}"""

  private val expected = Manifest(5L, 4L, "delete-mor", 9L,
    Seq(FileEntry("data/4cd11d29-7e13-4543-81b8-0a32d3064c55/part-00000-" +
      "f18f8254-d998-4279-bba0-2355038e62aa-c000.snappy.parquet", 1049654L,
      Map("id" -> ColStats("0", "11", "long", 0L, bloom),
        "text" -> ColStats("doc 1", "doc 9", "string", 3L, "")), 1L, 12L)),
    "del-3", 1792414965781969L,
    Seq(RangeDelete("id", "9", "10", "long", 3L)),
    Seq(EqDelete("deletes/d9843543-cbb1-4f1a-85a0-aca11bfae411", 474L, 1L,
      Seq("id"), 5L)),
    Seq(SchemaChange("rename", "text", "body", "", 4L)), Some(Seq("p")))

  test("a manifest, its group file and a refs file written before the " +
    "codec load to the values their readers returned") {
    val t = Files.createTempDirectory("graft-format").toString + "/t"
    write(s"$t/_snapshots/v000000000005.json", manifestBody)
    write(s"$t/_snapshots/$group", groupBody)
    write(s"$t/_snapshots/refs-v000000000001.json", refsBody)
    assert(Snapshot.readManifest(spark, t, 5L).contains(expected))
    assert(Snapshot.refsOf(spark, t).contains(
      Refs(Map("audit" -> 5L, "main" -> 5L), 1L)))
    // the heads bind as longs, not boxed ints
    assert(Snapshot.branches(spark, t).values.map(_ + 1L).toSeq == Seq(6L, 6L))
  }

  test("entries from before the nulls, bloom, seq and rows fields take " +
    "their declared defaults") {
    val t = Files.createTempDirectory("graft-format").toString + "/t"
    write(s"$t/_snapshots/v000000000001.json",
      """{"version":1,"parent":0,"action":"append","rows":3,""" +
        """"files":[{"path":"data/a/f.parquet","bytes":10,""" +
        """"stats":{"id":{"min":"1","max":"3","typ":"long"}}}]}""")
    assert(Snapshot.readManifest(spark, t, 1L).contains(
      Manifest(1L, 0L, "append", 3L, Seq(FileEntry("data/a/f.parquet", 10L,
        Map("id" -> ColStats("1", "3", "long")))))))
  }

  test("view and index sidecars written before the codec load to the " +
    "values their readers returned") {
    val root = Files.createTempDirectory("graft-format").toString
    val mv = s"$root/mv"
    write(s"$mv/config.json", """{"keys":["kk"],"vals":["id"],""" +
      """"filter":"w >= 1","minmax":["w"],"distinct":["s"],"derives":""" +
      """[{"name":"kk","sql":"k % 2"},{"name":"k2","sql":"kk + 1"}]}""")
    write(s"$mv/baseline.json", """{"version":2}""")
    write(s"$mv/intent.json", """{"since":1,"until":2}""")
    write(s"$mv/createpin.json", """{"version":1}""")
    import Materialized.{Config, Derive}
    assert(Materialized.configOf(spark, mv) == Config(Seq("kk"), Seq("id"),
      "w >= 1", Seq("w"), Seq("s"),
      Seq(Derive("kk", "k % 2"), Derive("k2", "kk + 1"))))
    assert(Materialized.baselineOf(spark, mv) == 2L)
    assert(Materialized.pinnedUntil(spark, mv, 1L).contains(2L))
    assert(Materialized.pinnedUntil(spark, mv, 2L).isEmpty)
    assert(SidecarIo.readJson[VersionPin](spark, s"$mv/createpin.json")
      .contains(VersionPin(1L)))
    // a config written with only the mandatory fields
    write(s"$mv/config.json", """{"keys":["k"],"vals":["v"]}""")
    assert(Materialized.configOf(spark, mv) == Config(Seq("k"), Seq("v")))
    write(s"$root/ix/layout.json", """{"wordBuckets":4}""")
    assert(LexicalIndex.wordBucketsOf(spark, s"$root/ix") == 4)
    assert(LexicalIndex.wordBucketsOf(spark, s"$root/none") == 0)
  }

  test("the codec writes the declared fields only: no refs number, no " +
    "derived view columns, no absent layout") {
    def json(v: Any) = SidecarIo.mapper.writeValueAsString(v)
    assert(json(Refs(Map("main" -> 3L, "audit" -> 2L), 7L)) ==
      """{"heads":{"audit":2,"main":3}}""")
    import Materialized.{Config, Derive}
    assert(json(Config(Seq("k"), Seq("v"), minmax = Seq("m"),
      derives = Seq(Derive("k", "a % 2")))) ==
      """{"keys":["k"],"vals":["v"],"filter":"","minmax":["m"],""" +
        """"distinct":[],"derives":[{"name":"k","sql":"a % 2"}]}""")
    val t = Files.createTempDirectory("graft-format").toString + "/t"
    assert(Snapshot.claim(spark, t, Manifest(1L, 0L, "append", 0L, Nil)))
    assert(new String(Files.readAllBytes(
      Paths.get(s"$t/_snapshots/v000000000001.json")), "UTF-8") ==
      """{"version":1,"parent":0,"action":"append","rows":0,"tag":"",""" +
        """"atMicros":0,"groups":[],"rangeDeletes":[],"eqDeletes":[],""" +
        """"schemaChanges":[]}""")
  }

  test("map keys serialize sorted, so equal group contents hash equal") {
    val stats = ('a' to 'h').map(c =>
      c.toString -> ColStats("0", "1", "long", 0L))
    def body(m: Map[String, ColStats]) = new String(
      SidecarIo.mapper.writeValueAsBytes(Seq(FileEntry("p", 1L, m))), "UTF-8")
    val fwd = body(stats.toMap)
    assert(fwd == body(stats.reverse.toMap))
    val keys = "\"([a-h])\":\\{".r.findAllMatchIn(fwd).map(_.group(1)).toSeq
    assert(keys == ('a' to 'h').map(_.toString))
  }

  test("manifests round-trip through claim and readManifest " +
    "(fixed-seed scalacheck)") {
    val str = Gen.oneOf(Gen.alphaNumStr,
      Gen.listOf(Gen.choose(' ', '~')).map(_.mkString),
      Gen.const("é \"q\" \\ \u001f ünï"))
    val long = Gen.oneOf(Gen.choose(-5L, 5L), Gen.choose(Long.MinValue,
      Long.MaxValue))
    val stats = for {
      min <- str; max <- str; typ <- Gen.oneOf("long", "string", "date")
      nulls <- long; bloom <- Gen.oneOf(Gen.const(""), Gen.alphaNumStr)
    } yield ColStats(min, max, typ, nulls, bloom)
    def entry(root: Int, i: Int) = for {
      bytes <- long; seq <- long; rows <- long
      st <- Gen.mapOf(Gen.zip(Gen.oneOf("id", "text", "a", "b", "c", "é"),
        stats))
    } yield FileEntry(s"data/r$root/f$i.parquet", bytes, st, seq, rows)
    val files = for {
      sizes <- Gen.listOf(Gen.choose(1, 3)).map(_.take(4))
      groups <- Gen.sequence[List[Seq[FileEntry]], Seq[FileEntry]](
        sizes.zipWithIndex.map { case (n, r) =>
          Gen.sequence[List[FileEntry], FileEntry]((0 until n).map(entry(r, _)))
        })
    } yield groups.flatten
    val cols = Gen.listOf(str).map(_.take(3))
    val manifest = for {
      version <- Gen.choose(1L, Long.MaxValue); parent <- long
      action <- str; rows <- long; fs <- files; tag <- str; at <- long
      rds <- Gen.listOf(Gen.zip(str, str, str, str, long)).map(_.take(2)
        .map(RangeDelete.tupled))
      eds <- Gen.listOf(Gen.zip(str, long, long, cols, long)).map(_.take(2)
        .map(EqDelete.tupled))
      scs <- Gen.listOf(Gen.zip(str, str, str, str, long)).map(_.take(2)
        .map(SchemaChange.tupled))
      layout <- Gen.option(cols)
    } yield Manifest(version, parent, action, rows, fs, tag, at, rds, eds,
      scs, layout)
    val root = Files.createTempDirectory("graft-format").toString
    var n = 0
    val prop = Prop.forAll(manifest) { (m: Manifest) =>
      n += 1
      val t = s"$root/t$n"
      Snapshot.claim(spark, t, m) &&
        Snapshot.readManifest(spark, t, m.version).contains(m)
    }
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(100).withMaxSize(20)
      .withInitialSeed(Seed(20261019L)), prop)
    assert(res.passed, res.toString)
  }
}
