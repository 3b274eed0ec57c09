package graft.sources

import com.fasterxml.jackson.annotation.JsonInclude
import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper,
  SerializationFeature}
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.{DefaultScalaModule, JavaTypeable}
import org.apache.hadoop.fs.{FileContext, Options, Path}
import org.apache.spark.sql.SparkSession

/** Small JSON/text SIDECAR files (index layout pins, consumer
  * baselines) read and written through Hadoop's `FileSystem` API, so
  * they live wherever the data lives — local, HDFS, S3A. The
  * `java.nio` spelling these replace silently "misses" a sidecar on
  * any non-local scheme (`Files.exists` = false for `hdfs://...`),
  * which loses a word-bucketed index's partition pruning or
  * re-baselines a durable consumer with no signal.
  *
  * Writes are ATOMIC REPLACEMENTS **on rename-capable filesystems**
  * (local POSIX, HDFS): the body lands under a scratch name in the
  * destination directory, then `FileContext.rename` with
  * `Options.Rename.OVERWRITE` binds the real name — a concurrent
  * reader observes the old complete body or the new complete body,
  * never a torn one and never a missing file. On OBJECT STORES the
  * same call degrades to the store's rename (s3a: copy+delete — a
  * reader may briefly see the name absent between the delete and the
  * copy's visibility; never a torn body, since the copy is only
  * listed complete). Schemes whose `AbstractFileSystem` binding is
  * absent (FileContext unresolvable) fall back to delete +
  * `FileSystem.rename` — the weakest contract, same
  * complete-body-or-absent guarantee. Sidecars here are REBUILDABLE
  * pins and baselines, so a transient absence re-derives or replays;
  * nothing here may be used as a commit CAS (that is
  * [[Snapshot]]'s `createNew`, which never replaces).
  *
  * ==The metadata codec==
  * [[mapper]] is the ONE JSON codec of the lakehouse's metadata: it
  * binds each file to its case class — [[Snapshot]]'s version
  * manifests, content-addressed group files, `refs-v*.json` and the
  * `consumeChanges` baseline; [[Materialized]]'s `config.json`,
  * `baseline.json`, `intent.json` and `createpin.json`; the lexical
  * index's `layout.json`. Map keys are written in sorted order (a
  * group file's content hash is its name, so equal contents must
  * serialize equally), `None` fields are omitted, unknown fields are
  * ignored, and a missing field takes its constructor default — so
  * files written before a field existed still load.
  */
object SidecarIo {

  private[sources] val mapper: ObjectMapper = JsonMapper.builder()
    .addModule(DefaultScalaModule)
    .enable(SerializationFeature.ORDER_MAP_ENTRIES_BY_KEYS)
    .disable(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES)
    .serializationInclusion(JsonInclude.Include.NON_ABSENT)
    .build()

  private def conf(spark: SparkSession) =
    spark.sparkContext.hadoopConfiguration

  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(conf(spark)).exists(p)
  }

  /** The sidecar's bytes, or None when absent. */
  private def readBytes(spark: SparkSession,
                        path: String): Option[Array[Byte]] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf(spark))
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(in.readAllBytes()) finally in.close()
    }
  }

  /** The sidecar bound to `T`, or None when absent. */
  def readJson[T: JavaTypeable](spark: SparkSession,
                                path: String): Option[T] =
    readBytes(spark, path).map(mapper.readValue[T](_,
      implicitly[JavaTypeable[T]].asJavaType(mapper.getTypeFactory)))

  /** Write (or atomically REPLACE) the sidecar at `path` with `value`
    * as JSON. */
  def writeJsonAtomic[T](spark: SparkSession, path: String,
                         value: T): Unit =
    writeStringAtomic(spark, path, mapper.writeValueAsString(value))

  /** Write (or atomically REPLACE) the sidecar at `path`. */
  def writeStringAtomic(spark: SparkSession, path: String,
                        content: String): Unit = {
    val c = conf(spark)
    val dst = new Path(path)
    val fs = dst.getFileSystem(c)
    val qDst = fs.makeQualified(dst)
    fs.mkdirs(qDst.getParent)
    val scratch = new Path(qDst.getParent,
      s".tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(scratch, false)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    try {
      val fc = FileContext.getFileContext(qDst.toUri, c)
      fc.rename(fs.makeQualified(scratch), qDst,
        Options.Rename.OVERWRITE)
    } catch {
      case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
        // no AbstractFileSystem binding for this scheme (some object
        // stores ship only the FileSystem API): replace through
        // delete + rename — not atomic, but the body was written
        // COMPLETE under the scratch name, so a racing reader sees
        // the old body, the new body, or (briefly) no file; sidecars
        // are rebuildable, so absence re-derives, never corrupts
        fs.delete(qDst, false)
        if (!fs.rename(fs.makeQualified(scratch), qDst))
          throw new java.io.IOException(
            s"sidecar replace failed for $qDst")
    }
  }
}

/** A `{"version": N}` sidecar: a consumer's or a view's folded
  * baseline, a view's create pin. */
private[sources] final case class VersionPin(version: Long)
