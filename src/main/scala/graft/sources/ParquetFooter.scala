package graft.sources

import org.apache.parquet.column.ColumnReader
import org.apache.parquet.hadoop.metadata.BlockMetaData
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import Snapshot.ColStats

/** The one reader of parquet FOOTERS: a file's row count and its
  * per-column min/max/null-count, merged over its row groups, come
  * off the metadata the writer already computed — no Spark job, no
  * data scan. [[Snapshot]]'s per-file index (rows, stats, and the
  * values its driver-built Bloom filters hash), [[Layout]]'s
  * compaction row checks and [[graft.Tables]]' fixture bounds all
  * read footers here, so the physical-type rules (which parquet
  * shapes carry usable stats, timestamp units, UTF-8 binaries) live
  * in one place.
  *
  * Stats use [[ColStats]]' typed serialization and are BOUNDS: a
  * column with no usable stats in some row group (absent statistics,
  * NaN float bounds, INT96 or nanosecond timestamps, a physical type
  * the stat type does not admit) has no stats at all. */
private[graft] object ParquetFooter {

  /** One pass over a file: its row count, the [[ColStats]] of each
    * asked column that has usable stats, and — for each asked Bloom
    * column with stats — the [[FileBloom]] positions (mod
    * [[FileBloom.MaxBits]]) of its non-null values. */
  final case class Facts(rows: Long, stats: Map[String, ColStats],
                         positions: Map[String, Seq[Int]])

  /** Open `file` once. `cols` are (column, stat type) pairs; the
    * values of `bloomCols` (a subset) are read in ONE projected pass
    * over the row groups, without a second footer read. */
  def read(conf: org.apache.hadoop.conf.Configuration, file: String,
           cols: Seq[(String, String)],
           bloomCols: Set[String] = Set.empty): Facts = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file), conf))
    try {
      val footer = reader.getFooter
      val blocks = footer.getBlocks.asScala.toSeq.filter(_.getRowCount > 0L)
      val stats = cols.flatMap { case (c, t) =>
        colStats(blocks, c, t).map(c -> _) }.toMap
      val hashed = cols.filter { case (c, _) =>
        bloomCols.contains(c) && stats.contains(c) }
      Facts(blocks.map(_.getRowCount).sum, stats,
        if (hashed.isEmpty) Map.empty
        else positions(reader, footer.getFileMetaData, hashed))
    } finally reader.close()
  }

  /** [[read]], or None on any non-fatal failure (a missing or
    * unreadable file) — for callers that have a fallback. */
  def tryRead(conf: org.apache.hadoop.conf.Configuration, file: String,
              cols: Seq[(String, String)]): Option[Facts] =
    try Some(read(conf, file, cols)) catch { case NonFatal(_) => None }

  /** A file's footer row count. */
  def rows(conf: org.apache.hadoop.conf.Configuration,
           file: String): Long = read(conf, file, Nil).rows

  /** The value of a chunk's raw statistic or cell (as parquet hands
    * it out per physical type) in the canonical form of stat type
    * `typ` — [[FileBloom.hasher]]'s input: a Long for `long`, epoch
    * MICROS for `timestamp`, a Double for `double`, UTF-8 bytes for
    * `string`, the epoch-day Int for `date`. None for shapes the index
    * does not read. */
  private def canon(pt: PrimitiveType, typ: String): Option[Any => Any] =
    (pt.getPrimitiveTypeName, typ) match {
      case (INT32 | INT64, "long") => Some(_.asInstanceOf[Number].longValue)
      case (INT32, "date") => Some(identity)
      case (INT64, "timestamp") => pt.getLogicalTypeAnnotation match {
        case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          ts.getUnit match {
            case LogicalTypeAnnotation.TimeUnit.MICROS => Some(identity)
            case LogicalTypeAnnotation.TimeUnit.MILLIS =>
              Some(v => v.asInstanceOf[Long] * 1000L)
            case _ => None // NANOS would overflow micros
          }
        case _ => None
      }
      case (FLOAT | DOUBLE, "double") =>
        Some(_.asInstanceOf[Number].doubleValue)
      case (BINARY, "string") =>
        Some(_.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes)
      case _ => None
    }

  /** A canonical value in [[ColStats]]' typed serialization. */
  private def repr(typ: String, v: Any): String = typ match {
    case "date" => java.time.LocalDate.ofEpochDay(
      v.asInstanceOf[Int].toLong).toString
    case "string" => new String(v.asInstanceOf[Array[Byte]],
      java.nio.charset.StandardCharsets.UTF_8)
    case _ => v.toString
  }

  /** Column `c`'s statistics merged over `blocks`, or None when any
    * chunk lacks usable values — conservative. All-null chunks add
    * only their null count. */
  private def colStats(blocks: Seq[BlockMetaData], c: String,
                       typ: String): Option[ColStats] = {
    var mn: String = null
    var mx: String = null
    var nulls = 0L
    var nullsKnown = true
    val it = blocks.iterator
    while (it.hasNext) {
      val chunk = it.next().getColumns.asScala
        .find(_.getPath.toDotString == c).orNull
      if (chunk == null) return None // column absent from the file
      val st: org.apache.parquet.column.statistics.Statistics[_] =
        chunk.getStatistics
      if (st == null || st.isEmpty) return None // writer omitted stats
      if (st.getNumNulls < 0) nullsKnown = false
      else nulls += st.getNumNulls
      if (st.hasNonNullValue) {
        val f = canon(chunk.getPrimitiveType, typ) match {
          case Some(f) => f
          case None => return None
        }
        val (a, b) = (f(st.genericGetMin), f(st.genericGetMax))
        (a, b) match {
          case (x: Double, y: Double) if x.isNaN || y.isNaN =>
            return None // NaN poisons float stats
          case _ => ()
        }
        val (ra, rb) = (repr(typ, a), repr(typ, b))
        if (mn == null || Snapshot.cmp(typ, ra, mn) < 0) mn = ra
        if (mx == null || Snapshot.cmp(typ, rb, mx) > 0) mx = rb
      }
    }
    if (mn == null) None // every chunk all-null
    else Some(ColStats(mn, mx, typ, if (nullsKnown) nulls else -1L))
  }

  /** The Bloom positions of each `cols` column's non-null values,
    * read row group by row group through a projection of just those
    * columns, each value hashed by [[FileBloom.hasher]]. */
  private def positions(
      reader: org.apache.parquet.hadoop.ParquetFileReader,
      meta: org.apache.parquet.hadoop.metadata.FileMetaData,
      cols: Seq[(String, String)]): Map[String, Seq[Int]] = {
    val schema = meta.getSchema
    val fields = cols.map { case (c, _) =>
      schema.getType(schema.getFieldIndex(c)).asPrimitiveType() }
    val proj = new org.apache.parquet.schema.MessageType(
      "graftBloomProj", fields: _*)
    reader.setRequestedSchema(proj)
    val readers = cols.zip(fields).map { case ((_, t), pt) =>
      val get: ColumnReader => Any = pt.getPrimitiveTypeName match {
        case INT32 => _.getInteger
        case INT64 => _.getLong
        case FLOAT => _.getFloat
        case DOUBLE => _.getDouble
        case _ => _.getBinary
      }
      (get, canon(pt, t).get, FileBloom.hasher(t))
    }
    val bits = cols.map(_ => new scala.collection.mutable.BitSet(
      FileBloom.MaxBits))
    var pages = reader.readNextRowGroup()
    while (pages != null) {
      val store = new org.apache.parquet.column.impl.ColumnReadStoreImpl(
        pages, new org.apache.parquet.example.data.simple.convert
          .GroupRecordConverter(proj).getRootConverter,
        proj, meta.getCreatedBy)
      proj.getColumns.asScala.zip(readers).zip(bits).foreach {
        case ((desc, (get, toCanon, hash)), set) =>
          val cr = store.getColumnReader(desc)
          var n = pages.getRowCount // flat columns: one value per row
          while (n > 0L) {
            if (cr.getCurrentDefinitionLevel == desc.getMaxDefinitionLevel)
              FileBloom.positions(hash(toCanon(get(cr))), FileBloom.MaxBits)
                .foreach(set += _)
            cr.consume()
            n -= 1L
          }
      }
      pages = reader.readNextRowGroup()
    }
    cols.map(_._1).zip(bits.map(_.toSeq)).toMap
  }

  /** Invert Spark/Hive partition-path escaping (`%XX` hex for chars
    * like `:` `=` `/` `%`). Without this a string partition value
    * `a:b` reads back as `a%3Ab`, and a stats comparison against the
    * raw bound can prune a file holding matching rows. A `%` not
    * followed by two hex digits passes through literally, as in
    * Hive's and Spark's own unescape. */
  def unescapePathName(v: String): String = {
    if (v.indexOf('%') < 0) return v
    val sb = new java.lang.StringBuilder(v.length)
    var i = 0
    while (i < v.length) {
      val hi = if (v.charAt(i) == '%' && i + 2 < v.length)
        Character.digit(v.charAt(i + 1), 16) else -1
      val lo = if (hi >= 0) Character.digit(v.charAt(i + 2), 16) else -1
      if (lo >= 0) { sb.append(((hi << 4) | lo).toChar); i += 3 }
      else { sb.append(v.charAt(i)); i += 1 }
    }
    sb.toString
  }
}
