package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Per-file BLOOM FILTERS for the snapshot manifest's data-skipping
  * index ([[Snapshot]]): min/max stats answer RANGE questions, but a
  * point lookup or a key-list delete on a table whose file key ranges
  * all overlap (the post-shuffle reality before any clustered
  * compaction) prunes nothing by range — every file must be opened to
  * learn a key isn't there. A small write-time Bloom per (file,
  * tracked column) answers "key definitely absent" at the MANIFEST,
  * so the accounting scan of [[Snapshot.deleteKeysMor]] and a
  * [[Snapshot.readEquals]] point read open only the files that might
  * contain the key (the Iceberg/Parquet bloom idea, lifted to the
  * manifest so the driver prunes without touching any file).
  *
  * ==Shape==
  * Standard Kirsch–Mitzenmacher double hashing: ONE 64-bit xxhash64
  * of the canonicalized value, split into `h1`/`h2`, `K = 7` bit
  * positions `(h1 + i·h2) mod m`. A value hashes the same on every
  * path: a commit of small files builds its filters on the DRIVER
  * ([[ParquetFooter]] reads the column, [[hasher]] hashes each value),
  * bigger ones through Spark's codegen'd `xxhash64` over [[canonExpr]]
  * in a distributed aggregate, and probes hash the stored typed repr
  * through [[hashRepr]] — the same XXH64 kernel, seed and per-type
  * canonicalization every time, so both builds store byte-identical
  * filters. `m` is a power of two chosen per
  * file so the filter stays under a FIFTH full (per-key false-positive
  * rate ≈ 0.2^7 ≈ 1e-5 — sized for KEY-LIST probes, where thousands
  * of keys test each file and per-key rates MULTIPLY: a half-full
  * "standard" filter at 0.8%/key keeps almost every file once a
  * hundred keys probe it), capped at 2^18 bits = 32 KB — a saturated (over-capped)
  * filter degrades to "maybe present" for everything, which is
  * CONSERVATIVE: pruning weakens, correctness never does. Bit
  * positions are computed mod the CAP at build and folded to the
  * per-file `m` ([[fold]]) — sound because `m` divides the cap, so
  * `(x mod cap) mod m = x mod m`.
  *
  * False positives only ever KEEP a file (cost, not wrongness);
  * false negatives cannot happen for hashed values. NULLs are never
  * hashed — an equality probe for null matches no row by SQL
  * semantics, and the read paths' residual filters stand regardless.
  */
object FileBloom {

  /** Hash count per key. */
  val K = 7
  /** Position-space cap: 2^18 bits = 32 KB max per (file, column). */
  val MaxBits = 1 << 18
  /** Smallest filter: 1024 bits = 128 bytes. */
  val MinBits = 1 << 10
  private val Seed = 42L // xxhash64's fixed seed in Spark SQL

  /** The canonical column Spark's `xxhash64` must hash so the
    * distributed build matches [[hasher]]: long-family casts to long,
    * timestamps to epoch micros, doubles/strings/dates hash their
    * native Spark form. */
  def canonExpr(c: Column, typ: String): Column = typ match {
    case "long" => c.cast("long")
    case "timestamp" => unix_micros(c)
    case "double" => c.cast("double")
    case "string" | "date" => c
    case other =>
      throw new IllegalArgumentException(s"no bloom for stat type $other")
  }

  /** The one hash kernel: stat type `typ`'s function from a canonical
    * value to its 64-bit hash, byte-identical to Spark's
    * `xxhash64(canonExpr(c, typ))` on the same value (same XXH64
    * kernel and seed). A `long` and a `timestamp` (epoch micros) hash
    * as a Long; a `double` as its bits after -0.0 normalizes to 0.0,
    * as Spark's hash expression does; a `string` as its UTF-8 bytes; a
    * `date` as its epoch-day Int. */
  def hasher(typ: String): Any => Long = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    typ match {
      case "long" | "timestamp" =>
        v => XXH64.hashLong(v.asInstanceOf[Long], Seed)
      case "double" => v =>
        var d = v.asInstanceOf[Double]
        if (d == -0.0d) d = 0.0d
        XXH64.hashLong(java.lang.Double.doubleToLongBits(d), Seed)
      case "string" => v => XXH64.hashUTF8String(
        org.apache.spark.unsafe.types.UTF8String.fromBytes(
          v.asInstanceOf[Array[Byte]]), Seed)
      case "date" => v => XXH64.hashInt(v.asInstanceOf[Int], Seed)
      case other =>
        throw new IllegalArgumentException(
          s"no bloom for stat type $other")
    }
  }

  /** [[hasher]] over a stored typed repr ([[Snapshot.ColStats]]
    * serialization) — the probe side. */
  def hashRepr(typ: String, repr: String): Long = hasher(typ)(typ match {
    case "long" | "timestamp" => repr.toLong
    case "double" => repr.toDouble
    case "string" =>
      repr.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    case "date" => java.time.LocalDate.parse(repr).toEpochDay.toInt
  })

  /** The K bit positions of hash `h` in an `m`-bit filter (m a power
    * of two). `h2 | 1` keeps the stride odd so the K probes never
    * collapse onto one position. */
  def positions(h: Long, m: Int): Array[Int] = {
    val h1 = h & 0xffffffffL
    val h2 = (h >>> 32) | 1L
    Array.tabulate(K)(i => ((h1 + i * h2) & (m - 1)).toInt)
  }

  /** Build-side bit positions as Spark Columns, mod [[MaxBits]] (the
    * driver folds to the final per-file size). */
  def positionExprs(hash: Column): Seq[Column] = {
    val h1 = hash.bitwiseAND(lit(0xffffffffL))
    val h2 = shiftrightunsigned(hash, 32).bitwiseOR(lit(1L))
    (0 until K).map(i =>
      (h1 + lit(i.toLong) * h2).bitwiseAND(lit((MaxBits - 1).toLong))
        .cast("int"))
  }

  /** Fold a file's distinct positions (mod [[MaxBits]]) into the
    * smallest power-of-two filter at most a FIFTH full, base64-encoded
    * for the manifest — or None when even the cap would run past a
    * THIRD full: a saturated filter prunes nothing, so storing it
    * would spend manifest bytes (the resource the cap protects — at
    * 800 K files even 32 KB each is 25 GB of metadata) on pure
    * overhead. This bounds the useful regime to files of up to
    * roughly 12 K distinct keys; beyond that, point-pruning belongs
    * to parquet's own footer bloom pages inside the (already
    * range-pruned) candidate files, not to the manifest — the same
    * split Iceberg makes with puffin sidecars. */
  def fold(posModCap: Seq[Int]): Option[String] = {
    var m = MinBits
    while (m < MaxBits &&
        posModCap.iterator.map(_ & (m - 1)).toSet.size > m / 5)
      m <<= 1
    if (posModCap.iterator.map(_ & (m - 1)).toSet.size > m / 3)
      return None // saturated even at the cap: store nothing
    val bytes = new Array[Byte](m / 8)
    posModCap.foreach { p0 =>
      val p = p0 & (m - 1)
      bytes(p >> 3) = (bytes(p >> 3) | (1 << (p & 7))).toByte
    }
    Some(java.util.Base64.getEncoder.encodeToString(bytes))
  }

  /** Can a value of hash `h` be in the decoded filter `bloom`? The
    * caller hashes each probed value once and decodes each filter
    * once ([[Snapshot]] tests many values against many files). */
  def mayContainHash(bloom: Array[Byte], h: Long): Boolean = {
    val m = bloom.length * 8
    positions(h, m).forall(p => (bloom(p >> 3) & (1 << (p & 7))) != 0)
  }
}
