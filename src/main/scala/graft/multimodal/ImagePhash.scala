package graft.multimodal

import java.awt.image.BufferedImage
import java.io.ByteArrayInputStream
import javax.imageio.ImageIO

/** REAL perceptual image hashing (pHash, DCT variant — public
  * algorithm: Zauner 2010, "Implementation and Benchmarking of
  * Perceptual Image Hash Functions"; the pHash.org scheme) over the
  * [[MediaKernel]] seam: decode the actual pixels, reduce to
  * luminance, area-average to 32×32, 2-D DCT-II, threshold the
  * low-frequency 8×8 block (minus DC) at its median → 64-bit
  * signature. Perceptually-identical images (re-encodes, tiny noise)
  * land within a few bits; unrelated images differ in ~half.
  *
  * This is the multimodal member of the dedup family: the signature
  * feeds the same banded Hamming self-join as SimHash
  * (`Dedup.phashNearDuplicates` → `Dedup.bandedHammingPairs` → the
  * shared band join `Pairs.bandJoin`), so image near-dup runs
  * candidate-generation-first at corpus scale — never all-pairs.
  *
  * ==Determinism==
  * All transcendentals go through `StrictMath` (bit-identical across
  * JVMs/platforms), so signatures are reproducible and golden-pinnable.
  *
  * ==Scale notes==
  * Map-shaped kernel (no shuffle); per image the DCT is computed only
  * for the 8×8 low-frequency block (64 coefficients × 1024 samples ≈
  * 65k multiplies) against a precomputed cosine table shared by the
  * whole partition's handle. Undecodable bytes → None (quarantined by
  * the caller, consistent with [[ImageIo]]). */
object ImagePhash {

  private val N = 32 // resample grid
  private val K = 8  // low-frequency block

  /** cos((2x+1)·u·π/(2N)) for x < N, u < K — shared, immutable. */
  private lazy val cosTable: Array[Array[Double]] =
    Array.tabulate(K, N) { (u, x) =>
      StrictMath.cos((2 * x + 1) * u * StrictMath.PI / (2.0 * N))
    }

  /** 64-bit perceptual hash of encoded image bytes; None if the bytes
    * do not decode. Bit (8·u + v) is set iff DCT(u,v) exceeds the
    * median of the 8×8 low-frequency block excluding DC; bit 0 (DC)
    * is always clear. */
  def phash64(bytes: Array[Byte]): Option[Long] = {
    val img =
      try Option(ImageIO.read(new ByteArrayInputStream(bytes)))
      catch { case _: Exception => None }
    img.map(hashPixels)
  }

  /** REAL (classical) visual feature vector: the 63 AC coefficients of
    * the same low-frequency DCT block, L2-normalized — genuine pixel
    * features, not a learned embedding (the model seam stays
    * [[Multimodal.FakeEmbedder]]'s to fill). Feeds
    * `Dedup.embeddingNearDuplicates` for cosine-space image dedup:
    * perceptual twins land at cosine ≈ 1, unrelated textures near 0.
    * None if the bytes do not decode. */
  def dctFeatures(bytes: Array[Byte]): Option[Array[Float]] = {
    val img =
      try Option(ImageIO.read(new ByteArrayInputStream(bytes)))
      catch { case _: Exception => None }
    img.map { im =>
      val coef = dctBlock(im)
      val ac = (for { u <- 0 until K; v <- 0 until K if u != 0 || v != 0 }
        yield coef(u)(v)).toArray
      val norm = StrictMath.sqrt(ac.map(a => a * a).sum)
      if (norm == 0.0) ac.map(_ => 0f)
      else ac.map(a => (a / norm).toFloat)
    }
  }

  /** Per-partition handle for [[Multimodal.batchedFeatureExtract]]:
    * undecodable bytes yield an EMPTY vector (filter on
    * `size(features) > 0` to quarantine). */
  final class FeatureExtractor
      extends MediaKernel.Handle[Array[Byte], Array[Float]] {
    ImageIO.setUseCache(false)
    def processBatch(batch: Seq[Array[Byte]]): Seq[Array[Float]] =
      batch.map(b => dctFeatures(b).getOrElse(Array.empty[Float]))
  }

  val featureFactory: MediaKernel.Factory[Array[Byte], Array[Float]] =
    new MediaKernel.Factory[Array[Byte], Array[Float]] {
      def open() = new FeatureExtractor
    }

  private def hashPixels(img: BufferedImage): Long = {
    val coef = dctBlock(img)
    val ac = (for { u <- 0 until K; v <- 0 until K if u != 0 || v != 0 }
      yield coef(u)(v)).toArray.sorted
    val median = ac(ac.length / 2)
    var bits = 0L
    var u = 0
    while (u < K) {
      var v = 0
      while (v < K) {
        if ((u != 0 || v != 0) && coef(u)(v) > median)
          bits |= 1L << (u * K + v)
        v += 1
      }
      u += 1
    }
    bits
  }

  /** Luminance → 32×32 area-average → DCT-II, low-frequency K×K block. */
  private def dctBlock(img: BufferedImage): Array[Array[Double]] = {
    val w = img.getWidth
    val h = img.getHeight
    // luminance (ITU-R BT.601), area-averaged onto the N×N grid; each
    // cell averages its source block so any input size reduces stably
    val grid = Array.ofDim[Double](N, N)
    var gy = 0
    while (gy < N) {
      val y0 = gy * h / N
      val y1 = math.max((gy + 1) * h / N, y0 + 1)
      var gx = 0
      while (gx < N) {
        val x0 = gx * w / N
        val x1 = math.max((gx + 1) * w / N, x0 + 1)
        var sum = 0.0
        var y = y0
        while (y < math.min(y1, h)) {
          var x = x0
          while (x < math.min(x1, w)) {
            val rgb = img.getRGB(x, y)
            sum += 0.299 * ((rgb >> 16) & 0xff) +
                   0.587 * ((rgb >> 8) & 0xff) +
                   0.114 * (rgb & 0xff)
            x += 1
          }
          y += 1
        }
        val n = (math.min(y1, h) - y0).toLong * (math.min(x1, w) - x0)
        grid(gy)(gx) = if (n > 0) sum / n else 0.0
        gx += 1
      }
      gy += 1
    }
    // 2-D DCT-II, low-frequency K×K block only
    val coef = Array.ofDim[Double](K, K)
    var u = 0
    while (u < K) {
      var v = 0
      while (v < K) {
        var acc = 0.0
        var y = 0
        while (y < N) {
          var x = 0
          while (x < N) {
            acc += grid(y)(x) * cosTable(u)(y) * cosTable(v)(x)
            x += 1
          }
          y += 1
        }
        coef(u)(v) = acc
        v += 1
      }
      u += 1
    }
    coef
  }

  final class Hasher extends MediaKernel.Handle[Array[Byte], Option[Long]] {
    ImageIO.setUseCache(false) // no executor scratch files (ImageIo note)
    def processBatch(batch: Seq[Array[Byte]]): Seq[Option[Long]] =
      batch.map(phash64)
  }

  val hasherFactory: MediaKernel.Factory[Array[Byte], Option[Long]] =
    new MediaKernel.Factory[Array[Byte], Option[Long]] {
      def open() = new Hasher
    }
}
