package graft.multimodal

/** Perceptual fingerprints for the two modalities DD14's image pHash
  * left blind: AUDIO (a Haitsma–Kalker/chromaprint-shape band-energy
  * delta fingerprint over the real PCM read) and VIDEO (DCT pHash
  * over sampled Y4M luma planes) — closing VERDICT r13 "What's
  * missing #4". Both emit 64-bit signatures consumed by the same
  * banded Hamming join as SimHash/image-pHash
  * ([[graft.dedup.Dedup.bandedHammingPairs]], video frames with their
  * frame index carried), which meets its candidates through the one
  * band join every near-dup detector shares
  * ([[graft.ops.Pairs.bandJoin]]) — one pairing engine across text,
  * image, audio, and video.
  *
  * ==Audio (Haitsma & Kalker 2002, "A Highly Robust Audio
  * Fingerprinting System" — the published bit derivation)==
  * The mono signal ([[AudioEmbed.pcmMono]]'s decode) is reduced to a
  * (Segments+1)×(Bands+1) = 9×9 log band-energy grid (DCT-II per
  * segment, the [[AudioEmbed.grid]] math generalized), and bit (t,b)
  * is the sign of the TIME-DELTA of the BAND-DELTA:
  * `(E(t+1,b+1)−E(t+1,b)) − (E(t,b+1)−E(t,b)) > 0` — 8×8 = 64 bits.
  * Energy-difference signs are what survives requantization, gain
  * change, and codec noise; absolute energies do not.
  *
  * ==Video==
  * Sampled frames' REAL luma planes (the [[VideoIo]] demux) each get
  * the standard DCT pHash (area-average to 32×32 → DCT-II → 8×8
  * low-frequency block → median threshold — the [[ImagePhash]] math
  * applied to a raw luma plane). A video's signature is its SET of
  * frame hashes; near-dup videos are pairs sharing ≥ k sampled frames
  * within a Hamming budget.
  *
  * ==Determinism==
  * `StrictMath` transcendentals over deterministic decodes — same
  * bytes ⇒ same bits on any JVM; no seed anywhere. No SQL engine can
  * express PCM/pixel decode, so the declared queries are golden-pinned
  * (the `q_phash_neardup` posture).
  */
object MediaPhash {

  /** Audio fingerprint grid shape: 9 time segments × 9 DCT bands →
    * 8×8 delta bits. `FpBandStride` spaces the DCT bins so the bands
    * cover the signal range rather than the sub-40 Hz floor: bin k of
    * a len-sample segment sits at k·rate/(2·len) Hz, so consecutive
    * k over a ~1000-sample segment all land below real audio content
    * and the fingerprint would read only spectral leakage — stride 25
    * puts the nine bands at ~110…990 Hz for 8 kHz audio. */
  val FpSegments = 9
  val FpBands = 9
  val FpBandStride = 25

  /** Log band-energy grid, `segments`×`bands` (DCT-II, k = stride·j
    * for j = 1..bands — [[AudioEmbed.grid]]'s math with a
    * parameterized shape and StrictMath transcendentals). */
  private def energyGrid(x: Array[Double], segments: Int,
                         bands: Int, stride: Int): Array[Double] = {
    val out = new Array[Double](segments * bands)
    var t = 0
    while (t < segments) {
      val s0 = (x.length.toLong * t / segments).toInt
      val s1 = (x.length.toLong * (t + 1) / segments).toInt
      val len = s1 - s0
      var j0 = 1
      while (j0 <= bands) {
        val k = j0 * stride
        var c = 0.0
        var j = 0
        while (j < len) {
          c += x(s0 + j) * StrictMath.cos(StrictMath.PI * k * (j + 0.5) / len)
          j += 1
        }
        out(t * bands + (j0 - 1)) = StrictMath.log1p(c * c / len)
        j0 += 1
      }
      t += 1
    }
    out
  }

  /** 64-bit audio fingerprint of decodable PCM bytes; None =
    * quarantine (undecodable or too short for the grid). */
  def audioFingerprint64(bytes: Array[Byte]): Option[Long] =
    AudioEmbed.pcmMono(bytes).map { x =>
      val g = energyGrid(x, FpSegments, FpBands, FpBandStride)
      def e(t: Int, b: Int) = g(t * FpBands + b)
      var bits = 0L
      var t = 0
      while (t < FpSegments - 1) {
        var b = 0
        while (b < FpBands - 1) {
          val d = (e(t + 1, b + 1) - e(t + 1, b)) - (e(t, b + 1) - e(t, b))
          if (d > 0) bits |= 1L << (t * (FpBands - 1) + b)
          b += 1
        }
        t += 1
      }
      bits
    }

  val audioHasherFactory: MediaKernel.Factory[Array[Byte], Option[Long]] =
    new MediaKernel.Factory[Array[Byte], Option[Long]] {
      def open() = new MediaKernel.Handle[Array[Byte], Option[Long]] {
        def processBatch(batch: Seq[Array[Byte]]): Seq[Option[Long]] =
          batch.map(audioFingerprint64)
      }
    }

  // ---- video --------------------------------------------------------

  private val N = 32 // area-average grid
  private val K = 8  // low-frequency DCT block

  /** DCT pHash of one raw luma plane (`w`×`h` bytes at `off`): the
    * [[ImagePhash]] pipeline minus the color conversion. */
  def lumaPhash64(bytes: Array[Byte], off: Int, w: Int, h: Int): Long = {
    // area-average onto N×N
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
        var cnt = 0
        var y = y0
        while (y < math.min(y1, h)) {
          var x = x0
          while (x < math.min(x1, w)) {
            sum += (bytes(off + y * w + x) & 0xff).toDouble
            cnt += 1
            x += 1
          }
          y += 1
        }
        grid(gy)(gx) = if (cnt == 0) 0.0 else sum / cnt
        gx += 1
      }
      gy += 1
    }
    // 2D DCT-II, low K×K block only
    val coef = Array.ofDim[Double](K, K)
    var u = 0
    while (u < K) {
      var v = 0
      while (v < K) {
        var s = 0.0
        var y = 0
        while (y < N) {
          var x = 0
          while (x < N) {
            s += grid(y)(x) *
              StrictMath.cos(StrictMath.PI * u * (2 * y + 1) / (2 * N)) *
              StrictMath.cos(StrictMath.PI * v * (2 * x + 1) / (2 * N))
            x += 1
          }
          y += 1
        }
        coef(u)(v) = s
        v += 1
      }
      u += 1
    }
    val ac = (for { u2 <- 0 until K; v2 <- 0 until K
                    if u2 != 0 || v2 != 0 } yield coef(u2)(v2))
      .toArray.sorted
    val median = ac(ac.length / 2)
    var bits = 0L
    u = 0
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

  /** Frame-hash sampler: hashes of frames 0, everyNth, 2·everyNth, …
    * (at most maxFrames) as `(frame_idx, phash64)`; corrupt stream →
    * empty list (quarantine). */
  def frameHashFactory(everyNth: Int, maxFrames: Int)
      : MediaKernel.Factory[Array[Byte], Seq[(Int, Long)]] =
    new MediaKernel.Factory[Array[Byte], Seq[(Int, Long)]] {
      def open() = new MediaKernel.Handle[Array[Byte], Seq[(Int, Long)]] {
        require(everyNth > 0 && maxFrames > 0,
          s"bad sampling: every $everyNth, max $maxFrames")
        def processBatch(batch: Seq[Array[Byte]]): Seq[Seq[(Int, Long)]] =
          batch.map { bytes =>
            VideoIo.parseY4m(bytes) match {
              case None => Seq.empty
              case Some(p) =>
                val out = Seq.newBuilder[(Int, Long)]
                var idx = 0
                var taken = 0
                while (idx < p.frameOffsets.length && taken < maxFrames) {
                  out += idx -> lumaPhash64(bytes,
                    p.frameOffsets(idx).toInt, p.w, p.h)
                  taken += 1
                  idx += everyNth
                }
                out.result()
            }
          }
      }
    }
}
