package graft.operators

/** 12-bit extended sequential JPEG (SOF1, ITU T.81 "extended DCT-based
  * Huffman" process at sample precision 12) — the high-bit-depth DCT
  * family member used by medical (DICOM) and scientific imagery, and the
  * last DCT/Huffman combination the codec family didn't cover (baseline
  * SOF0 and progressive SOF2 are 8-bit in [[JpegCodec]]; SOF3 lossless
  * covers 2–16 bit predictively in [[LosslessJpeg]]).
  *
  * What changes at 12-bit versus baseline (T.81 Annex F / Table F.1-F.2):
  * DC difference categories extend to SSSS=15 (magnitudes to ±32767), AC
  * size categories to 14, the level shift is 2^11 = 2048, samples clamp
  * to [0, 4095], and DQT tables may ship 16-bit elements (Pq=1). The
  * entropy layer (canonical Huffman, byte stuffing, EXTEND, restart
  * markers) is byte-identical to baseline and reused from [[JpegCodec]].
  *
  * Scope (documented): precision 12, 1 or 3 components at 1x1 sampling
  * (fully interleaved single scan), Huffman only (SOF9/SOF10 arithmetic
  * live in [[ArithJpeg]]). Output is raw component samples — no YCbCr
  * transform, matching [[LosslessJpeg]]'s convention: 12-bit pipelines
  * treat the component planes as data, not display pixels. Headers and
  * their guards are [[JpegFrame]]'s, shared with the other processes;
  * [[RasterCodec.decode]] routes 12-bit SOF1 frames here, and [[decode]]
  * returns None for a frame of any other process.
  *
  * Reference behavior: the reference pipeline ingests arbitrary binary
  * file content (`dlt_sources/m365/__init__.py:22-62`); this decoder is
  * part of making those payloads analyzable in-engine.
  */
object Jpeg12 {
  import JpegCodec.{BitReader, extend, Zigzag, idct12To}
  import JpegFrame.bad

  /** Decoded 12-bit image: `samples` interleaved row-major, each in
    * [0, 4095]. */
  final case class Image12(width: Int, height: Int, components: Int,
                           samples: Array[Int])

  def decode(p: Array[Byte]): Option[Image12] =
    JpegFrame.decode(p, JpegFrame.Huffman12)(decodeFrame)

  private[operators] def decodeFrame(f: JpegFrame): Image12 = {
    val comps = f.comps
    val nc = comps.length
    val quants = comps.map(f.quantFor)
    val dcTabs = comps.map(f.dcTable)
    val acTabs = comps.map(f.acTable)
    // 1x1 sampling: one block per component per MCU, padded planes of
    // 12-bit samples
    val wB = f.mcusX
    val hB = f.mcusY
    val width = f.width
    val height = f.height
    val planeW = wB * 8
    val planes = Array.fill(nc)(new Array[Int](planeW * hB * 8))

    val br = new BitReader(f.p, f.dataAt)
    val coef = new Array[Int](64)
    val tmp = Array.ofDim[Double](8, 8)
    var mcu = 0
    val nMcus = wB * hB
    while (mcu < nMcus) {
      if (f.restartInterval > 0 && mcu > 0 && mcu % f.restartInterval == 0) {
        if (!br.restart()) bad()
        comps.foreach(_.pred = 0)
      }
      val bx = mcu % wB
      val by = mcu / wB
      var ci = 0
      while (ci < nc) {
        val c = comps(ci)
        val q = quants(ci)
        java.util.Arrays.fill(coef, 0)
        val t = br.decode(dcTabs(ci))
        if (t > 15) bad() // 12-bit DC categories stop at SSSS=15
        c.pred += extend(br.bits(t), t)
        coef(0) = c.pred * q(0)
        var k = 1
        var eob = false
        while (!eob && k < 64) {
          val rs = br.decode(acTabs(ci))
          val r = rs >> 4
          val s = rs & 15
          if (s == 0) {
            if (r == 15) k += 16 else eob = true
          } else {
            if (s > 14) bad() // 12-bit AC sizes stop at 14
            k += r
            if (k > 63) bad()
            coef(Zigzag(k)) = extend(br.bits(s), s) * q(k)
            k += 1
          }
        }
        idct12To(coef, planes(ci), planeW, bx * 8, by * 8, tmp)
        ci += 1
      }
      mcu += 1
    }

    // crop + interleave
    val out = new Array[Int](width * height * nc)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        var ci = 0
        while (ci < nc) {
          out((y * width + x) * nc + ci) = planes(ci)(y * planeW + x)
          ci += 1
        }
        x += 1
      }
      y += 1
    }
    Image12(width, height, nc, out)
  }

  // ---- fixture encoder ------------------------------------------------

  /** Encode a 12-bit extended sequential (SOF1) stream whose pixels are
    * EXACTLY reconstructible: flat 8x8 blocks at 12-bit gray level
    * `gray12(bx, by)` (DC-only, quant all-ones — a DC of 8k IDCTs to the
    * flat value k+2048 with zero rounding ambiguity). With
    * `components = 3` the chroma planes carry flat 2048 (neutral).
    * DC categories run to 15 (canonical 5-bit codes), exercising the
    * region baseline Huffman cannot express; set `pq16` to ship the
    * quant table with 16-bit elements (Pq=1). */
  def encode12GrayBlocks(wBlocks: Int, hBlocks: Int,
                         gray12: (Int, Int) => Int,
                         components: Int = 1,
                         pq16: Boolean = false,
                         restartInterval: Int = 0): Array[Byte] = {
    require(wBlocks > 0 && hBlocks > 0)
    require(components == 1 || components == 3)
    val w = new JpegWriter
    w.marker(0xd8)
    w.dqt(Array.fill(64)(1), pq16) // pq16: Pq=1, 16-bit entries
    w.sof(0xc1, 12, wBlocks * 8, hBlocks * 8, Seq.fill(components)(0x11))
    w.dht(0x00, 5, 0 until 16) // DC 0: categories 0..15, all 5-bit codes
    w.dht(0x10, 1, Seq(0x00)) // AC 0: single symbol EOB, 1-bit code "0"
    w.dri(restartInterval)
    w.sos(1 to components, 0, 63, 0, 0)
    val pred = new Array[Int](3)
    var rst = 0
    var sinceRestart = 0
    for (by <- 0 until hBlocks; bx <- 0 until wBlocks) {
      if (restartInterval > 0 && sinceRestart == restartInterval) {
        w.flushBits()
        w.marker(0xd0 + rst)
        rst = (rst + 1) % 8
        sinceRestart = 0
        java.util.Arrays.fill(pred, 0)
      }
      for (c <- 0 until components) {
        val g = gray12(bx, by)
        require(g >= 0 && g <= 4095, "12-bit sample range")
        val target = if (c == 0) (g - 2048) * 8 else 0
        val diff = target - pred(c)
        pred(c) = target
        var s = 0
        var a = math.abs(diff)
        while (a != 0) { s += 1; a >>= 1 }
        w.put(s, 5) // DC category, canonical code == category
        if (s > 0) w.put(if (diff < 0) diff + (1 << s) - 1 else diff, s)
        w.put(0, 1) // EOB
      }
      sinceRestart += 1
    }
    w.flushBits()
    w.marker(0xd9)
    w.toByteArray
  }

  /** General 12-bit fixture encoder: arbitrary per-block NATURAL-order
    * coefficient arrays (quant all-ones), grayscale. AC symbols use a
    * flat canonical 8-bit table over every (run, size) pair with size
    * <= 14 plus EOB/ZRL — valid, if not entropy-optimal, which is what a
    * decode-side fixture wants. Used by the spec to exercise nonzero AC,
    * ZRL runs, and the 12-bit EXTEND range against a direct-formula IDCT. */
  def encode12GrayCoefBlocks(wBlocks: Int, hBlocks: Int,
                             coefs: (Int, Int) => Array[Int]): Array[Byte] = {
    require(wBlocks > 0 && hBlocks > 0)
    val w = new JpegWriter
    w.marker(0xd8)
    w.dqt(Array.fill(64)(1))
    w.sof(0xc1, 12, wBlocks * 8, hBlocks * 8, Seq(0x11))
    w.dht(0x00, 5, 0 until 16) // DC 0: categories 0..15 at 5 bits
    // AC 0: EOB(0x00), ZRL(0xF0), and (r<<4|s) for r 0..15, s 1..14 —
    // 226 symbols, all 8-bit canonical codes (max code 225, the
    // all-ones codeword stays unassigned as T.81 requires)
    val acSyms = (0x00 +: 0xf0 +: (for {
      r <- 0 to 15; s <- 1 to 14
    } yield (r << 4) | s)).distinct.sorted
    w.dht(0x10, 8, acSyms)
    val acCode = acSyms.zipWithIndex.toMap
    w.sos(Seq(1), 0, 63, 0, 0)
    def cat(v: Int): Int = {
      var s = 0
      var a = math.abs(v)
      while (a != 0) { s += 1; a >>= 1 }
      s
    }
    def mag(v: Int, s: Int): Int = if (v < 0) v + (1 << s) - 1 else v
    var pred = 0
    for (by <- 0 until hBlocks; bx <- 0 until wBlocks) {
      val c = coefs(bx, by)
      require(c.length == 64)
      val diff = c(0) - pred
      pred = c(0)
      val s0 = cat(diff)
      require(s0 <= 15, "DC diff exceeds 12-bit category range")
      w.put(s0, 5)
      if (s0 > 0) w.put(mag(diff, s0), s0)
      // AC in zigzag order with run-lengths
      var k = 1
      var run = 0
      while (k < 64) {
        val v = c(Zigzag(k))
        if (v == 0) run += 1
        else {
          while (run >= 16) { w.put(acCode(0xf0), 8); run -= 16 }
          val s = cat(v)
          require(s <= 14, "AC magnitude exceeds 12-bit size range")
          w.put(acCode((run << 4) | s), 8)
          w.put(mag(v, s), s)
          run = 0
        }
        k += 1
      }
      if (run > 0) w.put(acCode(0x00), 8) // EOB
    }
    w.flushBits()
    w.marker(0xd9)
    w.toByteArray
  }
}
