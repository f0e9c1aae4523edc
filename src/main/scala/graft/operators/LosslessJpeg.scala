package graft.operators

/** Lossless JPEG (SOF3, ITU T.81 Annex H) — the predictive Huffman
  * process used by scientific/medical imaging for 12- and 16-bit data the
  * DCT modes can't carry. Decodes any precision 2..16 and all seven
  * predictors, mono or multi-component (1x1 sampling, interleaved scan).
  * Shares the entropy machinery with [[JpegCodec]] (canonical Huffman per
  * Annex C, FF-stuffed bit reader, F.2.2.1 EXTEND) — lossless coding is
  * the DC-difference path applied to every sample, with a spatial
  * predictor in place of the previous-block DC.
  *
  * Reference pipeline context: binary file payloads arrive opaque
  * (`dlt_sources/m365/__init__.py:22-62`); this decodes them partition-
  * parallel like the rest of the codec family. Sums are integer-exact by
  * construction (lossless), which is what the m09 analytic gate checks.
  *
  * Headers and their guards are [[JpegFrame]]'s, shared with the other
  * processes, so malformed/truncated/unsupported payloads return None,
  * never a throw, exactly as in [[JpegCodec]]; [[RasterCodec.decode]]
  * routes SOF3 frames here, and [[decode]] returns None for any other.
  */
object LosslessJpeg {
  import JpegCodec.{BitReader, extend}
  import JpegFrame.bad

  /** Decoded lossless image: `samples` interleaved row-major
    * (x-major, one value per component), full integer precision. */
  final case class LosslessImage(width: Int, height: Int, components: Int,
                                 precision: Int, samples: Array[Int])

  def decode(p: Array[Byte]): Option[LosslessImage] =
    JpegFrame.decode(p, JpegFrame.Lossless)(decodeFrame)

  private[operators] def decodeFrame(f: JpegFrame): LosslessImage = {
    val comps = f.comps
    val huff = comps.map(f.dcTable) // DC-class tables carry the sample categories
    val width = f.width
    val height = f.height
    val precision = f.precision
    val restartInterval = f.restartInterval
    val predictorSel = f.ss // Ss = predictor selector
    val pt = f.al // Al = point transform
    val nc = comps.length
    val out = new Array[Int](width * height * nc)
    val reader = new BitReader(f.p, f.dataAt)
    val mask = 0xffff
    val defaultPred = 1 << (precision - pt - 1)
    // per-component previous-row buffer and current-row buffer
    val prevRow = Array.ofDim[Int](nc, width)
    val curRow = Array.ofDim[Int](nc, width)
    var sinceRestart = 0
    var restarted = true // start-of-scan behaves like a fresh interval
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        if (restartInterval > 0 && sinceRestart == restartInterval) {
          if (!reader.restart()) bad()
          sinceRestart = 0
          restarted = true
        }
        var ci = 0
        while (ci < nc) {
          val s = reader.decode(huff(ci))
          if (s > 16) bad()
          val diff =
            if (s == 16) 32768
            else extend(reader.bits(s), s)
          val px =
            if (restarted) defaultPred
            else if (y == 0) curRow(ci)(x - 1) // first line: Ra
            else if (x == 0) prevRow(ci)(x) // first column: Rb
            else {
              val a = curRow(ci)(x - 1)
              val b = prevRow(ci)(x)
              val c = prevRow(ci)(x - 1)
              predictorSel match {
                case 1 => a
                case 2 => b
                case 3 => c
                case 4 => a + b - c
                case 5 => a + ((b - c) >> 1)
                case 6 => b + ((a - c) >> 1)
                case _ => (a + b) >> 1
              }
            }
          val v = (px + diff) & mask
          curRow(ci)(x) = v
          out((y * width + x) * nc + ci) = v
          ci += 1
        }
        restarted = false
        sinceRestart += 1
        x += 1
      }
      // row done: rotate buffers
      var ci = 0
      while (ci < nc) {
        System.arraycopy(curRow(ci), 0, prevRow(ci), 0, width)
        ci += 1
      }
      y += 1
    }
    // a sample exceeding the declared precision means a corrupt stream
    val lim = (1 << precision) - 1
    if (pt == 0 && out.exists(v => v < 0 || v > lim)) bad()
    LosslessImage(width, height, nc, precision, out)
  }

  // ------------------------------------------------------------------
  // Encoder (fixture + general): mirror of the decode path.
  // ------------------------------------------------------------------

  /** Canonical DC-class Huffman table covering categories 0..16 used by
    * the encoder: lengths (2,2,2,3,4,...,16) — Kraft sum 1 − 2^-16, so no
    * all-ones code exists (the property Annex C tables maintain). */
  private val EncLengths: Array[Int] =
    Array(2, 2, 2) ++ (3 to 16).toArray

  /** Encode a lossless JPEG (SOF3): `samples` interleaved row-major at
    * `precision` bits, all components 1x1-sampled in one interleaved
    * scan, predictor 1..7, optional restart interval in MCUs. */
  def encode(width: Int, height: Int, components: Int, precision: Int,
             predictor: Int, samples: Array[Int],
             restartInterval: Int = 0): Array[Byte] = {
    require(width > 0 && height > 0 && components > 0 && components <= 4)
    require(precision >= 2 && precision <= 16)
    require(predictor >= 1 && predictor <= 7)
    require(samples.length == width * height * components)
    val lim = (1 << precision) - 1
    require(samples.forall(v => v >= 0 && v <= lim), "samples exceed precision")

    val w = new JpegWriter
    w.marker(0xd8) // SOI
    w.sof(0xc3, precision, width, height, Seq.fill(components)(0x11)) // SOF3

    // DHT: symbols 0..16 with EncLengths, canonical order
    val bitsPerLen = new Array[Int](17)
    EncLengths.foreach(l => bitsPerLen(l) += 1)
    // canonical: symbols sorted by (length, symbol) — EncLengths is
    // already nondecreasing so symbol order 0..16 IS canonical order
    w.dht(0x00, bitsPerLen.toSeq.tail, 0 to 16)
    // derive the actual codes the decoder's Annex C reconstruction yields
    val codeOf = new Array[Int](17)
    val lenOf = new Array[Int](17)
    var code = 0
    var sym = 0
    for (l <- 1 to 16) {
      var n = bitsPerLen(l)
      while (n > 0) {
        codeOf(sym) = code; lenOf(sym) = l
        code += 1; sym += 1; n -= 1
      }
      code <<= 1
    }

    w.dri(restartInterval)
    w.sos(1 to components, predictor, 0, 0, 0) // Ss = predictor, Se = 0, AhAl = 0

    val defaultPred = 1 << (precision - 1)
    val prevRow = Array.ofDim[Int](components, width)
    val curRow = Array.ofDim[Int](components, width)
    var rstIdx = 0
    var sinceRestart = 0
    var fresh = true
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        if (restartInterval > 0 && sinceRestart == restartInterval) {
          w.flushBits()
          w.marker(0xd0 + (rstIdx & 7))
          rstIdx += 1
          sinceRestart = 0
          fresh = true
        }
        var ci = 0
        while (ci < components) {
          val v = samples((y * width + x) * components + ci)
          val px =
            if (fresh) defaultPred
            else if (y == 0) curRow(ci)(x - 1)
            else if (x == 0) prevRow(ci)(x)
            else {
              val a = curRow(ci)(x - 1)
              val b = prevRow(ci)(x)
              val c = prevRow(ci)(x - 1)
              predictor match {
                case 1 => a
                case 2 => b
                case 3 => c
                case 4 => a + b - c
                case 5 => a + ((b - c) >> 1)
                case 6 => b + ((a - c) >> 1)
                case _ => (a + b) >> 1
              }
            }
          curRow(ci)(x) = v
          // difference folded to [-32768, 32767]; -32768 codes as +32768
          val diff = ((v - px + 32768) & 0xffff) - 32768
          if (diff == -32768) w.put(codeOf(16), lenOf(16))
          else {
            var mag = if (diff < 0) -diff else diff
            var s = 0
            while (mag != 0) { mag >>= 1; s += 1 }
            w.put(codeOf(s), lenOf(s))
            if (s > 0) {
              val d = if (diff < 0) diff - 1 else diff
              w.put(d & ((1 << s) - 1), s)
            }
          }
          ci += 1
        }
        fresh = false
        sinceRestart += 1
        x += 1
      }
      var ci = 0
      while (ci < components) {
        System.arraycopy(curRow(ci), 0, prevRow(ci), 0, width)
        ci += 1
      }
      y += 1
    }
    w.flushBits()
    w.marker(0xd9) // EOI
    w.toByteArray
  }
}
