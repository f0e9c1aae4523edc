package graft.operators

/** Arithmetic-coded JPEG (SOF9, ITU T.81 Annexes D + F) — the QM-coder
  * entropy layer that was the codec family's last honestly-stubbed image
  * format. Implements the full Annex D state machine: the 113-state
  * probability-estimation table (Table D.3) plus the fixed-probability
  * state, decoder renormalization with marker-terminated byte feed and
  * stuffed-0x00 handling (D.2), encoder byte-out with carry propagation
  * over stacked 0xFF bytes and trailing-zero suppression (D.1), and the
  * Annex F sequential DCT conditioning models: DC sign/size contexts with
  * the (L, U) difference-category conditioning, AC end-of-block /
  * zero-run / magnitude contexts with the Kx low/high-band split, and the
  * fixed ~0.5 bin for AC signs.
  *
  * Scope (documented): sequential 8-bit SOF9 at sampling factors up to
  * 2x2 (grayscale, 4:4:4, 4:2:2, 4:2:0 interleaved scans) AND progressive
  * SOF10 (Annex G: spectral-selection bands, successive approximation
  * with DC fixed-bin refinement and the AC correction-bit model;
  * 1x1-sampled components), with DRI restart intervals and DAC
  * conditioning overrides in both. This is the entropy back-end only:
  * [[JpegFrame]] parses the headers (DAC included) and applies the header
  * guards every process shares, and [[RasterCodec.decode]] routes
  * SOF9/SOF10 frames here; [[decode]] returns None for a frame of any
  * other process.
  *
  * Validation: the encoder/decoder pair is exercised coefficient-for-
  * coefficient against the Huffman twin ([[JpegCodec.encodeJpegGrayBlocks]]
  * decodes to IDENTICAL pixels for the same mosaic — two entropy layers,
  * one answer), plus the m10 analytic oracle gate and truncation/mutation
  * fuzzing. No independent arithmetic-JPEG codec exists in the JDK, so
  * conformance of the Table D.3 values themselves rests on the published
  * spec (same stance as the GIF/LZW tables).
  */
object ArithJpeg {
  import RasterCodec.Raster
  import JpegCodec.Zigzag
  import JpegFrame.{bad, Comp}

  // ---- Table D.3: Qe values and probability estimation state machine ----
  // Rows: (Qe, NMPS, NLPS, SWITCH); index 113 is the fixed-probability
  // state used for AC signs (never leaves itself).
  private val QeT = Array(
    0x5a1d, 0x2586, 0x1114, 0x080b, 0x03d8, 0x01da, 0x00e5, 0x006f,
    0x0036, 0x001a, 0x000d, 0x0006, 0x0003, 0x0001, 0x5a7f, 0x3f25,
    0x2cf2, 0x207c, 0x17b9, 0x1182, 0x0cef, 0x09a1, 0x072f, 0x055c,
    0x0406, 0x0303, 0x0240, 0x01b1, 0x0144, 0x00f5, 0x00b7, 0x008a,
    0x0068, 0x004e, 0x003b, 0x002c, 0x5ae1, 0x484c, 0x3a0d, 0x2ef1,
    0x261f, 0x1f33, 0x19a8, 0x1518, 0x1177, 0x0e74, 0x0bfb, 0x09f8,
    0x0861, 0x0706, 0x05cd, 0x04de, 0x040f, 0x0363, 0x02d4, 0x025c,
    0x01f8, 0x01a4, 0x0160, 0x0125, 0x00f6, 0x00cb, 0x00ab, 0x008f,
    0x5b12, 0x4d04, 0x412c, 0x37d8, 0x2fe8, 0x293c, 0x2379, 0x1edf,
    0x1aa9, 0x174e, 0x1424, 0x119c, 0x0f6b, 0x0d51, 0x0bb6, 0x0a40,
    0x5832, 0x4d1c, 0x438e, 0x3bdd, 0x34ee, 0x2eae, 0x299a, 0x2516,
    0x5570, 0x4ca9, 0x44d9, 0x3e22, 0x3824, 0x32b4, 0x2e17, 0x56a8,
    0x4f46, 0x47e5, 0x41cf, 0x3c3d, 0x375e, 0x5231, 0x4c0f, 0x4639,
    0x415e, 0x5627, 0x50e7, 0x4b85, 0x5597, 0x504f, 0x5a10, 0x5522,
    0x59eb, 0x5a1d)
  private val Nmps = Array(
    1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 13, 15, 16,
    17, 18, 19, 20, 21, 22, 23, 24, 25, 26, 27, 28, 29, 30, 31, 32,
    33, 34, 35, 9, 37, 38, 39, 40, 41, 42, 43, 44, 45, 46, 47, 48,
    49, 50, 51, 52, 53, 54, 55, 56, 57, 58, 59, 60, 61, 62, 63, 32,
    65, 66, 67, 68, 69, 70, 71, 72, 73, 74, 75, 76, 77, 78, 79, 48,
    81, 82, 83, 84, 85, 86, 87, 71, 89, 90, 91, 92, 93, 94, 86, 96,
    97, 98, 99, 100, 93, 102, 103, 104, 99, 106, 107, 103, 109, 107,
    111, 109, 111, 113)
  private val Nlps = Array(
    1, 14, 16, 18, 20, 23, 25, 28, 30, 33, 35, 9, 10, 12, 15, 36,
    38, 39, 40, 42, 43, 45, 46, 48, 49, 51, 52, 54, 56, 57, 59, 60,
    62, 63, 32, 33, 37, 64, 65, 67, 68, 69, 70, 72, 73, 74, 75, 77,
    78, 79, 48, 50, 50, 51, 52, 53, 54, 55, 56, 57, 58, 59, 61, 61,
    65, 80, 81, 82, 83, 84, 86, 87, 87, 72, 72, 74, 74, 75, 77, 77,
    80, 88, 89, 90, 91, 92, 93, 86, 88, 95, 96, 97, 99, 99, 93, 95,
    101, 102, 103, 104, 99, 105, 106, 107, 103, 105, 108, 109, 110, 111,
    110, 112, 112, 113)
  private val Swtch = Array(
    1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 1, 0,
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    0, 0, 0, 0, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    1, 0, 0, 0, 0, 0, 0, 0, 1, 0, 0, 0, 0, 0, 0, 1,
    0, 0, 0, 0, 0, 0, 0, 0, 0, 1, 0, 0, 0, 0, 1, 0,
    1, 0)

  /** One adaptive context: low 7 bits = Table D.3 index, bit 7 = MPS. */
  @inline private def idx(st: Int): Int = st & 0x7f
  @inline private def mps(st: Int): Int = (st >> 7) & 1

  /** Fixed-probability context value for AC signs: index 113, MPS 0 —
    * NMPS(113) = NLPS(113) = 113, so it never adapts. */
  private val FixedBin = 113

  // ------------------------------------------------------------------
  // Annex D.2 decoder: low-aligned code register, `ct` spare low bits.
  // ------------------------------------------------------------------
  private final class QmDec(p: Array[Byte], var bp: Int) {
    private var c = 0L
    private var a = 0L
    private var ct = -16 // forces two initial byte fetches
    var markerSeen = false
    var markerAt: Int = -1 // position of the marker's 0xFF when seen

    /** Entropy byte feed: 0xFF00 unstuffs to a 0xFF data byte, 0xFF fill
      * bytes are swallowed, any marker ends the feed (zeros thereafter,
      * per D.2.8). */
    private def nextByte(): Int = {
      if (markerSeen) return 0
      if (bp >= p.length) { markerSeen = true; markerAt = p.length; return 0 }
      var d = p(bp) & 0xff; bp += 1
      if (d == 0xff) {
        var d2 = if (bp < p.length) p(bp) & 0xff else 0xd9
        while (d2 == 0xff) {
          bp += 1
          d2 = if (bp < p.length) p(bp) & 0xff else 0xd9
        }
        if (d2 == 0) { bp += 1 } // stuffed zero: the data byte IS 0xFF
        else { markerSeen = true; markerAt = bp - 1; d = 0 }
      }
      d
    }

    /** Decode one binary decision in context `s` of `stats`. */
    def decode(stats: Array[Int], s: Int): Int = {
      // D.2.6 renormalization + byte-in (with the two-byte init handshake)
      while (a < 0x8000L) {
        ct -= 1
        if (ct < 0) {
          c = (c << 8) | nextByte()
          ct += 8
          if (ct < 0) { ct += 1; if (ct == 0) a = 0x8000L } // => 0x10000 after <<
        }
        a <<= 1
      }
      val sv = stats(s)
      val st = idx(sv)
      val qe = QeT(st)
      var d = 0
      a -= qe
      val bound = a << ct
      if (c >= bound) {
        c -= bound
        // LPS subinterval (top) — conditional exchange
        if (a < qe) { d = mps(sv); stats(s) = (mps(sv) << 7) | Nmps(st) }
        else {
          d = 1 - mps(sv)
          val nm = if (Swtch(st) == 1) 1 - mps(sv) else mps(sv)
          stats(s) = (nm << 7) | Nlps(st)
        }
        a = qe
      } else {
        if (a < 0x8000L) {
          // MPS with renorm pending — conditional exchange
          if (a < qe) {
            d = 1 - mps(sv)
            val nm = if (Swtch(st) == 1) 1 - mps(sv) else mps(sv)
            stats(s) = (nm << 7) | Nlps(st)
          } else {
            d = mps(sv)
            stats(s) = (mps(sv) << 7) | Nmps(st)
          }
        } else d = mps(sv) // fast path: no renorm, no adaptation
      }
      d
    }
  }

  // ------------------------------------------------------------------
  // Annex D.1 encoder: 19-bit fraction register, byte at bits 19..26,
  // carry at 27; stacked-0xFF + deferred-zero output discipline.
  // ------------------------------------------------------------------
  private final class QmEnc(out: java.io.ByteArrayOutputStream) {
    private var c = 0L
    private var a = 0x10000L
    private var ct = 11
    private var buffer = -1 // last unsettled byte (never 0xFF)
    private var sc = 0L // stacked 0xFF bytes awaiting carry resolution
    private var zc = 0L // deferred 0x00 bytes (dropped if trailing)

    private def emit(b: Int): Unit = {
      out.write(b & 0xff)
    }

    private def byteOut(): Unit = {
      val t = (c >> 19).toInt
      if (t > 0xff) {
        // carry ripples into the unsettled byte and all stacked 0xFFs
        if (buffer >= 0) {
          while (zc > 0) { emit(0x00); zc -= 1 }
          emit(buffer + 1)
          if (buffer + 1 == 0xff) emit(0x00) // stuffing after a data FF
        }
        zc += sc; sc = 0 // carry turns stacked FFs into 00s
        buffer = t & 0xff // spacer bits guarantee this is not 0xFF
      } else if (t == 0xff) {
        sc += 1
      } else {
        if (buffer == 0) zc += 1
        else if (buffer > 0) {
          while (zc > 0) { emit(0x00); zc -= 1 }
          emit(buffer)
        }
        if (sc > 0) {
          while (zc > 0) { emit(0x00); zc -= 1 }
          while (sc > 0) { emit(0xff); emit(0x00); sc -= 1 }
        }
        buffer = t
      }
      c &= 0x7ffffL
    }

    /** Encode decision `bit` in context `s`, adapting the estimator. */
    def code(stats: Array[Int], s: Int, bit: Int): Unit = {
      val sv = stats(s)
      val st = idx(sv)
      val qe = QeT(st)
      a -= qe
      if (bit != mps(sv)) {
        // LPS path (conditional exchange when the MPS piece is smaller)
        if (a >= qe) { c += a; a = qe }
        val nm = if (Swtch(st) == 1) 1 - mps(sv) else mps(sv)
        stats(s) = (nm << 7) | Nlps(st)
      } else {
        if (a >= 0x8000L) return // no renorm needed, no adaptation
        if (a < qe) { c += a; a = qe }
        stats(s) = (mps(sv) << 7) | Nmps(st)
      }
      do {
        a <<= 1
        c <<= 1
        ct -= 1
        if (ct == 0) { byteOut(); ct = 8 }
      } while (a < 0x8000L)
    }

    /** D.1.9 FLUSH: settle the interval, push out remaining bytes. The
      * spec permits dropping trailing zero bytes (the decoder zero-feeds
      * past the marker), which the zc discipline implements. */
    def flush(): Unit = {
      val t = (a - 1 + c) & 0xffff0000L
      c = if (t < c) t + 0x8000L else t
      c <<= ct
      if ((c & 0xf8000000L) != 0) {
        // final carry
        if (buffer >= 0) {
          while (zc > 0) { emit(0x00); zc -= 1 }
          emit(buffer + 1)
          if (buffer + 1 == 0xff) emit(0x00)
        }
        zc += sc; sc = 0
      } else {
        if (buffer >= 0) {
          while (zc > 0) { emit(0x00); zc -= 1 }
          emit(buffer)
        }
        if (sc > 0) {
          while (zc > 0) { emit(0x00); zc -= 1 }
          while (sc > 0) { emit(0xff); emit(0x00); sc -= 1 }
        }
      }
      // final fraction bytes, only if nonzero (TRAILING zeros dropped —
      // but any zc zeros still pending are interior and must land first)
      if ((c & 0x7fff800L) != 0) {
        while (zc > 0) { emit(0x00); zc -= 1 }
        val b1 = ((c >> 19) & 0xff).toInt
        emit(b1)
        if (b1 == 0xff) emit(0x00)
        if ((c & 0x7f800L) != 0) {
          val b2 = ((c >> 11) & 0xff).toInt
          emit(b2)
          if (b2 == 0xff) emit(0x00)
        }
      }
      // reset for a following restart interval
      c = 0; a = 0x10000L; ct = 11; buffer = -1; sc = 0; zc = 0
    }
  }

  // ------------------------------------------------------------------
  // Annex F.2 sequential DCT statistical models (DC + AC) — decoder.
  // ------------------------------------------------------------------

  def decode(p: Array[Byte]): Option[Raster] =
    JpegFrame.decode(p, JpegFrame.Arithmetic)(decodeFrame)

  /** Fresh statistics areas, one per table id: DC 64 bins, AC 256 bins. */
  private def dcBins(): Array[Array[Int]] = Array.fill(4)(new Array[Int](64))
  private def acBins(): Array[Array[Int]] = Array.fill(4)(new Array[Int](256))

  /** The QM decoder re-seated after the RSTn that ends restart interval
    * `rst` (F.1.4.1). The byte feed may already have consumed the marker's
    * 0xFF (renorm read-ahead); the search resumes AT the marker then. */
  private def restart(p: Array[Byte], dec: QmDec, rst: Int): QmDec = {
    val i = JpegFrame.nextMarker(p,
      if (dec.markerSeen && dec.markerAt >= 0) dec.markerAt else dec.bp)
    if (i < 0 || (p(i + 1) & 0xff) != 0xd0 + (rst & 7)) bad()
    new QmDec(p, i + 2)
  }

  private[operators] def decodeFrame(f: JpegFrame): Raster =
    if (f.progressive) {
      // ZIGZAG coefficients per component, built up across scans
      val coefs = f.comps.map(c => new Array[Int](c.planeW * c.planeH))
      do progressiveScan(f, coefs) while (f.nextScan())
      JpegCodec.render(f, coefs)
    } else {
      val comps = f.comps
      val quants = comps.map(f.quantFor)
      comps.foreach(c => c.plane = new Array[Byte](c.planeW * c.planeH))
      var dcStats = dcBins()
      var acStats = acBins()
      val fixedStats = Array(FixedBin) // context value: index 113, MPS 0
      var dec = new QmDec(f.p, f.dataAt)

      val coef = new Array[Int](64)
      val nat = new Array[Int](64)
      val tmp = Array.ofDim[Double](8, 8)
      var mcu = 0
      var rst = 0
      var my = 0
      while (my < f.mcusY) {
        var mx = 0
        while (mx < f.mcusX) {
          if (f.restartInterval > 0 && mcu == f.restartInterval) {
            // re-init coder + statistics (F.1.4.1)
            dec = restart(f.p, dec, rst)
            rst += 1
            dcStats = dcBins()
            acStats = acBins()
            comps.foreach { c => c.pred = 0; c.dcContext = 0 }
            mcu = 0
          }
          // interleaved MCU: per component, its h x v blocks, bv- then
          // bh-order (A.2.3) — the same traversal the Huffman decoder uses
          var ci = 0
          while (ci < comps.length) {
            val c = comps(ci)
            var bv = 0
            while (bv < c.v) {
              var bh = 0
              while (bh < c.h) {
                val bx = mx * c.h + bh
                val by = my * c.v + bv
                // `coef` holds ZIGZAG-scan-order levels while decoding; the
                // DQT table is zigzag by spec, so dequantize in place and
                // remap to natural order for the IDCT.
                java.util.Arrays.fill(coef, 0)
                java.util.Arrays.fill(nat, 0)
                decodeDcCoef(dec, dcStats(c.dcTab), c, f.dcL(c.dcTab), f.dcU(c.dcTab))
                coef(0) = c.pred
                decodeAcCoefs(dec, acStats(c.acTab), fixedStats, coef,
                  0, 1, 63, 0, f.acK(c.acTab))
                val q = quants(ci)
                var k = 0
                while (k < 64) { nat(Zigzag(k)) = coef(k) * q(k); k += 1 }
                JpegCodec.idctTo(nat, c.plane, c.planeW, bx * 8, by * 8, tmp)
                bh += 1
              }
              bv += 1
            }
            ci += 1
          }
          mcu += 1
          mx += 1
        }
        my += 1
      }
      JpegCodec.assemble(f)
    }

  /** F.2.4.1 Decode_DC_DIFF + difference-category conditioning. */
  private def decodeDcCoef(dec: QmDec, stats: Array[Int], c: Comp,
                           condL: Int, condU: Int): Unit = {
    val s0 = c.dcContext
    if (dec.decode(stats, s0) == 0) {
      c.dcContext = 0
    } else {
      val sign = dec.decode(stats, s0 + 1)
      var st = s0 + 2 + sign
      var m = dec.decode(stats, st)
      if (m != 0) {
        st = 20 // X1
        while (dec.decode(stats, st) == 1) {
          m <<= 1
          if (m == 0x8000) bad()
          st += 1
        }
      }
      // establish the conditioning category for the NEXT block
      if (m < ((1 << condL) >> 1)) c.dcContext = 0
      else if (m > ((1 << condU) >> 1)) c.dcContext = 12 + sign * 4
      else c.dcContext = 4 + sign * 4
      var v = m
      st += 14 // M bins
      m >>= 1
      while (m != 0) {
        if (dec.decode(stats, st) == 1) v |= m
        m >>= 1
      }
      v += 1
      if (sign == 1) v = -v
      c.pred += v
    }
  }

  /** F.2.4.2 / G.1.3.2 Decode_AC_coefficients: band [ss, se] into
    * zigzag-indexed `coef` at `base`, values scaled by `<< al`
    * (sequential passes ss=1, se=63, al=0). */
  private def decodeAcCoefs(dec: QmDec, stats: Array[Int],
                            fixedStats: Array[Int], coef: Array[Int],
                            base: Int, ss: Int, se: Int, al: Int,
                            kx: Int): Unit = {
    var k = ss
    var eob = false
    while (k <= se && !eob) {
      var st = 3 * (k - 1)
      if (dec.decode(stats, st) == 1) eob = true
      else {
        while (dec.decode(stats, st + 1) == 0) {
          st += 3; k += 1
          if (k > se) bad()
        }
        val sign = dec.decode(fixedStats, 0)
        st += 2
        var m = dec.decode(stats, st)
        if (m != 0) {
          if (dec.decode(stats, st) == 1) {
            m <<= 1
            st = if (k <= kx) 189 else 217
            while (dec.decode(stats, st) == 1) {
              m <<= 1
              if (m == 0x8000) bad()
              st += 1
            }
          }
        }
        var v = m
        st += 14
        m >>= 1
        while (m != 0) {
          if (dec.decode(stats, st) == 1) v |= m
          m >>= 1
        }
        v += 1
        if (sign == 1) v = -v
        coef(base + k) = v << al
        k += 1
      }
    }
  }

  /** G.1.3.3 AC successive-approximation refinement of band [ss, se]:
    * correction bits for previously-nonzero coefficients, newly-nonzero
    * insertions at ±2^al, per-k EOB decisions past the prior stage's
    * end-of-block index. */
  private def acRefineBlock(dec: QmDec, stats: Array[Int],
                            fixedStats: Array[Int], coef: Array[Int],
                            base: Int, ss: Int, se: Int, al: Int): Unit = {
    val p1 = 1 << al
    val m1 = -1 << al
    var kex = se
    while (kex > 0 && coef(base + kex) == 0) kex -= 1
    var k = ss
    var eob = false
    while (k <= se && !eob) {
      var st = 3 * (k - 1)
      if (k > kex && dec.decode(stats, st) == 1) eob = true
      else {
        var settled = false
        while (!settled) {
          val cur = coef(base + k)
          if (cur != 0) {
            if (dec.decode(stats, st + 2) == 1)
              coef(base + k) = cur + (if (cur < 0) m1 else p1)
            settled = true
          } else if (dec.decode(stats, st + 1) == 1) {
            coef(base + k) = if (dec.decode(fixedStats, 0) == 1) m1 else p1
            settled = true
          } else {
            st += 3; k += 1
            if (k > se) bad()
          }
        }
        k += 1
      }
    }
  }

  /** One progressive (SOF10) scan: decode entropy into the zigzag
    * coefficient accumulators. Components are 1x1-sampled, so every scan
    * walks the same block grid. Statistics are fresh per scan and per
    * restart interval (F.1.4.1). */
  private def progressiveScan(f: JpegFrame, coefs: Array[Array[Int]]): Unit = {
    val ss = f.ss
    val se = f.se
    val ah = f.ah
    val al = f.al
    var dcStats = dcBins()
    var acStats = acBins()
    val fixedStats = Array(FixedBin)
    var dec = new QmDec(f.p, f.dataAt)
    f.comps.foreach { c => c.pred = 0; c.dcContext = 0 }
    var mcu = 0
    var rst = 0
    var b = 0
    while (b < f.mcusX * f.mcusY) {
      if (f.restartInterval > 0 && mcu == f.restartInterval) {
        dec = restart(f.p, dec, rst)
        rst += 1
        dcStats = dcBins()
        acStats = acBins()
        f.comps.foreach { c => c.pred = 0; c.dcContext = 0 }
        mcu = 0
      }
      val base = b * 64
      if (ss == 0) {
        // DC scan: one block per component
        for (c <- f.scan) {
          if (ah == 0) {
            decodeDcCoef(dec, dcStats(c.dcTab), c, f.dcL(c.dcTab), f.dcU(c.dcTab))
            coefs(c.index)(base) = c.pred << al
          } else if (dec.decode(fixedStats, 0) == 1) {
            coefs(c.index)(base) |= 1 << al // G.2.2: fixed-bin DC refinement
          }
        }
      } else {
        val c = f.scan(0)
        if (ah == 0)
          decodeAcCoefs(dec, acStats(c.acTab), fixedStats, coefs(c.index),
            base, ss, se, al, f.acK(c.acTab))
        else
          acRefineBlock(dec, acStats(c.acTab), fixedStats, coefs(c.index),
            base, ss, se, al)
      }
      mcu += 1
      b += 1
    }
  }

  // ------------------------------------------------------------------
  // Encoder: general coefficient-level entry + the flat-mosaic fixture.
  // ------------------------------------------------------------------

  /** F.1.4.4.1 Encode_DC_DIFF. */
  private def encodeDcCoef(enc: QmEnc, stats: Array[Int], c: Comp,
                           dcVal: Int, condL: Int, condU: Int): Unit = {
    val s0 = c.dcContext
    var v = dcVal - c.pred
    if (v == 0) {
      enc.code(stats, s0, 0)
      c.dcContext = 0
    } else {
      c.pred = dcVal
      enc.code(stats, s0, 1)
      var st = 0
      var sign = 0
      if (v > 0) { enc.code(stats, s0 + 1, 0); st = s0 + 2 }
      else { v = -v; enc.code(stats, s0 + 1, 1); st = s0 + 3; sign = 1 }
      var m = 0
      v -= 1
      if (v != 0) {
        enc.code(stats, st, 1)
        m = 1
        var v2 = v
        st = 20 // X1
        while ({ v2 >>= 1; v2 != 0 }) {
          enc.code(stats, st, 1)
          m <<= 1
          st += 1
        }
      }
      enc.code(stats, st, 0)
      if (m < ((1 << condL) >> 1)) c.dcContext = 0
      else if (m > ((1 << condU) >> 1)) c.dcContext = 12 + sign * 4
      else c.dcContext = 4 + sign * 4
      st += 14
      m >>= 1
      while (m != 0) {
        enc.code(stats, st, if ((m & v) != 0) 1 else 0)
        m >>= 1
      }
    }
  }

  /** F.1.4.4.2 / G.1.3.2 Encode_AC_Coefficients: band [ss, se] of the
    * zigzag block at `base`, magnitudes taken at point transform `al`
    * (sequential passes ss=1, se=63, al=0). */
  private def encodeAcCoefs(enc: QmEnc, stats: Array[Int],
                            fixedStats: Array[Int], coef: Array[Int],
                            base: Int, ss: Int, se: Int, al: Int,
                            kx: Int): Unit = {
    @inline def magAl(k: Int): Int = {
      val raw = coef(base + k)
      (if (raw < 0) -raw else raw) >> al
    }
    var ke = se
    while (ke >= ss && magAl(ke) == 0) ke -= 1
    var k = ss
    while (k <= ke) {
      var st = 3 * (k - 1)
      enc.code(stats, st, 0) // not EOB
      while (magAl(k) == 0) {
        enc.code(stats, st + 1, 0)
        st += 3; k += 1
      }
      enc.code(stats, st + 1, 1)
      var v = magAl(k)
      enc.code(fixedStats, 0, if (coef(base + k) < 0) 1 else 0)
      st += 2
      var m = 0
      v -= 1
      if (v != 0) {
        enc.code(stats, st, 1)
        m = 1
        var v2 = v
        v2 >>= 1
        if (v2 != 0) {
          enc.code(stats, st, 1)
          m <<= 1
          st = if (k <= kx) 189 else 217
          while ({ v2 >>= 1; v2 != 0 }) {
            enc.code(stats, st, 1)
            m <<= 1
            st += 1
          }
        }
      }
      enc.code(stats, st, 0)
      st += 14
      m >>= 1
      while (m != 0) {
        enc.code(stats, st, if ((m & v) != 0) 1 else 0)
        m >>= 1
      }
      k += 1
    }
    if (k <= se) {
      val st = 3 * (k - 1)
      enc.code(stats, st, 1) // EOB
    }
  }

  /** G.1.3.3 AC refinement encoder, the mirror of [[acRefineBlock]]. */
  private def encodeAcRefine(enc: QmEnc, stats: Array[Int],
                             fixedStats: Array[Int], coef: Array[Int],
                             base: Int, ss: Int, se: Int, ah: Int,
                             al: Int): Unit = {
    @inline def mag(k: Int): Int = {
      val raw = coef(base + k)
      if (raw < 0) -raw else raw
    }
    var ke = se
    while (ke >= ss && (mag(ke) >> al) == 0) ke -= 1
    // prior-stage EOB index; any value below ss is equivalent on both
    // sides, and in-band "accumulated nonzero" == magnitude >> ah != 0
    var kex = ke
    while (kex >= ss && (mag(kex) >> ah) == 0) kex -= 1
    var k = ss
    while (k <= ke) {
      var st = 3 * (k - 1)
      if (k > kex) enc.code(stats, st, 0) // not EOB yet
      var settled = false
      while (!settled) {
        val raw = coef(base + k)
        val av = if (raw < 0) -raw else raw
        if ((av >> ah) != 0) { // previously nonzero: correction bit
          enc.code(stats, st + 2, (av >> al) & 1)
          settled = true
        } else if ((av >> al) != 0) { // newly nonzero at this precision
          enc.code(stats, st + 1, 1)
          enc.code(fixedStats, 0, if (raw < 0) 1 else 0)
          settled = true
        } else {
          enc.code(stats, st + 1, 0)
          st += 3; k += 1
        }
      }
      k += 1
    }
    if (ke < se) enc.code(stats, 3 * ke, 1) // EOB decision at k = ke+1
  }

  /** Encode a sequential arithmetic (SOF9) stream from natural-order
    * coefficient blocks: `coefOf(bx, by, ci)` returns the 64-coefficient
    * block (pre-quantization values are the QUANTIZED levels; the stream
    * carries them against an all-ones quant table unless `quantTable` is
    * given). Components all 1x1; grayscale (1) or YCbCr 4:4:4 (3). */
  def encodeCoefBlocks(wBlocks: Int, hBlocks: Int, components: Int,
                       coefOf: (Int, Int, Int) => Array[Int],
                       quantTable: Array[Int] = Array.fill(64)(1),
                       restartInterval: Int = 0): Array[Byte] = {
    require(wBlocks > 0 && hBlocks > 0)
    require(components == 1 || components == 3)
    require(quantTable.length == 64)
    val w = new JpegWriter
    w.marker(0xd8)
    w.dqt(quantTable) // zigzag order in DQT
    w.sof(0xc9, 8, wBlocks * 8, hBlocks * 8, Seq.fill(components)(0x11))
    w.dri(restartInterval)
    w.sos(1 to components, 0, 63, 0, 0)

    var dcStats = dcBins()
    var acStats = acBins()
    val fixedStats = Array(FixedBin)
    val comps = Array.tabulate(components)(i => new Comp(i, i + 1, 1, 1, 0))
    var enc = new QmEnc(w)
    var mcu = 0
    var rst = 0
    for (by <- 0 until hBlocks; bx <- 0 until wBlocks) {
      if (restartInterval > 0 && mcu == restartInterval) {
        enc.flush()
        w.marker(0xd0 + (rst & 7))
        rst += 1
        dcStats = dcBins()
        acStats = acBins()
        comps.foreach { c => c.pred = 0; c.dcContext = 0 }
        mcu = 0
      }
      for (ci <- 0 until components) {
        val coef = coefOf(bx, by, ci)
        require(coef.length == 64)
        encodeDcCoef(enc, dcStats(0), comps(ci), coef(0), 0, 1)
        // zigzag-order AC view for run/EOB structure
        val zz = new Array[Int](64)
        var k = 1
        while (k < 64) { zz(k) = coef(Zigzag(k)); k += 1 }
        encodeAcCoefs(enc, acStats(0), fixedStats, zz, 0, 1, 63, 0, 5)
      }
      mcu += 1
    }
    enc.flush()
    w.marker(0xd9)
    w.toByteArray
  }

  /** 4:2:0 arithmetic (SOF9) fixture: Y sampled 2x2 blocks per MCU,
    * Cb/Cr one block per MCU, DC-only flat values — the arithmetic twin
    * of the Huffman 4:2:0 test fixture, exercising the interleaved
    * multi-block-per-MCU traversal and the chroma upsample through the
    * QM entropy layer. */
  def encodeArith420(wMcus: Int, hMcus: Int,
                     yGray: (Int, Int) => Int, cbVal: (Int, Int) => Int,
                     crVal: (Int, Int) => Int): Array[Byte] = {
    require(wMcus > 0 && hMcus > 0)
    val w = new JpegWriter
    w.marker(0xd8)
    w.dqt(Array.fill(64)(1))
    w.sof(0xc9, 8, wMcus * 16, hMcus * 16, Seq(0x22, 0x11, 0x11)) // Y 2x2, Cb, Cr
    w.sos(1 to 3, 0, 63, 0, 0)

    val dcStats = dcBins()
    val acStats = acBins()
    val fixedStats = Array(FixedBin)
    val comps = Array(new Comp(0, 1, 2, 2, 0), new Comp(1, 2, 1, 1, 0), new Comp(2, 3, 1, 1, 0))
    val enc = new QmEnc(w)
    val zeroAc = new Array[Int](64)
    for (my <- 0 until hMcus; mx <- 0 until wMcus; ci <- 0 until 3;
         bv <- 0 until comps(ci).v; bh <- 0 until comps(ci).h) {
      val dc = (ci match {
        case 0 => yGray(mx * 2 + bh, my * 2 + bv) - 128
        case 1 => cbVal(mx, my) - 128
        case _ => crVal(mx, my) - 128
      }) * 8
      encodeDcCoef(enc, dcStats(0), comps(ci), dc, 0, 1)
      encodeAcCoefs(enc, acStats(0), fixedStats, zeroAc, 0, 1, 63, 0, 5)
    }
    enc.flush()
    w.marker(0xd9)
    w.toByteArray
  }

  /** The arithmetic (SOF9) twin of [[JpegCodec.encodeJpegGrayBlocks]]:
    * the SAME flat 8x8 mosaic — block (bx,by) decodes to gray(bx,by) —
    * entropy-coded with the QM-coder instead of Huffman. Decoded pixels
    * are identical to the baseline fixture's, so the m03 oracle formula
    * covers this encoding too (gate m10). */
  def encodeArithGrayBlocks(wBlocks: Int, hBlocks: Int,
                            gray: (Int, Int) => Int,
                            components: Int = 3): Array[Byte] =
    encodeCoefBlocks(wBlocks, hBlocks, components, (bx, by, ci) => {
      val c = new Array[Int](64)
      if (ci == 0) c(0) = (gray(bx, by) - 128) * 8
      c
    })

  // ------------------------------------------------------------------
  // Progressive (SOF10) encoder.
  // ------------------------------------------------------------------

  /** One progressive scan descriptor: `comp` = -1 for an interleaved DC
    * scan over all components, else the 0-based component of an AC band
    * scan; (ss, se) the spectral band, (ah, al) the successive
    * approximation (ah = 0 for a first scan, else ah = al + 1). */
  final case class ProgScan(comp: Int, ss: Int, se: Int, ah: Int, al: Int)

  /** The standard progressive script: DC at point transform 1 then its
    * refinement, then each component's full AC band in two approximation
    * passes. */
  def standardScript(components: Int): Seq[ProgScan] =
    Seq(ProgScan(-1, 0, 0, 0, 1), ProgScan(-1, 0, 0, 1, 0)) ++
      (0 until components).flatMap(ci =>
        Seq(ProgScan(ci, 1, 63, 0, 1), ProgScan(ci, 1, 63, 1, 0)))

  /** Encode a progressive arithmetic (SOF10) stream from natural-order
    * coefficient blocks, multi-scan per `script`. Components 1x1-sampled
    * (grayscale or 4:4:4), matching the decoder's SOF10 scope. */
  def encodeArithProgressive(wBlocks: Int, hBlocks: Int, components: Int,
                             coefOf: (Int, Int, Int) => Array[Int],
                             script: Seq[ProgScan],
                             quantTable: Array[Int] = Array.fill(64)(1)): Array[Byte] = {
    require(wBlocks > 0 && hBlocks > 0)
    require(components == 1 || components == 3)
    require(quantTable.length == 64)
    require(script.nonEmpty)
    val w = new JpegWriter
    w.marker(0xd8)
    w.dqt(quantTable)
    w.sof(0xca, 8, wBlocks * 8, hBlocks * 8, Seq.fill(components)(0x11)) // SOF10

    // zigzag-order coefficient storage per component/block
    val nBlocks = wBlocks * hBlocks
    val zz = Array.tabulate(components) { ci =>
      val a = new Array[Int](nBlocks * 64)
      for (b <- 0 until nBlocks) {
        val nat = coefOf(b % wBlocks, b / wBlocks, ci)
        require(nat.length == 64)
        var k = 0
        while (k < 64) { a(b * 64 + k) = nat(Zigzag(k)); k += 1 }
      }
      a
    }

    val comps = Array.tabulate(components)(i => new Comp(i, i + 1, 1, 1, 0))
    for (scan <- script) {
      val scanComps = if (scan.comp < 0) (0 until components) else Seq(scan.comp)
      w.sos(scanComps.map(_ + 1), scan.ss, scan.se, scan.ah, scan.al)
      val dcStats = dcBins()
      val acStats = acBins()
      val fixedStats = Array(FixedBin)
      comps.foreach { c => c.pred = 0; c.dcContext = 0 }
      val enc = new QmEnc(w)
      var b = 0
      while (b < nBlocks) {
        if (scan.ss == 0) {
          scanComps.foreach { ci =>
            val v0 = zz(ci)(b * 64)
            if (scan.ah == 0)
              encodeDcCoef(enc, dcStats(0), comps(ci), v0 >> scan.al, 0, 1)
            else
              enc.code(fixedStats, 0, (v0 >> scan.al) & 1)
          }
        } else {
          val ci = scan.comp
          if (scan.ah == 0)
            encodeAcCoefs(enc, acStats(0), fixedStats, zz(ci), b * 64,
              scan.ss, scan.se, scan.al, 5)
          else
            encodeAcRefine(enc, acStats(0), fixedStats, zz(ci), b * 64,
              scan.ss, scan.se, scan.ah, scan.al)
        }
        b += 1
      }
      enc.flush()
    }
    w.marker(0xd9)
    w.toByteArray
  }
}
