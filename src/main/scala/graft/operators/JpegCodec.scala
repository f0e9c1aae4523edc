package graft.operators

/** Dependency-free JPEG (JFIF) decoder, the Huffman 8-bit back-end:
  * canonical Huffman entropy decode, dequantize + dezigzag, separable
  * floating IDCT, nearest-neighbor chroma upsampling, YCbCr→RGB. Covers
  * baseline and extended sequential DCT (SOF0/SOF1) plus progressive DCT
  * (SOF2 — spectral selection, successive approximation, DC/AC first and
  * refinement scans with EOB runs, per G.1.2 and the libjpeg
  * correction-bit algorithm), 8-bit, 1 or 3 components, sampling factors
  * ≤ 2, restart markers, byte stuffing. Header parsing and its guards are
  * [[JpegFrame]]'s, shared with the other processes' back-ends; a frame of
  * another process (arithmetic, 12-bit, lossless, hierarchical) or with
  * four components returns None here.
  *
  * Same role as the BMP/PNG paths in [[RasterCodec]]: the reference
  * pipeline ingests arbitrary binary file content
  * (`dlt_sources/m365/__init__.py:22-62`) and JPEG is the dominant image
  * format of any real corpus; here the payload→pixels step runs
  * distributed, one partition at a time, with a malformed payload yielding
  * None — never an exception that would kill a 100 TB decode job.
  *
  * The companion [[encodeJpegGrayBlocks]] writes DC-only 4:4:4 fixtures
  * whose decoded pixels are analytically exact (a DC of 8k IDCTs to a flat
  * block of k+128), which is what lets the m03 oracle gate hash-match the
  * decode against a formula computed in SQL.
  */
object JpegCodec {
  import RasterCodec.Raster
  import JpegFrame.{bad, Comp}

  private[operators] val Zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  /** c(u)(x) = C(u)/2 * cos((2x+1)uπ/16) — the separable 1-D IDCT basis. */
  private[operators] val Cos: Array[Array[Double]] = Array.tabulate(8, 8) { (u, x) =>
    val cu = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0
    0.5 * cu * math.cos((2 * x + 1) * u * math.Pi / 16.0)
  }

  private[operators] final class Huff(bits: Array[Int], vals: Array[Byte]) {
    // canonical code tables per JPEG Annex C
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17)
    val valPtr = new Array[Int](17)
    private var code = 0
    private var k = 0
    for (l <- 1 to 16) {
      valPtr(l) = k
      minCode(l) = code
      code += bits(l)
      k += bits(l)
      maxCode(l) = code - 1
      if (bits(l) == 0) maxCode(l) = -1
      code <<= 1
    }
    def value(i: Int): Int = vals(i) & 0xff
  }

  private[operators] final class BitReader(p: Array[Byte], var pos: Int) {
    private var acc = 0
    private var nbits = 0
    var sawMarker: Int = -1 // marker byte seen (e.g. 0xD9), stops the scan

    def reset(): Unit = { acc = 0; nbits = 0 }

    /** Consume the next restart marker RSTn. The reader may already have
      * read ahead into the marker (fill() tops up 4 bytes at a time), or
      * may still sit on the interval's pad bits / a trailing FF00 stuff
      * pair — per the resync convention (libjpeg next_marker) bytes before
      * the marker are discardable, so scan forward; any non-RST marker
      * found instead means the stream is corrupt here. */
    def restart(): Boolean = {
      reset()
      val i = JpegFrame.nextMarker(p, pos)
      if (i < 0 || !JpegFrame.isRst(p(i + 1) & 0xff)) return false
      pos = i + 2
      sawMarker = -1
      true
    }

    private def fill(): Unit = {
      while (nbits <= 24) {
        if (sawMarker >= 0) { acc |= 0 << (24 - nbits); nbits += 8 }
        else if (pos >= p.length) { sawMarker = 0xd9; nbits += 8 }
        else {
          var b = p(pos) & 0xff
          pos += 1
          if (b == 0xff) {
            if (pos >= p.length) { sawMarker = 0xd9; b = 0 }
            else {
              val m = p(pos) & 0xff
              if (m == 0x00) pos += 1 // stuffed byte: 0xFF data
              else { sawMarker = m; pos -= 1; b = 0 }
            }
          }
          acc |= b << (24 - nbits)
          nbits += 8
        }
      }
    }

    def bit(): Int = {
      if (nbits == 0) fill()
      val v = (acc >>> 31) & 1
      acc <<= 1
      nbits -= 1
      v
    }

    def bits(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = (v << 1) | bit(); i += 1 }
      v
    }

    def decode(h: Huff): Int = {
      var code = bit()
      var l = 1
      while (l <= 16) {
        if (h.maxCode(l) >= 0 && code <= h.maxCode(l))
          return h.value(h.valPtr(l) + code - h.minCode(l))
        code = (code << 1) | bit()
        l += 1
      }
      bad()
    }
  }

  /** Sign extension per JPEG F.2.2.1: an s-bit value v is negative when its
    * top bit is 0. */
  private[operators] def extend(v: Int, s: Int): Int =
    if (s == 0) 0 else if (v < (1 << (s - 1))) v - (1 << s) + 1 else v

  def decodeJpeg(p: Array[Byte]): Option[Raster] =
    JpegFrame.decode(p, JpegFrame.Huffman8)(decodeFrame)

  private[operators] def decodeFrame(f: JpegFrame): Raster =
    if (f.progressive) {
      // coefficients in ZIGZAG order, one 64-slot run per block of the
      // MCU-padded grid, filled across the scans
      val coefs = f.comps.map(c => new Array[Int](c.planeW * c.planeH))
      do progressiveScan(f, coefs) while (f.nextScan())
      render(f, coefs)
    } else {
      val comps = f.comps
      val quants = comps.map(f.quantFor)
      val dcTabs = comps.map(f.dcTable)
      val acTabs = comps.map(f.acTable)
      comps.foreach(c => c.plane = new Array[Byte](c.planeW * c.planeH))
      val br = new BitReader(f.p, f.dataAt)
      val coef = new Array[Int](64)
      val tmp = Array.ofDim[Double](8, 8)
      var mcu = 0
      val nMcus = f.mcusX * f.mcusY
      while (mcu < nMcus) {
        if (f.restartInterval > 0 && mcu > 0 && mcu % f.restartInterval == 0) {
          if (!br.restart()) bad()
          comps.foreach(_.pred = 0)
        }
        val mx = mcu % f.mcusX
        val my = mcu / f.mcusX
        for (c <- comps; bv <- 0 until c.v; bh <- 0 until c.h) {
          val ac = acTabs(c.index)
          val q = quants(c.index)
          java.util.Arrays.fill(coef, 0)
          val t = br.decode(dcTabs(c.index))
          if (t > 11) bad()
          c.pred += extend(br.bits(t), t)
          coef(0) = c.pred * q(0)
          var k = 1
          var eob = false
          while (!eob && k < 64) {
            val rs = br.decode(ac)
            val r = rs >> 4
            val s = rs & 15
            if (s == 0) {
              if (r == 15) k += 16 else eob = true
            } else {
              k += r
              if (k > 63) bad()
              coef(Zigzag(k)) = extend(br.bits(s), s) * q(k)
              k += 1
            }
          }
          // NOTE on truncation: a severely truncated scan fails here via an
          // invalid Huffman code (-> None); a scan cut within the last few
          // MCUs decodes its tail from zero-fill, matching libjpeg's
          // recover-don't-crash convention (the bit reader legitimately
          // reads ahead into the trailing marker, so a strict
          // saw-marker-early check would reject valid streams).
          idctTo(coef, c.plane, c.planeW,
            (mx * c.h + bh) * 8, (my * c.v + bv) * 8, tmp)
        }
        mcu += 1
      }
      assemble(f)
    }

  /** One progressive (SOF2) scan: spectral selection [ss, se] at
    * successive-approximation (ah, al), accumulating into the per-comp
    * zigzag-order coefficient buffers. DC scans may be interleaved (all
    * components, MCU order) or single-component; AC scans are single-
    * component over the real block grid per G.1.2. Refinement follows the
    * libjpeg correction-bit algorithm. */
  private def progressiveScan(f: JpegFrame, coefs: Array[Array[Int]]): Unit = {
    val ss = f.ss
    val se = f.se
    val ah = f.ah
    val al = f.al
    val br = new BitReader(f.p, f.dataAt)
    var eobrun = 0
    f.scan.foreach(_.pred = 0)

    def blockBase(c: Comp, bx: Int, by: Int): Int = (by * (c.planeW / 8) + bx) * 64
    /** Blocks across and down the component's real (unpadded) grid. */
    def realBlocks(c: Comp): (Int, Int) =
      (((f.width * c.h + f.hmax - 1) / f.hmax + 7) / 8,
        ((f.height * c.v + f.vmax - 1) / f.vmax + 7) / 8)

    def decodeDc(c: Comp, bx: Int, by: Int): Unit = {
      if (bx >= c.planeW / 8 || by >= c.planeH / 8) bad()
      val at = blockBase(c, bx, by)
      if (ah == 0) {
        val t = br.decode(f.dcTable(c))
        if (t > 11) bad()
        c.pred += extend(br.bits(t), t)
        coefs(c.index)(at) = c.pred << al
      } else {
        if (br.bit() == 1) coefs(c.index)(at) |= (1 << al) // libjpeg OR semantics
      }
    }

    def acFirst(ac: Huff, raw: Array[Int], base: Int): Unit = {
      if (eobrun > 0) { eobrun -= 1; return }
      var k = ss
      var done = false
      while (!done && k <= se) {
        val rs = br.decode(ac)
        val r = rs >> 4
        val s = rs & 15
        if (s == 0) {
          if (r < 15) {
            eobrun = (1 << r) - 1
            if (r > 0) eobrun += br.bits(r)
            done = true
          } else k += 16
        } else {
          k += r
          if (k > se) bad()
          raw(base + k) = extend(br.bits(s), s) << al
          k += 1
        }
      }
    }

    def acRefine(ac: Huff, raw: Array[Int], base: Int): Unit = {
      val one = 1 << al
      var k = ss
      if (eobrun == 0) {
        var brk = false
        while (!brk && k <= se) {
          val rs = br.decode(ac)
          var r = rs >> 4
          val s = rs & 15
          var newVal = 0
          if (s == 0) {
            if (r < 15) {
              // unlike acFirst, the count INCLUDES the current block: its
              // remaining positions still take correction bits in the tail
              // below, which also does the decrement (libjpeg convention)
              eobrun = 1 << r
              if (r > 0) eobrun += br.bits(r)
              brk = true
            } // r == 15: pass over 16 zero-history positions
          } else {
            if (s != 1) bad()
            newVal = if (br.bit() == 1) one else -one
          }
          if (!brk) {
            var moved = false
            while (!moved && k <= se) {
              val idx = base + k
              if (raw(idx) != 0) {
                if (br.bit() == 1 && (raw(idx) & one) == 0)
                  raw(idx) += (if (raw(idx) > 0) one else -one)
              } else {
                if (r == 0) {
                  if (newVal != 0) raw(idx) = newVal
                  moved = true
                } else r -= 1
              }
              k += 1
            }
          }
        }
      }
      if (eobrun > 0) {
        while (k <= se) {
          val idx = base + k
          if (raw(idx) != 0) {
            if (br.bit() == 1 && (raw(idx) & one) == 0)
              raw(idx) += (if (raw(idx) > 0) one else -one)
          }
          k += 1
        }
        eobrun -= 1
      }
    }

    def maybeRestart(unit: Int): Unit =
      if (f.restartInterval > 0 && unit > 0 && unit % f.restartInterval == 0) {
        if (!br.restart()) bad()
        f.scan.foreach(_.pred = 0)
        eobrun = 0
      }

    if (ss == 0) {
      if (f.scan.length == f.comps.length && f.comps.length > 1) {
        var mcu = 0
        val nMcus = f.mcusX * f.mcusY
        while (mcu < nMcus) {
          maybeRestart(mcu)
          val mx = mcu % f.mcusX
          val my = mcu / f.mcusX
          for (c <- f.comps; bv <- 0 until c.v; bh <- 0 until c.h)
            decodeDc(c, mx * c.h + bh, my * c.v + bv)
          mcu += 1
        }
      } else {
        for (c <- f.scan) {
          val (bw, bh) = realBlocks(c)
          var blk = 0
          while (blk < bw * bh) {
            maybeRestart(blk)
            decodeDc(c, blk % bw, blk / bw)
            blk += 1
          }
        }
      }
    } else {
      val c = f.scan(0)
      val ac = f.acTable(c)
      val (bw, bh) = realBlocks(c)
      var blk = 0
      while (blk < bw * bh) {
        maybeRestart(blk)
        val base = blockBase(c, blk % bw, blk / bw)
        if (ah == 0) acFirst(ac, coefs(c.index), base)
        else acRefine(ac, coefs(c.index), base)
        blk += 1
      }
    }
  }

  /** Dequantize and IDCT every block of the padded grids of a progressive
    * frame's accumulated zigzag-order coefficients, then assemble. */
  private[operators] def render(f: JpegFrame, coefs: Array[Array[Int]]): Raster = {
    val nat = new Array[Int](64)
    val tmp = Array.ofDim[Double](8, 8)
    for (c <- f.comps) {
      val q = f.quantFor(c)
      val raw = coefs(c.index)
      val bw = c.planeW / 8
      c.plane = new Array[Byte](c.planeW * c.planeH)
      var b = 0
      while (b < raw.length / 64) {
        var k = 0
        while (k < 64) { nat(Zigzag(k)) = raw(b * 64 + k) * q(k); k += 1 }
        idctTo(nat, c.plane, c.planeW, (b % bw) * 8, (b / bw) * 8, tmp)
        b += 1
      }
    }
    assemble(f)
  }

  /** Separable IDCT of one natural-order coefficient block into a plane
    * at (bx0, by0), with level shift and clamp. */
  private[operators] def idctTo(coef: Array[Int], plane: Array[Byte], planeW: Int,
                     bx0: Int, by0: Int, tmp: Array[Array[Double]]): Unit = {
    var x = 0
    while (x < 8) {
      var v = 0
      while (v < 8) {
        var s = 0.0
        var u = 0
        while (u < 8) { s += Cos(u)(x) * coef(v * 8 + u); u += 1 }
        tmp(x)(v) = s
        v += 1
      }
      x += 1
    }
    x = 0
    while (x < 8) {
      var y = 0
      while (y < 8) {
        var s = 0.0
        var v = 0
        while (v < 8) { s += Cos(v)(y) * tmp(x)(v); v += 1 }
        val px = math.round(s + 128.0).toInt
        val clamped = if (px < 0) 0 else if (px > 255) 255 else px
        plane((by0 + y) * planeW + bx0 + x) = clamped.toByte
        y += 1
      }
      x += 1
    }
  }

  /** 12-bit twin of [[idctTo]]: level shift 2^11, clamp to [0, 4095],
    * Int plane (samples exceed a byte). Shared with [[Jpeg12]]. */
  private[operators] def idct12To(coef: Array[Int], plane: Array[Int],
                     planeW: Int, bx0: Int, by0: Int,
                     tmp: Array[Array[Double]]): Unit = {
    var x = 0
    while (x < 8) {
      var v = 0
      while (v < 8) {
        var s = 0.0
        var u = 0
        while (u < 8) { s += Cos(u)(x) * coef(v * 8 + u); u += 1 }
        tmp(x)(v) = s
        v += 1
      }
      x += 1
    }
    x = 0
    while (x < 8) {
      var y = 0
      while (y < 8) {
        var s = 0.0
        var v = 0
        while (v < 8) { s += Cos(v)(y) * tmp(x)(v); v += 1 }
        val px = math.round(s + 2048.0).toInt
        val clamped = if (px < 0) 0 else if (px > 4095) 4095 else px
        plane((by0 + y) * planeW + bx0 + x) = clamped
        y += 1
      }
      x += 1
    }
  }

  /** Crop component planes to the image and convert to the output raster:
    * grayscale pass-through for one component, nearest-neighbor chroma
    * upsample + YCbCr→RGB for three. */
  private[operators] def assemble(f: JpegFrame): Raster = {
    val comps = f.comps
    val width = f.width
    val height = f.height
    val hmax = f.hmax
    val vmax = f.vmax
    if (comps.length == 1) {
      val c = comps(0)
      val out = new Array[Byte](width * height)
      var y = 0
      while (y < height) {
        System.arraycopy(c.plane, y * c.planeW, out, y * width, width)
        y += 1
      }
      Raster(width, height, 1, out)
    } else {
      val cy = comps(0); val cb = comps(1); val cr = comps(2)
      val out = new Array[Byte](width * height * 3)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          val yy = cy.plane((y * cy.v / vmax) * cy.planeW + x * cy.h / hmax) & 0xff
          val pb = (cb.plane((y * cb.v / vmax) * cb.planeW + x * cb.h / hmax) & 0xff) - 128
          val pr = (cr.plane((y * cr.v / vmax) * cr.planeW + x * cr.h / hmax) & 0xff) - 128
          val r = math.round(yy + 1.402 * pr).toInt
          val g = math.round(yy - 0.344136 * pb - 0.714136 * pr).toInt
          val b = math.round(yy + 1.772 * pb).toInt
          val d = (y * width + x) * 3
          out(d) = (if (r < 0) 0 else if (r > 255) 255 else r).toByte
          out(d + 1) = (if (g < 0) 0 else if (g > 255) 255 else g).toByte
          out(d + 2) = (if (b < 0) 0 else if (b > 255) 255 else b).toByte
          x += 1
        }
        y += 1
      }
      Raster(width, height, 3, out)
    }
  }

  // ---- fixture encoder ------------------------------------------------

  /** Encode a baseline JFIF whose pixels are EXACTLY reconstructible: a
    * mosaic of flat 8×8 blocks. Block (bx,by) decodes to the flat gray
    * value `gray(bx,by)` in all three channels (4:4:4 YCbCr with Cb=Cr=128,
    * quant all-ones, DC-only coefficients — a DC of 8k IDCTs to k+128 with
    * zero rounding ambiguity). This is a REAL entropy-coded baseline
    * stream (canonical Huffman, byte stuffing, sign-extended DC diffs) —
    * the decoder exercises its full path on it. */
  def encodeJpegGrayBlocks(wBlocks: Int, hBlocks: Int,
                           gray: (Int, Int) => Int,
                           components: Int = 3): Array[Byte] = {
    require(wBlocks > 0 && hBlocks > 0)
    require(components == 1 || components == 3)
    val w = new JpegWriter
    w.marker(0xd8) // SOI
    w.dqt(Array.fill(64)(1))
    w.sof(0xc0, 8, wBlocks * 8, hBlocks * 8, Seq.fill(components)(0x11)) // 4:4:4
    w.dht(0x00, 4, 0 until 12) // DC 0: categories 0..11, all 4-bit codes
    w.dht(0x10, 1, Seq(0x00)) // AC 0: single symbol EOB, 1-bit code "0"
    w.sos(1 to components, 0, 63, 0, 0)
    // entropy: DC category codes are canonical 4-bit (code == category),
    // AC EOB is the single bit 0
    val pred = new Array[Int](3)
    for (by <- 0 until hBlocks; bx <- 0 until wBlocks; c <- 0 until components) {
      val target = if (c == 0) (gray(bx, by) - 128) * 8 else 0
      val diff = target - pred(c)
      pred(c) = target
      var s = 0
      var a = math.abs(diff)
      while (a != 0) { s += 1; a >>= 1 }
      w.put(s, 4) // DC category (canonical code == category value)
      if (s > 0) w.put(if (diff < 0) diff + (1 << s) - 1 else diff, s)
      w.put(0, 1) // AC: EOB
    }
    w.flushBits()
    w.marker(0xd9) // EOI
    w.toByteArray
  }

  /** The progressive (SOF2) twin of [[encodeJpegGrayBlocks]]: the SAME
    * flat-block mosaic, but entropy-coded across four scans — DC first at
    * point transform 1, DC refinement delivering the low bit, then one
    * all-EOB-run AC scan per component. Decoded pixels are identical to
    * the baseline fixture's, so the m03 oracle formula covers both
    * encodings; what changes is the decode path exercised: multi-scan
    * coefficient accumulation, successive-approximation DC, and
    * multi-block EOB runs. */
  def encodeJpegGrayBlocksProgressive(wBlocks: Int, hBlocks: Int,
                                      gray: (Int, Int) => Int,
                                      components: Int = 3): Array[Byte] = {
    require(wBlocks > 0 && hBlocks > 0)
    require(components == 1 || components == 3)
    val w = new JpegWriter
    w.marker(0xd8) // SOI
    w.dqt(Array.fill(64)(1))
    w.sof(0xc2, 8, wBlocks * 8, hBlocks * 8, Seq.fill(components)(0x11))
    w.dht(0x00, 4, 0 until 12) // DC 0: categories 0..11 as 4-bit codes (code == category)
    // AC 0: EOB-run symbols r<<4 for r=0..14, 4-bit codes (code == r)
    w.dht(0x10, 4, (0 until 15).map(_ << 4))

    def target(bx: Int, by: Int, c: Int): Int =
      if (c == 0) (gray(bx, by) - 128) * 8 else 0

    // scan 1: DC first, al=1 — diffs of the arithmetic-shifted DC
    w.sos(1 to components, 0, 0, 0, 1)
    val pred = new Array[Int](3)
    for (by <- 0 until hBlocks; bx <- 0 until wBlocks; c <- 0 until components) {
      val t = target(bx, by, c) >> 1
      val diff = t - pred(c)
      pred(c) = t
      var s = 0
      var a = math.abs(diff)
      while (a != 0) { s += 1; a >>= 1 }
      w.put(s, 4)
      if (s > 0) w.put(if (diff < 0) diff + (1 << s) - 1 else diff, s)
    }
    w.flushBits()

    // scan 2: DC refinement, ah=1 al=0 — one raw low bit per block
    w.sos(1 to components, 0, 0, 1, 0)
    for (by <- 0 until hBlocks; bx <- 0 until wBlocks; c <- 0 until components)
      w.put(target(bx, by, c) & 1, 1)
    w.flushBits()

    // scans 3..: one AC first scan per component, all zeros -> one EOB run
    for (id <- 1 to components) {
      w.sos(Seq(id), 1, 63, 0, 0)
      var n = wBlocks * hBlocks // blocks in this component's grid (4:4:4)
      while (n > 0) {
        var r = 0
        while (r < 14 && (2 << r) <= n) r += 1
        val count = math.min(n, (2 << r) - 1)
        w.put(r << 4, 4) // canonical: code == r
        if (r > 0) w.put(count - (1 << r), r)
        n -= count
      }
      w.flushBits()
    }
    w.marker(0xd9)
    w.toByteArray
  }
}
