package graft.operators

import JpegFrame._

/** The JPEG front end shared by the four decoders ([[JpegCodec]],
  * [[Jpeg12]], [[ArithJpeg]], [[LosslessJpeg]]): one walk over the marker
  * segments (T.81 Annex B) into one frame-and-tables state, with every
  * header guard in one place. [[nextScan]] stops at each SOS with the scan
  * header read and, called again, resumes after that scan's entropy-coded
  * data, because progressive streams redefine tables between scans. The
  * SOF marker and sample precision name the [[process]], which is what
  * picks the back-end that decodes the entropy data.
  *
  * Guards, the same for every process: segments and table bodies inside
  * the buffer and their segment, table ids ≤ 3, Pq ≤ 1 and quantiser
  * entries ≥ 1 (B.2.4.1), Tc ≤ 1, one frame per stream, sampling factors,
  * the scan parameters the process allows (B.2.3, G.1.1.1) and the
  * process's allocation cap.
  */
private[operators] final class JpegFrame private (val p: Array[Byte]) {

  // tables as of the current scan (B.2.4)
  private val quant = Array.ofDim[Int](4, 64)
  private val quantSeen = new Array[Boolean](4)
  private val dcTabs = new Array[JpegCodec.Huff](4)
  private val acTabs = new Array[JpegCodec.Huff](4)
  /** Arithmetic conditioning per table id (DAC), defaults per F.1.4.4. */
  val dcL: Array[Int] = Array.fill(4)(0)
  val dcU: Array[Int] = Array.fill(4)(1)
  val acK: Array[Int] = Array.fill(4)(5)
  var restartInterval = 0

  // the frame (B.2.2) and its MCU grid (A.2)
  var sof: Int = -1
  var process: Int = -1
  var precision = 0
  var width = 0
  var height = 0
  var comps: Array[Comp] = null
  var hmax = 1
  var vmax = 1
  var mcusX = 0
  var mcusY = 0

  // the current scan (B.2.3)
  var scan: Array[Comp] = null
  var ss = 0
  var se = 0
  var ah = 0
  var al = 0
  /** Offset of the current scan's entropy-coded data, -1 before the first. */
  var dataAt: Int = -1

  def progressive: Boolean = sof == 0xc2 || sof == 0xca

  def quantFor(c: Comp): Array[Int] = { if (!quantSeen(c.tq)) bad(); quant(c.tq) }
  def dcTable(c: Comp): JpegCodec.Huff = { val h = dcTabs(c.dcTab); if (h == null) bad(); h }
  def acTable(c: Comp): JpegCodec.Huff = { val h = acTabs(c.acTab); if (h == null) bad(); h }

  private def u8(i: Int): Int = if (i < p.length) p(i) & 0xff else bad()
  private def be16(i: Int): Int = (u8(i) << 8) | u8(i + 1)

  /** Walk to the next SOS and read its header. False at the EOI that
    * follows a scan; EOI before any scan, or no EOI after the last, is
    * malformed. */
  def nextScan(): Boolean = {
    var i = if (dataAt < 0) 2 else entropyEnd(dataAt)
    while (true) {
      if (u8(i) != 0xff) bad()
      var m = u8(i + 1)
      while (m == 0xff) { i += 1; m = u8(i + 1) } // fill bytes (B.1.1.2)
      if (m == 0xd9) { if (dataAt < 0) bad(); return false }
      if (m == 0xd8 || isRst(m) || m == 0x01) i += 2
      else {
        val len = be16(i + 2)
        val end = i + 2 + len
        if (len < 2 || end > p.length) bad()
        val seg = i + 4
        m match {
          case 0xdb => defineQuant(seg, end)
          case 0xc4 => defineHuffman(seg, end)
          case 0xcc => defineConditioning(seg, end)
          case 0xdd =>
            if (seg + 2 > end) bad()
            restartInterval = be16(seg)
          case 0xda =>
            readScan(seg, end)
            dataAt = end
            return true
          case _ if isSof(m) => readFrame(m, seg, end)
          case _ => // APPn, COM and other segments carry nothing we decode
        }
        i = end
      }
    }
    bad()
  }

  /** Offset of the marker that ends the entropy-coded data at `from`:
    * the first one that is not RSTn. */
  private def entropyEnd(from: Int): Int = {
    var i = nextMarker(p, from)
    while (i >= 0 && isRst(p(i + 1) & 0xff)) i = nextMarker(p, i + 2)
    if (i < 0) bad()
    i
  }

  private def defineQuant(seg: Int, end: Int): Unit = {
    var q = seg
    while (q < end) {
      val pq = u8(q) >> 4
      val tq = u8(q) & 15
      if (pq > 1 || tq > 3 || q + 1 + 64 * (pq + 1) > end) bad()
      var k = 0
      while (k < 64) {
        val v = if (pq == 0) u8(q + 1 + k) else be16(q + 1 + 2 * k)
        if (v == 0) bad()
        quant(tq)(k) = v
        k += 1
      }
      quantSeen(tq) = true
      q += 1 + 64 * (pq + 1)
    }
  }

  private def defineHuffman(seg: Int, end: Int): Unit = {
    var q = seg
    while (q < end) {
      val tc = u8(q) >> 4
      val th = u8(q) & 15
      if (tc > 1 || th > 3) bad()
      val bits = new Array[Int](17)
      var total = 0
      for (l <- 1 to 16) { bits(l) = u8(q + l); total += bits(l) }
      if (total > 256 || q + 17 + total > end) bad()
      val h = new JpegCodec.Huff(bits,
        java.util.Arrays.copyOfRange(p, q + 17, q + 17 + total))
      if (tc == 0) dcTabs(th) = h else acTabs(th) = h
      q += 17 + total
    }
  }

  private def defineConditioning(seg: Int, end: Int): Unit = {
    var q = seg
    while (q < end) {
      val tc = u8(q) >> 4
      val tb = u8(q) & 15
      val v = u8(q + 1)
      if (tc > 1 || tb > 3 || q + 2 > end) bad()
      if (tc == 0) {
        if ((v >> 4) < (v & 15)) bad() // U ≥ L
        dcL(tb) = v & 15
        dcU(tb) = v >> 4
      } else {
        if (v < 1 || v > 63) bad()
        acK(tb) = v
      }
      q += 2
    }
  }

  private def readFrame(m: Int, seg: Int, end: Int): Unit = {
    if (comps != null) bad() // one frame per stream
    val n = u8(seg + 5)
    if (seg + 6 + 3 * n > end) bad()
    sof = m
    precision = u8(seg)
    height = be16(seg + 1)
    width = be16(seg + 3)
    process = processOf(m, precision)
    if (process < 0) bad()
    val (counts, maxSampling, maxSamples) = Limits(process)
    val sampling = if (m == 0xca) 1 else maxSampling // SOF10: 1x1 only
    if (width <= 0 || height <= 0 || !counts.contains(n) ||
      width.toLong * height * n > maxSamples) bad()
    comps = Array.tabulate(n) { c =>
      val o = seg + 6 + 3 * c
      val h = u8(o + 1) >> 4
      val v = u8(o + 1) & 15
      // a lone component is never interleaved, so one block per MCU (A.2.2)
      if (h < 1 || h > sampling || v < 1 || v > sampling || u8(o + 2) > 3 ||
        (n == 1 && h * v != 1)) bad()
      new Comp(c, u8(o), h, v, u8(o + 2))
    }
    hmax = comps.map(_.h).max
    vmax = comps.map(_.v).max
    mcusX = (width + 8 * hmax - 1) / (8 * hmax)
    mcusY = (height + 8 * vmax - 1) / (8 * vmax)
    for (c <- comps) {
      c.planeW = mcusX * c.h * 8
      c.planeH = mcusY * c.v * 8
      // the padded plane, and a progressive frame's coefficients, must
      // fit one array
      if (c.planeW.toLong * c.planeH > (if (progressive) Int.MaxValue / 2 else Int.MaxValue))
        bad()
    }
  }

  private def readScan(seg: Int, end: Int): Unit = {
    if (comps == null) bad()
    val ns = u8(seg)
    if (ns < 1 || ns > comps.length || seg + 4 + 2 * ns > end) bad()
    scan = Array.tabulate(ns) { k =>
      val c = comps.find(_.id == u8(seg + 1 + 2 * k)).getOrElse(bad())
      c.dcTab = u8(seg + 2 + 2 * k) >> 4
      c.acTab = u8(seg + 2 + 2 * k) & 15
      if (c.dcTab > 3 || c.acTab > 3) bad()
      c
    }
    ss = u8(seg + 1 + 2 * ns)
    se = u8(seg + 2 + 2 * ns)
    ah = u8(seg + 3 + 2 * ns) >> 4
    al = u8(seg + 3 + 2 * ns) & 15
    val ok =
      if (process == Lossless) // Ss selects the predictor, Al the point transform
        ns == comps.length && ss >= 1 && ss <= 7 && al < precision
      else if (progressive) // a DC band or one component's AC band
        se <= 63 && ss <= se && (ss > 0 || se == 0) && (ss == 0 || ns == 1) &&
          (ah == 0 || ah == al + 1) && al <= 13
      else ns == comps.length && ss == 0 && se == 63 && ah == 0 && al == 0
    if (!ok) bad()
  }
}

private[operators] object JpegFrame {
  private final class Bad extends RuntimeException(null, null, false, false)
  def bad(): Nothing = throw new Bad

  // processes, by the back-end that decodes them
  final val Huffman8 = 0 // SOF0, SOF1 and SOF2 at 8 bits: JpegCodec
  final val Huffman12 = 1 // SOF1 at 12 bits: Jpeg12
  final val Arithmetic = 2 // SOF9 and SOF10: ArithJpeg
  final val Lossless = 3 // SOF3: LosslessJpeg
  final val AnyProcess = -1

  private def processOf(sof: Int, precision: Int): Int = sof match {
    case 0xc0 | 0xc2 if precision == 8 => Huffman8
    case 0xc1 if precision == 8 => Huffman8
    case 0xc1 if precision == 12 => Huffman12
    case 0xc9 | 0xca if precision == 8 => Arithmetic
    case 0xc3 if precision >= 2 && precision <= 16 => Lossless
    case _ => -1
  }

  /** Per process: the component counts its back-end decodes, its largest
    * sampling factor, and its allocation cap on width * height *
    * components. The Huffman 8-bit cap is only that a padded plane fits
    * one array, which every process must meet. */
  private val Limits: Map[Int, (Set[Int], Int, Long)] = Map(
    Huffman8 -> ((Set(1, 3), 2, Long.MaxValue)),
    Huffman12 -> ((Set(1, 3), 1, 1L << 24)),
    Arithmetic -> ((Set(1, 3, 4), 2, 1L << 26)),
    Lossless -> ((Set(1, 2, 3, 4), 1, 1L << 24)))

  def isSof(m: Int): Boolean =
    m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc
  def isRst(m: Int): Boolean = m >= 0xd0 && m <= 0xd7

  /** One frame component. The scan fields are the current scan's table
    * selectors; the rest is scratch the back-ends decode into. */
  final class Comp(val index: Int, val id: Int, val h: Int, val v: Int, val tq: Int) {
    var dcTab = 0
    var acTab = 0
    /** The MCU-padded plane: `planeW / 8` by `planeH / 8` blocks. */
    var planeW = 0
    var planeH = 0
    var plane: Array[Byte] = null
    var pred = 0 // DC predictor
    var dcContext = 0 // arithmetic DC conditioning state
  }

  /** Offset of the first marker at or after `from` in entropy-coded data:
    * an 0xFF followed by neither a stuffed 0x00 nor another (fill) 0xFF.
    * -1 when the buffer ends first. */
  def nextMarker(p: Array[Byte], from: Int): Int = {
    var i = from
    while (i + 1 < p.length) {
      if ((p(i) & 0xff) == 0xff && p(i + 1) != 0 && p(i + 1) != -1) return i
      i += 1
    }
    -1
  }

  /** Parse `p` up to its first scan and decode it with `backEnd`: None for
    * a malformed stream, or for a frame of another process than
    * `process`. */
  def decode[A](p: Array[Byte], process: Int = AnyProcess)(backEnd: JpegFrame => A): Option[A] = {
    if (p == null || p.length < 4 || (p(0) & 0xff) != 0xff ||
      (p(1) & 0xff) != 0xd8) return None
    try {
      val f = new JpegFrame(p)
      f.nextScan()
      if (process != AnyProcess && f.process != process) None else Some(backEnd(f))
    } catch {
      case _: Bad | _: ArrayIndexOutOfBoundsException |
           _: NegativeArraySizeException => None
    }
  }
}

/** The segment and entropy-bit writer behind the fixture encoders. Every
  * component is numbered from 1 and uses quantisation table 0, and every
  * scan uses Huffman/conditioning tables 0. */
private[operators] final class JpegWriter extends java.io.ByteArrayOutputStream {
  def w8(v: Int): Unit = write(v & 0xff)
  def w16(v: Int): Unit = { w8(v >> 8); w8(v) }
  def marker(m: Int): Unit = { w8(0xff); w8(m) }

  /** DQT for table 0, 8-bit entries or (`pq16`) 16-bit ones. */
  def dqt(q: Array[Int], pq16: Boolean = false): Unit = {
    marker(0xdb)
    w16(2 + 1 + 64 * (if (pq16) 2 else 1))
    w8(if (pq16) 0x10 else 0x00)
    q.foreach(v => if (pq16) w16(v) else w8(v))
  }

  /** SOFn; `sampling` holds each component's packed H/V byte. */
  def sof(m: Int, precision: Int, width: Int, height: Int, sampling: Seq[Int]): Unit = {
    marker(m); w16(8 + 3 * sampling.length); w8(precision)
    w16(height); w16(width); w8(sampling.length)
    for ((hv, i) <- sampling.zipWithIndex) { w8(i + 1); w8(hv); w8(0) }
  }

  /** DHT for one table: `counts(l - 1)` codes of length l, `syms` in
    * canonical order. */
  def dht(tcTh: Int, counts: Seq[Int], syms: Seq[Int]): Unit = {
    marker(0xc4); w16(2 + 1 + 16 + syms.length); w8(tcTh)
    counts.foreach(w8); syms.foreach(w8)
  }

  /** DHT whose symbols all take `length`-bit codes. */
  def dht(tcTh: Int, length: Int, syms: Seq[Int]): Unit =
    dht(tcTh, Seq.tabulate(16)(l => if (l == length - 1) syms.length else 0), syms)

  def dri(interval: Int): Unit =
    if (interval > 0) { marker(0xdd); w16(4); w16(interval) }

  def sos(ids: Seq[Int], ss: Int, se: Int, ah: Int, al: Int): Unit = {
    marker(0xda); w16(6 + 2 * ids.length); w8(ids.length)
    for (id <- ids) { w8(id); w8(0x00) }
    w8(ss); w8(se); w8((ah << 4) | al)
  }

  private var acc = 0
  private var nbits = 0

  /** Append the low `n` bits of `v`, stuffing a 0x00 after each 0xFF. */
  def put(v: Int, n: Int): Unit = {
    var i = n - 1
    while (i >= 0) {
      acc = (acc << 1) | ((v >> i) & 1)
      nbits += 1
      if (nbits == 8) {
        write(acc)
        if (acc == 0xff) write(0x00)
        acc = 0; nbits = 0
      }
      i -= 1
    }
  }

  /** Pad the last entropy byte with 1-bits (F.1.2.3). */
  def flushBits(): Unit = while (nbits != 0) put(1, 1)
}
