package graft.operators

import java.util.zip.{CRC32, Deflater, Inflater}

/** Dependency-free raster codecs: uncompressed BMP (plain pixel array),
  * PNG (zlib via `java.util.zip` + the five standard scanline filters),
  * JPEG (one header front end, [[JpegFrame]], and a back-end per process:
  * baseline + progressive [[JpegCodec]], 12-bit [[Jpeg12]], arithmetic
  * SOF9/SOF10 [[ArithJpeg]], lossless SOF3 [[LosslessJpeg]]), GIF LZW
  * (via [[GifCodec]]), and baseline TIFF (none/LZW/PackBits, both byte
  * orders, via [[TiffCodec]]) — the whole image family decodes for real.
  * Hierarchical JPEG (SOF5+) returns None.
  *
  * This is the decode step behind [[Multimodal.decodeFeatures]]: the
  * reference pipeline fetches binary content eagerly and hands it to
  * downstream tooling (`dlt_sources/m365/__init__.py:22-62`); here the
  * payload→pixels step itself runs distributed, one partition at a time.
  */
object RasterCodec {

  /** Decoded image: top-down, row-major, interleaved channels (RGB or
    * RGBA or 1-channel gray), 8 bits per sample. */
  final case class Raster(width: Int, height: Int, channels: Int,
                          data: Array[Byte]) {
    def sample(x: Int, y: Int, c: Int): Int =
      data((y * width + x) * channels + c) & 0xff
  }

  // ---- BMP ----------------------------------------------------------

  /** Encode 24-bit uncompressed BMP (BITMAPINFOHEADER, bottom-up rows
    * padded to 4 bytes, BGR sample order). `rgb` is top-down RGB. */
  def encodeBmp(width: Int, height: Int, rgb: Array[Byte]): Array[Byte] = {
    require(rgb.length == width * height * 3, "rgb must be w*h*3 bytes")
    val rowBytes = width * 3
    val pad = (4 - rowBytes % 4) % 4
    val dataSize = (rowBytes + pad) * height
    val out = new Array[Byte](54 + dataSize)
    def le16(i: Int, v: Int): Unit = { out(i) = v.toByte; out(i + 1) = (v >> 8).toByte }
    def le32(i: Int, v: Int): Unit = {
      out(i) = v.toByte; out(i + 1) = (v >> 8).toByte
      out(i + 2) = (v >> 16).toByte; out(i + 3) = (v >> 24).toByte
    }
    out(0) = 'B'; out(1) = 'M'
    le32(2, 54 + dataSize); le32(10, 54) // file size, data offset
    le32(14, 40) // BITMAPINFOHEADER
    le32(18, width); le32(22, height)
    le16(26, 1); le16(28, 24) // planes, bpp
    le32(34, dataSize)
    var o = 54
    var y = height - 1 // bottom-up
    while (y >= 0) {
      var x = 0
      while (x < width) {
        val p = (y * width + x) * 3
        out(o) = rgb(p + 2); out(o + 1) = rgb(p + 1); out(o + 2) = rgb(p)
        o += 3; x += 1
      }
      o += pad
      y -= 1
    }
    out
  }

  /** Decode uncompressed 24/32-bit BMP to top-down RGB. Returns None on
    * other bit depths, compressed payloads, or truncation. */
  def decodeBmp(p: Array[Byte]): Option[Raster] = {
    if (p == null || p.length < 54 || p(0) != 'B' || p(1) != 'M') return None
    def u8(i: Int) = p(i) & 0xff
    def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int) = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    val dataOff = le32(10)
    val width = le32(18)
    val rawH = le32(22)
    val height = math.abs(rawH)
    val topDown = rawH < 0
    val bpp = le16(28)
    val compression = le32(30)
    if (compression != 0 || (bpp != 24 && bpp != 32)) return None
    if (width <= 0 || height <= 0 || width > (1 << 20) || height > (1 << 20))
      return None
    val bytesPer = bpp / 8
    val rowBytes = width * bytesPer
    val stride = if (bpp == 24) rowBytes + ((4 - rowBytes % 4) % 4) else rowBytes
    if (dataOff.toLong + stride.toLong * height > p.length) return None
    val out = new Array[Byte](width * height * 3)
    var y = 0
    while (y < height) {
      val srcRow = dataOff + stride * (if (topDown) y else height - 1 - y)
      var x = 0
      while (x < width) {
        val s = srcRow + x * bytesPer
        val d = (y * width + x) * 3
        out(d) = p(s + 2); out(d + 1) = p(s + 1); out(d + 2) = p(s) // BGR -> RGB
        x += 1
      }
      y += 1
    }
    Some(Raster(width, height, 3, out))
  }

  // ---- PNG ----------------------------------------------------------

  private[operators] val PngSig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  private[operators] def chunk(tag: String, body: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](12 + body.length)
    def be32(i: Int, v: Long): Unit = {
      out(i) = (v >> 24).toByte; out(i + 1) = (v >> 16).toByte
      out(i + 2) = (v >> 8).toByte; out(i + 3) = v.toByte
    }
    be32(0, body.length.toLong)
    tag.getBytes("US-ASCII").copyToArray(out, 4)
    body.copyToArray(out, 8)
    val crc = new CRC32()
    crc.update(out, 4, 4 + body.length)
    be32(8 + body.length, crc.getValue)
    out
  }

  /** Encode an 8-bit RGB PNG (color type 2, filter 0 on every scanline,
    * one zlib-deflated IDAT). `rgb` is top-down RGB. */
  def encodePng(width: Int, height: Int, rgb: Array[Byte]): Array[Byte] = {
    require(rgb.length == width * height * 3, "rgb must be w*h*3 bytes")
    val ihdr = new Array[Byte](13)
    ihdr(0) = (width >> 24).toByte; ihdr(1) = (width >> 16).toByte
    ihdr(2) = (width >> 8).toByte; ihdr(3) = width.toByte
    ihdr(4) = (height >> 24).toByte; ihdr(5) = (height >> 16).toByte
    ihdr(6) = (height >> 8).toByte; ihdr(7) = height.toByte
    ihdr(8) = 8; ihdr(9) = 2 // bit depth 8, color type 2 (RGB)
    val raw = new Array[Byte](height * (1 + width * 3))
    var y = 0
    while (y < height) {
      // filter byte 0 then the scanline
      System.arraycopy(rgb, y * width * 3, raw, y * (1 + width * 3) + 1, width * 3)
      y += 1
    }
    val deflater = new Deflater()
    deflater.setInput(raw); deflater.finish()
    val buf = new Array[Byte](raw.length + 64)
    val bos = new java.io.ByteArrayOutputStream()
    while (!deflater.finished()) bos.write(buf, 0, deflater.deflate(buf))
    deflater.end()
    val out = new java.io.ByteArrayOutputStream()
    out.write(PngSig)
    out.write(chunk("IHDR", ihdr))
    out.write(chunk("IDAT", bos.toByteArray))
    out.write(chunk("IEND", Array.emptyByteArray))
    out.toByteArray
  }

  /** Decode an 8-bit gray (0) / RGB (2) / RGBA (6) PNG: inflate the IDAT
    * stream with `java.util.zip.Inflater` and reverse the per-scanline
    * filter (None/Sub/Up/Average/Paeth). Interlaced images, palettes, and
    * 16-bit depth return None. */
  def decodePng(p: Array[Byte]): Option[Raster] = {
    if (p == null || p.length < 8 + 25 ||
      !p.take(8).sameElements(PngSig)) return None
    def u8(i: Int) = p(i) & 0xff
    def be32(i: Int) = (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    var width = 0; var height = 0; var channels = 0
    val idat = new java.io.ByteArrayOutputStream()
    var i = 8
    var ok = true
    var done = false
    while (ok && !done && i + 8 <= p.length) {
      val len = be32(i)
      if (len < 0 || i + 12L + len > p.length) ok = false
      else {
        val tag = new String(p, i + 4, 4, "US-ASCII")
        tag match {
          case "IHDR" =>
            width = be32(i + 8); height = be32(i + 12)
            val bitDepth = u8(i + 16); val colorType = u8(i + 17)
            val interlace = u8(i + 20)
            channels = colorType match {
              case 0 => 1
              case 2 => 3
              case 6 => 4
              case _ => 0
            }
            if (bitDepth != 8 || channels == 0 || interlace != 0 ||
              width <= 0 || height <= 0 || width > (1 << 20) || height > (1 << 20))
              ok = false
          case "IDAT" => idat.write(p, i + 8, len)
          case "IEND" => done = true
          case _ => // ancillary chunk: skip
        }
        i += 12 + len
      }
    }
    if (!ok || width == 0 || idat.size() == 0) return None
    // Size the buffers in Long BEFORE allocating: header-declared dims up
    // to 2^20 x 2^20 x 4 channels overflow Int (NegativeArraySize / a
    // wrapped-small buffer that then AIOOBEs during unfiltering), and even
    // non-overflowing dims must be reachable from this IDAT stream —
    // deflate expands at most ~1032x, so a tiny crafted payload cannot be
    // allowed to demand a multi-GB allocation. Reject -> None, not crash.
    val strideL = width.toLong * channels
    val rawLen = (1L + strideL) * height
    if (rawLen > Int.MaxValue || rawLen > idat.size().toLong * 1032 + 64)
      return None
    val stride = strideL.toInt
    val raw = new Array[Byte](rawLen.toInt)
    val inflater = new Inflater()
    inflater.setInput(idat.toByteArray)
    try {
      var off = 0
      while (off < raw.length && !inflater.finished()) {
        val n = inflater.inflate(raw, off, raw.length - off)
        if (n == 0 && inflater.needsInput()) return None // truncated stream
        off += n
      }
      if (off < raw.length) return None
    } catch { case _: java.util.zip.DataFormatException => return None }
    finally inflater.end()
    // reverse scanline filters in place into the output
    val out = new Array[Byte](stride * height)
    var y = 0
    while (y < height) {
      val filter = raw(y * (1 + stride)) & 0xff
      val src = y * (1 + stride) + 1
      val dst = y * stride
      var x = 0
      while (x < stride) {
        val cur = raw(src + x) & 0xff
        val a = if (x >= channels) out(dst + x - channels) & 0xff else 0
        val b = if (y > 0) out(dst - stride + x) & 0xff else 0
        val c = if (x >= channels && y > 0) out(dst - stride + x - channels) & 0xff else 0
        val v = filter match {
          case 0 => cur
          case 1 => cur + a
          case 2 => cur + b
          case 3 => cur + ((a + b) >> 1)
          case 4 =>
            val pp = a + b - c
            val pa = math.abs(pp - a); val pb = math.abs(pp - b); val pc = math.abs(pp - c)
            cur + (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c)
          case _ => return None
        }
        out(dst + x) = v.toByte
        x += 1
      }
      y += 1
    }
    Some(Raster(width, height, channels, out))
  }

  /** Decode whatever the payload's header says it is: BMP, PNG, GIF
    * ([[GifCodec]]), TIFF ([[TiffCodec]]) or JPEG. A JPEG header is parsed
    * once, by [[JpegFrame]], and its SOF marker and precision pick the
    * back-end: SOF0/SOF2 and 8-bit SOF1 [[JpegCodec]], 12-bit SOF1
    * [[Jpeg12]], SOF9/SOF10 [[ArithJpeg]], SOF3 [[LosslessJpeg]]. The
    * high-precision processes map to 8-bit by their top bits, the standard
    * display convention; the typed full-precision paths are
    * `Multimodal.decodeLosslessFeatures`/`decodeJpeg12Features`. Any other
    * process (hierarchical SOF5+, arithmetic lossless SOF11) returns None. */
  def decode(p: Array[Byte]): Option[Raster] =
    Multimodal.sniffImageHeader(p).flatMap {
      case ("bmp", _, _) => decodeBmp(p)
      case ("png", _, _) => decodePng(p)
      case ("jpeg", _, _) => JpegFrame.decode(p) { f =>
        def top8(samples: Array[Int], precision: Int): Raster = Raster(
          f.width, f.height, f.comps.length,
          samples.map(v => ((v >> math.max(0, precision - 8)) & 0xff).toByte))
        f.process match {
          case JpegFrame.Huffman8 => JpegCodec.decodeFrame(f)
          case JpegFrame.Huffman12 => top8(Jpeg12.decodeFrame(f).samples, 12)
          case JpegFrame.Arithmetic => ArithJpeg.decodeFrame(f)
          case JpegFrame.Lossless =>
            top8(LosslessJpeg.decodeFrame(f).samples, f.precision)
        }
      }
      case ("gif", _, _) => GifCodec.decodeGif(p)
      case ("tiff", _, _) => TiffCodec.decode(p)
      case _ => None
    }

  /** Exact k x k box-average downsample (area filter, integer floor):
    * out(x, y, c) = floor(sum of the k*k input block / k^2), output dims
    * floor(w/k) x floor(h/k) — partial edge blocks DROP, the
    * deterministic contract an external oracle can restate analytically
    * (float bilinear would couple the gate to rounding modes). None when
    * the image is smaller than one block or k is not positive. */
  def boxDownsample(r: Raster, k: Int): Option[Raster] = {
    if (k <= 0 || r.width < k || r.height < k) return None
    val ow = r.width / k
    val oh = r.height / k
    val kk = k * k
    val out = new Array[Byte](ow * oh * r.channels)
    var y = 0
    while (y < oh) {
      var x = 0
      while (x < ow) {
        var c = 0
        while (c < r.channels) {
          var s = 0
          var dy = 0
          while (dy < k) {
            var dx = 0
            while (dx < k) {
              s += r.sample(x * k + dx, y * k + dy, c)
              dx += 1
            }
            dy += 1
          }
          out((y * ow + x) * r.channels + c) = (s / kk).toByte
          c += 1
        }
        x += 1
      }
      y += 1
    }
    Some(Raster(ow, oh, r.channels, out))
  }
}
