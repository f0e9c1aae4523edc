package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Deterministic fuzz pass over every dependency-free codec: random bytes,
  * truncations, and single-byte mutations of valid payloads. The contract
  * under test is the 100 TB one — a malformed payload in a distributed
  * decode yields None (or a decoded raster for harmless mutations), NEVER
  * an exception that would fail the task and kill the job. */
class CodecFuzzSpec extends AnyFunSuite {

  private def decoders: Seq[(String, Array[Byte] => Option[Any])] = Seq(
    ("bmp", RasterCodec.decodeBmp _),
    ("png", RasterCodec.decodePng _),
    ("jpeg", JpegCodec.decodeJpeg _),
    ("gif", GifCodec.decodeGif _),
    ("wav", AudioCodec.decodeWav _),
    ("sniff-img", (b: Array[Byte]) => Multimodal.sniffImageHeader(b)),
    ("sniff-wav", (b: Array[Byte]) => AudioCodec.sniffWav(b)),
    ("sniff-mp3", (b: Array[Byte]) => Multimodal.sniffMp3Header(b)),
    ("sniff-mp4", (b: Array[Byte]) => Multimodal.sniffVideoHeader(b)),
    ("mp4-samples", (b: Array[Byte]) => Mp4Tables.sampleTable(b)),
    ("jpeg-lossless", (b: Array[Byte]) => LosslessJpeg.decode(b)),
    ("jpeg-arith", (b: Array[Byte]) => ArithJpeg.decode(b)),
    ("jpeg-12bit", (b: Array[Byte]) => Jpeg12.decode(b)),
    ("flac", (b: Array[Byte]) => FlacCodec.decode(b)),
    ("sniff-flac", (b: Array[Byte]) => FlacCodec.sniffFlac(b)),
    ("sniff-ogg", (b: Array[Byte]) => OggSniff.sniffOgg(b)),
    ("tar", (b: Array[Byte]) => TarShard.entries(b)),
    ("avro-ocf", (b: Array[Byte]) => Option(AvroShard.parseShardAs(0L, b,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("rid",
          org.apache.spark.sql.types.LongType)))))),
    ("dispatch", RasterCodec.decode _))

  /** Natural-order coefficients with a few signed AC terms. */
  private def fuzzCoefs(bx: Int, by: Int, ci: Int): Array[Int] = {
    val c = new Array[Int](64)
    c(0) = (bx * 53 + by * 29 + ci * 17) % 200 - 100
    c(1) = (bx + by + ci) % 5 - 2
    c(20) = if ((bx + by) % 2 == 0) 3 else -1
    c
  }

  private def validPayloads: Seq[(String, Array[Byte])] = {
    val rgb = Array.tabulate(16 * 16 * 3)(i => (i * 7 % 256).toByte)
    val palette = Array.tabulate(768)(i => (i % 256).toByte)
    val idx = Array.tabulate(256)(i => (i % 256).toByte)
    Seq(
      ("bmp", RasterCodec.encodeBmp(16, 16, rgb)),
      ("png", RasterCodec.encodePng(16, 16, rgb)),
      ("jpeg", JpegCodec.encodeJpegGrayBlocks(2, 2, (bx, by) => bx * 64 + by * 32)),
      ("jpeg-prog", JpegCodec.encodeJpegGrayBlocksProgressive(2, 2,
        (bx, by) => bx * 64 + by * 32)),
      // a header that declares a 2.1 GB plane
      ("jpeg-huge-sof", JpegFrameSpec.hugeBaseline),
      ("gif", GifCodec.encodeGif(16, 16, palette, idx)),
      ("wav", AudioCodec.encodeWavPcm16(8000, 2,
        Array.tabulate(200)(i => (i * 331 % 65536 - 32768).toShort))),
      ("wav-ulaw", AudioCodec.encodeWavG711(8000, 1, mulaw = true,
        Array.tabulate(64)(i => (i * 5 % 256).toByte))),
      ("wav-alaw", AudioCodec.encodeWavG711(8000, 2, mulaw = false,
        Array.tabulate(64)(i => (i * 11 % 256).toByte))),
      ("wav-ima", AudioCodec.encodeImaAdpcmFromPcm(8000, 1, 36,
        Array.tabulate(65 * 2)(i => (800 * math.sin(i / 9.0)).toShort))),
      ("mp4-samples", Mp4Tables.encodeMp4WithSamples(Seq(
        Mp4Tables.TrackFixture(1, 600, Seq((6, 100), (6, 250)),
          (0 until 12).map(k => 50 + k * 7), 4, Some(1 to 12 by 5))))),
      ("jpeg-lossless", LosslessJpeg.encode(9, 7, 1, 12, 4,
        Array.tabulate(63)(i => (i * 131 + 7) % 4096))),
      ("jpeg-arith", ArithJpeg.encodeArithGrayBlocks(2, 2,
        (bx, by) => bx * 64 + by * 32 + 9)),
      ("jpeg-12bit", Jpeg12.encode12GrayBlocks(2, 2,
        (bx, by) => bx * 1024 + by * 512 + 100)),
      // SOF10 scans and every RSTn search: the progressive arithmetic scan
      // loop, and restart intervals in the lossless, 12-bit and arithmetic
      // entropy decoders
      ("jpeg-arith-prog", ArithJpeg.encodeArithProgressive(2, 2, 3, fuzzCoefs,
        ArithJpeg.standardScript(3))),
      ("jpeg-lossless-rst", LosslessJpeg.encode(9, 7, 1, 12, 4,
        Array.tabulate(63)(i => (i * 131 + 7) % 4096), restartInterval = 5)),
      ("jpeg-12bit-rst", Jpeg12.encode12GrayBlocks(3, 2,
        (bx, by) => bx * 1024 + by * 512 + 100, restartInterval = 2)),
      ("jpeg-arith-rst", ArithJpeg.encodeCoefBlocks(3, 2, 1, fuzzCoefs,
        restartInterval = 2)),
      ("flac", FlacCodec.encode(16000, 16, 1,
        Array.tabulate(192)(i => ((i * 37) % 1024) - 512),
        plan = FlacCodec.PlanFixed(2))),
      ("ogg-opus", OggSniff.encodeOggOpus(2, 312, 48000, 96000)),
      ("ogg-vorbis", OggSniff.encodeOggVorbis(1, 44100, 44100)),
      ("tar", TarShard.encodeTar(Seq(
        ("a.txt", Array.tabulate(40)(i => (i * 3).toByte)),
        ("a.json", Array[Byte](1, 2, 3))))),
      ("tar-gz", TarShard.gzip(TarShard.encodeTar(Seq(
        ("b.bin", Array.tabulate(600)(i => (i * 7).toByte)))))),
      ("mjpeg-mp4", Mp4Tables.encodeMp4WithSamples(Seq(Mp4Tables.payloadTrack(
        1, 1000, 40, 2, "jpeg",
        (0 until 3).map(j => JpegCodec.encodeJpegGrayBlocks(2, 2,
          (_, _) => 40 * j + 10)))))),
      ("avro-ocf", AvroShard.encodeShard(
        (0 until 9).iterator.map(i => org.apache.spark.sql.Row(
          i.toLong, s"s$i", Seq(i.toLong))),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("rid",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("name",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("tags",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.LongType)))),
        syncSeed = 3L, codec = "deflate", blockRows = 3)))
  }

  private def exercise(name: String, bytes: Array[Byte]): Unit =
    for ((dn, d) <- decoders) {
      try d(bytes) catch {
        case e: Throwable =>
          fail(s"$dn threw ${e.getClass.getSimpleName} on $name " +
            s"(len=${bytes.length}): ${e.getMessage}")
      }
    }

  test("random byte blobs never throw in any decoder") {
    val rnd = new scala.util.Random(20260813L)
    for (trial <- 0 until 300) {
      val len = rnd.nextInt(4096)
      val b = new Array[Byte](len)
      rnd.nextBytes(b)
      exercise(s"random#$trial", b)
    }
  }

  test("random blobs behind valid magic bytes never throw") {
    val rnd = new scala.util.Random(7L)
    val magics = Seq(
      Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a),
      Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte),
      "GIF89a".getBytes,
      "BM".getBytes,
      "RIFF1234WAVE".getBytes,
      Array[Byte](0, 0, 0, 24) ++ "ftyp".getBytes ++ "isom".getBytes,
      "ID3".getBytes ++ Array[Byte](4, 0, 0, 0, 0, 0, 8),
      Array[Byte](0xff.toByte, 0xfb.toByte))
    for (magic <- magics; trial <- 0 until 80) {
      val tail = new Array[Byte](rnd.nextInt(2048))
      rnd.nextBytes(tail)
      exercise(s"magic+random#$trial", magic ++ tail)
    }
  }

  test("every truncation of a valid payload never throws") {
    for ((name, full) <- validPayloads;
         cut <- 0 until math.min(full.length, 200)) // all short prefixes
      exercise(s"$name truncated@$cut", full.take(cut))
    for ((name, full) <- validPayloads; frac <- 1 until 20) // longer cuts
      exercise(s"$name truncated/$frac", full.take(full.length * frac / 20))
  }

  test("single-byte mutations of valid payloads never throw") {
    val rnd = new scala.util.Random(99L)
    for ((name, full) <- validPayloads; trial <- 0 until 400) {
      val b = full.clone()
      b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
      exercise(s"$name mutated#$trial", b)
    }
  }

  // ---- progressive-JPEG-targeted sweeps (VERDICT r7 "Next #8"): the
  // multi-scan accumulator and the successive-approximation state machine
  // are the newest, statefulest code paths — hit them specifically. ----

  private def progressiveFixture: Array[Byte] =
    JpegCodec.encodeJpegGrayBlocksProgressive(4, 3,
      (bx, by) => (bx * 53 + by * 29 + 7) % 256)

  /** Offsets of every SOS (FFDA) marker in the stream. */
  private def sosOffsets(b: Array[Byte]): Seq[Int] =
    b.indices.dropRight(1).filter(i =>
      (b(i) & 0xff) == 0xff && (b(i + 1) & 0xff) == 0xda)

  test("progressive: EVERY truncation point decodes to None or a raster, never throws") {
    val full = progressiveFixture
    // exhaustive — every cut, including each one inside each of the
    // multiple scans (the 200-prefix sweep above can't reach scan 2+)
    for (cut <- 0 until full.length) {
      val b = full.take(cut)
      try JpegCodec.decodeJpeg(b) catch {
        case e: Throwable =>
          fail(s"decodeJpeg threw ${e.getClass.getSimpleName} at cut=$cut " +
            s"of ${full.length}: ${e.getMessage}")
      }
    }
  }

  test("progressive: corrupt spectral-selection / successive-approximation params never throw") {
    val full = progressiveFixture
    val offs = sosOffsets(full)
    assert(offs.size >= 3, "fixture should carry multiple progressive scans")
    // For each scan header, sweep Ss, Se and the packed Ah/Al byte through
    // all 256 values (Ah>13, Al>13, Ss>Se, Se>63, DC-scan-with-Ss>0 ... —
    // every illegal combination must land in None, not an exception).
    for (off <- offs) {
      val ns = full(off + 4) & 0xff
      val paramAt = off + 5 + 2 * ns // Ss, then Se, then AhAl
      for (delta <- 0 until 3; v <- 0 until 256) {
        val b = full.clone()
        b(paramAt + delta) = v.toByte
        try JpegCodec.decodeJpeg(b) catch {
          case e: Throwable =>
            fail(s"decodeJpeg threw ${e.getClass.getSimpleName} with SOS@" +
              s"$off param+$delta=$v: ${e.getMessage}")
        }
      }
    }
  }

  test("progressive: random multi-byte scan-data corruption never throws") {
    val full = progressiveFixture
    val firstScan = sosOffsets(full).head
    val rnd = new scala.util.Random(4242L)
    for (trial <- 0 until 300) {
      val b = full.clone()
      val nFlips = 1 + rnd.nextInt(8)
      for (_ <- 0 until nFlips) {
        val i = firstScan + rnd.nextInt(full.length - firstScan)
        b(i) = (b(i) ^ (1 << rnd.nextInt(8))).toByte
      }
      try JpegCodec.decodeJpeg(b) catch {
        case e: Throwable =>
          fail(s"decodeJpeg threw ${e.getClass.getSimpleName} on " +
            s"multi-flip trial $trial: ${e.getMessage}")
      }
    }
  }
}
