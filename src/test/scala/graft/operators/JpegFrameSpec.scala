package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** The JPEG front end is shared by every process: the same stream
  * syntax (fill bytes before markers) must decode the same way, and the
  * same malformed header must be rejected the same way, whichever of the
  * four back-ends the frame's SOF marker selects. */
class JpegFrameSpec extends AnyFunSuite {

  private val gray = (bx: Int, by: Int) => (bx * 37 + by * 101 + 13) % 256
  private def coefs(bx: Int, by: Int, ci: Int): Array[Int] = {
    val c = new Array[Int](64)
    c(0) = (bx * 53 + by * 29 + ci * 17) % 200 - 100
    c(1) = (bx + by + ci) % 5 - 2
    c(20) = if ((bx + by) % 2 == 0) 3 else -1
    c
  }

  /** One fixture per process (restart intervals where the encoder has
    * them, so RSTn markers sit inside the entropy data), and the process's
    * own decoder reduced to comparable bytes. */
  private val processes: Seq[(String, Array[Byte], Array[Byte] => Option[Seq[Int]])] = Seq(
    ("baseline", JpegCodec.encodeJpegGrayBlocks(3, 2, gray),
      b => JpegCodec.decodeJpeg(b).map(_.data.toSeq.map(_.toInt))),
    ("progressive", JpegCodec.encodeJpegGrayBlocksProgressive(3, 2, gray),
      b => JpegCodec.decodeJpeg(b).map(_.data.toSeq.map(_.toInt))),
    ("12-bit", Jpeg12.encode12GrayBlocks(4, 3, (bx, by) => bx * 900 + by * 300,
      components = 3, restartInterval = 5),
      b => Jpeg12.decode(b).map(_.samples.toSeq)),
    ("lossless", LosslessJpeg.encode(9, 7, 1, 12, 4,
      Array.tabulate(63)(i => (i * 131 + 7) % 4096), restartInterval = 10),
      b => LosslessJpeg.decode(b).map(_.samples.toSeq)),
    ("arithmetic", ArithJpeg.encodeCoefBlocks(4, 3, 1, coefs, restartInterval = 5),
      b => ArithJpeg.decode(b).map(_.data.toSeq.map(_.toInt))),
    ("arithmetic progressive", ArithJpeg.encodeArithProgressive(3, 2, 3, coefs,
      ArithJpeg.standardScript(3)),
      b => ArithJpeg.decode(b).map(_.data.toSeq.map(_.toInt))))

  private def be16(b: Array[Byte], i: Int): Int = ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)

  /** Copy of `b` with `fill` 0xFF fill bytes before every marker after
    * SOI: header markers, RSTn inside entropy data, and EOI. */
  private def padMarkers(b: Array[Byte], fill: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(b, 0, 2)
    var i = 2
    while (i < b.length) {
      if ((b(i) & 0xff) == 0xff && i + 1 < b.length && b(i + 1) != 0) {
        val m = b(i + 1) & 0xff
        for (_ <- 0 until fill) out.write(0xff)
        if (m == 0xd9 || (m >= 0xd0 && m <= 0xd7)) { out.write(b, i, 2); i += 2 }
        else { val n = 2 + be16(b, i + 2); out.write(b, i, n); i += n }
      } else { out.write(b(i)); i += 1 }
    }
    out.toByteArray
  }

  /** `b` with `seg` spliced in at offset `at`. */
  private def splice(b: Array[Byte], at: Int, seg: Array[Byte]): Array[Byte] =
    b.take(at) ++ seg ++ b.drop(at)

  private def segment(m: Int, body: Seq[Int]): Array[Byte] =
    (Seq(0xff, m, (body.length + 2) >> 8, (body.length + 2) & 0xff) ++ body)
      .map(_.toByte).toArray

  test("fill bytes before every marker decode exactly like the unpadded stream") {
    val failures = for {
      (name, stream, decode) <- processes
      fill <- Seq(1, 3)
      padded = padMarkers(stream, fill)
      (how, same) <- Seq(
        "own decoder" -> (decode(padded) == decode(stream)),
        "dispatch" -> (RasterCodec.decode(padded).map(_.data.toSeq) ==
          RasterCodec.decode(stream).map(_.data.toSeq)))
      if !same
    } yield s"$name ($how, $fill fill bytes)"
    for ((name, stream, decode) <- processes)
      assert(decode(stream).isDefined && RasterCodec.decode(stream).isDefined,
        s"$name: fixture does not decode")
    assert(failures.isEmpty, failures.mkString("decode changed: ", "; ", ""))
  }

  /** Header mutations T.81 forbids; each is spliced in right after SOI,
    * before the stream's own tables, so a decoder that accepted it would
    * go on to decode the image. */
  private val badTables: Seq[(String, Array[Byte])] = Seq(
    "DQT with a zero quantiser entry" ->
      segment(0xdb, 0x00 +: (0 +: Seq.fill(63)(1))),
    "DQT with Pq = 2" -> segment(0xdb, 0x20 +: Seq.fill(64)(1)),
    "DHT running past its segment" -> // five 3-bit codes, one symbol byte
      segment(0xc4, 0x00 +: (Seq(0, 0, 5) ++ Seq.fill(13)(0)) :+ 0),
    "DHT with Tc = 2" ->
      segment(0xc4, 0x20 +: ((1 +: Seq.fill(15)(0)) :+ 0)),
    "DQT with Tq = 4" -> segment(0xdb, 0x04 +: Seq.fill(64)(1)))

  /** Processes (own decoder, then dispatch) that decode `mutate(stream)`. */
  private def accepting(mutate: Array[Byte] => Array[Byte]): Seq[String] =
    for {
      (name, stream, decode) <- processes
      bad = mutate(stream)
      (how, accepted) <- Seq("own decoder" -> decode(bad).isDefined,
        "dispatch" -> RasterCodec.decode(bad).isDefined)
      if accepted
    } yield s"$name ($how)"

  test("malformed tables are rejected by every process") {
    val failures = for {
      (what, seg) <- badTables
      by <- accepting(splice(_, 2, seg))
    } yield s"$what by $by"
    assert(failures.isEmpty, failures.mkString("accepted: ", "; ", ""))
  }

  test("a second frame header is rejected by every process") {
    val failures = accepting { stream =>
      val at = sofAt(stream)
      val n = 2 + be16(stream, at + 2)
      splice(stream, at + n, stream.slice(at, at + n))
    }
    assert(failures.isEmpty, failures.mkString("second SOF accepted by: ", "; ", ""))
  }

  /** Offset of the stream's frame header (SOFn). */
  private def sofAt(b: Array[Byte]): Int = {
    var i = 2
    def isSof(m: Int) = m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc
    while (!isSof(b(i + 1) & 0xff)) i += 2 + be16(b, i + 2)
    i
  }
}
