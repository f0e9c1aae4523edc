package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Pins the exact bytes every JPEG fixture encoder writes for fixed
  * inputs. The m03/m09/m10/m12/m22 oracle gates hash-match decodes of
  * these streams, so a change to a segment writer or to the entropy bit
  * writer must show up here as a changed digest, not as a silent shift. */
class JpegEncoderBytesSpec extends AnyFunSuite {

  private def sha256(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b)
      .map(x => f"${x & 0xff}%02x").mkString

  private val gray = (bx: Int, by: Int) => (bx * 37 + by * 101 + 13) % 256
  private val gray12 = (bx: Int, by: Int) => (bx * 1111 + by * 333 + 5) % 4096

  /** Natural-order coefficients: DC plus a few signed AC terms, some past
    * a 16-zero run, so every run/size/EOB path of an encoder is taken. */
  private def coefs(bx: Int, by: Int, ci: Int): Array[Int] = {
    val c = new Array[Int](64)
    c(0) = (bx * 53 + by * 29 + ci * 17) % 200 - 100
    c(1) = (bx + 2 * by + ci) % 7 - 3
    c(9) = if ((bx + by) % 2 == 0) 5 else -2
    c(40) = (ci + 1) * (if (bx % 2 == 0) 1 else -1)
    c(63) = by % 3
    c
  }

  private val samples12 = Array.tabulate(9 * 7 * 3)(i => (i * 131 + 7) % 4096)

  private val encoders: Seq[(String, () => Array[Byte])] = Seq(
    "huffman-baseline-3c" -> (() => JpegCodec.encodeJpegGrayBlocks(3, 2, gray)),
    "huffman-baseline-1c" -> (() => JpegCodec.encodeJpegGrayBlocks(3, 2, gray, 1)),
    "huffman-progressive-3c" -> (() =>
      JpegCodec.encodeJpegGrayBlocksProgressive(3, 2, gray)),
    "huffman-progressive-1c" -> (() =>
      JpegCodec.encodeJpegGrayBlocksProgressive(3, 2, gray, 1)),
    "12bit-flat-1c" -> (() => Jpeg12.encode12GrayBlocks(3, 2, gray12)),
    "12bit-flat-3c-pq16-rst" -> (() => Jpeg12.encode12GrayBlocks(4, 3, gray12,
      components = 3, pq16 = true, restartInterval = 5)),
    "12bit-coef" -> (() => Jpeg12.encode12GrayCoefBlocks(3, 2,
      (bx, by) => coefs(bx, by, 0).map(_ * 40))),
    "lossless-1c" -> (() => LosslessJpeg.encode(9, 7, 1, 12, 4,
      samples12.take(63))),
    "lossless-3c-rst" -> (() => LosslessJpeg.encode(9, 7, 3, 12, 7,
      samples12, restartInterval = 10)),
    "arith-coef-1c" -> (() => ArithJpeg.encodeCoefBlocks(4, 3, 1, coefs)),
    "arith-coef-3c-rst-quant" -> (() => ArithJpeg.encodeCoefBlocks(4, 3, 3,
      coefs, quantTable = Array.tabulate(64)(k => 1 + k % 5),
      restartInterval = 5)),
    "arith-420" -> (() => ArithJpeg.encodeArith420(2, 2, gray,
      (mx, my) => 100 + mx * 17, (mx, my) => 60 + my * 13)),
    "arith-gray-3c" -> (() => ArithJpeg.encodeArithGrayBlocks(3, 2, gray)),
    "arith-progressive-3c" -> (() => ArithJpeg.encodeArithProgressive(3, 2, 3,
      coefs, ArithJpeg.standardScript(3),
      quantTable = Array.tabulate(64)(k => 1 + k % 3))))

  private val pinned: Map[String, String] = Map(
    "huffman-baseline-3c" -> "484242cd262cc7a0a579b2222dd2f4be5c3758502993431c711adc32b63ea752",
    "huffman-baseline-1c" -> "6c75bf9d62e5e7e70a91e652bc81126ea5c13db6a1db5c9aabb9b092f07f1de8",
    "huffman-progressive-3c" -> "a56515c367fd032ec523fec77027d96fd5148f8c4e46e84ea1c75afa6b093f29",
    "huffman-progressive-1c" -> "3bfb247b72d7de54ba629f18488565fc2b5f2c95d6fe00c8d08b660ad19eb00c",
    "12bit-flat-1c" -> "70f5ec268975b51783549524209aa28429bccd46ca1be07ab04d5a99d09628b9",
    "12bit-flat-3c-pq16-rst" -> "14bfc03deabe2c57d8245a92d92642a3fafc645ba377d43b5de3064e9539ef65",
    "12bit-coef" -> "94d89d73a27f1e5ec9214fd4a8f8a43e59134f30d4e7d30e97d19379d7a3aa78",
    "lossless-1c" -> "a5cd5f49001eea9aed0772e09ccd6d7179feee105266c45567513861271bc127",
    "lossless-3c-rst" -> "7a4d13fcd93e22ed5a82a4f50e30f662c5ec1b1ee9f7af811df33c607be9d9f6",
    "arith-coef-1c" -> "2609219160b606017b70120bc99d7c1635e2bb6790d8a0fa2bfa6abf358d0d88",
    "arith-coef-3c-rst-quant" -> "f4c2554f5ede1217a679e622d310d84bc030ae4d722acc9dcc2a9bf44c987c8f",
    "arith-420" -> "8633c7d2716407d82137f0581580b7c9374773f33e687d9d101f07f6a3b0145a",
    "arith-gray-3c" -> "740150ac132dce9a1138592991771def324757f7e36f18af6b241e5d6ffcabe1",
    "arith-progressive-3c" -> "82c3e581ec6d6d509df11213ef56057d127deed6ef8dc071178090be400123ef")

  for ((name, enc) <- encoders)
    test(s"encoder bytes are pinned: $name") {
      val got = sha256(enc())
      assert(got == pinned(name), s"$name wrote different bytes")
    }
}
