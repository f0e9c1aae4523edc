package lakebench

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private def tmp(): Path = Files.createTempDirectory("lakebench-gen")
  private def bytes(p: Path): Seq[Byte] = Files.readAllBytes(p).toSeq

  test("the same seed yields byte-identical inputs") {
    val (a, b) = (tmp(), tmp())
    Seq(a, b).foreach { d =>
      Gen.arrivals(7L, d.resolve("o.parquet"), d.resolve("l.parquet"), 1, 500, Seq(3L -> 1, 9L -> 2), 0L)
      Gen.corpus(7L, d.resolve("d.parquet"), 400, 2, 5)
    }
    Seq("o.parquet", "l.parquet", "d.parquet").foreach { f =>
      assert(bytes(a.resolve(f)) == bytes(b.resolve(f)), f)
    }
  }

  test("another seed yields other inputs of the same shape") {
    val (a, b) = (tmp(), tmp())
    val wa = Gen.arrivals(1L, a.resolve("o.parquet"), a.resolve("l.parquet"), 1, 500, Nil, 0L)
    val wb = Gen.arrivals(2L, b.resolve("o.parquet"), b.resolve("l.parquet"), 1, 500, Nil, 0L)
    assert(bytes(a.resolve("o.parquet")) != bytes(b.resolve("o.parquet")))
    // 499 orders with 1-7 line items each
    assert(wa.rows >= 2 * 499 && wb.rows >= 2 * 499 && wa.rows <= 8 * 499)
  }

  test("the corpus records its injected near-duplicate pairs") {
    val c = Gen.corpus(3L, tmp().resolve("d.parquet"), 2000, 2, 5)
    assert(c.written.rows == 4000)
    assert(c.injected.nonEmpty)
    assert(c.injected.forall { case (orig, copy) => orig < copy && orig / 2000 == copy / 2000 })
  }

  test("update keys are distinct and drawn from landed orders") {
    val ks = Gen.sampleKeys(5L, "upd", 3, 1001, 20)
    assert(ks.length == 20 && ks.distinct.length == 20 && ks.forall(k => k >= 1 && k < 1001))
    assert(ks.toSeq == Gen.sampleKeys(5L, "upd", 3, 1001, 20).toSeq)
  }
}
