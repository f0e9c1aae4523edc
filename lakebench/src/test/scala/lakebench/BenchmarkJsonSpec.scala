package lakebench

import java.nio.file.{Files, Paths}

import org.json4s._
import org.json4s.jackson.JsonMethods

import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json must name exactly what the benchmark prints. */
class BenchmarkJsonSpec extends AnyFunSuite {
  private implicit val formats: Formats = DefaultFormats
  private lazy val doc = JsonMethods.parse(new String(
    Files.readAllBytes(Paths.get("..", "BENCHMARK.json").toAbsolutePath.normalize), "UTF-8"))

  test("per-layer metrics match the traced run's list, name and unit") {
    val listed = (doc \ "per_layer").extract[List[Map[String, String]]].map(m => m("name") -> m("unit"))
    assert(listed == Layers.All.toList)
  }

  test("workloads match the ones the benchmark runs") {
    assert((doc \ "workloads").extract[List[Map[String, String]]].map(_("name")) == Main.Workloads.toList)
  }
}
