package lakebench

import org.scalatest.funsuite.AnyFunSuite

class IntervalsSpec extends AnyFunSuite {
  private def span(id: Int, parent: Int, s: Double, e: Double) = Span(id, s"s$id", parent, s, e)
  private def job(s: Double, e: Double) = JobRec(0, s, e, 0L, 0L, 0L, 0L)

  test("union merges overlapping and touching intervals") {
    assert(Intervals.union(Seq((5.0, 8.0), (0.0, 2.0), (1.0, 3.0), (3.0, 4.0))) ==
      List((0.0, 4.0), (5.0, 8.0)))
  }

  test("self time subtracts the union of overlapping children, clipped to the span") {
    val parent = span(0, -1, 0, 100)
    // [10,30] and [20,50] overlap (40 covered); [80,120] is clipped to [80,100]
    val kids = Seq(span(1, 0, 10, 30), span(2, 0, 20, 50), span(3, 0, 80, 120))
    assert(Intervals.selfTime(parent, kids) == 40.0)
    assert(Intervals.selfTime(parent, Nil) == 100.0)
    // a child nested inside another covers nothing extra
    assert(Intervals.selfTime(parent, Seq(span(1, 0, 0, 60), span(2, 0, 10, 20))) == 40.0)
  }

  test("driver gap is span wall minus the union of its job intervals") {
    val s = span(0, -1, 1000, 2000)
    val jobs = Seq(job(1100, 1400), job(1300, 1500), job(1900, 2100), job(500, 900))
    // union inside the span: [1100,1500] + [1900,2000] = 500 ms
    assert(Intervals.driverGap(s, jobs) == 500.0)
  }

  test("span figures attribute jobs that start inside the span") {
    val spans = Seq(span(0, -1, 0, 100), span(1, 0, 10, 40))
    val jobs = Seq(JobRec(1, 12, 30, 2000L, 3000000L, 0L, 10L), JobRec(2, 50, 60, 1000L, 0L, 0L, 5L))
    val figs = SpanFigures.of(spans, jobs).map(f => f.span.id -> f).toMap
    assert(figs(0).jobs == 2 && figs(1).jobs == 1)
    assert(figs(0).self == 70.0)
    assert(figs(0).taskS == 3.0 && figs(1).shuffleWriteMb == 3.0)
    assert(figs(0).driverGapS == (100.0 - 28.0) / 1000)
    assert(figs(0).bytesRead == 15L)
  }
}
