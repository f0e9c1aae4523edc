package lakebench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

/** One traced interval: times are epoch milliseconds (fractional), `parent`
  * is the id of the enclosing span or -1. */
final case class Span(id: Int, name: String, parent: Int, start: Double, end: Double) {
  def dur: Double = end - start
}

/** One Spark job as the listener saw it, with its tasks' summed counters. */
final case class JobRec(id: Int, start: Double, end: Double, taskMs: Long,
                        shuffleWriteBytes: Long, spillBytes: Long, inputBytes: Long)

object Intervals {

  /** Sorted, non-overlapping union of `(start, end)` intervals. */
  def union(iv: Seq[(Double, Double)]): List[(Double, Double)] =
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foldLeft(List.empty[(Double, Double)]) {
      case ((ps, pe) :: rest, (s, e)) if s <= pe => (ps, math.max(pe, e)) :: rest
      case (acc, x) => x :: acc
    }.reverse

  /** Length of [lo, hi] covered by the union of `iv`. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double =
    union(iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) })
      .map { case (s, e) => e - s }.sum

  /** A span's duration minus the part its children cover. */
  def selfTime(span: Span, children: Seq[Span]): Double =
    span.dur - covered(children.map(c => (c.start, c.end)), span.start, span.end)

  /** A span's duration minus the union of the Spark job intervals inside it:
    * the time the driver spent with no job running. */
  def driverGap(span: Span, jobs: Seq[JobRec]): Double =
    span.dur - covered(jobs.map(j => (j.start, j.end)), span.start, span.end)
}

/** Spans recorded around the benchmark's calls into each layer. Spans are
  * kept in memory and written once, at the end. A disabled tracer runs the
  * body and records nothing. */
final class Tracer(var enabled: Boolean) {
  private val t0Nano = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  private val recorded = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  /** Epoch milliseconds on the monotonic clock. */
  def now: Double = t0Ms + (System.nanoTime() - t0Nano) / 1e6

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val start = now
      try body
      finally {
        stack = stack.tail
        recorded += Span(id, name, parent, start, now)
      }
    }

  /** Record an interval measured by the caller, under the current span. */
  def record(name: String, start: Double, end: Double): Unit =
    if (enabled) {
      recorded += Span(nextId, name, stack.headOption.getOrElse(-1), start, end)
      nextId += 1
    }

  /** Wrap an iterator so each `next()` call is a span. */
  def iterator[A](name: String, it: Iterator[A]): Iterator[A] = new Iterator[A] {
    def hasNext: Boolean = Tracer.this.span(name)(it.hasNext)
    def next(): A = Tracer.this.span(name)(it.next())
  }

  def spans: Seq[Span] = recorded.toSeq
}

/** Job intervals and task counters from Spark's listener bus. */
final class JobListener extends SparkListener {
  private final class Acc(val start: Double) {
    var end = Double.NaN
    var taskMs = 0L; var shuffle = 0L; var spill = 0L; var input = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Acc]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new Acc(e.time.toDouble)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageJob.get(e.stageId).flatMap(jobs.get).foreach { a =>
      a.taskMs += m.executorRunTime
      a.shuffle += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.input += m.inputMetrics.bytesRead
    }
  }

  /** True once every job seen so far has ended. */
  def idle: Boolean = synchronized(jobs.valuesIterator.forall(a => !a.end.isNaN))

  def records: Seq[JobRec] = synchronized {
    jobs.iterator.filter(!_._2.end.isNaN).map { case (id, a) =>
      JobRec(id, a.start, a.end, a.taskMs, a.shuffle, a.spill, a.input)
    }.toSeq
  }
}

/** Per-span figures: wall, self time and the Spark work of the jobs that
  * started inside the span. */
final case class SpanFigures(span: Span, self: Double, jobs: Int, taskS: Double,
                             shuffleWriteMb: Double, spillMb: Double, driverGapS: Double,
                             bytesRead: Long)

object SpanFigures {
  def of(spans: Seq[Span], jobs: Seq[JobRec]): Seq[SpanFigures] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      // job times are whole milliseconds; allow one either side
      val js = jobs.filter(j => j.start >= s.start - 1 && j.start <= s.end + 1)
      SpanFigures(s, Intervals.selfTime(s, children.getOrElse(s.id, Nil)), js.size,
        js.map(_.taskMs).sum / 1000.0, js.map(_.shuffleWriteBytes).sum / 1e6,
        js.map(_.spillBytes).sum / 1e6, Intervals.driverGap(s, js) / 1000.0,
        js.map(_.inputBytes).sum)
    }
  }
}
