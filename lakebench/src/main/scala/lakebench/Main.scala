package lakebench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One metric as printed: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

/** What a workload hands back: operation counts and the end-to-end metrics
  * (untraced runs) or per-layer metrics (traced runs). */
final case class Outcome(attempted: Long, failed: Long, metrics: Seq[Metric])

/** Shared state of one benchmark run. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
                val traced: Boolean, val work: Path) {
  val tracer = new Tracer(false)
  val listener = new JobListener
  val report = mutable.ArrayBuffer.empty[String]
  private var heapPeak = 0L

  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** A report line, prefixed with the seconds since the JVM started. */
  def say(line: String): Unit = {
    val l = f"[${(System.currentTimeMillis() - jvmStart) / 1e3}%6.1fs] $line"
    report += l
    println(l)
  }

  /** Collect garbage and record the live heap left behind, then let the
    * JIT settle. Called between operations, outside every timed interval.
    * The second collection runs after Spark's cleaner has released what the
    * first one found unreachable, so the reading does not depend on the
    * cleaner's timing. */
  def sampleHeap(): Unit = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    heapPeak = math.max(heapPeak, used)
    settleJit()
  }

  /** Wait (at most `maxMs`) until the JIT compiler threads go quiet, so
    * the next operation does not share the cores with compilations the
    * previous one queued; how long that queue takes to drain depends on the
    * host far more than on the program. */
  def settleJit(maxMs: Long = 3000): Unit = {
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val deadline = System.nanoTime() + maxMs * 1000000L
    var last = jit.getTotalCompilationTime
    var quiet = false
    while (!quiet && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val now = jit.getTotalCompilationTime
      quiet = now - last < 10
      last = now
    }
    settledMs += (System.nanoTime() - deadline) / 1000000L + maxMs
  }
  var settledMs = 0L

  def heapLivePeakMb: Double = heapPeak / 1e6

  /** Run `body` `reps` times, each from a clean slate made by `reset`;
    * returns the median wall in seconds. */
  def setup(reps: Int)(reset: () => Unit)(body: => Unit): Double = {
    val walls = (1 to reps).map { _ =>
      reset()
      val t = System.nanoTime()
      body
      (System.nanoTime() - t) / 1e9
    }
    say(f"setup_s: median of ${walls.map(w => f"$w%.3f").mkString(", ")}")
    Stats.median(walls)
  }

  /** In a traced run, operations 0, 1, 2, 3, 4, ... run untraced, traced,
    * traced, untraced, untraced, ... (an ABBA order, so a warm-up trend
    * across operations does not bias the tracing overhead); an untraced
    * run traces nothing. Returns whether operation `i` is traced. */
  def traceOp(i: Int): Boolean = {
    val on = traced && (i % 4 == 1 || i % 4 == 2)
    tracing(on)
    on
  }

  /** Switch spans and the job listener on or off. */
  def tracing(on: Boolean): Unit =
    if (on != tracer.enabled) {
      if (on) spark.sparkContext.addSparkListener(listener)
      else { drainListener(); spark.sparkContext.removeSparkListener(listener) }
      tracer.enabled = on
    }

  /** Wait until the listener has seen the end of every job it saw start. */
  def drainListener(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (!listener.idle && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(200)
  }

  /** Write the recorded spans and jobs once, at the end of a traced run. */
  def writeTrace(path: Path): Unit = {
    val sb = new StringBuilder
    tracer.spans.foreach { s =>
      sb ++= f"""{"span":${s.id},"name":"${s.name}","parent":${s.parent},"start":${s.start}%.3f,"end":${s.end}%.3f}""" + "\n"
    }
    listener.records.foreach { j =>
      sb ++= f"""{"job":${j.id},"start":${j.start}%.0f,"end":${j.end}%.0f,"task_ms":${j.taskMs},"shuffle_write_bytes":${j.shuffleWriteBytes},"spill_bytes":${j.spillBytes},"input_bytes":${j.inputBytes}}""" + "\n"
    }
    Files.createDirectories(path.getParent)
    Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object Main {
  val Workloads = Seq("elt_incremental", "corpus_curation")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    require(Workloads.contains(workload), s"--workload must be one of ${Workloads.mkString(", ")}")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val out = Paths.get(opts("out")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()

    // The session Bench.scala uses: graft extensions, UTC, one shuffle
    // partition per core.
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"lakebench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.expressions.GraftSparkSessionExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val ctx = new Ctx(spark, seed, seconds, traced, work)
      ctx.say(s"workload $workload seed $seed seconds $seconds trace ${if (traced) 1 else 0} cores $cores")
      val o = workload match {
        case "elt_incremental" => Elt.run(ctx)
        case "corpus_curation" => Curation.run(ctx)
      }
      if (traced) {
        ctx.tracing(false)
        ctx.writeTrace(out.resolveSibling(s"trace_${workload}_$seed.jsonl"))
      }
      val failedRatio = o.failed.toDouble / math.max(1L, o.attempted)
      ctx.say(f"failed_ratio = $failedRatio%.4f (${o.failed} of ${o.attempted} operations); waited ${ctx.settledMs} ms for the JIT between operations")
      o.metrics.foreach(m => ctx.say(f"${m.name} = ${m.value}%.6g ${m.unit}"))
      val metrics = o.metrics.map(m =>
        s""""${m.name}": {"value": ${jsonNum(m.value)}, "unit": "${m.unit}"}""").mkString(", ")
      val result = s"""{"correct": ${o.failed == 0}, "attempted": ${o.attempted}, "failed": ${o.failed}, "metrics": {$metrics}}"""
      Files.write(out, s"""{"result": $result, "report": [${ctx.report.map(jsonString).mkString(", ")}]}"""
        .getBytes("UTF-8"))
    } finally spark.stop()
  }

  private def jsonString(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  private def jsonNum(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}
