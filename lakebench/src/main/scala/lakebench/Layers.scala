package lakebench

/** Every per-layer metric a traced run prints, with its unit. A workload
  * fills the ones its layers touch; the rest print 0, meaning that layer
  * did no work in that workload. */
object Layers {

  /** Spans that carry Spark engine figures. */
  val Spans: Seq[String] = Seq(
    "runner.ingest", "streaming.drain", "transform.run", "maintenance.run",
    "sql.lookup", "sql.range", "sql.scan", "sql.timetravel",
    "curation.quality", "curation.perplexity", "curation.neardup",
    "curation.hostcap", "curation.budget", "curation.mixture",
    "expressions.clean_tokens")

  val EngineFigures: Seq[(String, String)] = Seq(
    "jobs" -> "count", "task_s" -> "s", "shuffle_write_mb" -> "MB",
    "spill_mb" -> "MB", "driver_gap_s" -> "s")

  val SqlClasses: Seq[String] = Seq("lookup", "range", "scan", "timetravel")
  val CurationStages: Seq[String] = Seq("quality", "perplexity", "neardup", "hostcap", "budget", "mixture")

  val Named: Seq[(String, String)] = Seq(
    "runner.ingest_s" -> "s",
    "sources.extract_s" -> "s",
    "streaming.drain_s" -> "s",
    "streaming.batches" -> "count",
    "transform.run_s" -> "s",
    "maintenance.run_s" -> "s",
    "maintenance.bytes_rewritten" -> "B",
    "tables.commits" -> "count",
    "tables.metadata_bytes" -> "B",
    "tables.metadata_growth_bytes" -> "B",
    "tables.merge_rewrite_ratio" -> "ratio",
    "tables.bytes_written_per_input_byte" -> "ratio",
    "tables.metadata_load_s" -> "s",
    "tables.live_files" -> "count",
    "tables.avg_file_kb" -> "KB") ++
    SqlClasses.flatMap(c => Seq(s"sql.plan_s.$c" -> "s", s"sql.exec_s.$c" -> "s",
      s"sql.files_read_ratio.$c" -> "ratio", s"sql.bytes_read.$c" -> "B")) ++
    CurationStages.map(s => s"curation.stage_s.$s" -> "s") ++
    Seq(
      "operators.neardup_pairs" -> "count",
      "operators.neardup_found_ratio" -> "ratio",
      "expressions.clean_tokens_mb_per_s" -> "MB/s",
      "elt.cycle_uncovered_s" -> "s",
      "trace.overhead_s" -> "s",
      "trace.overhead_ratio" -> "ratio")

  val All: Seq[(String, String)] =
    Named ++ Spans.flatMap(s => EngineFigures.map { case (f, u) => s"$s.$f" -> u })

  /** The full per-layer metric list, with `values` filled in. */
  def metrics(values: Map[String, Double]): Seq[Metric] = {
    val unknown = values.keySet -- All.map(_._1)
    require(unknown.isEmpty, s"unregistered per-layer metrics: ${unknown.mkString(", ")}")
    All.map { case (n, u) => Metric(n, values.getOrElse(n, 0.0), u) }
  }

  /** Median engine figures per span name, over that span's instances. */
  def engine(figs: Seq[SpanFigures]): Map[String, Double] =
    figs.groupBy(_.span.name).filter { case (n, _) => Spans.contains(n) }.toSeq.flatMap { case (n, fs) =>
      Seq(s"$n.jobs" -> Stats.median(fs.map(_.jobs.toDouble)),
        s"$n.task_s" -> Stats.median(fs.map(_.taskS)),
        s"$n.shuffle_write_mb" -> Stats.median(fs.map(_.shuffleWriteMb)),
        s"$n.spill_mb" -> Stats.median(fs.map(_.spillMb)),
        s"$n.driver_gap_s" -> Stats.median(fs.map(_.driverGapS)))
    }.toMap

  /** Tracing overhead: median traced operation minus median untraced one. */
  def overhead(tracedOps: Seq[Double], untracedOps: Seq[Double]): Map[String, Double] =
    if (tracedOps.isEmpty || untracedOps.isEmpty) Map.empty
    else {
      val d = Stats.median(tracedOps) - Stats.median(untracedOps)
      Map("trace.overhead_s" -> d, "trace.overhead_ratio" -> d / Stats.median(untracedOps))
    }
}
