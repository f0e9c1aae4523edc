package graft.runner

import org.apache.spark.sql.SparkSession

import graft.sources.{ElectricitySource, ModeratorSource, OpralogSource,
  SharepointSheetSource, StatusDisplaySource}
import graft.tables.{LakeCatalog, Maintenance}
import graft.transform.OpralogModels

/** The `elt` CLI (R7, `elt-common/src/elt_common/cli.py:31-94`):
  * `ls` lists jobs, `run` executes one with domain-qualified ambiguous-name
  * resolution; plus `transform` (the dbt-run equivalent) and `maintain`
  * (R9 cron entry point).
  *
  * Jobs register in [[Cli.jobs]] keyed `{domain}/{name}` — the Scala shape
  * of the reference's `{warehouse}/ingest/{domain}/{source}` directory
  * discovery + convention-loaded `Extract` classes (R1/R2,
  * `pipeline.py:41-68`, `extract.py:144-194`): a registry instead of
  * dynamic class loading.
  */
object Cli {
  /** A runnable ingest job; `run` receives any CLI args after the job name
    * (the reference's per-pipeline argparse flags, e.g. electricity's
    * `--backfill [--backfill-glob]`, `electricity_sharepoint.py:244-248`). */
  final case class Job(domain: String, name: String,
                       run: (SparkSession, LakeCatalog, String, Seq[String]) => Map[String, Long]) {
    def fullName = s"$domain/$name"
    def namespace = s"${domain}_$name"
  }

  /** The reference's full ingest-job matrix, one registry entry per
    * pipeline script under `warehouses/facility_ops_landing/ingest/`.
    * sourceDir convention: `<root>/sources/<domain>/<name>/`. */
  def jobs(root: String): Seq[Job] = Seq(
    Job("accelerator", "opralogweb", (spark, catalog, warehouse, _) =>
      new OpralogSource(spark, s"$root/sources/accelerator/opralogweb")
        .run(catalog, warehouse, "accelerator_opralogweb")),
    Job("accelerator", "statusdisplay", (spark, catalog, warehouse, _) =>
      IngestRunner.runIngest(spark, catalog, warehouse, "accelerator_statusdisplay",
        new StatusDisplaySource(spark,
          s"$root/sources/accelerator/statusdisplay").resources)),
    Job("accelerator", "accelerator_sharepoint", (spark, catalog, warehouse, _) =>
      IngestRunner.runIngest(spark, catalog, warehouse,
        "accelerator_accelerator_sharepoint",
        new SharepointSheetSource(spark,
          s"$root/sources/accelerator/accelerator_sharepoint").resources)),
    // Legacy variant the reference keeps alongside its successor
    // (`ingest/accelerator/sharepoint/sharepoint.py:23-37`): the same two
    // replace-mode sheet resources, landed under its own namespace.
    Job("accelerator", "sharepoint", (spark, catalog, warehouse, _) =>
      IngestRunner.runIngest(spark, catalog, warehouse,
        "accelerator_sharepoint",
        new SharepointSheetSource(spark,
          s"$root/sources/accelerator/sharepoint").resources)),
    Job("estates", "electricity_sharepoint", (spark, catalog, warehouse, args) =>
      IngestRunner.runIngest(spark, catalog, warehouse,
        "estates_electricity_sharepoint",
        new ElectricitySource(spark,
          s"$root/sources/estates/electricity_sharepoint",
          backfill = args.contains("--backfill")).resources)),
    Job("beamlines", "moderator_performance", (spark, catalog, warehouse, args) =>
      IngestRunner.runIngest(spark, catalog, warehouse,
        "beamlines_moderator_performance",
        new ModeratorSource(spark,
          s"$root/sources/beamlines/moderator_performance",
          catalog, warehouse, "beamlines_moderator_performance",
          incremental = !args.contains("--backfill")).resources)))

  /** Ambiguous-name resolution like `cli.py:78-94`: exact full match first,
    * then unique suffix match; ambiguity or no match raise. */
  def findJob(all: Seq[Job], query: String): Job = {
    val exact = all.filter(j => j.fullName == query)
    if (exact.nonEmpty) return exact.head
    val suffix = all.filter(_.name == query)
    suffix match {
      case Seq(one) => one
      case Seq() => throw new IllegalArgumentException(
        s"No ingest job matches '$query'. Available: ${all.map(_.fullName).mkString(", ")}")
      case many => throw new IllegalArgumentException(
        s"Ambiguous job name '$query' matches: ${many.map(_.fullName).mkString(", ")}. " +
          "Qualify with '<domain>/<name>'.")
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local()
    try run(spark, args.toIndexedSeq)
    finally spark.stop()
  }

  def run(spark: SparkSession, args: Seq[String]): Unit = args match {
    case Seq("ls", root) =>
      jobs(root).foreach(j => println(j.fullName))

    case Seq("run", root, jobName, jobArgs @ _*) =>
      val job = findJob(jobs(root), jobName)
      val catalog = new LakeCatalog(s"$root/warehouses")
      val counts = job.run(spark, catalog, "facility_ops_landing", jobArgs.toSeq)
      counts.toSeq.sortBy(_._1).foreach { case (t, n) => println(s"$t: $n rows") }

    // Counts are opt-in (`--counts`): printing them re-materializes every
    // view-backed model once more — fine for a spot check, not a default.
    case Seq("transform", root) =>
      runTransform(spark, root).keys.toSeq.sorted.foreach(m => println(s"$m: built"))
    case Seq("transform", root, "--counts") =>
      val built = runTransform(spark, root)
      built.toSeq.sortBy(_._1).foreach { case (m, df) =>
        println(s"$m: ${df.count()} rows")
      }
    // dbt --full-refresh: incremental models rebuild from scratch instead
    // of merging their delta (views/tables are unaffected — they rebuild
    // every run anyway).
    case Seq("transform", root, "--full-refresh") =>
      runTransform(spark, root, fullRefresh = true).keys.toSeq.sorted
        .foreach(m => println(s"$m: built (full refresh)"))

    // `dbt test` equivalent: data tests over the built models (§5.4).
    case Seq("test", root) =>
      val built = runTransform(spark, root)
      val runnable = graft.transform.DataTests.fullSuite
        .filter { case (model, _, _) => built.contains(model) }
      val results = graft.transform.DataTests.run(built, runnable)
      results.foreach(r => println(
        s"${r.model} ${r.test}: ${if (r.passed) "PASS" else s"FAIL (${r.violations} violations)"}"))
      if (results.exists(!_.passed))
        throw new IllegalStateException("data tests failed")

    case Seq("maintain", root, warehouse, namespace) =>
      maintain(spark, root, warehouse, namespace, "7d")
    case Seq("maintain", root, warehouse, namespace, "-r", retention) =>
      maintain(spark, root, warehouse, namespace, retention)

    // Ad-hoc SQL over the landed warehouses — the reference's DuckDB-attach
    // consumption path (`infra/scripts/duckdb-attach-lakehouses.sh`):
    // `elt sql <root> "SELECT ... FROM lake.<warehouse>.<namespace>.<table>"`.
    case Seq("sql", root, query) =>
      registerSqlCatalog(spark, root)
      spark.sql(query).show(100, truncate = false)

    case other =>
      System.err.println(
        s"""Unknown command: ${other.mkString(" ")}
           |Usage:
           |  ls <root>
           |  run <root> <job> [--backfill]
           |  transform <root> [--counts|--full-refresh]
           |  test <root>
           |  sql <root> "<query>"   (tables as lake.<warehouse>.<namespace>.<table>)
           |  maintain <root> <warehouse> <namespace> [-r <N><d|h|m|s>]""".stripMargin)
      throw new IllegalArgumentException("bad usage")
  }

  /** Register (or re-point) the `lake` SQL catalog over
    * `<root>/warehouses`. Catalog instances are cached by name, so a root
    * change also drops the session's cached catalogs. */
  def registerSqlCatalog(spark: SparkSession, root: String): Unit = {
    val target = s"$root/warehouses"
    if (!spark.conf.getOption("spark.sql.catalog.lake.root").contains(target)) {
      spark.conf.set("spark.sql.catalog.lake", "graft.sql.LakeSparkCatalog")
      spark.conf.set("spark.sql.catalog.lake.root", target)
      org.apache.spark.sql.GraftShims.resetCatalogs(spark)
    }
  }

  /** Run the model graph over whatever landing tables exist; targets are
    * the models whose sources are all present (dbt builds the subgraph the
    * sources support). */
  private def runTransform(spark: SparkSession, root: String,
                           fullRefresh: Boolean = false): Map[String, org.apache.spark.sql.DataFrame] = {
    val catalog = new LakeCatalog(s"$root/warehouses")
    val wh = "facility_ops_landing"
    val sourceTables = Seq(
      ("accelerator_opralogweb", Seq("entries", "chapter_entry", "logbook_chapter",
        "logbooks", "more_entry_columns", "additional_columns")),
      ("accelerator_statusdisplay", Seq("cycles", "cycles__phases")),
      ("accelerator_accelerator_sharepoint",
        Seq("edr_equipment_mapping", "equipment_downtime_data_11_08_24")),
      ("beamlines_moderator_performance", Seq("monitor_peaks")),
      ("estates_electricity_sharepoint", Seq("rdm_data")))
    val sources = (for {
      (ns, tables) <- sourceTables
      tbl <- tables if catalog.tableExists(wh, ns, tbl)
    } yield s"$ns.$tbl" -> catalog.loadTable(spark, wh, ns, tbl).read()).toMap

    // build every model whose transitive sources are all available
    val available = sources.keySet
    val models = OpralogModels.graph
    val buildable = models.topoOrder.filter { name =>
      def ok(n: String): Boolean =
        available.contains(n) || models.modelDeps(n).exists(_.forall(ok))
      ok(name)
    }
    if (buildable.isEmpty) Map.empty
    else OpralogModels.graph.run(spark, sources,
      catalog = Some((catalog, "facility_ops", "accelerator")),
      targets = buildable, fullRefresh = fullRefresh)
  }

  private def maintain(spark: SparkSession, root: String, warehouse: String,
                       namespace: String, retention: String): Unit = {
    val results = Maintenance.runAll(spark, new LakeCatalog(s"$root/warehouses"),
      warehouse, namespace, retention = retention)
    results.foreach(r => println(s"${r.table}: ${if (r.ok) "ok" else "FAILED"} - ${r.detail}"))
  }
}
