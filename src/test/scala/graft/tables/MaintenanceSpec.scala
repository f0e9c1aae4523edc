package graft.tables

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Ports the retention validation of the reference's
  * `iceberg/maintenance/test_table_maintenance.py` (regex `^\d+[dhms]$`,
  * per-table error isolation). */
class MaintenanceSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("retention strings parse to milliseconds") {
    assert(Maintenance.parseRetention("7d") == 7L * 86400000)
    assert(Maintenance.parseRetention("12h") == 12L * 3600000)
    assert(Maintenance.parseRetention("30m") == 30L * 60000)
    assert(Maintenance.parseRetention("45s") == 45000L)
  }

  test("invalid retention strings raise") {
    for (bad <- Seq("7", "d7", "7w", "-1d", "1.5h", "")) {
      intercept[IllegalArgumentException](Maintenance.parseRetention(bad))
    }
  }

  test("dropNamespace purges all tables then the namespace (L7)") {
    val catalog = new LakeCatalog(tmpDir("purge_wh"))
    val df = Seq((1L, "a")).toDF("id", "name")
    catalog.ensureTable(spark, "w", "n", "t1", df.schema).write(df, "append")
    assert(catalog.tableExists("w", "n", "t1"))
    catalog.dropNamespace("w", "n")
    assert(!catalog.namespaceExists("w", "n"))
    assert(!catalog.tableExists("w", "n", "t1"))
  }

  test("runAll maintains every table and isolates per-table failures") {
    val catalog = new LakeCatalog(tmpDir("maint_wh"))
    val (wh, ns) = ("w", "n")
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    catalog.ensureTable(spark, wh, ns, "t1", df.schema).write(df, "append")
    catalog.ensureTable(spark, wh, ns, "t2", df.schema).write(df, "append")
    // a broken table dir: metadata missing
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(catalog.tableLocation(wh, ns, "broken"), "metadata"))

    val results = Maintenance.runAll(spark, catalog, wh, ns)
    assert(results.size == 3)
    assert(results.count(_.ok) == 2)
    assert(results.exists(r => r.table == "broken" && !r.ok))
    assert(catalog.loadTable(spark, wh, ns, "t1").read().count() == 2)
  }

  test("runAll commits nothing to tables with no live data files") {
    val catalog = new LakeCatalog(tmpDir("maint_empty_wh"))
    val df = Seq((1L, "a")).toDF("id", "name")
    // just created by ensure, and a stage with zero survivors (its
    // properties committed, no data snapshot)
    val created = catalog.ensureTable(spark, "w", "n", "created", df.schema)
    val emptied = catalog.ensureTable(spark, "w", "n", "emptied", df.schema)
    emptied.write(df.limit(0), "replace", properties = Map("stage" -> "1"))
    val before = Seq(created.version, emptied.version)
    for (_ <- 1 to 2) {
      val results = Maintenance.runAll(spark, catalog, "w", "n")
      assert(results.forall(_.ok), results)
      assert(Seq(created.version, emptied.version) == before)
    }
    assert(created.metadata.snapshots.isEmpty && emptied.metadata.snapshots.isEmpty)
  }
}
