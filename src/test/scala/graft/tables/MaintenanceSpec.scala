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

  test("runAll rewrites nothing in a one-file table") {
    val catalog = new LakeCatalog(tmpDir("maint_one_wh"))
    val df = (1L to 20L).map(i => (i, s"n$i")).toDF("id", "name").coalesce(1)
    val t = catalog.ensureTable(spark, "w", "n", "t", df.schema)
    t.write(df, "replace")
    val (version, snapshot) = (t.version, t.metadata.currentSnapshot)
    val Seq(result) = Maintenance.runAll(spark, catalog, "w", "n")
    assert(result.ok, result)
    assert(result.detail.startsWith("nothing to compact;"), result.detail)
    assert(t.version == version && t.metadata.currentSnapshot == snapshot)
  }

  test("reads after RENAME COLUMN and runAll return the rows read before") {
    val catalog = new LakeCatalog(tmpDir("maint_rename_wh"))
    def batch(ids: Range) = ids.map(i => (i.toLong, s"n$i")).toDF("id", "name").coalesce(1)
    // "many" is rewritten by the compaction, "one" is carried as written
    val many = catalog.ensureTable(spark, "w", "n", "many", batch(1 to 2).schema)
    many.write(batch(1 to 10), "append")
    many.write(batch(11 to 20), "append")
    val one = catalog.ensureTable(spark, "w", "n", "one", batch(1 to 2).schema)
    one.write(batch(1 to 10), "append")
    Seq(many, one).foreach(_.renameColumn("name", "label"))
    val before = Seq(many, one).map(_.read().collect().toSet)
    assert(before.forall(_.forall(r => r.getString(1) != null)))
    val results = Maintenance.runAll(spark, catalog, "w", "n")
    assert(results.map(r => r.table -> r.detail.takeWhile(_ != ';')).toMap ==
      Map("many" -> "compacted 1 partition(s)", "one" -> "nothing to compact"), results)
    assert(Seq(many, one).map(_.read().collect().toSet) == before)
    assert(many.read().columns.toSeq == Seq("id", "label"))
  }
}
