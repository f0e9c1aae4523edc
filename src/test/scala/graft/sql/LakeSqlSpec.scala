package graft.sql

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.tables.{LakeTable, PartitionField}

/** SQL surface over lake tables: catalog resolution, scan path sharing
  * (one FileSourceScanExec, metadata partition pruning, manifest-bounds
  * file skipping), transactional INSERT INTO / INSERT OVERWRITE, DDL, and
  * VERSION AS OF time travel. */
class LakeSqlSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private lazy val root: String = {
    val r = tmpDir("lake_sql_root")
    spark.conf.set("spark.sql.catalog.lake", classOf[LakeSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.lake.root", r)
    // another suite may have already instantiated a `lake` catalog with a
    // different root — cached instances ignore conf changes
    org.apache.spark.sql.GraftShims.resetCatalogs(spark)
    r
  }

  private def ensureTable(ns: String, name: String): LakeTable = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root, ns))
    LakeTable.ensure(spark, s"$root/$ns/$name",
      Seq((1L, "x", 1.0)).toDF("id", "name", "score").schema)
  }

  test("SELECT over a lake table resolves through the catalog to one scan") {
    val t = ensureTable("ns1", "docs")
    t.write(Seq((1L, "a", 0.5), (2L, "b", 1.5), (3L, "c", 2.5))
      .toDF("id", "name", "score"), "append")
    t.write(Seq((4L, "d", 3.5)).toDF("id", "name", "score"), "append")
    val df = spark.sql("SELECT id, name FROM lake.ns1.docs WHERE score > 1.0 ORDER BY id")
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(2L, 3L, 4L))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Union"))
    assert(plan.contains("FileScan parquet") || plan.contains("FileSourceScan"), plan.take(500))
  }

  test("SQL scan skips files via manifest bounds") {
    val t = ensureTable("ns1", "skippy")
    def batch(ids: Range) = ids.map(i => (i.toLong, s"n$i", i.toDouble)).toDF("id", "name", "score")
    t.write(batch(1 to 10).coalesce(1), "append")
    t.write(batch(11 to 20).coalesce(1), "append")
    val one = spark.sql("SELECT name FROM lake.ns1.skippy WHERE id = 15")
    assert(one.collect().map(_.getString(0)).toSeq == Seq("n15"))
    val scan = one.queryExecution.executedPlan.collectLeaves().collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.get
    assert(scan.metrics("numFiles").value == 1)
  }

  test("SQL partition pruning from metadata partition values") {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root, "ns1"))
    val df = Seq((1L, java.sql.Date.valueOf("2023-06-01"), "a"))
      .toDF("id", "event_date", "name")
    val t = LakeTable.ensure(spark, s"$root/ns1/parted", df.schema,
      partitionSpec = Seq(PartitionField("event_date", "year")))
    (2021 to 2024).foreach(y => t.write(
      Seq((y.toLong, java.sql.Date.valueOf(s"$y-06-01"), s"y$y"))
        .toDF("id", "event_date", "name"), "append"))
    // derived partition columns are not SQL-visible (they are not INSERT
    // targets either — Iceberg semantics); a filter on the SOURCE column
    // file-skips via manifest bounds to the same single file
    val pruned = spark.sql(
      "SELECT name FROM lake.ns1.parted WHERE event_date = DATE'2023-06-01'")
    assert(pruned.collect().map(_.getString(0)).toSeq == Seq("y2023"))
    val scan = pruned.queryExecution.executedPlan.collectLeaves().collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.get
    assert(scan.metrics("numFiles").value == 1)
  }

  test("INSERT INTO with explicit column lists null-fills the rest") {
    root
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.nsi")
    spark.sql("CREATE TABLE lake.nsi.cl (id BIGINT, name STRING, score DOUBLE)")
    spark.sql("INSERT INTO lake.nsi.cl (id, name) VALUES (1, 'a')")
    spark.sql("INSERT INTO lake.nsi.cl (score, id) VALUES (2.5, 2)")
    val got = spark.sql("SELECT * FROM lake.nsi.cl ORDER BY id").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq
    assert(got == Seq((1L, Some("a"), None), (2L, None, Some(2.5))))
  }

  test("DESCRIBE / SHOW TBLPROPERTIES / SHOW CREATE work on lake tables") {
    val t = ensureTable("ns1", "meta1")
    t.writeProperties(Map("owner_team" -> "ops"))
    val desc = spark.sql("DESCRIBE TABLE lake.ns1.meta1").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(desc.get("id").contains("bigint") && desc.get("score").contains("double"))
    val props = spark.sql("SHOW TBLPROPERTIES lake.ns1.meta1").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(props.get("owner_team").contains("ops"))
    val ddl = spark.sql("SHOW CREATE TABLE lake.ns1.meta1").head.getString(0)
    assert(ddl.contains("meta1") && ddl.contains("id BIGINT"), ddl)
  }

  test("CALL lake.system.* runs maintenance procedures through SQL") {
    root
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.nsp")
    spark.sql("CREATE TABLE lake.nsp.m (id BIGINT, name STRING)")
    spark.sql("INSERT INTO lake.nsp.m SELECT id, concat('n', id) FROM range(1, 50)")
    spark.sql("INSERT INTO lake.nsp.m SELECT id, concat('n', id) FROM range(50, 100)")
    val t = LakeTable.load(spark, s"$root/nsp/m")
    assert(t.metadata.currentSnapshot.get.files.size > 1)
    val res = spark.sql(
      "CALL lake.system.compact(`table` => 'nsp.m', target_files => 1)")
    assert(res.collect().map(_.getString(0)).head.contains("compacted"))
    assert(t.metadata.currentSnapshot.get.files.size == 1)
    assert(spark.sql("SELECT count(*) FROM lake.nsp.m").head.getLong(0) == 99)
    // replace leaves orphan candidates once snapshots expire
    spark.sql("INSERT OVERWRITE lake.nsp.m SELECT id, 'x' FROM range(1, 10)")
    spark.sql("CALL lake.system.expire_snapshots(`table` => 'nsp.m', retention => '0s')")
    // default 3d grace window keeps the fresh orphans
    val kept = spark.sql("CALL lake.system.remove_orphan_files(`table` => 'nsp.m')")
      .head.getString(0)
    assert(kept.startsWith("removed 0 orphan"), kept)
    val orph = spark.sql(
      "CALL lake.system.remove_orphan_files(`table` => 'nsp.m', older_than => '0s')")
      .head.getString(0)
    assert(orph.matches("removed [1-9]\\d* orphan file\\(s\\).*"), orph)
    assert(spark.sql("SELECT count(*) FROM lake.nsp.m").head.getLong(0) == 9)
    val e = intercept[Exception](spark.sql("CALL lake.system.nope()"))
    assert(e.getMessage.contains("Failed to load routine"), e.getMessage)
    // metadata-history compaction: the INSERTs above left a v*.json per
    // commit; keep only the last 2
    val meta = spark.sql(
      "CALL lake.system.expire_metadata(`table` => 'nsp.m', keep_versions => 2)")
      .head.getString(0)
    assert(meta.matches("removed [1-9]\\d* metadata version file\\(s\\).*"), meta)
    assert(spark.sql("SELECT count(*) FROM lake.nsp.m").head.getLong(0) == 9)
  }

  test("CALL lake.system.history lists the commit log; ids work in VERSION AS OF") {
    root
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.nsh")
    spark.sql("CREATE TABLE lake.nsh.h (id BIGINT)")
    spark.sql("INSERT INTO lake.nsh.h SELECT id FROM range(0, 5)")
    spark.sql("INSERT INTO lake.nsh.h SELECT id FROM range(5, 9)")
    val hist = spark.sql("CALL lake.system.history(`table` => 'nsh.h')")
      .collect()
    assert(hist.map(_.getString(2)).toSeq == Seq("append", "append"))
    assert(hist.map(_.getInt(0)).toSeq == Seq(0, 1))
    assert(hist.last.getBoolean(5) && !hist.head.getBoolean(5))
    // time travel to the first snapshot id listed
    val firstId = hist.head.getLong(1)
    val n = spark.sql(s"SELECT count(*) FROM lake.nsh.h VERSION AS OF $firstId")
      .head.getLong(0)
    assert(n == 5)
  }

  test("CALL lake.system.files exposes the manifest: rows, sizes, bounds") {
    root
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.nsf")
    spark.sql("CREATE TABLE lake.nsf.f (id BIGINT, v STRING)")
    spark.sql("INSERT INTO lake.nsf.f VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO lake.nsf.f VALUES (30, 'z')")
    val files = spark.sql("CALL lake.system.files(`table` => 'nsf.f')").collect()
    assert(files.length >= 2)
    assert(files.map(_.getLong(1)).sum == 3) // row counts
    assert(files.forall(_.getLong(2) > 0)) // real byte sizes
    // bounds string carries the id range the pruner uses
    val allBounds = files.map(_.getString(4)).mkString(" ")
    assert(allBounds.contains("id:[") && allBounds.contains("30"))
  }

  test("CALL lake.system.rollback_to_snapshot restores through SQL") {
    root
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.nsr")
    spark.sql("CREATE TABLE lake.nsr.rb (id BIGINT)")
    spark.sql("INSERT INTO lake.nsr.rb SELECT id FROM range(0, 5)")
    val good = spark.sql("CALL lake.system.history(`table` => 'nsr.rb')")
      .collect().last.getLong(1)
    spark.sql("INSERT INTO lake.nsr.rb SELECT id FROM range(100, 200)")
    assert(spark.sql("SELECT count(*) FROM lake.nsr.rb").head.getLong(0) == 105)
    spark.sql(
      s"CALL lake.system.rollback_to_snapshot(`table` => 'nsr.rb', snapshot_id => $good)")
    assert(spark.sql("SELECT count(*) FROM lake.nsr.rb").head.getLong(0) == 5)
    val ops = spark.sql("CALL lake.system.history(`table` => 'nsr.rb')")
      .collect().map(_.getString(2)).toSeq
    assert(ops == Seq("append", "append", "rollback"))
  }

  test("ALTER TABLE ADD/DROP COLUMN are metadata-only schema commits") {
    root
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.nsd")
    spark.sql("CREATE TABLE lake.nsd.ddl (id BIGINT, name STRING)")
    spark.sql("INSERT INTO lake.nsd.ddl VALUES (1, 'a'), (2, 'b')")
    val filesBefore = LakeTable.load(spark, s"$root/nsd/ddl")
      .metadata.currentSnapshot.get.files.map(_.path).toSet
    spark.sql("ALTER TABLE lake.nsd.ddl ADD COLUMNS (score DOUBLE)")
    // old files are untouched; the new column null-fills on read
    assert(LakeTable.load(spark, s"$root/nsd/ddl")
      .metadata.currentSnapshot.get.files.map(_.path).toSet == filesBefore)
    val got = spark.sql("SELECT id, name, score FROM lake.nsd.ddl ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.isNullAt(2))).toSeq
    assert(got == Seq((1L, "a", true), (2L, "b", true)))
    spark.sql("INSERT INTO lake.nsd.ddl VALUES (3, 'c', 3.5)")
    assert(spark.sql("SELECT score FROM lake.nsd.ddl WHERE id = 3")
      .head.getDouble(0) == 3.5)
    // DROP projects the physical column away on every read
    spark.sql("ALTER TABLE lake.nsd.ddl DROP COLUMN name")
    assert(spark.sql("SELECT * FROM lake.nsd.ddl").columns.toSeq == Seq("id", "score"))
  }

  test("ALTER TABLE RENAME COLUMN: name-mapping keeps old files readable") {
    root
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.nsrn")
    spark.sql("CREATE TABLE lake.nsrn.rn (id BIGINT, val STRING)")
    spark.sql("INSERT INTO lake.nsrn.rn VALUES (1, 'a'), (2, 'b')")
    val filesBefore = LakeTable.load(spark, s"$root/nsrn/rn")
      .metadata.currentSnapshot.get.files.map(_.path).toSet
    spark.sql("ALTER TABLE lake.nsrn.rn RENAME COLUMN val TO label")
    // metadata-only: the pre-rename files are untouched on disk
    val metaAfter = LakeTable.load(spark, s"$root/nsrn/rn").metadata
    assert(metaAfter.currentSnapshot.get.files.map(_.path).toSet == filesBefore)
    assert(metaAfter.properties.contains(
      graft.tables.TableMetadata.NameMappingProp))
    // old files' values surface under the NEW name (scan-time mapping)
    assert(spark.sql("SELECT id, label FROM lake.nsrn.rn ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b")))
    // new writes land under the new physical name and mix with old files
    spark.sql("INSERT INTO lake.nsrn.rn VALUES (3, 'c')")
    assert(spark.sql(
        "SELECT label FROM lake.nsrn.rn WHERE id IN (1, 3) ORDER BY id")
      .collect().map(_.getString(0)).toSeq == Seq("a", "c"))
    // filters on the renamed column see both file generations
    assert(spark.sql(
      "SELECT count(*) FROM lake.nsrn.rn WHERE label IN ('a','c')")
      .head.getLong(0) == 2L)
    // the programmatic read path applies the same mapping
    val t = LakeTable.load(spark, s"$root/nsrn/rn")
    assert(t.read().columns.toSeq == Seq("id", "label"))
    assert(t.read().where("label = 'b'").count() == 1L)
    // chained rename: aliases follow the column
    spark.sql("ALTER TABLE lake.nsrn.rn RENAME COLUMN label TO tag")
    assert(spark.sql("SELECT tag FROM lake.nsrn.rn ORDER BY id")
      .collect().map(_.getString(0)).toSeq == Seq("a", "b", "c"))
    // time travel to a pre-rename snapshot reads the OLD schema with the
    // old name as a real physical column (no aliasing applies there)
    val firstSnap = metaAfter.snapshots.head.id
    val at = LakeTable.load(spark, s"$root/nsrn/rn").readAt(firstSnap)
    assert(at.columns.toSeq == Seq("id", "val"))
    assert(at.where("val = 'a'").count() == 1L)
    // retired physical names cannot be re-introduced (old files still
    // carry them; a new column of that name would bleed their values)
    val e1 = intercept[Exception](
      spark.sql("ALTER TABLE lake.nsrn.rn ADD COLUMNS (val STRING)"))
    assert(e1.getMessage.contains("retired"), e1.getMessage)
    val e2 = intercept[Exception](
      spark.sql("ALTER TABLE lake.nsrn.rn RENAME COLUMN id TO label"))
    assert(e2.getMessage.contains("retired"), e2.getMessage)
  }

  test("DROP COLUMN retires the name (and its rename aliases) forever") {
    root
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.nsdr")
    spark.sql("CREATE TABLE lake.nsdr.dr (id BIGINT, val STRING, note STRING)")
    spark.sql("INSERT INTO lake.nsdr.dr VALUES (1, 'a', 'n1'), (2, 'b', 'n2')")
    spark.sql("ALTER TABLE lake.nsdr.dr RENAME COLUMN val TO label")
    spark.sql("ALTER TABLE lake.nsdr.dr DROP COLUMN label")
    // the drop purged the rename-mapping entry keyed by the dropped column
    val meta = LakeTable.load(spark, s"$root/nsdr/dr").metadata
    assert(!graft.tables.TableMetadata.parseNameMapping(meta.properties)
      .keys.exists(_.equalsIgnoreCase("label")))
    // re-adding the dropped name (the old mapping KEY) is rejected — old
    // files physically carry 'label'/'val'; a new 'label' column would
    // resurrect their bytes
    val e1 = intercept[Exception](
      spark.sql("ALTER TABLE lake.nsdr.dr ADD COLUMNS (label STRING)"))
    assert(e1.getMessage.contains("retired"), e1.getMessage)
    // ... and so is renaming an existing column ONTO the dropped name
    val e2 = intercept[Exception](
      spark.sql("ALTER TABLE lake.nsdr.dr RENAME COLUMN note TO label"))
    assert(e2.getMessage.contains("retired"), e2.getMessage)
    // the chain's physical olds stay retired too
    val e3 = intercept[Exception](
      spark.sql("ALTER TABLE lake.nsdr.dr ADD COLUMNS (val STRING)"))
    assert(e3.getMessage.contains("retired"), e3.getMessage)
    // a plain (never-renamed) dropped column is equally unreusable
    spark.sql("ALTER TABLE lake.nsdr.dr DROP COLUMN note")
    val e4 = intercept[Exception](
      spark.sql("ALTER TABLE lake.nsdr.dr ADD COLUMNS (note STRING)"))
    assert(e4.getMessage.contains("retired"), e4.getMessage)
    // the table remains fully readable after the drops
    assert(spark.sql("SELECT id FROM lake.nsdr.dr ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
  }

  test("time travel to a mid-chain snapshot aliases through the rename chain") {
    root
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.nsmc")
    spark.sql("CREATE TABLE lake.nsmc.mc (id BIGINT, val STRING)")
    spark.sql("INSERT INTO lake.nsmc.mc VALUES (1, 'a')") // file carries 'val'
    spark.sql("ALTER TABLE lake.nsmc.mc RENAME COLUMN val TO label")
    spark.sql("INSERT INTO lake.nsmc.mc VALUES (2, 'b')") // file carries 'label'
    val midSnap = LakeTable.load(spark, s"$root/nsmc/mc")
      .metadata.currentSnapshotId
    spark.sql("ALTER TABLE lake.nsmc.mc RENAME COLUMN label TO tag")
    spark.sql("INSERT INTO lake.nsmc.mc VALUES (3, 'c')") // file carries 'tag'
    // the middle snapshot's schema names the column 'label'; its files
    // physically carry 'val' (pre-first-rename) and 'label' — the current
    // mapping (tag -> [val, label]) must resolve 'label' to the olds that
    // PRECEDE it in the chain, not return NULL for the 'val'-era file
    val at = LakeTable.load(spark, s"$root/nsmc/mc").readAt(midSnap)
    assert(at.columns.toSeq == Seq("id", "label"))
    assert(at.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
      .toSeq == Seq(1L -> "a", 2L -> "b"))
    // current read still sees all three generations under 'tag'
    assert(spark.sql("SELECT tag FROM lake.nsmc.mc ORDER BY id")
      .collect().map(_.getString(0)).toSeq == Seq("a", "b", "c"))
  }

  test("general MERGE INTO: conditional update/delete, explicit insert, by-source") {
    root
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.nsm")
    spark.sql("CREATE TABLE lake.nsm.gm (id BIGINT, name STRING, score DOUBLE)")
    spark.sql("""INSERT INTO lake.nsm.gm VALUES
      (1, 'a', 10.0), (2, 'b', 20.0), (3, 'c', 30.0), (4, 'd', 40.0)""")
    Seq((2L, "B", 25.0), (3L, "C", -1.0), (9L, "I", 90.0), (10L, "J", -5.0))
      .toDF("id", "name", "score").createOrReplaceTempView("gm_src")
    spark.sql("""
      MERGE INTO lake.nsm.gm AS t USING gm_src AS s ON t.id = s.id
      WHEN MATCHED AND s.score < 0 THEN DELETE
      WHEN MATCHED THEN UPDATE SET name = s.name, score = t.score + s.score
      WHEN NOT MATCHED AND s.score > 0 THEN INSERT (id, name) VALUES (s.id, s.name)
      WHEN NOT MATCHED BY SOURCE AND t.id = 4 THEN UPDATE SET score = t.score * 10
    """)
    val got = spark.sql("SELECT * FROM lake.nsm.gm ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getDouble(2))).toSeq
    assert(got == Seq(
      (1L, "a", 10.0),   // by-source, condition false -> kept
      (2L, "B", 45.0),   // matched update
      (4L, "d", 400.0),  // by-source update
      (9L, "I", null)))  // explicit-column insert, score NULL
      // 3 deleted (matched, score<0), 10 not inserted (score<0)
  }

  test("SQL point lookup on a bucket-partitioned table prunes to one bucket") {
    root
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.nsb")
    spark.sql("""CREATE TABLE lake.nsb.bucketed (id BIGINT, name STRING)
                 PARTITIONED BY (bucket(8, id))""")
    spark.sql("INSERT INTO lake.nsb.bucketed " +
      "SELECT id, concat('n', id) FROM range(1, 201)")
    val files = LakeTable.load(spark, s"$root/nsb/bucketed")
      .metadata.currentSnapshot.get.files
    assert(files.size >= 8) // one-plus file per bucket dir
    val one = spark.sql("SELECT name FROM lake.nsb.bucketed WHERE id = 57")
    assert(one.collect().map(_.getString(0)).toSeq == Seq("n57"))
    val scan = one.queryExecution.executedPlan.collectLeaves().collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.get
    // expected: files in id=57's bucket dir AND whose id range contains 57
    // (bucket projection composes with manifest-bounds skipping)
    val b57 = spark.range(1).select(pmod(xxhash64(lit(57L)), lit(8)).cast("int"))
      .head.getInt(0).toString
    val expect = files.count(f =>
      f.partitionValues.get("id_bucket").contains(Some(b57)) &&
        f.stats.get("id").exists(cs =>
          cs.min.exists(_.toLong <= 57) && cs.max.exists(_.toLong >= 57)))
    val inBucket = files.count(_.partitionValues.get("id_bucket").contains(Some(b57)))
    assert(scan.metrics("numFiles").value == expect)
    assert(expect < inBucket || inBucket < files.size) // pruning really bit
  }

  test("identity-partitioned table: SQL reads remap partition columns by name") {
    root
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.ns3")
    // identity partition col sits in the MIDDLE of the declared schema but
    // at the END of the physical relation layout — reads must remap
    spark.sql("CREATE TABLE lake.ns3.idp (id BIGINT, region STRING, v DOUBLE) " +
      "PARTITIONED BY (region)")
    spark.sql("INSERT INTO lake.ns3.idp VALUES (1, 'eu', 1.5), (2, 'us', 2.5)")
    val rows = spark.sql("SELECT id, region, v FROM lake.ns3.idp ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(rows.toSeq == Seq((1L, "eu", 1.5), (2L, "us", 2.5)))
    // partition pruning on the identity column
    val pruned = spark.sql("SELECT id FROM lake.ns3.idp WHERE region = 'eu'")
    assert(pruned.collect().map(_.getLong(0)).toSeq == Seq(1L))
    val scan = pruned.queryExecution.executedPlan.collectLeaves().collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.get
    assert(scan.metrics("numFiles").value == 1)
    // DML on a partitioned table through SQL: a partition predicate
    // touches only that partition's files — the other partition carries
    // into the new snapshot verbatim
    val euFiles = LakeTable.load(spark, s"$root/ns3/idp").metadata
      .currentSnapshot.get.files
      .filter(_.partitionValues.get("region").contains(Some("eu"))).map(_.path)
    assert(euFiles.nonEmpty)
    spark.sql("UPDATE lake.ns3.idp SET v = v * 10 WHERE region = 'us'")
    assert(spark.sql("SELECT v FROM lake.ns3.idp WHERE id = 2").head().getDouble(0) == 25.0)
    val afterUpdate = LakeTable.load(spark, s"$root/ns3/idp").metadata
      .currentSnapshot.get.files.map(_.path)
    assert(euFiles.forall(afterUpdate.contains)) // eu partition untouched
    spark.sql("DELETE FROM lake.ns3.idp WHERE region = 'eu'")
    assert(spark.sql("SELECT count(*) FROM lake.ns3.idp").head().getLong(0) == 1)
  }

  test("INSERT INTO appends a snapshot; INSERT OVERWRITE replaces") {
    val t = ensureTable("ns1", "ins")
    spark.sql("INSERT INTO lake.ns1.ins VALUES (1, 'a', 1.0), (2, 'b', 2.0)")
    assert(spark.sql("SELECT count(*) FROM lake.ns1.ins").head().getLong(0) == 2)
    // the write went through the commit protocol, not a raw parquet write
    val meta1 = LakeTable.load(spark, s"$root/ns1/ins").metadata
    assert(meta1.currentSnapshot.get.operation == "append")
    assert(meta1.currentSnapshot.get.files.forall(_.stats.nonEmpty))
    spark.sql("INSERT OVERWRITE lake.ns1.ins VALUES (9, 'z', 9.0)")
    val out = spark.sql("SELECT id, name FROM lake.ns1.ins").collect()
    assert(out.length == 1 && out.head.getLong(0) == 9L)
    assert(LakeTable.load(spark, s"$root/ns1/ins").metadata
      .currentSnapshot.get.operation == "replace")
  }

  test("CREATE TABLE with partition transforms; DROP; SHOW TABLES") {
    root // force catalog registration
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.ns2")
    spark.sql("CREATE TABLE lake.ns2.created (id BIGINT, ts TIMESTAMP, v STRING) " +
      "PARTITIONED BY (years(ts))")
    val meta = LakeTable.load(spark, s"$root/ns2/created").metadata
    assert(meta.partitionSpec == Seq(PartitionField("ts", "year")))
    spark.sql("INSERT INTO lake.ns2.created VALUES " +
      "(1, timestamp'2022-03-04 05:06:07', 'a'), (2, timestamp'2023-03-04 05:06:07', 'b')")
    assert(spark.sql(
      "SELECT v FROM lake.ns2.created WHERE ts < timestamp'2023-01-01 00:00:00'")
      .collect().map(_.getString(0)).toSeq == Seq("a"))
    val listed = spark.sql("SHOW TABLES IN lake.ns2").collect().map(_.getString(1))
    assert(listed.contains("created"))
    spark.sql("DROP TABLE lake.ns2.created")
    assert(!LakeTable.exists(s"$root/ns2/created"))
  }

  test("VERSION AS OF reads a pinned snapshot with its schema") {
    val t = ensureTable("ns1", "tt")
    t.write(Seq((1L, "a", 1.0)).toDF("id", "name", "score"), "append")
    val snap1 = t.metadata.currentSnapshotId
    t.write(Seq((2L, "b", 2.0)).toDF("id", "name", "score"), "append")
    assert(spark.sql("SELECT count(*) FROM lake.ns1.tt").head().getLong(0) == 2)
    assert(spark.sql(s"SELECT count(*) FROM lake.ns1.tt VERSION AS OF $snap1")
      .head().getLong(0) == 1)
    // TIMESTAMP AS OF: pick the snapshot current at that moment
    val snap1Ts = LakeTable.load(spark, s"$root/ns1/tt").metadata
      .snapshots.find(_.id == snap1).get.timestampMs
    val asOf = java.time.Instant.ofEpochMilli(snap1Ts)
    assert(spark.sql(
      s"SELECT count(*) FROM lake.ns1.tt TIMESTAMP AS OF '$asOf'")
      .head().getLong(0) == 1)
  }

  test("joins and aggregates over two lake tables via pure SQL") {
    val a = ensureTable("ns1", "facts")
    a.write(Seq((1L, "x", 10.0), (2L, "y", 20.0), (3L, "x", 30.0))
      .toDF("id", "name", "score"), "append")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root, "ns1"))
    val d = LakeTable.ensure(spark, s"$root/ns1/dims",
      Seq(("x", "Ex")).toDF("name", "label").schema)
    d.write(Seq(("x", "Ex"), ("y", "Why")).toDF("name", "label"), "append")
    val df = spark.sql(
      """SELECT d.label, sum(f.score) AS total
        |FROM lake.ns1.facts f JOIN lake.ns1.dims d ON f.name = d.name
        |GROUP BY d.label ORDER BY d.label""".stripMargin)
    val out = df.collect()
    assert(out.map(r => (r.getString(0), r.getDouble(1))).toSeq ==
      Seq(("Ex", 40.0), ("Why", 20.0)))
    // manifest sizeInBytes feeds join planning: the small side broadcasts
    assert(df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
  }

  test("replace, merge and INSERT OVERWRITE evaluate their source plan once") {
    val evaluated = spark.sparkContext.longAccumulator("source rows evaluated")
    val counted = udf { (_: Long) => evaluated.add(1); true }.asNondeterministic()
    // a range source: a filter over local rows would be folded by the
    // optimizer on the driver, once per planned query
    def src(from: Long, until: Long) = spark.range(from, until)
      .select(col("id"), concat(lit("n"), col("id").cast("string")).as("name"),
        col("id").cast("double").as("score"))
      .filter(counted(col("id")))
    def once(rows: Long)(write: => Unit): Unit = {
      evaluated.reset()
      write
      assert(evaluated.value == rows, s"$rows source rows evaluated ${evaluated.value} times")
    }
    val t = ensureTable("ns1", "once")
    once(3)(t.write(src(1, 4), "replace"))
    once(2)(t.write(src(3, 5), "merge", Seq("id"))) // touches a file: joins
    val fresh = ensureTable("ns1", "once_fresh")
    once(2)(fresh.write(src(1, 3), "merge", Seq("id"))) // into an empty table
    src(10, 14).createOrReplaceTempView("once_src")
    once(4)(spark.sql("INSERT OVERWRITE lake.ns1.once SELECT * FROM once_src"))
    assert(spark.sql("SELECT id FROM lake.ns1.once ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == (10L to 13L))
    assert(fresh.read().count() == 2)
  }

  test("MERGE INTO runs the transactional upsert (copy-on-write)") {
    val t = ensureTable("ns1", "mrg")
    t.write(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
      .toDF("id", "name", "score"), "append")
    Seq((2L, "B2", 20.0), (4L, "d", 4.0)).toDF("id", "name", "score")
      .createOrReplaceTempView("mrg_src")
    spark.sql(
      """MERGE INTO lake.ns1.mrg AS t USING mrg_src AS s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val out = spark.sql("SELECT id, name FROM lake.ns1.mrg ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out == Seq((1L, "a"), (2L, "B2"), (3L, "c"), (4L, "d")))
    // went through the commit protocol as a merge snapshot
    assert(LakeTable.load(spark, s"$root/ns1/mrg").metadata
      .currentSnapshot.get.operation == "merge")
    // duplicate source keys trip the in-plan guard, no partial commit
    Seq((9L, "x", 1.0), (9L, "y", 2.0)).toDF("id", "name", "score")
      .createOrReplaceTempView("mrg_dup")
    val e = intercept[Exception](spark.sql(
      """MERGE INTO lake.ns1.mrg t USING mrg_dup s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
    assert(e.getMessage.contains("Duplicate rows in merge source"))
    assert(spark.sql("SELECT count(*) FROM lake.ns1.mrg").head().getLong(0) == 4)
  }

  test("MERGE INTO matched-delete-only works; non-equi condition still rejects") {
    val t = ensureTable("ns1", "mrg2")
    t.write(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "name", "score"), "append")
    Seq((1L, "z", 9.0)).toDF("id", "name", "score")
      .createOrReplaceTempView("mrg2_src")
    spark.sql(
      """MERGE INTO lake.ns1.mrg2 t USING mrg2_src s ON t.id = s.id
        |WHEN MATCHED THEN DELETE""".stripMargin)
    assert(spark.sql("SELECT id FROM lake.ns1.mrg2").collect()
      .map(_.getLong(0)).toSeq == Seq(2L))
    val e2 = intercept[Exception](spark.sql(
      """MERGE INTO lake.ns1.mrg2 t USING mrg2_src s ON t.id < s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
    assert(e2.getMessage.contains("conjunction"), e2.getMessage)
  }

  test("DELETE FROM and UPDATE run copy-on-write row-level operations") {
    val t = ensureTable("ns1", "dml")
    t.write((1 to 20).map(i => (i.toLong, s"n$i", i.toDouble))
      .toDF("id", "name", "score"), "append")
    spark.sql("DELETE FROM lake.ns1.dml WHERE id % 5 = 0")
    assert(spark.sql("SELECT count(*) FROM lake.ns1.dml").head().getLong(0) == 16)
    assert(LakeTable.load(spark, s"$root/ns1/dml").metadata
      .currentSnapshot.get.operation == "delete")
    spark.sql("UPDATE lake.ns1.dml SET score = score * 2, name = upper(name) " +
      "WHERE id = 7")
    val r = spark.sql("SELECT name, score FROM lake.ns1.dml WHERE id = 7").head()
    assert(r.getString(0) == "N7" && r.getDouble(1) == 14.0)
    assert(spark.sql("SELECT count(*) FROM lake.ns1.dml WHERE name = upper(name)")
      .head().getLong(0) == 1)
    // subqueries in DML predicates are rejected with a clear error
    val e = intercept[Exception](spark.sql(
      "DELETE FROM lake.ns1.dml WHERE id IN (SELECT id FROM lake.ns1.dml)"))
    assert(e.getMessage.contains("subqueries"), e.getMessage)
  }

  test("CTAS creates and populates a lake table") {
    val t = ensureTable("ns1", "src_ctas")
    t.write(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "name", "score"), "append")
    spark.sql("CREATE TABLE lake.ns1.dst_ctas AS " +
      "SELECT id, upper(name) AS uname FROM lake.ns1.src_ctas")
    assert(spark.sql("SELECT uname FROM lake.ns1.dst_ctas ORDER BY id")
      .collect().map(_.getString(0)).toSeq == Seq("A", "B"))
    assert(LakeTable.load(spark, s"$root/ns1/dst_ctas").metadata
      .currentSnapshot.get.files.forall(_.stats.nonEmpty))
  }
}
