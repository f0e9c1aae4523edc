package graft.tables

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Write-mode / evolution / partition / sort matrix mirroring the
  * reference's `iceberg/test_io.py:50-186` and e2e partition expectations
  * (`tests/e2e_tests/.../utils.py:45-127`). */
class LakeTableSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def names(loc: String): Seq[String] =
    LakeTable.load(spark, loc).read().as[(Long, String)].collect().toSeq.map(_._2).sorted

  test("append accumulates rows across commits (duplicates kept)") {
    val loc = tmpDir("lt_append")
    val t = LakeTable.ensure(spark, loc, Seq((1L, "a")).toDF("id", "name").schema)
    t.write(Seq((1L, "a"), (2L, "b")).toDF("id", "name"), "append")
    t.write(Seq((2L, "b"), (3L, "c")).toDF("id", "name"), "append")
    assert(names(loc) == Seq("a", "b", "b", "c"))
  }

  test("replace truncates then writes") {
    val loc = tmpDir("lt_replace")
    val df1 = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    val t = LakeTable.ensure(spark, loc, df1.schema)
    t.write(df1, "append")
    t.write(Seq((9L, "z")).toDF("id", "name"), "replace")
    assert(names(loc) == Seq("z"))
  }

  test("merge updates matched rows and inserts unmatched (upsert)") {
    val loc = tmpDir("lt_merge")
    val df1 = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    val t = LakeTable.ensure(spark, loc, df1.schema)
    t.write(df1, "append")
    t.write(Seq((2L, "B2"), (3L, "c")).toDF("id", "name"), "merge", mergeOn = Seq("id"))
    val out = LakeTable.load(spark, loc).read().as[(Long, String)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((1L, "a"), (2L, "B2"), (3L, "c")))
  }

  test("merge with duplicate source keys raises (PyIceberg upsert parity)") {
    val loc = tmpDir("lt_merge_dup")
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    val t = LakeTable.ensure(spark, loc, df.schema)
    t.write(df, "append")
    val e = intercept[IllegalArgumentException] {
      t.write(Seq((3L, "x"), (3L, "y")).toDF("id", "name"), "merge", mergeOn = Seq("id"))
    }
    assert(e.getMessage.contains("Duplicate rows"))
    assert(names(loc) == Seq("a", "b")) // table unchanged
  }

  test("time travel: readAt returns a retained snapshot; expired ids raise") {
    val loc = tmpDir("lt_timetravel")
    val t = LakeTable.ensure(spark, loc, Seq((1L, "a")).toDF("id", "name").schema)
    t.write(Seq((1L, "a")).toDF("id", "name"), "append")
    val snap1 = LakeTable.load(spark, loc).metadata.currentSnapshotId
    t.write(Seq((2L, "b")).toDF("id", "name"), "append")
    assert(LakeTable.load(spark, loc).read().count() == 2)
    assert(LakeTable.load(spark, loc).readAt(snap1).count() == 1)
    // expiry drops the old snapshot -> readAt raises (future nowMs so the
    // cutoff is unambiguously past both snapshot timestamps)
    LakeTable.load(spark, loc).expireSnapshots(olderThanMs = 0,
      nowMs = System.currentTimeMillis() + 60000)
    intercept[IllegalArgumentException](LakeTable.load(spark, loc).readAt(snap1))
  }

  test("rollback: new commit restores the old file list; no data moves") {
    val loc = tmpDir("lt_rollback")
    val t = LakeTable.ensure(spark, loc, Seq((1L, "a")).toDF("id", "name").schema)
    t.write(Seq((1L, "a")).toDF("id", "name"), "append")
    val good = LakeTable.load(spark, loc).metadata.currentSnapshotId
    t.write(Seq((2L, "junk")).toDF("id", "name"), "append")
    t.write(Seq((3L, "junk2")).toDF("id", "name"), "append")
    assert(LakeTable.load(spark, loc).read().count() == 3)
    LakeTable.load(spark, loc).rollbackTo(good)
    val after = LakeTable.load(spark, loc)
    assert(after.read().collect().map(_.getString(1)).toSeq == Seq("a"))
    // history preserved: rollback is a NEW commit, bad commits stay for audit
    val meta = after.metadata
    assert(meta.snapshots.map(_.operation) ==
      Seq("append", "append", "append", "rollback"))
    assert(meta.currentSnapshot.get.files ==
      meta.snapshots.find(_.id == good).get.files)
    // unknown snapshot raises; GC'd data fails loudly instead of committing
    intercept[IllegalArgumentException](after.rollbackTo(999L))
  }

  test("rollback keeps the current schema (later column adds stay)") {
    val loc = tmpDir("lt_rollback_schema")
    val t = LakeTable.ensure(spark, loc, Seq((1L, "a")).toDF("id", "name").schema)
    t.write(Seq((1L, "a")).toDF("id", "name"), "append")
    val good = LakeTable.load(spark, loc).metadata.currentSnapshotId
    t.addColumns(Seq(org.apache.spark.sql.types.StructField("extra",
      org.apache.spark.sql.types.LongType)))
    LakeTable.load(spark, loc).rollbackTo(good)
    val out = LakeTable.load(spark, loc).read()
    assert(out.columns.toSeq == Seq("id", "name", "extra"))
    assert(out.collect().head.isNullAt(2)) // old file null-fills
  }

  test("changesBetween reads exactly the appended files; rewrites fail loudly") {
    val loc = tmpDir("lt_changes")
    val t = LakeTable.ensure(spark, loc, Seq((1L, "a")).toDF("id", "name").schema)
    t.write(Seq((1L, "a")).toDF("id", "name"), "append")
    val s1 = LakeTable.load(spark, loc).metadata.currentSnapshotId
    t.write(Seq((2L, "b"), (3L, "c")).toDF("id", "name"), "append")
    val s2 = LakeTable.load(spark, loc).metadata.currentSnapshotId
    val delta = LakeTable.load(spark, loc).changesBetween(s1, s2)
    assert(delta.collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
    // same snapshot on both sides: empty, with the table schema
    val none = LakeTable.load(spark, loc).changesBetween(s2, s2)
    assert(none.count() == 0 && none.columns.toSeq == Seq("id", "name"))
    // reversed order is rejected
    intercept[IllegalArgumentException](
      LakeTable.load(spark, loc).changesBetween(s2, s1))
    // a replace rewrites files -> diff no longer means new rows
    t.write(Seq((9L, "z")).toDF("id", "name"), "replace")
    val s3 = LakeTable.load(spark, loc).metadata.currentSnapshotId
    intercept[IllegalStateException](
      LakeTable.load(spark, loc).changesBetween(s1, s3))
    val forced = LakeTable.load(spark, loc).changesBetween(s1, s3,
      ignoreChanges = true)
    assert(forced.collect().map(_.getLong(0)).toSeq == Seq(9L))
  }

  test("footer-derived manifest stats: exact where promised, absent where unsound") {
    // The r15 footer-first stats path takes bounds only where parquet's
    // statistics order provably equals FileStats' decode-and-compare
    // order. Exact: longs, booleans, dates, timestamps (Spark writes
    // INT64 MICROS under the session's outputTimestampType default here),
    // ASCII strings. Deliberately ABSENT (reads as "may match"):
    // doubles (parquet stats exclude NaN; Spark max() ranks NaN greatest),
    // non-ASCII strings (byte order vs UTF-16 order diverge), strings
    // past MaxStringBound, and all-null columns keep exact null counts.
    val loc = tmpDir("lt_footer_stats")
    val rows = Seq(
      (1L, "apple", 1.5, Some("é-accented"), Option.empty[String], "x" * 80, java.sql.Date.valueOf("2020-01-02"), true),
      (7L, "zebra", Double.NaN, Some("plain"), Option.empty[String], "y" * 80, java.sql.Date.valueOf("2021-03-04"), false))
    val df = rows.toDF("id", "s", "d", "u", "nul", "long_s", "dt", "b")
    val t = LakeTable.ensure(spark, loc, df.schema)
    t.write(df.coalesce(1), "append")
    val f = t.metadata.currentSnapshot.get.files.head
    assert(f.rowCount == 2L)
    assert(f.stats("id") == ColumnStats(Some("1"), Some("7"), 0L, 2L))
    assert(f.stats("s") == ColumnStats(Some("apple"), Some("zebra"), 0L, 2L))
    assert(f.stats("b") == ColumnStats(Some("0"), Some("1"), 0L, 2L))
    assert(f.stats("dt") == ColumnStats(
      Some(java.sql.Date.valueOf("2020-01-02").toLocalDate.toEpochDay.toString),
      Some(java.sql.Date.valueOf("2021-03-04").toLocalDate.toEpochDay.toString), 0L, 2L))
    // doubles: bounds never taken (NaN divergence), null count exact
    assert(f.stats("d") == ColumnStats(None, None, 0L, 2L))
    // non-ASCII min poisons the string column's bounds
    assert(f.stats("u") == ColumnStats(None, None, 0L, 2L))
    // > MaxStringBound strings carry no bounds
    assert(f.stats("long_s") == ColumnStats(None, None, 0L, 2L))
    // all-null column: no bounds, exact null count (drives all-null pruning)
    assert(f.stats("nul") == ColumnStats(None, None, 2L, 2L))
  }

  test("snapshot manifests carry per-file bounds, null counts and partition values") {
    val loc = tmpDir("lt_stats")
    val df1 = Seq((1L, Some("a"), "x"), (3L, None, "x")).toDF("id", "name", "grp")
    val t = LakeTable.ensure(spark, loc, df1.schema,
      partitionSpec = Seq(PartitionField("grp", "identity")))
    t.write(df1.coalesce(1), "append")
    t.write(Seq((10L, Some("z"), "y")).toDF("id", "name", "grp").coalesce(1), "append")

    val files = t.metadata.currentSnapshot.get.files.sortBy(f => f.stats("id").min.get.toLong)
    assert(files.size == 2 && files.forall(_.rowCount > 0))
    val f1 = files.head
    assert(f1.stats("id") == ColumnStats(Some("1"), Some("3"), 0L, 2L))
    assert(f1.stats("name") == ColumnStats(Some("a"), Some("a"), 1L, 2L))
    // identity-partitioned column lives in the directory, not the file
    assert(!f1.stats.contains("grp") && f1.partitionValues("grp") == Some("x"))
    assert(files(1).stats("id") == ColumnStats(Some("10"), Some("10"), 0L, 1L))
    assert(files(1).partitionValues("grp") == Some("y"))
    // bounds survive the JSON round trip
    val reread = TableMetadata.fromJson(t.metadata.toJson)
    assert(reread.currentSnapshot.get.files.map(_.stats).toSet == files.map(_.stats).toSet)
  }

  test("pre-stats metadata with plain string file lists still parses") {
    val schema = Seq((1L, "a")).toDF("id", "name").schema
    val legacy = """{"formatVersion":1,"schema":""" + schema.json + """,
      "partitionSpec":[],"sortOrder":[],"identifierFields":[],"properties":{},
      "snapshots":[{"id":0,"timestampMs":5,"operation":"append",
        "files":["data/snap-0/part-0.parquet"]}],
      "currentSnapshotId":0}"""
    val meta = TableMetadata.fromJson(legacy)
    val f = meta.currentSnapshot.get.files.head
    assert(f == DataFile("data/snap-0/part-0.parquet"))
    assert(meta.currentSnapshot.get.schemaJson.isEmpty)
  }

  test("time travel reads a snapshot with its snapshot-time schema") {
    val loc = tmpDir("lt_tt_schema")
    val t = LakeTable.ensure(spark, loc, Seq((1L, "a")).toDF("id", "name").schema)
    t.write(Seq((1L, "a")).toDF("id", "name"), "append")
    val snap1 = t.metadata.currentSnapshotId
    // evolution adds a column AFTER snap1
    t.write(Seq((2L, "b", 7.5)).toDF("id", "name", "score"), "append")
    assert(t.read().columns.toSeq == Seq("id", "name", "score"))
    // snapshot-time schema: no null-filled 'score' column in time travel
    assert(t.readAt(snap1).columns.toSeq == Seq("id", "name"))
  }

  test("touched-file split semantics: overlap, nulls, unknown and legacy entries") {
    import FileStats._
    val dt = org.apache.spark.sql.types.LongType
    val f = DataFile("f", 10, Map.empty, Map("id" -> ColumnStats(Some("100"), Some("200"), 0, 10)))
    val fNulls = DataFile("g", 10, Map.empty, Map("id" -> ColumnStats(Some("100"), Some("200"), 3, 10)))
    val fAllNull = DataFile("n", 10, Map.empty, Map("id" -> ColumnStats(None, None, 10, 10)))
    val legacy = DataFile("h")
    def kb(lo: Long, hi: Long, hasNull: Boolean = false) =
      Map("id" -> KeyBounds(dt, Some(lo.toString), Some(hi.toString), hasNull, unknown = false))
    assert(touches(f, kb(150, 300)) && touches(f, kb(200, 200)) && touches(f, kb(1, 100)))
    assert(!touches(f, kb(201, 300)) && !touches(f, kb(1, 99)))
    // null-safe keys: a null-bearing source touches only null-bearing files
    assert(!touches(f, kb(300, 400, hasNull = true)))
    assert(touches(fNulls, kb(300, 400, hasNull = true)))
    assert(!touches(fAllNull, kb(1, 1000)))
    assert(touches(fAllNull, Map("id" -> KeyBounds(dt, None, None, hasNull = true, unknown = false))))
    // unknown bounds or legacy (stats-less) entries always rewrite
    assert(touches(f, Map("id" -> KeyBounds(dt, None, None, hasNull = false, unknown = true))))
    assert(touches(legacy, kb(300, 400)))
    // every key column must admit a match
    val g = DataFile("m", 10, Map.empty, Map(
      "id" -> ColumnStats(Some("100"), Some("200"), 0, 10),
      "k2" -> ColumnStats(Some("5"), Some("6"), 0, 10)))
    val both = kb(150, 160) + ("k2" -> KeyBounds(dt, Some("7"), Some("9"), false, false))
    assert(!touches(g, both))
  }

  test("merge rewrites only files that can contain matched keys (copy-on-write)") {
    val loc = tmpDir("lt_cow")
    def batch(ids: Range, v: String) = ids.map(i => (i.toLong, v)).toDF("id", "name")
    val t = LakeTable.ensure(spark, loc, batch(1 to 2, "x").schema,
      identifierFields = Seq("id"))
    t.write(batch(1 to 10, "a").coalesce(1), "append")
    t.write(batch(11 to 20, "b").coalesce(1), "append")
    t.write(batch(21 to 30, "c").coalesce(1), "append")
    val before = t.metadata.currentSnapshot.get.files
    assert(before.size == 3)
    def fileWithMin(m: String) = before.find(_.stats("id").min.contains(m)).get
    val (fa, fb, fc) = (fileWithMin("1"), fileWithMin("11"), fileWithMin("21"))

    t.merge(Seq((11L, "B2"), (19L, "B19")).toDF("id", "name"), Seq("id"))

    val after = t.metadata.currentSnapshot.get.files
    // untouched files carried forward verbatim — same manifest paths
    assert(after.map(_.path).contains(fa.path) && after.map(_.path).contains(fc.path))
    assert(!after.map(_.path).contains(fb.path))
    // rewritten data files live under the new snapshot dir only
    assert(after.map(_.path).filterNot(Set(fa.path, fc.path)).forall(_.startsWith("data/snap-3")))
    // semantics unchanged: updates applied, everything else intact
    val rows = t.read().as[(Long, String)].collect().toMap
    assert(rows.size == 30 && rows(11L) == "B2" && rows(19L) == "B19" &&
      rows(12L) == "b" && rows(1L) == "a" && rows(30L) == "c")
  }

  test("copy-on-write merge on a partitioned table keeps partition layout") {
    val loc = tmpDir("lt_cow_part")
    def batch(ids: Range, cat: String) =
      ids.map(i => (i.toLong, cat, s"v$i")).toDF("id", "cat", "name")
    val t = LakeTable.ensure(spark, loc, batch(1 to 2, "a").schema,
      partitionSpec = Seq(PartitionField("cat", "identity")),
      identifierFields = Seq("id"))
    t.write(batch(1 to 10, "a").coalesce(1), "append")
    t.write(batch(11 to 20, "b").coalesce(1), "append")
    val before = t.metadata.currentSnapshot.get.files
    val untouchedBefore = before.filter(_.partitionValues.get("cat").contains(Some("b")))

    t.merge(Seq((3L, "a", "A3")).toDF("id", "cat", "name"), Seq("id"))

    val after = t.metadata.currentSnapshot.get.files
    // cat=b file(s) carried verbatim with their partition values intact
    assert(untouchedBefore.nonEmpty &&
      untouchedBefore.forall(f => after.map(_.path).contains(f.path)))
    val rows = t.read().as[(Long, String, String)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(rows.size == 20 && rows(3L) == (("a", "A3")) && rows(11L) == (("b", "v11")))
    // partition-pruned read still works over the mixed carried+new snapshot
    val pruned = t.readWithPartitions().filter(col("cat") === "b")
    assert(pruned.collect().length == 10)
  }

  test("delete rewrites only files whose bounds can match; null predicate keeps rows") {
    val loc = tmpDir("lt_delete")
    def batch(ids: Range) = ids.map(i =>
      (i.toLong, if (i % 10 == 0) null else s"n$i")).toDF("id", "name")
    val t = LakeTable.ensure(spark, loc, batch(1 to 2).schema)
    t.write(batch(1 to 10).coalesce(1), "append")
    t.write(batch(11 to 20).coalesce(1), "append")
    t.write(batch(21 to 30).coalesce(1), "append")
    val before = t.metadata.currentSnapshot.get.files
    t.delete(col("id") >= 11L && col("id") <= 13L)
    val after = t.metadata.currentSnapshot.get.files
    // files 1-10 and 21-30 carried verbatim
    assert(before.count(f => after.map(_.path).contains(f.path)) == 2)
    assert(t.metadata.currentSnapshot.get.operation == "delete")
    val ids = t.read().select("id").as[Long].collect().sorted
    assert(ids.toSeq == ((1L to 10L) ++ (14L to 30L)))
    // NULL-predicate rows are kept (SQL semantics): name = 'nope' is NULL
    // for the null-name rows, which must survive
    t.delete(col("name") === "nope")
    assert(t.read().count() == 27)
    // provably-unmatched predicate: no commit at all
    val v = t.metadata.currentSnapshotId
    t.delete(col("id") > 1000L)
    assert(t.metadata.currentSnapshotId == v)
  }

  test("update rewrites only touched files and only matched rows") {
    val loc = tmpDir("lt_update")
    def batch(ids: Range) = ids.map(i => (i.toLong, s"n$i", 1.0)).toDF("id", "name", "score")
    val t = LakeTable.ensure(spark, loc, batch(1 to 2).schema)
    t.write(batch(1 to 10).coalesce(1), "append")
    t.write(batch(11 to 20).coalesce(1), "append")
    val before = t.metadata.currentSnapshot.get.files
    t.update(Map("score" -> (col("score") * 10), "name" -> upper(col("name"))),
      col("id") === 15L)
    val after = t.metadata.currentSnapshot.get.files
    assert(before.count(f => after.map(_.path).contains(f.path)) == 1)
    assert(t.metadata.currentSnapshot.get.operation == "update")
    val rows = t.read().as[(Long, String, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(rows(15L) == (("N15", 10.0)))
    assert(rows(14L) == (("n14", 1.0)) && rows(1L) == (("n1", 1.0)))
    intercept[IllegalArgumentException](
      t.update(Map("nope" -> lit(1)), col("id") === 1L))
  }

  test("merge with a wider source evolves the schema then upserts") {
    val loc = tmpDir("lt_merge_evolve")
    val df1 = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    val t = LakeTable.ensure(spark, loc, df1.schema, identifierFields = Seq("id"))
    t.write(df1, "append")
    // source adds a column: schema evolves add-only, old rows null-filled
    t.write(Seq((2L, "B2", 9.5), (3L, "c", 1.0)).toDF("id", "name", "score"), "merge")
    val out = LakeTable.load(spark, loc).read()
      .as[(Long, String, Option[Double])].collect().sortBy(_._1)
    assert(out.toSeq == Seq((1L, "a", None), (2L, "B2", Some(9.5)),
      (3L, "c", Some(1.0))))
    assert(LakeTable.load(spark, loc).metadata.schema.fieldNames.toSeq ==
      Seq("id", "name", "score"))
  }

  test("unpartitioned read is one scan node regardless of append count") {
    val loc = tmpDir("lt_flatread")
    val df = Seq((1L, "a")).toDF("id", "name")
    val t = LakeTable.ensure(spark, loc, df.schema)
    (1 to 5).foreach(i => t.write(Seq((i.toLong, s"v$i")).toDF("id", "name"), "append"))
    val plan = LakeTable.load(spark, loc).read().queryExecution.executedPlan.toString
    assert(!plan.contains("Union"), plan.take(400))
    assert(LakeTable.load(spark, loc).read().count() == 5)
  }

  test("partitioned read is one scan node across appends, pruned from metadata") {
    val loc = tmpDir("lt_flatpart")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val df = Seq((1L, ts("2024-01-01 00:00:00"), "x")).toDF("id", "created_at", "name")
    val t = LakeTable.ensure(spark, loc, df.schema,
      partitionSpec = Seq(PartitionField("created_at", "year")))
    (0 to 9).foreach(i => t.write(
      Seq((i.toLong, ts(s"202$i-06-01 00:00:00"), s"v$i")).toDF("id", "created_at", "name"),
      "append"))
    val read = LakeTable.load(spark, loc).readWithPartitions()
    // pre-compaction: still ONE scan node (no per-era union)
    assert(!read.queryExecution.executedPlan.toString.contains("Union"))
    assert(read.count() == 10)
    // partition pruning happens against metadata partition values
    val pruned = read.filter(col("created_at_year") === 2024)
    assert(pruned.collect().length == 1)
    assert(scanOf(pruned).metrics("numFiles").value == 1)
  }

  test("scan skips files whose manifest bounds cannot match a filter") {
    val loc = tmpDir("lt_skipfiles")
    def batch(ids: Range) = ids.map(i => (i.toLong, s"n$i")).toDF("id", "name")
    val t = LakeTable.ensure(spark, loc, batch(1 to 2).schema)
    t.write(batch(1 to 10).coalesce(1), "append")
    t.write(batch(11 to 20).coalesce(1), "append")
    t.write(batch(21 to 30).coalesce(1), "append")
    val one = t.read().filter(col("id") === 15L)
    assert(one.collect().length == 1)
    assert(scanOf(one).metrics("numFiles").value == 1)
    val range = t.read().filter(col("id") >= 11L && col("id") <= 25L)
    assert(range.collect().length == 15)
    assert(scanOf(range).metrics("numFiles").value == 2)
    val none = t.read().filter(col("id") > 100L)
    assert(none.collect().isEmpty)
    assert(scanOf(none).metrics("numFiles").value == 0)
  }

  private def scanOf(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.execution.FileSourceScanExec =
    df.queryExecution.executedPlan.collectLeaves().collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.get

  test("identifier fields round-trip and drive a keyless merge") {
    val loc = tmpDir("lt_idfields")
    val df1 = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    val t = LakeTable.ensure(spark, loc, df1.schema, identifierFields = Seq("id"))
    assert(LakeTable.load(spark, loc).metadata.identifierFields == Seq("id"))
    t.write(df1, "append")
    // keyless merge call resolves the stored identifier fields
    t.write(Seq((2L, "B2"), (3L, "c")).toDF("id", "name"), "merge")
    val out = LakeTable.load(spark, loc).read().as[(Long, String)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((1L, "a"), (2L, "B2"), (3L, "c")))
    // unknown identifier field rejected at create time
    intercept[IllegalArgumentException] {
      LakeTable.ensure(spark, tmpDir("lt_idbad"), df1.schema,
        identifierFields = Seq("nope"))
    }
  }

  test("partition matrix: month/day/hour transforms write {col}_{transform} dirs") {
    val loc = tmpDir("lt_part2")
    val df = Seq((1L, java.sql.Timestamp.valueOf("2021-07-15 11:30:00")))
      .toDF("id", "created_at")
    val t = LakeTable.ensure(spark, loc, df.schema,
      partitionSpec = Seq(PartitionField("created_at", "month"),
        PartitionField("created_at", "day"), PartitionField("created_at", "hour")))
    t.write(df, "append")
    val snap = Paths.get(loc, "data", "snap-0")
    assert(Files.isDirectory(snap.resolve("created_at_month=202107")))
    assert(Files.isDirectory(snap.resolve("created_at_month=202107")
      .resolve("created_at_day=2021-07-15")))
    assert(t.read().count() == 1)
  }

  test("merge without merge_on raises") {
    val loc = tmpDir("lt_merge_err")
    val df = Seq((1L, "a")).toDF("id", "name")
    val t = LakeTable.ensure(spark, loc, df.schema)
    val e = intercept[IllegalArgumentException](t.write(df, "merge"))
    assert(e.getMessage.contains("merge_on"))
  }

  test("unsupported write mode raises") {
    val loc = tmpDir("lt_badmode")
    val df = Seq((1L, "a")).toDF("id", "name")
    val t = LakeTable.ensure(spark, loc, df.schema)
    intercept[IllegalArgumentException](t.write(df, "scd2"))
  }

  test("zero-row writes are skipped entirely (no new snapshot)") {
    val loc = tmpDir("lt_empty")
    val df = Seq((1L, "a")).toDF("id", "name")
    val t = LakeTable.ensure(spark, loc, df.schema)
    t.write(df, "append")
    val vBefore = t.version
    t.write(df.limit(0), "append")
    assert(t.version == vBefore)
    assert(names(loc) == Seq("a"))
    // every mode, into a non-empty and an empty table, with and without
    // properties: no data snapshot lands and no directory is left behind;
    // replace and merge still commit their properties, alone
    val fresh = LakeTable.ensure(spark, tmpDir("lt_empty_fresh"), df.schema)
    for (tbl <- Seq(t, fresh); mode <- Seq("append", "replace", "merge");
         props <- Seq(Map.empty[String, String], Map("stamp" -> mode))) {
      val (v, before) = (tbl.version, tbl.metadata)
      val dirs = dataDirs(tbl.location)
      tbl.write(df.limit(0), mode, Seq("id"), props)
      val after = tbl.metadata
      val what = s"$mode props=$props into ${tbl.location}"
      assert(after.snapshots == before.snapshots, what)
      assert(after.currentSnapshotId == before.currentSnapshotId, what)
      assert(dataDirs(tbl.location) == dirs, what)
      if (mode == "append" || props.isEmpty) assert(tbl.version == v, what)
      else {
        assert(tbl.version == v + 1, what)
        assert(after.properties.get("stamp").contains(mode), what)
      }
    }
    assert(names(loc) == Seq("a"))
    assert(fresh.metadata.currentSnapshot.isEmpty)
  }

  private def dataDirs(loc: String): Seq[String] = {
    val d = Paths.get(loc, "data")
    if (!Files.exists(d)) Nil
    else Files.list(d).iterator().asScala.map(_.getFileName.toString).toSeq.sorted
  }

  test("schema evolution on append: new column null-filled for old rows") {
    val loc = tmpDir("lt_evolve")
    val df1 = Seq((1L, "a")).toDF("id", "name")
    val t = LakeTable.ensure(spark, loc, df1.schema)
    t.write(df1, "append")
    t.write(Seq((2L, "b", 3.5)).toDF("id", "name", "score"), "append")
    val out = LakeTable.load(spark, loc).read()
      .orderBy("id").collect().toSeq
    assert(out == Seq(Row(1L, "a", null), Row(2L, "b", 3.5)))
  }

  test("incompatible evolution (removed column) raises before any write") {
    val loc = tmpDir("lt_evolve_err")
    val df1 = Seq((1L, "a")).toDF("id", "name")
    val t = LakeTable.ensure(spark, loc, df1.schema)
    t.write(df1, "append")
    intercept[graft.types.SchemaEvolution.IncompatibleSchemaException] {
      t.write(Seq(Tuple1(2L)).toDF("id"), "append")
    }
    assert(names(loc) == Seq("a")) // unchanged
  }

  test("partition spec writes {col}_{transform} directories and prunes") {
    val loc = tmpDir("lt_part")
    val df = Seq(
      (1L, "A-1", java.sql.Timestamp.valueOf("2020-03-01 10:00:00")),
      (2L, "B-2", java.sql.Timestamp.valueOf("2021-07-15 11:30:00")))
      .toDF("id", "category", "created_at")
    val t = LakeTable.ensure(spark, loc, df.schema,
      partitionSpec = Seq(PartitionField("created_at", "year"),
        PartitionField("category", "truncate[1]")))
    t.write(df, "append")
    val snapDir = Paths.get(loc, "data", "snap-0")
    assert(Files.isDirectory(snapDir.resolve("created_at_year=2020")))
    assert(Files.isDirectory(
      snapDir.resolve("created_at_year=2021").resolve("category_truncate=B")))
    // pruned read on the derived partition column
    val pruned = t.readWithPartitions().where($"created_at_year" === 2020)
    assert(pruned.count() == 1)
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") || scan.contains("created_at_year"))
    // read() returns the declared schema only
    assert(t.read().columns.toSeq == Seq("id", "category", "created_at"))
  }

  test("bucket and identity transforms partition consistently") {
    val loc = tmpDir("lt_bucket")
    val df = (1L to 20L).map(i => (i, s"c${i % 3}")).toDF("id", "category")
    val t = LakeTable.ensure(spark, loc, df.schema,
      partitionSpec = Seq(PartitionField("id", "bucket[4]"),
        PartitionField("category", "identity")))
    t.write(df, "append")
    val withParts = t.readWithPartitions()
    assert(withParts.select("id_bucket").distinct().count() <= 4)
    assert(t.read().orderBy("id").as[(Long, String)].collect().length == 20)
  }

  test("sort order is a write-layout property (files sorted within partitions)") {
    val loc = tmpDir("lt_sort")
    val df = Seq((3L, "c"), (1L, "a"), (2L, "b")).toDF("id", "name")
    val t = LakeTable.ensure(spark, loc, df.schema,
      sortOrder = Seq(SortField("id", ascending = true)))
    t.write(df.coalesce(1), "append")
    val file = LakeTable.load(spark, loc).metadata.currentSnapshot.get.files.head.path
    val rows = spark.read.parquet(s"$loc/$file").select("id").as[Long].collect()
    assert(rows.toSeq == Seq(1L, 2L, 3L))
  }

  test("properties commit transactionally with data and read back") {
    val loc = tmpDir("lt_props")
    val df = Seq((1L, "a")).toDF("id", "name")
    val t = LakeTable.ensure(spark, loc, df.schema)
    t.write(df, "append", properties = Map("ingest.watermark" -> "{\"column\":\"id\",\"value\":1}"))
    assert(t.readProperty("ingest.watermark").contains("\"value\":1"))
    t.writeProperties(Map("k2" -> "v2"))
    assert(t.readProperty("k2") == "v2")
    intercept[NoSuchElementException](t.readProperty("missing"))
  }

  test("snapshot log enables expiry and orphan GC") {
    val loc = tmpDir("lt_maint")
    val df = Seq((1L, "a")).toDF("id", "name")
    val t = LakeTable.ensure(spark, loc, df.schema)
    t.write(df, "append")
    t.write(Seq((2L, "b")).toDF("id", "name"), "replace") // snap-0 files now unreferenced by current
    assert(t.metadata.snapshots.size == 2)
    t.expireSnapshots(olderThanMs = 0L, nowMs = System.currentTimeMillis() + 1000000)
    assert(t.metadata.snapshots.map(_.id) == Seq(1L))
    // fresh orphans sit inside the default 3d grace window: kept
    assert(t.removeOrphanFiles().isEmpty)
    val orphans = t.removeOrphanFiles(olderThanMs = 0L)
    assert(orphans.nonEmpty) // snap-0 data files deleted
    assert(names(loc) == Seq("b")) // current data intact
  }

  test("orphan GC grace window keeps young files, deletes backdated ones") {
    val loc = tmpDir("lt_grace")
    val df = Seq((1L, "a")).toDF("id", "name")
    val t = LakeTable.ensure(spark, loc, df.schema)
    t.write(df, "append")
    t.write(Seq((2L, "b")).toDF("id", "name"), "replace")
    t.expireSnapshots(olderThanMs = 0L, nowMs = System.currentTimeMillis() + 1000000)
    def diskParquet() = Files.walk(Paths.get(loc, "data")).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq
    val before = diskParquet().size
    // an unreferenced file younger than the grace window may belong to an
    // in-flight commit — default GC must not touch it
    assert(t.removeOrphanFiles().isEmpty)
    assert(diskParquet().size == before)
    // backdate the orphan past the window: now it is a real orphan
    val orphan = diskParquet()
      .find(p => !t.metadata.currentSnapshot.get.paths.exists(p.toString.endsWith)).get
    Files.setLastModifiedTime(orphan,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - LakeTable.DefaultOrphanGraceMs - 60000L))
    assert(t.removeOrphanFiles().nonEmpty)
    assert(diskParquet().size == before - 1)
    assert(names(loc) == Seq("b"))
  }

  test("expireMetadataVersions trims the commit-log chain, readers recover") {
    val loc = tmpDir("lt_metagc")
    val t = LakeTable.ensure(spark, loc, Seq((1L, "a")).toDF("id", "name").schema)
    (1L to 6L).foreach(i => t.write(Seq((i, s"n$i")).toDF("id", "name"), "append"))
    assert(t.version == 7) // create + 6 appends
    val removed = t.expireMetadataVersions(keepVersions = 2)
    assert(removed == (1 to 5).map(v => s"v$v.json"))
    assert(!Files.exists(Paths.get(loc, "metadata", "v5.json")))
    assert(Files.exists(Paths.get(loc, "metadata", "v6.json")))
    assert(t.version == 7 && t.read().count() == 6) // current state intact
    // keepVersions covering the whole chain is a no-op
    assert(t.expireMetadataVersions(keepVersions = 50).isEmpty)
    // a hint regressed below the trimmed floor still resolves via the
    // directory-listing fallback
    Files.write(Paths.get(loc, "metadata", "VERSION"), "1".getBytes)
    assert(t.version == 7)
    assert(t.read().count() == 6)
  }

  test("compact rewrites many small files into few") {
    val loc = tmpDir("lt_compact")
    val df = (1L to 100L).map(i => (i, s"n$i")).toDF("id", "name").repartition(8)
    val t = LakeTable.ensure(spark, loc, df.schema)
    t.write(df, "append")
    t.write(df, "append")
    val before = t.metadata.currentSnapshot.get.files.size
    t.compact(targetFiles = 1)
    val after = t.metadata.currentSnapshot.get.files.size
    assert(before > after && after == 1)
    assert(LakeTable.load(spark, loc).read().count() == 200)
  }

  test("write.distribution-mode=hash clusters partitioned writes to one file each") {
    def batch(n: Int) = (1 to 200).map(i =>
      (i.toLong, s"c${i % n}", s"v$i")).toDF("id", "cat", "name").repartition(8)
    // default: each of the 8 tasks may write every partition dir
    val plainLoc = tmpDir("lt_dist_plain")
    val plain = LakeTable.ensure(spark, plainLoc, batch(4).schema,
      partitionSpec = Seq(PartitionField("cat", "identity")))
    plain.write(batch(4), "append")
    val plainFiles = plain.metadata.currentSnapshot.get.files.size
    assert(plainFiles > 4, s"expected task-fanout files, got $plainFiles")
    // hash mode: one writer task per partition value
    val hashLoc = tmpDir("lt_dist_hash")
    val hashed = LakeTable.ensure(spark, hashLoc, batch(4).schema,
      partitionSpec = Seq(PartitionField("cat", "identity")),
      properties = Map(LakeTable.PropDistributionMode -> "hash"))
    hashed.write(batch(4), "append")
    assert(hashed.metadata.currentSnapshot.get.files.size == 4)
    assert(hashed.read().count() == 200)
  }

  test("mergeClauses: ordered conditional matched/not-matched/by-source clauses") {
    import MergeClauses._
    val loc = tmpDir("lt_merge_clauses")
    val init = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0),
      (4L, "d", 40.0), (5L, "e", 50.0), (6L, "f", 60.0)).toDF("id", "name", "score")
    val tbl = LakeTable.ensure(spark, loc, init.schema)
    tbl.write(init, "append")
    val src = Seq((2L, "B", 25.0), (3L, "C", 5.0), (4L, "D", -1.0),
      (7L, "G", 70.0), (8L, "H", -8.0)).toDF("id", "name", "score")
    tbl.mergeClauses(src, Seq("id"),
      matched = Seq(
        // first-satisfied-wins: id=4 hits the delete even though the
        // update would not fire; id=2 updates; id=3 matches neither -> kept
        Delete(Some(s("score") < 0)),
        Update(Some(s("score") > t("score")),
          Map("name" -> s("name"), "score" -> (s("score") + t("score"))))),
      notMatched = Seq(
        Insert(Some(s("score") > 0), Map("id" -> s("id"), "name" -> s("name"),
          "score" -> s("score")))), // id=8 (score<0) is NOT inserted
      notMatchedBySource = Seq(
        Delete(Some(t("id") === 6L)),
        Update(Some(t("id") === 5L), Map("score" -> (t("score") * 2)))))
    val got = tbl.read().orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(got == Seq(
      (1L, "a", 10.0),        // by-source, no clause -> kept
      (2L, "B", 45.0),        // matched update (25 > 20), score summed
      (3L, "c", 30.0),        // matched, no clause satisfied -> kept
      (5L, "e", 100.0),       // by-source update
      (7L, "G", 70.0)))       // conditional insert
      // 4 deleted (matched delete), 6 deleted (by-source), 8 not inserted
  }

  test("mergeClauses without by-source clauses carries untouched files") {
    import MergeClauses._
    val loc = tmpDir("lt_merge_clauses_cow")
    def batch(ids: Range) = ids.map(i => (i.toLong, s"n$i")).toDF("id", "name")
    val tbl = LakeTable.ensure(spark, loc, batch(1 to 2).schema)
    tbl.write(batch(1 to 10).coalesce(1), "append")
    tbl.write(batch(11 to 20).coalesce(1), "append")
    val before = tbl.metadata.currentSnapshot.get.files.map(_.path).toSet
    tbl.mergeClauses(Seq((15L, "XV")).toDF("id", "name"), Seq("id"),
      matched = Seq(Update(None, Map("name" -> s("name")))))
    val after = tbl.metadata.currentSnapshot.get.files.map(_.path).toSet
    assert((before intersect after).size == 1) // the 1-10 file carried verbatim
    assert(tbl.read().filter(col("id") === 15L).head.getString(1) == "XV")
    // duplicate source keys matching a target row raise before commit
    val versionBefore = tbl.version
    val dup = Seq((15L, "x"), (15L, "y")).toDF("id", "name")
    val e = intercept[Exception] {
      tbl.mergeClauses(dup, Seq("id"),
        matched = Seq(Update(None, Map("name" -> s("name")))))
    }
    assert(e.getMessage.contains("Duplicate rows in merge source"))
    assert(tbl.version == versionBefore)
  }

  test("insert-if-absent merge appends without rewriting any file") {
    import MergeClauses._
    val loc = tmpDir("lt_merge_ins_only")
    def batch(ids: Range) = ids.map(i => (i.toLong, s"n$i")).toDF("id", "name")
    val tbl = LakeTable.ensure(spark, loc, batch(1 to 2).schema)
    tbl.write(batch(1 to 10).coalesce(1), "append")
    tbl.write(batch(11 to 20).coalesce(1), "append")
    val before = tbl.metadata.currentSnapshot.get.files.map(_.path).toSet
    // keys 5, 15 exist (skipped); 25, 26 are new; 26 fails the condition
    tbl.mergeClauses(
      Seq((5L, "x"), (15L, "x"), (25L, "y"), (26L, "z")).toDF("id", "name"),
      Seq("id"),
      notMatched = Seq(Insert(Some(s("name") =!= "z"),
        Map("id" -> s("id"), "name" -> s("name")))))
    val after = tbl.metadata.currentSnapshot.get.files.map(_.path).toSet
    assert(before.subsetOf(after), "insert-only merge must not rewrite files")
    assert(tbl.metadata.currentSnapshot.get.operation == "merge")
    val got = tbl.read().as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(got.map(_._1) == ((1L to 20L) :+ 25L))
    assert(got.find(_._1 == 5L).get._2 == "n5") // existing row untouched
    // all-matched source: nothing to insert, no commit at all
    val v = tbl.version
    tbl.mergeClauses(Seq((5L, "q")).toDF("id", "name"), Seq("id"),
      notMatched = Seq(Insert(None, Map("id" -> s("id"), "name" -> s("name")))))
    assert(tbl.version == v)
  }

  test("bucket-partition pruning: equality predicates read/rewrite one bucket") {
    val loc = tmpDir("lt_bucket_prune")
    def batch(ids: Range) = ids.map(i => (i.toLong, s"n$i")).toDF("id", "name")
    val t = LakeTable.ensure(spark, loc, batch(1 to 2).schema,
      partitionSpec = Seq(PartitionField("id", "bucket[8]")))
    t.write(batch(1 to 100).coalesce(1), "append")
    t.write(batch(101 to 200).coalesce(1), "append")
    val files = t.metadata.currentSnapshot.get.files
    assert(files.size == 16) // 2 commits x 8 bucket dirs
    // scan id=5: bucket pruning keeps the two id=5-bucket files, bounds
    // then drop the commit-2 one (range [101,200]) -> exactly ONE file.
    // Bounds alone can't get near this: commit-1 ids are hash-scattered,
    // so most commit-1 ranges contain 5.
    val one = t.read().filter(col("id") === 5L)
    assert(one.collect().map(_.getString(1)).toSeq == Seq("n5"))
    assert(scanOf(one).metrics("numFiles").value == 1)
    // IN-list: at most the (<=2 buckets) x (2 commits) candidate files
    val two = t.read().filter(col("id").isin(5L, 105L))
    assert(two.collect().map(_.getString(1)).toSet == Set("n5", "n105"))
    assert(scanOf(two).metrics("numFiles").value <= 4)
    // DELETE id=5: only the single both-filters file is rewritten
    val before = files.map(_.path).toSet
    t.delete(col("id") === 5L)
    val after = t.metadata.currentSnapshot.get.files.map(_.path).toSet
    assert((before -- after).size == 1)
    assert(t.read().count() == 199)
    // MERGE of a small delta: nothing outside the delta keys' buckets is
    // rewritten (cross-check bucket ids via the writer's own Column path)
    val preFiles = t.metadata.currentSnapshot.get.files
    val pre = preFiles.map(_.path).toSet
    t.merge(Seq((10L, "TEN"), (110L, "NEW")).toDF("id", "name"), Seq("id"))
    val post = t.metadata.currentSnapshot.get.files.map(_.path).toSet
    val deltaBuckets = Seq(10L, 110L).map(k => spark.range(1)
      .select(pmod(xxhash64(lit(k)), lit(8)).cast("int")).head.getInt(0).toString).toSet
    val rewritten = pre -- post
    assert(rewritten.nonEmpty && (pre intersect post).nonEmpty)
    assert(rewritten.forall(p => preFiles.find(_.path == p).get
      .partitionValues.get("id_bucket").exists(_.exists(deltaBuckets.contains))))
    val got = t.read().filter(col("id").isin(10L, 110L))
      .orderBy("id").collect().map(_.getString(1)).toSeq
    assert(got == Seq("TEN", "NEW"))
  }

  test("truncate-partition pruning on long and string sources") {
    val loc = tmpDir("lt_trunc_prune")
    def batch(ids: Range) = ids.map(i => (i.toLong, s"k$i")).toDF("id", "name")
    val t = LakeTable.ensure(spark, loc, batch(1 to 2).schema,
      partitionSpec = Seq(PartitionField("id", "truncate[50]")))
    t.write(batch(1 to 199).coalesce(1), "append")
    val files = t.metadata.currentSnapshot.get.files
    assert(files.size == 4) // truncate buckets 0, 50, 100, 150
    val one = t.read().filter(col("id") === 57L)
    assert(one.collect().map(_.getString(1)).toSeq == Seq("k57"))
    assert(scanOf(one).metrics("numFiles").value == 1)

    // string truncate: a startsWith prefix >= the truncate width pins
    // the partition (the string bounds would keep several files)
    val sloc = tmpDir("lt_trunc_str")
    val sdf = Seq("apple", "apric", "bana", "banjo", "cherry", "chess")
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "name")
    val st = LakeTable.ensure(spark, sloc, sdf.schema,
      partitionSpec = Seq(PartitionField("name", "truncate[2]")))
    st.write(sdf.coalesce(1), "append")
    assert(st.metadata.currentSnapshot.get.files.size == 3) // ap, ba, ch
    val pre = st.read().filter(col("name").startsWith("ban"))
    assert(pre.collect().map(_.getLong(0)).toSeq.sorted == Seq(2L, 3L))
    assert(scanOf(pre).metrics("numFiles").value == 1)
  }

  test("IS NULL on a bucket column reads only the seed-hash bucket") {
    // xxhash64 skips null inputs, so a bucket transform sends null keys
    // to the SEED-HASH bucket, not a null partition — the projection must
    // follow the writer's expression, not assume null propagation
    val loc = tmpDir("lt_bucket_null")
    val rows = (1 to 40).map(i => (i.toLong, s"n$i")) :+ ((0L, "nullrow"))
    val df = rows.toDF("id", "name")
      .select(when(col("id") === 0L, lit(null)).otherwise(col("id")).as("id"),
        col("name"))
    val t = LakeTable.ensure(spark, loc, df.schema,
      partitionSpec = Seq(PartitionField("id", "bucket[8]")))
    t.write(df.coalesce(1), "append")
    assert(t.metadata.currentSnapshot.get.files
      .forall(_.partitionValues.get("id_bucket").exists(_.isDefined)))
    val nulls = t.read().filter(col("id").isNull)
    assert(nulls.collect().map(_.getString(1)).toSeq == Seq("nullrow"))
    assert(scanOf(nulls).metrics("numFiles").value == 1)
  }

  test("metadata v2: snapshots share one file registry (no O(snapshots x files) blowup)") {
    val loc = tmpDir("lt_registry")
    def batch(i: Int) = Seq((i.toLong, s"n$i")).toDF("id", "name")
    val t = LakeTable.ensure(spark, loc, batch(0).schema)
    (1 to 10).foreach(i => t.write(batch(i).coalesce(1), "append"))
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(loc, "metadata", s"v${t.version}.json")))
    val meta = t.metadata
    assert(meta.snapshots.size == 10)
    // snapshot 10 carries all 10 files; snapshot 1 has 1 — but each file's
    // manifest entry (path + stats) appears in the JSON exactly ONCE
    meta.currentSnapshot.get.files.foreach { f =>
      assert(json.sliding(f.path.length).count(_ == f.path) == 1, f.path)
    }
    // round trip preserves every snapshot's file list
    val back = TableMetadata.fromJson(json)
    assert(back.snapshots.map(s => s.id -> s.files).toMap ==
      meta.snapshots.map(s => s.id -> s.files).toMap)
    assert(t.read().count() == 10)
  }

  test("zorderBy clusters so bounds prune on EVERY z-column") {
    val loc = tmpDir("lt_zorder")
    // 64x64 grid, written in hash-shuffled order: every file's x and y
    // ranges initially span the whole domain (bounds prune nothing)
    val grid = (0 until 64).flatMap(x => (0 until 64).map(y =>
      (x.toLong * 64 + y, x.toLong, y.toLong)))
    val df = grid.toDF("id", "x", "y").repartition(8, col("id"))
    val t = LakeTable.ensure(spark, loc, df.schema)
    t.write(df, "append")
    val preFiles = t.metadata.currentSnapshot.get.files
    def scanned(filter: org.apache.spark.sql.Column): Long = {
      val q = t.read().filter(filter)
      q.collect()
      scanOf(q).metrics("numFiles").value
    }
    // shuffled layout: an x filter reads everything
    assert(scanned(col("x") < 32) == preFiles.size)
    t.zorderBy(Seq("x", "y"), targetFiles = 4)
    assert(t.read().count() == 64 * 64)
    val files = t.metadata.currentSnapshot.get.files
    assert(files.size <= 4 && files.nonEmpty)
    // z-clustered quadrant-aligned files: BOTH dimensions prune (a
    // lexicographic (x, y) sort would only ever prune on x). Range
    // boundaries align to whole quadrants, so a single-dimension filter
    // skips at least the opposite quadrant's file(s).
    assert(scanned(col("x") < 32) <= 3)
    assert(scanned(col("y") < 32) <= 3)
    assert(scanned(col("x") >= 32 && col("y") >= 32) <= 2)
    assert(t.read().filter(col("x") === 5 && col("y") === 7).count() == 1)
  }

  test("compactSmallFiles bin-packs only small files, carries big ones verbatim") {
    val loc = tmpDir("lt_compact_small")
    def batch(ids: Range) = ids.map(i => (i.toLong, "x" * 100)).toDF("id", "pad")
    val t = LakeTable.ensure(spark, loc, batch(1 to 2).schema)
    t.write(batch(1 to 5000).coalesce(1), "append") // one big file
    (1 to 4).foreach(i => t.write( // four small incremental commits
      batch((10000 + i * 10) until (10000 + i * 10 + 10)).coalesce(1), "append"))
    val before = t.metadata.currentSnapshot.get.files
    assert(before.size == 5)
    val bigFile = before.maxBy(_.sizeBytes)
    val threshold = bigFile.sizeBytes // everything smaller gets packed
    t.compactSmallFiles(threshold)
    val after = t.metadata.currentSnapshot.get.files
    // big file carried verbatim (same manifest path); smalls became one
    assert(after.size == 2)
    assert(after.map(_.path).contains(bigFile.path))
    assert(t.metadata.currentSnapshot.get.operation == "compact")
    assert(LakeTable.load(spark, loc).read().count() == 5040)
    // idempotent: nothing small left -> no new snapshot
    val snapBefore = t.metadata.currentSnapshotId
    t.compactSmallFiles(threshold)
    assert(t.metadata.currentSnapshotId == snapBefore)
  }

  test("compactSmallFiles packs per partition: one small file per partition stays") {
    val loc = tmpDir("lt_compact_small_parts")
    def batch(cats: Seq[String]) = cats.flatMap(c => (1 to 10).map(i =>
      (s"$c-$i".hashCode.toLong, c))).toDF("id", "cat")
    val t = LakeTable.ensure(spark, loc, batch(Seq("a")).schema,
      partitionSpec = Seq(PartitionField("cat", "identity")))
    t.write(batch(Seq("a", "b", "c")).coalesce(1), "append") // one small file each
    val version = t.version
    assert(t.compactSmallFiles(Long.MaxValue) == 0 && t.version == version)
    t.write(batch(Seq("a")).coalesce(1), "append") // "a" now holds two
    val before = t.metadata.currentSnapshot.get.files
    def inCat(c: String, fs: Seq[DataFile]) =
      fs.filter(_.partitionValues.get("cat").flatten.contains(c))
    assert(t.compactSmallFiles(Long.MaxValue) == 2)
    val after = t.metadata.currentSnapshot.get.files
    assert(inCat("a", after).size == 1)
    for (c <- Seq("b", "c")) assert(inCat(c, after) == inCat(c, before))
    assert(t.read().count() == 40)
  }

  test("compact leaves a one-file unpartitioned table uncommitted") {
    val loc = tmpDir("lt_compact_one")
    val t = LakeTable.ensure(spark, loc, Seq((1L, "a")).toDF("id", "name").schema)
    t.write((1L to 50L).map(i => (i, s"n$i")).toDF("id", "name").coalesce(1), "replace")
    val (version, snapshot) = (t.version, t.metadata.currentSnapshot)
    assert(snapshot.get.files.size == 1)
    assert(t.compact() == 0)
    assert(t.version == version && t.metadata.currentSnapshot == snapshot)
  }

  test("compact rewrites only the partitions holding more files than the target") {
    val loc = tmpDir("lt_compact_parts")
    def batch(cats: Seq[String], n: Int) = cats.flatMap(c => (1 to n).map(i =>
      (s"$c-$i".hashCode.toLong, c, s"v$i"))).toDF("id", "cat", "name")
    val t = LakeTable.ensure(spark, loc, batch(Seq("a"), 1).schema,
      partitionSpec = Seq(PartitionField("cat", "identity")))
    t.write(batch(Seq("a", "b", "c"), 20).coalesce(1), "append") // one file each
    t.write(batch(Seq("a"), 20).coalesce(1), "append")           // "a" gets two
    t.write(batch(Seq("a"), 20).coalesce(1), "append")           // and three
    val before = t.metadata.currentSnapshot.get.files
    def inCat(c: String, fs: Seq[DataFile]) =
      fs.filter(_.partitionValues.get("cat").flatten.contains(c))
    assert(inCat("a", before).size == 3 && inCat("b", before).size == 1)
    val rows = t.read().collect().toSet
    def filesRead(c: String) = {
      val df = t.readWithPartitions().filter(col("cat") === c)
      df.collect()
      scanOf(df).metrics("numFiles").value
    }
    assert(filesRead("b") == 1)

    assert(t.compact() == 1)
    val after = t.metadata.currentSnapshot.get.files
    assert(t.metadata.currentSnapshot.get.operation == "compact")
    assert(inCat("a", after).size == 1)
    assert(inCat("a", after).head.path != inCat("a", before).head.path)
    // the one-file partitions carry over with their manifest entries
    for (c <- Seq("b", "c")) assert(inCat(c, after) == inCat(c, before))
    assert(t.read().collect().toSet == rows && t.read().count() == 100)
    assert(filesRead("b") == 1 && filesRead("a") == 1)
    // nothing left to rewrite: no commit
    val version = t.version
    assert(t.compact() == 0 && t.version == version)
  }

  test("compact(targetFiles = 2) leaves a two-file partition alone") {
    val loc = tmpDir("lt_compact_target")
    def batch(ids: Range) = ids.map(i => (i.toLong, s"n$i")).toDF("id", "name")
    val t = LakeTable.ensure(spark, loc, batch(1 to 2).schema)
    t.write(batch(1 to 10).coalesce(1), "append")
    t.write(batch(11 to 20).coalesce(1), "append")
    val version = t.version
    assert(t.compact(targetFiles = 2) == 0)
    assert(t.version == version && t.metadata.currentSnapshot.get.files.size == 2)
    t.write(batch(21 to 30).coalesce(1), "append")
    assert(t.compact(targetFiles = 2) == 1)
    assert(t.metadata.currentSnapshot.get.files.size <= 2 && t.read().count() == 30)
  }

  test("an empty-source upsert into a non-empty table runs only the bounds job") {
    val loc = tmpDir("lt_empty_upsert")
    val t = LakeTable.ensure(spark, loc, Seq((1L, "a")).toDF("id", "name").schema)
    t.write(Seq((1L, "a"), (2L, "b")).toDF("id", "name"), "append")
    val snapshot = t.metadata.currentSnapshot
    val empty = Seq((3L, "c")).toDF("id", "name").filter(col("id") < 0)
    val profile = graft.QueryProfile.attach(spark)
    val run = try profile.record {
      t.write(empty, "merge", Seq("id"), properties = Map("stamp" -> "1"))
    } finally profile.detach()
    // one query: the bounds aggregation's shuffle-map stage and its result
    // (a zero-row write job after it made 3)
    assert(run.jobs.size == 2, run.jobs)
    assert(t.metadata.currentSnapshot == snapshot)
    assert(t.metadata.properties.get("stamp").contains("1"))
    assert(names(loc) == Seq("a", "b"))
  }
}
