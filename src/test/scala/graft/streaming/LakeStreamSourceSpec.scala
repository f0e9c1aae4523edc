package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.tables.LakeTable

/** Lake tables as a streaming source: snapshot-id offsets, per-batch
  * manifest file diffs, checkpoint resume, non-append change detection. */
class LakeStreamSourceSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def startQuery(loc: String, ckpt: String, sinkName: String,
                         ignoreChanges: Boolean = false) = {
    var reader = spark.readStream
      .format(classOf[LakeStreamProvider].getName)
      .option("path", loc)
    if (ignoreChanges) reader = reader.option("ignoreChanges", "true")
    reader.load().writeStream
      .format("memory").queryName(sinkName)
      .option("checkpointLocation", ckpt)
      .start()
  }

  test("append commits stream out incrementally; checkpoint resumes") {
    val loc = tmpDir("lss_tbl") + "/t"
    val ckpt = tmpDir("lss_ckpt")
    val out = tmpDir("lss_out")
    val t = LakeTable.ensure(spark, loc, Seq((1L, "a")).toDF("id", "name").schema)
    t.write(Seq((1L, "a"), (2L, "b")).toDF("id", "name"), "append")

    def fileQuery() = spark.readStream
      .format(classOf[LakeStreamProvider].getName).option("path", loc)
      .load().writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt).start()
    def rows(): Seq[(Long, String)] =
      spark.read.parquet(out).as[(Long, String)].collect().sorted.toSeq

    val q = fileQuery()
    try {
      q.processAllAvailable()
      assert(rows() == Seq((1L, "a"), (2L, "b")))
      // new append arrives mid-stream -> exactly the delta comes through
      t.write(Seq((3L, "c")).toDF("id", "name"), "append")
      q.processAllAvailable()
      assert(rows() == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    } finally q.stop()

    // restart from the checkpoint: offsets survive, so only rows appended
    // after the stop are delivered (no re-read of old snapshots)
    t.write(Seq((4L, "d")).toDF("id", "name"), "append")
    val q2 = fileQuery()
    try {
      q2.processAllAvailable()
      assert(rows() == Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    } finally q2.stop()
  }

  test("non-append commit fails the stream unless ignoreChanges") {
    val loc = tmpDir("lss_chg") + "/t"
    val t = LakeTable.ensure(spark, loc, Seq((1L, "a")).toDF("id", "name").schema)
    t.write((1 to 5).map(i => (i.toLong, s"n$i")).toDF("id", "name"), "append")

    val q = startQuery(loc, tmpDir("lss_chg_ck1"), "lss_sink3")
    try {
      q.processAllAvailable()
      assert(spark.table("lss_sink3").count() == 5)
      t.delete(col("id") === 2L) // rewrites files: diff != new rows
      t.write(Seq((6L, "f")).toDF("id", "name"), "append")
      val e = intercept[StreamingQueryException](q.processAllAvailable())
      assert(e.getMessage.contains("non-append commits"), e.getMessage)
    } finally q.stop()

    // ignoreChanges: the stream keeps going, rewritten rows may re-emit
    val q2 = startQuery(loc, tmpDir("lss_chg_ck2"), "lss_sink4",
      ignoreChanges = true)
    try {
      q2.processAllAvailable()
      val before = spark.table("lss_sink4").count()
      assert(before == 5) // current table contents (4 survivors + the append)
      t.write(Seq((7L, "g")).toDF("id", "name"), "append")
      q2.processAllAvailable()
      assert(spark.table("lss_sink4").count() == before + 1)
    } finally q2.stop()
  }

  test("lake-to-lake medallion hop: incremental upsert with a transform") {
    val bronze = tmpDir("lss_med") + "/bronze"
    val silver = tmpDir("lss_med2") + "/silver"
    val ckpt = tmpDir("lss_med_ck")
    val b = LakeTable.ensure(spark, bronze,
      Seq((1L, "a", 1.0)).toDF("id", "name", "score").schema)
    b.write(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "name", "score"), "append")

    def hop(): Unit = StreamingIngest.drainTableToTable(spark, bronze, silver,
      ckpt, mergeOn = Seq("id"),
      transform = df => df.withColumn("score", col("score") * 10))
    hop()
    assert(LakeTable.load(spark, silver).read().as[(Long, String, Double)]
      .collect().sorted.toSeq == Seq((1L, "a", 10.0), (2L, "b", 20.0)))

    // CDC rows land in bronze (one update via merge would be non-append —
    // use append + keyed upsert downstream, the usual bronze contract)
    b.write(Seq((2L, "B", 5.0), (3L, "c", 3.0)).toDF("id", "name", "score"), "append")
    hop()
    val got = LakeTable.load(spark, silver).read().as[(Long, String, Double)]
      .collect().sorted.toSeq
    assert(got == Seq((1L, "a", 10.0), (2L, "B", 50.0), (3L, "c", 30.0)))
    // idempotent re-drain: nothing new, nothing changes
    hop()
    assert(LakeTable.load(spark, silver).read().count() == 3)
  }

  test("empty table streams nothing until the first commit") {
    val loc = tmpDir("lss_empty") + "/t"
    LakeTable.ensure(spark, loc, Seq((1L, "a")).toDF("id", "name").schema)
    val q = startQuery(loc, tmpDir("lss_empty_ck"), "lss_sink5")
    try {
      q.processAllAvailable()
      assert(spark.table("lss_sink5").count() == 0)
      LakeTable.load(spark, loc)
        .write(Seq((1L, "x")).toDF("id", "name"), "append")
      q.processAllAvailable()
      assert(spark.table("lss_sink5").count() == 1)
    } finally q.stop()
  }

  test("a drain into an existing table runs no emptiness probe") {
    val bronze = tmpDir("lss_probe") + "/bronze"
    val silver = tmpDir("lss_probe2") + "/silver"
    val ckpt = tmpDir("lss_probe_ck")
    val b = LakeTable.ensure(spark, bronze, Seq((1L, "a")).toDF("id", "name").schema)
    b.write(Seq((1L, "a"), (2L, "b")).toDF("id", "name"), "append")
    def hop(): Unit =
      StreamingIngest.drainTableToTable(spark, bronze, silver, ckpt, mergeOn = Seq("id"))
    hop() // creates silver: the probe decides creation
    b.write(Seq((2L, "B"), (3L, "c")).toDF("id", "name"), "append")
    val profile = graft.QueryProfile.attach(spark)
    val run = try profile.record(hop()) finally profile.detach()
    // the merge's jobs, measured on the 4-core suite session; an isEmpty
    // probe ahead of the merge made it 8
    assert(run.jobs.size == 7, run.jobs)
    assert(run.jobs.forall(_.description == s"drain: $silver"), run.jobs)
    assert(LakeTable.load(spark, silver).read().as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "a"), (2L, "B"), (3L, "c")))
  }
}
