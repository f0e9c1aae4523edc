package graft.tables

/** Test helper main run in a SEPARATE JVM by `MultiProcessCommitSpec`:
  * appends `count` single-row commits to the lake table at `loc`. The
  * commit protocol's real adversary is another OS process (a second
  * ingest worker on another host against the same store) — in-JVM thread
  * races share the JVM's file-handle and memory-model guarantees and
  * prove less. Exits non-zero on any failure so the parent test sees it. */
object ForkedWriter {
  def main(args: Array[String]): Unit = {
    val Array(loc, startId, count) = args
    val spark = graft.GraftSession.local(2)
    try {
      import spark.implicits._
      val t = LakeTable.load(spark, loc)
      (0 until count.toInt).foreach { i =>
        val id = startId.toLong + i
        t.write(Seq((id, s"child$id")).toDF("id", "name"), "append")
      }
    } finally spark.stop()
  }
}
