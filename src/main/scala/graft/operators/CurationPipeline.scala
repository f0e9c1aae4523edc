package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.QueryProfile.withPhase
import graft.tables.LakeTable

/** Transactional stage boundaries for composed curation pipelines — the
  * production form of the d45 gate's `localCheckpoint` stage cuts
  * (VERDICT r9 ask #3): each stage's survivor set lands as a LAKE TABLE,
  * so (a) every stage's Catalyst plan roots at a table scan (the composed
  * plan stays linear — the multiplicative analyzed-tree blowup measured
  * at 195s of plan processing on the un-cut d45 cannot occur), (b) a
  * pipeline killed between stages RESUMES from the last committed stage
  * instead of recomputing the prefix, and (c) every intermediate survivor
  * set is durable, inspectable and time-travelable like any other table —
  * what a 100 TB nightly curation run actually requires (a session cache
  * dies with the driver; a 30-hour pipeline must not).
  *
  * Consistency uses the same build-stamp discipline as [[LshIndex]] /
  * [[PqIndex]]: each stage commit records the pipeline `run_id` and the
  * SNAPSHOT ID of the upstream stage's table it consumed. A stage is
  * resumed only when both match — a stage table from a different run, or
  * one whose upstream was recomputed since (so its inputs changed out
  * from under it), recomputes. Lake commits are atomic (the L9 optimistic
  * protocol), so a kill mid-write leaves the previous snapshot and the
  * stamp check routes the restart to recompute exactly that stage.
  *
  * `runId` is the caller's statement of input identity: two runs with the
  * same (location, runId) MUST denote the same input corpus and stage
  * definitions — that is what makes resume sound (stages are
  * deterministic functions, so a re-run with the same runId reproduces
  * byte-identical survivor sets; the restart spec gates this).
  */
object CurationPipeline {

  /** Recursive delete of a stage directory (pipeline-owned storage — the
    * L7 purge semantics applied to one stage table). */
  private def purge(location: String): Unit = {
    val p = java.nio.file.Paths.get(location)
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(p)
      try walk.iterator().asScala.toSeq.reverseIterator
        .foreach(java.nio.file.Files.deleteIfExists(_))
      finally walk.close()
    }
  }

  /** One pipeline stage: `compute` maps the upstream stage's survivor
    * table (read back from the lake, not the in-memory lineage) to this
    * stage's survivor set. Closures may capture corpus-side DataFrames
    * (token tables etc.); only the chained survivor STATE flows through
    * the lake boundary. */
  final case class Stage(name: String, compute: DataFrame => DataFrame)

  /** Run (or resume) the pipeline. Returns each stage's survivor set read
    * back from its committed lake table, in stage order — every returned
    * plan roots at that stage's table scan. */
  def run(spark: SparkSession, location: String, runId: String,
          input: DataFrame, stages: Seq[Stage]): Seq[DataFrame] = {
    require(stages.nonEmpty, "CurationPipeline.run: no stages")
    var prev = input
    // Stage 0's upstream is the caller's input; its identity IS the runId
    // contract, so the stamp chain anchors on the runId itself.
    var prevStamp = s"input:$runId"
    val outs = Seq.newBuilder[DataFrame]
    stages.zipWithIndex.foreach { case (st, i) =>
      val loc = s"$location/stage${i}_${st.name}"
      val resumed: Option[LakeTable] =
        if (!LakeTable.exists(loc)) None
        else {
          val t = LakeTable.load(spark, loc)
          val p = t.metadata.properties
          if (p.get("curation.run_id").contains(runId) &&
              p.get("curation.upstream").contains(prevStamp)) Some(t)
          else None
        }
      val table = resumed.getOrElse {
        // Recompute starts from a CLEAN slate: a stale table from another
        // run must not survive into this one, because the lake layer's L4
        // skip-empty contract would otherwise leave its old snapshot in
        // place when this run's survivor set is empty — and "table has no
        // snapshot" is how an empty stage is represented (below).
        purge(loc)
        withPhase(spark, s"curation: ${st.name}") {
          val out = st.compute(prev)
          LakeTable.ensure(spark, loc, out.schema)
            .write(out, "replace", properties = Map(
              "curation.run_id" -> runId,
              "curation.stage_seq" -> i.toString,
              "curation.upstream" -> prevStamp))
        }
        LakeTable.load(spark, loc)
      }
      val meta = table.metadata
      prevStamp = meta.currentSnapshotId.toString
      // A stage with ZERO survivors hits the lake layer's L4 skip-empty
      // contract: the properties payload commits (so the stamp chain and
      // resume checks still work) but no data snapshot lands, and the
      // table stays at snapshot -1. Read that as the empty survivor set
      // under the stage schema — downstream stages then legitimately
      // compute over (and commit) empty survivor sets too.
      prev =
        if (meta.currentSnapshot.isEmpty)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], meta.schema)
        else table.readAt(meta.currentSnapshotId)
      outs += prev
    }
    outs.result()
  }
}
