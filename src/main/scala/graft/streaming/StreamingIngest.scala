package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.tables.LakeTable

/** Structured-Streaming ingest (SURVEY §2.9): the reference is batch
  * incremental (watermark cursor re-filtered per run); the idiomatic Spark
  * upgrade is `readStream` + `Trigger.AvailableNow` with checkpointed
  * offsets — each invocation drains exactly the files that arrived since the
  * last run, then stops. Semantics match the reference's watermark loop
  * (nothing re-read, late files picked up next run) with exactly-once file
  * tracking handled by the checkpoint instead of a stored cursor.
  */
object StreamingIngest {

  /** Drain new parquet files under `sourceDir` into the lake table at
    * `tableLocation` via foreachBatch through the transactional table
    * layer. Blocks until the available data is processed.
    *
    * `writeMode = "append"` is plain ingest; `"merge"` (with `mergeOn`) is
    * the streaming CDC-upsert sink: each micro-batch upserts through the
    * copy-on-write merge, so a batch touching few keys rewrites only the
    * files whose bounds admit those keys — continuous upsert into a
    * 100 TB table stays O(batch + touched files) per trigger. */
  def drainToTable(spark: SparkSession, sourceDir: String,
                   schema: org.apache.spark.sql.types.StructType,
                   tableLocation: String, checkpointDir: String,
                   transform: DataFrame => DataFrame = identity,
                   writeMode: String = "append",
                   mergeOn: Seq[String] = Nil,
                   batchTransform: DataFrame => DataFrame = identity): Unit = {
    require(writeMode == "append" || writeMode == "merge",
      s"Streaming drain supports append or merge, got '$writeMode'")
    require(writeMode != "merge" || mergeOn.nonEmpty,
      "Streaming merge drain requires mergeOn keys")
    val stream = spark.readStream
      .schema(schema)
      .parquet(sourceDir)
    // `transform` is a streaming-plan transform (stateless projections /
    // filters); `batchTransform` runs INSIDE foreachBatch where batch-only
    // operators (aggregations, joins against static indexes) are legal.
    val query: StreamingQuery = transform(stream).writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // An empty batch must not create the table, so the drain probes
        // emptiness before `ensure`; the table layer has no probe of its
        // own and decides skip-empty after its write. Persisted so a heavy
        // batchTransform (the streaming dedup gate runs a full LSH probe)
        // is computed once.
        val out = batchTransform(batch).persist()
        try {
          if (!out.isEmpty)
            LakeTable.ensure(batch.sparkSession, tableLocation, out.schema,
              identifierFields = mergeOn).write(out, writeMode, mergeOn)
        } finally out.unpersist()
      }
      .start()
    query.awaitTermination()
  }

  /** Lake-to-lake incremental pipeline (the medallion bronze->silver hop):
    * stream the source TABLE's append commits ([[LakeStreamSource]] —
    * snapshot-id offsets, manifest file diffs), apply a transform, and
    * upsert each micro-batch into the target table through the
    * copy-on-write merge. Exactly-once effective: offsets are
    * checkpointed, and a replayed batch re-merges the same keys
    * idempotently. Each drain is O(new files + touched target files) —
    * at 100 TB neither table is ever rescanned. */
  def drainTableToTable(spark: SparkSession, sourceLocation: String,
                        targetLocation: String, checkpointDir: String,
                        mergeOn: Seq[String],
                        transform: DataFrame => DataFrame = identity): Unit = {
    require(mergeOn.nonEmpty, "drainTableToTable requires mergeOn keys")
    val stream = spark.readStream
      .format(classOf[LakeStreamProvider].getName)
      .option("path", sourceLocation)
      .load()
    val query: StreamingQuery = transform(stream).writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          LakeTable.ensure(batch.sparkSession, targetLocation, batch.schema,
            identifierFields = mergeOn).write(batch, "merge", mergeOn)
      }
      .start()
    query.awaitTermination()
  }

  /** Watermarked tumbling-window aggregation over an event stream — the
    * streaming form of the sessionize/window analytics, with late events
    * beyond the watermark dropped by the engine. */
  def windowedCounts(events: DataFrame, tsCol: String, windowLen: String,
                     lateness: String): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowLen), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("cnt"), col("sum_value"))

  /** Streaming exact dedup on a key set: duplicates arriving within the
    * watermark window are dropped, and the engine evicts key state once the
    * watermark passes — bounded state, unlike an unbounded dropDuplicates.
    * The streaming form of the exact-dedup batch operator for continuous
    * training-data ingest. */
  def dedupWithinWatermark(events: DataFrame, tsCol: String, lateness: String,
                           keyCols: Seq[String]): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark(keyCols)
}
