package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Accessor for `private[sql]` Spark internals the lake SQL surface needs —
  * the standard connector shim pattern (Delta, Iceberg and friends ship the
  * same kind of bridge object). Kept to the absolute minimum. */
object GraftShims {
  /** DataFrame over an already-resolved logical plan. */
  def ofRows(session: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession], plan)

  /** Column over a catalyst expression. */
  def columnOf(e: catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  /** Drop the session's cached catalog instances so a changed
    * `spark.sql.catalog.<name>.*` conf takes effect (catalogs re-instantiate
    * from conf on next reference). */
  def resetCatalogs(session: SparkSession): Unit =
    session.asInstanceOf[classic.SparkSession]
      .sessionState.catalogManager.reset()

  /** Block until every event posted so far has reached every listener;
    * throws a TimeoutException after Spark's 10 s limit. */
  def drainListenerBus(session: SparkSession): Unit =
    session.sparkContext.listenerBus.waitUntilEmpty()

  /** Streaming-tagged DataFrame over a file relation — what a v1
    * streaming Source's `getBatch` must return (MicroBatchExecution
    * asserts `isStreaming`; FileStreamSource builds its batches the same
    * way). */
  def streamingDfFromRelation(session: SparkSession,
                              rel: sources.BaseRelation): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession],
      execution.datasources.LogicalRelation(rel, isStreaming = true))

  /** Empty streaming-tagged DataFrame with the given schema. */
  def emptyStreamingDf(session: SparkSession,
                       schema: types.StructType): DataFrame = {
    val cs = session.asInstanceOf[classic.SparkSession]
    cs.internalCreateDataFrame(
      cs.sparkContext.emptyRDD[catalyst.InternalRow], schema, isStreaming = true)
  }
}
