package graft.sql

import java.util.{Collections, Iterator => JIterator}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.tables.{LakeTable, Maintenance}

/** Maintenance procedures on the SQL surface — the role Trino's
  * `ALTER TABLE EXECUTE optimize` / Iceberg's `CALL catalog.system.*`
  * play for the reference's maintenance cron
  * (`iceberg/maintenance/__init__.py:28-101`, `iceberg/trino.py:63-83`):
  *
  * {{{
  * CALL lake.system.compact(`table` => 'ns.t', target_files => 2)
  * CALL lake.system.compact_small_files(`table` => 'ns.t', min_file_size_bytes => 1048576)
  * CALL lake.system.expire_snapshots(`table` => 'ns.t', retention => '7d')
  * CALL lake.system.remove_orphan_files(`table` => 'ns.t')
  * CALL lake.system.zorder(`table` => 'ns.t', columns => 'x,y', target_files => 16)
  * CALL lake.system.rollback_to_snapshot(`table` => 'ns.t', snapshot_id => 3)
  * }}}
  *
  * Each returns a one-row result describing what happened.
  */
object LakeProcedures {

  val Namespace: Array[String] = Array("system")

  def names: Seq[String] = Seq("compact", "compact_small_files",
    "expire_snapshots", "remove_orphan_files", "zorder", "history",
    "rollback_to_snapshot", "files", "expire_metadata",
    "publish_staged", "discard_staged")

  def load(root: String, name: String): Option[UnboundProcedure] = {
    def p(ps: Seq[ProcedureParameter])(run: (LakeTable, InternalRow) => String) =
      Some(new LakeProcedure(root, name, ps.toArray, run))
    val table = ProcedureParameter.in("table", StringType)
      .comment("table identifier under this catalog, e.g. 'ns.t'").build()
    def intArg(n: String, dflt: String) =
      ProcedureParameter.in(n, IntegerType).defaultValue(dflt).build()
    name match {
      case "compact" => p(Seq(table, intArg("target_files", "1"))) { (t, in) =>
        val n = t.compact(in.getInt(1))
        if (n == 0) "nothing to compact"
        else s"compacted $n partition(s) to <= ${in.getInt(1)} file(s) each"
      }
      case "compact_small_files" => p(Seq(table,
        ProcedureParameter.in("min_file_size_bytes", LongType).build(),
        intArg("target_files", "1"))) { (t, in) =>
        val n = t.compactSmallFiles(in.getLong(1), in.getInt(2))
        s"bin-packed $n file(s) under ${in.getLong(1)} bytes"
      }
      case "expire_snapshots" => p(Seq(table,
        ProcedureParameter.in("retention", StringType)
          .defaultValue("'7d'").build())) { (t, in) =>
        val retention = in.getUTF8String(1).toString
        t.expireSnapshots(Maintenance.parseRetention(retention))
        s"expired snapshots older than $retention"
      }
      case "remove_orphan_files" => p(Seq(table,
        ProcedureParameter.in("older_than", StringType)
          .comment("grace window; unreferenced files younger than this " +
            "may belong to in-flight commits and are kept")
          .defaultValue("'3d'").build())) { (t, in) =>
        val grace = in.getUTF8String(1).toString
        val removed = t.removeOrphanFiles(Maintenance.parseRetention(grace))
        s"removed ${removed.size} orphan file(s) older than $grace"
      }
      case "zorder" => p(Seq(table,
        ProcedureParameter.in("columns", StringType)
          .comment("comma-separated numeric columns").build(),
        intArg("target_files", "16"))) { (t, in) =>
        val cols = in.getUTF8String(1).toString.split(",").map(_.trim).toSeq
        t.zorderBy(cols, in.getInt(2))
        s"z-ordered by ${cols.mkString(", ")}"
      }
      case "expire_metadata" => p(Seq(table,
        intArg("keep_versions", LakeTable.DefaultKeepMetadataVersions.toString))) { (t, in) =>
        val removed = t.expireMetadataVersions(in.getInt(1))
        s"removed ${removed.size} metadata version file(s), " +
          s"kept last ${in.getInt(1)}"
      }
      case "rollback_to_snapshot" => p(Seq(table,
        ProcedureParameter.in("snapshot_id", LongType)
          .comment("retained snapshot id (see lake.system.history)").build())) { (t, in) =>
        t.rollbackTo(in.getLong(1))
        s"rolled back to snapshot ${in.getLong(1)}"
      }
      case "publish_staged" => p(Seq(table,
        ProcedureParameter.in("snapshot_id", LongType)
          .comment("staged WAP snapshot id (from LakeTable.stageAppend)").build())) { (t, in) =>
        t.publishStaged(in.getLong(1))
        s"published staged snapshot ${in.getLong(1)}"
      }
      case "discard_staged" => p(Seq(table,
        ProcedureParameter.in("snapshot_id", LongType)
          .comment("unpublished staged WAP snapshot id").build())) { (t, in) =>
        t.discardStaged(in.getLong(1))
        s"discarded staged snapshot ${in.getLong(1)}"
      }
      case "history" => Some(new LakeHistoryProcedure(root))
      case "files" => Some(new LakeFilesProcedure(root))
      case _ => None
    }
  }
}

/** `CALL lake.system.history(`table` => 'ns.t')` — the commit log as a
  * result set (Delta's DESCRIBE HISTORY / Iceberg's snapshots metadata
  * table): one row per snapshot, oldest first, with the snapshot id
  * usable in `VERSION AS OF`. Metadata-only (no data files read). */
final class LakeHistoryProcedure(root: String)
  extends UnboundProcedure with BoundProcedure {

  override def name(): String = "history"
  override def description(): String = "table commit history, oldest first"
  override def bind(inputType: StructType): BoundProcedure = this
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType)
      .comment("table identifier under this catalog, e.g. 'ns.t'").build())
  override def isDeterministic: Boolean = false

  override def call(input: InternalRow): JIterator[Scan] = {
    val tableIdent = input.getUTF8String(0).toString
    val loc = (root +: tableIdent.split('.').toSeq).mkString("/")
    val meta = LakeTable.load(SparkSession.active, loc).metadata
    val schema = StructType(Seq(
      StructField("version", IntegerType, nullable = false),
      StructField("snapshot_id", LongType, nullable = false),
      StructField("operation", StringType, nullable = false),
      StructField("n_files", IntegerType, nullable = false),
      StructField("timestamp_ms", LongType, nullable = false),
      StructField("is_current", BooleanType, nullable = false)))
    val historyRows = meta.snapshots.zipWithIndex.map { case (s, i) =>
      InternalRow(i, s.id, UTF8String.fromString(s.operation),
        s.files.size, s.timestampMs,
        meta.currentSnapshot.exists(_.id == s.id))
    }.toArray
    Collections.singletonList[Scan](new LocalScan {
      override def rows(): Array[InternalRow] = historyRows
      override def readSchema(): StructType = schema
    }).iterator()
  }
}

/** `CALL lake.system.files(`table` => 'ns.t')` — the current snapshot's
  * manifest as a result set (Iceberg's `files` metadata table role): one
  * row per live data file with row count, size, partition values, and the
  * per-column bounds the scan pruner uses. Metadata-only — what an
  * operator reads to judge compaction need and pruning effectiveness. */
final class LakeFilesProcedure(root: String)
  extends UnboundProcedure with BoundProcedure {

  override def name(): String = "files"
  override def description(): String = "current-snapshot data files, manifest view"
  override def bind(inputType: StructType): BoundProcedure = this
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType)
      .comment("table identifier under this catalog, e.g. 'ns.t'").build())
  override def isDeterministic: Boolean = false

  override def call(input: InternalRow): JIterator[Scan] = {
    val tableIdent = input.getUTF8String(0).toString
    val loc = (root +: tableIdent.split('.').toSeq).mkString("/")
    val meta = LakeTable.load(SparkSession.active, loc).metadata
    val schema = StructType(Seq(
      StructField("file", StringType, nullable = false),
      StructField("row_count", LongType, nullable = false),
      StructField("size_bytes", LongType, nullable = false),
      StructField("partition", StringType, nullable = true),
      StructField("bounds", StringType, nullable = true)))
    val fileRows = meta.currentSnapshot.map(_.files).getOrElse(Nil)
      .sortBy(_.path).map { f =>
        val part =
          if (f.partitionValues.isEmpty) null
          else UTF8String.fromString(f.partitionValues.toSeq.sortBy(_._1)
            .map { case (k, v) => s"$k=${v.getOrElse("null")}" }.mkString(","))
        val bounds =
          if (f.stats.isEmpty) null
          else UTF8String.fromString(f.stats.toSeq.sortBy(_._1)
            .map { case (c, s) =>
              s"$c:[${s.min.getOrElse("")}..${s.max.getOrElse("")}]" +
                (if (s.nullCount > 0) s" nulls=${s.nullCount}" else "")
            }.mkString("; "))
        InternalRow(UTF8String.fromString(f.path), f.rowCount, f.sizeBytes,
          part, bounds)
      }.toArray
    Collections.singletonList[Scan](new LocalScan {
      override def rows(): Array[InternalRow] = fileRows
      override def readSchema(): StructType = schema
    }).iterator()
  }
}

/** A bound-on-construction procedure: resolves the table under the
  * catalog root, runs the table-layer op, returns one result row. */
final class LakeProcedure(
    root: String,
    procName: String,
    params: Array[ProcedureParameter],
    run: (LakeTable, InternalRow) => String)
  extends UnboundProcedure with BoundProcedure {

  override def name(): String = procName
  override def description(): String = s"lake maintenance procedure $procName"
  override def bind(inputType: StructType): BoundProcedure = this
  override def parameters(): Array[ProcedureParameter] = params
  override def isDeterministic: Boolean = false

  override def call(input: InternalRow): JIterator[Scan] = {
    val tableIdent = input.getUTF8String(0).toString
    val loc = (root +: tableIdent.split('.').toSeq).mkString("/")
    val table = LakeTable.load(SparkSession.active, loc)
    val result = run(table, input)
    val schema = StructType(Seq(StructField("result", StringType, nullable = false)))
    Collections.singletonList[Scan](new LocalScan {
      override def rows(): Array[InternalRow] =
        Array(InternalRow(UTF8String.fromString(result)))
      override def readSchema(): StructType = schema
    }).iterator()
  }
}
