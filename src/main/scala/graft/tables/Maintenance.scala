package graft.tables

import org.apache.spark.sql.SparkSession

import graft.QueryProfile.withPhase

/** Maintenance driver (R9): per-table compaction, snapshot expiry, and
  * orphan-file GC with the reference's validation and error isolation
  * (`elt-common/src/elt_common/iceberg/maintenance/__init__.py:28-101`):
  * retention strings must match `^\d+[dhms]$`; a failure on one table is
  * recorded and does not stop the others.
  */
object Maintenance {
  private val RetentionRe = """^(\d+)([dhms])$""".r

  /** Parse a `7d` / `12h` / `30m` / `45s` retention to milliseconds.
    * Invalid strings raise, mirroring the reference's regex validation. */
  def parseRetention(retention: String): Long = retention match {
    case RetentionRe(n, unit) =>
      val base = unit match {
        case "d" => 86400000L
        case "h" => 3600000L
        case "m" => 60000L
        case "s" => 1000L
      }
      n.toLong * base
    case other => throw new IllegalArgumentException(
      s"Invalid retention threshold '$other'. Expected format: <number><d|h|m|s>")
  }

  final case class Result(table: String, ok: Boolean, detail: String)

  /** Run all maintenance procedures on the given tables (or every table of
    * the namespace when `tables` is empty), isolating per-table errors. */
  def runAll(spark: SparkSession, catalog: LakeCatalog, warehouse: String,
             namespace: String, tables: Seq[String] = Nil,
             retention: String = "7d",
             smallFileThresholdBytes: Option[Long] = None): Seq[Result] = {
    val retentionMs = parseRetention(retention)
    val targets =
      if (tables.nonEmpty) tables else catalog.listTables(warehouse, namespace)
    targets.map { t =>
      withPhase(spark, s"maintenance: $t") {
        try {
          val table = catalog.loadTable(spark, warehouse, namespace, t)
          // incremental bin-pack (O(small files)) when a threshold is given;
          // otherwise the reference's `optimize`, over crowded partitions only
          val (n, rewritten) = smallFileThresholdBytes match {
            case Some(th) => (table.compactSmallFiles(th), "small file(s)")
            case None => (table.compact(), "partition(s)")
          }
          table.expireSnapshots(retentionMs)
          val orphans = table.removeOrphanFiles()
          val trimmed = table.expireMetadataVersions()
          val compacted = if (n == 0) "nothing to compact" else s"compacted $n $rewritten"
          Result(t, ok = true, s"$compacted; ${orphans.size} orphan files removed; " +
            s"${trimmed.size} metadata versions trimmed")
        } catch {
          case e: Exception => Result(t, ok = false, e.toString)
        }
      }
    }
  }
}
