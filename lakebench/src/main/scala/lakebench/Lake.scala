package lakebench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.tables.{LakeTable, TableMetadata}

/** Read-only census of lake tables on disk, for the benchmark's counters.
  * Everything here reads files the engine wrote; nothing calls back into
  * the write path. */
object Lake {

  private def walk(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.toList finally s.close()
    }

  /** Remove `root` and everything under it. */
  def delete(root: Path): Unit =
    walk(root).reverse.foreach(Files.deleteIfExists(_))

  /** Bytes of every regular file under `root`. */
  def bytesOnDisk(root: Path): Long =
    walk(root).filter(Files.isRegularFile(_)).map(Files.size).sum

  /** Every table location under `root`. */
  def tables(root: Path): Seq[Path] =
    walk(root).filter(p => p.getFileName != null && p.getFileName.toString == "metadata" &&
      LakeTable.exists(p.getParent.toString)).map(_.getParent).sorted

  /** Committed `vN.json` files under `root`. */
  def commitFiles(root: Path): Int =
    walk(root).count(p => p.getFileName != null && p.getFileName.toString.matches("v\\d+\\.json"))

  def metadata(spark: SparkSession, table: Path): TableMetadata =
    LakeTable.load(spark, table.toString).metadata

  /** Size of the metadata file a reader loads for the current version. */
  def currentMetadataBytes(spark: SparkSession, table: Path): Long = {
    val v = LakeTable.load(spark, table.toString).version
    Files.size(table.resolve("metadata").resolve(s"v$v.json"))
  }

  /** Median wall of five `LakeTable.load(..).metadata` calls, in seconds. */
  def metadataLoadS(spark: SparkSession, table: String): Double =
    Stats.median((1 to 5).map { _ =>
      val t = System.nanoTime()
      LakeTable.load(spark, table).metadata
      (System.nanoTime() - t) / 1e9
    })

  /** (live file count, live bytes) of the current snapshot. */
  def live(meta: TableMetadata): (Int, Long) = {
    val fs = meta.currentSnapshot.map(_.files).getOrElse(Nil)
    (fs.size, fs.map(f => math.max(0L, f.sizeBytes)).sum)
  }

  /** Bytes of distinct data files referenced by any retained snapshot. */
  def referencedDataBytes(meta: TableMetadata): Long =
    meta.snapshots.flatMap(_.files).map(f => f.path -> math.max(0L, f.sizeBytes)).toMap.values.sum

  /** For each merge snapshot after `afterId`: files it dropped ÷ files live
    * before it. */
  def mergeRewriteRatios(meta: TableMetadata, afterId: Long): Seq[Double] =
    meta.snapshots.sliding(2).collect {
      case Seq(prev, cur) if cur.operation == "merge" && cur.id > afterId && prev.files.nonEmpty =>
        val keep = cur.files.map(_.path).toSet
        prev.files.count(f => !keep.contains(f.path)).toDouble / prev.files.size
    }.toSeq
}
