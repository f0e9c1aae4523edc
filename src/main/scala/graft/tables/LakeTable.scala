package graft.tables

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.types.SchemaEvolution

/** A lakehouse table over plain Parquet + a self-written metadata/commit
  * layer, replicating the semantics PyIceberg gives the reference
  * (`elt-common/src/elt_common/iceberg/io.py:63-155`): transactional
  * append / merge(upsert) / replace, schema evolution on write, partition
  * and sort-order specs, table properties committed atomically with data,
  * snapshot log, and maintenance procedures.
  *
  * One write path: every data write (append, replace, merge, delete,
  * update, compaction, WAP stage) writes a snapshot directory and commits
  * it through one CAS loop. There is one merge engine, the SQL clause
  * matrix of [[mergeClauses]]; the upsert is its `UPDATE SET *` +
  * `INSERT *` clause set. Skip-empty is decided once, after the write, in
  * that commit.
  *
  * Commit protocol: snapshots carry the complete data-file list; a commit
  * built from version N CASes `metadata/v{N+1}.json` into existence (atomic
  * hard link — exactly one writer owns each version) and then advances the
  * `VERSION` hint. Optimistic concurrency, Iceberg-style: appends rebase
  * and retry on conflict; operations whose output depends on the base
  * state (merge/delete/update/replace/compact) abort with
  * [[ConcurrentCommitException]] rather than silently losing the other
  * writer's commit. The reference serializes loads (`[load] workers=1`,
  * SURVEY §6) but its Iceberg storage makes the same guarantee.
  *
  * Scale notes: data files are written/read by Spark (cluster-parallel);
  * only metadata I/O touches the driver. Reads reconstruct partition
  * columns from directory names per snapshot directory, so partition-pruned
  * scans work (`PartitionFilters` on the derived `{col}_{transform}`
  * columns).
  */
final class LakeTable private (spark: SparkSession, val location: String) {
  import LakeTable._

  private def metadataDir: Path = Paths.get(location, "metadata")
  private def dataDir: Path = Paths.get(location, "data")

  /** Current table version: the `VERSION` pointer is a hint (its swap is
    * last-writer-wins under races), so probe forward past it — committed
    * `v{N}.json` files are the truth and appear atomically. */
  def version: Int = {
    val vf = metadataDir.resolve("VERSION")
    var v = if (Files.exists(vf)) new String(Files.readAllBytes(vf)).trim.toInt else 0
    while (Files.exists(metadataDir.resolve(s"v${v + 1}.json"))) v += 1
    if (v == 0 || Files.exists(metadataDir.resolve(s"v$v.json"))) v
    else {
      // A last-writer-wins hint regression can point below the floor that
      // expireMetadataVersions trimmed to, breaking forward probing (the
      // chain has a gap). The committed files are still the truth — recover
      // from a directory listing.
      val VFile = """v(\d+)\.json""".r
      val stream = Files.list(metadataDir)
      try {
        val it = stream.iterator()
        var best = 0
        while (it.hasNext) {
          it.next().getFileName.toString match {
            case VFile(n) => best = math.max(best, n.toInt)
            case _ =>
          }
        }
        best
      } finally stream.close()
    }
  }

  def metadata: TableMetadata = metadataAt._2

  /** The (version, metadata) pair every mutation must CAS against — a
    * commit built from version N's state is only allowed to create
    * version N+1 (optimistic concurrency, Iceberg's commit model). */
  private[tables] def metadataAt: (Int, TableMetadata) = {
    val v = version
    (v, TableMetadata.fromJson(new String(
      Files.readAllBytes(metadataDir.resolve(s"v$v.json")))))
  }

  /** Compare-and-swap commit: write the metadata under `v{base+1}.json`
    * via an atomic hard link — exactly one concurrent committer can own a
    * version number; losers get [[ConcurrentCommitException]] and must
    * rebase or abort. A stale base (someone else already committed
    * base+1) fails the same way, which is what prevents lost updates. */
  private[tables] def commitCas(base: Int, meta: TableMetadata): Unit = {
    val next = base + 1
    Files.createDirectories(metadataDir)
    val tmp = metadataDir.resolve(
      s"v$next.json.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    Files.write(tmp, meta.toJson.getBytes)
    try Files.createLink(metadataDir.resolve(s"v$next.json"), tmp)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(tmp)
        throw new ConcurrentCommitException(
          s"Commit conflict on '$location': version $next was committed concurrently")
    } finally Files.deleteIfExists(tmp)
    // advance the hint; readers recover from regressions by probing
    writeVersionHint(next)
  }

  /** Point the `VERSION` hint at `v` with an atomic rename. The hint is
    * advisory: readers probe past it. */
  private def writeVersionHint(v: Int): Unit = {
    val vtmp = metadataDir.resolve(
      s"VERSION.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    Files.write(vtmp, v.toString.getBytes)
    Files.move(vtmp, metadataDir.resolve("VERSION"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Re-create a missing VERSION hint: a creator crashing between the
    * v1.json link and the hint write leaves the table committed but
    * hint-less; any later load repairs it. Idempotent, racy-safe (the
    * hint is advisory — readers probe past it anyway). */
  private[tables] def repairVersionHint(): Unit = {
    if (Files.exists(metadataDir.resolve("VERSION"))) return
    val v = version
    if (v > 0) writeVersionHint(v)
  }

  /** Retry loop for metadata-only transactions (properties, DDL, snapshot
    * expiry): these rebase trivially — re-read, re-apply, re-CAS. A
    * transaction that changes nothing (an expiry with nothing to expire)
    * commits nothing. */
  private def commitRetry(f: TableMetadata => TableMetadata): Unit = {
    var attempt = 0
    while (true) {
      val (base, meta) = metadataAt
      val next = f(meta)
      if (next == meta) return
      try { commitCas(base, next); return }
      catch {
        case e: ConcurrentCommitException =>
          attempt += 1
          if (attempt > LakeTable.MaxCommitRetries) throw e
      }
    }
  }

  // ---- read path ----------------------------------------------------

  /** Current table contents with the declared (data) schema only. */
  def read(): DataFrame = {
    val meta = metadata
    readWithPartitions(meta).select(meta.schema.fieldNames.map(col).toIndexedSeq: _*)
  }

  /** Current contents including derived partition columns (for
    * partition-pruned scans on `{col}_{transform}`). */
  def readWithPartitions(): DataFrame = readWithPartitions(metadata)

  /** Time travel: table contents AS OF a retained snapshot id (complete
    * file-list snapshots make this a plain read of that snapshot's files;
    * expired snapshots raise). Reads with the snapshot-time schema —
    * columns added by later evolution do NOT appear (Iceberg semantics);
    * pre-stats metadata without a stored snapshot schema falls back to the
    * current schema. */
  def readAt(snapshotId: Long): DataFrame = {
    val meta = metadata
    val snap = meta.snapshots.find(_.id == snapshotId).getOrElse(
      throw new IllegalArgumentException(
        s"Snapshot $snapshotId not found (retained: ${meta.snapshots.map(_.id).mkString(", ")})"))
    val snapSchema = snap.schema.getOrElse(meta.schema)
    readWithPartitions(meta.copy(schema = snapSchema, currentSnapshotId = snap.id))
      .select(snapSchema.fieldNames.map(col).toIndexedSeq: _*)
  }

  /** Appended rows between two retained snapshots — Iceberg's incremental
    * (CDC-lite) read as a batch DataFrame: the file-list diff of the two
    * complete-file-list snapshots, read through the manifest-backed scan.
    * O(manifest) planning; executors touch only the appended files. If any
    * file present at `fromSnapshotId` is gone by `toSnapshotId` (replace /
    * merge / delete in the range), a file diff no longer means "new rows",
    * so this fails unless `ignoreChanges = true` (Delta's contract:
    * rewritten files may re-emit old rows). Reads with `toSnapshotId`'s
    * schema, like [[readAt]]. */
  def changesBetween(fromSnapshotId: Long, toSnapshotId: Long,
                     ignoreChanges: Boolean = false): DataFrame = {
    val meta = metadata
    def snapOf(id: Long): Snapshot = meta.snapshots.find(_.id == id).getOrElse(
      throw new IllegalArgumentException(
        s"Snapshot $id not found (retained: ${meta.snapshots.map(_.id).mkString(", ")})"))
    val from = snapOf(fromSnapshotId)
    val to = snapOf(toSnapshotId)
    require(meta.snapshots.indexWhere(_.id == fromSnapshotId) <=
      meta.snapshots.indexWhere(_.id == toSnapshotId),
      s"Snapshot $fromSnapshotId is newer than $toSnapshotId")
    val fromPaths = from.paths.toSet
    val removed = fromPaths -- to.paths.toSet
    if (removed.nonEmpty && !ignoreChanges) {
      throw new IllegalStateException(
        s"Table at '$location' had ${removed.size} file(s) rewritten or " +
          s"removed between snapshots $fromSnapshotId and $toSnapshotId — " +
          "a file diff no longer means new rows. Pass ignoreChanges=true " +
          "to accept re-emitted rows.")
    }
    val newFiles = to.files.filterNot(f => fromPaths.contains(f.path))
    val snapSchema = to.schema.getOrElse(meta.schema)
    readWithPartitions(meta.copy(schema = snapSchema, currentSnapshotId = to.id),
        filesOverride = Some(newFiles))
      .select(snapSchema.fieldNames.map(col).toIndexedSeq: _*)
  }

  private def readWithPartitions(meta: TableMetadata,
                                 filesOverride: Option[Seq[DataFile]] = None): DataFrame = {
    val derived = meta.partitionSpec.filterNot(_.parsed == PartitionTransform.Identity)
    val derivedFields = derived.map { p =>
      org.apache.spark.sql.types.StructField(p.fieldName,
        LakeFileIndex.partitionType(p, meta.schema), nullable = true)
    }
    val fullSchema = StructType(meta.schema.fields ++ derivedFields)
    val files = filesOverride.getOrElse(meta.currentSnapshot.map(_.files).getOrElse(Nil))
    if (files.isEmpty) {
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        fullSchema)
    }
    // ONE scan node over every live file via the manifest-backed FileIndex:
    // partition values come from metadata (no directory discovery), data
    // filters skip files on manifest bounds, and the plan stays
    // constant-size no matter how many commits accumulated.
    // RENAMEd columns resolve per file: coalesce(new physical name, old) —
    // parquet null-fills whichever side a file predates.
    val aliases = meta.columnAliases
    val cols = fullSchema.fieldNames.toIndexedSeq.map { n =>
      aliases.get(n).orElse(
          aliases.find(_._1.equalsIgnoreCase(n)).map(_._2)) match {
        case Some(olds) if olds.nonEmpty =>
          coalesce((n +: olds).map(col): _*).as(n)
        case _ => col(n)
      }
    }
    spark.baseRelationToDataFrame(baseRelation(meta, files)).select(cols: _*)
  }

  /** `HadoopFsRelation` over the manifest-backed [[LakeFileIndex]] — the
    * relation both the programmatic read path and the SQL catalog share. */
  private[graft] def baseRelation(
      meta: TableMetadata,
      files: Seq[DataFile]): org.apache.spark.sql.execution.datasources.HadoopFsRelation = {
    val index = new LakeFileIndex(spark, location, meta, files)
    org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      index, index.partitionSchema, index.dataSchema, None,
      new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat(),
      Map.empty)(spark)
  }

  def readProperty(key: String): String = metadata.properties(key)

  /** Commit property updates in a metadata-only transaction
    * (`iceberg/io.py:52-61`). */
  def writeProperties(props: Map[String, String]): Unit =
    commitRetry(meta => meta.copy(properties = meta.properties ++ props))

  /** DDL ADD COLUMNS: metadata-only schema commit. Columns must be
    * nullable (existing files don't have them; readers null-fill missing
    * parquet columns — the standard add-only evolution contract). */
  def addColumns(fields: Seq[StructField]): Unit = commitRetry { meta =>
    // retired = every name old data files may still physically carry:
    // RENAME olds (mapping values) AND dropped columns (RetiredNamesProp,
    // which also covers mapping KEYS purged by a drop) — reusing any of
    // them would resurrect old file bytes into the new column.
    val retired = TableMetadata.parseNameMapping(meta.properties)
      .values.flatten.map(_.toLowerCase).toSet ++
      TableMetadata.parseRetiredNames(meta.properties)
    fields.foreach { f =>
      require(f.nullable, s"ADD COLUMN '${f.name}' must be nullable " +
        "(existing files cannot supply values)")
      require(!meta.schema.fieldNames.exists(_.equalsIgnoreCase(f.name)),
        s"Column '${f.name}' already exists")
      require(!retired.contains(f.name.toLowerCase),
        s"Column name '${f.name}' is retired by a RENAME or DROP (old files " +
          "still carry it physically); pick another name")
    }
    meta.copy(schema = StructType(meta.schema.fields ++ fields))
  }

  /** DDL RENAME COLUMN: metadata-only, via Iceberg's name-mapping answer
    * to formats without field ids (`schema.name-mapping.default`). The
    * schema gets the new name; the old name is recorded as a scan-time
    * alias, and every read COALESCEs the new physical column (files
    * written after the rename) with the old one (files written before) —
    * parquet null-fills whichever a given file lacks, so the per-file
    * resolution is exact. Old files stay readable forever; compaction
    * rewrites them under the new name. Renaming a partition-source, sort,
    * or identifier column is rejected (their names are baked into
    * directory layouts and manifests). */
  def renameColumn(oldName: String, newName: String): Unit = commitRetry { meta =>
    require(meta.schema.fieldNames.exists(_.equalsIgnoreCase(oldName)),
      s"No such column: '$oldName'")
    require(!meta.schema.fieldNames.exists(_.equalsIgnoreCase(newName)),
      s"Column '$newName' already exists")
    require(!meta.partitionSpec.exists(_.column.equalsIgnoreCase(oldName)),
      s"Cannot rename partition column '$oldName'")
    require(!meta.sortOrder.exists(_.column.equalsIgnoreCase(oldName)),
      s"Cannot rename sort column '$oldName'")
    require(!meta.identifierFields.exists(_.equalsIgnoreCase(oldName)),
      s"Cannot rename identifier column '$oldName'")
    val mapping = TableMetadata.parseNameMapping(meta.properties)
    require(!mapping.values.flatten.exists(_.equalsIgnoreCase(newName)) &&
      !TableMetadata.parseRetiredNames(meta.properties).contains(newName.toLowerCase),
      s"Column name '$newName' is retired by an earlier RENAME or DROP (old " +
        "files still carry it physically); pick another name")
    val canonical = meta.schema.fieldNames.find(_.equalsIgnoreCase(oldName)).get
    val newSchema = StructType(meta.schema.fields.map(f =>
      if (f.name.equalsIgnoreCase(oldName)) f.copy(name = newName) else f))
    // chain-collapse: if `oldName` was itself the target of an earlier
    // rename, its aliases follow it to the new name
    val inherited = mapping.getOrElse(canonical,
      mapping.find(_._1.equalsIgnoreCase(canonical)).map(_._2).getOrElse(Nil))
    val updated = mapping.filterNot(_._1.equalsIgnoreCase(canonical)) +
      (newName -> (inherited :+ canonical))
    meta.copy(schema = newSchema, properties = meta.properties +
      (TableMetadata.NameMappingProp -> TableMetadata.renderNameMapping(updated)))
  }

  /** DDL DROP COLUMN: metadata-only — files keep the physical column,
    * every read projects it away. Partition-source, sort and identifier
    * columns are load-bearing and cannot be dropped. The dropped name and
    * every physical alias it carried (from earlier RENAMEs) are retired
    * permanently: its rename-mapping entry is purged so a later column of
    * the same name can never reactivate it, and the names land in
    * [[TableMetadata.RetiredNamesProp]] so ADD COLUMNS / RENAME cannot
    * reuse them (old files still carry the bytes — reuse would resurrect
    * dropped data into an unrelated column). */
  def dropColumns(names: Seq[String]): Unit = commitRetry { meta =>
    names.foreach { n =>
      require(meta.schema.fieldNames.exists(_.equalsIgnoreCase(n)),
        s"No such column: '$n'")
      require(!meta.partitionSpec.exists(_.column.equalsIgnoreCase(n)),
        s"Cannot drop partition column '$n'")
      require(!meta.sortOrder.exists(_.column.equalsIgnoreCase(n)),
        s"Cannot drop sort column '$n'")
      require(!meta.identifierFields.exists(_.equalsIgnoreCase(n)),
        s"Cannot drop identifier column '$n'")
    }
    val lower = names.map(_.toLowerCase).toSet
    val kept = meta.schema.fields.filterNot(f => lower.contains(f.name.toLowerCase))
    require(kept.nonEmpty, "Cannot drop every column")
    val mapping = TableMetadata.parseNameMapping(meta.properties)
    val (droppedEntries, keptMapping) =
      mapping.partition { case (k, _) => lower.contains(k.toLowerCase) }
    val retired = TableMetadata.parseRetiredNames(meta.properties) ++ lower ++
      droppedEntries.values.flatten.map(_.toLowerCase)
    val props = meta.properties +
      (TableMetadata.RetiredNamesProp -> TableMetadata.renderRetiredNames(retired)) ++
      (if (droppedEntries.isEmpty) Map.empty[String, String]
       else Map(TableMetadata.NameMappingProp ->
         TableMetadata.renderNameMapping(keptMapping)))
    meta.copy(schema = StructType(kept), properties = props)
  }

  // ---- write path ---------------------------------------------------

  /** Write-mode dispatcher with the reference's rules: schema evolves
    * add-only before any write, properties land in the same commit as the
    * data, and zero-row data is skipped (`io.py:86-88`). Skip-empty is
    * decided after the write, in [[commitDataFiles]], so the source plan
    * runs once: there is no emptiness probe ahead of the write. */
  def write(df: DataFrame, mode: String,
            mergeOn: Seq[String] = Nil,
            properties: Map[String, String] = Map.empty): Unit = mode match {
    case "append" => append(df, properties)
    case "replace" => replace(df, properties)
    case "merge" =>
      // Keyless merge falls back to the table's stored identifier fields
      // (reference: merge keys persisted at create, `helpers.py:184-187`,
      // read back to drive the upsert, `pyiceberg.py:358-361`).
      val keys = if (mergeOn.nonEmpty) mergeOn else metadata.identifierFields
      if (keys.isEmpty)
        throw new IllegalArgumentException(
          s"Table '$location': write mode 'merge' requires 'merge_on' property " +
            "or identifier fields stored on the table.")
      merge(df, keys, properties)
    case other => throw new IllegalArgumentException(s"Unsupported write mode: '$other'")
  }

  def append(df: DataFrame, properties: Map[String, String] = Map.empty): Unit =
    commitData(df, "append", keepExisting = true, properties, skipEmpty = true)

  def replace(df: DataFrame, properties: Map[String, String] = Map.empty): Unit =
    commitData(df, "replace", keepExisting = false, properties, skipEmpty = true)

  /** Upsert: matched rows (null-safe key equality) take ALL columns from the
    * new data; unmatched new rows are inserted; unmatched existing rows are
    * kept — PyIceberg's `upsert(when_matched_update_all,
    * when_not_matched_insert_all)` (`io.py:95-106`). After add-only schema
    * evolution it is exactly that clause set run through the
    * [[mergeClauses]] engine, with PyIceberg's stricter duplicate rule:
    * ANY duplicate source key raises, matched or not. */
  def merge(df: DataFrame, keys: Seq[String],
            properties: Map[String, String] = Map.empty): Unit = {
    import MergeClauses._
    val (base, meta) = evolveIfNeeded(df.schema)
    val all = meta.schema.fieldNames.map(c => c -> s(c)).toMap
    mergeCore(alignTo(df, meta.schema), keys, base, meta,
      Seq(Update(None, all)), Seq(Insert(None, all)), Nil, properties,
      anyDuplicateRaises = true)
  }

  /** General `MERGE INTO` (SQL-standard clause semantics): ordered
    * conditional WHEN MATCHED UPDATE/DELETE, WHEN NOT MATCHED INSERT,
    * WHEN NOT MATCHED BY SOURCE UPDATE/DELETE — first satisfied clause
    * wins per row, a NULL clause condition is not satisfied, rows no
    * clause claims keep their current state (matched / by-source) or are
    * dropped (unmatched source rows). Clause conditions and assignment
    * values reference the target row via [[MergeClauses.t]] and the
    * source row via [[MergeClauses.s]]. Duplicate source keys matching
    * one target row raise (in-plan guard, before any commit). */
  def mergeClauses(src: DataFrame, keys: Seq[String],
                   matched: Seq[MergeClauses.Clause] = Nil,
                   notMatched: Seq[MergeClauses.Insert] = Nil,
                   notMatchedBySource: Seq[MergeClauses.Clause] = Nil): Unit = {
    import MergeClauses._
    val (base, meta) = metadataAt
    require(keys.nonEmpty, "mergeClauses requires at least one key column")
    keys.foreach { k =>
      require(meta.schema.fieldNames.contains(k), s"Merge key '$k' not in table schema")
      require(src.columns.contains(k), s"Merge key '$k' not in source")
    }
    (matched ++ notMatchedBySource).foreach {
      case _: Insert => throw new IllegalArgumentException(
        "INSERT is only valid in the notMatched clause list")
      case Update(_, set) => set.keys.foreach(c =>
        require(meta.schema.fieldNames.contains(c), s"UPDATE SET of unknown column '$c'"))
      case _: Delete => ()
    }
    notMatched.foreach(ins => ins.values.keys.foreach(c =>
      require(meta.schema.fieldNames.contains(c), s"INSERT into unknown column '$c'")))
    if (matched.isEmpty && notMatched.isEmpty && notMatchedBySource.isEmpty) return
    // keys join/prune with the TARGET column types
    val srcK = keys.foldLeft(src)((d, k) =>
      d.withColumn(k, col(k).cast(meta.schema(k).dataType)))
    mergeCore(srcK, keys, base, meta, matched, notMatched, notMatchedBySource,
      Map.empty, anyDuplicateRaises = false)
  }

  /** The one merge engine, behind [[merge]] and [[mergeClauses]].
    *
    * Copy-on-write on touched files only: one O(delta) agg job takes the
    * source's row count and key bounds, which intersect each manifest
    * entry's column bounds; files that cannot contain a source key carry
    * into the new snapshot verbatim, and only touched files are read. A
    * small delta into a large table costs O(delta + touched), not
    * O(table) — Iceberg's upsert cost model. `notMatchedBySource` clauses
    * read every target row's match state, so they rewrite the whole table
    * (the SQL shape itself is O(table); there is nothing to prune).
    *
    * With no touched file (an empty table, an empty source, or keys
    * outside every file's bounds) no target row can change, so the
    * source's inserts are written with no join; an empty table also skips
    * the bounds job. Without matched or by-source clauses the inserts
    * anti-join a key-only scan of the touched files. Everything else is
    * one full outer join of the touched target rows with the source.
    *
    * Duplicate source keys raise from an in-plan window guard inside the
    * write job, before any commit: on matched rows (SQL MERGE), or on
    * every source row when `anyDuplicateRaises` (PyIceberg's upsert —
    * a silent full-outer-join row multiplication would corrupt the table,
    * SURVEY §7.4 risk 1). */
  private def mergeCore(src: DataFrame, keys: Seq[String],
                        base: Int, meta: TableMetadata,
                        matched: Seq[MergeClauses.Clause],
                        notMatched: Seq[MergeClauses.Insert],
                        notMatchedBySource: Seq[MergeClauses.Clause],
                        properties: Map[String, String],
                        anyDuplicateRaises: Boolean): Unit = {
    import MergeClauses._
    val files = meta.currentSnapshot.map(_.files).getOrElse(Nil)
    val prune = files.nonEmpty && notMatchedBySource.isEmpty
    // Persisted when pruning: the source then feeds the bounds job, the
    // keyset probe AND the merge, and extractor plans can be expensive to
    // recompute.
    val source =
      if (prune) src.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else src
    try {
      val (touched, untouched) =
        if (!prune) (files, Seq.empty[DataFile])
        else {
          val (rows, bounds) = sourceKeyBounds(source, meta.schema, keys)
          if (rows == 0) (Nil, files)
          else {
            val zone = spark.sessionState.conf.sessionLocalTimeZone
            val (bt, bc) = files.partition(f => FileStats.touches(
              FileStats.withPartitionStats(f, meta, zone), bounds))
            val (tt, kc) = transformKeysetSplit(source, meta, keys, bt)
            (tt, bc ++ kc)
          }
        }
      if (touched.isEmpty && notMatched.isEmpty) return
      val insertOnly = touched.isEmpty || (matched.isEmpty && notMatchedBySource.isEmpty)

      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keys.map(k => col(SourcePrefix + k)).toIndexedSeq: _*)
      val sFrame = source
        .select(source.columns.map(c => col(c).as(SourcePrefix + c)).toIndexedSeq: _*)
        .withColumn(SourcePrefix + "present", lit(1))
        .withColumn(SourcePrefix + "cnt", count(lit(1)).over(w))
      val keyMatch = keys.map(k =>
        col(TargetPrefix + k) <=> col(SourcePrefix + k)).reduce(_ && _)
      def targetFrame(cols: Seq[String]): DataFrame =
        readWithPartitions(meta, Some(touched))
          .select(cols.map(c => col(c).as(TargetPrefix + c)).toIndexedSeq: _*)
      // first clause whose condition holds (NULL = not satisfied)
      def firstIdx(cs: Seq[Clause]): Column =
        cs.zipWithIndex.foldRight(lit(-1)) { case ((cl, i), acc) =>
          when(coalesce(cl.condition.getOrElse(lit(true)), lit(false)), lit(i))
            .otherwise(acc)
        }
      def insertValue(f: StructField): Column =
        notMatched.zipWithIndex.foldLeft(lit(null).cast(f.dataType)) {
          case (acc, (ins, j)) => ins.values.get(f.name) match {
            case Some(v) => when(col("__ni") === j, v.cast(f.dataType)).otherwise(acc)
            case None => acc
          }
        }
      val dupMsg = s"$DupMarker for key(s) ${keys.mkString(", ")}"
      def guarded(frame: DataFrame, isMatched: Column)(value: StructField => Column) = {
        val dupHit = (if (anyDuplicateRaises) lit(true) else isMatched) &&
          col(SourcePrefix + "cnt") > 1
        frame.select(meta.schema.fields.zipWithIndex.map { case (f, i) =>
          // the guard rides on the first output column so pruning can't drop it
          (if (i == 0) when(dupHit, raise_error(lit(dupMsg))).otherwise(value(f))
           else value(f)).as(f.name)
        }.toIndexedSeq: _*)
      }

      val (result, carry) =
        if (insertOnly) {
          val fresh =
            if (touched.isEmpty) sFrame
            else sFrame.join(targetFrame(keys), keyMatch, "left_anti")
          (guarded(fresh.withColumn("__ni", firstIdx(notMatched))
            .where(col("__ni") =!= -1), lit(false))(insertValue), files)
        } else {
          val joined = targetFrame(meta.schema.fieldNames.toIndexedSeq)
            .withColumn(TargetPrefix + "present", lit(1))
            .join(sFrame, keyMatch, "full_outer")
          val isMatched = col(TargetPrefix + "present").isNotNull &&
            col(SourcePrefix + "present").isNotNull
          val srcOnly = col(TargetPrefix + "present").isNull &&
            col(SourcePrefix + "present").isNotNull
          val frame = joined
            .withColumn("__mi", when(isMatched, firstIdx(matched)).otherwise(lit(-1)))
            .withColumn("__ni", when(srcOnly, firstIdx(notMatched)).otherwise(lit(-1)))
            .withColumn("__bi", when(!isMatched && !srcOnly,
              firstIdx(notMatchedBySource)).otherwise(lit(-1)))
          def notDeleted(idx: Column, cs: Seq[Clause]): Column = {
            val dels = cs.zipWithIndex.collect { case (_: Delete, i) => i }
            if (dels.isEmpty) lit(true) else !idx.isin(dels: _*)
          }
          val keep = when(isMatched, notDeleted(col("__mi"), matched))
            .when(srcOnly, col("__ni") =!= -1)
            .otherwise(notDeleted(col("__bi"), notMatchedBySource))
          def updateChain(cs: Seq[Clause], idx: Column, base: Column,
                          f: StructField): Column =
            cs.zipWithIndex.foldLeft(base) { case (acc, (cl, j)) => cl match {
              case Update(_, set) => set.get(f.name) match {
                case Some(v) => when(idx === j, v.cast(f.dataType)).otherwise(acc)
                case None => acc
              }
              case _ => acc
            }}
          (guarded(frame.filter(keep), isMatched) { f =>
            val keepVal = col(TargetPrefix + f.name)
            when(isMatched, updateChain(matched, col("__mi"), keepVal, f))
              .when(srcOnly, insertValue(f))
              .otherwise(updateChain(notMatchedBySource, col("__bi"), keepVal, f))
          }, untouched)
        }
      try commitData(result, "merge", keepExisting = false, properties,
        preEvolved = Some((base, meta)), carryFiles = carry, skipEmpty = insertOnly)
      catch {
        case e: Throwable if causeChain(e).exists(
            m => m != null && m.contains(DupMarker)) =>
          throw new IllegalArgumentException(dupMsg)
      }
    } finally if (prune) source.unpersist()
  }

  /** Row-level DELETE with the same copy-on-write economics as merge:
    * the (resolved) predicate's manifest-bounds check splits the file list
    * into possibly-matching and provably-unmatched; only possibly-matching
    * files are rewritten without their deleted rows, the rest carry into
    * the new snapshot verbatim. Deleting a bounded key range from a
    * 100 TB table costs O(touched files). SQL-standard null semantics:
    * rows where the predicate is NULL are kept. No-op (no commit) when no
    * file can match. The training-data use: purge contaminated documents
    * by id/fingerprint without rewriting the corpus. */
  def delete(condition: Column): Unit = {
    val (base, meta) = metadataAt
    val files = meta.currentSnapshot.map(_.files).getOrElse(Nil)
    if (files.isEmpty) return
    val (touched, untouched) = splitByPredicate(meta, files, condition)
    if (touched.isEmpty) return
    val remaining = readWithPartitions(meta, Some(touched))
      .select(meta.schema.fieldNames.map(col).toIndexedSeq: _*)
      .filter(!coalesce(condition, lit(false)))
    commitData(remaining, "delete", keepExisting = false, Map.empty,
      preEvolved = Some((base, meta)), carryFiles = untouched)
  }

  /** Row-level UPDATE (SET columns WHERE condition), copy-on-write on
    * possibly-matching files only; unmatched rows in touched files are
    * rewritten unchanged, untouched files carry verbatim. */
  def update(set: Map[String, Column], condition: Column): Unit = {
    val (base, meta) = metadataAt
    set.keys.foreach(k => require(meta.schema.fieldNames.contains(k),
      s"UPDATE of unknown column '$k'"))
    val files = meta.currentSnapshot.map(_.files).getOrElse(Nil)
    if (files.isEmpty) return
    val (touched, untouched) = splitByPredicate(meta, files, condition)
    if (touched.isEmpty) return
    val matched = coalesce(condition, lit(false))
    val updated = readWithPartitions(meta, Some(touched))
      .select(meta.schema.fieldNames.map(col).toIndexedSeq: _*)
      .select(meta.schema.fields.map { f =>
        set.get(f.name) match {
          case Some(v) => when(matched, v.cast(f.dataType))
            .otherwise(col(f.name)).as(f.name)
          case None => col(f.name)
        }
      }.toIndexedSeq: _*)
    commitData(updated, "update", keepExisting = false, Map.empty,
      preEvolved = Some((base, meta)), carryFiles = untouched)
  }

  /** (possibly-matching, provably-unmatched) split of `files` for a
    * predicate: resolve it against the table once, then evaluate the
    * manifest bounds per file. */
  private def splitByPredicate(meta: TableMetadata, files: Seq[DataFile],
                               condition: Column): (Seq[DataFile], Seq[DataFile]) = {
    val resolved = readWithPartitions(meta, Some(files.take(0)))
      .select(meta.schema.fieldNames.map(col).toIndexedSeq: _*)
      .filter(condition).queryExecution.analyzed.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }
    resolved match {
      case Some(cond) =>
        // identity-partition columns get exact bounds from their manifest
        // partition values (evaluation-only augmentation); transform
        // partitions prune via predicate projection onto partition values
        val zone = spark.sessionState.conf.sessionLocalTimeZone
        val allowed = TransformPruning.allowedValues(
          TransformPruning.splitConjuncts(cond), meta, zone)
        files.partition(f => FileStats.mayMatchExpr(cond,
            FileStats.withPartitionStats(f, meta, zone), meta.schema) &&
          TransformPruning.prune(Seq(f), allowed).nonEmpty)
      case None => (files, Nil) // cannot introspect: rewrite everything
    }
  }

  /** (still-touched, additionally-carried) refinement of a merge's
    * touched files for keys that are also transform-partition source
    * columns: collect the delta's distinct key values (capped — a huge
    * keyset means most partitions are touched anyway and the collect
    * isn't worth it), project each through the partition transform, and
    * carry files of every other partition verbatim. One bounded
    * distinct job per such key over the already-persisted source. */
  private def transformKeysetSplit(src: DataFrame, meta: TableMetadata,
      keys: Seq[String], touched: Seq[DataFile]): (Seq[DataFile], Seq[DataFile]) = {
    val fields = meta.partitionSpec
      .filterNot(_.parsed == PartitionTransform.Identity)
      .filter(p => keys.contains(p.column))
    if (fields.isEmpty || touched.isEmpty) return (touched, Nil)
    val zone = spark.sessionState.conf.sessionLocalTimeZone
    var allowed = Map.empty[String, Set[Option[String]]]
    fields.foreach { p =>
      val dt = meta.schema(p.column).dataType
      val rows = src.select(col(p.column)).distinct()
        .limit(MergeKeysetCap + 1).collect()
      if (rows.length <= MergeKeysetCap) {
        val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
          .createToCatalystConverter(dt)
        // null keys project through the transform too (bucket puts them
        // in the seed-hash bucket, NOT the null partition)
        val proj: Seq[Option[Option[String]]] = rows.toSeq.map { r =>
          TransformPruning.projectValue(p.parsed,
            if (r.isNullAt(0)) null else conv(r.get(0)), dt, zone)
        }
        if (!proj.exists(_.isEmpty)) allowed += p.fieldName -> proj.flatten.toSet
      }
    }
    if (allowed.isEmpty) (touched, Nil)
    else touched.partition(f => TransformPruning.prune(Seq(f), allowed).nonEmpty)
  }

  /** The source's row count and the encoded min/max/has-null of each
    * merge-key column, in one job — the probe side of the touched-file
    * split. Bounds become `unknown` (match everything) for unsupported
    * types or unencodable values. */
  private def sourceKeyBounds(src: DataFrame, schema: StructType,
      keys: Seq[String]): (Long, Map[String, FileStats.KeyBounds]) = {
    val aggs = count(lit(1)).as("__rows") +: keys.flatMap(k => Seq(
      min(col(k)).as(s"__min_$k"), max(col(k)).as(s"__max_$k"),
      sum(col(k).isNull.cast("long")).as(s"__null_$k")))
    val row = src.agg(aggs.head, aggs.tail: _*).head()
    row.getLong(0) -> keys.zipWithIndex.map { case (k, i) =>
      val dt = schema(k).dataType
      if (!FileStats.supported(dt))
        k -> FileStats.KeyBounds(dt, None, None, hasNull = false, unknown = true)
      else {
        val mnRaw = row.get(3 * i + 1)
        val mxRaw = row.get(3 * i + 2)
        val mn = Option(mnRaw).flatMap(FileStats.encode(_, dt))
        val mx = Option(mxRaw).flatMap(FileStats.encode(_, dt))
        // a non-null value that failed to encode leaves the true range
        // unknowable -> never prune on this column
        val unknown = (mnRaw != null && mn.isEmpty) || (mxRaw != null && mx.isEmpty)
        val nulls = if (row.isNullAt(3 * i + 3)) 0L else row.getLong(3 * i + 3)
        k -> FileStats.KeyBounds(dt, mn, mx, hasNull = nulls > 0, unknown = unknown)
      }
    }.toMap
  }

  private def causeChain(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10)
      .map(_.getMessage).toSeq

  /** Add-only schema evolution before a write; returns the (version,
    * metadata) the subsequent data commit must CAS against. */
  private def evolveIfNeeded(incoming: StructType): (Int, TableMetadata) = {
    var attempt = 0
    while (true) {
      val (base, meta) = metadataAt
      SchemaEvolution.evolve(meta.schema, incoming) match {
        case Some(newSchema) =>
          val newMeta = meta.copy(schema = newSchema)
          try { commitCas(base, newMeta); return (base + 1, newMeta) }
          catch {
            case e: ConcurrentCommitException =>
              attempt += 1
              if (attempt > LakeTable.MaxCommitRetries) throw e
          }
        case None => return (base, meta)
      }
    }
    sys.error("unreachable")
  }

  /** Null-fill columns of `schema` missing from df, in schema order. */
  private def alignTo(df: DataFrame, schema: StructType): DataFrame =
    df.select(schema.fields.map { f =>
      if (df.columns.contains(f.name)) col(f.name).cast(f.dataType)
      else lit(null).cast(f.dataType).as(f.name)
    }.toIndexedSeq: _*)

  /** Next snapshot id: one past the LARGEST id in the log (not
    * currentSnapshotId + 1 — a staged WAP snapshot can hold an id above
    * the current pointer, and ids must stay unique). Identical to the
    * old rule on linear histories, where current == max. */
  private def nextSnapshotId(meta: TableMetadata): Long =
    (meta.currentSnapshotId +: meta.snapshots.map(_.id)).max + 1

  private def commitData(df: DataFrame, op: String, keepExisting: Boolean,
                         properties: Map[String, String],
                         preEvolved: Option[(Int, TableMetadata)] = None,
                         carryFiles: Seq[DataFile] = Nil,
                         skipEmpty: Boolean = false): Unit = {
    val (base, meta) = preEvolved.getOrElse(evolveIfNeeded(df.schema))
    val snapRel = writeSnapshotDir(df, meta, s"snap-${nextSnapshotId(meta)}")
    commitDataFiles(op, keepExisting, properties, carryFiles,
      base, meta, snapRel, skipEmpty)
  }

  /** Write the delta under a `data/<dirName>` directory (uniquified only
    * when a concurrent writer already claimed the deterministic name) and
    * return the relative path. Our own failed partial writes are cleaned
    * up; a pre-existing directory belongs to someone else and is not. */
  private def writeSnapshotDir(df: DataFrame, meta: TableMetadata,
                               dirName: String): String = {
    val aligned = alignTo(df, meta.schema)

    // Derived partition columns + write-layout sort (sort is write-layout
    // only, queries still need ORDER BY — helpers.py:251-256).
    val derived = meta.partitionSpec.filterNot(_.parsed == PartitionTransform.Identity)
    val withDerived = derived.foldLeft(aligned) { (d, p) =>
      d.withColumn(p.fieldName, p.parsed(col(p.column), meta.schema(p.column).dataType))
    }
    val partCols = meta.partitionSpec.map(_.fieldName)
    // Iceberg's write.distribution-mode=hash: cluster rows by partition
    // value before the write so each partition is written by one task —
    // without it, N tasks x P partitions can emit N*P small files per
    // commit. One shuffle per write; worth it when many tasks feed many
    // partitions. Opt-in via table property (default: no extra shuffle).
    val distributed =
      if (partCols.nonEmpty &&
          meta.properties.get(PropDistributionMode).contains("hash"))
        withDerived.repartition(partCols.map(col): _*)
      else withDerived
    val sorted =
      if (meta.sortOrder.nonEmpty)
        distributed.sortWithinPartitions(meta.sortOrder.map(s =>
          if (s.ascending) col(s.column).asc else col(s.column).desc): _*)
      else distributed

    // claim the output directory ATOMICALLY before the Spark write — a
    // plain errorifexists write races (two writers can both pass the
    // existence check and then clobber each other's _temporary files).
    // mkdir is the CAS; a loser (or a crashed writer's leftover) shunts
    // to a uniquified name — the manifest stores the path either way.
    def claim(rel: String): Boolean = {
      Files.createDirectories(dataDir)
      try { Files.createDirectory(Paths.get(location, rel)); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    }
    val rel0 = s"data/$dirName"
    val rel =
      if (claim(rel0)) rel0
      else {
        val alt = s"$rel0-${java.util.UUID.randomUUID().toString.take(8)}"
        require(claim(alt), s"Could not claim snapshot directory $alt")
        alt
      }
    // append mode: the claimed directory exists (and is empty, it's ours)
    val writer = sorted.write.mode("append")
    try {
      (if (partCols.nonEmpty) writer.partitionBy(partCols: _*) else writer)
        .parquet(s"$location/$rel")
      rel
    } catch {
      case e: Throwable =>
        // a failed write must not leave a partial directory squatting on
        // the claimed snapshot path
        deleteRecursively(Paths.get(location, rel))
        throw e
    }
  }

  /** Manifest commit of a written snapshot directory, CASed against the
    * base version. Appends (`keepExisting`) rebase on conflict (re-read,
    * recompute the kept file list, re-CAS — the delta is
    * order-independent); every other op computed its output FROM the base
    * state, so a conflict aborts with the snapshot directory cleaned up.
    * A staged commit (`publish = false`) adds its snapshot without moving
    * the current pointer, and its operation records the base snapshot it
    * was computed against. Returns the committed snapshot id (the
    * unchanged current id when skipped).
    *
    * Skip-empty (L4, `io.py:86-88`) is decided here, after the write,
    * for every write mode: a `skipEmpty` write that produced no rows
    * leaves no snapshot or directory behind. A replace or merge still
    * commits its properties (an index rebuild over an empty corpus must
    * refresh its build stamp, not leave a stale one); an append commits
    * nothing. */
  private def commitDataFiles(op: String, keepExisting: Boolean,
                              properties: Map[String, String],
                              carryFiles: Seq[DataFile],
                              base0: Int, meta0: TableMetadata,
                              snapRel: String, skipEmpty: Boolean,
                              publish: Boolean = true): Long = {
    val newFiles = newFileEntries(snapRel, meta0)
    if (skipEmpty && newFiles.forall(_.rowCount == 0)) {
      deleteRecursively(Paths.get(location, snapRel))
      if (!keepExisting && properties.nonEmpty) writeProperties(properties)
      return meta0.currentSnapshotId
    }
    var base = base0
    var meta = meta0
    var attempt = 0
    while (true) {
      val oldFiles =
        if (keepExisting) meta.currentSnapshot.map(_.files).getOrElse(Nil) else Nil
      // carryFiles: untouched files a copy-on-write merge carries forward
      // verbatim (manifest entries, bounds and all)
      val snap = Snapshot(nextSnapshotId(meta), System.currentTimeMillis(),
        if (publish) op else s"$op-base-${meta.currentSnapshotId}",
        carryFiles ++ oldFiles ++ newFiles, Some(meta0.schema.json))
      try {
        commitCas(base, meta.copy(
          snapshots = meta.snapshots :+ snap,
          currentSnapshotId = if (publish) snap.id else meta.currentSnapshotId,
          properties = meta.properties ++ properties))
        return snap.id
      } catch {
        case e: ConcurrentCommitException =>
          attempt += 1
          val (b2, m2) = metadataAt
          // appends rebase (onto an unchanged schema); everything else read
          // table state that has since moved — abort, clean our data up
          if (!keepExisting || attempt > LakeTable.MaxCommitRetries ||
              m2.schema != meta0.schema) {
            deleteRecursively(Paths.get(location, snapRel))
            throw new ConcurrentCommitException(
              s"$op on '$location' lost a commit race and cannot rebase " +
                s"(base version $base moved to $b2): ${e.getMessage}")
          }
          base = b2; meta = m2
      }
    }
    sys.error("unreachable")
  }

  /** Manifest entries for the files just written under `snapRel`: partition
    * values parsed from the Hive-style directory names, plus per-column
    * min/max/null-count bounds collected in ONE Spark job over the delta
    * (grouped by `input_file_name`) — O(delta), never O(table). These bounds
    * are what lets `merge` rewrite only touched files and lets scans skip
    * files whose range can't match a filter (Iceberg-manifest economics). */
  private def newFileEntries(snapRel: String, meta: TableMetadata): Seq[DataFile] = {
    val paths = listParquet(Paths.get(location, snapRel))
    val rels = paths.map(p => Paths.get(location).relativize(p).toString)
    if (paths.isEmpty) return Nil
    val partByRel0 = rels.map(r => r -> partitionValuesOf(r)).toMap
    // Footer-first (r15, guide §6): the freshly written files' parquet
    // footers already carry exact row counts, null counts and chunk
    // min/max, so the manifest entries come from a driver-side footer
    // walk — the Spark-aggregation pass it replaces re-read the ENTIRE
    // delta once more per commit (one extra job and an O(delta) read on
    // every lake write: each streaming drain, each d51 stage, every
    // container shard write). Bounds are taken only where parquet's
    // ordering provably matches [[FileStats]]'s comparison semantics;
    // everything else degrades to ABSENT bounds, which every consumer
    // treats as "may match" (pruning widens, never narrows). The
    // aggregation pass remains as the fallback for any footer surprise.
    try return footerFileEntries(paths, rels, partByRel0, meta)
    catch { case e: Exception =>
      System.err.println(s"[lake] footer stats failed (${e.getMessage}); " +
        "falling back to the aggregation pass")
    }
    newFileEntriesAgg(paths, rels, partByRel0, meta)
  }

  /** Manifest entries from the parquet footers alone — zero Spark jobs.
    * Per Spark type, bounds are kept only when parquet's statistics
    * ordering equals [[FileStats.mayOverlap]]'s decode-and-compare order:
    *  - signed integers, longs, booleans, dates, INT64 timestamps
    *    (MICROS/MILLIS): total orders agree — bounds are EXACT;
    *  - strings: parquet compares unsigned BYTES, FileStats compares
    *    UTF-16 code units; the orders agree on any comparison whose
    *    smaller side is all-ASCII, so an all-ASCII footer bound (within
    *    [[FileStats.MaxStringBound]]) is sound and anything else is
    *    dropped (also covers writer-side truncation: a truncated max is
    *    byte-order-valid, and if the truncator's increment produced a
    *    non-ASCII char it is dropped here);
    *  - float/double: parquet statistics silently EXCLUDE NaN while the
    *    aggregation path's Spark max() ranks NaN greatest (and then
    *    refuses to encode it, leaving bounds absent) — a footer bound
    *    could therefore be NARROWER than the NaN-aware truth and
    *    mis-prune a merge keyed on NaN, so bounds are never taken;
    *  - decimals, INT96 timestamps: physical encodings with their own
    *    comparison pitfalls — bounds are never taken.
    * Null counts transfer exactly when the footer carries them (the
    * all-null file pruning in [[FileStats.mayOverlap]] keys on
    * nullCount == valueCount); an unset count degrades to -1 (“unknown”,
    * may match). */
  private def footerFileEntries(paths: Seq[java.nio.file.Path], rels: Seq[String],
                                partByRel: Map[String, Map[String, Option[String]]],
                                meta: TableMetadata): Seq[DataFile] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import scala.jdk.CollectionConverters._
    val conf = spark.sessionState.newHadoopConf()
    val partFieldNames = meta.partitionSpec.map(_.fieldName).toSet
    val fileFields = meta.schema.fields.filterNot(f => partFieldNames.contains(f.name))
    val statable = fileFields.filter(f => FileStats.supported(f.dataType)).toSeq
    paths.zip(rels).map { case (p, rel) =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p.toUri), conf))
      val footer = try reader.getFooter finally reader.close()
      val blocks = footer.getBlocks.asScala.toSeq
      val rowCount = blocks.map(_.getRowCount).sum
      val stats = statable.flatMap { f =>
        val chunks = blocks.flatMap(_.getColumns.asScala
          .find(_.getPath.toDotString == f.name))
        if (chunks.isEmpty || chunks.exists(c => c.getStatistics == null)) None
        else {
          val sts = chunks.map(_.getStatistics)
          val nullCount =
            if (sts.forall(_.isNumNullsSet)) sts.map(_.getNumNulls).sum else -1L
          val prim = chunks.head.getPrimitiveType
          val logical = prim.getLogicalTypeAnnotation
          def enc(v: Any): Option[String] = (f.dataType, v) match {
            case (_: ByteType | _: ShortType | _: IntegerType, x: java.lang.Integer) =>
              Some(x.longValue().toString)
            case (_: LongType, x: java.lang.Long) => Some(x.toString)
            case (_: BooleanType, x: java.lang.Boolean) =>
              Some(if (x.booleanValue()) "1" else "0")
            case (_: DateType, x: java.lang.Integer) => Some(x.toString)
            case (_: TimestampType | _: TimestampNTZType, x: java.lang.Long) =>
              logical match {
                case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                  t.getUnit match {
                    case LogicalTypeAnnotation.TimeUnit.MICROS => Some(x.toString)
                    case LogicalTypeAnnotation.TimeUnit.MILLIS =>
                      Some(math.multiplyExact(x.longValue(), 1000L).toString)
                    case _ => None
                  }
                case _ => None
              }
            case (_: StringType, b: org.apache.parquet.io.api.Binary) =>
              val s = new String(b.getBytes, java.nio.charset.StandardCharsets.UTF_8)
              if (s.length <= FileStats.MaxStringBound &&
                s.forall(_ < 0x80)) Some(s) else None
            case _ => None // float/double/decimal/INT96: never taken
          }
          // per-chunk canonical bounds; all-null chunks contribute none.
          // Any chunk whose bound refuses to encode poisons the column
          // (a partial merge could be narrower than the truth).
          val chunkBounds: Seq[Option[(String, String)]] = sts.map { st =>
            if (!st.hasNonNullValue) None
            else if (prim.getPrimitiveTypeName == PrimitiveTypeName.INT96) None
            else (enc(st.genericGetMin), enc(st.genericGetMax)) match {
              case (Some(a), Some(b)) => Some((a, b))
              case _ => None
            }
          }
          val poisoned = sts.zip(chunkBounds)
            .exists { case (st, b) => st.hasNonNullValue && b.isEmpty }
          val present = chunkBounds.flatten
          val (lo, hi) =
            if (poisoned || present.isEmpty) (None, None)
            else f.dataType match {
              // every accepted non-string encoding is a signed long in
              // canonical form; ASCII strings compare consistently under
              // both parquet byte order and String order
              case _: StringType =>
                (Some(present.map(_._1).min), Some(present.map(_._2).max))
              case _ =>
                (Some(present.map(_._1.toLong).min.toString),
                  Some(present.map(_._2.toLong).max.toString))
            }
          if (lo.isEmpty && hi.isEmpty && nullCount < 0) None
          else Some(f.name -> ColumnStats(lo, hi, nullCount, rowCount))
        }
      }.toMap
      val size = try Files.size(p) catch { case _: Exception => -1L }
      DataFile(rel, rowCount, partByRel(rel), stats, size)
    }
  }

  /** The pre-r15 aggregation form of [[newFileEntries]] — one Spark job
    * re-reading the whole delta. Kept as the fallback when a footer
    * cannot be read or parsed. */
  private def newFileEntriesAgg(paths: Seq[java.nio.file.Path], rels: Seq[String],
                                partByRel: Map[String, Map[String, Option[String]]],
                                meta: TableMetadata): Seq[DataFile] = {
    // columns physically present in the files: the data schema minus
    // identity-partitioned columns (those live in directory names)
    val partFieldNames = meta.partitionSpec.map(_.fieldName).toSet
    val fileFields = meta.schema.fields.filterNot(f => partFieldNames.contains(f.name))
    val statable = fileFields.filter(f => FileStats.supported(f.dataType)).toSeq
    val df = spark.read.schema(StructType(fileFields))
      .parquet(paths.map(_.toString): _*)
    val aggs = count(lit(1)).as("__n") +: statable.zipWithIndex.flatMap { case (f, i) =>
      Seq(min(col(f.name)).as(s"__min_$i"), max(col(f.name)).as(s"__max_$i"),
        sum(col(f.name).isNull.cast("long")).as(s"__null_$i"))
    }
    val rows = df.groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail: _*).collect()
    val statsByRel = rows.flatMap { r =>
      val uri = r.getString(0)
      val decoded = try new java.net.URI(uri).getPath catch { case _: Exception => uri }
      rels.find(rel => uri.endsWith("/" + rel) || decoded.endsWith("/" + rel)).map { rel =>
        val n = r.getLong(1)
        val stats = statable.zipWithIndex.map { case (f, i) =>
          val mn = Option(r.get(2 + 3 * i)).flatMap(FileStats.encode(_, f.dataType))
          val mx = Option(r.get(3 + 3 * i)).flatMap(FileStats.encode(_, f.dataType))
          f.name -> ColumnStats(mn, mx, r.getLong(4 + 3 * i), n)
        }.toMap
        rel -> (n, stats)
      }
    }.toMap
    val sizeByRel = paths.zip(rels).map { case (p, rel) =>
      rel -> (try Files.size(p) catch { case _: Exception => -1L })
    }.toMap
    rels.map { rel =>
      statsByRel.get(rel) match {
        case Some((n, stats)) => DataFile(rel, n, partByRel(rel), stats, sizeByRel(rel))
        case None =>
          // absent from the grouped stats = the file contributed no rows
          // (usually a zero-row part file) OR its URI didn't match back;
          // count it directly — one tiny single-file job in a rare path —
          // so the manifest rowCount stays trustworthy
          val n = try spark.read.schema(StructType(fileFields))
            .parquet(s"$location/$rel").count() catch { case _: Exception => -1L }
          DataFile(rel, n, partByRel(rel), Map.empty, sizeByRel(rel))
      }
    }
  }

  // ---- maintenance (R9) ---------------------------------------------

  /** Rewrite the table into ~targetFiles files per partition dir (small-file
    * compaction; Trino `ALTER TABLE EXECUTE optimize` equivalent). */
  def compact(targetFiles: Int = 1): Unit = {
    // capture (base, meta) FIRST: the data plan and the CAS base must
    // come from the same version, or a commit landing in between would
    // be silently dropped by the rewrite
    val (base, meta) = metadataAt
    // no live data: nothing to rewrite, so no (empty) compact commit
    if (meta.currentSnapshot.forall(_.files.isEmpty)) return
    val current = readWithPartitions(meta, None)
      .select(meta.schema.fieldNames.map(col).toIndexedSeq: _*)
    // preEvolved: an internal rewrite of existing data never re-validates
    // schema compatibility (parquet reads relax nullability).
    commitData(current.coalesce(math.max(1, targetFiles)), "compact",
      keepExisting = false, Map.empty, preEvolved = Some((base, meta)))
  }

  /** Incremental compaction: bin-pack only files SMALLER than
    * `minFileSizeBytes` into ~targetFiles replacements and carry every
    * already-well-sized file into the new snapshot verbatim — Iceberg's
    * `rewrite_data_files(file_size_threshold)` cost model. On a 100 TB
    * table accumulating small incremental commits this is O(small files)
    * per run, where full `compact()` is O(table). Files with unknown size
    * (legacy manifests) count as small. No-op (no commit) when nothing
    * qualifies or the small set is already a single file. */
  def compactSmallFiles(minFileSizeBytes: Long,
                        targetFiles: Int = 1): Unit = {
    val (base, meta) = metadataAt
    val files = meta.currentSnapshot.map(_.files).getOrElse(Nil)
    val (small, big) = files.partition(f =>
      f.sizeBytes < 0 || f.sizeBytes < minFileSizeBytes)
    if (small.size <= math.max(1, targetFiles)) return
    val smallData = readWithPartitions(meta, Some(small))
      .select(meta.schema.fieldNames.map(col).toIndexedSeq: _*)
    commitData(smallData.coalesce(math.max(1, targetFiles)), "compact",
      keepExisting = false, Map.empty, preEvolved = Some((base, meta)),
      carryFiles = big)
  }

  /** Z-order rewrite: cluster the table by the interleaved bit pattern of
    * several numeric columns so manifest min/max bounds become selective
    * on EVERY listed column (a lexicographic sort only helps the first).
    * Trino's `ALTER TABLE EXECUTE optimize` + Delta's `OPTIMIZE ZORDER BY`
    * role for multi-dimensional pruning.
    *
    * Each column normalizes to 16 bits against its table-wide min/max
    * (one O(table) stats job), the bits interleave into a single z-value,
    * and the rewrite range-partitions + sorts on it — so each output
    * file covers a small hyper-rectangle of the key space and a point or
    * range predicate on ANY z-column skips most files via the ordinary
    * bounds check. O(table) like any clustering rewrite; run it as a
    * maintenance pass, the way the engines above do. */
  def zorderBy(cols: Seq[String], targetFiles: Int = 16): Unit = {
    require(cols.size >= 2, "zorderBy needs at least two columns " +
      "(use sortOrder for one)")
    require(cols.size * 16 <= 63, s"Too many z-order columns: ${cols.size}")
    val (base, meta) = metadataAt
    cols.foreach { c =>
      val dt = meta.schema(c).dataType
      require(dt.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"zorderBy supports numeric columns, '$c' is $dt")
    }
    if (meta.currentSnapshot.forall(_.files.isEmpty)) return
    val data = readWithPartitions(meta, None)
      .select(meta.schema.fieldNames.map(col).toIndexedSeq: _*)
    // table-wide [min,max] per column, one job
    val aggs = cols.flatMap(c => Seq(
      min(col(c).cast("double")).as(s"__min_$c"),
      max(col(c).cast("double")).as(s"__max_$c")))
    val row = data.agg(aggs.head, aggs.tail: _*).head()
    val bounds = cols.zipWithIndex.map { case (c, i) =>
      val lo = if (row.isNullAt(2 * i)) 0.0 else row.getDouble(2 * i)
      val hi = if (row.isNullAt(2 * i + 1)) 0.0 else row.getDouble(2 * i + 1)
      c -> (lo, math.max(hi - lo, java.lang.Double.MIN_VALUE))
    }.toMap
    // 16-bit normalized rank per column (nulls sort first at 0)
    def norm16(c: String): Column = {
      val (lo, range) = bounds(c)
      least(greatest(((col(c).cast("double") - lo) / range * 65535.0)
        .cast("long"), lit(0L)), lit(65535L))
    }
    val n = cols.size
    val zv = (0 until 16).flatMap(j => cols.zipWithIndex.map { case (c, i) =>
      shiftleft(shiftright(norm16(c), j).bitwiseAND(lit(1L)), j * n + i)
    }).reduce(_ + _)
    // range-partition on the QUANTIZED z-cell id, not the raw z-value:
    // range boundaries then always align to whole cells of the key space
    // (the sampling-picked raw-z boundaries would straddle cell borders,
    // smearing one cell's rows across two files and widening both files'
    // bounds to the union)
    val files = math.max(1, targetFiles)
    val cellBits = 64 - java.lang.Long.numberOfLeadingZeros(
      math.max(1L, files.toLong - 1))
    val shift = math.max(0, 16 * n - cellBits.toInt)
    val arranged = data
      .withColumn("__zv", zv)
      .withColumn("__zq", shiftright(col("__zv"), shift))
      .repartitionByRange(files, col("__zq"))
      .sortWithinPartitions("__zv")
    // commitData aligns to the declared schema (dropping __zv) without
    // disturbing the physical row order
    commitData(arranged, "compact", keepExisting = false, Map.empty,
      preEvolved = Some((base, meta)))
  }

  /** Roll the table back to a retained snapshot (Iceberg
    * `rollback_to_snapshot` / Delta RESTORE): a NEW "rollback" commit whose
    * file list is the target snapshot's. History is preserved — the
    * rolled-past commits stay in the log for audit (and expire later) —
    * and the rollback itself is one atomic metadata swap; no data files
    * move. The CURRENT schema is kept (Iceberg semantics): files written
    * before later column adds read with null fill, and a rollback cannot
    * resurrect dropped columns. */
  def rollbackTo(snapshotId: Long,
                 nowMs: Long = System.currentTimeMillis()): Unit =
    commitRetry { meta =>
      val snap = meta.snapshots.find(_.id == snapshotId).getOrElse(
        throw new IllegalArgumentException(
          s"Snapshot $snapshotId not found (retained: ${meta.snapshots.map(_.id).mkString(", ")})"))
      // Files dropped since the target snapshot may already be GC'd by
      // removeOrphanFiles — refuse to commit a snapshot pointing at them.
      val missing = snap.files.filterNot(f =>
        Files.exists(Paths.get(location, f.path)))
      require(missing.isEmpty,
        s"Cannot roll back to snapshot $snapshotId: ${missing.size} of its " +
          s"data file(s) were garbage-collected (first: ${missing.headOption.map(_.path).getOrElse("")})")
      val id = nextSnapshotId(meta)
      meta.copy(
        snapshots = meta.snapshots :+ Snapshot(id,
          nowMs, "rollback", snap.files, Some(meta.schema.json)),
        currentSnapshotId = id)
    }

  // ---- write-audit-publish (Iceberg's WAP workflow) -------------------

  /** Stage an append as a retained snapshot WITHOUT advancing the current
    * pointer — Iceberg's write-audit-publish: the write lands durably,
    * readers keep seeing the pre-stage table, an auditor inspects the
    * staged state via [[readAt]] (or `VERSION AS OF`), and [[publishStaged]]
    * makes it current as one atomic metadata swap (or [[discardStaged]]
    * drops it). The staged snapshot is a complete file list (base files +
    * the new delta), so publish moves only the pointer; its operation
    * string records the base snapshot it was computed against, and
    * publish REFUSES if the table has moved since (the audited state is
    * no longer what would become current — re-stage on the new base).
    * Returns the staged snapshot id. */
  def stageAppend(df: DataFrame,
                  properties: Map[String, String] = Map.empty): Long = {
    val (base, meta) = evolveIfNeeded(df.schema)
    // Staged directories are UUID-named, never snap-<id>: the commit's
    // CAS-rebase loop can commit under a LATER id than first computed, and a
    // directory name that implies a stale id would mislead orphan GC
    // debugging (files are path-referenced, so nothing else cares).
    val snapRel = writeSnapshotDir(df, meta,
      s"wap-${java.util.UUID.randomUUID().toString.take(16)}")
    commitDataFiles("wap-append", keepExisting = true, properties, Nil,
      base, meta, snapRel, skipEmpty = false, publish = false)
  }

  /** Make a staged WAP snapshot the current table state — one atomic
    * pointer swap. Refuses when the table advanced past the stage's base
    * (the audited bytes would silently drop the interleaved commits);
    * the auditor re-stages on the new base instead. */
  def publishStaged(stagedId: Long): Unit = commitRetry { meta =>
    val snap = meta.snapshots.find(_.id == stagedId).getOrElse(
      throw new IllegalArgumentException(
        s"Staged snapshot $stagedId not found (retained: " +
          s"${meta.snapshots.map(_.id).mkString(", ")})"))
    require(snap.operation.startsWith("wap-append-base-"),
      s"Snapshot $stagedId is not a staged WAP snapshot " +
        s"(operation '${snap.operation}')")
    val baseId = snap.operation.stripPrefix("wap-append-base-").toLong
    if (meta.currentSnapshotId != baseId)
      throw new ConcurrentCommitException(
        s"Cannot publish staged snapshot $stagedId: its base $baseId is no " +
          s"longer current (${meta.currentSnapshotId}) — the audited state " +
          "would drop interleaved commits; re-stage on the new base")
    // Clear the staged marker in the same commit: a published snapshot is
    // committed history — it must stay undiscardable even after later
    // commits supersede it, and it re-enters the normal retention window
    // (the unpublished-stage exemption in expireSnapshots must not apply).
    meta.copy(
      snapshots = meta.snapshots.map(s =>
        if (s.id == stagedId)
          s.copy(operation = s"wap-published-base-$baseId")
        else s),
      currentSnapshotId = stagedId)
  }

  /** Drop an unpublished staged snapshot from the log (its data files
    * become unreferenced and fall to the normal orphan-file GC). A
    * PUBLISHED stage is committed history — publish rewrites its marker
    * to `wap-published-base-*`, so it stays rejected here forever, even
    * after later commits supersede it (discarding it would delete a
    * history entry that rollbackTo/readAt may target). */
  def discardStaged(stagedId: Long): Unit = commitRetry { meta =>
    val snap = meta.snapshots.find(_.id == stagedId).getOrElse(
      throw new IllegalArgumentException(s"Staged snapshot $stagedId not found"))
    require(!snap.operation.startsWith("wap-published-base-") &&
      meta.currentSnapshotId != stagedId,
      s"Snapshot $stagedId is published (committed history) — use rollbackTo instead")
    require(snap.operation.startsWith("wap-append-base-"),
      s"Snapshot $stagedId is not a staged WAP snapshot")
    meta.copy(snapshots = meta.snapshots.filterNot(_.id == stagedId))
  }

  /** Drop snapshot entries older than the retention window. Always kept:
    * the current snapshot, and UNPUBLISHED staged WAP snapshots — a stage
    * awaiting audit has no other reference, so age-based expiry would
    * silently delete an in-flight write (discardStaged is the one way to
    * remove a stage; published stages lose the marker and expire
    * normally). */
  def expireSnapshots(olderThanMs: Long, nowMs: Long = System.currentTimeMillis()): Unit =
    commitRetry { meta =>
      val cutoff = nowMs - olderThanMs
      meta.copy(snapshots = meta.snapshots.filter(s =>
        s.id == meta.currentSnapshotId || s.timestampMs >= cutoff ||
          s.operation.startsWith("wap-append-base-")))
    }

  /** Delete data files not referenced by any retained snapshot and older
    * than the grace window. The window (Iceberg's `older_than`, default
    * 3 days there too) is what makes GC safe against concurrent writers:
    * a writer that has finished its parquet write but not yet CASed its
    * metadata has files that look orphaned — deleting them would corrupt
    * its commit. Only files whose mtime predates the window can be real
    * orphans (crashed writers, lost commit races). */
  def removeOrphanFiles(olderThanMs: Long = DefaultOrphanGraceMs,
                        nowMs: Long = System.currentTimeMillis()): Seq[String] = {
    val meta = metadata
    val referenced = meta.snapshots.flatMap(_.paths).toSet
    if (!Files.exists(dataDir)) return Nil
    val cutoff = nowMs - olderThanMs
    val all = listParquet(dataDir).map(p => Paths.get(location).relativize(p).toString)
    val orphans = all.filterNot(referenced.contains).filter { f =>
      try Files.getLastModifiedTime(Paths.get(location, f)).toMillis <= cutoff
      catch { case _: Exception => false } // already gone / unreadable: skip
    }
    orphans.foreach(f => Files.deleteIfExists(Paths.get(location, f)))
    orphans
  }

  /** Metadata-history compaction — the single-level-manifest analog of the
    * reference's Trino `optimize_manifests` pass (`elt-common/.../iceberg/
    * maintenance/__init__.py:34-51`) combined with Iceberg's
    * `write.metadata.previous-versions-max` cleanup: every commit leaves a
    * complete `v{N}.json`, so a long-lived table accumulates one metadata
    * file per commit while readers only ever need the chain from the
    * VERSION hint forward. Deletes committed version files below the last
    * `keepVersions`, hint-first so new readers never start probing below
    * the retained floor. Like snapshot expiry, this trades time travel
    * into the trimmed range for bounded metadata. Returns deleted names. */
  def expireMetadataVersions(keepVersions: Int = LakeTable.DefaultKeepMetadataVersions): Seq[String] = {
    require(keepVersions >= 1, s"keepVersions must be >= 1, got $keepVersions")
    val cur = version
    val floor = cur - keepVersions + 1 // retain [floor, cur]
    if (floor <= 1) return Nil
    // Refresh the hint BEFORE deleting: a reader that loads the hint after
    // this point starts at `cur` and never touches the trimmed range.
    writeVersionHint(cur)
    (1 until floor).flatMap { v =>
      if (Files.deleteIfExists(metadataDir.resolve(s"v$v.json"))) Some(s"v$v.json")
      else None
    }
  }
}

/** An optimistic commit lost its compare-and-swap race and could not be
  * rebased; the table is untouched — callers may re-run the operation
  * against the new table state. */
final class ConcurrentCommitException(msg: String) extends RuntimeException(msg)

object LakeTable {
  /** Marker threaded through the in-plan duplicate-merge-key guard. */
  private[tables] val DupMarker = "Duplicate rows in merge source"

  /** Rebase attempts before a retriable commit gives up (rebases are
    * metadata-only and fast — the bound only guards against livelock). */
  private[tables] val MaxCommitRetries = 10

  /** Max distinct merge-key values collected for transform-partition
    * keyset pruning; beyond this the delta plausibly touches most
    * partitions and the bounded collect stops paying for itself. */
  private[tables] val MergeKeysetCap = 1000

  /** Table property selecting the partitioned-write distribution:
    * `hash` clusters rows by partition value before writing (one writer
    * task per partition — Iceberg's `write.distribution-mode=hash`). */
  val PropDistributionMode = "write.distribution-mode"

  /** Hive-style partition values from a file's relative path
    * (`data/snap-N/col=value/...`); `__HIVE_DEFAULT_PARTITION__` is null. */
  private[tables] def partitionValuesOf(rel: String): Map[String, Option[String]] =
    rel.split("/").dropRight(1).filter(_.contains("=")).map { seg =>
      val eq = seg.indexOf('=')
      val name = unescapePathName(seg.substring(0, eq))
      val raw = unescapePathName(seg.substring(eq + 1))
      name -> (if (raw == "__HIVE_DEFAULT_PARTITION__") None else Some(raw))
    }.toMap

  /** Reverse of Spark/Hive partition-path escaping (%XX sequences). */
  private[tables] def unescapePathName(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        val hex = s.substring(i + 1, i + 3)
        try { sb.append(Integer.parseInt(hex, 16).toChar); i += 3 }
        catch { case _: NumberFormatException => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private[graft] def deleteRecursively(p: Path): Unit = {
    if (!Files.exists(p)) return
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]())
      .iterator().asScala.foreach(Files.deleteIfExists(_))
    finally s.close()
  }

  /** Grace window before an unreferenced data file counts as an orphan. */
  val DefaultOrphanGraceMs: Long = 3L * 86400000L

  /** Committed metadata versions kept by [[LakeTable.expireMetadataVersions]]
    * (Iceberg keeps 100 by default via previous-versions-max; the margin
    * also absorbs hint regressions from slow concurrent writers). */
  val DefaultKeepMetadataVersions: Int = 100

  /** The VERSION hint is written AFTER the v1 commit link — a creator
    * crashing in between leaves a durably committed table, so existence
    * must also probe the commit log itself. */
  def exists(location: String): Boolean =
    Files.exists(Paths.get(location, "metadata", "VERSION")) ||
      Files.exists(Paths.get(location, "metadata", "v1.json"))

  def load(spark: SparkSession, location: String): LakeTable = {
    require(exists(location), s"No such table: $location")
    val t = new LakeTable(spark, location)
    t.repairVersionHint()
    t
  }

  /** Create the table on first write with schema + specs, else load and
    * (elsewhere) evolve — `iceberg/io.py:118-155`. */
  def ensure(spark: SparkSession, location: String, schema: StructType,
             partitionSpec: Seq[PartitionField] = Nil,
             sortOrder: Seq[SortField] = Nil,
             properties: Map[String, String] = Map.empty,
             identifierFields: Seq[String] = Nil): LakeTable = {
    if (exists(location)) return load(spark, location)
    // validate the spec against the schema before creating anything
    partitionSpec.foreach { p =>
      require(schema.fieldNames.contains(p.column),
        s"Partition column '${p.column}' not in schema")
      p.parsed // parse validates the transform string
    }
    sortOrder.foreach(s => require(schema.fieldNames.contains(s.column),
      s"Sort column '${s.column}' not in schema"))
    identifierFields.foreach(f => require(schema.fieldNames.contains(f),
      s"Identifier field '$f' not in schema"))
    val t = new LakeTable(spark, location)
    try t.commitCas(0, TableMetadata.empty(schema, partitionSpec, sortOrder,
      properties, identifierFields))
    catch { case _: ConcurrentCommitException => () } // another creator won
    t
  }

  private[tables] def listParquet(dir: Path): Seq[Path] = {
    if (!Files.exists(dir)) return Nil
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(p =>
        Files.isRegularFile(p) && p.toString.endsWith(".parquet")).toList
    finally s.close()
  }
}
