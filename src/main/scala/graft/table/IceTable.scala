package graft.table

import java.util.UUID

import graft.meta.{PartitionSpec, Schema}
import graft.meta.expr._
import graft.meta.model._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** One planned file: the data file plus the filter residual left after
  * partition pruning (ref `FileScanTask`), and the commit sequence number
  * (decides which delete files apply). */
final case class FileScanTask(file: DataFileMeta, residual: Expr, seq: Long = 0L)

/** Commit-time conflict validation for row-level operations (ref
  * `IsolationLevel.java` + `BaseOverwriteFiles.java:98`): the operation read
  * `startSnapshotId`; at commit, snapshots committed after it are checked for
  * files matching `conflictFilter` when `isolation` is serializable. */
final case class ConflictValidation(startSnapshotId: Option[Long],
    conflictFilter: Expr, isolation: String,
    /** Data files that must still be LIVE at commit time — the files a
      * merge-on-read operation's position deletes reference. A concurrent
      * rewrite of one of them would orphan the delete rows (a lost
      * update), so this is validated under EVERY isolation level (the CoW
      * paths are structurally protected by their removedPaths check). */
    requiredLivePaths: Set[String] = Set.empty)

/** Where [[IceTable.commitSnapshot]] lands the snapshot it produces. */
private[graft] sealed trait SnapshotTarget
private[graft] object SnapshotTarget {
  /** Becomes the current snapshot, with a snapshot-log entry. */
  case object Main extends SnapshotTarget
  /** Builds on the branch head and moves only that ref; main is untouched. */
  final case class Branch(name: String) extends SnapshotTarget
  /** Recorded on top of main, but no ref or snapshot-log entry moves (the
    * write-audit-publish stage; ref `SnapshotProducer.stageOnly`). */
  case object Staged extends SnapshotTarget
}

/** A graft table: immutable parquet data files + snapshot-tree JSON metadata,
  * executed by Spark (SURVEY §1.4 rebuild mapping). All reads/writes are
  * DataFrame programs; only planning/commit is driver-side Scala, and the
  * driver never touches row data.
  */
final class IceTable private (val spark: SparkSession, val ops: TableOps)
    extends Lifecycle {

  def location: String = ops.location
  def meta: TableMetadata = {
    val m = ops.current()._2
    // latch forgery protection: once the table declares encryption
    // required, every later metadata read through this IO refuses
    // plaintext substitutes (FileIO.requireSealedMetadata)
    if (!io.requireSealedMetadata &&
        io.encryption != PlaintextEncryptionManager &&
        m.property(TableProperties.EncryptionRequired, "false").toBoolean)
      io.requireSealedMetadata = true
    m
  }
  def schema: Schema = meta.schema
  def spec: PartitionSpec = meta.spec
  def io: FileIO = ops.io

  /** One-shot flag for the fully-keyed-but-unstamped advisory (scan plan
    * logs it once per handle, never per query). */
  @volatile private[table] var advisedEncryptionRequired: Boolean = false

  private def retries(m: TableMetadata): Int =
    m.property(TableProperties.CommitRetries, TableProperties.CommitRetriesDefault.toString).toInt

  // ---------------------------------------------------------------- scan

  def newScan(): TableScan = new TableScan(this)

  /** A scan pinned to `m` instead of the metadata current at its first
    * planning call (reads of tasks already planned from `m`). */
  private[graft] def newScan(m: TableMetadata): TableScan = new TableScan(this, Some(m))

  /** Current-snapshot DataFrame (all columns). */
  def toDF: DataFrame = newScan().toDF

  /** Register the current snapshot as a temp view so `spark.sql` can query
    * it WITHOUT a catalog. The view pins an UNPRUNED materialized plan:
    * filters in later SQL do not reach the metadata cascade, and commits
    * after registration are invisible until re-registered. Prefer
    * `graft.spark.GraftCatalog` (`spark.sql.catalog.<name>` config), whose
    * relations prune per query and always read the current snapshot. */
  def registerView(name: String): Unit = toDF.createOrReplaceTempView(name)

  // ---------------------------------------------------------------- write

  /** Append `df` as a new snapshot. */
  def append(df: DataFrame): Unit = append(df, Map.empty)

  def append(df: DataFrame, summary: Map[String, String],
      writeOverrides: Map[String, String] = Map.empty): Unit = {
    val m = meta
    val files = Writes.writeDataFiles(spark, this, m, df, writeOverrides)
    commitSnapshot(Operation.Append, files, Set.empty, summary)
  }

  /** Write-audit-publish: stage an append as a snapshot WITHOUT making it
    * current (ref `SnapshotManager` wap :83-85). Returns the staged snapshot
    * id; audit it via `newScan().useSnapshot(id)`, publish via
    * `cherrypick(id)`. */
  def stageAppend(df: DataFrame, wapId: String,
      summary: Map[String, String] = Map.empty,
      writeOverrides: Map[String, String] = Map.empty): Long = {
    val files = Writes.writeDataFiles(spark, this, meta, df, writeOverrides)
    commitSnapshot(Operation.Append, files, Set.empty, summary + ("wap.id" -> wapId),
      target = SnapshotTarget.Staged).snapshotId
  }

  // ---------------------------------------------------------- maintenance

  /** Metadata table by name: snapshots, history, manifests, entries, files,
    * partitions, all_* (ref `MetadataTableType.java`). */
  def metadataTable(name: String): DataFrame = MetadataTables(this, name)

  def expireSnapshots(olderThanMillis: Long, retainLast: Int = 1): (Int, Long, Long) =
    Maintenance.expireSnapshots(this, olderThanMillis, retainLast)
  def removeOrphanFiles(olderThanMillis: Long = System.currentTimeMillis() - 3 * 24 * 3600 * 1000L): Seq[String] =
    Maintenance.removeOrphanFiles(this, olderThanMillis)
  def rewriteDataFiles(targetSizeBytes: Long = TableProperties.TargetFileSizeDefault,
      minInputFiles: Int = 2, minFileSizeBytes: Long = -1,
      maxFileSizeBytes: Long = -1,
      filter: graft.meta.expr.Expr = graft.meta.expr.TrueExpr,
      partialProgressCommits: Int = 1): (Int, Int) =
    Maintenance.rewriteDataFiles(this, targetSizeBytes, minInputFiles,
      minFileSizeBytes, maxFileSizeBytes, filter, partialProgressCommits)
  def rewriteDataFilesSorted(targetSizeBytes: Long = TableProperties.TargetFileSizeDefault,
      sortOrderSpec: Option[String] = None): (Int, Int) =
    Maintenance.rewriteDataFilesSorted(this, targetSizeBytes, sortOrderSpec)
  def rewriteDataFilesZOrder(zCols: Seq[String],
      targetSizeBytes: Long = TableProperties.TargetFileSizeDefault): (Int, Int) =
    Maintenance.rewriteDataFilesZOrder(this, zCols, targetSizeBytes)
  def rewriteManifests(): Int = Maintenance.rewriteManifests(this)

  def rewritePositionDeleteFiles(): (Int, Int) =
    Maintenance.rewritePositionDeleteFiles(this)

  def removeDanglingDeletes(): Int = Maintenance.removeDanglingDeletes(this)

  def convertEqualityDeletes(): (Int, Int) =
    Maintenance.convertEqualityDeletes(this)

  def maintain(): Maintenance.MaintainReport = Maintenance.maintain(this)

  /** Master-key rotation — requires this handle to carry a
    * [[KeyRotationManager]] (see its scaladoc for the protocol). */
  def rotateEncryptionKeys(
      targetSizeBytes: Long = TableProperties.TargetFileSizeDefault,
      partialProgressCommits: Int = 10): (Int, Int) =
    Maintenance.rotateEncryptionKeys(this, targetSizeBytes, partialProgressCommits)

  /** ANALYZE: one-pass column NDV/null profile of the current snapshot,
    * persisted for the CBO ([[TableStats]]). */
  def computeStats(columns: Seq[String] = Nil): graft.meta.model.StatsFileMeta =
    TableStats.compute(this, columns)
  def deleteReachableFiles(): (Long, Long) = Maintenance.deleteReachableFiles(this)

  /** Overwrite rows matching `filter` with `df` (copy-on-write; ref
    * `BaseOverwriteFiles`): whole files strictly matched are dropped, files
    * partially matched are rewritten without the matching rows. */
  def overwrite(filter: Expr, df: DataFrame): Unit =
    RowOps.overwrite(this, filter, Option(df))
  def overwrite(filter: Expr, df: DataFrame,
      extraSummary: Map[String, String]): Unit =
    RowOps.overwrite(this, filter, Option(df), extraSummary = extraSummary)

  private def rowLevelMode(key: String): String =
    meta.property(key, TableProperties.RowLevelCopyOnWrite)

  /** DELETE WHERE: metadata-only when file pruning can prove whole files
    * match; otherwise per `write.delete.mode` — copy-on-write rewrite
    * (default) or merge-on-read position-delete files (ref
    * `SparkTable.canDeleteWhere`, TableProperties DELETE_MODE). */
  def delete(filter: Expr): Unit =
    if (rowLevelMode(TableProperties.DeleteMode) == TableProperties.RowLevelMergeOnRead)
      MergeOnRead.deleteWhere(this, filter)
    else RowOps.overwrite(this, filter, None)

  /** Dynamic partition overwrite: replace every partition touched by `df`
    * (ref `BaseReplacePartitions`). */
  def overwritePartitions(df: DataFrame): Unit = RowOps.overwritePartitions(this, df)

  /** UPDATE SET: per `write.update.mode` — rewrite affected files with
    * assignments applied where `filter` holds (copy-on-write, default; ref
    * `RewriteUpdate.scala`), or position-delete the matching rows and append
    * their updated copies in one snapshot (merge-on-read). */
  def update(filter: Expr, assignments: Map[String, Column]): Unit =
    if (rowLevelMode(TableProperties.UpdateMode) == TableProperties.RowLevelMergeOnRead)
      MergeOnRead.updateWhere(this, filter, assignments)
    else RowOps.update(this, filter, assignments)

  /** MERGE INTO builder, equi-joined on `keys` (ref `RewriteMergeInto.scala`):
    * a USING join on columns both sides name alike. Its file probe counts
    * source rows per key, and without the probe the cardinality guard is a
    * window over the source keys. Same executor as [[mergeOn]]. */
  def merge(source: DataFrame, keys: Seq[String]): MergeBuilder =
    new MergeBuilder(this, source, keys)

  /** MERGE INTO with an arbitrary ON condition (ref `RewriteMergeInto.scala:162`):
    * reference target columns by name, source columns as `_s_<name>`. Its
    * file probe and cardinality guard count matches per target row
    * identity (file, position). Also the only mode supporting WHEN NOT
    * MATCHED BY SOURCE clauses. Same executor as [[merge]]. */
  def mergeOn(source: DataFrame, cond: Column): MergeBuilder =
    new MergeBuilder(this, source, Nil, onCond = Some(cond))

  /** DELETE WHERE with a condition the predicate ADT can't express: `prune`
    * is a weaker pruning bound, `rowCond` the exact condition. */
  private[graft] def deleteRows(prune: Expr, rowCond: Column): Unit =
    if (rowLevelMode(TableProperties.DeleteMode) == TableProperties.RowLevelMergeOnRead)
      MergeOnRead.deleteWhere(this, prune, rowCond = Some(rowCond))
    else RowOps.overwrite(this, prune, None, rowCond = Some(rowCond))

  /** UPDATE with a non-convertible condition (see [[deleteRows]]). */
  private[graft] def updateRows(prune: Expr, assignments: Map[String, Column],
      rowCond: Column): Unit =
    if (rowLevelMode(TableProperties.UpdateMode) == TableProperties.RowLevelMergeOnRead)
      MergeOnRead.updateWhere(this, prune, assignments, rowCond = Some(rowCond))
    else RowOps.update(this, prune, assignments, rowCond = Some(rowCond))

  // ------------------------------------------------------- merge-on-read

  /** Equality deletes keyed by the schema's identifier fields
    * (`SET IDENTIFIER FIELDS`). */
  def addEqualityDeletes(keysDf: DataFrame): Unit = {
    val keys = schema.identifierFieldNames
    require(keys.nonEmpty,
      "No identifier fields set (ALTER TABLE ... SET IDENTIFIER FIELDS, or pass keys)")
    addEqualityDeletes(keysDf, keys)
  }

  /** Row-delta commit of equality-delete keys: rows whose `keys` match any
    * row of `keysDf` disappear from reads, no data rewrite (format v2
    * merge-on-read; ref `EqualityDeleteWriter`). */
  def addEqualityDeletes(keysDf: DataFrame, keys: Seq[String]): Unit =
    MergeOnRead.addEqualityDeletes(this, keysDf, keys)

  /** Row-delta commit of (file_path, pos) position deletes. */
  def addPositionDeletes(posDf: DataFrame): Unit =
    MergeOnRead.addPositionDeletes(this, posDf)

  /** Merge-on-read DELETE WHERE: one job records matching row positions as a
    * position-delete file — O(matched rows), no file rewrite. */
  def deleteMergeOnRead(filter: Expr): Unit = MergeOnRead.deleteWhere(this, filter)

  // ------------------------------------------------------------- snapshots

  def snapshots: Seq[SnapshotMeta] = meta.snapshots
  def currentSnapshot: Option[SnapshotMeta] = meta.currentSnapshot

  def rollbackTo(snapshotId: Long): Unit = setCurrentSnapshot(snapshotId)

  def setCurrentSnapshot(snapshotId: Long): Unit =
    ops.commitWithRetry(retries(meta)) { base =>
      require(base.snapshot(snapshotId).isDefined, s"Unknown snapshot: $snapshotId")
      val nowMs = System.currentTimeMillis()
      base.copy(currentSnapshotId = Some(snapshotId), lastUpdatedMillis = nowMs,
        snapshotLog = base.snapshotLog :+ SnapshotLogEntry(nowMs, snapshotId))
    }

  def rollbackToTime(timestampMillis: Long): Unit = {
    val snap = meta.snapshotAsOf(timestampMillis)
      .getOrElse(throw new ValidationException(s"No snapshot as of $timestampMillis"))
    setCurrentSnapshot(snap.snapshotId)
  }

  /** Re-apply the changes of `snapshotId` (an append) onto the current
    * state — the WAP publish path (ref `SnapshotManager.cherrypick:164`). */
  def cherrypick(snapshotId: Long): Unit = {
    val m = meta
    val snap = m.snapshot(snapshotId)
      .getOrElse(throw new ValidationException(s"Unknown snapshot: $snapshotId"))
    require(snap.operation == Operation.Append, "Can only cherry-pick appends")
    // WAP dedup (ref SnapshotManager: duplicate wap.id publish is an error)
    snap.summary.get("wap.id").foreach { wapId =>
      val ancestors = Iterator.iterate(m.currentSnapshot)(s =>
          s.flatMap(_.parentId).flatMap(m.snapshot))
        .takeWhile(_.isDefined).flatten
      if (ancestors.exists(_.summary.get("published-wap-id").contains(wapId)))
        throw new ValidationException(s"Duplicate cherry-pick of wap.id: $wapId")
    }
    val added = addedFiles(m, snap)
    commitSnapshot(Operation.Append, added, Set.empty,
      snap.summary.get("wap.id").map("published-wap-id" -> _).toMap)
  }

  // ------------------------------------------------------------------ refs

  /** Named snapshot refs (branches + tags); `main` is implicit. */
  def refs: Map[String, SnapshotRefMeta] = meta.refs

  /** Create a branch at `snapshotId` (default: current snapshot). Branch
    * commits (`appendToBranch`) advance the ref without touching main —
    * the write-audit-publish pattern generalized. */
  def createBranch(name: String, snapshotId: Option[Long] = None,
      minSnapshotsToKeep: Option[Int] = None,
      maxSnapshotAgeMs: Option[Long] = None,
      maxRefAgeMs: Option[Long] = None): Unit =
    createRef(name, SnapshotRefMeta.Branch, snapshotId,
      minSnapshotsToKeep, maxSnapshotAgeMs, maxRefAgeMs)

  /** Create an immutable tag at `snapshotId` (default: current snapshot). */
  def createTag(name: String, snapshotId: Option[Long] = None,
      maxRefAgeMs: Option[Long] = None): Unit =
    createRef(name, SnapshotRefMeta.Tag, snapshotId, None, None, maxRefAgeMs)

  private def createRef(name: String, refType: String, snapshotId: Option[Long],
      minKeep: Option[Int], maxSnapAge: Option[Long], maxRefAge: Option[Long]): Unit =
    ops.commitWithRetry(retries(meta)) { base =>
      if (name == SnapshotRefMeta.MainBranch || base.refs.contains(name))
        throw new ValidationException(s"Ref already exists: $name")
      val id = snapshotId.orElse(base.currentSnapshotId).getOrElse(
        throw new ValidationException("Table has no current snapshot to reference"))
      if (base.snapshot(id).isEmpty)
        throw new ValidationException(s"Unknown snapshot: $id")
      base.copy(
        refs = base.refs + (name -> SnapshotRefMeta(id, refType, minKeep,
          maxSnapAge, maxRefAge)),
        lastUpdatedMillis = System.currentTimeMillis())
    }

  def removeRef(name: String): Unit =
    ops.commitWithRetry(retries(meta)) { base =>
      if (!base.refs.contains(name))
        throw new ValidationException(s"Unknown ref: $name")
      base.copy(refs = base.refs - name,
        lastUpdatedMillis = System.currentTimeMillis())
    }

  /** Move a branch head to an arbitrary existing snapshot (rollback's
    * branch analogue; no ancestry requirement). */
  def replaceBranch(name: String, snapshotId: Long): Unit =
    ops.commitWithRetry(retries(meta)) { base =>
      val r = base.refs.getOrElse(name,
        throw new ValidationException(s"Unknown branch: $name"))
      if (r.refType != SnapshotRefMeta.Branch)
        throw new ValidationException(s"Not a branch: $name")
      if (base.snapshot(snapshotId).isEmpty)
        throw new ValidationException(s"Unknown snapshot: $snapshotId")
      base.copy(refs = base.refs.updated(name, r.copy(snapshotId = snapshotId)),
        lastUpdatedMillis = System.currentTimeMillis())
    }

  /** Fast-forward `name` (a branch, or `main`) to `toSnapshotId`, requiring
    * the target to be a DESCENDANT of the current head — the branch-publish
    * path: audit on a branch, then fast-forward main onto it. */
  def fastForward(name: String, toSnapshotId: Long): Unit =
    ops.commitWithRetry(retries(meta)) { base =>
      val headId: Option[Long] =
        if (name == SnapshotRefMeta.MainBranch) base.currentSnapshotId
        else {
          val r = base.refs.getOrElse(name,
            throw new ValidationException(s"Unknown branch: $name"))
          if (r.refType != SnapshotRefMeta.Branch)
            throw new ValidationException(s"Not a branch: $name")
          Some(r.snapshotId)
        }
      if (base.snapshot(toSnapshotId).isEmpty)
        throw new ValidationException(s"Unknown snapshot: $toSnapshotId")
      val ancestors = Iterator.iterate(base.snapshot(toSnapshotId))(
          _.flatMap(_.parentId).flatMap(base.snapshot))
        .takeWhile(_.isDefined).flatten.map(_.snapshotId).toSet
      if (!headId.forall(ancestors.contains))
        throw new ValidationException(
          s"$toSnapshotId is not a descendant of $name's head $headId")
      val nowMs = System.currentTimeMillis()
      if (name == SnapshotRefMeta.MainBranch)
        base.copy(currentSnapshotId = Some(toSnapshotId), lastUpdatedMillis = nowMs,
          snapshotLog = base.snapshotLog :+ SnapshotLogEntry(nowMs, toSnapshotId))
      else
        base.copy(refs = base.refs.updated(name,
          base.refs(name).copy(snapshotId = toSnapshotId)),
          lastUpdatedMillis = nowMs)
    }

  /** Append `df` as a new snapshot on branch `name`; main is untouched. */
  def appendToBranch(name: String, df: DataFrame,
      summary: Map[String, String] = Map.empty): Unit = {
    val files = Writes.writeDataFiles(spark, this, meta, df)
    commitSnapshot(Operation.Append, files, Set.empty, summary,
      target = SnapshotTarget.Branch(name))
  }

  // ---------------------------------------------------------- incremental

  /** Files appended in snapshot range (fromId, toId] (ref
    * `IncrementalDataTableScan.java:57`). Delete snapshots in the range are
    * skipped by default (the streaming CDC convention; ref
    * `SparkReadOptions.STREAMING_SKIP_DELETE_SNAPSHOTS`); with
    * `skipDeleteSnapshots = false` a delete/overwrite in range raises
    * instead, for consumers that cannot tolerate missed deletions. */
  def appendsBetween(fromId: Long, toId: Long,
      skipDeleteSnapshots: Boolean = true): DataFrame = {
    val m = meta
    val files = appendedFilesBetween(m, fromId, toId, skipDeleteSnapshots)
    // row-level deletes never apply to appended rows AS WRITTEN
    Reads.readTasksWithDeletes(this, m, files.map(FileScanTask(_, TrueExpr)),
      deletes = Nil, m.schema.columnNames, TrueExpr, rowPositions = false)
  }

  /** Row-level CDC changelog over the snapshot range (fromId, toId]: table
    * columns plus `_change_type`/`_commit_snapshot_id`/`_change_ordinal`.
    * `fromId = None` starts from the table's beginning; `toId = None` ends at
    * the current snapshot. See [[Changelog]] for semantics. */
  def changelog(fromId: Option[Long] = None, toId: Option[Long] = None,
      withRowIds: Boolean = false): DataFrame =
    Changelog.changes(this, fromId, toId, withRowIds)

  /** The data files appended in (fromId, toId] (planning half of
    * [[appendsBetween]]; also the micro-batch planner's input). */
  private[graft] def appendedFilesBetween(m: TableMetadata, fromId: Long,
      toId: Long, skipDeleteSnapshots: Boolean): Seq[DataFileMeta] = {
    val to = m.snapshot(toId).getOrElse(throw new ValidationException(s"Unknown: $toId"))
    // walk lineage to collect snapshots in range
    val lineage = Iterator.iterate(Option(to))(s =>
        s.flatMap(_.parentId).flatMap(m.snapshot))
      .takeWhile(s => s.isDefined && s.get.snapshotId != fromId)
      .flatten.toSeq
    require(lineage.lastOption.flatMap(_.parentId).contains(fromId) ||
      lineage.isEmpty, s"$fromId is not an ancestor of $toId")
    if (!skipDeleteSnapshots) {
      val destructive = lineage.filter(s =>
        s.operation == Operation.Delete || s.operation == Operation.Overwrite)
      if (destructive.nonEmpty) throw new ValidationException(
        s"Cannot stream appends over delete/overwrite snapshots: " +
          destructive.map(_.snapshotId).mkString(","))
    }
    lineage.filter(_.operation == Operation.Append)
      .flatMap(s => addedFiles(m, s))
      .filter(_.content == FileContent.Data)
  }

  /** Append snapshots in (fromId, toId], OLDEST first, with their
    * added-data-file counts — the admission-control planning input of the
    * micro-batch stream. Counts come from the snapshot summary counter when
    * present (no manifest IO), manifest reads otherwise. */
  private[graft] def appendSnapshotsBetween(m: TableMetadata, fromId: Long,
      toId: Long): Seq[(SnapshotMeta, Long)] = {
    val to = m.snapshot(toId).getOrElse(throw new ValidationException(s"Unknown: $toId"))
    val lineage = Iterator.iterate(Option(to))(s =>
        s.flatMap(_.parentId).flatMap(m.snapshot))
      .takeWhile(s => s.isDefined && s.get.snapshotId != fromId)
      .flatten.toSeq
    // same lineage validation as appendedFilesBetween: a checkpointed offset
    // that is no longer an ancestor (e.g. after a rollback) must fail, not
    // silently replay history from the root
    require(lineage.lastOption.flatMap(_.parentId).contains(fromId) ||
      lineage.isEmpty, s"$fromId is not an ancestor of $toId")
    lineage.reverse.filter(_.operation == Operation.Append).map { s =>
      val n = s.summary.get("added-data-files").flatMap(_.toLongOption)
        .getOrElse(addedFiles(m, s).size.toLong)
      (s, n)
    }
  }

  private def addedFiles(m: TableMetadata, snap: SnapshotMeta): Seq[DataFileMeta] = {
    val manifests = readManifestList(m, snap)
      .filter(_.addedSnapshotId == snap.snapshotId)
    ManifestIO.readAll(io, manifests, m.schema, m.specById)
      .flatMap(_._2)
      .filter(e => e.status == EntryStatus.Added && e.snapshotId == snap.snapshotId)
      .map(_.dataFile)
  }

  // ------------------------------------------------------------- internals

  /** Commit-time conflict checks against the commit's base (ref
    * `BaseOverwriteFiles.java:98`, `IsolationLevel.java`). Under every
    * isolation level:
    *  - the files the operation's position deletes reference must still be
    *    live;
    *  - no delete file committed after the start snapshot may apply
    *    (`MergeOnRead.applies`) to a data file of `rewritten` — the files
    *    whose rows this commit copies into new files, at a path and sequence
    *    that delete no longer reaches, which would bring its rows back (ref
    *    `MergingSnapshotProducer.validateNoNewDeletesForDataFiles`).
    * Under serializable isolation also: any file ADDED after the start
    * snapshot that MIGHT contain rows matching the conflict filter fails the
    * commit (ref validateNoConflictingAppends). Removal of a file that is no
    * longer live fails in [[commitSnapshot]] itself. */
  private def validateNoConflicts(base: TableMetadata, v: ConflictValidation,
      rewritten: Seq[DataFileMeta]): Unit = {
    if (v.requiredLivePaths.nonEmpty) {
      val live: Set[String] = base.currentSnapshot.map(snap =>
        liveEntries(base, snap).map(e => GraftPaths.norm(e.dataFile.path)).toSet)
        .getOrElse(Set.empty)
      val gone = v.requiredLivePaths.map(GraftPaths.norm) -- live
      if (gone.nonEmpty) throw new ValidationException(
        s"Concurrent rewrite conflict: ${gone.size} file(s) referenced by " +
          s"this operation's position deletes are no longer live: " +
          gone.take(3).mkString(", "))
    }
    val newSnaps = Iterator.iterate(base.currentSnapshot)(s =>
        s.flatMap(_.parentId).flatMap(base.snapshot))
      .takeWhile(s => s.isDefined && !v.startSnapshotId.contains(s.get.snapshotId))
      .flatten.toSeq
    if (rewritten.nonEmpty && newSnaps.nonEmpty) {
      // a rewritten file was live at the start snapshot, so its data
      // sequence is at most the start's and every later delete passes the
      // sequence rule; partition scope (and a vector's one target) decide
      val startSeq = v.startSnapshotId.flatMap(base.snapshot)
        .map(_.sequenceNumber).getOrElse(0L)
      val tasks = rewritten.map(f => FileScanTask(f, TrueExpr, startSeq))
      val applying = newSnaps.flatMap(s => addedFiles(base, s)
          .filter(_.content != FileContent.Data).map(_ -> s.sequenceNumber))
        .collect { case (d, dseq) if tasks.exists(t => MergeOnRead.applies(d, dseq, t) &&
            d.referencedFile.forall(r => GraftPaths.norm(r) == GraftPaths.norm(t.file.path))) => d.path }
      if (applying.nonEmpty) throw new ValidationException(
        s"Concurrent delete conflict: ${applying.size} delete file(s) committed " +
          s"after snapshot ${v.startSnapshotId.getOrElse("<none>")} apply to data " +
          s"files this operation rewrites: ${applying.take(3).mkString(", ")}")
    }
    if (v.isolation != TableProperties.IsolationSerializable) return
    val bound = Binder.bind(base.schema, v.conflictFilter)
    val conflicting = newSnaps
      .filter(s => s.operation != Operation.Delete) // pure deletes add no rows
      .flatMap(s => addedFiles(base, s))
      .filter(f => fileMightMatch(base, bound, f))
    if (conflicting.nonEmpty) throw new ValidationException(
      s"Serializable isolation violation: ${conflicting.size} concurrently " +
        s"committed file(s) may contain rows matching the operation filter " +
        s"(snapshots ${newSnaps.map(_.snapshotId).mkString(",")})")
  }

  private def fileMightMatch(m: TableMetadata, bound: Expr, f: DataFileMeta): Boolean = {
    if (bound == TrueExpr) return true
    if (bound == FalseExpr) return false
    val spec = m.specById(f.specId)
    val partPred = Projections.inclusive(spec, m.schema, bound)
    val partLookup: Int => Any = { fid =>
      val i = spec.fields.indexWhere(_.fieldId == fid)
      if (i >= 0) f.partition(i) else null
    }
    RowEvaluator.eval(partPred, partLookup) &&
      InclusiveMetricsEvaluator.eval(bound, Reads.statsOf(f))
  }

  private[table] def readManifestList(m: TableMetadata,
      snap: SnapshotMeta): Seq[ManifestFileMeta] =
    JsonCodecs.manifestListFromJson(io.readString(snap.manifestList), m.schema, m.specById)

  private[table] def liveEntries(m: TableMetadata, snap: SnapshotMeta): Seq[ManifestEntry] =
    ManifestIO.readAll(io, readManifestList(m, snap).filter(_.hasLiveFiles),
        m.schema, m.specById)
      .flatMap(_._2).filter(_.status != EntryStatus.Deleted)

  private[table] def newSnapshotId(): Long =
    math.abs(UUID.randomUUID().getMostSignificantBits)

  /** Conservative manifest-level prune for removal commits (ref
    * `ManifestFilterManager.java:167` canContainDeletedFiles): a manifest
    * cannot contain a removed file unless their spec ids match AND the
    * file's partition tuple falls inside the manifest's partition-range
    * summaries. Any doubt (missing summaries, arity drift) keeps the
    * manifest as a candidate. */
  private def mayContainRemoved(base: TableMetadata, mf: ManifestFileMeta,
      removed: Seq[DataFileMeta]): Boolean = {
    val candidates = removed.filter(_.specId == mf.specId)
    if (candidates.isEmpty) return false
    val spec = base.specById(mf.specId)
    if (spec.fields.isEmpty ||
      mf.partitionSummaries.size != spec.fields.size) return true
    candidates.exists { f =>
      f.partition.size == spec.fields.size && spec.fields.indices.forall { i =>
        val s = mf.partitionSummaries(i)
        val v = f.partition(i)
        if (v == null) s.containsNull
        else {
          val t = spec.fieldType(base.schema, spec.fields(i))
          if (Literals.isNaN(v)) s.containsNan.getOrElse(true)
          else (s.lowerBound, s.upperBound) match {
            case (Some(lo), Some(hi)) =>
              Literals.compare(t, v, lo) >= 0 && Literals.compare(t, v, hi) <= 0
            case _ => false // only null/NaN values live in this manifest
          }
        }
      }
    }
  }

  /** Commit-time manifest auto-merge (ref `MergingSnapshotProducer.java`,
    * `ManifestMergeManager.java:79-120`): without it a table accreted by
    * thousands of appends carries thousands of tiny manifests and every
    * plan degrades linearly with commit count rather than data size. Per
    * spec, manifests are greedily packed from the OLD end of the list into
    * `commit.manifest.target-size-bytes` bins (lookback 1, so list order is
    * preserved); a multi-manifest bin is rewritten as one manifest — except
    * the bin holding this commit's fresh manifest, which only merges once
    * `commit.manifest.min-count-to-merge` manifests pile up, so recent
    * commits aren't rewritten on every append. Carried entries keep their
    * snapshot and sequence numbers; foreign `Added` entries become
    * `Existing` and `write` stamps the merged manifest with the committing
    * snapshot id, which keeps [[addedFiles]]' manifest-level
    * `addedSnapshotId` pruning and entry-level status filter exact (ref
    * `ManifestMergeManager.createManifest`).
    *
    * `rewriteAll` (manifest rewrite, ref `BaseRewriteManifestsSparkAction`)
    * packs every manifest of a spec into one bin and rewrites it whatever
    * its size, entries clustered by partition. */
  private def mergeSmallManifests(base: TableMetadata,
      manifests: Seq[ManifestFileMeta], snapId: Long, rewriteAll: Boolean)(
      write: (Seq[ManifestEntry], PartitionSpec) => ManifestFileMeta)
      : Seq[ManifestFileMeta] = {
    if (manifests.isEmpty || (manifests.size < 2 && !rewriteAll)) return manifests
    val targetSize =
      if (rewriteAll) Long.MaxValue
      else base.property(TableProperties.ManifestTargetSizeBytes,
        TableProperties.ManifestTargetSizeBytesDefault.toString).toLong
    val minCount = base.property(TableProperties.ManifestMinMergeCount,
      TableProperties.ManifestMinMergeCountDefault.toString).toInt
    // min-count protects the bin holding the head of the fresh-first list
    // (the just-written manifest when the commit added files; ref
    // `ManifestMergeManager.mergeManifests` takes `manifests.get(0)`) — so
    // pure-removal commits don't churn manifests on every commit either
    val firstPath = manifests.head.path
    manifests.groupBy(_.specId).toSeq.sortBy(_._1).flatMap { case (specId, group) =>
      // pack from the old end (the list is fresh-first) with lookback 1
      val bins = scala.collection.mutable.ArrayBuffer[List[ManifestFileMeta]]()
      var cur = List.empty[ManifestFileMeta]
      var curSize = 0L
      group.reverse.foreach { mf =>
        if (cur.nonEmpty && curSize + mf.length > targetSize) {
          bins += cur; cur = Nil; curSize = 0L
        }
        cur = mf :: cur // cons while walking old→new keeps each bin fresh-first
        curSize += mf.length
      }
      if (cur.nonEmpty) bins += cur
      bins.reverseIterator.flatMap { bin =>
        val merge = rewriteAll || (bin.size > 1 &&
          !(bin.exists(_.path == firstPath) && bin.size < minCount))
        if (!merge) bin
        else {
          val live = ManifestIO.readAll(io, bin, base.schema, base.specById)
            .flatMap(_._2)
            .filter(_.status != EntryStatus.Deleted)
            .map(e =>
              if (e.status == EntryStatus.Added && e.snapshotId == snapId) e
              else e.copy(status = EntryStatus.Existing))
          val entries =
            if (rewriteAll) live.sortBy(_.dataFile.partition.map(String.valueOf).mkString("/"))
            else live
          if (entries.isEmpty) Nil else Seq(write(entries, base.specById(specId)))
        }
      }
    }
  }

  /** Per-content counts of one side of a commit (ref
    * `SnapshotSummary.java:256-264`): record counters are per content (a MoR
    * DELETE of N rows must NOT move total-records), bytes cover every
    * content. A deletion-vector blob counts its own bytes, not the sidecar
    * it shares with other blobs. */
  private final class Tally(files: Seq[DataFileMeta]) {
    private val (data, deletes) = files.partition(_.content == FileContent.Data)
    private def bytesOf(fs: Seq[DataFileMeta]): Long =
      fs.map(f => f.contentSize.getOrElse(f.fileSizeBytes)).sum
    val dataFiles: Int = data.size
    val records: Long = data.map(_.recordCount).sum
    val deleteFiles: Int = deletes.size
    val deleteBytes: Long = bytesOf(deletes)
    val bytes: Long = bytesOf(data) + deleteBytes
    val posDeletes: Long =
      deletes.filter(f => FileContent.isPositional(f.content)).map(_.recordCount).sum
    val eqDeletes: Long =
      deletes.filter(_.content == FileContent.EqualityDeletes).map(_.recordCount).sum
  }

  /** The snapshot producer (ref `SnapshotProducer.java:270`), the one code
    * path that writes manifests and manifest lists and creates a snapshot:
    * (head's live files − removedPaths) ∪ added. Carried manifests that lose
    * no file stay untouched; touched ones are rewritten with the files they
    * keep (ref `ManifestFilterManager.java:167`), then small manifests merge.
    * Removing a file that is no longer live fails validation (ref
    * `BaseOverwriteFiles.java:98`).
    *
    * Each retry attempt builds from a fresh base: snapshot id, sequence
    * number, row-id spans, manifests and running totals. The attempt record
    * lists every manifest and manifest list any attempt wrote (fresh UUID
    * and snapshot-id names: attempts never share a file). Cleanup (ref
    * `cleanUncommitted`):
    *  - success: every recorded file the committed snapshot does not
    *    reference is deleted — the files of lost attempts, and manifests of
    *    the winning attempt that the merge folded into another;
    *  - definite failure (this closure threw, or every CAS returned false
    *    until the retries ran out): every recorded file is deleted;
    *  - any other exception once an attempt has reached `ops.commit`
    *    ([[CommitStateUnknownException]], a JDBC, metastore or IO error):
    *    the pointer may already reference the files, so all are kept.
    * Data files the caller wrote are not in the record; orphan removal
    * collects those.
    *
    * @param removedMeta the full metadata of the removed files when the
    *                    caller has it: enables partition-summary pruning so
    *                    a removal commit opens only the manifests that can
    *                    contain the removed files (must cover every path in
    *                    `removedPaths`, else ignored), and lets `validate`
    *                    find concurrent deletes against the data files whose
    *                    rows this commit rewrites (required then).
    * @param target where the snapshot lands: main, a branch, or staged.
    * @param rewriteManifests rewrite every live manifest into one per spec
    *                    (see [[mergeSmallManifests]]).
    * @return the committed snapshot. */
  private[graft] def commitSnapshot(op: String, added: Seq[DataFileMeta],
      removedPaths: Set[String], extraSummary: Map[String, String] = Map.empty,
      metaTransform: Option[TableMetadata => TableMetadata] = None,
      validate: Option[ConflictValidation] = None,
      removedMeta: Seq[DataFileMeta] = Nil,
      target: SnapshotTarget = SnapshotTarget.Main,
      rewriteManifests: Boolean = false): SnapshotMeta = {
    val removedNorm = removedPaths.map(GraftPaths.norm)
    val pruneMeta =
      if (removedMeta.nonEmpty &&
        removedNorm.subsetOf(removedMeta.map(f => GraftPaths.norm(f.path)).toSet))
        removedMeta
      else Nil
    // the data files whose rows this commit carries into its added files
    val rewritten =
      if (validate.isEmpty || removedNorm.isEmpty ||
          !added.exists(_.content == FileContent.Data)) Nil
      else {
        require(pruneMeta.nonEmpty,
          "a validated commit that rewrites rows needs removedMeta for every removed path")
        pruneMeta.filter(_.content == FileContent.Data)
      }
    val mdir = s"$location/metadata"
    // the attempt record, and what the latest attempt produced
    val attempts = scala.collection.mutable.ArrayBuffer.empty[String]
    var produced: (SnapshotMeta, Seq[String]) = null
    // set once an attempt hands its metadata to the CAS
    var casPending = false
    try ops.commitWithRetry(retries(meta)) { base0 =>
      casPending = false
      val base = metaTransform.map(_(base0)).getOrElse(base0)
      def writeManifest(entries: Seq[ManifestEntry], spec: PartitionSpec,
          stamp: Option[Long] = None): ManifestFileMeta = {
        val path = ManifestIO.newPath(mdir, base, io)
        attempts += path
        ManifestIO.write(io, path, entries, base.schema, spec, addedSnapshotId = stamp)
      }
      validate.foreach(validateNoConflicts(base, _, rewritten))
      val nowMs = System.currentTimeMillis()
      val snapId = newSnapshotId()
      val seq = base.lastSequenceNumber + 1
      val schema = base.schema
      // a branch commit builds on the BRANCH head, not the main head, and
      // advances only that ref at publish
      val headSnap: Option[SnapshotMeta] = target match {
        case SnapshotTarget.Branch(b) =>
          val r = base.refs.getOrElse(b,
            throw new ValidationException(s"Unknown branch: $b"))
          if (r.refType != SnapshotRefMeta.Branch)
            throw new ValidationException(s"Cannot commit to tag: $b")
          base.snapshot(r.snapshotId)
        case _ => base.currentSnapshot
      }
      val currentManifests: Seq[ManifestFileMeta] =
        headSnap.map(readManifestList(base, _)).getOrElse(Nil)

      // every removed entry (DV blobs sharing a sidecar are separate entries)
      val removedFiles = scala.collection.mutable.ArrayBuffer.empty[DataFileMeta]
      val keptManifests: Seq[ManifestFileMeta] =
        if (removedNorm.isEmpty) currentManifests
        else {
          // candidates only (summary-pruned when the caller gave metadata),
          // read on the manifest worker pool instead of serially
          val candidates =
            if (pruneMeta.isEmpty) currentManifests
            else currentManifests.filter(mayContainRemoved(base, _, pruneMeta))
          val readEntries: Map[String, Seq[ManifestEntry]] =
            ManifestIO.readAll(io, candidates, schema, base.specById)
              .map { case (mf, es) => mf.path -> es }.toMap
          currentManifests.flatMap { mf =>
            readEntries.get(mf.path) match {
              case None => Some(mf) // pruned: cannot contain a removed file
              case Some(entries) =>
                val (rm, keep) = entries.filter(_.status != EntryStatus.Deleted)
                  .partition(e => removedNorm.contains(GraftPaths.norm(e.dataFile.path)))
                removedFiles ++= rm.map(_.dataFile)
                if (rm.isEmpty) Some(mf)
                else if (keep.isEmpty) None
                else Some(writeManifest(keep.map(e => e.copy(status = EntryStatus.Existing)),
                  base.specById(mf.specId)))
            }
          }
        }
      // removal is validated by PATH: one deletion-vector sidecar path can
      // carry several blob entries, so the check compares path sets
      val removedSeen = removedFiles.map(f => GraftPaths.norm(f.path)).toSet
      if (removedNorm.nonEmpty && removedSeen != removedNorm)
        throw new ValidationException(
          s"Missing required files to delete: expected ${removedNorm.size} " +
            s"paths, found ${removedSeen.size} " +
            "(concurrent commit removed or rewrote them)")

      // row lineage: every added DATA file gets its implicit id span at
      // COMMIT time, carved from the base metadata's next-row-id —
      // re-derived per retry attempt, so concurrent committers always get
      // disjoint spans (the loser re-assigns from the winner's counter)
      var nextRid = base.nextRowId
      val added1 = added.map { f =>
        if (f.content != FileContent.Data || f.firstRowId.nonEmpty) f
        else {
          val a = f.copy(firstRowId = Some(nextRid))
          nextRid += math.max(0L, f.recordCount)
          a
        }
      }
      val addedManifest: Option[ManifestFileMeta] =
        if (added1.isEmpty) None
        else Some(writeManifest(
          added1.map(f => ManifestEntry(EntryStatus.Added, snapId, seq, f)), base.spec))

      val unmerged = addedManifest.toSeq ++ keptManifests
      val allManifests =
        if (rewriteManifests || base.property(TableProperties.ManifestMergeEnabled,
            TableProperties.ManifestMergeEnabledDefault).toBoolean)
          mergeSmallManifests(base, unmerged, snapId, rewriteManifests)(
            writeManifest(_, _, Some(snapId)))
        else unmerged
      val listPath = s"$mdir/snap-$snapId.manifestlist.json"
      attempts += listPath
      io.writeString(listPath, JsonCodecs.manifestListToJson(allManifests, schema, base.specById))

      // running totals (ref SnapshotSummary total-records/total-files-size):
      // carried forward from the head so writes can derive the table's
      // on-disk row width without reading any manifest. A pre-counter head
      // snapshot has no baseline — totals resume once history rolls over.
      val add = new Tally(added1)
      val rem = new Tally(removedFiles.toSeq)
      def carried(key: String, delta: Long): Option[(String, String)] = headSnap match {
        case None => Some(key -> delta.toString)
        case Some(h) => h.summary.get(key).flatMap(_.toLongOption)
          .map(prev => key -> (prev + delta).toString)
      }
      // per-partition change summaries (ref SnapshotSummary.java:49-51,
      // `write.summary.partition-limit`, default 0 = off): included only
      // when the commit touches few partitions — a 10k-partition overwrite
      // must not bloat every future metadata read with 10k summary entries
      val partLimit = base.property("write.summary.partition-limit", "0").toInt
      val partitionSummaries: Map[String, String] = {
        val byPart = added1.filter(f => f.content == FileContent.Data && f.partition.nonEmpty)
          .groupBy(_.partition)
        if (partLimit <= 0 || byPart.isEmpty || byPart.size > partLimit) Map.empty
        else byPart.map { case (tuple, fs) =>
          s"partitions.${tuple.mkString("/")}" ->
            s"added-data-files=${fs.size},added-records=${fs.map(_.recordCount).sum}"
        } + ("partition-summaries-included" -> "true") +
          ("changed-partition-count" -> byPart.size.toString)
      }
      // head predates the per-content counters: seed them from ONE walk of
      // the live entries (one-time cost per legacy table) instead of
      // assuming 0 — a 0 seed on a table that already holds MoR delete
      // files would undercount total-data-files and make the O(1)
      // delete-presence checks (e.g. IvfIndex.fetchByIds) trust a lie
      lazy val legacySeed: Tally = new Tally(headSnap match {
        case None => Nil
        case Some(_) =>
          ManifestIO.readAll(io, currentManifests, schema, base.specById)
            .flatMap(_._2).filter(_.status != EntryStatus.Deleted)
            .map(_.dataFile).filter(_.content != FileContent.Data)
      })
      def carriedOrSeed(key: String, delta: Long, seed: => Long): (String, String) = {
        val base0 = headSnap.flatMap(_.summary.get(key)).flatMap(_.toLongOption)
          .getOrElse(seed)
        key -> math.max(0L, base0 + delta).toString
      }
      def ifPos(key: String, v: Long): Option[(String, String)] =
        if (v > 0) Some(key -> v.toString) else None
      val totalDeleteFiles = carriedOrSeed("total-delete-files",
        (add.deleteFiles - rem.deleteFiles).toLong, legacySeed.deleteFiles.toLong)
      // manifest live-entry counts include delete-file entries; subtract the
      // running delete-file total to keep total-data-files data-only
      val manifestLive = allManifests.map(f =>
        (f.addedFilesCount + f.existingFilesCount).toLong).sum
      val summary = Map(
        "added-data-files" -> add.dataFiles.toString,
        "added-records" -> add.records.toString,
        "added-files-size" -> add.bytes.toString,
        "deleted-data-files" -> rem.dataFiles.toString,
        "deleted-records" -> rem.records.toString,
        "removed-files-size" -> rem.bytes.toString,
        "total-data-files" ->
          math.max(0L, manifestLive - totalDeleteFiles._2.toLong).toString) ++
        ifPos("added-delete-files", add.deleteFiles.toLong) ++
        ifPos("removed-delete-files", rem.deleteFiles.toLong) ++
        ifPos("added-position-deletes", add.posDeletes) ++
        ifPos("removed-position-deletes", rem.posDeletes) ++
        ifPos("added-equality-deletes", add.eqDeletes) ++
        ifPos("removed-equality-deletes", rem.eqDeletes) ++
        Seq(totalDeleteFiles,
          carriedOrSeed("total-position-deletes",
            add.posDeletes - rem.posDeletes, legacySeed.posDeletes),
          carriedOrSeed("total-equality-deletes",
            add.eqDeletes - rem.eqDeletes, legacySeed.eqDeletes),
          // delete-file BYTES, so the write-sizing row-width estimate can
          // subtract tombstone bytes from total-files-size
          carriedOrSeed("total-delete-files-size",
            add.deleteBytes - rem.deleteBytes, legacySeed.deleteBytes)) ++
        partitionSummaries ++
        carried("total-records", add.records - rem.records) ++
        carried("total-files-size", add.bytes - rem.bytes) ++
        (if (rewriteManifests) Some("rewritten-manifests" -> allManifests.size.toString)
         else None) ++ extraSummary

      val snap = SnapshotMeta(snapId, headSnap.map(_.snapshotId), seq, nowMs,
        op, summary, listPath)
      produced = (snap, listPath +: allManifests.map(_.path))
      val next = target match {
        case SnapshotTarget.Main => base.withSnapshot(snap, nowMs)
        // the snapshot log stays main-lineage only (time travel by
        // timestamp resolves against main, like the published format spec)
        case t => base.copy(lastSequenceNumber = seq, lastUpdatedMillis = nowMs,
          snapshots = base.snapshots :+ snap,
          refs = t match {
            case SnapshotTarget.Branch(b) =>
              base.refs.updated(b, base.refs(b).copy(snapshotId = snapId))
            case _ => base.refs
          })
      }
      casPending = true
      next.copy(nextRowId = nextRid)
    } catch { case e: Throwable =>
      if (!casPending || e.isInstanceOf[CommitRetriesExhaustedException])
        MetadataHousekeeping.deleteQuietly(io, attempts.toSeq)
      throw e
    }
    val (snap, referenced) = produced
    MetadataHousekeeping.deleteQuietly(io, attempts.filterNot(referenced.toSet).toSeq)
    Listeners.notifyAll(Listeners.CreateSnapshotEvent(
      location, snap.operation, snap.snapshotId, snap.sequenceNumber, snap.summary))
    snap
  }
}

object IceTable {

  def create(spark: SparkSession, location: String, schema: Schema,
      spec: PartitionSpec = PartitionSpec.unpartitioned,
      sortOrder: SortOrderMeta = SortOrderMeta.unsorted,
      properties: Map[String, String] = Map.empty): IceTable =
    createWith(spark,
      new TableOperations(location, new FileIO(spark.sparkContext.hadoopConfiguration)),
      schema, spec, sortOrder, properties)

  /** Create through caller-supplied [[TableOps]] (e.g. a JDBC-pointer
    * backend); the commit protocol is identical, only the pointer differs. */
  def createWith(spark: SparkSession, ops: TableOps, schema: Schema,
      spec: PartitionSpec = PartitionSpec.unpartitioned,
      sortOrder: SortOrderMeta = SortOrderMeta.unsorted,
      properties: Map[String, String] = Map.empty): IceTable = {
    val location = ops.location
    require(!ops.exists, s"Table already exists: $location")
    // a table CREATED keyed records that encryption is required: a later
    // handle with the default plaintext FileIO (path loads, a sink missing
    // its encryption option) must refuse to APPEND — reads are already
    // guarded by per-file key metadata, but a pure append never plans
    // files, so without this property it would silently commit plaintext
    // into an encrypted table. (A table encrypted later sets the property
    // by hand — documented on TableProperties.EncryptionRequired.)
    val effectiveProps =
      if (ops.io.encryption == PlaintextEncryptionManager) properties
      else properties + (TableProperties.EncryptionRequired -> "true")
    val nowMs = System.currentTimeMillis()
    val m = TableMetadata(
      formatVersion = 2,
      tableUuid = UUID.randomUUID().toString,
      location = location,
      lastSequenceNumber = 0L,
      lastUpdatedMillis = nowMs,
      lastColumnId = schema.highestFieldId,
      currentSchemaId = schema.schemaId,
      schemas = Seq(schema),
      defaultSpecId = spec.specId,
      specs = Seq(spec),
      lastPartitionId = (999 +: spec.fields.map(_.fieldId)).max,
      defaultSortOrderId = sortOrder.orderId,
      sortOrders = Seq(sortOrder),
      properties = effectiveProps,
      currentSnapshotId = None,
      snapshots = Nil,
      snapshotLog = Nil,
      metadataLog = Nil)
    if (!ops.commit(0, m))
      throw new CommitFailedException(s"Concurrent create at $location")
    new IceTable(spark, ops)
  }

  def load(spark: SparkSession, location: String): IceTable =
    loadWith(spark,
      new TableOperations(location, new FileIO(spark.sparkContext.hadoopConfiguration)))

  def loadWith(spark: SparkSession, ops: TableOps): IceTable = {
    if (!ops.exists) throw new NoSuchTableException(s"No table at ${ops.location}")
    new IceTable(spark, ops)
  }

  def exists(spark: SparkSession, location: String): Boolean =
    new TableOperations(location,
      new FileIO(spark.sparkContext.hadoopConfiguration)).exists

  /** Rewrite every absolute path in a moved table's metadata tree to the new
    * location (manifest lists, manifests, snapshot pointers, metadata log).
    * Filesystem-catalog RENAME = directory move + this; the reference's
    * HadoopCatalog refuses rename because its Avro metadata stores absolute
    * paths too (`core/.../hadoop/HadoopCatalog.java` renameTable throws) —
    * here metadata is rewritable, so a rare O(metadata) pass keeps the table
    * self-consistent (chained renames stay safe). */
  def relocate(spark: SparkSession, newLocation: String,
      withIo: Option[FileIO] = None): Unit = {
    // encrypted tables relocate too: the caller's keyed FileIO reads and
    // REWRITES sealed manifests/lists (per-file keys derive from file
    // NAMES, which a directory move preserves — the ciphertext itself
    // needs no re-keying)
    val io = withIo.getOrElse(new FileIO(spark.sparkContext.hadoopConfiguration))
    val ops = new TableOperations(newLocation, io)
    val (version, base) = ops.current()
    val oldLoc = base.location
    if (oldLoc == newLocation) return
    // stored paths may carry a URI scheme (file:/…) while locations are
    // scheme-less — compare scheme-normalized forms
    val oldNorm = GraftPaths.norm(oldLoc)
    def remap(p: String): String = {
      val pn = GraftPaths.norm(p)
      if (pn.startsWith(oldNorm)) newLocation + pn.substring(oldNorm.length) else p
    }
    // each manifest can appear in several manifest lists — rewrite once
    val newLengths = scala.collection.mutable.Map[String, Long]()
    base.snapshots.foreach { snap =>
      val listPath = remap(snap.manifestList)
      val manifests = JsonCodecs.manifestListFromJson(
        io.readString(listPath), base.schema, base.specById)
      val remapped = manifests.map { mf =>
        val mPath = remap(mf.path)
        val len = newLengths.getOrElseUpdate(mPath, {
          val entries = ManifestIO.read(io, mPath, base.schema, base.specById)
            .map(e => e.copy(dataFile = e.dataFile.copy(path = remap(e.dataFile.path))))
          ManifestIO.write(io, mPath, entries, base.schema,
            base.specById(mf.specId)).length
        })
        mf.copy(path = mPath, length = len)
      }
      io.writeString(listPath,
        JsonCodecs.manifestListToJson(remapped, base.schema, base.specById))
    }
    val newMeta = base.copy(
      location = newLocation,
      snapshots = base.snapshots.map(s => s.copy(manifestList = remap(s.manifestList))),
      metadataLog = base.metadataLog.map(e => e.copy(file = remap(e.file))),
      lastUpdatedMillis = System.currentTimeMillis())
    if (!ops.commit(version, newMeta))
      throw new CommitFailedException(s"Concurrent commit during relocate to $newLocation")
  }
}

/** Scan builder (ref `api/.../TableScan.java`): filter + projection +
  * snapshot selection, planned through the pruning cascade
  * manifest-summaries → partition values → file metrics → residual
  * (SURVEY §3.1).
  *
  * A scan plans from the table metadata current at its FIRST planning call
  * (`planFiles`, `planDeletes`, `toDF`, `useRef`): that one pointer read
  * pins the snapshot, so data files and delete files always come from the
  * same snapshot even when a commit lands between the calls. The calls
  * share one read of the manifest list and one read of each manifest; the
  * parsed entries are dropped once both files and deletes are planned. A
  * commit after the pin is seen by a new scan, not by this one. */
object TableScan {
  /** Metadata columns exposed by `withRowPositions()` (ref
    * `core/.../MetadataColumns.java` `_file`/`_pos`). */
  val MetaFileCol = "_gf_file"
  val MetaPosCol = "_gf_pos"
}

final class TableScan private[table] (table: IceTable,
    pinned: Option[TableMetadata] = None) {
  private var filterExpr: Expr = TrueExpr
  private var projection: Option[Seq[String]] = None
  private var snapshotId: Option[Long] = None
  private var asOfMillis: Option[Long] = None
  private var rowPositions: Boolean = false
  private var scanOptions: Map[String, String] = Map.empty

  /** Expose `_gf_file`/`_gf_pos` metadata columns in the result. */
  def withRowPositions(): TableScan = { rowPositions = true; this }

  /** Per-scan options; `split-size` (bytes) overrides the
    * `read.split.target-size` table property for task sizing. */
  def option(key: String, value: String): TableScan = {
    scanOptions += (key -> value); this
  }

  def filter(e: Expr): TableScan = { filterExpr = And(filterExpr, e); this }

  private var sampleSpec: Option[(Double, Long)] = None

  /** FILE-level sampling at planning time: keep each planned data file
    * iff a seeded murmur3 of its path lands under `fraction` — the
    * ~fraction of the table is chosen before a single byte is read, so a
    * 1% sample of 100 TB costs ~1 TB of IO where row-level `.sample()`
    * scans everything and drops rows afterwards. Deterministic: the same
    * (file set, seed) always selects the same files — repeatable fits and
    * stats estimates; a different seed redraws. Approximate by nature
    * (file row counts vary, selection is per FILE) — the tool for
    * quantizer training, corpus statistics, and data exploration, not for
    * exact answers. Composes with filters (the pruning cascade runs
    * first) and with deletes (suppressed rows stay suppressed). */
  def sampleFiles(fraction: Double, seed: Long = 0L): TableScan = {
    require(fraction > 0.0 && fraction <= 1.0,
      s"sample fraction $fraction out of (0, 1]")
    sampleSpec = Some((fraction, seed)); this
  }

  private def maybeSample(tasks: Seq[FileScanTask]): Seq[FileScanTask] =
    sampleSpec match {
      case None => tasks
      case Some((f, seed)) => tasks.filter { t =>
        val h = graft.meta.transforms.Murmur3.hashBytes(
          (t.file.path + "#" + seed).getBytes("UTF-8"))
        ((h & Int.MaxValue).toDouble / Int.MaxValue) < f
      }
    }

  private var appendsRange: Option[(Long, Long)] = None

  /** Incremental mode: plan only the data files APPENDED in (from, to]
    * (ref incremental table scans; delete snapshots are skipped, row-level
    * deletes do not apply — the result is each commit's appended rows as
    * written). The normal partition/metrics/residual pruning cascade still
    * applies on top. */
  def appendsBetween(fromId: Long, toId: Long): TableScan = {
    appendsRange = Some((fromId, toId)); this
  }
  def filter(sql: String): TableScan =
    filter(SparkFilterConv.convert(
      org.apache.spark.sql.graft.ColumnBridge.parseExpression(table.spark, sql)))
  def select(cols: String*): TableScan = { projection = Some(cols); this }
  def useSnapshot(id: Long): TableScan = { snapshotId = Some(id); this }

  /** Scan the head of a named ref (branch or tag); `main` is a no-op. */
  def useRef(name: String): TableScan =
    if (name == SnapshotRefMeta.MainBranch) this
    else useSnapshot(meta.refs.getOrElse(name,
      throw new ValidationException(s"Unknown ref: $name")).snapshotId)
  def asOfTime(timestampMillis: Long): TableScan = { asOfMillis = Some(timestampMillis); this }

  private var pin: TableMetadata = pinned.orNull
  // the chosen snapshot's manifest list, and parsed live entries per
  // manifest path shared by planFiles and planDeletes
  private var manifests: (Long, Seq[ManifestFileMeta]) = _
  private val parsed = scala.collection.mutable.HashMap.empty[String, Seq[ManifestEntry]]
  private var filesPlanned = false
  private var deletesPlanned = false

  /** The metadata this scan plans from: read once, at the first planning
    * call. */
  private[graft] def meta: TableMetadata = synchronized {
    if (pin == null) pin = table.meta
    pin
  }

  /** The snapshot this scan reads (explicit id > time travel > current). */
  private[graft] def snapshot: Option[SnapshotMeta] = chooseSnapshot(meta)

  /** Live entries of the manifests of `snap` that pass `keep`; each
    * manifest is read at most once while this scan plans. */
  private def liveEntries(m: TableMetadata, snap: SnapshotMeta,
      keep: ManifestFileMeta => Boolean): Seq[ManifestEntry] = synchronized {
    if (manifests == null || manifests._1 != snap.snapshotId)
      manifests = (snap.snapshotId, table.readManifestList(m, snap))
    val wanted = manifests._2.filter(mf => mf.hasLiveFiles && keep(mf))
    ManifestIO.readAll(table.io, wanted.filterNot(mf => parsed.contains(mf.path)),
        m.schema, m.specById)
      .foreach { case (mf, es) => parsed(mf.path) = es.filter(_.status != EntryStatus.Deleted) }
    wanted.flatMap(mf => parsed(mf.path))
  }

  /** Marks one planning half done; once both have run, the parsed entries
    * go (a plan cached by Spark keeps its tasks, not the manifests). */
  private def planned(files: Boolean): Unit = synchronized {
    if (files) filesPlanned = true else deletesPlanned = true
    if (filesPlanned && deletesPlanned) parsed.clear()
  }

  private def chooseSnapshot(m: TableMetadata): Option[SnapshotMeta] =
    snapshotId.map(id => m.snapshot(id).getOrElse(
        throw new ValidationException(s"Unknown snapshot: $id")))
      .orElse(asOfMillis.map(ts => m.snapshotAsOf(ts).getOrElse(
        throw new ValidationException(s"No snapshot as of $ts"))))
      .orElse(m.currentSnapshot)

  def planFiles(): Seq[FileScanTask] =
    try planFiles0() finally planned(files = true)

  private def planFiles0(): Seq[FileScanTask] = {
    val m = meta
    val schema = m.schema
    chooseSnapshot(m) match {
      case None => Nil
      case Some(snap) =>
        val bound = Binder.bind(schema, filterExpr)
        if (bound == FalseExpr) return Nil
        // 1. manifest pruning by partition-range summaries
        val manifestOk: ManifestFileMeta => Boolean = { mf =>
          val spec = m.specById(mf.specId)
          ManifestEvaluator.eval(spec, schema, bound,
            mf.partitionSummaries.map(s => ManifestEvaluator.FieldSummary(
              s.containsNull, s.containsNan, s.lowerBound, s.upperBound)))
        }
        val entries = appendsRange match {
          case Some((from, to)) =>
            // incremental: candidate set = appended files of the range;
            // the same pruning cascade below still filters them
            table.appendedFilesBetween(m, from, to, skipDeleteSnapshots = true)
              .map(f => ManifestEntry(EntryStatus.Added, 0L, 0L, f))
          case None =>
            liveEntries(m, snap, manifestOk)
              .filter(_.dataFile.content == FileContent.Data)
        }
        // per-spec caches of the projected partition predicate + residuals
        val inclCache = scala.collection.mutable.Map[Int, Expr]()
        val residualCache = scala.collection.mutable.Map[(Int, Seq[Any]), Expr]()
        entries.iterator.flatMap { e =>
          val f = e.dataFile
          val spec = m.specById(f.specId)
          val partPred = inclCache.getOrElseUpdate(f.specId,
            Projections.inclusive(spec, schema, bound))
          val partLookup: Int => Any = { fid =>
            val i = spec.fields.indexWhere(_.fieldId == fid)
            if (i >= 0) f.partition(i) else null
          }
          // 2. partition-value pruning
          if (!RowEvaluator.eval(partPred, partLookup)) None
          // 3. file-metrics pruning
          else if (!InclusiveMetricsEvaluator.eval(bound, Reads.statsOf(f))) None
          else {
            // 4. residual for this partition
            val residual = residualCache.getOrElseUpdate((f.specId, f.partition),
              ResidualEvaluator.residual(spec, schema, bound, partLookup))
            if (residual == FalseExpr) None
            else Some(FileScanTask(f, residual, e.sequenceNumber))
          }
        }.toSeq match {
          case planned =>
            requireDecryptable(m, planned.map(_.file), "file")
            // pre-r11 keyed tables: every live file keyed but the property
            // never stamped (it didn't exist yet) — those tables get NONE of
            // the forged-plaintext protections until rotated or stamped.
            // Advise once per handle; never auto-stamp (a mixed table must
            // keep reading its history).
            if (table.io.encryption != PlaintextEncryptionManager
                && !m.property(TableProperties.EncryptionRequired, "false").toBoolean
                && !table.advisedEncryptionRequired
                && planned.nonEmpty
                && planned.forall(_.file.keyMetadata.nonEmpty)) {
              table.advisedEncryptionRequired = true
              org.slf4j.LoggerFactory.getLogger(classOf[IceTable]).warn(
                s"${table.location}: every scanned file is encrypted but " +
                  s"${TableProperties.EncryptionRequired} is not set — " +
                  "forged-plaintext protections are OFF; stamp the " +
                  "property (updateProperties) once fully keyed, or " +
                  "rotate keys (rotateEncryptionKeys stamps it last)")
            }
            val out = maybeSample(planned)
            Listeners.notifyAll(Listeners.ScanEvent(
              table.location, snap.snapshotId, filterExpr.toString, out.size))
            out
        }
    }
  }

  /** Live delete files of the scanned snapshot with their sequence numbers.
    * Refuses delete files the readers cannot apply (see
    * [[MergeOnRead.requirePrimitiveKeys]]) and, like data files, keyed
    * delete files this handle cannot decrypt. */
  def planDeletes(): Seq[(DataFileMeta, Long)] =
    try {
      // incremental mode reports appended rows AS WRITTEN: row-level deletes
      // never apply (and the planned entries carry sequence 0, which would
      // otherwise make EVERY live delete file look newer and strip rows)
      if (appendsRange.nonEmpty) Nil
      else {
        val m = meta
        chooseSnapshot(m) match {
          case None => Nil
          case Some(snap) =>
            val del = liveEntries(m, snap, _ => true)
              .filter(_.dataFile.content != FileContent.Data)
            requireDecryptable(m, del.map(_.dataFile), "delete file")
            del.map(_.dataFile).filter(_.content == FileContent.EqualityDeletes)
              .foreach(f => MergeOnRead.requirePrimitiveKeys(m.schema,
                f.equalityIds, s"${f.path} is an equality delete"))
            del.map(e => (e.dataFile, e.sequenceNumber))
        }
      }
    } finally planned(files = false)

  /** The plan-time encryption guard every planned data and delete file
    * passes: a keyed file read through a manager that can't decrypt it would
    * surface as ciphertext, garbage rows or a KeyAccessDenied deep inside a
    * task — fail at PLAN time, the one choke point every reader (native
    * scan, maintenance, import) passes through. */
  private def requireDecryptable(m: TableMetadata, files: Seq[DataFileMeta],
      kind: String): Unit = {
    def refuse(f: DataFileMeta, why: String): Nothing =
      throw new ValidationException(s"${f.path} $why")
    val enc = table.io.encryption
    if (enc == PlaintextEncryptionManager)
      files.find(_.keyMetadata.nonEmpty).foreach(refuse(_,
        "carries encryption key metadata but the table's encryption " +
          "manager is plaintext — configure the manager that wrote this file"))
    else {
      // a table that REQUIRES encryption must never plan a plaintext file:
      // km-empty entries are either impossible leftovers (rotation stamps
      // the property LAST) or forged substitutes dropped next to the sealed
      // files
      if (m.property(TableProperties.EncryptionRequired, "false").toBoolean)
        files.find(_.keyMetadata.isEmpty).foreach(refuse(_,
          "carries no encryption key metadata but the table requires " +
            s"encrypted content (${TableProperties.EncryptionRequired}=true) " +
            s"— refusing a possibly forged plaintext $kind"))
      // a keyed file whose metadata matches NONE of this manager's
      // derivations (a rotation handle accepts two) was written under a
      // DIFFERENT key — fail here, not as a GCM tag error deep in a task
      files.find(f => f.keyMetadata.nonEmpty && !enc.accepts(f.path, f.keyMetadata))
        .foreach(refuse(_, "was encrypted under a different key than the " +
          "table's current encryption manager derives — configure the " +
          "manager that wrote this file"))
    }
  }

  def toDF: DataFrame = {
    val m = meta
    Reads.readTasksWithDeletes(table, m, planFiles(), planDeletes(),
      projection.getOrElse(m.schema.columnNames), Binder.bind(m.schema, filterExpr),
      rowPositions,
      splitSize = scanOptions.get("split-size")
        .orElse(m.properties.get(TableProperties.SplitSize)).map(_.toLong))
  }
}

/** Table reads: every read — `TableScan.toDF`, incremental appends, row
  * operations, maintenance rewrites, the LLM indexes — scans its planned
  * tasks through the native DSv2 batch scan. */
private[graft] object Reads {

  def statsOf(f: DataFileMeta): MetricsSource = new MetricsSource {
    def rowCount: Long = f.recordCount
    def valueCount(id: Int): Option[Long] = f.valueCounts.get(id)
    def nullCount(id: Int): Option[Long] = f.nullCounts.get(id)
    def nanCount(id: Int): Option[Long] = f.nanCounts.get(id)
    def lower(id: Int): Option[Any] = f.lowerBounds.get(id)
    def upper(id: Int): Option[Any] = f.upperBounds.get(id)
  }

  /** Above this many classes, fall back to sequence-only grouping:
    * partition scope multiplies classes per (partition, seq-class), and a
    * many-partition table with scoped deletes would otherwise blow up the
    * plan. Dropping the scope from GROUPING is semantically neutral —
    * scoped equality deletes key-cover the partition sources (out-of-scope
    * rows can't match) and position deletes match by exact file path — it
    * only costs some extra no-op probes. */
  private[graft] val MaxDeleteGroups = 64

  /** Group scan tasks into APPLICABILITY CLASSES: two tasks share a class
    * iff the exact same set of delete files applies to them (by sequence
    * rule AND partition scope — `MergeOnRead.applies`). Deletes partition
    * the data sequence numbers into at most #delete-commits+1 classes, so
    * the class count stays bounded for long-lived tables regardless of how
    * many distinct data sequences exist; partition scoping further drops
    * whole delete files from classes they can't touch. */
  private[graft] def groupTasksByDeletes(tasks: Seq[FileScanTask],
      deletes: Seq[(DataFileMeta, Long)]): Seq[(Seq[DataFileMeta], Seq[FileScanTask])] = {
    def grouped(applies: ((DataFileMeta, Long), FileScanTask) => Boolean) =
      tasks.groupBy(t => deletes.collect { case e if applies(e, t) => e._1.path })
        .toSeq.sortBy(_._1.mkString(","))
        .map { case (paths, group) =>
          val pathSet = paths.toSet
          (deletes.map(_._1).filter(d => pathSet.contains(d.path)), group)
        }
    val scoped = grouped { case ((d, dseq), t) => MergeOnRead.applies(d, dseq, t) }
    if (scoped.size <= MaxDeleteGroups) scoped
    else grouped { case ((d, dseq), t) => MergeOnRead.seqApplies(d, dseq, t) }
  }

  /** The one read primitive: a DataFrame over exactly `tasks`, read by
    * [[graft.spark.GraftBatchScan]] — the scan SQL reads use — whose readers
    * apply the merge-on-read `deletes` in place (ref `DeleteFilter.java`) and
    * resolve columns by field ID across schema eras. The frame is a DSv2
    * relation ([[graft.spark.ExplicitRead]]), so Spark prunes its columns,
    * hands `boundFilter` to the readers as pushed filters and re-applies it
    * above the scan; the filter is dropped when every task's residual is
    * already TRUE.
    *
    * Task packing: `splitSize` when given, else the inputs of Spark's own
    * `FilePartition.maxSplitBytes` from the calling session — a rewrite's
    * read-side bin-packing, which sizes its output files, follows the
    * session its caller configured.
    *
    * `rowPositions` adds `_gf_file`/`_gf_pos`. `withLineage` adds
    * `_gf_row_id`/`_gf_last_seq`, each row's stable lineage: the files'
    * materialized columns (written by preserving rewrites), else the
    * commit-assigned first-row-id + position / the entry's sequence, emitted
    * by the readers as per-slice constants. Null when the file predates id
    * assignment. */
  def readTasksWithDeletes(table: IceTable, m: TableMetadata, tasks: Seq[FileScanTask],
      deletes: Seq[(DataFileMeta, Long)], projection: Seq[String], boundFilter: Expr,
      rowPositions: Boolean, session: Option[SparkSession] = None,
      splitSize: Option[Long] = None, withLineage: Boolean = false): DataFrame = {
    import graft.spark.{ExplicitRead, GraftSparkTable}
    val spark = session.getOrElse(table.spark)
    val bridge = org.apache.spark.sql.graft.ColumnBridge
    val (split, openCost) = splitSize match {
      case Some(bytes) =>
        require(bytes > 0, s"split-size must be positive: $bytes")
        (bytes, None)
      case None =>
        val (maxPart, open, minPart) = bridge.fileSplitConf(spark)
        val totalBytes = tasks.map(_.file.fileSizeBytes + open).sum
        (math.max(1L, math.min(maxPart,
          math.max(open, totalBytes / math.max(1, minPart)))), Some(open))
    }
    val relation = org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
      .create(new GraftSparkTable(table, table.location,
        explicit = Some(ExplicitRead(tasks, deletes, split, openCost, m))), None, None)
    val frame = bridge.ofRows(spark, relation)
    val filtered =
      if (tasks.forall(_.residual == TrueExpr)) frame
      else frame.filter(SparkConv.toColumn(boundFilter, m.schema))
    // metadata columns of the scan, under the names this API exposes
    val meta =
      (if (rowPositions)
        Seq(GraftSparkTable.FileCol -> TableScan.MetaFileCol,
          GraftSparkTable.PosCol -> TableScan.MetaPosCol)
      else Nil) ++
      (if (withLineage)
        Seq(GraftSparkTable.RowIdCol -> "_gf_row_id",
          GraftSparkTable.LastUpdatedCol -> "_gf_last_seq")
      else Nil)
    filtered.select(projection.map(col) ++ meta.map { case (c, as) => col(c).as(as) }: _*)
  }
}

/** Content-file writing: hidden-partition routing via derived `_p_*`
  * columns that become the partition directories (files keep every table
  * column), distribution/ordering from the table spec (ref
  * `SparkPartitionedWriter`, `DistributionAndOrderingUtils.scala:75`), and
  * file metadata returned by the write tasks themselves
  * ([[writeContentFiles]]; ref `SparkWrite` tasks return `DataFile`s).
  */
private[table] object Writes {

  val HelperPrefix = "_p_"

  /** The [[TableProperties.EncryptionRequired]] gate, checked before EVERY
    * content write: once in [[writeContentFiles]] for data, position-delete
    * and equality-delete files, and by the deletion-vector sidecar writer.
    * A plaintext-manager handle of a table that requires encryption must
    * refuse to write — per-file key metadata guards every read, but a pure
    * append plans no files, so this property is the only thing standing
    * between a misconfigured writer and plaintext rows in an encrypted
    * table. */
  private[table] def requireEncryptionSatisfied(table: IceTable,
      m: TableMetadata): Unit =
    if (m.property(TableProperties.EncryptionRequired, "false").toBoolean &&
        table.io.encryption == PlaintextEncryptionManager)
      throw new ValidationException(
        s"${table.location} requires encrypted writes " +
          s"(${TableProperties.EncryptionRequired}=true) but this handle's " +
          "encryption manager is plaintext — load the table with its keyed " +
          "manager (streaming: option(\"encryption\", ...))")

  private[table] def fileMetrics(conf: org.apache.hadoop.conf.Configuration,
      format: String, path: String, schema: Schema,
      enc: Option[EncryptionManager] = None): ParquetMetrics.FileMetrics =
    format match {
      case "orc" => OrcMetrics.read(
        EncryptionManagers.orcCryptoConf(conf, enc), path, schema)
      case "avro" => AvroMetrics.read(conf, path, schema, enc)
      case _ => ParquetMetrics.read(
        EncryptionManagers.parquetCryptoConf(conf, enc), path, schema)
    }

  /** `write.parquet.bloom-filter-*` table properties → parquet-mr writer
    * conf. `...bloom-filter-enabled.column.<c>` / `...-fpp.column.<c>` /
    * `...-expected-ndv.column.<c>` key single columns (nested fields by
    * their dotted parquet path); `write.parquet.bloom-filter-max-bytes`
    * caps the per-column filter size. Top-level names are validated
    * against the CURRENT schema — a typo'd column would otherwise
    * silently write no filter and every point lookup would quietly read
    * the whole table. '#' is parquet's column-spec delimiter and cannot
    * appear in a keyed name. */
  private[table] def parquetBloomOptions(m: TableMetadata,
      overrides: Map[String, String], schema: Schema): Map[String, String] = {
    val eff = m.properties ++ overrides
    def perColumn(prefix: String, parquetKey: String): Map[String, String] =
      eff.collect { case (k, v) if k.startsWith(prefix) =>
        val c = k.stripPrefix(prefix)
        if (c.isEmpty || c.contains("#"))
          throw new UnsupportedOperationException(
            s"invalid bloom filter column name '$c' in property '$k'")
        if (!c.contains(".") && !schema.columnNames.contains(c))
          throw new ValidationException(
            s"bloom filter property '$k' names no current column " +
              s"(have: ${schema.columnNames.mkString(", ")})")
        s"$parquetKey#$c" -> v
      }
    perColumn("write.parquet.bloom-filter-enabled.column.",
        "parquet.bloom.filter.enabled") ++
      perColumn("write.parquet.bloom-filter-fpp.column.",
        "parquet.bloom.filter.fpp") ++
      perColumn("write.parquet.bloom-filter-expected-ndv.column.",
        "parquet.bloom.filter.expected.ndv") ++
      (eff.get("write.parquet.bloom-filter-max-bytes") match {
        case Some(v) => Map("parquet.bloom.filter.max.bytes" -> v)
        case None => Map.empty[String, String]
      })
  }

  /** Should rewrites preserve row lineage on this table? Parquet-format
    * tables only (the default): other formats cannot reliably read the
    * materialized columns back on the NEXT rewrite, and silently wrong
    * ids are worse than fresh ones. */
  private[graft] def lineagePreserve(m: TableMetadata): Boolean =
    m.property(TableProperties.DefaultFileFormat, "parquet") == "parquet" &&
      m.property(TableProperties.RowLineagePreserve, "true").toBoolean

  def writeDataFiles(spark: SparkSession, table: IceTable, m: TableMetadata,
      df: DataFrame, overrides: Map[String, String] = Map.empty,
      /** Carry `df`'s `_gf_row_id`/`_gf_last_seq` columns into the written
        * files as MATERIALIZED lineage (preserving rewrites). Extra
        * physical columns are invisible to schema-projected reads; the
        * lineage read path coalesces them over the implicit values. */
      lineageCols: Boolean = false): Seq[DataFileMeta] = {
    val schema = m.schema
    val spec = m.spec
    // per-write option overrides (ref SparkWriteOptions) win over table props
    def prop(key: String, default: String): String =
      overrides.getOrElse(key, m.property(key, default))
    // align to table schema (names must match; types are cast)
    val aligned = df.select((schema.struct.fields.map(f =>
      col(f.name).cast(f.dataType).as(f.name)).toSeq ++
      (if (!lineageCols) Nil else Seq(
        col(graft.spark.GraftReadPlanner.LineageRowIdCol).cast("long"),
        col(graft.spark.GraftReadPlanner.LineageSeqCol).cast("long")))).toIndexedSeq: _*)
    val outDir = Locations.newWriteDir(table.location, m, UUID.randomUUID().toString)
    val format = prop(TableProperties.DefaultFileFormat, "parquet")
    // Roll output files at ~write.target-file-size-bytes (ref rolling file
    // writers, `TableProperties.java:145`): Spark rolls by RECORD count, so
    // convert the byte target through the table's observed on-disk row width
    // (the snapshot summary's running total-files-size / total-records —
    // zero extra IO). A 1000-executor job writing one hot partition then
    // emits ~target-size files instead of one monolith. An empty table (or
    // pre-counter history) has no width estimate and keeps Spark's default
    // of one file per task.
    val maxRecords: Option[Long] = for {
      snap <- m.currentSnapshot
      allBytes <- snap.summary.get("total-files-size").flatMap(_.toLongOption)
      rows <- snap.summary.get("total-records").flatMap(_.toLongOption)
      // total-files-size covers every content type but total-records is
      // data-only — subtract tombstone bytes or a MoR-heavy table's width
      // estimate inflates and appends roll too-small files
      bytes = allBytes - snap.summary.get("total-delete-files-size")
        .flatMap(_.toLongOption).getOrElse(0L)
      if rows > 0 && bytes > 0
      targetBytes = prop(TableProperties.TargetFileSize,
        TableProperties.TargetFileSizeDefault.toString).toLong
    } yield math.max(1L, targetBytes / math.max(1L, bytes / rows))
    // file-format tuning (ref TableProperties.java:63-79): write options
    // reach the task-side writers through the per-write hadoop conf
    // (newHadoopConfWithOptions), so row-group/page sizing needs no session
    // mutation. Defaults keep Spark's snappy (the ref-era gzip default
    // predates zstd; snappy/zstd is what its own docs recommend for scans).
    val fileOptions: Map[String, String] = format match {
      case "parquet" =>
        val codec = prop("write.parquet.compression-codec", "snappy")
        val level = prop("write.parquet.compression-level", "")
        Map(
          "compression" -> codec,
          "parquet.block.size" -> prop("write.parquet.row-group-size-bytes",
            (128L << 20).toString),
          "parquet.page.size" -> prop("write.parquet.page-size-bytes",
            (1L << 20).toString),
          "parquet.dictionary.page.size" -> prop("write.parquet.dict-size-bytes",
            (2L << 20).toString)) ++
          (if (level.nonEmpty)
            Map(s"parquet.compression.codec.${codec.toLowerCase}.level" -> level)
          else Map.empty) ++
          // per-column bloom filters (post-reference-era Iceberg property
          // names; parquet-mr sizes from expected-ndv when set, else caps
          // at max-bytes). Point lookups then skip row groups whose stats
          // can't prune — the "needle id in 100 TB" scan shape. Read side
          // is free: pushed filters engage parquet-mr's bloom row-group
          // filter through the same FilterCompat path as stats/dictionary.
          parquetBloomOptions(m, overrides, schema) ++
          // keyed managers engage Parquet Modular Encryption in the task
          // writers through the per-write conf (factory + serialized manager)
          EncryptionManagers.parquetCryptoOptions(table.io.encryption)
      case "orc" =>
        Map("compression" -> prop("write.orc.compression-codec", "snappy")) ++
          // per-column bloom filters (later-Iceberg property names): ORC
          // stores them per row group in the row index, so a point lookup
          // whose SArg value misses the filter skips the row group even
          // when min/max can't prune — same shape as the parquet blooms
          (prop("write.orc.bloom.filter.columns", "") match {
            case "" => Map.empty[String, String]
            case cols =>
              val names = cols.split(",").map(_.trim).filter(_.nonEmpty)
              names.find(c => !schema.columnNames.contains(c)).foreach(c =>
                throw new ValidationException(
                  s"write.orc.bloom.filter.columns names no current " +
                    s"column '$c' (have: ${schema.columnNames.mkString(", ")})"))
              Map("orc.bloom.filter.columns" -> names.mkString(",")) ++
                (prop("write.orc.bloom.filter.fpp", "") match {
                  case "" => Map.empty[String, String]
                  case fpp => Map("orc.bloom.filter.fpp" -> fpp)
                })
          }) ++
          // keyed managers engage ORC columnar encryption in the task
          // writers: provider selection + manager on the conf, plus the
          // column spec (every top-level column under the graft key)
          (table.io.encryption match {
            case _: KeyedFileEncryption =>
              val cols = schema.columnNames ++
                (if (lineageCols) Seq(graft.spark.GraftReadPlanner.LineageRowIdCol,
                  graft.spark.GraftReadPlanner.LineageSeqCol) else Nil)
              // ',' ':' ';' delimit the spec; '.' means a NESTED path —
              // a dotted top-level name would silently key the wrong node
              cols.find(c => c.contains(",") || c.contains(":") ||
                  c.contains(";") || c.contains("."))
                .foreach(c => throw new UnsupportedOperationException(
                  s"ORC encryption cannot express column name '$c' in its " +
                    "orc.encrypt spec (contains a delimiter)"))
              EncryptionManagers.orcCryptoOptions(table.io.encryption) +
                ("orc.encrypt" -> s"graft:${cols.mkString(",")}")
            case _ => Map.empty[String, String]
          })
      case "avro" =>
        // avro names deflate what the ref property calls gzip
        Map("graft.avro.codec" ->
          (prop("write.avro.compression-codec", "snappy") match {
            case "gzip" => "deflate"
            case c => c
          })) ++
          // sync-marker interval = the split granularity of the container
          (prop("write.avro.sync-interval-bytes", "") match {
            case "" => Map.empty[String, String]
            case v => Map("graft.avro.sync.interval" -> v)
          }) ++
          // task-side writers re-hydrate the manager and wrap their streams
          (if (table.io.encryption == PlaintextEncryptionManager) Map.empty
          else Map(EncryptionManagers.OptionKey ->
            EncryptionManagers.serialize(table.io.encryption)))
      case _ => Map.empty
    }
    val options = fileOptions ++ maxRecords.map(n => "maxRecordsPerFile" -> n.toString)
    val (rows, helperNames) = if (spec.isUnpartitioned) (sorted(m, schema, aligned, Nil), Nil)
    else {
      val (withHelpers, helperNames) = withPartitionColumns(aligned, m)
      val mode = prop(TableProperties.DistributionMode, "hash")
      val fanout = prop(TableProperties.FanoutEnabled, "false").toBoolean
      val distributed = mode match {
        case _ if fanout => withHelpers
        case "hash" => withHelpers.repartition(helperNames.map(col): _*)
        case "range" => withHelpers.repartitionByRange(
          (helperNames.map(col) ++ sortCols(m, schema)): _*)
        case _ => withHelpers
      }
      (sorted(m, schema, distributed, helperNames), helperNames)
    }
    writeContentFiles(table, m, rows, helperNames, outDir, format, options)._1
  }

  /** `df` plus one `_p_<field>` column per partition field of `m`'s spec,
    * computed with the codegen'd transform expressions, and their names. */
  private[table] def withPartitionColumns(df: DataFrame,
      m: TableMetadata): (DataFrame, Seq[String]) = {
    val names = m.spec.fields.map(pf => HelperPrefix + pf.name)
    (df.withColumns(names.zip(m.spec.fields.map { pf =>
      pf.transform.toColumn(col(m.schema.fieldName(pf.sourceId)),
        m.schema.fieldType(pf.sourceId))
    }).toMap), names)
  }

  /** The sort columns of `m`'s sort order, on its TRANSFORMED terms. */
  private[table] def sortCols(m: TableMetadata, schema: Schema): Seq[Column] =
    m.sortOrder.fields.map { sf =>
      val src = schema.fieldName(sf.sourceId)
      val t = graft.meta.transforms.Transform.parse(sf.transform)
      val c = t.toColumn(col(src), schema.fieldType(sf.sourceId))
      if (sf.nullsFirst) (if (sf.ascending) c.asc_nulls_first else c.desc_nulls_first)
      else (if (sf.ascending) c.asc_nulls_last else c.desc_nulls_last)
    }

  private def sorted(m: TableMetadata, schema: Schema, df: DataFrame,
      helperNames: Seq[String]): DataFrame = {
    val sc = sortCols(m, schema)
    if (sc.isEmpty) df
    else df.sortWithinPartitions((helperNames.map(col) ++ sc): _*)
  }

  /** Name of the SQL execution a content-file write runs as. */
  val ExecutionName = "graft.write"

  /** The one content-file writer (data, position-delete and equality-delete
    * files). `rows` holds the file columns plus `partitionCols`, one typed
    * column per partition field (none: unpartitioned or global scope).
    * Spark's file writer keeps the plan's distribution and local sort, adds
    * the partition sort when missing, rolls at `maxRecordsPerFile` and names
    * hive-style directories under `outDir`. Each file is written once at
    * its final path ([[DirectCommitProtocol]]) and reported by its own task
    * ([[ContentFileTracker]]), so nothing is listed and no footer is opened
    * on the driver. Returns the files that hold rows (Spark writes one even
    * for an empty input; empty ones are deleted, and a write of no rows
    * leaves no directory) and, for position deletes, the referenced paths. */
  private[table] def writeContentFiles(table: IceTable, m: TableMetadata,
      rows: DataFrame, partitionCols: Seq[String], outDir: String,
      format: String, options: Map[String, String],
      content: Int = FileContent.Data,
      equalityIds: Seq[Int] = Nil): (Seq[DataFileMeta], Set[String]) = {
    requireEncryptionSatisfied(table, m)
    // avro encrypts through library-owned streams; parquet (modular
    // encryption) and ORC (its KeyProvider SPI) need a key-exposing manager,
    // and a stream-only one would silently write them plaintext
    val e = table.io.encryption
    if (e != PlaintextEncryptionManager && format != "avro" &&
        !e.isInstanceOf[KeyedFileEncryption])
      throw new ValidationException(
        s"${table.location}: encryption manager ${e.getClass.getSimpleName} is " +
          s"stream-only — it cannot encrypt '$format' files (avro streams are " +
          "library-owned; parquet and ORC need a KeyedFileEncryption manager), " +
          "and writing plaintext content into an encrypted table is refused")
    val schema = m.schema
    val spec = m.spec
    val conf = table.spark.sparkContext.hadoopConfiguration
    val root = new Path(outDir)
    val dir = root.getFileSystem(conf).makeQualified(root).toString
    val tracker = new ContentFileTracker(
      new org.apache.spark.util.SerializableConfiguration(conf), format, schema,
      Some(e).filter(_ != PlaintextEncryptionManager),
      partitionCols.map(n => rows.schema(n).dataType),
      trackRefs = content == FileContent.PositionDeletes)
    org.apache.spark.sql.graft.ColumnBridge.writeFiles(rows, format, dir, partitionCols,
      options ++ FileIO.localFsOptions(conf, table.spark), new DirectCommitProtocol(dir),
      Seq(tracker), ExecutionName)
    val modeOf = MetricsModes.forTable(m)
    val tasks = tracker.committed.toSeq
    val (written, empty) = tasks.flatMap(_.files).partition(_.metrics.recordCount > 0)
    if (written.isEmpty) table.io.deleteRecursive(outDir)
    else empty.foreach(f => table.io.delete(f.path))
    val files = written.map { f =>
      val base = DataFileMeta(path = f.path, format = format, specId = spec.specId,
        partition = if (partitionCols.isEmpty) spec.fields.map(_ => null) else f.partition,
        recordCount = f.metrics.recordCount, fileSizeBytes = f.sizeBytes,
        schemaId = m.currentSchemaId, content = content, equalityIds = equalityIds,
        // the manifest's key slot, derived from the final file name exactly
        // as the write task derived it (the keyMetadata purity contract)
        keyMetadata = e.keyMetadata(f.path))
      // delete files keep their record count only
      if (content != FileContent.Data) base
      else {
        val mm = MetricsModes.apply(f.metrics, schema, modeOf)
        base.copy(valueCounts = mm.valueCounts, nullCounts = mm.nullCounts,
          nanCounts = mm.nanCounts, lowerBounds = mm.lowerBounds,
          upperBounds = mm.upperBounds, splitOffsets = mm.splitOffsets,
          sortOrderId = m.defaultSortOrderId)
      }
    }
    (files, tasks.flatMap(_.refs).toSet)
  }

  /** A partition value between Catalyst's internal form and the
    * [[DataFileMeta]] form (string → String, decimal → java BigDecimal;
    * dates, timestamps and the rest share one representation). */
  private[table] def fromCatalyst(v: Any): Any = v match {
    case s: org.apache.spark.unsafe.types.UTF8String => s.toString
    case d: org.apache.spark.sql.types.Decimal => d.toJavaBigDecimal
    case x => x
  }

  private[table] def toCatalyst(v: Any): Any = v match {
    case s: String => org.apache.spark.unsafe.types.UTF8String.fromString(s)
    case d: java.math.BigDecimal => org.apache.spark.sql.types.Decimal(d)
    case x => x
  }

  /** One file as its write task saw it. */
  private[table] final case class WrittenFile(path: String, partition: Seq[Any],
      metrics: ParquetMetrics.FileMetrics, sizeBytes: Long)

  /** What one committed write task reports. */
  private[table] final case class TaskFiles(files: Seq[WrittenFile], refs: Set[String])
      extends org.apache.spark.sql.execution.datasources.WriteTaskStats

  /** Records, in each write task, what the table needs of every file it
    * wrote; the driver side keeps the reports of the committed tasks. A
    * file takes its partition tuple per path when it opens: the row Spark
    * announced in `newPartition` just before, else (a file rolled at
    * `maxRecordsPerFile`, opened right after its predecessor closed) the
    * tuple of the file closed last. Never per directory: two timestamps in
    * a DST fall-back hour share one, and concurrent writers hold both files
    * open. Footer metrics are read at `closeFile`, with the table's
    * encryption manager, or at task commit for a file never reported closed
    * (as Spark's `BasicWriteTaskStatsTracker` does). With `trackRefs` the
    * first column is a data-file path (position deletes): a path unlike the
    * previous row's is recorded. */
  private final class ContentFileTracker(
      conf: org.apache.spark.util.SerializableConfiguration, format: String,
      schema: Schema, enc: Option[EncryptionManager],
      partitionTypes: Seq[org.apache.spark.sql.types.DataType], trackRefs: Boolean)
      extends org.apache.spark.sql.execution.datasources.WriteJobStatsTracker {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.execution.datasources.{WriteTaskStats, WriteTaskStatsTracker}
    import org.apache.spark.unsafe.types.UTF8String

    @transient lazy val committed = scala.collection.mutable.ArrayBuffer[TaskFiles]()

    override def newTaskInstance(): WriteTaskStatsTracker = new WriteTaskStatsTracker {
      private var announced: Option[Seq[Any]] = None
      private var lastClosed: Seq[Any] = Nil
      private val open = scala.collection.mutable.LinkedHashMap[String, Seq[Any]]()
      private val files = scala.collection.mutable.ArrayBuffer[WrittenFile]()
      private val refs = scala.collection.mutable.HashSet[String]()
      private var lastRef: UTF8String = null

      override def newPartition(values: InternalRow): Unit =
        announced = Some(partitionTypes.indices.map(i =>
          if (values.isNullAt(i)) null else fromCatalyst(values.get(i, partitionTypes(i)))))

      override def newFile(path: String): Unit = {
        open(path) = announced.getOrElse(lastClosed)
        announced = None
      }

      override def closeFile(path: String): Unit = open.remove(path).foreach { partition =>
        val p = new Path(path)
        lastClosed = partition
        files += WrittenFile(path, partition,
          fileMetrics(conf.value, format, path, schema, enc),
          p.getFileSystem(conf.value).getFileStatus(p).getLen)
      }

      override def newRow(filePath: String, row: InternalRow): Unit =
        if (trackRefs && !row.isNullAt(0)) {
          val ref = row.getUTF8String(0)
          if (ref != lastRef) {
            lastRef = ref.clone()
            refs += lastRef.toString
          }
        }

      override def getFinalStats(taskCommitTime: Long): WriteTaskStats = {
        open.keys.toSeq.foreach(closeFile)
        TaskFiles(files.toSeq, refs.toSet)
      }
    }

    override def processStats(stats: Seq[WriteTaskStats], jobCommitTime: Long): Unit =
      committed ++= stats.map(_.asInstanceOf[TaskFiles])
  }

  /** Writes every file at its final path and renames nothing: the table
    * commits through its metadata (as Delta Lake's `DelayedCommitProtocol`
    * does). `abortTask` deletes its own attempt's files, `abortJob` those of
    * the committed tasks; a file a lost executor leaves is unreferenced, and
    * orphan removal collects it. */
  private final class DirectCommitProtocol(root: String)
      extends org.apache.spark.internal.io.FileCommitProtocol with Serializable {
    import org.apache.hadoop.mapreduce.{JobContext, TaskAttemptContext}
    import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
    import org.apache.spark.internal.io.FileNameSpec

    @transient private var taskFiles: scala.collection.mutable.ArrayBuffer[String] = _
    @transient private lazy val committedFiles = scala.collection.mutable.ArrayBuffer[String]()

    private def deleteAll(paths: Iterable[String], conf: org.apache.hadoop.conf.Configuration): Unit =
      paths.foreach { f =>
        val p = new Path(f)
        p.getFileSystem(conf).delete(p, false)
      }

    override def setupJob(jobContext: JobContext): Unit = ()
    override def commitJob(jobContext: JobContext, taskCommits: Seq[TaskCommitMessage]): Unit = ()
    override def abortJob(jobContext: JobContext): Unit =
      deleteAll(committedFiles, jobContext.getConfiguration)
    override def onTaskCommit(taskCommit: TaskCommitMessage): Unit =
      committedFiles ++= taskCommit.obj.asInstanceOf[Seq[String]]

    override def setupTask(taskContext: TaskAttemptContext): Unit =
      taskFiles = scala.collection.mutable.ArrayBuffer[String]()

    override def newTaskTempFile(taskContext: TaskAttemptContext, dir: Option[String],
        spec: FileNameSpec): String = {
      val split = taskContext.getTaskAttemptID.getTaskID.getId
      val name = f"${spec.prefix}part-$split%05d-${UUID.randomUUID()}${spec.suffix}"
      val path = new Path(dir.fold(new Path(root))(new Path(root, _)), name).toString
      taskFiles += path
      path
    }

    override def commitTask(taskContext: TaskAttemptContext): TaskCommitMessage =
      new TaskCommitMessage(taskFiles.toSeq)

    override def abortTask(taskContext: TaskAttemptContext): Unit =
      deleteAll(taskFiles, taskContext.getConfiguration)
  }
}
