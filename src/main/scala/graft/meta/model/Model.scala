package graft.meta.model

import graft.meta.{PartitionSpec, Schema}

/** Snapshot-tree metadata model (ref `core/.../TableMetadata.java:49`,
  * `api/.../Snapshot.java`, `api/.../DataFile.java:42-64`,
  * `api/.../ManifestFile.java`). Persisted as JSON ([[JsonCodecs]]):
  *  - `v{N}.metadata.json` — the table metadata tree (small)
  *  - `snap-{id}.manifestlist.json` — manifest list with partition summaries
  *  - `manifest-{uuid}.parquet` (or `.jsonl`, one JSON line per entry) —
  *    the file entries
  *  - `stats-{snapshotId}-{uuid}.json` — table column statistics
  * Orphan removal collects the last three kinds when no snapshot or stats
  * entry references them; it never touches metadata JSON or the version
  * hint.
  * Avro→JSON is a deliberate re-expression (semantics, not format, are the
  * contract); entries stay streamable line-per-file for big metadata.
  */
final case class DataFileMeta(
    path: String,
    format: String,
    specId: Int,
    /** Values aligned with the spec's fields, in internal repr. */
    partition: Seq[Any],
    recordCount: Long,
    fileSizeBytes: Long,
    valueCounts: Map[Int, Long] = Map.empty,
    nullCounts: Map[Int, Long] = Map.empty,
    nanCounts: Map[Int, Long] = Map.empty,
    lowerBounds: Map[Int, Any] = Map.empty,
    upperBounds: Map[Int, Any] = Map.empty,
    splitOffsets: Seq[Long] = Nil,
    sortOrderId: Int = 0,
    /** Schema under which the file was written — read resolution is by field
      * ID, so renamed columns still resolve (SURVEY §1.3). */
    schemaId: Int = 0,
    /** 0 = data, 1 = position deletes, 2 = equality deletes
      * (ref format v2 content field; `DeleteFile`), 3 = deletion vector
      * (a roaring-bitmap blob inside a sidecar file — the public format
      * lineage's v3 evolution of position deletes, re-expressed here). */
    content: Int = FileContent.Data,
    /** Field IDs of the equality-delete key columns (content = 2). */
    equalityIds: Seq[Int] = Nil,
    /** Deletion vectors only (content = 3): the ONE data file this blob's
      * bitmap applies to (normalized path), and the blob's byte range
      * within `path` (several blobs share one sidecar file; `recordCount`
      * is the bitmap's cardinality, `fileSizeBytes` the whole sidecar's
      * length). */
    referencedFile: Option[String] = None,
    contentOffset: Option[Long] = None,
    contentSize: Option[Long] = None,
    /** Row lineage (content = 0): first row id of this file's implicit
      * id span — assigned by the COMMIT from `TableMetadata.nextRowId`;
      * None on files committed before lineage existed (their `_row_id`
      * reads null). */
    firstRowId: Option[Long] = None,
    /** Opaque per-file encryption key metadata (ref `DataFile.java:62`
      * key_metadata): written by the table's [[graft.table.EncryptionManager]]
      * when a file is encrypted, handed back at read time to decrypt it.
      * None = plaintext. Reserved in the metadata format NOW so adding an
      * encrypted lake later is a manager swap, not a schema migration. */
    keyMetadata: Option[Seq[Byte]] = None) extends Serializable

object FileContent {
  val Data = 0
  val PositionDeletes = 1
  val EqualityDeletes = 2
  val DeletionVectors = 3

  /** Both row-position delete representations: parquet (path, pos) files
    * and bitmap deletion vectors share sequence semantics (apply to data
    * sequence ≤ theirs) and read-side meaning (a set of dead ordinals per
    * data file). */
  def isPositional(content: Int): Boolean =
    content == PositionDeletes || content == DeletionVectors
}

object EntryStatus {
  val Existing = 0
  val Added = 1
  val Deleted = 2
}

final case class ManifestEntry(
    status: Int,
    snapshotId: Long,
    sequenceNumber: Long,
    dataFile: DataFileMeta) extends Serializable

final case class FieldSummaryMeta(
    containsNull: Boolean,
    containsNan: Option[Boolean],
    lowerBound: Option[Any],
    upperBound: Option[Any]) extends Serializable

final case class ManifestFileMeta(
    path: String,
    length: Long,
    specId: Int,
    addedSnapshotId: Long,
    minSequenceNumber: Long,
    addedFilesCount: Int,
    existingFilesCount: Int,
    deletedFilesCount: Int,
    addedRowsCount: Long,
    existingRowsCount: Long,
    deletedRowsCount: Long,
    partitionSummaries: Seq[FieldSummaryMeta]) extends Serializable {
  def hasLiveFiles: Boolean = addedFilesCount + existingFilesCount > 0
}

final case class SnapshotMeta(
    snapshotId: Long,
    parentId: Option[Long],
    sequenceNumber: Long,
    timestampMillis: Long,
    operation: String,
    summary: Map[String, String],
    manifestList: String) extends Serializable

object Operation {
  val Append = "append"
  val Replace = "replace"
  val Overwrite = "overwrite"
  val Delete = "delete"
}

final case class SortFieldMeta(sourceId: Int, transform: String,
    ascending: Boolean, nullsFirst: Boolean) extends Serializable
final case class SortOrderMeta(orderId: Int, fields: Seq[SortFieldMeta])
    extends Serializable
object SortOrderMeta { val unsorted: SortOrderMeta = SortOrderMeta(0, Nil) }

/** Table-level column statistics for the CBO, persisted per snapshot (ref-era
  * tables had only per-file metrics; modeled on the published table-format
  * spec's `statistics` list of sketch files). `distinctCount` is an HLL++
  * estimate (`approx_count_distinct`), the rest are exact — all computed in
  * ONE distributed pass by [[graft.table.TableStats]]. */
final case class ColumnStatMeta(
    fieldId: Int,
    distinctCount: Long,
    nullCount: Long,
    avgLen: Option[Long] = None,
    maxLen: Option[Long] = None,
    /** Exact bounds in Catalyst-internal numeric form (Long for integral /
      * timestamp-micros / date-days promoted to Long; Double for
      * fractional) — numeric, date, and timestamp columns only, where the
      * CBO's range-selectivity estimation can use them. */
    min: Option[Any] = None,
    max: Option[Any] = None) extends Serializable

/** Pointer from table metadata to a stats file: stats are valid only for
  * reads of exactly `snapshotId` (appends change every column's profile). */
final case class StatsFileMeta(
    snapshotId: Long,
    path: String,
    fileSizeBytes: Long) extends Serializable

final case class SnapshotLogEntry(timestampMillis: Long, snapshotId: Long)
final case class MetadataLogEntry(timestampMillis: Long, file: String)

/** A named snapshot reference: a `branch` head advances when commits target
  * the branch, a `tag` is an immutable pointer. Retention knobs feed
  * expireSnapshots — `maxRefAgeMs` ages out the ref itself, the other two
  * scope how much of a branch's ancestry must survive. (Snapshot refs
  * post-date the reference era — original surface, modeled on the published
  * table-format spec's `refs` map.) */
final case class SnapshotRefMeta(
    snapshotId: Long,
    refType: String,
    minSnapshotsToKeep: Option[Int] = None,
    maxSnapshotAgeMs: Option[Long] = None,
    maxRefAgeMs: Option[Long] = None) extends Serializable

object SnapshotRefMeta {
  val Branch = "branch"
  val Tag = "tag"
  /** The implicit main branch: `currentSnapshotId`, never stored in `refs`. */
  val MainBranch = "main"
}

final case class TableMetadata(
    formatVersion: Int,
    tableUuid: String,
    location: String,
    lastSequenceNumber: Long,
    lastUpdatedMillis: Long,
    lastColumnId: Int,
    currentSchemaId: Int,
    schemas: Seq[Schema],
    defaultSpecId: Int,
    specs: Seq[PartitionSpec],
    lastPartitionId: Int,
    defaultSortOrderId: Int,
    sortOrders: Seq[SortOrderMeta],
    properties: Map[String, String],
    currentSnapshotId: Option[Long],
    snapshots: Seq[SnapshotMeta],
    snapshotLog: Seq[SnapshotLogEntry],
    metadataLog: Seq[MetadataLogEntry],
    refs: Map[String, SnapshotRefMeta] = Map.empty,
    statsFiles: Seq[StatsFileMeta] = Nil,
    /** Row lineage (the public format lineage's v3 `next-row-id`): the
      * first row id available for assignment. Every committed data file
      * gets a `firstRowId` span `[firstRowId, firstRowId + recordCount)`
      * carved from this counter; a row's stable `_row_id` is then
      * firstRowId + position (or the file's materialized `_gf_row_id`
      * column after a preserving rewrite). */
    nextRowId: Long = 0L) extends Serializable {

  def schema: Schema = schemas.find(_.schemaId == currentSchemaId).get
  def spec: PartitionSpec = specs.find(_.specId == defaultSpecId).get
  def specById(id: Int): PartitionSpec = specs.find(_.specId == id).get
  def sortOrder: SortOrderMeta = sortOrders.find(_.orderId == defaultSortOrderId).get
  def currentSnapshot: Option[SnapshotMeta] =
    currentSnapshotId.flatMap(id => snapshots.find(_.snapshotId == id))
  def snapshot(id: Long): Option[SnapshotMeta] = snapshots.find(_.snapshotId == id)

  def snapshotAsOf(timestampMillis: Long): Option[SnapshotMeta] =
    snapshotLog.filter(_.timestampMillis <= timestampMillis).lastOption
      .flatMap(e => snapshot(e.snapshotId))

  def property(key: String, default: String): String = properties.getOrElse(key, default)

  def withSnapshot(s: SnapshotMeta, nowMs: Long): TableMetadata = copy(
    lastSequenceNumber = math.max(lastSequenceNumber, s.sequenceNumber),
    lastUpdatedMillis = nowMs,
    currentSnapshotId = Some(s.snapshotId),
    snapshots = snapshots :+ s,
    snapshotLog = snapshotLog :+ SnapshotLogEntry(nowMs, s.snapshotId))
}

object TableProperties {
  val DefaultFileFormat = "write.format.default" // parquet | orc (ref :61)
  /** "true" = every content write must run under a non-plaintext
    * encryption manager; set automatically when a table is CREATED with a
    * keyed FileIO, by hand when encrypting an existing table. Guards the
    * one hole per-file key metadata can't: a pure append through a
    * plaintext handle never plans files, so nothing else would stop it
    * from committing plaintext into an encrypted table. */
  val EncryptionRequired = "graft.encryption.required"
  val SplitSize = "read.split.target-size"
  val SplitSizeDefault: Long = 128L * 1024 * 1024 // ref TableProperties.java:82
  val SplitOpenFileCost = "read.split.open-file-cost"
  val SplitOpenFileCostDefault: Long = 4L * 1024 * 1024 // ref :90
  val SplitLookback = "read.split.planning-lookback"
  val SplitLookbackDefault = 10 // ref :87
  val TargetFileSize = "write.target-file-size-bytes"
  val TargetFileSizeDefault: Long = 512L * 1024 * 1024 // ref :145
  val CommitRetries = "commit.retry.num-retries"
  val CommitRetriesDefault = 4 // ref :28
  val DistributionMode = "write.distribution-mode" // none | hash | range
  val FanoutEnabled = "write.spark.fanout.enabled"
  /** Imported hive-layout tables: identity partition values are injected as
    * constants at read (the files don't contain those columns). */
  val InjectPartitionConstants = "read.inject-partition-constants"
  // ref TableProperties.java DELETE/UPDATE/MERGE_ISOLATION_LEVEL (default
  // serializable): serializable also fails on concurrent appends matching the
  // operation's conflict filter; snapshot only on concurrent file deletes
  /** Manifest entry format: `parquet` (columnar, default) or `jsonl`.
    * Reads dispatch on the file extension, so either loads always. */
  val ManifestFormat = "write.metadata.manifest-format"
  val ManifestFormatDefault = "parquet"
  val DeleteIsolationLevel = "write.delete.isolation-level"
  val UpdateIsolationLevel = "write.update.isolation-level"
  val MergeIsolationLevel = "write.merge.isolation-level"
  /** Row-level operation modes (ref TableProperties DELETE_MODE/UPDATE_MODE):
    * `copy-on-write` (default) rewrites affected files; `merge-on-read`
    * records position-delete files (+ replacement rows for UPDATE) so the
    * write is O(changed rows) and readers merge. */
  val DeleteMode = "write.delete.mode"
  val UpdateMode = "write.update.mode"
  val MergeMode = "write.merge.mode"
  val RowLevelCopyOnWrite = "copy-on-write"
  val RowLevelMergeOnRead = "merge-on-read"
  // below this many live files the merge probe (dynamic file filter) is a
  // full extra pass that cannot exclude enough work to pay for itself
  val MergeProbeMinFiles = "write.merge.probe.min-files"
  val MergeProbeMinFilesDefault = "8"
  /** "true" = merge-on-read position deletes are written as roaring-bitmap
    * DELETION VECTORS (one bitmap blob per targeted data file, packed into
    * shared sidecar files) instead of (path, pos) parquet rows. Readers
    * fetch each data file's bitmap directly — no delete-parquet scan, no
    * per-row probe-set build from row tuples — and the bitmap stays
    * memory-bounded at any delete density. Both representations can
    * coexist in one table (reads union them); `convert_position_deletes`
    * migrates the parquet ones. */
  val DeleteVectors = "write.delete.vectors.enabled"
  /** "true" (default): compaction / z-order rewrites and merge-on-read
    * UPDATEs carry each surviving row's ORIGINAL `_row_id` (and, for
    * rewrites of untouched rows, its original `_last_updated_seq`) into
    * the new files as materialized columns, so row identity survives file
    * reorganization. Parquet-format tables only (the default); other
    * formats fall back to fresh ids on rewrite. */
  val RowLineagePreserve = "write.row-lineage.preserve"
  val IsolationSerializable = "serializable"
  val IsolationSnapshot = "snapshot"
  /** Commit-time manifest auto-merge (ref `TableProperties.java:51-58`):
    * small same-spec manifests are rewritten into ~target-size ones during
    * commits, so planning stays O(live data) instead of O(commit count). */
  val ManifestMergeEnabled = "commit.manifest-merge.enabled"
  val ManifestMergeEnabledDefault = "true"
  val ManifestTargetSizeBytes = "commit.manifest.target-size-bytes"
  val ManifestTargetSizeBytesDefault: Long = 8L * 1024 * 1024 // ref :52
  val ManifestMinMergeCount = "commit.manifest.min-count-to-merge"
  val ManifestMinMergeCountDefault = 100 // ref :55
  val MaxSnapshotAgeMs = "history.expire.max-snapshot-age-ms"
  val MaxSnapshotAgeMsDefault: Long = 5L * 24 * 60 * 60 * 1000 // ref :166
  /** `false` on snapshot-imported tables whose data files are shared with
    * the source table: file-deleting maintenance refuses to run (ref
    * TableProperties GC_ENABLED; snapshot procedure sets it). */
  val GcEnabled = "gc.enabled"
}
