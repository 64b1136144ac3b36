package graft.table

import java.util.UUID

import graft.meta.model._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.functions._

/** Merge-on-read row deletes via delete FILES (format v2; ref
  * `core/.../deletes/EqualityDeleteWriter.java`, `PositionDeleteWriter.java`,
  * read side `data/.../DeleteFilter.java:111`, matching rules
  * `core/.../DeleteFileIndex.java:103`):
  *
  *  - equality deletes: a parquet file of key tuples; applies to data files
  *    with sequenceNumber < delete's sequenceNumber. Keys are primitive
  *    columns ([[requirePrimitiveKeys]])
  *  - position deletes: a parquet file of (file_path, pos); applies to data
  *    files with sequenceNumber ≤ delete's
  *
  * Both are applied inside the native scan's readers
  * (`graft.spark.GraftDeleteProbe`): position deletes against the row
  * index, equality deletes as executor-local key sets.
  *
  * Delete files are PARTITION-SCOPED when the write can prove scope (ref
  * `DeleteFileIndex.java:286` partition matching): equality deletes whose
  * keys cover every partition-source column are split per partition (a row
  * with those key values can only live in that partition, so scoping is
  * semantically neutral); position deletes inherit the partition of their
  * target data file. An all-null partition tuple means GLOBAL scope —
  * conservative and always sound. Scoped deletes let a scan group skip
  * delete files for other partitions entirely, so a table with K delete
  * files doesn't probe all K on every read.
  *
  * Writes are `newRowDelta()`-style commits: delete files are ADDED, no data
  * file is rewritten — O(changed rows), not O(affected files).
  */
object MergeOnRead {

  val PosPathCol = "file_path"
  val PosPosCol = "pos"

  /** Commit an equality-delete file: rows of `keys` values to suppress.
    * Partition-scoped per delete row when `keys` cover all partition
    * sources; global otherwise. */
  def addEqualityDeletes(table: IceTable, keysDf: DataFrame, keys: Seq[String]): Unit = {
    val files = writeEqualityDeleteFiles(table, table.meta, keysDf, keys)
    if (files.isEmpty) return // no key tuples: no-op, no empty snapshot
    table.commitSnapshot(Operation.Delete, files, Set.empty,
      Map("equality-delete-files" -> files.size.toString))
  }

  /** Write (but do NOT commit) equality-delete files for `keysDf`'s key
    * tuples — the building block the streaming upsert sink combines with a
    * data append in ONE snapshot (ref `EqualityDeleteWriter.java` used by
    * the Flink CDC writer). */
  private[graft] def writeEqualityDeleteFiles(table: IceTable, m: TableMetadata,
      keysDf: DataFrame, keys: Seq[String]): Seq[DataFileMeta] = {
    val schema = m.schema
    val spec = m.spec
    val ids = keys.map(schema.fieldId)
    requirePrimitiveKeys(schema, ids, "equality-delete keys")
    val outDir = Locations.newWriteDir(table.location, m, s"deletes-${UUID.randomUUID()}")
    val distinctKeys = keysDf.select(keys.map(col): _*).dropDuplicates(keys)
    val scoped = spec.isPartitioned &&
      spec.fields.forall(pf => ids.contains(pf.sourceId))
    // scoped: derive the partition tuple from the key values the way the
    // data writer does
    val (rows, helperNames) =
      if (scoped) Writes.withPartitionColumns(distinctKeys, m) else (distinctKeys, Nil)
    // key VALUES are row data: encrypted tables encrypt their equality
    // deletes too (keyed managers → Parquet Modular Encryption)
    Writes.writeContentFiles(table, m, rows, helperNames, outDir, "parquet",
      EncryptionManagers.parquetCryptoOptions(table.io.encryption),
      FileContent.EqualityDeletes, ids)._1
  }

  /** Equality-delete keys must be primitive columns (Iceberg's
    * identifier-field rule): the readers probe key tuples by value, and a
    * struct, map or array value has no stable hash equality there. Writers
    * refuse such keys; planning refuses a table that already holds one,
    * naming the file (`what`). */
  private[table] def requirePrimitiveKeys(schema: graft.meta.Schema,
      ids: Seq[Int], what: String): Unit = {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    ids.flatMap(schema.idToField.get).find(_.dataType match {
      case _: StructType | _: MapType | _: ArrayType => true
      case _ => false
    }).foreach { f =>
      throw new ValidationException(s"$what: key column ${f.name} has type " +
        s"${f.dataType.catalogString}; equality-delete keys must be primitive " +
        "(struct, map and array keys cannot be applied)")
    }
  }

  /** ONE-snapshot keyed upsert delta (ref Flink CDC writer semantics): an
    * equality-delete file of `rows`' key tuples plus the appended rows,
    * committed together. Both carry the SAME sequence number, and equality
    * deletes apply only to STRICTLY earlier sequences — so the delta's own
    * rows survive while every older row with a matching key is suppressed.
    * No target data file is read or rewritten. */
  private[graft] def upsertDelta(table: IceTable, keys: Seq[String],
      rows: DataFrame, extraSummary: Map[String, String] = Map.empty): Unit = {
    val m = table.meta
    val eqFiles = writeEqualityDeleteFiles(table, m,
      rows.select(keys.map(col): _*), keys)
    val dataFiles = Writes.writeDataFiles(table.spark, table, m, rows)
    table.commitSnapshot(Operation.Overwrite, eqFiles ++ dataFiles, Set.empty,
      extraSummary ++ Map(
        "equality-delete-files" -> eqFiles.size.toString,
        "upserted-data-files" -> dataFiles.size.toString))
  }

  /** Equality-delete keys + replacement rows committed in ONE snapshot,
    * where the delete keys need NOT appear among the rows ([[upsertDelta]]
    * derives its keys FROM the rows) — the index-maintenance shape: drop
    * every stale row of the changed keys (deleted keys included), append
    * the fresh ones, strictly-older-sequence semantics keeping the commit
    * idempotent under replay (a rerun's eq delete kills the prior
    * attempt's appended rows before re-appending). */
  private[graft] def deleteAndAppend(table: IceTable, keys: Seq[String],
      keysDf: DataFrame, rows: DataFrame,
      extraSummary: Map[String, String] = Map.empty): Unit = {
    val m = table.meta
    val eqFiles = writeEqualityDeleteFiles(table, m, keysDf, keys)
    val dataFiles = Writes.writeDataFiles(table.spark, table, m, rows)
    if (eqFiles.isEmpty && dataFiles.isEmpty) return
    table.commitSnapshot(Operation.Overwrite, eqFiles ++ dataFiles, Set.empty,
      extraSummary ++ Map(
        "equality-delete-files" -> eqFiles.size.toString,
        "upserted-data-files" -> dataFiles.size.toString))
  }

  /** Commit a position-delete file: (file_path, pos) rows to suppress. */
  def addPositionDeletes(table: IceTable, posDf: DataFrame): Unit = {
    val (files, _) = writePositionDeleteFiles(table, table.meta, posDf)
    if (files.isEmpty) return // nothing matched: no-op, no empty snapshot
    table.commitSnapshot(Operation.Delete, files, Set.empty,
      Map("position-delete-files" -> files.size.toString))
  }

  /** Write (but do NOT commit) position-delete files for `posDf`'s
    * (file_path, pos) rows. Each delete row is scoped to the partition of
    * its target data file (looked up from scan metadata, broadcast);
    * unknown paths fall back to global scope.
    *
    * Returns (delete-file metas, data-file paths the delete rows reference).
    * Callers put the referenced paths — NOT their whole planned task set —
    * into `requiredLivePaths`, so a concurrent rewrite of an untouched file
    * never spuriously aborts the commit (ref validates only
    * delete-referenced files). When nothing matched, the written directory
    * is removed again — no orphan empty parquet for maintenance to sweep.
    *
    * `affected`: the data files whose positions can appear in `posDf` —
    * callers that planned a scan pass their task set so the partition
    * lookup stays affected-file-sized instead of broadcasting every live
    * file in the table (at millions of files the full lookup is a
    * needlessly large broadcast). `None` (public addPositionDeletes, where
    * posDf is arbitrary) falls back to all live files.
    *
    * `compact`: one exchange on the partition value before the write, so
    * each partition emits exactly ONE delete file (the
    * rewritePositionDeleteFiles contract); DML writes skip it — their
    * delete sets are small and an extra shuffle per commit isn't worth it.
    *
    * The referenced paths come from the write tasks themselves (each
    * records the distinct `file_path` values it wrote), so they cost no
    * second job. */
  private[table] def writePositionDeleteFiles(table: IceTable, m: TableMetadata,
      posDf: DataFrame,
      affected: Option[Seq[FileScanTask]] = None,
      compact: Boolean = false): (Seq[DataFileMeta], Set[String]) = {
    // deletion-vector mode: same inputs, bitmap sidecars out — every DML
    // caller (DELETE/UPDATE/MERGE merge-on-read, streaming upsert compose,
    // rewrite/convert maintenance) switches representation with the table
    // property, no call-site changes
    if (m.property(TableProperties.DeleteVectors, "false").toBoolean)
      return DeletionVectors.writeSidecars(table, m, posDf, affected)
    val spec = m.spec
    val outDir = Locations.newWriteDir(table.location, m, s"deletes-${UUID.randomUUID()}")
    val rows0 = posDf.select(col(PosPathCol).cast("string"), col(PosPosCol).cast("long"))
      .dropDuplicates(PosPathCol, PosPosCol)
    val rows = if (compact && !spec.isPartitioned) rows0.coalesce(1) else rows0
    val helperNames = spec.fields.map(pf => Writes.HelperPrefix + pf.name)
    val out = if (!spec.isPartitioned) rows else {
      // path -> partition tuple of the live default-spec files; files under
      // other specs (or unknown paths) stay global (all-null)
      import org.apache.spark.sql.types.{StringType, StructField, StructType}
      val schema = m.schema
      val types = spec.fields.map(spec.fieldType(schema, _))
      val lookupRows = affected.getOrElse(table.newScan().planFiles())
        .filter(_.file.specId == spec.specId)
        .map { t =>
          org.apache.spark.sql.Row.fromSeq(GraftPaths.norm(t.file.path) +:
            t.file.partition.zip(types).map { case (v, dt) =>
              CatalystTypeConverters.convertToScala(Writes.toCatalyst(v), dt)
            })
        }
      val lookupSchema = StructType(StructField("_gp_path", StringType) +:
        helperNames.zip(types).map { case (n, dt) => StructField(n, dt) })
      // local rows -> LocalRelation (metadata-sized; broadcast-friendly,
      // no single-partition RDD job)
      val lookup = table.spark.createDataFrame(
        java.util.Arrays.asList(lookupRows: _*), lookupSchema)
      // normalize URI schemes: _metadata.file_path is "file:///p", Hadoop
      // listings are "file:/p", lookup keys are scheme-less GraftPaths.norm
      val joined = rows.join(broadcast(lookup),
          GraftPaths.normCol(rows(PosPathCol)) === lookup("_gp_path"), "left")
        .drop("_gp_path")
      // compact: hash-exchange on the partition tuple puts every row of one
      // partition in one task → exactly one file per partition dir
      if (compact) joined.repartition(helperNames.map(col): _*) else joined
    }
    Writes.writeContentFiles(table, m, out, helperNames, outDir, "parquet",
      EncryptionManagers.parquetCryptoOptions(table.io.encryption),
      FileContent.PositionDeletes)
  }

  /** Merge-on-read DELETE WHERE (ref TableProperties DELETE_MODE
    * merge-on-read): strictly-matching WHOLE files drop metadata-only —
    * same fast path as copy-on-write — and only partially-matching files
    * get position-delete rows, all in ONE snapshot. `rowCond` carries a
    * condition the predicate ADT can't express; `filter` is then only a
    * pruning bound and the metadata-only path is disabled. */
  def deleteWhere(table: IceTable, filter: graft.meta.expr.Expr,
      rowCond: Option[org.apache.spark.sql.Column] = None): Unit = {
    import graft.meta.expr._
    val m = table.meta
    val schema = m.schema
    val bound = Binder.bind(schema, filter)
    val tasks = table.newScan().filter(filter).planFiles()
    if (tasks.isEmpty) return
    val (whole, partial) =
      if (rowCond.nonEmpty) (Nil, tasks)
      else RowOps.strictPartition(m, bound, tasks)
    val (posFiles, refPaths) =
      if (partial.isEmpty) (Nil, Set.empty[String])
      else {
        val df = Reads.readTasksWithDeletes(table, m,
          partial.map(_.copy(residual = TrueExpr)),
          table.newScan().planDeletes(), schema.columnNames, TrueExpr,
          rowPositions = true)
        val cond = rowCond.getOrElse(SparkConv.toColumn(bound, schema))
        val positions = df.filter(cond <=> lit(true))
          .select(col(TableScan.MetaFileCol).as(PosPathCol),
            col(TableScan.MetaPosCol).as(PosPosCol))
        writePositionDeleteFiles(table, m, positions, affected = Some(partial))
      }
    if (whole.isEmpty && posFiles.isEmpty) return
    table.commitSnapshot(Operation.Delete, posFiles,
      whole.map(_.file.path).toSet,
      Map("position-delete-files" -> posFiles.size.toString,
        "metadata-only-deleted-files" -> whole.size.toString),
      validate = Some(ConflictValidation(m.currentSnapshotId, filter,
        m.property(TableProperties.DeleteIsolationLevel,
          TableProperties.IsolationSerializable),
        // a concurrent rewrite of a referenced file would orphan the
        // position deletes — the commit must see those files still live
        // (only the files the deletes actually reference, not every
        // planned file)
        requiredLivePaths = refPaths)),
      removedMeta = whole.map(_.file))
  }

  /** Merge-on-read UPDATE SET (ref TableProperties UPDATE_MODE
    * merge-on-read): matching rows become position-delete entries AND their
    * updated copies are appended — one snapshot, O(changed rows) IO instead
    * of rewriting whole files. */
  def updateWhere(table: IceTable, filter: graft.meta.expr.Expr,
      assignments: Map[String, org.apache.spark.sql.Column],
      rowCond: Option[org.apache.spark.sql.Column] = None): Unit = {
    import graft.meta.expr._
    val m = table.meta
    val schema = m.schema
    val bound = Binder.bind(schema, filter)
    val tasks = table.newScan().filter(filter).planFiles()
    if (tasks.isEmpty) return
    // preserving update (row lineage): the appended updated copies carry
    // their ORIGINAL _row_id (materialized) and a NULL materialized seq —
    // the implicit fallback then reports THIS commit's sequence, which is
    // exactly "last updated now"
    val preserve = Writes.lineagePreserve(m)
    val df = Reads.readTasksWithDeletes(table, m,
      tasks.map(_.copy(residual = TrueExpr)),
      table.newScan().planDeletes(), schema.columnNames, TrueExpr,
      rowPositions = true, withLineage = preserve)
    val cond = rowCond.getOrElse(SparkConv.toColumn(bound, schema))
    val matching = df.filter(cond <=> lit(true)).cache()
    try {
      val (posFiles, refPaths) = writePositionDeleteFiles(table, m, matching
        .select(col(TableScan.MetaFileCol).as(PosPathCol),
          col(TableScan.MetaPosCol).as(PosPosCol)), affected = Some(tasks))
      if (posFiles.isEmpty) return // no matching rows anywhere
      val updated =
        if (!preserve) RowOps.applyAssignments(schema, matching, assignments,
          lit(true))
        else RowOps.applyAssignments(schema,
          matching.withColumn("_gf_last_seq",
            lit(null).cast("long")),
          assignments, lit(true), keepCols = Seq("_gf_row_id", "_gf_last_seq"))
      val dataFiles = Writes.writeDataFiles(table.spark, table, m, updated,
          lineageCols = preserve)
      table.commitSnapshot(Operation.Overwrite, posFiles ++ dataFiles, Set.empty,
        Map("position-delete-files" -> posFiles.size.toString,
          "updated-data-files" -> dataFiles.size.toString),
        validate = Some(ConflictValidation(m.currentSnapshotId, filter,
          m.property(TableProperties.UpdateIsolationLevel,
            TableProperties.IsolationSerializable),
          requiredLivePaths = refPaths)))
    } finally matching.unpersist()
  }

  /** Sequence rule alone (partition scope ignored) — used when branch-count
    * capping merges applicability classes; see `IceTable.MaxDeleteGroups`. */
  private[table] def seqApplies(d: DataFileMeta, dseq: Long, t: FileScanTask): Boolean =
    if (FileContent.isPositional(d.content)) dseq >= t.seq
    else dseq > t.seq

  /** A delete file's applicability to one data file (ref
    * `DeleteFileIndex.java:103,286`): sequence rule per content type, then
    * partition scope — all-null partition = global; a different spec can't
    * prove disjointness, so scoped deletes still apply across specs. */
  private[table] def applies(d: DataFileMeta, dseq: Long, t: FileScanTask): Boolean = {
    if (!seqApplies(d, dseq, t)) return false
    val global = d.partition.isEmpty || d.partition.forall(_ == null)
    global || d.specId != t.file.specId || d.partition == t.file.partition
  }
}

