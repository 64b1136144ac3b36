package graft.table

import graft.meta.expr.TrueExpr
import graft.meta.model._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

/** Row-level CDC changelog over a snapshot range (the read-side complement
  * of the streaming equality-delete upsert sink; ref incremental scan
  * `core/.../IncrementalDataTableScan.java:57` — the reference era exposes
  * appends-only incremental reads, this extends the same lineage walk to
  * full insert/delete changelogs, the semantics later formalized as
  * Iceberg's changelog scan).
  *
  * Emits the table's columns plus:
  *  - `_change_type`          "insert" | "delete"
  *  - `_commit_snapshot_id`   the snapshot that committed the change
  *  - `_change_ordinal`       commit order within the range, 0-based and
  *    DENSE over the emitting (non-`replace`) snapshots — compactions are
  *    skipped entirely and consume no ordinal
  *
  * Per snapshot in `(from, to]`, oldest first (compaction `replace`
  * snapshots are skipped — they change layout, not rows):
  *  - data files ADDED        → their rows as inserts
  *  - data files REMOVED      → their rows AS VISIBLE AT THE PARENT
  *    (merge-on-read deletes already applicable then are applied first,
  *    so a CoW rewrite doesn't resurrect rows a delete file suppressed)
  *  - when a snapshot both adds and removes data files (CoW rewrites),
  *    carryover rows — identical rows present on both sides — are
  *    cancelled multiset-exactly, so only net row changes are emitted
  *  - delete files ADDED      → the suppressed rows, reconstituted from the
  *    referenced data files at parent visibility, as deletes
  *
  * An update written as merge-on-read (position delete + new data file in
  * one snapshot) therefore surfaces as delete(old row) + insert(new row)
  * with the same `_commit_snapshot_id` — standard changelog form.
  *
  * Scale shape: the walk is lineage-bounded. Manifests are immutable, so
  * each manifest PATH is read at most once for the whole changelog (entries
  * are cached by path while the path stays referenced); per snapshot the
  * only new IO is its manifest list plus the manifests that snapshot wrote
  * (ref incremental scan's `addedSnapshotId` pruning
  * `IncrementalDataTableScan.java:57-104` — same bound, reached via the
  * cache because removal commits rewrite manifests in place of writing
  * tombstone entries here). Total driver IO = O(from-snapshot live set +
  * manifests written in the range), not O(snapshots × all manifests). Row
  * reconstitution reads only the files each snapshot touched, and the
  * delete semi-joins broadcast the (small) delete-file tuples.
  */
object Changelog {

  val ChangeTypeCol = "_change_type"
  val SnapshotIdCol = "_commit_snapshot_id"
  val OrdinalCol = "_change_ordinal"

  val Insert = "insert"
  val Delete = "delete"

  /** `withRowIds` appends a nullable `_row_id` column: each change row's
    * STABLE identity (row lineage), so a CDC consumer can pair an UPDATE's
    * delete+insert rows exactly instead of by value. Populated only when
    * the table runs preserving rewrites ([[Writes.lineagePreserve]]) —
    * without preservation a copy-on-write rewrite re-ids copied rows, and
    * ids in the carryover-cancellation EXCEPT would fabricate phantom
    * delete/insert pairs; the column is all-null there instead. */
  def changes(table: IceTable, fromId: Option[Long], toId: Option[Long],
      withRowIds: Boolean = false): DataFrame = {
    val spark = table.spark
    val m = table.meta
    val schema = m.schema
    val withLin = withRowIds && Writes.lineagePreserve(m)
    val outType0 = schema.struct
      .add(ChangeTypeCol, StringType, nullable = false)
      .add(SnapshotIdCol, LongType, nullable = false)
      .add(OrdinalCol, IntegerType, nullable = false)
    val outType = if (!withRowIds) outType0
      else outType0.add(graft.spark.GraftSparkTable.RowIdCol, LongType)
    def empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outType)

    // an expired `from` must fail loudly: expire leaves children's parentId
    // pointing at the gone snapshot, so the ancestor walk below would stop at
    // the retention boundary and replay the first retained snapshot's entire
    // live set as inserts (ref `IncrementalDataTableScan.validateSnapshotIds`
    // throws for exactly this)
    fromId.foreach { fid =>
      require(m.snapshot(fid).isDefined,
        s"From snapshot no longer exists (expired?): $fid")
    }
    val to = toId
      .map(id => m.snapshot(id).getOrElse(
        throw new ValidationException(s"Unknown snapshot: $id")))
      .orElse(m.currentSnapshot)
      .getOrElse(return empty)
    // lineage (from, to] oldest-first; same ancestor validation as the
    // incremental scan — a `from` that is not an ancestor (e.g. after a
    // rollback) must fail, not silently replay from the root
    val lineage = Iterator.iterate(Option(to))(s =>
        s.flatMap(_.parentId).flatMap(m.snapshot))
      .takeWhile(s => s.isDefined && !fromId.contains(s.get.snapshotId))
      .flatten.toSeq.reverse
    fromId.foreach { fid =>
      require(lineage.headOption.flatMap(_.parentId).contains(fid) ||
        lineage.isEmpty, s"$fid is not an ancestor of ${to.snapshotId}")
    }
    if (lineage.isEmpty) return empty

    // manifest entry cache: manifests are immutable, so entries read for one
    // snapshot's live set are reused verbatim for every later snapshot that
    // still references the same manifest — the walk reads each PATH once.
    // Paths dropped from a manifest list never reappear down the parent
    // chain, so evicting unreferenced keys keeps memory at one live set.
    val entryCache = scala.collection.mutable.Map[String, Seq[ManifestEntry]]()
    def liveMaps(snap: SnapshotMeta)
        : (Map[String, (DataFileMeta, Long)], Map[String, (DataFileMeta, Long)]) = {
      val mfs = table.readManifestList(m, snap).filter(_.hasLiveFiles)
      val paths = mfs.map(_.path).toSet
      val missing = mfs.filterNot(mf => entryCache.contains(mf.path))
      ManifestIO.readAll(table.io, missing, m.schema, m.specById).foreach {
        case (mf, es) =>
          entryCache(mf.path) = es.filter(_.status != EntryStatus.Deleted)
      }
      entryCache.keysIterator.filterNot(paths).toSeq.foreach(entryCache.remove)
      val (del, data) = mfs.flatMap(mf => entryCache(mf.path))
        .partition(_.dataFile.content != FileContent.Data)
      (data.map(e => GraftPaths.norm(e.dataFile.path) -> (e.dataFile, e.sequenceNumber)).toMap,
        del.map(e => GraftPaths.norm(e.dataFile.path) -> (e.dataFile, e.sequenceNumber)).toMap)
    }

    var (prevData, prevDeletes) =
      fromId.flatMap(m.snapshot).map(liveMaps)
        .getOrElse((Map.empty[String, (DataFileMeta, Long)],
          Map.empty[String, (DataFileMeta, Long)]))

    val branches = Seq.newBuilder[DataFrame]
    var ord = 0
    lineage.foreach { snap =>
      val (curData, curDeletes) = liveMaps(snap)
      if (snap.operation != Operation.Replace) {
        def stamp(df: DataFrame, tpe: String): DataFrame = df
          .withColumn(ChangeTypeCol, lit(tpe))
          .withColumn(SnapshotIdCol, lit(snap.snapshotId))
          .withColumn(OrdinalCol, lit(ord))

        val addedData = (curData -- prevData.keySet).values.toSeq
        val removedData = (prevData -- curData.keySet).values.toSeq
        val addedDeletes = (curDeletes -- prevDeletes.keySet).values.toSeq
        val parentDeletes = prevDeletes.values.toSeq

        // lineage plumbing: frames read with `_gf_row_id` composed from
        // materialized + implicit values, surfaced as the output `_row_id`
        def rid(df: DataFrame): DataFrame =
          if (withLin) df.withColumnRenamed("_gf_row_id",
              graft.spark.GraftSparkTable.RowIdCol)
            .drop("_gf_last_seq")
          else if (withRowIds) df.withColumn(
            graft.spark.GraftSparkTable.RowIdCol, lit(null).cast("long"))
          else df
        // inserts: rows of freshly added data files, read plain
        val addedDf = if (addedData.isEmpty) None else {
          val tasks = addedData.map { case (f, seq) => FileScanTask(f, TrueExpr, seq) }
          Some(rid(Reads.readTasksWithDeletes(table, m, tasks, Nil,
            schema.columnNames, TrueExpr, rowPositions = false,
            withLineage = withLin)))
        }
        // deletes: rows of removed data files, at parent visibility
        val removedDf = if (removedData.isEmpty) None else {
          val tasks = removedData.map { case (f, seq) => FileScanTask(f, TrueExpr, seq) }
          Some(rid(Reads.readTasksWithDeletes(table, m, tasks,
            parentDeletes, schema.columnNames, TrueExpr, rowPositions = false,
            withLineage = withLin)))
        }
        // carryover removal (ref later ChangelogIterator semantics): a CoW
        // rewrite copies every untouched row into the new file — without
        // cancellation a DELETE of 1 row from a 1M-row file would emit 1M
        // deletes + 999 999 inserts. Multiset EXCEPT ALL over the touched
        // files' rows (shuffle bounded by files the commit rewrote, not the
        // table) leaves exactly the net row changes.
        (addedDf, removedDf) match {
          case (Some(a), Some(r)) =>
            branches += stamp(a.exceptAll(r), Insert)
            branches += stamp(r.exceptAll(a), Delete)
          case (Some(a), None) => branches += stamp(a, Insert)
          case (None, Some(r)) => branches += stamp(r, Delete)
          case _ =>
        }
        // deletes: rows suppressed by freshly added delete files,
        // reconstituted from the referenced data files at parent visibility
        if (addedDeletes.nonEmpty)
          branches ++= deleteFileRows(table, m, addedDeletes, prevData,
            parentDeletes, withRowIds, withLin)
            .map(stamp(_, Delete))
        ord += 1
      }
      prevData = curData
      prevDeletes = curDeletes
    }

    val out = branches.result()
    if (out.isEmpty) empty
    else out.map(_.select(outType.fieldNames.map(col): _*)).reduce(_ unionByName _)
  }

  /** Rows a batch of freshly committed delete files suppress. Position
    * deletes name their target files outright (the tuple scan is
    * metadata-sized); equality deletes are scoped to the parent-live data
    * files they can apply to by the sequence/partition rule. Pos-referenced
    * candidates are read WITH row positions (parquet via the row-index
    * column, ORC/Avro via synthesized whole-file ordinals) so overlapping
    * position and equality matches dedup exactly by (file, pos); eq-only
    * candidates are read without positions — they share no file with the
    * pos branch, so no cross-branch dedup is needed. */
  private def deleteFileRows(table: IceTable, m: TableMetadata,
      addedDeletes: Seq[(DataFileMeta, Long)],
      parentData: Map[String, (DataFileMeta, Long)],
      parentDeletes: Seq[(DataFileMeta, Long)],
      withRowIds: Boolean = false, withLin: Boolean = false): Seq[DataFrame] = {
    val spark = table.spark
    val schema = m.schema
    def rid(df: DataFrame): DataFrame =
      if (withLin) df.withColumnRenamed("_gf_row_id",
          graft.spark.GraftSparkTable.RowIdCol)
        .drop("_gf_last_seq")
      else if (withRowIds) df.withColumn(
        graft.spark.GraftSparkTable.RowIdCol, lit(null).cast("long"))
      else df
    val posFiles = addedDeletes.filter(_._1.content == FileContent.PositionDeletes)
    val dvFiles = addedDeletes.filter(_._1.content == FileContent.DeletionVectors)
    val eqFiles = addedDeletes.filter(_._1.content == FileContent.EqualityDeletes)

    // encrypted tables encrypt their delete files: both delete reads carry
    // the modular-decryption options
    val delOpts = EncryptionManagers.contentOptionsFor(
      table.io.encryption, "parquet",
      m.property(TableProperties.EncryptionRequired, "false").toBoolean)
    // deletion vectors expand to the same (path, pos) tuple shape, so the
    // reconstitution below is representation-agnostic
    val posTuples = (Option.when(posFiles.nonEmpty)(
        spark.read.options(delOpts).parquet(posFiles.map(_._1.path): _*)
          .select(col(MergeOnRead.PosPathCol), col(MergeOnRead.PosPosCol))) ++
      Option.when(dvFiles.nonEmpty)(
        DeletionVectors.positionsDf(table, dvFiles.map(_._1))
          .select(col(MergeOnRead.PosPathCol), col(MergeOnRead.PosPosCol))))
      .reduceOption(_ unionByName _)
    // referenced paths: metadata-scale collect (bounded by files the DML
    // touched), lets the reconstitution read only those files
    val posPaths: Set[String] = posTuples
      .map(_.select(GraftPaths.normCol(col(MergeOnRead.PosPathCol)))
        .distinct().collect().map(_.getString(0)).toSet)
      .getOrElse(Set.empty)

    def eqApplicable(f: DataFileMeta, seq: Long): Boolean =
      eqFiles.exists { case (d, dseq) =>
        MergeOnRead.applies(d, dseq, FileScanTask(f, TrueExpr, seq)) }

    val posCandidates: Seq[FileScanTask] = parentData.collect {
      case (norm, (f, seq)) if posPaths.contains(norm) =>
        FileScanTask(f, TrueExpr, seq)
    }.toSeq
    val eqOnlyCandidates: Seq[FileScanTask] = parentData.collect {
      case (norm, (f, seq)) if !posPaths.contains(norm) && eqApplicable(f, seq) =>
        FileScanTask(f, TrueExpr, seq)
    }.toSeq

    // equality matches against `visible`, one semi-join per equality-id
    // family; later families anti-join the earlier families' keys so a row
    // matched by two distinct key sets still emits exactly once
    def eqMatches(visible: DataFrame): Seq[DataFrame] = {
      var earlier = Seq.empty[(Seq[String], DataFrame)]
      eqFiles.groupBy(_._1.equalityIds).toSeq
        .sortBy(_._1.mkString(",")).map { case (ids, fs) =>
          val keyNames = ids.map(schema.fieldName)
          val keys = spark.read.options(delOpts).parquet(fs.map(_._1.path): _*)
            .select(keyNames.map(col): _*).dropDuplicates(keyNames)
          var matched = visible.join(broadcast(keys),
            keyNames.map(n => visible(n) <=> keys(n)).reduce(_ && _), "left_semi")
          earlier.foreach { case (pn, pk) =>
            matched = matched.join(broadcast(pk),
              pn.map(n => matched(n) <=> pk(n)).reduce(_ && _), "left_anti")
          }
          earlier :+= (keyNames, keys)
          matched
        }
    }

    var out = Seq.empty[DataFrame]
    if (posCandidates.nonEmpty) {
      val visible = rid(Reads.readTasksWithDeletes(table, m, posCandidates,
        parentDeletes, schema.columnNames, TrueExpr, rowPositions = true,
        withLineage = withLin))
      var matched = Seq.empty[DataFrame]
      posTuples.foreach { pos =>
        // normalized on both sides: parquet tuples store file_path verbatim,
        // DV tuples store normalized referenced paths
        matched :+= visible.join(broadcast(pos),
          GraftPaths.normCol(visible(TableScan.MetaFileCol)) ===
            GraftPaths.normCol(pos(MergeOnRead.PosPathCol)) &&
            visible(TableScan.MetaPosCol) === pos(MergeOnRead.PosPosCol),
          "left_semi")
      }
      matched ++= eqMatches(visible)
      // exact row-identity dedup across overlapping pos/eq matches
      val merged = matched.reduce(_ unionByName _)
        .dropDuplicates(TableScan.MetaFileCol, TableScan.MetaPosCol)
      out :+= merged.drop(TableScan.MetaFileCol, TableScan.MetaPosCol)
    }
    if (eqOnlyCandidates.nonEmpty) {
      val visible = rid(Reads.readTasksWithDeletes(table, m, eqOnlyCandidates,
        parentDeletes, schema.columnNames, TrueExpr, rowPositions = false,
        withLineage = withLin))
      out ++= eqMatches(visible)
    }
    out
  }
}
