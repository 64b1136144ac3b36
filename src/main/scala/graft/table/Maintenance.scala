package graft.table

import graft.meta.expr.TrueExpr
import graft.meta.model._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Table-maintenance actions implemented as Spark DataFrame programs, like
  * the reference's spark actions module (ref
  * `spark/.../actions/BaseExpireSnapshotsSparkAction.java:157`,
  * `BaseDeleteOrphanFilesSparkAction.java:164`,
  * `BaseRewriteDataFilesSparkAction.java:120`, `BinPackStrategy.java:134`,
  * `BaseRewriteManifestsSparkAction.java`). File-set diffs are `except` /
  * `left_anti` jobs so they scale to metadata far beyond driver memory.
  */
object Maintenance {

  // ------------------------------------------------------------ expire

  /** Remove snapshots older than `olderThanMillis` (never the current one),
    * then delete files only reachable from the expired snapshots via a
    * DataFrame `except` between the before/after valid-file sets. Returns
    * (#snapshots expired, #data files deleted, #manifests deleted).
    *
    * Per-file paths never materialize on the driver: manifests are read on
    * executors ([[validDataFileDF]], ref `BaseSparkAction.java:117`) and the
    * expired-only diff is deleted with [[bulkDelete]] (ref
    * `BaseExpireSnapshotsSparkAction` deleteFiles); the driver handles only
    * manifest-LIST-level objects (one per snapshot). */
  def expireSnapshots(table: IceTable, olderThanMillis: Long,
      retainLast: Int = 1): (Int, Long, Long) = {
    require(retainLast >= 1, s"retainLast must be >= 1: $retainLast")
    requireGcEnabled(table, "expire snapshots")
    val before = table.meta
    // the first `retainLast` ANCESTORS of the current snapshot survive
    // regardless of age (ref RemoveSnapshots.retainLast walks the parent
    // chain); snapshots abandoned by a rollback get no retain slots
    val byId = before.snapshots.map(s => s.snapshotId -> s).toMap
    val retained = Iterator.iterate(before.currentSnapshotId.flatMap(byId.get))(
        _.flatMap(_.parentId).flatMap(byId.get))
      .takeWhile(_.isDefined).take(retainLast)
      .flatten.map(_.snapshotId).toSet
    // refs pin snapshots: a tag pins its snapshot, a branch pins a contiguous
    // ancestry prefix per its retention knobs (min-snapshots-to-keep /
    // max-snapshot-age-ms, defaulting to head-only / the caller's cutoff);
    // refs aged past max-ref-age-ms die with this expire and pin nothing
    val nowMs = System.currentTimeMillis()
    val (liveRefs, deadRefs) = before.refs.partition { case (_, r) =>
      r.maxRefAgeMs.forall(maxAge =>
        byId.get(r.snapshotId).forall(s => nowMs - s.timestampMillis <= maxAge))
    }
    val refRetained: Set[Long] = liveRefs.values.iterator.flatMap { r =>
      if (r.refType == SnapshotRefMeta.Tag) Iterator.single(r.snapshotId)
      else {
        val minKeep = math.max(1, r.minSnapshotsToKeep.getOrElse(1))
        val cutoff = r.maxSnapshotAgeMs.map(nowMs - _).getOrElse(olderThanMillis)
        Iterator.iterate(byId.get(r.snapshotId))(_.flatMap(_.parentId).flatMap(byId.get))
          .takeWhile(_.isDefined).flatten.zipWithIndex
          .takeWhile { case (s, i) => i < minKeep || s.timestampMillis >= cutoff }
          .map(_._1.snapshotId)
      }
    }.toSet
    val expired = before.snapshots.filter(s =>
      s.timestampMillis < olderThanMillis &&
        !retained.contains(s.snapshotId) &&
        !refRetained.contains(s.snapshotId) &&
        !before.currentSnapshotId.contains(s.snapshotId))
    if (expired.isEmpty && deadRefs.isEmpty) return (0, 0L, 0L)
    val expiredIds = expired.map(_.snapshotId).toSet
    // the retained snapshots' manifests, read strictly BEFORE the commit: an
    // unreadable list fails the action while the expired snapshots still
    // reference their files
    val retainedManifests = if (expired.isEmpty) Nil
      else manifestsOf(table, before, before.snapshots.filterNot(s => expiredIds(s.snapshotId)))

    // stats files are snapshot-pinned: expire the entry with its snapshot.
    // Collected INSIDE the retry closure from the commit's actual base — a
    // stats file committed concurrently (for a snapshot we are expiring)
    // must be deleted too, or it leaks with no metadata reference
    val expiredStats = scala.collection.mutable.Set.empty[String]
    table.ops.commitWithRetry(4) { base =>
      val keep = base.snapshots.filterNot(s => expiredIds.contains(s.snapshotId))
      expiredStats.clear()
      expiredStats ++= base.statsFiles
        .filter(f => expiredIds.contains(f.snapshotId)).map(_.path)
      base.copy(
        snapshots = keep,
        snapshotLog = base.snapshotLog.filterNot(e => expiredIds.contains(e.snapshotId)),
        refs = base.refs -- deadRefs.keys,
        statsFiles = base.statsFiles.filterNot(f => expiredIds.contains(f.snapshotId)),
        lastUpdatedMillis = System.currentTimeMillis())
    }
    expiredStats.foreach(table.io.delete)
    if (expired.isEmpty) return (0, 0L, 0L)

    val after = table.meta
    val beforeManifests = manifestsOf(table, before, before.snapshots, skipUnreadable = true)
    // after the commit, only snapshots a concurrent commit added are new
    val known = before.snapshots.map(_.snapshotId).toSet
    val afterManifests = (retainedManifests ++ manifestsOf(table, after,
      after.snapshots.filterNot(s => known(s.snapshotId)))).distinctBy(_.path)

    // data files referenced only by expired snapshots: distributed except
    val orphanData = validDataFileDF(table, before, beforeManifests)
      .except(validDataFileDF(table, after, afterManifests))
    val dataDeleted = bulkDelete(table, orphanData)

    // manifests are driver-countable (one list entry per manifest, not per file)
    val afterSet = afterManifests.map(_.path).toSet
    val orphanManifests = beforeManifests.map(_.path).filterNot(afterSet.contains)
    var manifestsDeleted = 0L
    orphanManifests.foreach(p => if (table.io.delete(p)) manifestsDeleted += 1)
    expired.foreach(s => table.io.delete(s.manifestList))
    (expired.size, dataDeleted, manifestsDeleted)
  }

  /** Delete EVERY file reachable from any snapshot — data files (including
    * externally-imported ones living outside the table location), manifests,
    * manifest lists, and the metadata tree — then the table directory itself
    * (ref `BaseDeleteReachableFilesSparkAction`). Data deletes run on
    * executors; only manifest-level objects touch the driver. The table is
    * unusable afterwards. Returns (#data files deleted, #metadata files
    * deleted). */
  def deleteReachableFiles(table: IceTable): (Long, Long) = {
    requireGcEnabled(table, "delete reachable files")
    deleteReachableFiles(table, table.meta)
  }

  /** Pinned-metadata variant for DROP purges: the caller captures the
    * metadata BEFORE removing the catalog pointer and purges AFTER the
    * pointer drop succeeds — never destroying files while a failed or
    * raced drop could leave the entry live. Skips the gc check (callers
    * decide). */
  private[graft] def deleteReachableFiles(table: IceTable,
      m: TableMetadata): (Long, Long) = {
    val manifests = manifestsOf(table, m, m.snapshots, skipUnreadable = true)
    val dataDeleted = bulkDelete(table, validDataFileDF(table, m, manifests))
    var metaDeleted = 0L
    manifests.map(_.path).distinct.foreach(p =>
      if (table.io.delete(p)) metaDeleted += 1)
    m.snapshots.foreach(s => if (table.io.delete(s.manifestList)) metaDeleted += 1)
    m.metadataLog.foreach(e => if (table.io.delete(e.file)) metaDeleted += 1)
    m.statsFiles.foreach(f => if (table.io.delete(f.path)) metaDeleted += 1)
    table.io.deleteRecursive(table.location)
    (dataDeleted, metaDeleted)
  }

  /** File-deleting maintenance refuses gc-disabled tables: a snapshot-
    * imported table's data files belong to the source table (ref
    * TableProperties GC_ENABLED). */
  private def requireGcEnabled(table: IceTable, action: String): Unit = {
    val enabled = table.meta.property(TableProperties.GcEnabled, "true").toBoolean
    if (!enabled) throw new ValidationException(
      s"Cannot $action: gc.enabled is false (data files may be shared)")
  }

  /** The manifests of `snaps`. A manifest list that fails to read fails
    * the call: taken as empty, its files would look unreferenced.
    * `skipUnreadable` is only for sets whose loss makes an action delete
    * LESS (expiry's before-set, a purge). */
  private[graft] def manifestsOf(table: IceTable, m: TableMetadata,
      snaps: Seq[SnapshotMeta], skipUnreadable: Boolean = false): Seq[ManifestFileMeta] =
    snaps.flatMap { s =>
      try table.readManifestList(m, s)
      catch { case _: Exception if skipUnreadable => Nil }
    }.distinctBy(_.path)

  /** One-column (`path`) DataFrame of every data/delete file referenced by
    * the given manifests, with the manifests read ON EXECUTORS (ref
    * `BaseSparkAction.java:117` buildValidDataFileDF): at millions of files
    * the driver never holds a per-file path list. */
  private[graft] def validDataFileDF(table: IceTable, m: TableMetadata,
      manifests: Seq[ManifestFileMeta]): DataFrame = {
    val spark = table.spark
    import spark.implicits._
    val paths = manifests.map(_.path)
    if (paths.isEmpty) return spark.emptyDataset[String].toDF("path")
    val confB = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    val meta = m
    // executors must read manifests with the TABLE's manager — on an
    // encrypted table a plaintext executor FileIO would fail every read,
    // and a swallowed failure here turns live files into "orphans"
    val enc = table.io.encryption
    // carry the driver's forged-plaintext latch (or derive it from this
    // metadata's own property — callers may pass a historical metadata
    // before the accessor latched): without it, a forged plaintext
    // manifest listing FEWER files would be accepted here and the files
    // it omits deleted as "orphans" — a data-loss primitive under exactly
    // the storage-write attacker the sealed-metadata feature targets
    val sealReq = table.io.requireSealedMetadata ||
      (enc != PlaintextEncryptionManager && m.property(
        TableProperties.EncryptionRequired, "false").toBoolean)
    val nPart = math.max(1, math.min(paths.size, spark.sparkContext.defaultParallelism))
    spark.createDataset(paths).repartition(nPart)
      .mapPartitions { it =>
        val io = new FileIO(confB.value.value, enc, sealReq)
        // no swallow: a manifest that fails to read must FAIL the job —
        // treating it as empty would classify its live files as orphans
        it.flatMap(mp => ManifestIO.readPaths(io, mp))
      }
      .toDF("path").distinct()
  }

  /** Delete a `path` DataFrame's files from the executors; the driver sees
    * only per-partition success counts (ref
    * `BaseDeleteOrphanFilesSparkAction.java:172` pooled deletes). */
  private[graft] def bulkDelete(table: IceTable, pathsDF: DataFrame): Long = {
    val spark = table.spark
    import spark.implicits._
    val confB = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    pathsDF.select(col("path")).as[String]
      .mapPartitions { it =>
        val io = new FileIO(confB.value.value)
        Iterator.single(it.count(p => try io.delete(p) catch { case _: Exception => false }).toLong)
      }
      .collect().sum
  }

  // ------------------------------------------------------------ orphans

  /** Delete files under the table location not referenced by any snapshot
    * (ref `BaseDeleteOrphanFilesSparkAction.java:164`: actual-files LEFT ANTI
    * valid-files on normalized path). Listing is parallelized per
    * subdirectory (`:184` listDirRecursively on executors); only the final
    * orphan list (the result) reaches the driver. The valid set is every
    * data and delete file of every snapshot's manifests, those manifests,
    * the manifest lists and the stats files; a manifest or manifest list
    * that fails to read fails the action before anything is deleted. */
  def removeOrphanFiles(table: IceTable, olderThanMillis: Long): Seq[String] = {
    requireGcEnabled(table, "remove orphan files")
    val spark = table.spark
    import spark.implicits._
    val m = table.meta
    // Scan the default data dir plus — under the HASHED object-store layout
    // only — the storage root, restricted to this table's db/table context
    // segment: a shared bucket holds OTHER tables' live files, which must
    // never look like our orphans. In the table's own metadata dir only
    // manifests, manifest lists and stats files are candidates: metadata
    // JSON and the version hint are never touched (which metadata file is
    // current is the pointer's to say). The same rule holds when a storage
    // root that is an ancestor of the table location reaches the metadata
    // dir.
    // An UNHASHED write.folder-storage.path is NOT auto-scanned: that
    // layout carries no table context, so a shared root is unscopable —
    // like the ref's action, cleaning a custom folder location is an
    // explicit operator decision.
    val ctx = table.location.stripSuffix("/").split('/')
      .filter(_.nonEmpty).takeRight(2).mkString("/")
    val defaultRoot = s"${table.location}/data"
    val metaDir = s"${table.location.stripSuffix("/")}/metadata"
    val objEnabled = m.property("write.object-storage.enabled", "false").toBoolean
    val hashedRoot =
      if (objEnabled)
        Some(m.property("write.object-storage.path",
          Locations.dataRoot(table.location, m)).stripSuffix("/"))
      else None
    val roots = (Seq(defaultRoot) ++ hashedRoot).distinct
    import GraftPaths.norm
    val inScope: String => Boolean = {
      val defaultNorm = norm(defaultRoot)
      val metaPrefix = norm(metaDir) + "/"
      val ctxSeg = s"/$ctx/"
      p => if (p.startsWith(metaPrefix))
          p.substring(metaPrefix.length).matches("(manifest|snap|stats)-[^/]+")
        else p.startsWith(defaultNorm) || p.contains(ctxSeg)
    }
    val (dirs, files) = roots.flatMap(table.io.list).partition(_.isDirectory)
    val confB = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    val topFiles = files.filter(_.getModificationTime < olderThanMillis)
      .map(s => norm(s.getPath.toString))
      .filter(inScope)
    val actualDF = {
      val dirPaths = dirs.map(_.getPath.toString) :+ metaDir
      val nPart = math.max(1,
        math.min(dirPaths.size, spark.sparkContext.defaultParallelism))
      val scopeF = inScope
      val listed = spark.createDataset(dirPaths).repartition(nPart).mapPartitions { it =>
        val io = new FileIO(confB.value.value)
        it.flatMap(d => io.listRecursive(d)
          .filter(_.getModificationTime < olderThanMillis)
          .map(s => GraftPaths.norm(s.getPath.toString))
          .filter(scopeF))
      }
      // distinct: a hashed root that is an ancestor of the table location
      // lists the default data dir and the metadata dir a second time
      listed.toDF("path").union(spark.createDataset(topFiles).toDF("path"))
        .distinct()
    }
    val manifests = manifestsOf(table, m, m.snapshots)
    val validMeta = (manifests.map(_.path) ++ m.snapshots.map(_.manifestList) ++
      m.statsFiles.map(_.path)).map(norm)
    val valid = validDataFileDF(table, m, manifests)
      .select(GraftPaths.normCol(col("path")).as("path"))
      .union(spark.createDataset(validMeta).toDF("path"))
    val orphansDF = actualDF.join(valid, Seq("path"), "left_anti").cache()
    try {
      // the whole valid set is computed (and any unreadable manifest has
      // failed the action) before the first delete
      val orphans = orphansDF.as[String].collect().toSeq // the action's result
      bulkDelete(table, orphansDF)
      orphans
    } finally orphansDF.unpersist()
  }

  // ------------------------------------------------------------ rewrites

  /** How a data-file rewrite lays its rows out in the new files. */
  private sealed trait Layout
  /** Packed on the READ side: the rewrite scan plans target-size byte-range
    * splits (maxPartitionBytes = target, no open-cost padding, no minimum
    * partition count), so undersized files coalesce into one task and
    * oversized ones fan out across several, and the write emits right-sized
    * files with NO shuffle — a repartition would move every rewritten byte
    * through a full exchange and serialize small compactions onto one
    * writer. */
  private case object Packed extends Layout
  /** Clustered on `order`: one range exchange on the order's TRANSFORMED
    * terms (`bucket(4, id)` clusters by bucket value), then the write's local
    * sort; a partitioned table range-shuffles once in `writeDataFiles`, on
    * partition + sort columns. */
  private final case class Sorted(order: SortOrderMeta) extends Layout
  /** Clustered on a z-value computed from the rows read: one range exchange
    * on it, then a local sort. The table sort order is suppressed for the
    * write — a declared lexicographic order would destroy the clustering. */
  private final case class ZOrdered(zValue: DataFrame => Column) extends Layout

  /** Live data-file entries of `m`'s current snapshot. */
  private def liveDataEntries(table: IceTable, m: TableMetadata): Seq[ManifestEntry] =
    m.currentSnapshot.map(s => table.liveEntries(m, s)
      .filter(_.dataFile.content == FileContent.Data)).getOrElse(Nil)

  /** The one data-file rewrite (ref `BaseRewriteDataFilesSparkAction.java:120`
    * with its pluggable strategies): compaction and key rotation differ only
    * in the file groups they select from `m` and the [[Layout]] they write.
    * The groups are spread over up to `batches` independent Replace commits
    * (partial progress, ref partial-progress.max-commits), so a huge rewrite
    * neither holds one giant conflict window nor loses everything to a late
    * failure. Each batch reads its files with the deletes planned from `m`
    * applied, CARRYING each file's data sequence number (equality deletes
    * apply only to strictly older sequences; a defaulted 0 would make every
    * delete apply and drop rows a same-sequence upsert kept live) and, on a
    * preserving table, every row's `_row_id`/`_last_updated_seq` into the new
    * files. The commit fails when a delete committed after `m` applies to a
    * file it removes: the rewritten copy would bring the deleted rows back.
    * Returns (#rewritten, #added). */
  private def rewrite(table: IceTable, m: TableMetadata,
      groups: Seq[Seq[ManifestEntry]], layout: Layout, targetSizeBytes: Long,
      batches: Int, summary: Map[String, String]): (Int, Int) = {
    if (groups.isEmpty) return (0, 0)
    val spark = table.spark
    val session = org.apache.spark.sql.graft.ColumnBridge.cloneSession(spark)
    layout match {
      case Packed =>
        session.conf.set("spark.sql.files.maxPartitionBytes", targetSizeBytes.toString)
        session.conf.set("spark.sql.files.openCostInBytes", "0")
        session.conf.set("spark.sql.files.minPartitionNum", "1")
      case _ =>
        // AQE coalescing would merge the ranges back into few fat tasks
        session.conf.set("spark.sql.adaptive.enabled", "false")
    }
    val deletes = table.newScan(m).planDeletes()
    val preserve = Writes.lineagePreserve(m)
    val validate = ConflictValidation(m.currentSnapshotId, TrueExpr,
      TableProperties.IsolationSnapshot)
    val nBatches = math.max(1, math.min(batches, groups.size))
    val perBatch = math.ceil(groups.size.toDouble / nBatches).toInt
    groups.grouped(perBatch).map { batch =>
      val entries = batch.flatten
      val files = entries.map(_.dataFile)
      val df = Reads.readTasksWithDeletes(table, m,
        entries.map(e => FileScanTask(e.dataFile, TrueExpr, e.sequenceNumber)),
        deletes, m.schema.columnNames, TrueExpr, rowPositions = false,
        session = Some(session), withLineage = preserve)
      // clustered layouts: one range exchange sized so each output task
      // carries ~targetSize bytes
      val nOut = math.max(1, math.ceil(
        files.map(_.fileSizeBytes).sum.toDouble / targetSizeBytes).toInt)
      if (layout != Packed) session.conf.set("spark.sql.shuffle.partitions", nOut.toString)
      val (wm, out, distribution) = layout match {
        case Packed => (m, df, None)
        case Sorted(order) =>
          val sm = m.copy(sortOrders = Seq(order), defaultSortOrderId = order.orderId)
          if (m.spec.isUnpartitioned)
            (sm, df.repartitionByRange(nOut, Writes.sortCols(sm, sm.schema): _*), Some("none"))
          else (sm, df, Some("range"))
        case ZOrdered(zValue) =>
          val zm = m.copy(sortOrders = Seq(SortOrderMeta.unsorted), defaultSortOrderId = 0)
          (zm, df.withColumn("_gf_z", zValue(df)).repartitionByRange(nOut, col("_gf_z"))
            .sortWithinPartitions("_gf_z"), Some("none"))
      }
      val written = Writes.writeDataFiles(spark, table, wm, out,
        overrides = Map(TableProperties.TargetFileSize -> targetSizeBytes.toString) ++
          distribution.map(TableProperties.DistributionMode -> _),
        lineageCols = preserve)
      table.commitSnapshot(Operation.Replace, written, files.map(_.path).toSet,
        summary, validate = Some(validate), removedMeta = files)
      (files.size, written.size)
    }.foldLeft((0, 0)) { case ((r, a), (r1, a1)) => (r + r1, a + a1) }
  }

  /** Bin-pack compaction (ref `BinPackStrategy.java:134`): per partition,
    * candidates are files below `minFileSize` (too small — pack together) or
    * above `maxFileSize` (too large — split), mirroring the ref's
    * MIN_FILE_SIZE_BYTES (0.75×target) / MAX_FILE_SIZE_BYTES (1.8×target)
    * defaults. Packing and splitting both happen in the read planner
    * ([[Packed]]), with no shuffle either way. A group must have
    * `minInputFiles` small files or any oversized file to be rewritten;
    * `partialProgressCommits` bounds the number of Replace commits. Returns
    * (#rewritten, #added). */
  def rewriteDataFiles(table: IceTable,
      targetSizeBytes: Long = TableProperties.TargetFileSizeDefault,
      minInputFiles: Int = 2,
      minFileSizeBytes: Long = -1,
      maxFileSizeBytes: Long = -1,
      filter: graft.meta.expr.Expr = TrueExpr,
      partialProgressCommits: Int = 1): (Int, Int) = {
    val minSize = if (minFileSizeBytes > 0) minFileSizeBytes
      else (targetSizeBytes * 0.75).toLong // ref BinPackStrategy.java:96
    val maxSize = if (maxFileSizeBytes > 0) maxFileSizeBytes
      else (targetSizeBytes * 1.80).toLong // ref BinPackStrategy.java:107
    val m = table.meta
    // scoped compaction: `filter` restricts candidates to files that MAY
    // hold matching rows, through the same partition/metrics pruning
    // cascade as reads — at scale you compact the hot partition, not the
    // table. File-level granularity: a selected file is rewritten whole.
    val inScope: DataFileMeta => Boolean =
      if (filter == TrueExpr) _ => true
      else {
        val paths = table.newScan(m).filter(filter).planFiles().map(_.file.path).toSet
        f => paths.contains(f.path)
      }
    val groups = liveDataEntries(table, m).filter(e => inScope(e.dataFile))
      .groupBy(e => (e.dataFile.specId, e.dataFile.partition))
      .values.map { es =>
        val small = es.filter(_.dataFile.fileSizeBytes < minSize)
        val big = es.filter(_.dataFile.fileSizeBytes > maxSize)
        if (small.size >= minInputFiles || big.nonEmpty) small ++ big else Nil
      }
      .filter(_.nonEmpty)
      .toSeq
    rewrite(table, m, groups, Packed, targetSizeBytes, partialProgressCommits,
      Map("compaction" -> "bin-pack"))
  }

  /** Sort-strategy rewrite (ref `core/.../actions/SortStrategy.java` +
    * `Spark3SortStrategy`): rewrite ALL live data files re-clustered on a
    * sort order — the table's declared order, or an explicit
    * `"col [ASC|DESC] [NULLS FIRST|LAST], ..."` spec. Global clustering
    * comes from ONE range exchange sized to emit ~target-size outputs
    * (range distribution + local sort, the same plan
    * `DistributionAndOrderingUtils` injects for sorted writes); min/max
    * column bounds then make the rewritten files metrics-prunable on the
    * sort key. Returns (#rewritten, #added). */
  def rewriteDataFilesSorted(table: IceTable,
      targetSizeBytes: Long = TableProperties.TargetFileSizeDefault,
      sortOrderSpec: Option[String] = None): (Int, Int) = {
    val m = table.meta
    if (m.currentSnapshot.isEmpty) return (0, 0)
    val order: SortOrderMeta = sortOrderSpec match {
      case Some(spec) =>
        // same grammar as WRITE ORDERED BY, incl. transform terms
        // (`bucket(4, id) ASC`); transient order: files record sortOrderId 0
        SortOrderMeta(0, graft.meta.SortSpec.parseFields(m.schema, spec))
      case None =>
        require(m.sortOrder.fields.nonEmpty,
          "Sort rewrite needs a table sort order (WRITE ORDERED BY) or an explicit sort_order")
        m.sortOrder
    }
    rewrite(table, m, Seq(liveDataEntries(table, m)).filter(_.nonEmpty), Sorted(order),
      targetSizeBytes, 1, Map("compaction" -> "sort"))
  }

  /** Z-ORDER rewrite: cluster files on the bit-interleaving of several
    * columns' ranks, so file metrics prune on EVERY z-ordered column rather
    * than only a lexicographic sort's leading column. Each column is scaled
    * to a 16-bit rank over uniform min..max buckets (bounds come free from
    * file metrics when present, one agg job otherwise); ranks interleave
    * into one z-value; one range exchange on the z-value clusters the
    * rewrite. Everything is Column arithmetic — codegen'd, no UDF. Numeric
    * and date/timestamp columns only (string ranges don't bucket uniformly).
    * Z-order post-dates the reference era — original surface, same role as
    * later versions' zorder rewrite strategy. */
  def rewriteDataFilesZOrder(table: IceTable, zCols: Seq[String],
      targetSizeBytes: Long = TableProperties.TargetFileSizeDefault): (Int, Int) = {
    import org.apache.spark.sql.types._
    require(zCols.size >= 2, s"z-order needs >= 2 columns, got $zCols")
    val m = table.meta
    val schema = m.schema
    if (m.currentSnapshot.isEmpty) return (0, 0)
    zCols.foreach { c =>
      schema.fieldType(schema.fieldId(c)) match {
        case _: NumericType | DateType | TimestampType | TimestampNTZType => ()
        case other => throw new IllegalArgumentException(
          s"z-order column $c has unsupported type ${other.catalogString} " +
            "(numeric/date/timestamp only)")
      }
    }
    val entries = liveDataEntries(table, m)
    val files = entries.map(_.dataFile)

    // numeric view of a metrics bound value (internal repr per type)
    def toD(v: Any): Option[Double] = v match {
      case null => None
      case i: Int => Some(i.toDouble)
      case l: Long => Some(l.toDouble)
      case f: Float => Some(f.toDouble)
      case d: Double => Some(d)
      case b: java.math.BigDecimal => Some(b.doubleValue())
      case _ => None
    }
    // bounds per column: file metrics when every file has them, else one agg
    val metricBounds: Seq[Option[(Double, Double)]] = zCols.map(schema.fieldId).map { id =>
      val los = files.map(f => f.lowerBounds.get(id).flatMap(toD))
      val his = files.map(f => f.upperBounds.get(id).flatMap(toD))
      if (los.forall(_.isDefined) && his.forall(_.isDefined))
        Some((los.flatten.min, his.flatten.max))
      else None
    }
    def bounds(df: DataFrame): Seq[(Double, Double)] =
      if (metricBounds.forall(_.isDefined)) metricBounds.flatten
      else {
        val aggs = zCols.flatMap(c => Seq(
          min(col(c).cast("double")), max(col(c).cast("double"))))
        val row = df.agg(aggs.head, aggs.tail: _*).collect().head
        zCols.indices.map { i =>
          (Option(row.get(2 * i)).map(_.asInstanceOf[Double]).getOrElse(0.0),
            Option(row.get(2 * i + 1)).map(_.asInstanceOf[Double]).getOrElse(0.0))
        }
      }

    // 16-bit rank per column (nulls -> bucket 0), interleaved: bit i of
    // column j lands at position i*nCols + j of the z-value
    val bitsPer = 16
    val maxRank = (1 << bitsPer) - 1
    def rank(c: String, lo: Double, hi: Double): Column = {
      val span = math.max(hi - lo, java.lang.Double.MIN_NORMAL)
      when(col(c).isNull, lit(0L)).otherwise(
        least(lit(maxRank.toLong), greatest(lit(0L),
          (((col(c).cast("double") - lo) / span) * maxRank).cast("long"))))
    }
    def zValue(df: DataFrame): Column = {
      val ranks = zCols.zip(bounds(df)).map { case (c, (lo, hi)) => rank(c, lo, hi) }
      (0 until bitsPer).flatMap { i =>
        ranks.zipWithIndex.map { case (r, j) =>
          shiftleft(shiftright(r, i).bitwiseAND(lit(1L)), i * zCols.size + j)
        }
      }.reduce(_ bitwiseOR _)
    }
    rewrite(table, m, Seq(entries).filter(_.nonEmpty), ZOrdered(zValue),
      targetSizeBytes, 1,
      Map("compaction" -> "zorder", "zorder-columns" -> zCols.mkString(",")))
  }

  /** Master-key rotation: rewrite every live content file under the NEW
    * key (no reference counterpart — the incubator-era reference ships only
    * the `EncryptionManager` interface; see [[KeyRotationManager]] for the
    * protocol). The table must be loaded with a
    * `KeyRotationManager(newManager, oldManager)` so writes key with the
    * new master while reads still decrypt the old files being rewritten.
    *
    * Shape: the compaction machinery — each batch reads its stale files
    * (deletes applied) through bin-packed splits and rewrites them in an
    * independent Replace commit (`partialProgressCommits` bounds the batch
    * count), so an interruption loses at most one batch and leaves a
    * readable mixed table; rerunning skips files already under the new
    * key (idempotent). Rewriting every stale data file ages all delete
    * files into danglinghood, so they are dropped at the end and
    * `graft.encryption.required` is stamped LAST. History still references
    * old-key ciphertext — run `expireSnapshots` past the rotation THROUGH
    * THE ROTATION HANDLE (expiry walks old manifests, which are sealed
    * under the old key) to destroy it; only then retire the old key.
    * Returns (#rewritten, #added). */
  def rotateEncryptionKeys(table: IceTable,
      targetSizeBytes: Long = TableProperties.TargetFileSizeDefault,
      partialProgressCommits: Int = 10): (Int, Int) = {
    val rot = table.io.encryption match {
      case r: KeyRotationManager => r
      case other => throw new ValidationException(
        "rotateEncryptionKeys needs the table loaded with a " +
          "KeyRotationManager(newManager, oldManager); got " +
          other.getClass.getSimpleName)
    }
    val m = table.meta
    // stale = any live DATA file not already keyed under the primary
    // (plaintext files included — rotating FROM plaintext encrypts them);
    // one group per file, so the batches split the files evenly
    val stale = liveDataEntries(table, m).filter(e =>
      e.dataFile.keyMetadata != rot.primary.keyMetadata(e.dataFile.path))
    val result = rewrite(table, m, stale.map(Seq(_)), Packed, targetSizeBytes,
      partialProgressCommits, Map("key-rotation" -> "rewrite"))
    if (m.currentSnapshot.nonEmpty) {
      // all stale data files now carry sequence numbers newer than every
      // delete file (and their deletes were applied in the rewrite): the
      // delete files are dangling — drop them so the table's live content
      // is 100% new-key. Runs UNCONDITIONALLY, not just when this run
      // rewrote something: a crash between the last Replace batch and this
      // drop leaves stale empty on rerun but old-key delete files live —
      // gating the drop on stale.nonEmpty would make that state
      // permanently unresumable (the defense check below would throw on
      // every rerun)
      removeDanglingDeletes(table)
      // defense in depth: refuse to stamp completion while any live file
      // still carries a non-primary key (should be unreachable)
      val after = table.meta
      after.currentSnapshot.foreach { s2 =>
        table.liveEntries(after, s2).map(_.dataFile).find(f =>
            f.keyMetadata != rot.primary.keyMetadata(f.path)).foreach { f =>
          throw new IllegalStateException(
            s"rotation incomplete: ${f.path} still keyed under a " +
              "non-primary derivation")
        }
      }
    }
    // stamped LAST: the property flip marks the rotation complete
    table.ops.commitWithRetry(4) { base =>
      base.copy(properties = base.properties +
        (TableProperties.EncryptionRequired -> "true"),
        lastUpdatedMillis = System.currentTimeMillis())
    }
    result
  }

  // ------------------------------------------------------- delete files

  /** Drop delete files that can no longer suppress anything, decided from
    * manifest metadata alone: a delete file applies only to live data files
    * with an older sequence number inside its partition scope
    * (`MergeOnRead.applies`), so once compaction has re-sequenced every such
    * file the delete is dead weight — each scan still reads and probes
    * it. O(deletes + data) via per-scope minimum data sequences, no file IO
    * beyond one removal commit. Returns #removed. */
  def removeDanglingDeletes(table: IceTable): Int = {
    val m = table.meta
    val snap = m.currentSnapshot.getOrElse(return 0)
    val entries = table.liveEntries(m, snap)
    val (delEntries, dataEntries) =
      entries.partition(_.dataFile.content != FileContent.Data)
    if (delEntries.isEmpty) return 0
    // min live data sequence per (specId, partition), per specId, and global:
    // a scoped delete applies to same-spec files only in ITS partition, but
    // to every file of a different spec (scope can't prove disjointness)
    val minBySpecPart = dataEntries.groupBy(e =>
      (e.dataFile.specId, e.dataFile.partition))
      .view.mapValues(_.map(_.sequenceNumber).min).toMap
    val minBySpec = dataEntries.groupBy(_.dataFile.specId)
      .view.mapValues(_.map(_.sequenceNumber).min).toMap
    val liveDataPaths: Set[String] =
      dataEntries.map(e => GraftPaths.norm(e.dataFile.path)).toSet
    val dangling = delEntries.filter { e =>
      val d = e.dataFile
      // a deletion vector names its ONE target file: it dangles exactly
      // when that file is gone (compacted/rewritten away) — sharper than
      // any sequence bound
      if (d.content == FileContent.DeletionVectors)
        d.referencedFile.forall(!liveDataPaths.contains(_))
      else {
      val global = d.partition.isEmpty || d.partition.forall(_ == null)
      val minSeq: Option[Long] =
        if (global) minBySpec.values.minOption
        else {
          val same = minBySpecPart.get((d.specId, d.partition))
          val other = minBySpec.collect {
            case (sid, s) if sid != d.specId => s
          }.minOption
          (same.toSeq ++ other.toSeq).minOption
        }
      // position deletes apply to seq <= theirs, equality to seq < theirs
      minSeq.forall(s =>
        if (d.content == FileContent.PositionDeletes) s > e.sequenceNumber
        else s >= e.sequenceNumber)
      }
    }
    if (dangling.isEmpty) return 0
    table.commitSnapshot(Operation.Replace, Nil,
      dangling.map(_.dataFile.path).toSet,
      Map("removed-dangling-delete-files" -> dangling.size.toString),
      removedMeta = dangling.map(_.dataFile))
    dangling.size
  }

  /** Delete files are parquet, read with the table's content-encryption
    * options. */
  private def readDeleteFiles(table: IceTable, m: TableMetadata,
      files: Seq[DataFileMeta]): DataFrame =
    table.spark.read
      .options(EncryptionManagers.contentOptionsFor(table.io.encryption,
        "parquet", m.property(TableProperties.EncryptionRequired, "false").toBoolean))
      .parquet(files.map(_.path): _*)

  /** The live data files among `entries`, as scan tasks. */
  private def dataTasksOf(entries: Seq[ManifestEntry]): Seq[FileScanTask] =
    entries.filter(_.dataFile.content == FileContent.Data)
      .map(e => FileScanTask(e.dataFile, TrueExpr, e.sequenceNumber))

  /** The (file_path, pos) rows of the given parquet position-delete files
    * and deletion vectors whose target data file is among the live
    * `dataTasks`; rows aimed at files compacted away are dropped. */
  private def livePositionRows(table: IceTable, m: TableMetadata,
      dataTasks: Seq[FileScanTask], posDeletes: Seq[DataFileMeta],
      dvDeletes: Seq[DataFileMeta]): DataFrame = {
    val spark = table.spark
    import spark.implicits._
    val liveDf = spark.createDataset(dataTasks
      .map(t => GraftPaths.norm(t.file.path))).toDF("_gf_live")
    val pathPos = Seq(col(MergeOnRead.PosPathCol), col(MergeOnRead.PosPosCol))
    val parquetRows =
      if (posDeletes.isEmpty) None
      else Some(readDeleteFiles(table, m, posDeletes).select(pathPos: _*))
    val dvRows =
      if (dvDeletes.isEmpty) None
      else Some(DeletionVectors.positionsDf(table, dvDeletes).select(pathPos: _*))
    (parquetRows ++ dvRows).reduce(_ unionByName _)
      .join(liveDf, GraftPaths.normCol(col(MergeOnRead.PosPathCol)) ===
        col("_gf_live"), "left_semi")
  }

  /** Compact the live position-delete files: read them all, drop rows whose
    * target data file is no longer live, and rewrite the survivors as at
    * most one delete file per partition (ref delete-file maintenance;
    * `PositionDeleteWriter.java` shape). A CDC-heavy table accumulates one
    * small delete file per DML commit — every scan then opens and
    * probes all of them; after this action it reads one per partition.
    * Re-sequencing is SAFE for position deletes (they match by exact file
    * path, and paths are never reused) where it would be wrong for
    * equality deletes (their strictly-older-sequence rule encodes
    * re-insert history), so equality deletes are left untouched.
    * Returns (#rewritten, #added). */
  def rewritePositionDeleteFiles(table: IceTable): (Int, Int) = {
    val m = table.meta
    val snap = m.currentSnapshot.getOrElse(return (0, 0))
    val entries = table.liveEntries(m, snap)
    val posDeletes = entries
      .filter(_.dataFile.content == FileContent.PositionDeletes).map(_.dataFile)
    val dvDeletes = entries
      .filter(_.dataFile.content == FileContent.DeletionVectors).map(_.dataFile)
    if (posDeletes.isEmpty && dvDeletes.isEmpty) return (0, 0)
    // both representations in, one compacted representation out (the table
    // property picks parquet rows or DV sidecars) — so this action is also
    // the DV-merge step: several blobs targeting one file become one bitmap
    // the live data files scope the rows and give the writer its
    // partition lookup, so it plans no second scan
    val dataTasks = dataTasksOf(entries)
    val rows = livePositionRows(table, m, dataTasks, posDeletes, dvDeletes)
    val (newFiles, _) = MergeOnRead.writePositionDeleteFiles(table, m, rows,
      affected = Some(dataTasks), compact = true)
    val oldFiles = posDeletes ++ dvDeletes
    table.commitSnapshot(Operation.Replace, newFiles,
      oldFiles.map(_.path).toSet,
      Map("rewritten-position-delete-files" -> oldFiles.size.toString,
        "added-position-delete-files" -> newFiles.size.toString),
      removedMeta = oldFiles)
    (oldFiles.size, newFiles.size)
  }

  /** Convert the live (path, pos) PARQUET position deletes into roaring
    * deletion vectors (the migration step onto
    * `write.delete.vectors.enabled`): reads the parquet tuples, drops rows
    * targeting dead files, writes DV sidecars, retires the parquet files in
    * ONE Replace commit. Read results are unchanged by construction — the
    * bitmaps hold exactly the surviving tuples. Existing DV entries are
    * untouched (use [[rewritePositionDeleteFiles]] under the property to
    * also merge those). Returns (#parquet files converted, #DV entries
    * written). */
  def convertPositionDeletes(table: IceTable): (Int, Int) = {
    val m = table.meta
    val snap = m.currentSnapshot.getOrElse(return (0, 0))
    val entries = table.liveEntries(m, snap)
    val posDeletes = entries
      .filter(_.dataFile.content == FileContent.PositionDeletes).map(_.dataFile)
    if (posDeletes.isEmpty) return (0, 0)
    val dataTasks = dataTasksOf(entries)
    val rows = livePositionRows(table, m, dataTasks, posDeletes, Nil)
    val (newFiles, _) = DeletionVectors.writeSidecars(table, m, rows,
      Some(dataTasks))
    table.commitSnapshot(Operation.Replace, newFiles,
      posDeletes.map(_.path).toSet,
      Map("converted-position-delete-files" -> posDeletes.size.toString,
        "added-deletion-vectors" -> newFiles.size.toString),
      removedMeta = posDeletes)
    (posDeletes.size, newFiles.size)
  }

  /** Convert the live EQUALITY deletes into position deletes: for every
    * data file some equality delete reaches (the same sequence +
    * partition-scope applicability rule reads use —
    * `MergeOnRead.applies`), find the positions of the rows the delete
    * keys match and write them as position-delete files, then retire every
    * equality-delete file in ONE Replace commit. Read results are
    * unchanged by construction — the conversion materializes exactly the
    * rows the read-side probes were suppressing.
    *
    * Why at 100 TB: applying an equality delete at read time is a
    * key-set probe of EVERY applicable data row of every scan, forever; a
    * position delete is an exact (path, pos) probe that skips files by
    * path prefilter and never touches key columns. A
    * streaming-upsert table accumulates eq-delete files continuously —
    * converting them (then `rewritePositionDeleteFiles` + compaction)
    * caps the read-side tax at one bounded probe. The conversion itself
    * scans only the AFFECTED files once, projected to the delete-key
    * columns (+ row positions), never the whole table. The reference era
    * ships the eq-delete read path but no conversion action; upstream
    * later grew one — re-expressed here as DataFrame jobs.
    *
    * Returns (#equality-delete files converted, #position-delete files
    * written). Rows already suppressed by EXISTING position deletes are
    * not re-emitted (the affected-file scan applies them), and an eq
    * delete matching nothing (dangling or fully compacted away) still
    * retires. */
  def convertEqualityDeletes(table: IceTable): (Int, Int) = {
    val m = table.meta
    val snap = m.currentSnapshot.getOrElse(return (0, 0))
    val entries = table.liveEntries(m, snap)
    val eq = entries.filter(_.dataFile.content == FileContent.EqualityDeletes)
    if (eq.isEmpty) return (0, 0)
    val eqPairs = eq.map(e => (e.dataFile, e.sequenceNumber))
    val posPairs = entries
      .filter(e => FileContent.isPositional(e.dataFile.content))
      .map(e => (e.dataFile, e.sequenceNumber))
    val dataTasks = dataTasksOf(entries)
    val spark = table.spark
    // group data files by WHICH eq deletes reach them — the read path's own
    // applicability classes, so conversion can never disagree with a scan
    val groups = Reads.groupTasksByDeletes(dataTasks, eqPairs)
      .filter(_._1.nonEmpty)
    val affected = groups.flatMap(_._2)
    val posRows: Seq[DataFrame] = groups.flatMap { case (applicable, tasks) =>
      // per group: one scan of the affected files projected to the union of
      // this group's delete-key columns, with EXISTING position deletes
      // applied (already-dead rows are not re-deleted) and eq deletes kept
      // visible; then one null-safe semi join per distinct key set
      val keyNameSets = applicable.groupBy(_.equalityIds).toSeq
        .map { case (ids, fs) => (ids.map(m.schema.fieldName), fs) }
      val projection = keyNameSets.flatMap(_._1).distinct
      val rows = Reads.readTasksWithDeletes(table, m, tasks, posPairs,
        projection, TrueExpr, rowPositions = true)
      keyNameSets.map { case (keyNames, fs) =>
        val keys = readDeleteFiles(table, m, fs).select(keyNames.map(col): _*)
        val kdf = if (fs.map(_.fileSizeBytes).sum < 64L * 1024 * 1024)
          broadcast(keys) else keys
        // null-safe per key column — eq-delete spec semantics (null keys
        // match null values), same as the read-side probe
        val cond = keyNames.map(n => rows(n) <=> kdf(n)).reduce(_ && _)
        rows.join(kdf, cond, "left_semi")
          .select(col(TableScan.MetaFileCol).as(MergeOnRead.PosPathCol),
            col(TableScan.MetaPosCol).as(MergeOnRead.PosPosCol))
      }
    }
    val newFiles: Seq[DataFileMeta] =
      if (posRows.isEmpty) Nil
      else {
        // writePositionDeleteFiles dedups (path, pos): a row matched by
        // several eq classes still yields one delete row
        val (files, _) = MergeOnRead.writePositionDeleteFiles(table, m,
          posRows.reduce(_ unionByName _), affected = Some(affected),
          compact = true)
        files
      }
    table.commitSnapshot(Operation.Replace, newFiles,
      eq.map(_.dataFile.path).toSet,
      Map("converted-equality-delete-files" -> eq.size.toString,
        "added-position-delete-files" -> newFiles.size.toString),
      removedMeta = eq.map(_.dataFile))
    (eq.size, newFiles.size)
  }

  /** What [[maintain]] did, action by action (zero = skipped or nothing
    * to do). */
  final case class MaintainReport(convertedEqDeletes: Int,
      rewrittenDeleteFiles: Int, compactedDataFiles: Int,
      danglingDeletesRemoved: Int, manifestsRewritten: Int,
      expiredSnapshots: Int, orphansRemoved: Int)

  /** One-call maintenance autopilot: the standard actions in dependency
    * order, each gated by a cheap metadata probe and a table-property
    * knob — the "run this nightly per table" entry point, instead of
    * asking every operator to know seven actions and their ordering:
    *
    *  1. equality→position delete conversion (when eq deletes exist;
    *     `maintenance.convert-eq-deletes.enabled`, default true) — BEFORE
    *     compaction so the rewrite scans apply cheap positional probes;
    *  2. position-delete compaction (when ≥
    *     `maintenance.rewrite-deletes.min-files`, default 2);
    *  3. bin-pack data compaction (self-gating: only partitions with ≥2
    *     undersized files rewrite; `maintenance.compact.enabled`);
    *  4. dangling-delete removal (compaction re-sequences past deletes);
    *  5. manifest rewrite (when live manifests ≥
    *     `maintenance.rewrite-manifests.min-count`, default 8);
    *  6. snapshot expiry per the table's retention properties
    *     (`history.expire.max-snapshot-age-ms`,
    *     `history.expire.min-snapshots-to-keep`) — skipped silently when
    *     `gc.enabled=false` (imported tables share files);
    *  7. orphan-file removal — OPT-IN (`maintenance.remove-orphans.enabled`,
    *     default false: it deletes unknown files, which is a policy call,
    *     not hygiene).
    *
    * Every action is itself a commit, so a crash mid-autopilot leaves a
    * consistent table that the next run simply continues. At 100 TB each
    * action stays delta-bounded (scoped rewrites, metadata-only probes);
    * the autopilot adds no work of its own. */
  def maintain(table: IceTable,
      nowMillis: Long = System.currentTimeMillis()): MaintainReport = {
    val m = table.meta
    def flag(k: String, default: Boolean): Boolean =
      m.property(k, default.toString).toBoolean
    def intProp(k: String, default: Int): Int =
      m.property(k, default.toString).toInt
    val snap = m.currentSnapshot
    val delFiles = snap.map(s => table.liveEntries(m, s)
        .filter(_.dataFile.content != FileContent.Data).map(_.dataFile))
      .getOrElse(Nil)
    val converted =
      if (flag("maintenance.convert-eq-deletes.enabled", true) &&
          delFiles.exists(_.content == FileContent.EqualityDeletes))
        convertEqualityDeletes(table)._1
      else 0
    // DV-mode migration: a table switched to deletion vectors that still
    // carries (path, pos) parquet files converts them here, so the read
    // path sheds the parquet probe build without waiting for enough files
    // to trigger the rewrite gate below
    val dvConverted =
      if (flag(TableProperties.DeleteVectors, false) &&
          flag("maintenance.convert-pos-deletes.enabled", true) &&
          delFiles.exists(_.content == FileContent.PositionDeletes))
        convertPositionDeletes(table)._1
      else 0
    // recount after the conversion commits — eq files became pos, and pos
    // parquet may have become DVs
    // distinct PATHS, not entries: many DV blobs in one sidecar are
    // already compact — rewriting pays off when the FILE count grows
    val posCount =
      if (converted > 0 || dvConverted > 0) {
        val m2 = table.meta
        m2.currentSnapshot.map(s => table.liveEntries(m2, s)
          .filter(e => FileContent.isPositional(e.dataFile.content))
          .map(_.dataFile.path).distinct.size).getOrElse(0)
      } else delFiles.filter(f => FileContent.isPositional(f.content))
        .map(_.path).distinct.size
    val rewrittenDel =
      if (posCount >= intProp("maintenance.rewrite-deletes.min-files", 2))
        rewritePositionDeleteFiles(table)._1
      else 0
    val compacted =
      if (flag("maintenance.compact.enabled", true)) rewriteDataFiles(table)._1
      else 0
    val dangling = removeDanglingDeletes(table)
    val manifestCount = table.meta.currentSnapshot
      .map(s => table.readManifestList(table.meta, s).size).getOrElse(0)
    val manifests =
      if (manifestCount >= intProp("maintenance.rewrite-manifests.min-count", 8))
        rewriteManifests(table)
      else 0
    val gc = flag(TableProperties.GcEnabled, true)
    val expired =
      if (gc && flag("maintenance.expire.enabled", true)) {
        val maxAge = m.property(TableProperties.MaxSnapshotAgeMs,
          TableProperties.MaxSnapshotAgeMsDefault.toString).toLong
        val retain = intProp("history.expire.min-snapshots-to-keep", 1)
        expireSnapshots(table, nowMillis - maxAge, retain)._1
      } else 0
    val orphans =
      if (gc && flag("maintenance.remove-orphans.enabled", false))
        removeOrphanFiles(table,
          nowMillis - m.property("maintenance.remove-orphans.min-age-ms",
            (3L * 24 * 3600 * 1000).toString).toLong).size
      else 0
    MaintainReport(converted + dvConverted, rewrittenDel, compacted, dangling,
      manifests, expired, orphans)
  }

  /** Rewrite all live manifests into one per partition spec, entries
    * clustered by partition (ref `BaseRewriteManifestsSparkAction`): a
    * Replace that adds and removes nothing, so running totals carry on. */
  def rewriteManifests(table: IceTable): Int = {
    if (table.meta.currentSnapshot.isEmpty) return 0
    table.commitSnapshot(Operation.Replace, Nil, Set.empty, rewriteManifests = true)
      .summary("rewritten-manifests").toInt
  }
}
