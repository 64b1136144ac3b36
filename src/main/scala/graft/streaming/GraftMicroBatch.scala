package graft.streaming

import graft.meta.expr.{Binder, Expr, InclusiveMetricsEvaluator, TrueExpr}
import graft.meta.model.{DataFileMeta, TableProperties}
import graft.table.{IceTable, Reads}

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType

/** Stream offset (ref `StreamingOffset.java:33`): the consumed snapshot id
  * plus, while the stream is catching up on its STARTING snapshot, the
  * file index within that snapshot's (deterministically ordered) file list
  * — so `max-files-per-trigger` bounds the catch-up too, instead of
  * reading a huge existing table in one giant first batch.
  * `snapshotId == -1` = nothing consumed yet. Legacy bare-long offsets
  * (pre-file-index checkpoints) still deserialize. */
final case class GraftStreamOffset(snapshotId: Long, pos: Long = 0L,
    scanAll: Boolean = false) extends Offset {
  override def json(): String =
    s"""{"version":1,"snapshot_id":$snapshotId,"position":$pos,"scan_all_files":$scanAll}"""
}

object GraftStreamOffset {
  private val Field = """"(\w+)"\s*:\s*([^,}\s]+)""".r

  def fromJson(s: String): GraftStreamOffset = {
    val t = s.trim
    if (!t.startsWith("{")) return GraftStreamOffset(t.toLong) // legacy long
    val fields = Field.findAllMatchIn(t).map(m => m.group(1) -> m.group(2)).toMap
    GraftStreamOffset(
      fields.get("snapshot_id").map(_.toLong).getOrElse(-1L),
      fields.get("position").map(_.toLong).getOrElse(0L),
      fields.get("scan_all_files").contains("true"))
  }
}

/** DSv2 Structured Streaming source over the snapshot log (ref
  * `spark3/.../source/SparkMicroBatchStream.java`): `spark.readStream
  * .table("graft.db.t")` works directly on catalog tables. Each micro-batch
  * is either a slice of the starting snapshot's file list (initial
  * catch-up, `scanAll` offsets) or the files appended between two snapshot
  * ids — planned on the driver, read on executors through Spark's own
  * `FileFormat` readers (row mode).
  *
  * Schema evolution is handled like the batch scan (`GraftReadPlanner`): files
  * are grouped by writer schema, read under the writer's names/types, and
  * projected to the current schema by field ID (missing columns → null,
  * promoted types → cast, imported identity partitions → constant).
  */
final class GraftMicroBatchStream(table: IceTable, projection: StructType,
    pushedFilter: Expr, skipDeleteSnapshots: Boolean,
    maxFilesPerTrigger: Option[Int] = None,
    startSnapshotId: Option[Long] = None)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  /** Trigger.AvailableNow pins the end of the run at prepare time: batches
    * drain up to this snapshot under the read limit, then the query stops
    * even if concurrent writers keep committing. */
  @volatile private var availableNowEnd: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(table.meta.currentSnapshotId.getOrElse(-1L))

  private def endSnapshotId: Long = availableNowEnd
    .getOrElse(table.meta.currentSnapshotId.getOrElse(-1L))

  /** The starting snapshot's pruned file list, planned once per driver and
    * PATH-SORTED so file-index offsets mean the same files across restarts
    * (a recovered stream re-plans the same snapshot id deterministically). */
  @volatile private var catchUpCache: Option[(Long, IndexedSeq[DataFileMeta])] = None

  private def catchUpFiles(snapId: Long): IndexedSeq[DataFileMeta] =
    catchUpCache match {
      case Some((id, fs)) if id == snapId => fs
      case _ =>
        var scan = table.newScan().useSnapshot(snapId)
        if (pushedFilter != TrueExpr) scan = scan.filter(pushedFilter)
        if (scan.planDeletes().nonEmpty) throw new UnsupportedOperationException(
          "Cannot start a stream on a snapshot with merge-on-read delete files; " +
            "compact first (rewriteDataFiles) or use the graft-stream V1 source")
        val fs = scan.planFiles().map(_.file).sortBy(_.path).toIndexedSeq
        catchUpCache = Some((snapId, fs))
        fs
    }

  /** A fresh stream starts either with a full catch-up of the current
    * snapshot (-1 sentinel) or — with `start-snapshot-id` — incrementally
    * from that snapshot EXCLUSIVE, same range contract as the batch
    * incremental read. Checkpointed restarts never come back here. */
  override def initialOffset(): Offset = startSnapshotId match {
    case Some(id) =>
      if (table.meta.snapshot(id).isEmpty)
        throw new graft.table.ValidationException(
          s"start-snapshot-id $id is not in this table's history")
      GraftStreamOffset(id)
    case None => GraftStreamOffset(-1L)
  }

  override def latestOffset(): Offset = GraftStreamOffset(endSnapshotId)

  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(ReadLimit.maxFiles).getOrElse(ReadLimit.allAvailable())

  /** Rate-limited offset advance (`max-files-per-trigger` read option /
    * `Trigger` read limits). Catch-up: advance the file index into the
    * starting snapshot by the budget. Incremental: walk the append
    * snapshots after `start` oldest→newest and stop once the added-file
    * budget is spent (snapshot-granular, always admitting at least one so
    * the stream progresses). */
  override def latestOffset(startOffset: Offset, limit: ReadLimit): Offset = {
    val current = endSnapshotId
    val start = startOffset.asInstanceOf[GraftStreamOffset]
    val budget: Option[Long] = limit match {
      case f: ReadMaxFiles => Some(math.max(1L, f.maxFiles().toLong))
      case _ => None
    }
    if (current == -1L) return GraftStreamOffset(-1L)
    // initial catch-up: slice the starting snapshot's file list
    if (start.snapshotId == -1L) {
      val total = catchUpFiles(current).size.toLong
      return GraftStreamOffset(current,
        budget.map(math.min(_, total)).getOrElse(total), scanAll = true)
    }
    if (start.scanAll) {
      val total = catchUpFiles(start.snapshotId).size.toLong
      if (start.pos < total) // still draining the starting snapshot
        return GraftStreamOffset(start.snapshotId,
          budget.map(b => math.min(start.pos + b, total)).getOrElse(total),
          scanAll = true)
      if (current == start.snapshotId) return start // drained, nothing newer
      // drained: fall through to incremental mode from this snapshot
    }
    val base = start.snapshotId
    if (current == base || budget.isEmpty)
      return GraftStreamOffset(current)
    val appends = table.appendSnapshotsBetween(table.meta, base, current)
    if (appends.isEmpty) return GraftStreamOffset(current)
    var spent = 0L
    var chosen = base
    var full = false
    appends.foreach { case (s, n) =>
      // offsets are linear: stop at the FIRST snapshot that does not fit
      // (always admitting at least one so the stream progresses)
      if (!full) {
        if (spent == 0L || spent + n <= budget.get) { spent += n; chosen = s.snapshotId }
        else full = true
      }
    }
    // non-append snapshots after the last admitted append carry no new data
    // files, but advancing past them would skip any append in between — so
    // the offset stops at the last admitted APPEND unless everything fit
    if (chosen == appends.last._1.snapshotId) GraftStreamOffset(current)
    else GraftStreamOffset(chosen)
  }

  override def deserializeOffset(json: String): Offset =
    GraftStreamOffset.fromJson(json)

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val endOff = end.asInstanceOf[GraftStreamOffset]
    if (endOff.snapshotId == -1L) return Array.empty
    val m = table.meta
    val startOff = start.asInstanceOf[GraftStreamOffset]
    val files: Seq[DataFileMeta] =
      if (endOff.scanAll) {
        // catch-up slice [start.pos, end.pos) of the starting snapshot
        val all = catchUpFiles(endOff.snapshotId)
        val from = if (startOff.snapshotId == -1L) 0 else startOff.pos.toInt
        all.slice(from, endOff.pos.toInt)
      } else if (startOff.snapshotId == -1L) {
        // legacy replay (pre-file-index checkpoint): the full first snapshot
        catchUpFiles(endOff.snapshotId)
      } else {
        val appended = table.appendedFilesBetween(m, startOff.snapshotId,
          endOff.snapshotId, skipDeleteSnapshots)
        if (pushedFilter == TrueExpr) appended
        else { // metrics-prune appended files; Spark re-applies the filter row-level
          val bound = Binder.bind(m.schema, pushedFilter)
          appended.filter(f => InclusiveMetricsEvaluator.eval(bound, Reads.statsOf(f)))
        }
      }
    if (files.isEmpty) return Array.empty

    val splitTarget = m.property(TableProperties.SplitSize,
      TableProperties.SplitSizeDefault.toString).toLong
    // row-mode readers: micro-batch sinks consume rows; columnar batches are
    // the batch scan's concern
    graft.spark.GraftReadPlanner.plan(table.spark, m, files,
      projection.fieldNames.toSeq, Nil, splitTarget,
      wantColumnar = false, wantKeys = false,
      encryption = table.io.encryption)
      .partitions.toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory =
    graft.spark.GraftReaderFactory

  override def toString: String =
    s"GraftMicroBatchStream(${table.location})"
}
