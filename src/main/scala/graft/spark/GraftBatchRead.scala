package graft.spark

import graft.meta.PartitionSpec
import graft.meta.expr.{And => GAnd, Expr => GExpr, SparkConv, TrueExpr}
import graft.meta.model.{DataFileMeta, FileContent, TableMetadata, TableProperties}
import graft.meta.transforms.IdentityTransform
import graft.table.{FileScanTask, GraftPaths, IceTable, Reads, SparkFilterConv}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Expression, GenericInternalRow, Literal, UnsafeProjection}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.{Predicate => V2Predicate}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, Statistics, SupportsReportPartitioning, SupportsReportStatistics, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarArray, ColumnarBatch, ColumnarMap}
import org.apache.spark.unsafe.types.UTF8String

/** A byte range of one data file (whole file, or one split of a file larger
  * than the split target — ref `BaseTableScan.planFiles` splits at
  * `split-size` so one huge file fans out across executors). */
final case class FileSlice(path: String, start: Long, length: Long, fileSize: Long,
    /** Row lineage of the sliced DATA file: first implicit row id and the
      * entry's data sequence number (-1 = unknown/not requested). */
    firstRowId: Long = -1L, seq: Long = -1L)

/** One equality-delete key family of a scan class: the delete files to load,
  * a driver-built row reader for them, and where the key columns sit in the
  * EXTENDED output row (current-schema types). */
final case class GraftEqDeletes(
    slices: Array[FileSlice],
    reader: PartitionedFile => Iterator[InternalRow],
    ordinals: Array[Int],
    types: Array[DataType])

/** Merge-on-read delete payload of one applicability class, applied INSIDE
  * the native scan's readers (ref `data/.../DeleteFilter.java:111` — the
  * reference also filters deleted rows in its reader so the columnar path
  * survives deletes). The extended output row = projected columns, then any
  * equality-key columns not already projected, then the parquet row-index
  * column when position deletes apply; `keepColumns` trims the extras before
  * rows leave the reader. Delete files are loaded into executor-local hash
  * sets — the same in-memory assumption as the reference's DeleteFilter. */
final case class GraftDeleteApply(
    posSlices: Array[FileSlice],
    posReader: PartitionedFile => Iterator[InternalRow],
    eqGroups: Array[GraftEqDeletes],
    rowIndexOrdinal: Int,
    keepColumns: Int,
    outputTypes: Array[DataType],
    dvs: GraftDvSet = null)

/** One deletion-vector blob of a scan class: where its bitmap lives inside
  * a shared sidecar, and the one data file it applies to. */
final case class GraftDvBlob(referencedPath: String, sidecarPath: String,
    offset: Long, size: Long, sidecarLen: Long,
    keyMetadata: Option[Seq[Byte]])

/** The class's deletion vectors plus what executors need to open them:
  * a serializable Hadoop conf and the table's encryption manager (the
  * sidecars are ranged-read directly, not through a Spark file reader). */
final case class GraftDvSet(blobs: Array[GraftDvBlob],
    conf: org.apache.spark.util.SerializableConfiguration,
    encryption: graft.table.EncryptionManager)

object GraftDeleteApply {
  /** Hash-key normalization for probe values: null-safe `<=>` equality
    * semantics (NaN equals NaN via boxing; -0.0 equals 0.0 by normalizing;
    * binary wrapped for structural equality). Keys are primitive
    * (`MergeOnRead.requirePrimitiveKeys`). `copy` detaches buffer-backed
    * values from reused reader rows before storing in a set. */
  def keyValue(v: Any, copy: Boolean): Any = v match {
    case null => null
    case s: UTF8String => if (copy) s.copy() else s
    case b: Array[Byte] => java.nio.ByteBuffer.wrap(if (copy) b.clone() else b)
    case d: java.lang.Double if d.doubleValue() == 0.0d => java.lang.Double.valueOf(0.0d)
    case f: java.lang.Float if f.floatValue() == 0.0f => java.lang.Float.valueOf(0.0f)
    case other => other
  }
}

/** Executor-local (JVM-wide) cache of parsed delete files, keyed by the
  * delete-file slice set: every input partition of an applicability class
  * carries the SAME delete payload, and without a cache each of the class's
  * partitions would re-read and re-hash every delete file — 2000 partitions
  * × 500 MB of deletes is ~1 TB of redundant IO per query (the reference
  * caches its DeleteFilter loads the same way). Soft references let the
  * sets drop under executor memory pressure and reload on next use; the
  * load runs inside the lock so concurrent tasks of one class build the
  * set once instead of racing N copies. */
private object GraftDeleteCache {
  private val MaxEntries = 16
  private val cache =
    new java.util.LinkedHashMap[String, java.lang.ref.SoftReference[AnyRef]](
      32, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, java.lang.ref.SoftReference[AnyRef]]): Boolean =
        size() > MaxEntries
    }

  def key(slices: Array[FileSlice]): String =
    slices.iterator.map(s => s"${s.path}@${s.start}+${s.length}").mkString(";")

  // per-key load locks: the cache monitor is held only for map access, so
  // concurrent tasks of DIFFERENT classes load in parallel while same-key
  // tasks still build the set once
  private val loading = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]

  private def cached[A <: AnyRef](k: String): A = cache.synchronized {
    val ref = cache.get(k)
    (if (ref == null) null else ref.get()).asInstanceOf[A]
  }

  def getOrLoad[A <: AnyRef](k: String)(load: => A): A = {
    val hit = cached[A](k)
    if (hit != null) return hit
    val lock = loading.computeIfAbsent(k, _ => new Object)
    try lock.synchronized {
      val again = cached[A](k)
      if (again != null) again
      else {
        val v = load
        cache.synchronized { cache.put(k, new java.lang.ref.SoftReference[AnyRef](v)) }
        v
      }
    } finally loading.remove(k)
  }
}

/** Executor-side delete sets for one input partition: position deletes keyed
  * by normalized file path, equality deletes as key-tuple hash sets — both
  * loaded through [[GraftDeleteCache]] (once per executor per class, shared
  * read-only across that class's tasks). */
final class GraftDeleteProbe(d: GraftDeleteApply) {
  import GraftDeleteApply.keyValue

  // deleted positions per data file, two shapes behind one probe interface:
  //  - parquet (path, pos) delete files build SORTED PRIMITIVE long arrays
  //    probed by binary search — no per-row boxing, no hash probes
  //  - deletion-vector blobs load as roaring bitmaps via ONE ranged read
  //    per blob — already position-indexed, memory-bounded at any density
  // A file carrying both (parquet deletes written before the table switched
  // to DVs) gets the union via a two-sided index.
  private val posByPath: java.util.HashMap[String, GraftDeleteProbe.PosIdx] = {
    val fromParquet: java.util.HashMap[String, GraftDeleteProbe.PosIdx] =
      if (d.posSlices.isEmpty) null
      else GraftDeleteCache.getOrLoad("pos:" + GraftDeleteCache.key(d.posSlices)) {
        val grow = new java.util.HashMap[String, GraftDeleteProbe.LongList]
        d.posSlices.iterator.flatMap(s =>
          d.posReader(ColumnBridge.partitionedFile(s.path, s.start, s.length, s.fileSize)))
          .foreach { r =>
            if (!r.isNullAt(0) && !r.isNullAt(1)) {
              val p = GraftPaths.norm(r.getUTF8String(0).toString)
              var list = grow.get(p)
              if (list == null) {
                list = new GraftDeleteProbe.LongList
                grow.put(p, list)
              }
              list.add(r.getLong(1))
            }
          }
        val m = new java.util.HashMap[String, GraftDeleteProbe.PosIdx](grow.size() * 2)
        grow.forEach((p, list) =>
          m.put(p, new GraftDeleteProbe.ArrIdx(list.sortedArray)))
        m
      }
    val fromDvs: java.util.HashMap[String, GraftDeleteProbe.PosIdx] =
      if (d.dvs == null || d.dvs.blobs.isEmpty) null
      else GraftDeleteCache.getOrLoad("dv:" + d.dvs.blobs.iterator
          .map(b => s"${b.sidecarPath}@${b.offset}+${b.size}")
          .mkString(";")) {
        val m = new java.util.HashMap[String, GraftDeleteProbe.PosIdx](
          d.dvs.blobs.length * 2)
        d.dvs.blobs.foreach { b =>
          val meta = graft.meta.model.DataFileMeta(path = b.sidecarPath,
            format = "gdv", specId = 0, partition = Nil, recordCount = 0L,
            fileSizeBytes = b.sidecarLen,
            content = graft.meta.model.FileContent.DeletionVectors,
            referencedFile = Some(b.referencedPath),
            contentOffset = Some(b.offset), contentSize = Some(b.size),
            keyMetadata = b.keyMetadata)
          val bm = graft.table.DeletionVectors.readBitmap(
            d.dvs.conf.value, d.dvs.encryption, meta)
          val key = GraftPaths.norm(b.referencedPath)
          m.get(key) match {
            case prior: GraftDeleteProbe.BmIdx => prior.bm.or(bm)
            case _ => m.put(key, new GraftDeleteProbe.BmIdx(bm))
          }
        }
        m
      }
    if (fromParquet == null && fromDvs == null)
      new java.util.HashMap[String, GraftDeleteProbe.PosIdx]
    else if (fromDvs == null) fromParquet
    else if (fromParquet == null) fromDvs
    else {
      // merged view (NOT cached: the two inputs are cached; the union map
      // is per-probe and tiny — one entry per file with deletes)
      val m = new java.util.HashMap[String, GraftDeleteProbe.PosIdx](fromParquet)
      fromDvs.forEach { (p, idx) =>
        val prior = m.get(p)
        m.put(p, if (prior == null) idx
          else new GraftDeleteProbe.UnionIdx(prior, idx))
      }
      m
    }
  }

  private val eqSets: Array[java.util.HashSet[Any]] = d.eqGroups.map { g =>
    // key types are part of the cache key: the set's tuples are built with
    // the CURRENT schema's types, so a type promotion (int→bigint) between
    // queries on one executor must not serve the old set
    GraftDeleteCache.getOrLoad(
        "eq:" + g.types.map(_.catalogString).mkString(",") + ":" +
          GraftDeleteCache.key(g.slices)) {
      val set = new java.util.HashSet[Any]
      val n = g.ordinals.length
      g.slices.iterator.flatMap(s =>
        g.reader(ColumnBridge.partitionedFile(s.path, s.start, s.length, s.fileSize)))
        .foreach { r =>
          val key = new Array[Any](n)
          var i = 0
          while (i < n) { key(i) = keyValue(r.get(i, g.types(i)), copy = true); i += 1 }
          set.add(key.toSeq)
        }
      set
    }
  }

  /** Deleted-position index for one data file (null = none). */
  def posSetFor(slicePath: String): GraftDeleteProbe.PosIdx =
    posByPath.get(GraftPaths.norm(slicePath))

  /** Any non-empty equality-delete set in scope? When false the columnar
    * path probes the row-index vector directly and never materializes rows. */
  val hasEqDeletes: Boolean = eqSets.exists(!_.isEmpty)

  /** True iff the row survives every applicable delete. `row` is in extended
    * output space (current types). */
  def live(row: InternalRow, posSet: GraftDeleteProbe.PosIdx): Boolean = {
    if (posSet != null && posSet.contains(row.getLong(d.rowIndexOrdinal)))
      return false
    liveEq(row)
  }

  /** Equality-delete half of [[live]] only. */
  def liveEq(row: InternalRow): Boolean = {
    var gi = 0
    while (gi < d.eqGroups.length) {
      if (!eqSets(gi).isEmpty) {
        val g = d.eqGroups(gi)
        val n = g.ordinals.length
        val key = new Array[Any](n)
        var i = 0
        while (i < n) { key(i) = keyValue(row.get(g.ordinals(i), g.types(i)), copy = false); i += 1 }
        if (eqSets(gi).contains(key.toSeq)) return false
      }
      gi += 1
    }
    true
  }
}

private[spark] object GraftDeleteProbe {
  /** Growable primitive long buffer (build-side only; probe side is the
    * sorted array it yields). */
  final class LongList {
    private var a = new Array[Long](16)
    private var n = 0
    def add(v: Long): Unit = {
      if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
      a(n) = v; n += 1
    }
    def sortedArray: Array[Long] = {
      val out = java.util.Arrays.copyOf(a, n)
      java.util.Arrays.sort(out)
      out
    }
  }

  /** One data file's deleted-position set. Shared read-only across an
    * executor's tasks via [[GraftDeleteCache]]; [[newCursor]] yields the
    * per-slice stateful ascending-probe view. */
  sealed trait PosIdx {
    def contains(pos: Long): Boolean
    def newCursor(): PosCursor
  }

  /** Sorted primitive long array (from parquet (path, pos) delete rows). */
  final class ArrIdx(val arr: Array[Long]) extends PosIdx {
    override def contains(pos: Long): Boolean =
      java.util.Arrays.binarySearch(arr, pos) >= 0
    override def newCursor(): PosCursor = new ArrCursor(arr)
  }

  /** Roaring bitmap (from a deletion-vector blob). */
  final class BmIdx(val bm: org.roaringbitmap.longlong.Roaring64Bitmap)
      extends PosIdx {
    override def contains(pos: Long): Boolean = bm.contains(pos)
    override def newCursor(): PosCursor = new BmCursor(bm)
  }

  /** A file with BOTH representations live (parquet deletes from before the
    * table switched to DVs): a position is dead in either. */
  final class UnionIdx(a: PosIdx, b: PosIdx) extends PosIdx {
    override def contains(pos: Long): Boolean = a.contains(pos) || b.contains(pos)
    override def newCursor(): PosCursor = {
      val (ca, cb) = (a.newCursor(), b.newCursor())
      // both sub-cursors MUST advance every probe (short-circuiting ||
      // would starve b's cursor and break its monotone fast path)
      (pos: Long) => { val da = ca.deleted(pos); val db = cb.deleted(pos); da || db }
    }
  }

  /** Stateful merge cursor over one slice's delete positions: row indexes
    * ascend through a slice, so the whole slice costs O(rows + deletes)
    * instead of a search per row. Implementations fall back to a random
    * probe if the input ever goes backwards (defensive — the reader
    * contract says it can't). */
  trait PosCursor { def deleted(pos: Long): Boolean }

  private final class ArrCursor(arr: Array[Long]) extends PosCursor {
    private var i = 0
    private var last = Long.MinValue
    override def deleted(pos: Long): Boolean = {
      if (pos < last) return java.util.Arrays.binarySearch(arr, pos) >= 0
      last = pos
      while (i < arr.length && arr(i) < pos) i += 1
      i < arr.length && arr(i) == pos
    }
  }

  private final class BmCursor(bm: org.roaringbitmap.longlong.Roaring64Bitmap)
      extends PosCursor {
    private val it = bm.getLongIterator
    private var nextDel: Long = if (it.hasNext) it.next() else Long.MaxValue
    private var last = Long.MinValue
    override def deleted(pos: Long): Boolean = {
      // hot path is ONE long compare (pos below the next tombstone);
      // the iterator only advances while consuming past tombstones, so a
      // whole slice costs O(rows + deletes) like the array cursor
      if (pos < last) return bm.contains(pos)
      last = pos
      while (nextDel < pos)
        nextDel = if (it.hasNext) it.next() else Long.MaxValue
      nextDel == pos
    }
  }
}

private[spark] object GraftSurvivors {
  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
  import org.apache.spark.sql.types._

  /** Survivor column for a delete-filtered batch: logical row i = base row
    * `map(i)`. Two shapes, picked per column by keep density:
    *
    *  - DENSE batches (most rows survive — the common MoR profile, e.g. a
    *    2–4% delete) COPY fixed-width survivors into a writable OnHeap
    *    vector: the copy touches each value once, and downstream reads are
    *    then monomorphic OnHeap accesses with no extra array hop. At high
    *    keep ratios the per-access remap indirection costs more than the
    *    one-time copy.
    *  - SPARSE batches (and variable-width / nested columns, where a copy
    *    would move the payload bytes twice) stay zero-copy views.
    */
  def vector(base: ColumnVector, map: Array[Int], kept: Int,
      batchRows: Int): ColumnVector = {
    if (kept * 2 >= batchRows) {
      val copied = copyFixed(base, map, kept)
      if (copied != null) return copied
    }
    new GraftFilteredVector(base, map)
  }

  /** Gather `map` rows of a fixed-width column into a fresh OnHeap vector;
    * null when the type is not fixed-width (caller falls back to the view). */
  private def copyFixed(base: ColumnVector, map: Array[Int], kept: Int): ColumnVector = {
    val dt = base.dataType
    val out = dt match {
      case BooleanType | ByteType | ShortType | IntegerType | DateType |
           LongType | TimestampType | TimestampNTZType | FloatType |
           DoubleType | _: YearMonthIntervalType | _: DayTimeIntervalType =>
        new OnHeapColumnVector(math.max(kept, 1), dt)
      case _ => return null // strings/binary/decimal/nested: view is cheaper
    }
    val hasNulls = base.hasNull
    var i = 0
    dt match {
      case BooleanType =>
        while (i < kept) { val r = map(i)
          if (hasNulls && base.isNullAt(r)) out.putNull(i)
          else out.putBoolean(i, base.getBoolean(r)); i += 1 }
      case ByteType =>
        while (i < kept) { val r = map(i)
          if (hasNulls && base.isNullAt(r)) out.putNull(i)
          else out.putByte(i, base.getByte(r)); i += 1 }
      case ShortType =>
        while (i < kept) { val r = map(i)
          if (hasNulls && base.isNullAt(r)) out.putNull(i)
          else out.putShort(i, base.getShort(r)); i += 1 }
      case IntegerType | DateType | _: YearMonthIntervalType =>
        while (i < kept) { val r = map(i)
          if (hasNulls && base.isNullAt(r)) out.putNull(i)
          else out.putInt(i, base.getInt(r)); i += 1 }
      case LongType | TimestampType | TimestampNTZType | _: DayTimeIntervalType =>
        while (i < kept) { val r = map(i)
          if (hasNulls && base.isNullAt(r)) out.putNull(i)
          else out.putLong(i, base.getLong(r)); i += 1 }
      case FloatType =>
        while (i < kept) { val r = map(i)
          if (hasNulls && base.isNullAt(r)) out.putNull(i)
          else out.putFloat(i, base.getFloat(r)); i += 1 }
      case DoubleType =>
        while (i < kept) { val r = map(i)
          if (hasNulls && base.isNullAt(r)) out.putNull(i)
          else out.putDouble(i, base.getDouble(r)); i += 1 }
      case _ => return null
    }
    out
  }
}

/** Zero-copy survivor view of a column vector: logical row i reads base row
  * `map(i)` (the same shape as the reference's vectorized delete filter,
  * `spark/.../vectorized/ColumnVectorWithFilter` in later ref versions —
  * built independently here on Spark's public ColumnVector API). Children
  * are wrapped recursively so struct fields remap too; array/map reads
  * delegate whole (offset-addressed in the base child, no remap needed). */
final class GraftFilteredVector(base: ColumnVector, map: Array[Int])
    extends ColumnVector(base.dataType) {
  override def close(): Unit = () // base vectors belong to the source batch
  override lazy val numNulls: Int = {
    var c = 0; var i = 0
    while (i < map.length) { if (base.isNullAt(map(i))) c += 1; i += 1 }
    c
  }
  // conservative O(1): survivors can't have nulls the base lacks, and a
  // false positive only routes readers through their null-checking path —
  // the exact count would cost an O(rows) pass per column per batch
  override def hasNull: Boolean = base.hasNull
  override def isNullAt(i: Int): Boolean = base.isNullAt(map(i))
  override def getBoolean(i: Int): Boolean = base.getBoolean(map(i))
  override def getByte(i: Int): Byte = base.getByte(map(i))
  override def getShort(i: Int): Short = base.getShort(map(i))
  override def getInt(i: Int): Int = base.getInt(map(i))
  override def getLong(i: Int): Long = base.getLong(map(i))
  override def getFloat(i: Int): Float = base.getFloat(map(i))
  override def getDouble(i: Int): Double = base.getDouble(map(i))
  override def getArray(i: Int): ColumnarArray = base.getArray(map(i))
  override def getMap(i: Int): ColumnarMap = base.getMap(map(i))
  override def getDecimal(i: Int, p: Int, s: Int): org.apache.spark.sql.types.Decimal =
    base.getDecimal(map(i), p, s)
  override def getUTF8String(i: Int): UTF8String = base.getUTF8String(map(i))
  override def getBinary(i: Int): Array[Byte] = base.getBinary(map(i))
  override def getChild(ordinal: Int): ColumnVector =
    new GraftFilteredVector(base.getChild(ordinal), map)
}

/** One read task: a size-packed group of file slices sharing a writer schema
  * (and, when key-grouped, one partition tuple), with the serialized reader
  * function Spark's `FileFormat` produced on the driver. `columnar` marks
  * that the reader yields `ColumnarBatch`es (vectorized parquet/ORC);
  * `key` is the partition tuple for storage-partitioned joins (null when the
  * scan does not report key-grouped partitioning). `synthPos` marks a
  * non-parquet group under position deletes: its reader has no row-index
  * column, so readers SYNTHESIZE positions as the running row ordinal —
  * sound because such groups are planned as whole-file slices with no
  * reader-level filters (every row of the file streams through in order). */
final case class GraftInputPartition(
    files: Array[FileSlice],
    reader: PartitionedFile => Iterator[InternalRow],
    project: Option[Seq[Expression]],
    columnar: Boolean = false,
    key: InternalRow = null,
    deletes: GraftDeleteApply = null,
    synthPos: Boolean = false,
    // `_file`/`_pos` metadata-column emit plan: output layout (data ordinal
    // >= 0, GraftBatchScan.OutFile/OutPos), the data-column types, and where
    // the parquet row-index column sits in the extended row (-1 = synthesize
    // positions as running ordinals). Null outCols = legacy layout.
    outCols: Array[Int] = null,
    emitTypes: Array[DataType] = null,
    ridOrdinal: Int = -1,
    // ordinal of the materialized `_gf_row_id` column in the extended row
    // (`_gf_last_seq` sits at +1); -1 = lineage not requested
    lineageOrdinal: Int = -1,
    // `_deleted` requested: rows the delete probe kills are EMITTED with
    // the flag set instead of dropped (ref MetadataColumns.IS_DELETED)
    keepDeleted: Boolean = false) extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

/** Executor-side readers over [[GraftInputPartition]]s; row or columnar
  * according to how the partition's reader was built (ref
  * `spark3/.../source/ReaderFactory` row/batch split). */
object GraftReaderFactory extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean =
    partition.asInstanceOf[GraftInputPartition].columnar

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftInputPartition]
    new PartitionReader[InternalRow] {
      private val probe =
        if (p.deletes == null) null else new GraftDeleteProbe(p.deletes)
      private val proj = p.project.map(UnsafeProjection.create)
      // with deletes, extras (eq keys / row index) ride to the END of the
      // output row; trim them off after probing (identity width → no trim)
      private val trim: UnsafeProjection =
        if (p.deletes == null || p.deletes.keepColumns == p.deletes.outputTypes.length) null
        else UnsafeProjection.create(
          (0 until p.deletes.keepColumns).map(i =>
            BoundReference(i, p.deletes.outputTypes(i), nullable = true)))
      // `_file`/`_pos`/`_deleted` emit: rebuild the row in requested output
      // order with the slice's path constant, the row's file ordinal, and
      // its tombstone flag
      private def emitRow(row: InternalRow, pos: Long, file: UTF8String,
          deleted: Boolean, first: Long, sliceSeq: Long): InternalRow = {
        val out = new Array[Any](p.outCols.length)
        var i = 0
        while (i < p.outCols.length) {
          val c = p.outCols(i)
          out(i) =
            if (c >= 0) row.get(c, p.emitTypes(c))
            else if (c == GraftBatchScan.OutFile) file
            else if (c == GraftBatchScan.OutDeleted) deleted
            else if (c == GraftBatchScan.OutRowId) {
              // materialized id from a preserving rewrite wins; else the
              // implicit commit-assigned span; else null (legacy file)
              if (p.lineageOrdinal >= 0 && !row.isNullAt(p.lineageOrdinal))
                row.getLong(p.lineageOrdinal)
              else if (first >= 0L && pos >= 0L) first + pos
              else null
            } else if (c == GraftBatchScan.OutLastUpdated) {
              if (p.lineageOrdinal >= 0 && !row.isNullAt(p.lineageOrdinal + 1))
                row.getLong(p.lineageOrdinal + 1)
              else if (sliceSeq >= 0L) sliceSeq
              else null
            }
            else pos
          i += 1
        }
        new GenericInternalRow(out)
      }
      private val it: Iterator[InternalRow] = p.files.iterator.flatMap { s =>
        val raw = p.reader(
          ColumnBridge.partitionedFile(s.path, s.start, s.length, s.fileSize))
        // a columnar reader yields batches disguised as rows — flatten
        val rows =
          if (p.columnar) raw.flatMap(b =>
            b.asInstanceOf[AnyRef].asInstanceOf[ColumnarBatch].rowIterator()
              .asInstanceOf[java.util.Iterator[InternalRow]].asScalaIterator)
          else raw
        // probe in OUTPUT space (after projection: current names/types)
        val out = proj match {
          case Some(pr) => rows.map(pr(_): InternalRow)
          case None => rows
        }
        val fileStr =
          if (p.outCols == null) null else UTF8String.fromString(s.path)
        if (probe == null) {
          if (p.outCols == null) out
          else if (p.synthPos) {
            var pos = -1L
            out.map { r => pos += 1; emitRow(r, pos, fileStr,
              deleted = false, s.firstRowId, s.seq) }
          } else out.map(r => emitRow(r,
            if (p.ridOrdinal >= 0) r.getLong(p.ridOrdinal) else -1L, fileStr,
            deleted = false, s.firstRowId, s.seq))
        } else if (!p.synthPos) {
          val posSet = probe.posSetFor(s.path)
          if (p.keepDeleted)
            // `_deleted` requested: every row flows through, flagged
            out.map { r =>
              emitRow(r,
                if (p.ridOrdinal >= 0) r.getLong(p.ridOrdinal) else -1L,
                fileStr, deleted = !probe.live(r, posSet), s.firstRowId, s.seq)
            }
          else {
            val filtered = out.filter(probe.live(_, posSet))
            if (p.outCols == null) filtered
            else filtered.map(r => emitRow(r,
              if (p.ridOrdinal >= 0) r.getLong(p.ridOrdinal) else -1L, fileStr,
              deleted = false, s.firstRowId, s.seq))
          }
        } else {
          // synthesized positions: the slice is a whole file read with no
          // reader filters, so the running ordinal IS the row position
          val posSet = probe.posSetFor(s.path)
          val cursor =
            if (posSet == null) null else posSet.newCursor()
          var pos = -1L
          def live(r: InternalRow): Boolean = {
            pos += 1
            (cursor == null || !cursor.deleted(pos)) && probe.liveEq(r)
          }
          if (p.keepDeleted)
            out.map { r => val l = live(r); emitRow(r, pos, fileStr,
              deleted = !l, s.firstRowId, s.seq) }
          else {
            val filtered = out.filter(live)
            if (p.outCols == null) filtered
            // map pulls AFTER filter accepts, so `pos` is the accepted row's
            // ordinal at emit time
            else filtered.map(r => emitRow(r, pos, fileStr, deleted = false,
              s.firstRowId, s.seq))
          }
        }
      }
      private var row: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { row = it.next(); true } else false
      override def get(): InternalRow =
        if (p.outCols != null || trim == null) row else trim(row)
      override def close(): Unit = ()
    }
  }

  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] = {
    val p = partition.asInstanceOf[GraftInputPartition]
    require(p.columnar, s"partition is not columnar: $p")
    new PartitionReader[ColumnarBatch] {
      private val probe =
        if (p.deletes == null) null else new GraftDeleteProbe(p.deletes)
      private val it: Iterator[ColumnarBatch] = p.files.iterator.flatMap { s =>
        val batches = p.reader(
          ColumnBridge.partitionedFile(s.path, s.start, s.length, s.fileSize))
          .asInstanceOf[Iterator[ColumnarBatch]]
        val fileStr =
          if (p.outCols == null) null else UTF8String.fromString(s.path)
        if (probe == null && p.outCols == null) batches
        else if (probe == null) {
          var base = 0L
          batches.map { b =>
            val out = emitBatch(b, null, b.numRows(), base, fileStr, null,
              s.firstRowId, s.seq)
            base += b.numRows(); out
          }
        } else {
          val posSet = probe.posSetFor(s.path)
          val cursor = if (posSet == null) null else posSet.newCursor()
          // synthesized positions: batches of one whole-file slice are
          // consecutive, so a running base + in-batch offset is the ordinal
          var base = 0L
          batches.map { b =>
            val out = filterBatch(b, posSet, cursor, base, fileStr,
              s.firstRowId, s.seq)
            base += b.numRows(); out
          }
        }
      }
      /** Final batch in output layout: filtered (or raw) data vectors, plus
        * `_file` as a constant vector, `_pos` from the row-index vector
        * (or synthesized from the running file ordinal), and `_deleted`
        * from `flags` (null = all live). Data vectors stay zero-copy views. */
      private def emitBatch(b: ColumnarBatch, map: Array[Int], kept: Int,
          base: Long, fileStr: UTF8String,
          flags: Array[Boolean], first: Long, sliceSeq: Long): ColumnarBatch = {
        if (p.outCols == null) {
          // drop deleted rows + extra probe columns only (legacy layout)
          val d = p.deletes
          val cols = new Array[ColumnVector](d.keepColumns)
          var j = 0
          if (map == null) {
            while (j < d.keepColumns) { cols(j) = b.column(j); j += 1 }
          } else {
            while (j < d.keepColumns) {
              cols(j) = GraftSurvivors.vector(b.column(j), map, kept, b.numRows()); j += 1
            }
          }
          return new ColumnarBatch(cols, kept)
        }
        val cols = new Array[ColumnVector](p.outCols.length)
        var j = 0
        while (j < p.outCols.length) {
          val c = p.outCols(j)
          cols(j) =
            if (c >= 0) {
              if (map == null) b.column(c)
              else GraftSurvivors.vector(b.column(c), map, kept, b.numRows())
            } else if (c == GraftBatchScan.OutFile) {
              val v = new org.apache.spark.sql.execution.vectorized
                .ConstantColumnVector(kept, StringType)
              v.setUtf8String(fileStr)
              v
            } else if (c == GraftBatchScan.OutDeleted) {
              if (flags == null) {
                val v = new org.apache.spark.sql.execution.vectorized
                  .ConstantColumnVector(kept,
                    org.apache.spark.sql.types.BooleanType)
                v.setBoolean(false)
                v
              } else {
                val v = new org.apache.spark.sql.execution.vectorized
                  .OnHeapColumnVector(math.max(kept, 1),
                    org.apache.spark.sql.types.BooleanType)
                var i = 0
                while (i < kept) {
                  v.putBoolean(i, flags(if (map == null) i else map(i))); i += 1
                }
                v
              }
            } else if (c == GraftBatchScan.OutRowId ||
                c == GraftBatchScan.OutLastUpdated) {
              // lineage vectors: materialized column wins per row, else the
              // implicit commit-assigned value, else null (legacy file)
              val rowIdCol = c == GraftBatchScan.OutRowId
              val mv = if (p.lineageOrdinal < 0) null
                else b.column(p.lineageOrdinal + (if (rowIdCol) 0 else 1))
              val ridVec = if (rowIdCol && p.ridOrdinal >= 0)
                b.column(p.ridOrdinal) else null
              val v = new org.apache.spark.sql.execution.vectorized
                .OnHeapColumnVector(math.max(kept, 1), LongType)
              var i = 0
              while (i < kept) {
                val src = if (map == null) i else map(i)
                if (mv != null && !mv.isNullAt(src)) v.putLong(i, mv.getLong(src))
                else if (rowIdCol && first >= 0L)
                  v.putLong(i, first +
                    (if (ridVec != null) ridVec.getLong(src) else base + src))
                else if (!rowIdCol && sliceSeq >= 0L) v.putLong(i, sliceSeq)
                else v.putNull(i)
                i += 1
              }
              v
            } else if (p.ridOrdinal >= 0) {
              if (map == null) b.column(p.ridOrdinal)
              else GraftSurvivors.vector(b.column(p.ridOrdinal), map, kept, b.numRows())
            } else {
              // synthesized ordinals: position = slice base + base-batch row
              val v = new org.apache.spark.sql.execution.vectorized
                .OnHeapColumnVector(math.max(kept, 1), LongType)
              var i = 0
              while (i < kept) {
                v.putLong(i, base + (if (map == null) i else map(i))); i += 1
              }
              v
            }
          j += 1
        }
        new ColumnarBatch(cols, kept)
      }
      /** Drop deleted rows: survivors become a row-id mapping over the base
        * vectors — zero copy, stays columnar. */
      private def filterBatch(b: ColumnarBatch, posSet: GraftDeleteProbe.PosIdx,
          cursor: GraftDeleteProbe.PosCursor, base: Long,
          fileStr: UTF8String, first: Long, sliceSeq: Long): ColumnarBatch = {
        val d = p.deletes
        val n = b.numRows()
        val map = new Array[Int](n)
        var kept = 0
        var i = 0
        if (!probe.hasEqDeletes) {
          // position-only fast path: probe the row-index VECTOR directly —
          // no row materialization, no boxing; the slice-scoped merge
          // cursor makes the whole slice O(rows + deletes)
          if (posSet == null) {
            while (i < n) { map(i) = i; i += 1 }
            kept = n
          } else if (p.synthPos) {
            while (i < n) {
              if (!cursor.deleted(base + i)) { map(kept) = i; kept += 1 }
              i += 1
            }
          } else {
            val posVec = b.column(d.rowIndexOrdinal)
            while (i < n) {
              if (!cursor.deleted(posVec.getLong(i))) { map(kept) = i; kept += 1 }
              i += 1
            }
          }
        } else if (p.synthPos) {
          while (i < n) {
            if ((cursor == null || !cursor.deleted(base + i)) &&
              probe.liveEq(b.getRow(i))) { map(kept) = i; kept += 1 }
            i += 1
          }
        } else {
          while (i < n) {
            if (probe.live(b.getRow(i), posSet)) { map(kept) = i; kept += 1 }
            i += 1
          }
        }
        if (p.keepDeleted) {
          // `_deleted` requested: every row flows through; survivors from
          // the probe map become the live flags
          val flags = new Array[Boolean](n)
          java.util.Arrays.fill(flags, true)
          var k = 0
          while (k < kept) { flags(map(k)) = false; k += 1 }
          emitBatch(b, null, n, base, fileStr, flags, first, sliceSeq)
        } else {
          val m = if (kept == n) null else java.util.Arrays.copyOf(map, kept)
          emitBatch(b, m, kept, base, fileStr, null, first, sliceSeq)
        }
      }
      private var batch: ColumnarBatch = _
      override def next(): Boolean =
        if (it.hasNext) { batch = it.next(); true } else false
      override def get(): ColumnarBatch = batch
      override def close(): Unit = ()
    }
  }

  private implicit final class JIter[A](val it: java.util.Iterator[A]) {
    def asScalaIterator: Iterator[A] = new Iterator[A] {
      override def hasNext: Boolean = it.hasNext
      override def next(): A = it.next()
    }
  }
}

/** Driver-side planning of DSv2 input partitions from planned data files.
  * Shared by the batch scan and the micro-batch stream. Files are grouped by
  * writer schema (field-ID resolution across renames/promotions, imported
  * identity-partition constants as literals), then size-packed into tasks
  * (ref `core/.../util/TableScanUtil.planTasks`).
  *
  * Columnar: when no group needs a row-level projection (no casts, no
  * constants, no missing columns) and every format supports batch reads for
  * the projected schema, readers are built vectorized and the scan reports
  * columnar partitions — the same whole-stage-friendly shape
  * `FileSourceScanExec` produces.
  */
object GraftReadPlanner {
  /** Physical column names a PRESERVING rewrite materializes into data
    * files: the original row id and the original last-updated sequence
    * (null = inherit the file's implicit value). */
  val LineageRowIdCol = "_gf_row_id"
  val LineageSeqCol = "_gf_last_seq"


  final case class Planned(partitions: Array[GraftInputPartition], columnar: Boolean)

  /** Readers [[ReaderMemo]] built, and lookups it answered with a reader
    * already built — lets tests pin how many readers a read builds. */
  private[graft] val readerBuilds = new java.util.concurrent.atomic.AtomicLong()
  private[graft] val readerReuses = new java.util.concurrent.atomic.AtomicLong()

  type FileReader = PartitionedFile => Iterator[InternalRow]

  /** The JVM's one reader memo: every `FileFormat` reader graft opens files
    * with is built here. A build (`ColumnBridge.fileReader`) takes 7–10 ms
    * on a 4-core VM (median 7.2 ms vectorized, 7.8 ms row): it copies the
    * session's Hadoop conf, broadcasts it and, for row readers under a
    * vectorized session, clones the session.
    *
    * Key: the reader's shape — format, write schema, required schema,
    * filters, vectorized, options — plus every other input a build reads:
    * the `SparkContext` the broadcast belongs to (a stopped context's
    * readers are never returned, and are dropped on the next miss), the
    * calling session's SQL conf and the context's Hadoop conf, both by
    * content. So a repeated read of an unchanged shape builds nothing (the
    * delete readers of every merge-on-read read, every unfiltered data
    * read), and a changed setting builds a new reader. A hit costs one
    * fingerprint of the two confs (~1,100 Hadoop entries), 0.2 ms median.
    *
    * Bound: the [[Bound]] most recently used readers (LRU). A miss builds
    * outside the memo's lock, so concurrent reads of other shapes do not
    * wait behind it; a read of the same shape waits for that one build. */
  object ReaderMemo {
    val Bound = 64

    private final case class Key(sc: org.apache.spark.SparkContext,
        sqlConf: Map[String, String], hadoopConf: java.util.Map[String, String],
        format: String, writeSchema: StructType, required: StructType,
        filters: Seq[Filter], vectorized: Boolean, options: Map[String, String])

    /** Filled once by the first caller of its key; later callers of the
      * key wait on the slot, not on the memo. */
    private final class Slot {
      @volatile var reader: (FileReader, Boolean) = _
    }

    private val slots = new java.util.LinkedHashMap[Key, Slot](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[Key, Slot]): Boolean =
        this.size > Bound
    }

    def apply(spark: SparkSession, format: String, writeSchema: StructType,
        required: StructType, filters: Seq[Filter], vectorized: Boolean,
        options: Map[String, String]): (FileReader, Boolean) = {
      val sc = spark.sparkContext
      val hadoopConf = new java.util.HashMap[String, String]()
      sc.hadoopConfiguration.forEach(e => hadoopConf.put(e.getKey, e.getValue))
      val key = Key(sc, spark.conf.getAll, hadoopConf, format, writeSchema,
        required, filters, vectorized, options)
      val slot = slots.synchronized {
        val found = slots.get(key)
        if (found != null) found
        else {
          slots.keySet.removeIf(_.sc.isStopped)
          val fresh = new Slot
          slots.put(key, fresh)
          fresh
        }
      }
      var built = false
      if (slot.reader == null) slot.synchronized {
        if (slot.reader == null) {
          try {
            slot.reader = ColumnBridge.fileReader(spark, format, writeSchema,
              required, filters, vectorized, options)
          } catch {
            case e: Throwable =>
              slots.synchronized(slots.remove(key, slot))
              throw e
          }
          built = true
        }
      }
      (if (built) readerBuilds else readerReuses).incrementAndGet()
      slot.reader
    }

    /** A row reader (delete files). */
    def rows(spark: SparkSession, format: String, schema: StructType,
        options: Map[String, String]): FileReader =
      apply(spark, format, schema, schema, Nil, vectorized = false, options)._1

    private[graft] def size: Int = slots.synchronized(slots.size)

    /** Drops every reader, so a test's build counts do not depend on the
      * reads that ran before it. */
    private[graft] def clear(): Unit = slots.synchronized(slots.clear())
  }

  /** @param wantKeys group per partition tuple and attach partition keys
    *                 (caller guarantees a single all-identity spec)
    * @param pushedV1 data-source filters in CURRENT-schema names; forwarded
    *                 to the file reader for row-group/SArg pruning only where
    *                 writer-era names and types match exactly
    * @param deletes merge-on-read delete files applying to EVERY file in
    *                `files` (the caller groups by applicability class);
    *                readers then filter deleted rows in place */
  def plan(spark: SparkSession, m: TableMetadata, files: Seq[DataFileMeta],
      names: Seq[String], pushedV1: Seq[Filter], splitTarget: Long,
      wantColumnar: Boolean, wantKeys: Boolean,
      deletes: Seq[DataFileMeta] = Nil, outCols: Array[Int] = null,
      encryption: graft.table.EncryptionManager =
        graft.table.PlaintextEncryptionManager,
      /** Data sequence number per file path — only needed when lineage
        * metadata columns are requested. */
      seqs: Map[String, Long] = Map.empty,
      /** Per-slice open-cost weight override (bytes). Internal rewrite reads
        * pass the calling session's `spark.sql.files.openCostInBytes` so the
        * read-side bin-packing follows the session the caller configured
        * (binPack compaction packs with open cost 0: each task carries
        * ~target BYTES of small files, not target-minus-padding). */
      openCostOverride: Option[Long] = None): Planned = {
    if (files.isEmpty) return Planned(Array.empty, columnar = false)
    val schema = m.schema
    val inject = m.property(TableProperties.InjectPartitionConstants, "false").toBoolean
    // requested `_pos` metadata column rides the same row-index machinery
    // position deletes use (real parquet row-index column, or synthesized
    // whole-file ordinals for other formats)
    val wantPos = outCols != null && outCols.contains(GraftBatchScan.OutPos)
    val wantRowId = outCols != null && outCols.contains(GraftBatchScan.OutRowId)
    val wantLineage = wantRowId ||
      (outCols != null && outCols.contains(GraftBatchScan.OutLastUpdated))

    // merge-on-read probe columns: eq-delete keys not already projected ride
    // along (resolved through the same writer-schema machinery), plus the
    // parquet row-index column when position deletes apply; readers trim
    // them after filtering
    val posDeletes = deletes.filter(_.content == FileContent.PositionDeletes)
    val dvDeletes = deletes.filter(_.content == FileContent.DeletionVectors)
    val eqMetaGroups = deletes.filter(_.content == FileContent.EqualityDeletes)
      .groupBy(_.equalityIds).toSeq.sortBy(_._1.mkString(","))
    val eqKeyNames = eqMetaGroups.flatMap(_._1).distinct.map(schema.fieldName)
    val extNames = names ++ eqKeyNames.filterNot(names.contains)
    val needRid = posDeletes.nonEmpty || dvDeletes.nonEmpty || wantPos ||
      wantRowId
    // must stay nullable: the vectorized reader's required-column check runs
    // before its row-index special-casing and rejects a non-nullable field
    val ridField = StructField(
      org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
        .ROW_INDEX_TEMPORARY_COLUMN_NAME, LongType, nullable = true)

    val groups = files.groupBy(f => (f.schemaId, f.format,
      if (inject || wantKeys) f.partition else Nil, f.specId))
      .toSeq.sortBy(_._1.toString)

    // resolve each group's read schema + row projection first; columnar is
    // all-or-nothing across the scan (Spark requires uniform partitions)
    final case class GroupPlan(files: Seq[DataFileMeta], format: String,
        writeSchema: StructType, required: StructType,
        project: Option[Seq[Expression]], filters: Seq[Filter],
        key: InternalRow, synthPos: Boolean)

    val plans = groups.map { case ((schemaId, format, partValues, specId), group) =>
      // only parquet exposes a real row-index column; other formats under
      // position deletes get SYNTHESIZED positions — whole-file slices, no
      // reader filters, readers count rows (ref DeleteFilter.java:111
      // applies pos deletes format-agnostically in its row readers)
      val hasRid = needRid && format == "parquet"
      val synthPos = needRid && format != "parquet"
      val writeSchema = m.schemas.find(_.schemaId == schemaId).getOrElse(schema)
      val spec0 = m.specById(specId)
      val constants: Map[Int, Any] = if (!inject) Map.empty
      else spec0.fields.zipWithIndex.collect {
        case (pf, i) if pf.transform == IdentityTransform =>
          pf.sourceId -> partValues.asInstanceOf[Seq[Any]](i)
      }.toMap
      // writer-era names/types; columns the writer never had keep their
      // current name (absent from the file → read as null)
      val required0 = StructType(extNames.map { name =>
        val id = schema.fieldId(name)
        writeSchema.idToName.get(id) match {
          case Some(old) => StructField(old, writeSchema.fieldType(id))
          case None => StructField(name, schema.fieldType(id))
        }
      })
      // materialized-lineage columns (written by preserving rewrites) ride
      // between the eq-key extras and the row-index column; files lacking
      // them read nulls and fall back to the implicit id/seq
      val lineageFields =
        if (!wantLineage) Nil
        else Seq(StructField(GraftReadPlanner.LineageRowIdCol, LongType,
            nullable = true),
          StructField(GraftReadPlanner.LineageSeqCol, LongType,
            nullable = true))
      val required1 = StructType(required0.fields ++ lineageFields)
      val required = if (hasRid) StructType(required1.fields :+ ridField) else required1
      // field-ID projection writer row → current row
      val exprs0: Seq[Expression] = extNames.zipWithIndex.map { case (name, i) =>
        val id = schema.fieldId(name)
        val cur = schema.fieldType(id)
        if (constants.contains(id))
          Literal(SparkConv.catalystValue(constants(id), cur), cur)
        else {
          val in = BoundReference(i, required(i).dataType, nullable = true)
          if (required(i).dataType == cur) in
          else Cast(in, cur, Some(java.time.ZoneOffset.UTC.getId))
        }
      }
      val exprsL = exprs0 ++ lineageFields.indices.map(i =>
        BoundReference(extNames.length + i, LongType, nullable = true))
      val exprs = if (hasRid)
        exprsL :+ BoundReference(extNames.length + lineageFields.size,
          LongType, nullable = true)
      else exprsL
      val identity = exprs.zipWithIndex.forall {
        case (b: BoundReference, i) => b.ordinal == i
        case _ => false
      }
      // a filter is safe for the reader iff every referenced column keeps
      // its current name AND type in the writer schema (a renamed column
      // could otherwise collide with a different old column of that name)
      def safeRef(ref: String): Boolean = {
        val top = ref.split('.').head
        scala.util.Try(schema.fieldId(top)).toOption.exists { id =>
          !constants.contains(id) &&
            writeSchema.idToName.get(id).contains(top) &&
            writeSchema.fieldType(id) == schema.fieldType(id)
        }
      }
      // synthesized positions count EVERY row of the file: reader-level
      // filters would skip rows and corrupt the ordinals (Spark re-evaluates
      // all pushed filters post-scan, so dropping them here is safe)
      val safeFilters =
        if (synthPos) Nil else pushedV1.filter(_.references.forall(safeRef))
      val key: InternalRow = if (!wantKeys) null else {
        val values = spec0.fields.zipWithIndex.map { case (pf, i) =>
          // the TRANSFORM's result type, not the source's: a bucket key is
          // the stored bucket ordinal (int), identity passes through
          SparkConv.catalystValue(partValues.asInstanceOf[Seq[Any]](i),
            spec0.fieldType(schema, pf))
        }
        new GenericInternalRow(values.toArray)
      }
      GroupPlan(group, format, writeSchema.struct, required,
        if (identity) None else Some(exprs), safeFilters, key, synthPos)
    }

    val columnar = wantColumnar && plans.forall(p =>
      p.project.isEmpty && (p.format == "parquet" || p.format == "orc"))

    // one payload per class: delete files + their readers + probe ordinals
    // in extended-output space (shared across this class's partitions)
    val deleteApply: GraftDeleteApply = if (deletes.isEmpty) null else {
      def whole(f: DataFileMeta) = FileSlice(f.path, 0L, f.fileSizeBytes, f.fileSizeBytes)
      val outTypes = (extNames.map(n => schema.fieldType(schema.fieldId(n))) ++
        (if (wantLineage) Seq(LongType, LongType) else Nil) ++
        (if (needRid) Seq(LongType) else Nil)).toArray[DataType]
      val posSchema = StructType(Seq(
        StructField(graft.table.MergeOnRead.PosPathCol, StringType),
        StructField(graft.table.MergeOnRead.PosPosCol, LongType)))
      // encrypted tables encrypt their parquet delete files too — the
      // probe readers carry the modular-decryption options
      val delOpts = graft.table.EncryptionManagers.contentOptionsFor(
        encryption, "parquet",
        m.property(TableProperties.EncryptionRequired, "false").toBoolean)
      val posReader = if (posDeletes.isEmpty) null
        else ReaderMemo.rows(spark, "parquet", posSchema, delOpts)
      val eqGroups = eqMetaGroups.map { case (ids, fs) =>
        val keySchema = StructType(ids.map(id =>
          StructField(schema.fieldName(id), schema.fieldType(id))))
        GraftEqDeletes(fs.map(whole).toArray,
          ReaderMemo.rows(spark, "parquet", keySchema, delOpts),
          ids.map(id => extNames.indexOf(schema.fieldName(id))).toArray,
          ids.map(id => schema.fieldType(id): DataType).toArray)
      }
      val dvSet = if (dvDeletes.isEmpty) null else GraftDvSet(
        dvDeletes.map(f => GraftDvBlob(f.referencedFile.getOrElse(""),
          f.path, f.contentOffset.getOrElse(0L), f.contentSize.getOrElse(0L),
          f.fileSizeBytes, f.keyMetadata)).toArray,
        new org.apache.spark.util.SerializableConfiguration(
          spark.sparkContext.hadoopConfiguration),
        encryption)
      GraftDeleteApply(posDeletes.map(whole).toArray, posReader, eqGroups.toArray,
        if (needRid) extNames.length + (if (wantLineage) 2 else 0) else -1,
        names.length, outTypes, dvSet)
    }

    // build readers; if any format declines batch output, fall back to rows
    val emitTypes: Array[DataType] = if (outCols == null) null
      else names.map(n => schema.fieldType(schema.fieldId(n))).toArray[DataType]
    val openCost = openCostOverride.getOrElse(
      m.property(TableProperties.SplitOpenFileCost,
        TableProperties.SplitOpenFileCostDefault.toString).toLong)
    val lookback = math.max(1, m.property(TableProperties.SplitLookback,
      TableProperties.SplitLookbackDefault.toString).toInt)
    // encrypted reads need the table's manager on the scan options — avro
    // through the graft FileFormat's streams (chunked AES-GCM is seekable,
    // so encrypted files split like plaintext: slice offsets are
    // disk-coordinate, the container syncs within the decrypted stream),
    // parquet through modular decryption (factory + manager on the conf)
    def build(vectorized: Boolean): Option[Planned] = {
      val partitions = plans.flatMap { p =>
        val (reader, batches) = ReaderMemo(spark, p.format, p.writeSchema,
          p.required, p.filters, vectorized,
          graft.table.EncryptionManagers.contentOptionsFor(encryption, p.format,
            m.property(TableProperties.EncryptionRequired, "false").toBoolean))
        if (vectorized && !batches) return None
        // synthesized positions need the whole file in one slice (a byte
        // range's first-row ordinal is unknown without reading the file);
        // encrypted avro under a STREAM-ONLY manager also stays whole-file —
        // each slice of a non-seekable scheme would decrypt and buffer the
        // entire container (the chunked default manager is seekable: splits)
        val nonSeekableEnc = p.format == "avro" &&
          encryption != graft.table.PlaintextEncryptionManager &&
          !encryption.supportsSeekableDecryption
        pack(p.files, splitTarget, openCost, lookback,
          wholeFiles = p.synthPos || nonSeekableEnc,
          seqs = if (wantLineage) seqs else null).map(slicePack =>
          GraftInputPartition(slicePack.toArray,
            reader, p.project, columnar = vectorized && batches, key = p.key,
            deletes = deleteApply, synthPos = p.synthPos,
            outCols = outCols, emitTypes = emitTypes,
            ridOrdinal = if (needRid && !p.synthPos)
              extNames.length + (if (wantLineage) 2 else 0) else -1,
            lineageOrdinal = if (wantLineage) extNames.length else -1,
            keepDeleted =
              outCols != null && outCols.contains(GraftBatchScan.OutDeleted)))
      }
      Some(Planned(partitions.toArray, columnar = vectorized))
    }
    (if (columnar) build(vectorized = true) else None)
      .orElse(build(vectorized = false)).get
  }

  /** Byte-range slices of one file: files over the split target fan out into
    * target-sized ranges (readers snap ranges to row-group/stripe/block
    * boundaries), so one huge file spreads across executors instead of
    * pinning a single task (ref `BaseTableScan.planFiles` splitting). The
    * last slice absorbs a sub-10% tail rather than spawning a sliver task. */
  private def slices(f: DataFileMeta, splitTarget: Long,
      seqs: Map[String, Long]): Seq[FileSlice] = {
    def mk(start: Long, len: Long) = FileSlice(f.path, start, len,
      f.fileSizeBytes,
      firstRowId = if (seqs == null) -1L else f.firstRowId.getOrElse(-1L),
      seq = if (seqs == null) -1L else seqs.getOrElse(f.path, -1L))
    if (f.fileSizeBytes <= splitTarget + splitTarget / 10)
      Seq(mk(0L, f.fileSizeBytes))
    else {
      // ceil-divide then equal-size ranges: a 1.9×target file becomes two
      // ~0.95×target slices, never one straggler ~2×target slice
      val n = ((f.fileSizeBytes + splitTarget - 1) / splitTarget).toInt
      val each = f.fileSizeBytes / n
      (0 until n).map { i =>
        val start = i.toLong * each
        val len = if (i == n - 1) f.fileSizeBytes - start else each
        // parquet's row-index column is FILE-absolute, so byte-range
        // slices inherit the same first-row-id base
        mk(start, len)
      }
    }
  }

  /** Size-packed splits with lookback bin-packing (ref
    * `TableScanUtil.planTasks` + `util/BinPacking.java`): each slice weighs
    * at least `openCost` (`read.split.open-file-cost`) so a task never
    * collects thousands of tiny files as "one split's worth" — per-file
    * reader setup, not bytes, dominates such tasks. Up to `lookback` bins
    * stay open so mixed sizes pack tightly; when none fits, the oldest bin
    * closes. `wholeFiles` keeps each file a single slice (synthesized
    * positions). */
  private def pack(group: Seq[DataFileMeta], splitTarget: Long,
      openCost: Long, lookback: Int,
      wholeFiles: Boolean = false,
      seqs: Map[String, Long] = null): Seq[Seq[FileSlice]] = {
    val sliced =
      if (wholeFiles)
        group.map(f => FileSlice(f.path, 0L, f.fileSizeBytes, f.fileSizeBytes,
          firstRowId = if (seqs == null) -1L else f.firstRowId.getOrElse(-1L),
          seq = if (seqs == null) -1L else seqs.getOrElse(f.path, -1L)))
      else group.flatMap(slices(_, splitTarget, seqs))
    val open = scala.collection.mutable.ArrayBuffer
      .empty[(scala.collection.mutable.ArrayBuffer[FileSlice], Long)]
    val closed = scala.collection.mutable.ArrayBuffer.empty[Seq[FileSlice]]
    sliced.foreach { s =>
      val w = math.max(s.length, openCost)
      val i = open.indexWhere { case (_, acc) => acc + w <= splitTarget }
      if (i >= 0) {
        val (bin, acc) = open(i)
        bin += s
        open(i) = (bin, acc + w)
      } else {
        if (open.size >= lookback) closed += open.remove(0)._1.toSeq
        open += ((scala.collection.mutable.ArrayBuffer(s), w))
      }
    }
    (closed ++ open.map(_._1.toSeq)).filter(_.nonEmpty).toSeq
  }
}

/** Native DSv2 batch scan (ref `spark3/.../source/SparkBatchQueryScan.java`):
  * metadata pruning on the driver, Spark `FileFormat` readers (vectorized
  * where possible) on executors. Merge-on-read delete files are applied
  * INSIDE the readers (position deletes via the parquet row-index column,
  * equality deletes via executor-local key sets — ref
  * `data/.../DeleteFilter.java`), so tables with live deletes keep the
  * columnar path. Every table read goes through this scan, built by
  * [[GraftScanBuilder]]: SQL and DataFrame reads plan the snapshot's files;
  * Scala-API and internal reads (`Reads.readTasksWithDeletes`) bring an
  * explicit task list ([[ExplicitRead]]).
  *
  *  - `SupportsRuntimeV2Filtering`: join-driven runtime predicates (dynamic
  *    partition pruning) re-run the pruning cascade and drop whole files
  *    before any executor reads them (ref `SparkBatchQueryScan.filter`).
  *  - `SupportsReportPartitioning`: identity-partitioned tables report
  *    `KeyGroupedPartitioning`, enabling storage-partitioned joins with no
  *    shuffle on either side when `spark.sql.sources.v2.bucketing.enabled`.
  *  - `SupportsReportStatistics`: post-pruning sizes feed broadcast/AQE
  *    decisions.
  */
object GraftBatchScan {
  /** [[GraftInputPartition.outCols]] codes for metadata columns. */
  val OutFile: Int = -1
  val OutPos: Int = -2
  val OutDeleted: Int = -3
  val OutRowId: Int = -4
  val OutLastUpdated: Int = -5
}

final class GraftBatchScan(val table: IceTable,
    /** The builder's scan: its pinned metadata answers every metadata
      * question of this scan, and it plans the tasks (snapshot selection
      * already applied; filter, range and sampling applied here). */
    scan: graft.table.TableScan,
    filter: GExpr,
    projection: StructType, pushedV1: Seq[Filter],
    splitSize: Option[Long], streamSkipDeletes: Boolean,
    maxFilesPerTrigger: Option[Int] = None,
    deletes: Seq[(DataFileMeta, Long)] = Nil,
    pushedLimit: Option[Int] = None,
    appendsRange: Option[(Long, Long)] = None,
    outCols: Array[Int] = null,
    appendsEndExplicit: Boolean = false,
    sample: Option[(Double, Long)] = None,
    /** Internal (rewrite reads): scan exactly these tasks instead of
      * planning from the snapshot — compaction/merge rewrites read a
      * SPECIFIC file set (bin-pack selection, probe-matched files) through
      * the native readers so row lineage comes out of the scan as per-slice
      * constants instead of a post-scan lookup on every row. */
    explicitTasks: Option[Seq[FileScanTask]] = None,
    /** Internal: open-cost weight for task packing (see
      * [[GraftReadPlanner.plan]]). */
    openCostOverride: Option[Long] = None)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeV2Filtering with SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {

  private var runtimeExpr: GExpr = TrueExpr
  private var runtimeV1: Seq[Filter] = Nil
  @transient private var cachedTasks: Seq[FileScanTask] = _
  @transient private var cachedPlan: GraftReadPlanner.Planned = _

  appendsRange.foreach { case (from, to) => scan.appendsBetween(from, to) }
  sample.foreach { case (f, sd) => scan.sampleFiles(f, sd) }
  if (filter != TrueExpr) scan.filter(filter)

  /** The scan's pinned metadata. */
  private def meta: TableMetadata = scan.meta

  /** LIMIT n file cap: every planned row is visible (builder pushes a limit
    * only with no filter and no deletes), so the shortest file prefix whose
    * record counts reach n satisfies the query — a LIMIT 10 over a
    * million-file table plans ONE file. Guarded off under runtime filters
    * (they hide rows after planning; limits don't push through joins, so
    * the combination is theoretical — the guard keeps it correct anyway). */
  private def capByLimit(ts: Seq[FileScanTask]): Seq[FileScanTask] =
    pushedLimit match {
      case Some(n) if runtimeExpr == TrueExpr =>
        var acc = 0L
        val b = Seq.newBuilder[FileScanTask]
        val it = ts.iterator
        while (acc < n && it.hasNext) {
          val t = it.next(); b += t; acc += t.file.recordCount
        }
        b.result()
      case _ => ts
    }

  private def tasks: Seq[FileScanTask] = synchronized {
    if (cachedTasks == null) cachedTasks =
      explicitTasks.getOrElse(capByLimit(scan.planFiles()))
    cachedTasks
  }

  override def readSchema(): StructType =
    if (outCols == null) projection
    else {
      var dataOrd = 0
      StructType(outCols.map {
        case GraftBatchScan.OutFile =>
          StructField(GraftSparkTable.FileCol, StringType, nullable = false)
        case GraftBatchScan.OutPos =>
          StructField(GraftSparkTable.PosCol, LongType, nullable = false)
        case GraftBatchScan.OutDeleted =>
          StructField(GraftSparkTable.DeletedCol,
            org.apache.spark.sql.types.BooleanType, nullable = false)
        case GraftBatchScan.OutRowId =>
          StructField(GraftSparkTable.RowIdCol, LongType, nullable = true)
        case GraftBatchScan.OutLastUpdated =>
          StructField(GraftSparkTable.LastUpdatedCol, LongType, nullable = true)
        case _ => val f = projection.fields(dataOrd); dataOrd += 1; f
      })
    }

  override def toBatch: Batch = this

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    if (outCols != null) throw new UnsupportedOperationException(
      "_file/_pos/_deleted metadata columns are not supported in streaming reads")
    if (appendsEndExplicit) throw new UnsupportedOperationException(
      "end-snapshot-id is a batch-only option: a stream has no end bound " +
        "(use Trigger.AvailableNow to drain and stop)")
    // start-snapshot-id in streaming = begin incrementally after that
    // snapshot instead of catching up the whole current snapshot
    new graft.streaming.GraftMicroBatchStream(table, projection, filter,
      streamSkipDeletes, maxFilesPerTrigger,
      startSnapshotId = appendsRange.map(_._1))
  }

  /** Column stats from the snapshot-pinned stats file (if ANALYZE ran for
    * exactly this snapshot) for the projected columns, keyed the way
    * `DataSourceV2Relation.transformV2Stats` matches attributes. NDV /
    * null counts are table-level (not scaled by pruning) — same contract
    * as per-attribute catalog stats, and what join-order estimation wants. */
  private lazy val reportedColumnStats
      : java.util.Map[NamedReference, org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
    val out = new java.util.HashMap[NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
    for {
      snap <- scan.snapshot.map(_.snapshotId)
      if appendsRange.isEmpty // range reads see a subset of the profile
      stats <- graft.table.TableStats.forSnapshot(table.io, meta, snap)
    } {
      val schema = meta.schema
      val idToName = schema.idToName
      val projected = projection.fieldNames.toSet
      // bounds ride as Catalyst-INTERNAL values (ColumnStat's contract):
      // stored widened to Long/Double, narrowed here to the field's type
      def internalBound(v: Any, dt: DataType): Option[AnyRef] = (v, dt) match {
        case (l: Long, org.apache.spark.sql.types.ByteType) => Some(Byte.box(l.toByte))
        case (l: Long, org.apache.spark.sql.types.ShortType) => Some(Short.box(l.toShort))
        case (l: Long, org.apache.spark.sql.types.IntegerType |
                       org.apache.spark.sql.types.DateType) => Some(Int.box(l.toInt))
        case (l: Long, org.apache.spark.sql.types.LongType |
                       org.apache.spark.sql.types.TimestampType |
                       org.apache.spark.sql.types.TimestampNTZType) => Some(Long.box(l))
        case (d: Double, org.apache.spark.sql.types.FloatType) => Some(Float.box(d.toFloat))
        case (d: Double, org.apache.spark.sql.types.DoubleType) => Some(Double.box(d))
        case _ => None // decimals et al: widened form is not the internal type
      }
      stats.foreach { s =>
        idToName.get(s.fieldId).filter(projected.contains).foreach { name =>
          val dt = schema.fieldType(s.fieldId)
          def opt(b: Option[Any]): java.util.Optional[Object] =
            b.flatMap(internalBound(_, dt)) match {
              case Some(v) => java.util.Optional.of(v.asInstanceOf[Object])
              case None => java.util.Optional.empty()
            }
          val minV = opt(s.min)
          val maxV = opt(s.max)
          out.put(Expressions.column(name),
            new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
              override def distinctCount(): java.util.OptionalLong =
                java.util.OptionalLong.of(s.distinctCount)
              override def nullCount(): java.util.OptionalLong =
                java.util.OptionalLong.of(s.nullCount)
              override def min(): java.util.Optional[Object] = minV
              override def max(): java.util.Optional[Object] = maxV
              override def avgLen(): java.util.OptionalLong =
                s.avgLen.map(java.util.OptionalLong.of)
                  .getOrElse(java.util.OptionalLong.empty)
              override def maxLen(): java.util.OptionalLong =
                s.maxLen.map(java.util.OptionalLong.of)
                  .getOrElse(java.util.OptionalLong.empty)
            })
        }
      }
    }
    out
  }

  override def estimateStatistics(): Statistics = {
    val t = tasks
    val bytes = t.map(_.file.fileSizeBytes).sum
    val rows = t.map(_.file.recordCount).sum
    val cols = reportedColumnStats
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(rows)
      override def columnStats(): java.util.Map[NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = cols
    }
  }

  /** Current spec of identity/bucket fields covering every planned file →
    * key-grouped. Identity keys group on the source value; bucket keys
    * group on the bucket ordinal — Spark resolves `bucket(n, col)` through
    * the catalog's FunctionCatalog ([[GraftFunctionCatalog]] ships the
    * byte-exact murmur3 function), so two tables bucketed the same way
    * join with NO exchange on either side (storage-partitioned join,
    * `spark.sql.sources.v2.bucketing.enabled`). Disabled under
    * merge-on-read deletes: applicability classes can split one partition
    * tuple across input partitions, which would break the HasPartitionKey
    * contract (all rows of a key in one partition). */
  private def keyedSpec: Option[PartitionSpec] = {
    import graft.meta.transforms._
    val spjAble: Transform => Boolean = {
      case IdentityTransform => true
      case BucketTransform(_) => true
      // time-ordinal and truncate specs group on the STORED transform
      // result; [[GraftFunctionCatalog]] ships byte-exact years/months/
      // days/hours/truncate functions, so Spark resolves the transform
      // and co-partitioned time-series tables join with no exchange —
      // the day-partitioned fact⋈fact shape at 100 TB
      case TruncateTransform(_) => true
      case YearTransform | MonthTransform | DayTransform | HourTransform => true
      case _ => false
    }
    val s = meta.spec
    if (deletes.isEmpty && s.isPartitioned && s.fields.forall(f => spjAble(f.transform)) &&
      tasks.nonEmpty && tasks.forall(_.file.specId == s.specId)) Some(s)
    else None
  }

  override def outputPartitioning(): Partitioning = keyedSpec match {
    case Some(spec) =>
      import graft.meta.transforms._
      val schema = meta.schema
      val keys = spec.fields.map { f =>
        val name = schema.idToName(f.sourceId)
        f.transform match {
          case BucketTransform(n) => Expressions.bucket(n, name)
          // width-baked single-arg form: Spark's key-grouped machinery
          // rejects transform expressions with a literal child (see
          // GraftFunctions.TruncFixedRe)
          case TruncateTransform(w) =>
            Expressions.apply(s"truncate_$w", Expressions.column(name))
          case YearTransform => Expressions.years(name)
          case MonthTransform => Expressions.months(name)
          case DayTransform => Expressions.days(name)
          case HourTransform => Expressions.hours(name)
          case _ => Expressions.identity(name)
        }
      }
      new KeyGroupedPartitioning(keys.toArray,
        tasks.map(_.file.partition).distinct.size)
    case None => new UnknownPartitioning(0)
  }

  /** Per-partition sort order (`SupportsReportOrdering`): reported only
    * when every planned input partition is ONE whole-file slice whose
    * file was written under the table's CURRENT sort order, the sort
    * fields are identity transforms, and they survive the projection —
    * each such file is sorted by the write layout (`Writes.sorted`
    * sorts within partitions; target-size rolling splits preserve row
    * order), so the partition streams out in order and Spark elides the
    * local Sort under sort-merge joins and ORDER BY. With the bucket
    * key-grouped partitioning this is the full prize: SMJ over two
    * co-bucketed sorted tables plans NO exchange AND NO sort — at 100 TB
    * the sort was the remaining cost after SPJ removed the shuffle.
    * Degradation is safe by construction: Spark itself drops a reported
    * ordering whenever it GROUPS several same-key input partitions (a
    * concatenation of sorted files is unsorted), and this method returns
    * empty for packed multi-file partitions, byte-range slices, deletes,
    * metadata columns, or files predating the current sort order. */
  override def outputOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.{Expressions => VE,
      NullOrdering, SortDirection}
    val m = meta
    val order = m.sortOrder
    if (order.fields.isEmpty || deletes.nonEmpty || outCols != null ||
        appendsRange.nonEmpty) return Array.empty
    val schema = m.schema
    val names = order.fields.map(f => schema.idToName.get(f.sourceId))
    val eligible = order.fields.forall(_.transform == "identity") &&
      names.forall(_.exists(projection.fieldNames.contains)) &&
      tasks.forall(_.file.sortOrderId == m.defaultSortOrderId)
    if (!eligible) return Array.empty
    val wholeSingleFiles = planInputPartitions().forall {
      case p: GraftInputPartition => p.files.length == 1 &&
        p.files(0).start == 0L && p.files(0).length == p.files(0).fileSize
      case _ => false
    }
    if (!wholeSingleFiles) return Array.empty
    order.fields.zip(names).map { case (f, name) =>
      VE.sort(VE.column(name.get),
        if (f.ascending) SortDirection.ASCENDING else SortDirection.DESCENDING,
        if (f.nullsFirst) NullOrdering.NULLS_FIRST else NullOrdering.NULLS_LAST)
    }.toArray
  }

  override def planInputPartitions(): Array[InputPartition] = synchronized {
    if (cachedPlan == null) {
      val m = meta
      val split = splitSize
        .orElse(m.properties.get(TableProperties.SplitSize).map(_.toLong))
        .getOrElse(TableProperties.SplitSizeDefault)
      // merge-on-read: plan per delete-applicability class (two files share a
      // class iff the same delete set applies — `Reads.groupTasksByDeletes`);
      // each class's partitions carry that class's delete payload
      val classes =
        if (deletes.isEmpty) Seq((Seq.empty[DataFileMeta], tasks))
        else Reads.groupTasksByDeletes(tasks, deletes)
      val wantLineage = outCols != null &&
        (outCols.contains(GraftBatchScan.OutRowId) ||
          outCols.contains(GraftBatchScan.OutLastUpdated))
      val planned = classes.map { case (applicable, group) =>
        GraftReadPlanner.plan(table.spark, m, group.map(_.file),
          projection.fieldNames.toSeq, pushedV1 ++ runtimeV1, split,
          wantColumnar = true, wantKeys = keyedSpec.nonEmpty,
          deletes = applicable, outCols = outCols,
          encryption = table.io.encryption,
          seqs = if (!wantLineage) Map.empty
            else group.map(t => t.file.path -> t.seq).toMap,
          openCostOverride = openCostOverride)
      }
      cachedPlan = GraftReadPlanner.Planned(
        planned.flatMap(_.partitions).toArray,
        columnar = planned.forall(_.columnar))
    }
    cachedPlan.partitions.toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory = GraftReaderFactory

  /** Runtime-filterable columns: partition source columns across specs —
    * a runtime IN on them prunes via partition projection AND file metrics
    * (ref `SparkBatchQueryScan.filterAttributes`). None for an explicit
    * task list: runtime filters cannot prune it. */
  override def filterAttributes(): Array[NamedReference] = {
    if (explicitTasks.nonEmpty) return Array.empty
    val m = meta
    val schema = m.schema
    m.specs.flatMap(_.fields).map(_.sourceId).distinct
      .flatMap(schema.idToName.get).map(Expressions.column).toArray
  }

  override def filter(predicates: Array[V2Predicate]): Unit = {
    val v1 = ColumnBridge.predicatesToV1(predicates)
    val conv = v1.flatMap(f => SparkFilterConv.fromV1(f).map(f -> _))
    if (conv.nonEmpty) synchronized {
      runtimeV1 = runtimeV1 ++ conv.map(_._1)
      val added = conv.map(_._2).reduce(GAnd(_, _))
      runtimeExpr = GAnd(runtimeExpr, added)
      // re-plans from the same pinned metadata
      scan.filter(added)
      cachedTasks = null
      cachedPlan = null
    }
  }

  override def description(): String =
    s"GraftBatchScan(table=${table.location}, filter=$filter, " +
      s"runtime=$runtimeExpr, deletes=${deletes.size})" +
      (if (pushedV1.isEmpty) "" else pushedV1.mkString(" PushedFilters: [", ", ", "]"))
}
