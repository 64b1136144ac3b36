package graft.table

import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.meta.model.{ColumnStatMeta, JsonCodecs, StatsFileMeta, TableMetadata}

/** Table-level column statistics for the cost-based optimizer.
  *
  * The reference era carried only per-file metrics (value/null counts, bounds
  * — `api/.../DataFile.java:42-64`); table-level NDV sketches arrived later in
  * the published table-format spec as a `statistics` list of sketch files
  * consumed by engines for join estimation. This is the Spark-first
  * re-expression of that idea:
  *
  *  - `compute` runs ONE distributed aggregation over the current snapshot —
  *    `approx_count_distinct` (HLL++, partial-aggregated map-side, so a
  *    100 TB table costs one scan + a tiny final reduce) plus exact null
  *    counts and string length profiles — and persists the result as a JSON
  *    stats file under `metadata/`, committed into [[graft.meta.model
  *    .TableMetadata.statsFiles]] via the normal CAS retry loop.
  *  - The DSv2 scan ([[graft.spark.GraftBatchScan]]) reports these through
  *    `SupportsReportStatistics.columnStats`, which Spark's
  *    `DataSourceV2Relation.transformV2Stats` folds into per-attribute
  *    catalyst stats — feeding join reordering and selectivity estimation
  *    when `spark.sql.cbo.enabled` is set.
  *
  * Stats are snapshot-pinned: a stats file is reported only for scans of
  * exactly the snapshot it profiled (any write invalidates it). Recomputing
  * for a new snapshot replaces nothing — old entries keep serving
  * time-travel reads until their snapshot expires, at which point
  * [[Maintenance]] drops the entry and deletes the file.
  */
object TableStats {

  /** Types we profile. Nested/array/map columns are skipped — Spark's CBO
    * has no per-attribute representation for them. */
  private def eligible(dt: DataType): Boolean = dt match {
    case _: NumericType | StringType | BooleanType | DateType |
         TimestampType | TimestampNTZType | BinaryType => true
    case _ => false
  }

  private def lengthProfiled(dt: DataType): Boolean = dt match {
    case StringType | BinaryType => true
    case _ => false
  }

  /** Columns whose exact bounds feed CBO range selectivity. Bounds are
    * stored in Catalyst-internal numeric form (dates as epoch days,
    * timestamps as micros), so the scan can hand them to Spark verbatim. */
  private def boundsProfiled(dt: DataType): Boolean = dt match {
    case _: NumericType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  private def toInternalBound(v: Any): Option[Any] = v match {
    case null => None
    case b: Byte => Some(b.toLong)
    case sh: Short => Some(sh.toLong)
    case i: Int => Some(i.toLong)
    case l: Long => Some(l)
    case f: Float => Some(f.toDouble)
    case d: Double => Some(d)
    case d: java.math.BigDecimal => Some(d.doubleValue())
    case d: java.sql.Date => Some(d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate => Some(d.toEpochDay)
    case t: java.sql.Timestamp =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t))
    case t: java.time.Instant =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(t))
    case t: java.time.LocalDateTime =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.localDateTimeToMicros(t))
    case _ => None
  }

  /** Compute and commit stats for the CURRENT snapshot. `columns` narrows the
    * profiled set (empty = every eligible top-level column). Returns the
    * committed pointer. One Spark job; driver holds only the final row. */
  def compute(table: IceTable, columns: Seq[String] = Nil): StatsFileMeta = {
    val meta = table.meta
    val snap = meta.currentSnapshot.getOrElse(
      throw new IllegalStateException("Cannot compute stats: table has no snapshot"))
    val schema = meta.schema
    val names0 = if (columns.isEmpty) schema.columnNames else columns
    val targets = names0.filter { n =>
      schema.contains(n) && eligible(schema.fieldType(schema.fieldId(n)))
    }
    require(targets.nonEmpty, "No eligible columns to profile")

    val df = table.newScan().useSnapshot(snap.snapshotId).toDF
    val aggs = targets.flatMap { c =>
      val base = Seq(
        approx_count_distinct(col(c)).as(s"__ndv__$c"),
        count(col(c)).as(s"__cnt__$c"))
      val dt = schema.fieldType(schema.fieldId(c))
      val withLen =
        if (lengthProfiled(dt))
          base ++ Seq(
            avg(length(col(c))).as(s"__avglen__$c"),
            max(length(col(c))).as(s"__maxlen__$c"))
        else base
      if (boundsProfiled(dt))
        withLen ++ Seq(min(col(c)).as(s"__min__$c"), max(col(c)).as(s"__max__$c"))
      else withLen
    } :+ count(lit(1)).as("__total__")
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)

    def long(name: String): Long =
      if (row.isNullAt(row.fieldIndex(name))) 0L
      else row.getAs[Any](name) match {
        case l: Long => l
        case i: Int => i.toLong
        case d: Double => math.round(d)
        case n: Number => n.longValue()
      }
    val total = long("__total__")
    def bound(name: String): Option[Any] =
      if (row.isNullAt(row.fieldIndex(name))) None
      else toInternalBound(row.getAs[Any](name))
    val stats = targets.map { c =>
      val dt = schema.fieldType(schema.fieldId(c))
      val hasLen = lengthProfiled(dt)
      val hasBounds = boundsProfiled(dt)
      ColumnStatMeta(
        fieldId = schema.fieldId(c),
        distinctCount = long(s"__ndv__$c"),
        nullCount = total - long(s"__cnt__$c"),
        avgLen = if (hasLen) Some(long(s"__avglen__$c")) else None,
        maxLen = if (hasLen) Some(long(s"__maxlen__$c")) else None,
        min = if (hasBounds) bound(s"__min__$c") else None,
        max = if (hasBounds) bound(s"__max__$c") else None)
    }

    val path = s"${meta.location}/metadata/stats-${snap.snapshotId}-${UUID.randomUUID}.json"
    val size = table.io.writeString(path, statsToJson(snap.snapshotId, total, stats))
    val ref = StatsFileMeta(snap.snapshotId, path, size)
    table.ops.commitWithRetry(4) { base =>
      base.copy(
        statsFiles = base.statsFiles.filterNot(_.snapshotId == snap.snapshotId) :+ ref,
        lastUpdatedMillis = System.currentTimeMillis())
    }
    ref
  }

  /** Stats for reads of exactly `snapshotId`, or None. Metadata-sized IO. */
  def forSnapshot(table: IceTable, snapshotId: Long): Option[Seq[ColumnStatMeta]] =
    forSnapshot(table.io, table.meta, snapshotId)

  def forSnapshot(io: FileIO, m: TableMetadata, snapshotId: Long): Option[Seq[ColumnStatMeta]] =
    m.statsFiles.find(_.snapshotId == snapshotId).map(f => read(io, f.path)._2)

  // ------------------------------------------------------------------- codec

  private[table] def statsToJson(snapshotId: Long, rowCount: Long,
      stats: Seq[ColumnStatMeta]): String = {
    val node = JsonCodecs.mapper.createObjectNode()
    node.put("snapshot-id", snapshotId)
    node.put("row-count", rowCount)
    val arr = node.putArray("column-stats")
    stats.foreach { s =>
      val o = arr.addObject()
      o.put("field-id", s.fieldId)
      o.put("distinct-count", s.distinctCount)
      o.put("null-count", s.nullCount)
      s.avgLen.foreach(o.put("avg-len", _))
      s.maxLen.foreach(o.put("max-len", _))
      def putBound(key: String, v: Any): Unit = v match {
        case l: Long => o.put(key, l)
        case d: Double => o.put(key, d)
        case _ => ()
      }
      s.min.foreach(putBound("min", _))
      s.max.foreach(putBound("max", _))
    }
    JsonCodecs.mapper.writerWithDefaultPrettyPrinter().writeValueAsString(node)
  }

  /** (rowCount, stats) from a stats file. */
  def read(io: FileIO, path: String): (Long, Seq[ColumnStatMeta]) = {
    val n = JsonCodecs.mapper.readTree(io.readString(path))
    val stats = n.get("column-stats").elements.asScala.map { o =>
      ColumnStatMeta(
        fieldId = o.get("field-id").asInt,
        distinctCount = o.get("distinct-count").asLong,
        nullCount = o.get("null-count").asLong,
        avgLen = Option(o.get("avg-len")).map(_.asLong),
        maxLen = Option(o.get("max-len")).map(_.asLong),
        min = Option(o.get("min")).map(n =>
          if (n.isIntegralNumber) n.asLong else n.asDouble),
        max = Option(o.get("max")).map(n =>
          if (n.isIntegralNumber) n.asLong else n.asDouble))
    }.toSeq
    (n.get("row-count").asLong, stats)
  }
}
