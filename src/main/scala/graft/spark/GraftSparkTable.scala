package graft.spark

import java.util

import scala.jdk.CollectionConverters._

import graft.meta.expr.{And => GAnd, Expr => GExpr, SparkConv, TrueExpr}
import graft.meta.model.DataFileMeta
import graft.table.{FileScanTask, IceTable, SparkFilterConv, TableScan}

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsDelete, SupportsRead, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsDynamicOverwrite, SupportsOverwrite, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.{BaseRelation, Filter, InsertableRelation, TableScan => V1TableScan}
import org.apache.spark.sql.types.StructType

/** DSv2 table facade over [[IceTable]] (ref `spark3/.../SparkTable.java`).
  * Reads push filters + column pruning into the metadata cascade
  * (manifest summaries → partition values → file metrics → residual), then
  * execute as a [[GraftBatchScan]] over Spark's own file-format readers —
  * vectorization and codegen apply, and merge-on-read deletes are filtered
  * inside the readers (the same division as the reference, where
  * `SparkBatchScan.planInputPartitions` wraps core's file planning).
  */
class GraftSparkTable(val table: IceTable, fullName: String,
    snapshotId: Option[Long] = None, asOfMillis: Option[Long] = None,
    explicit: Option[ExplicitRead] = None)
    extends Table with SupportsRead with SupportsWrite with SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  override def name(): String = fullName

  /** The metadata an explicit read's tasks came from, else the current. */
  private def meta: graft.meta.model.TableMetadata =
    explicit.map(_.meta).getOrElse(table.meta)

  /** Row-lineage metadata columns (ref `core/.../MetadataColumns.java:35-39`
    * `_file`/`_pos`): the data file a row came from (the manifest path) and
    * its ordinal within that file — the coordinates position deletes use.
    * Hidden from `SELECT *`; a data column with the same name shadows the
    * metadata column. */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] = {
    val dataNames = meta.schema.struct.fieldNames.toSet
    GraftSparkTable.MetaCols.filterNot(c => dataNames.contains(c.name()))
  }

  /** Native SQL DELETE path (ref `SparkTable.java` canDeleteWhere/deleteWhere):
    * Spark plans `DeleteFromTableExec` when every filter converts exactly;
    * non-convertible conditions are intercepted earlier by
    * [[RewriteGraftDml]] and run as a CoW rewrite instead. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(f => SparkFilterConv.fromV1Strict(f).nonEmpty)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val expr = filters.flatMap(SparkFilterConv.fromV1Strict)
      .foldLeft(TrueExpr: GExpr)(GAnd(_, _))
    table.delete(expr)
  }

  override def schema(): StructType = meta.schema.struct

  override def partitioning(): Array[Transform] = {
    val m = meta
    GraftCatalog.toTransforms(m.schema, m.spec)
  }

  override def properties(): util.Map[String, String] =
    meta.properties.asJava

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC,
      TableCapability.TRUNCATE)

  /** Read options (ref `SparkReadOptions.java`): `snapshot-id`,
    * `as-of-timestamp` (time travel via `spark.read.option`), `branch` /
    * `tag` (named-ref reads), `split-size` (per-read task sizing),
    * `streaming-skip-delete-snapshots` (stream CDC convention). SQL
    * `VERSION/TIMESTAMP AS OF` arrives through the constructor instead; an
    * explicit option wins. */
  override def newScanBuilder(options: org.apache.spark.sql.util.CaseInsensitiveStringMap): ScanBuilder = {
    lazy val m = meta
    val refSnap = Option(options.get("branch")).orElse(Option(options.get("tag")))
      .map { name =>
        if (name == graft.meta.model.SnapshotRefMeta.MainBranch)
          m.currentSnapshotId.getOrElse(throw new graft.table.ValidationException(
            "Table has no current snapshot"))
        else m.refs.getOrElse(name,
          throw new graft.table.ValidationException(s"Unknown ref: $name")).snapshotId
      }
    val snap = Option(options.get("snapshot-id")).map(_.toLong)
      .orElse(refSnap).orElse(snapshotId)
    val asOf = Option(options.get("as-of-timestamp")).map(_.toLong).orElse(asOfMillis)
    val split = Option(options.get("split-size")).map(_.toLong)
    val skipDeletes = Option(options.get("streaming-skip-delete-snapshots"))
      .forall(_.toBoolean)
    val maxFiles = Option(options.get("max-files-per-trigger")).map(_.toInt)
    // incremental batch read (ref SparkReadOptions start/end-snapshot-id):
    // plan only the files appended in (start, end]
    val appendsRange = Option(options.get("start-snapshot-id")).map(_.toLong).map { from =>
      val to = Option(options.get("end-snapshot-id")).map(_.toLong)
        .orElse(m.currentSnapshotId).getOrElse(
          throw new graft.table.ValidationException("Table has no snapshot"))
      (from, to)
    }
    if (appendsRange.isEmpty && options.containsKey("end-snapshot-id"))
      throw new graft.table.ValidationException(
        "end-snapshot-id requires start-snapshot-id (incremental reads are a range)")
    // FILE-level sampling (TableScan.sampleFiles): `sample-files` fraction
    // + optional `sample-seed` — approximate by design (see the scan API)
    val sample = Option(options.get("sample-files")).map(_.toDouble).map { f =>
      (f, Option(options.get("sample-seed")).map(_.toLong).getOrElse(0L))
    }
    new GraftScanBuilder(table, snap, asOf, split, skipDeletes, maxFiles,
      appendsRange, appendsEndExplicit = options.containsKey("end-snapshot-id"),
      sample = sample, explicit = explicit)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(table, GraftWriteBuilder.overrides(info),
      branch = Option(info.options.get("branch")),
      snapshotProps = GraftWriteBuilder.snapshotProps(info))
}

/** Read-only DSv2 facade over one metadata table (`db.t.snapshots` etc.;
  * ref `spark3/.../SparkCatalog.load` resolving `MetadataTableType`). The
  * DataFrame is recomputed per scan so each query sees current metadata. */
final class GraftMetadataTable(table: IceTable, metaName: String, fullName: String)
    extends Table with SupportsRead {

  override def name(): String = fullName

  override def schema(): StructType = table.metadataTable(metaName).schema

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: org.apache.spark.sql.util.CaseInsensitiveStringMap): ScanBuilder =
    () => new V1Scan {
      override def readSchema(): StructType = schema()
      override def toV1TableScan[T <: BaseRelation with V1TableScan](
          context: SQLContext): T = {
        new BaseRelation with V1TableScan {
          override def sqlContext: SQLContext = context
          override def schema: StructType = readSchema()
          override def needConversion: Boolean = false
          override def buildScan(): RDD[Row] =
            org.apache.spark.sql.graft.ColumnBridge
              .toInternalRdd(table.metadataTable(metaName)).asInstanceOf[RDD[Row]]
        }.asInstanceOf[T]
      }
      override def description(): String = s"GraftMetadataScan($fullName)"
    }
}

/** Filter + projection pushdown (ref `SparkScanBuilder.java:100`). Converted
  * filters drive metadata pruning; ALL filters are returned as post-scan
  * residuals so Spark re-applies them — pruning is an optimization, row-level
  * semantics stay with Spark.
  *
  * Aggregate pushdown (ref `SparkScanBuilder.pushAggregation`): unfiltered
  * COUNT/MIN/MAX are answered from manifest metrics alone — no data files are
  * opened. MIN/MAX only for types whose bounds are exact (strings are
  * truncated to 16 chars at write, float/double bounds are NaN-unreliable).
  * The partial row is re-aggregated by Spark (`supportCompletePushDown` =
  * false), so empty tables and null-only columns keep exact SQL semantics. */
object GraftSparkTable {
  import org.apache.spark.sql.connector.catalog.MetadataColumn
  import org.apache.spark.sql.types.{DataType, LongType, StringType}

  val FileCol = "_file"
  val PosCol = "_pos"
  val DeletedCol = "_deleted"
  /** Row lineage (the v3 direction): `_row_id` = a row's STABLE identity
    * (the file's commit-assigned first-row-id + position, or the
    * materialized id a preserving rewrite carried); `_last_updated_seq` =
    * the sequence number of the commit that last produced the row. Null
    * on files committed before lineage assignment existed. */
  val RowIdCol = "_row_id"
  val LastUpdatedCol = "_last_updated_seq"
  val MetaColNames: Set[String] =
    Set(FileCol, PosCol, DeletedCol, RowIdCol, LastUpdatedCol)

  private def metaCol(colName: String, dt: DataType,
      nullable: Boolean = false): MetadataColumn =
    new MetadataColumn {
      override def name(): String = colName
      override def dataType(): DataType = dt
      override def isNullable: Boolean = nullable
    }

  val MetaCols: Array[MetadataColumn] =
    Array(metaCol(FileCol, StringType), metaCol(PosCol, LongType),
      metaCol(DeletedCol, org.apache.spark.sql.types.BooleanType),
      metaCol(RowIdCol, LongType, nullable = true),
      metaCol(LastUpdatedCol, LongType, nullable = true))
}

/** A read of exactly `tasks` with exactly `deletes` applied, instead of a
  * snapshot's planned files (`Reads.readTasksWithDeletes`: the Scala scan
  * API and every internal read). Tasks pack to `splitSize`, weighing each
  * slice at least `openCost` when given (else the table property). `meta`
  * is the metadata the tasks were planned from: the read resolves its
  * schema, properties and field IDs against it, never re-reading the
  * table pointer. */
final case class ExplicitRead(tasks: Seq[FileScanTask],
    deletes: Seq[(DataFileMeta, Long)], splitSize: Long, openCost: Option[Long],
    meta: graft.meta.model.TableMetadata)

final class GraftScanBuilder(table: IceTable, snapshotId: Option[Long],
    asOfMillis: Option[Long], splitSize: Option[Long] = None,
    streamSkipDeletes: Boolean = true, maxFilesPerTrigger: Option[Int] = None,
    appendsRange: Option[(Long, Long)] = None,
    appendsEndExplicit: Boolean = false,
    sample: Option[(Double, Long)] = None,
    explicit: Option[ExplicitRead] = None)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates
    with SupportsPushDownLimit {

  /** The query's one scan: planned deletes here, then tasks in the batch
    * scan, all from the metadata it pins at its first planning call (an
    * explicit read's scan is pinned to its tasks' metadata and never
    * plans). */
  private val scan: TableScan = explicit match {
    case Some(e) => table.newScan(e.meta)
    case None =>
      var s = table.newScan()
      snapshotId.foreach(id => s = s.useSnapshot(id))
      asOfMillis.foreach(ts => s = s.asOfTime(ts))
      s
  }

  private var pushedExpr: GExpr = TrueExpr
  private var pushed: Array[Filter] = Array.empty
  private var requiredSchema: StructType = scan.meta.schema.struct
  // requested _file/_pos metadata columns, in their requested positions
  // relative to the data columns (Spark appends them after data columns;
  // the permutation keeps us correct either way)
  private var metaRequested: Seq[(String, Int)] = Nil
  private var aggResult: Option[(StructType, InternalRow)] = None
  private var pushedLimit: Option[Int] = None

  /** LIMIT pushdown as a FILE-PLANNING cap (partial push — Spark keeps its
    * own limit operator): with no pushed filter and no merge-on-read
    * deletes, every planned row is visible, so planning stops at the first
    * files whose record counts cover the limit. With filters or deletes the
    * counts over-estimate visible rows and a cap could under-deliver, so
    * the push is declined. */
  override def pushLimit(limit: Int): Boolean = {
    if (explicit.isEmpty && pushedExpr == TrueExpr && plannedDeletes.isEmpty) {
      pushedLimit = Some(limit); true
    } else false
  }
  override def isPartiallyPushed(): Boolean = true

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // predicates on _file/_pos/_deleted are row-lineage conditions the
    // metadata cascade cannot evaluate — leave them entirely post-scan
    val converted = filters
      .filterNot(_.references.exists(r =>
        GraftSparkTable.MetaColNames.contains(r.split('.').head)))
      .flatMap(f => SparkFilterConv.fromV1(f).map(f -> _))
    pushed = converted.map(_._1)
    pushedExpr = converted.map(_._2).foldLeft(TrueExpr: GExpr)(GAnd(_, _))
    filters // Spark evaluates every filter post-scan (safe double-filtering)
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // resolve against the table schema to keep field-ID metadata
    val byName = scan.meta.schema.struct.fields.map(f => f.name -> f).toMap
    val (meta, data) = requiredSchema.fields.zipWithIndex.partition {
      case (f, _) => !byName.contains(f.name) &&
        GraftSparkTable.MetaColNames.contains(f.name)
    }
    this.metaRequested = meta.toSeq.map { case (f, i) => (f.name, i) }
    this.requiredSchema = StructType(
      data.flatMap { case (f, _) => byName.get(f.name) })
  }

  /** Output layout for the scan: data-column ordinal (>= 0), or
    * [[GraftBatchScan.OutFile]] / [[GraftBatchScan.OutPos]] for metadata
    * columns, in the requested output order. Null when no metadata column
    * is requested (the common case keeps its exact legacy path). */
  private def outCols: Array[Int] =
    if (metaRequested.isEmpty) null
    else {
      val metaAt = metaRequested.toMap.map(_.swap) // position -> name
      val out = new Array[Int](requiredSchema.length + metaRequested.size)
      var dataOrd = 0
      var i = 0
      while (i < out.length) {
        out(i) = metaAt.get(i) match {
          case Some(GraftSparkTable.FileCol) => GraftBatchScan.OutFile
          case Some(GraftSparkTable.PosCol) => GraftBatchScan.OutPos
          case Some(GraftSparkTable.DeletedCol) => GraftBatchScan.OutDeleted
          case Some(GraftSparkTable.RowIdCol) => GraftBatchScan.OutRowId
          case Some(GraftSparkTable.LastUpdatedCol) =>
            GraftBatchScan.OutLastUpdated
          case Some(other) =>
            throw new IllegalStateException(s"unknown metadata column $other")
          case None => val d = dataOrd; dataOrd += 1; d
        }
        i += 1
      }
      out
    }

  // planned once per query: pushLimit, pushAggregation and build() all ask
  private lazy val plannedDeletes = scan.planDeletes()

  override def pushAggregation(aggregation: Aggregation): Boolean = {
    import org.apache.spark.sql.connector.expressions.aggregate.{Count, CountStar, Max, Min}
    import org.apache.spark.sql.types._
    val m = scan.meta
    if (!m.property("read.aggregate-pushdown.enabled", "true").toBoolean)
      return false
    // metadata aggregates answer over the WHOLE snapshot; an incremental
    // scan sees only a range's appends, a sampled scan only its files, an
    // explicit read only its tasks
    if (appendsRange.nonEmpty || sample.nonEmpty || explicit.nonEmpty) return false
    // only whole-table aggregates; Spark never offers an aggregation while
    // post-scan filters remain, and we always keep filters post-scan
    if (aggregation.groupByExpressions.nonEmpty || pushedExpr != TrueExpr)
      return false
    val schema = m.schema
    def fieldIdOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[Int] =
      e match {
        case nr: org.apache.spark.sql.connector.expressions.NamedReference
            if nr.fieldNames.length == 1 =>
          scala.util.Try(schema.fieldId(nr.fieldNames.head)).toOption
        case _ => None
      }
    def exactBounds(t: DataType): Boolean = t match {
      case BooleanType | ByteType | ShortType | IntegerType | LongType |
           DateType | TimestampType | TimestampNTZType | _: DecimalType => true
      case _ => false
    }
    // validate the aggregate shapes BEFORE any metadata planning: an
    // unsupported aggregate (SUM, AVG, distinct COUNT, ...) must not pay a
    // manifest walk just to bail out
    val supported = aggregation.aggregateExpressions.forall {
      case _: CountStar => true
      case c: Count if !c.isDistinct => fieldIdOf(c.column).isDefined
      case m: Min => fieldIdOf(m.column).exists(id => exactBounds(schema.fieldType(id)))
      case m: Max => fieldIdOf(m.column).exists(id => exactBounds(schema.fieldType(id)))
      case _ => false
    }
    if (!supported) return false
    if (plannedDeletes.nonEmpty) return false // MoR deletes hide rows
    val files = scan.planFiles().map(_.file)
    def allNull(f: graft.meta.model.DataFileMeta, id: Int): Boolean =
      f.nullCounts.get(id).contains(f.recordCount)
    def bound(id: Int, lower: Boolean): Option[(DataType, Any)] = {
      val t = schema.fieldType(id)
      val usable = exactBounds(t) && files.forall(f =>
        (if (lower) f.lowerBounds else f.upperBounds).contains(id) || allNull(f, id))
      if (!usable) None
      else {
        val bounds = files.flatMap(f =>
          (if (lower) f.lowerBounds else f.upperBounds).get(id))
        val v = bounds.reduceOption { (a, b) =>
          val c = graft.meta.expr.Literals.compare(t, a, b)
          if ((c < 0) == lower) a else b
        }.orNull
        Some((t, SparkConv.catalystValue(v, t)))
      }
    }
    val results: Seq[Option[(DataType, Any)]] = aggregation.aggregateExpressions.toSeq.map {
      case _: CountStar => Some((LongType, files.map(_.recordCount).sum))
      case c: Count if !c.isDistinct => fieldIdOf(c.column).flatMap { id =>
        if (files.forall(f => f.valueCounts.contains(id) && f.nullCounts.contains(id)))
          Some((LongType, files.map(f => f.valueCounts(id) - f.nullCounts(id)).sum))
        else None
      }
      case m: Min => fieldIdOf(m.column).flatMap(bound(_, lower = true))
      case m: Max => fieldIdOf(m.column).flatMap(bound(_, lower = false))
      case _ => None
    }
    if (results.exists(_.isEmpty)) return false
    val fields = results.zipWithIndex.map { case (Some((t, _)), i) =>
      org.apache.spark.sql.types.StructField(s"agg_$i", t)
    }
    aggResult = Some((StructType(fields),
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        results.map(_.get._2).toArray)))
    true
  }

  override def build(): Scan = aggResult match {
    case Some((aggSchema, row)) => new GraftLocalAggScan(table, aggSchema, row)
    case None =>
      // native batch scan (vectorized readers, runtime file pruning,
      // storage-partitioned joins); merge-on-read deletes apply inside its
      // readers. Incremental reads see appended files only: deletes don't
      // apply by contract. An explicit read scans its own tasks and deletes.
      new GraftBatchScan(table, scan, pushedExpr, requiredSchema, pushed.toSeq,
        explicit.map(_.splitSize).orElse(splitSize),
        streamSkipDeletes, maxFilesPerTrigger,
        deletes = explicit.map(_.deletes).getOrElse(
          if (appendsRange.nonEmpty) Nil else plannedDeletes),
        pushedLimit = pushedLimit, appendsRange = appendsRange,
        outCols = outCols, appendsEndExplicit = appendsEndExplicit,
        sample = sample, explicitTasks = explicit.map(_.tasks),
        openCostOverride = explicit.flatMap(_.openCost))
  }
}

/** Metadata-only aggregate result as a `LocalScan` — Spark plans it as a
  * local relation; zero Spark jobs, zero files opened. */
final class GraftLocalAggScan(table: IceTable, aggSchema: StructType,
    row: InternalRow) extends LocalScan {
  override def readSchema(): StructType = aggSchema
  override def rows(): Array[InternalRow] = Array(row)
  override def description(): String =
    s"GraftAggPushdown(table=${table.location})"
}

/** V1 write path (ref `SparkWriteBuilder`): append, truncate-overwrite,
  * overwrite-by-filter and dynamic partition overwrite all commit through the
  * snapshot protocol. */
object GraftWriteBuilder {
  /** Per-write option → table-property overrides (ref `SparkWriteOptions`):
    * `write-format`, `distribution-mode`, `fanout-enabled` on
    * `df.writeTo(...).option(...)`. */
  def overrides(info: LogicalWriteInfo): Map[String, String] = {
    val o = info.options
    Seq(
      "write-format" -> graft.meta.model.TableProperties.DefaultFileFormat,
      "distribution-mode" -> graft.meta.model.TableProperties.DistributionMode,
      "fanout-enabled" -> graft.meta.model.TableProperties.FanoutEnabled)
      .flatMap { case (opt, prop) => Option(o.get(opt)).map(prop -> _) }.toMap
  }

  /** `option("snapshot-property.X", v)` → custom entries in the commit's
    * snapshot summary (ref SparkWriteOptions SNAPSHOT_PROPERTY_PREFIX).
    * Append paths only — audit tags, pipeline run ids, etc. */
  def snapshotProps(info: LogicalWriteInfo): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    info.options.entrySet().asScala
      .filter(_.getKey.toLowerCase.startsWith("snapshot-property."))
      .map(e => e.getKey.substring("snapshot-property.".length) -> e.getValue)
      .toMap
  }
}

final class GraftWriteBuilder(table: IceTable,
    writeOverrides: Map[String, String] = Map.empty,
    branch: Option[String] = None,
    snapshotProps: Map[String, String] = Map.empty)
    extends WriteBuilder with SupportsTruncate with SupportsOverwrite
    with SupportsDynamicOverwrite {

  // None = append; Some(expr) = overwrite rows matching expr; Dynamic = by partition
  private var overwriteExpr: Option[GExpr] = None
  private var dynamic = false

  override def truncate(): WriteBuilder = { overwriteExpr = Some(TrueExpr); this }

  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    // strict: a partially-converted filter here would delete rows the original
    // filter does not match (see SparkFilterConv.fromV1Strict)
    val conv = filters.map(f => SparkFilterConv.fromV1Strict(f).getOrElse(
      throw new UnsupportedOperationException(
        s"Cannot overwrite by non-convertible filter: $f")))
    overwriteExpr = Some(conv.foldLeft(TrueExpr: GExpr)(GAnd(_, _)))
    this
  }

  override def overwriteDynamicPartitions(): WriteBuilder = { dynamic = true; this }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation = new InsertableRelation {
      override def insert(data: DataFrame, overwrite: Boolean): Unit = {
        branch match {
          case Some(b) =>
            // branch writes are append-only (the audit-branch pattern)
            if (dynamic || overwriteExpr.nonEmpty)
              throw new UnsupportedOperationException(
                "Only appends can target a branch (option(\"branch\", ...))")
            table.appendToBranch(b, data, snapshotProps)
          case None =>
            // write-audit-publish: with `spark.wap.id` set in the session
            // and the table opted in, INSERTs STAGE a snapshot (not made
            // current) for audit; publish via cherrypick_snapshot (ref
            // SparkWriteConf.wapId / `write.wap.enabled`)
            val wapId = data.sparkSession.conf.getOption("spark.wap.id")
              .filter(_ => table.meta.property("write.wap.enabled", "false").toBoolean)
            // overwrites cannot be staged yet: publishing them mid-audit
            // would defeat WAP, so refuse instead of silently publishing
            if (wapId.nonEmpty && (dynamic || overwriteExpr.nonEmpty))
              throw new UnsupportedOperationException(
                "spark.wap.id staging supports appends only; unset it for overwrites")
            if (dynamic) table.overwritePartitions(data)
            else overwriteExpr match {
              case Some(e) => table.overwrite(e, data)
              case None => wapId match {
                case Some(id) =>
                  table.stageAppend(data, id, snapshotProps, writeOverrides)
                case None => table.append(data, snapshotProps, writeOverrides)
              }
            }
        }
      }
    }
  }
}
