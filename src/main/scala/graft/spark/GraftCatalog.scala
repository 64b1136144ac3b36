package graft.spark

import java.util

import scala.jdk.CollectionConverters._

import graft.meta.{PartitionSpec, Schema}
import graft.table.{FileIO, IceTable}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, NoSuchViewException, TableAlreadyExistsException, ViewAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Column => VColumn, Identifier, NamespaceChange, StagedTable, StagingTableCatalog, SupportsNamespaces, Table, TableCatalog, TableChange, TableInfo, View, ViewCatalog, ViewChange, ViewInfo}
import org.apache.spark.sql.connector.expressions.{Expressions, Literal => VLiteral, NamedReference, Transform}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DSv2 `TableCatalog` over a warehouse directory, so plain `spark.sql`
  * reads/writes go through the full pruning cascade and the snapshot commit
  * protocol (ref `spark3/.../SparkCatalog.java:119` loadTable,
  * `SparkScanBuilder.java:100` pushFilters). Register with:
  *
  * {{{
  * spark.conf.set("spark.sql.catalog.graft", "graft.spark.GraftCatalog")
  * spark.conf.set("spark.sql.catalog.graft.warehouse", "/path/to/warehouse")
  * spark.sql("SELECT * FROM graft.db.t WHERE part = 5")   // pruned scan
  * }}}
  *
  * Time travel: `VERSION AS OF <snapshotId>` / `TIMESTAMP AS OF <ts>` map to
  * snapshot-id / as-of-time scans (ref `SparkCatalog.load` selector paths).
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces with StagingTableCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog
    with ViewCatalog {

  protected var catalogName: String = _
  protected var warehouse: String = _
  private var cacheEnabled: Boolean = true

  // table-handle cache (ref `core/.../CachingCatalog.java`, default-on like
  // the ref): repeated loadTable calls reuse one IceTable, whose versioned
  // pointer reads make staleness self-correcting — a cached handle re-stats
  // the pointer per access and only skips the metadata JSON re-parse, so no
  // expiration interval is needed. Disable with `cache-enabled=false`.
  private val iceCache = new java.util.concurrent.ConcurrentHashMap[String, IceTable]

  protected final def cachedIce(key: String)(load: => IceTable): IceTable =
    if (!cacheEnabled) load
    else iceCache.computeIfAbsent(key, _ => load)

  protected final def evictIce(key: String): Unit = iceCache.remove(key)

  protected def spark: SparkSession = SparkSession.active
  /** The catalog-wide encryption manager: every table this catalog creates
    * or loads keys its FileIO with it, which gives SQL users encrypted
    * tables (sealed metadata included) with zero per-query ceremony —
    * `spark.sql.catalog.<name>.encryption = EncryptionManagers.serialize(m)`.
    * Catalog options live in session conf, not query text, so key material
    * never lands in SQL logs (the reason rotation has no CALL). */
  protected var encryption: graft.table.EncryptionManager =
    graft.table.PlaintextEncryptionManager
  /** Catalog-asserted sealing (`spark.sql.catalog.<name>.encryption-required
    * = true`): every FileIO this catalog hands out starts with the
    * forged-plaintext latch SET, so even the first metadata JSON read
    * refuses a plaintext substitute — the stored table property alone
    * bootstraps from attacker-writable storage and is advisory. */
  protected var encryptionRequired: Boolean = false
  protected def io: FileIO =
    new FileIO(spark.sparkContext.hadoopConfiguration, encryption,
      encryptionRequired)

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = options.get("warehouse")
    require(warehouse != null && warehouse.nonEmpty,
      s"Catalog $name requires spark.sql.catalog.$name.warehouse")
    cacheEnabled = options.getBoolean("cache-enabled", true)
    Option(options.get("encryption")).foreach { ser =>
      encryption = graft.table.EncryptionManagers.deserialize(ser)
    }
    encryptionRequired = options.getBoolean("encryption-required", false)
    require(!encryptionRequired ||
        encryption != graft.table.PlaintextEncryptionManager,
      s"spark.sql.catalog.$name.encryption-required needs the catalog's " +
        s"encryption manager (spark.sql.catalog.$name.encryption) too")
  }

  override def name(): String = catalogName

  protected def tablePath(ident: Identifier): String =
    (warehouse +: (ident.namespace().toSeq :+ ident.name())).mkString("/")

  protected def fullName(ident: Identifier): String =
    (catalogName +: (ident.namespace().toSeq :+ ident.name())).mkString(".")

  // ------------------------------------------------------------- functions

  /** Partition-transform SQL functions in the `system` (or bare) namespace
    * — `SELECT cat.system.bucket(16, id)` uses the byte-exact writer
    * transform (later-ref SparkFunctions shape). */
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      GraftFunctions.names.map(Identifier.of(namespace, _)).toArray
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(namespace)

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction = {
    val ns = ident.namespace()
    if (ns.isEmpty || ns.sameElements(Array("system")))
      GraftFunctions.load(ident.name()).getOrElse(
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident))
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)
  }

  // ---------------------------------------------------------------- tables

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = (warehouse +: namespace.toSeq).mkString("/")
    io.list(dir).filter(_.isDirectory).map(_.getPath.getName)
      .filter(n => io.exists(s"$dir/$n/metadata/version-hint.text"))
      .map(n => Identifier.of(namespace, n)).toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    new graft.table.TableOperations(tablePath(ident), io).exists

  /** Resolve an identifier to a loaded table — the storage-backend hook
    * shared by plain loads, time travel, metadata tables, and ALTER. */
  protected def loadIce(ident: Identifier): IceTable =
    cachedIce(tablePath(ident))(IceTable.loadWith(spark,
      new graft.table.TableOperations(tablePath(ident), io)))

  protected val MetadataTableNames = Set("snapshots", "history", "manifests",
    "all_manifests", "entries", "all_entries", "files", "data_files",
    "all_data_files", "all_files", "partitions", "refs", "metadata_log_entries",
    "statistics", "position_deletes")

  override def loadTable(ident: Identifier): Table = {
    if (!tableExists(ident)) {
      // `db.t.snapshots`-style identifiers resolve to metadata tables (ref
      // `SparkCatalog.load` + `MetadataTableType.java:24`)
      if (ident.namespace().nonEmpty &&
          MetadataTableNames.contains(ident.name().toLowerCase)) {
        val parent = Identifier.of(ident.namespace().dropRight(1),
          ident.namespace().last)
        if (tableExists(parent)) {
          val t = loadIce(parent)
          return new GraftMetadataTable(t, ident.name().toLowerCase,
            s"${fullName(parent)}.${ident.name()}")
        }
      }
      throw new NoSuchTableException(ident)
    }
    new GraftSparkTable(loadIce(ident), fullName(ident))
  }

  /** `VERSION AS OF <snapshot-id | 'branch' | 'tag'>` — a non-numeric
    * version string resolves through the table's named refs. */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val t = loadIce(ident)
    val snapId = version.toLongOption.getOrElse {
      if (version == graft.meta.model.SnapshotRefMeta.MainBranch)
        t.meta.currentSnapshotId.getOrElse(
          throw new graft.table.ValidationException("Table has no current snapshot"))
      else t.meta.refs.getOrElse(version,
        throw new graft.table.ValidationException(
          s"Unknown snapshot or ref: $version")).snapshotId
    }
    new GraftSparkTable(t, fullName(ident), snapshotId = Some(snapId))
  }

  /** `TIMESTAMP AS OF <ts>` — Spark hands micros since epoch. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    new GraftSparkTable(loadIce(ident), fullName(ident),
      asOfMillis = Some(timestampMicros / 1000L))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val gSchema = Schema.fresh(schema)
    val spec = GraftCatalog.toSpec(gSchema, partitions)
    val props = properties.asScala.toMap -- GraftCatalog.ReservedProps
    val t = IceTable.createWith(spark,
      new graft.table.TableOperations(tablePath(ident), io),
      gSchema, spec, properties = props)
    new GraftSparkTable(t, fullName(ident))
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val t = loadIce(ident)
    val setProps = changes.collect { case c: TableChange.SetProperty =>
      c.property -> c.value }.toMap
    val rmProps = changes.collect { case c: TableChange.RemoveProperty => c.property }.toSet
    val schemaChanges = changes.filter {
      case _: TableChange.SetProperty | _: TableChange.RemoveProperty => false
      case _ => true
    }
    val schemaFn = if (schemaChanges.isEmpty) None else Some { (upd0: graft.meta.UpdateSchema) =>
      schemaChanges.foldLeft(upd0) { (upd, ch) => ch match {
        case c: TableChange.AddColumn =>
          require(c.fieldNames.length == 1, "Nested adds not supported")
          if (c.isNullable) upd.addColumn(c.fieldNames()(0), c.dataType)
          else upd.addRequiredColumn(c.fieldNames()(0), c.dataType)
        case c: TableChange.RenameColumn =>
          upd.renameColumn(c.fieldNames()(0), c.newName)
        case c: TableChange.DeleteColumn =>
          upd.deleteColumn(c.fieldNames()(0))
        case c: TableChange.UpdateColumnType =>
          upd.updateColumn(c.fieldNames()(0), c.newDataType)
        case c: TableChange.UpdateColumnNullability =>
          if (c.nullable) upd.makeColumnOptional(c.fieldNames()(0))
          else upd.requireColumn(c.fieldNames()(0))
        case other =>
          throw new UnsupportedOperationException(s"Unsupported table change: $other")
      }}
    }
    if (setProps.nonEmpty || rmProps.nonEmpty || schemaFn.nonEmpty)
      t.alterAtomic(setProps, rmProps, schemaFn)
    loadTable(ident)
  }

  // ------------------------------------------------------- staged CTAS/RTAS

  /** Atomic CTAS/RTAS (ref `SparkCatalog.java:147` stageCreate +
    * `StagedSparkTable.java`): the table is built at a hidden staging path;
    * only a successful write publishes it (rename + path relocation), so a
    * failed CTAS leaves no committed table behind. */
  protected def stage(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String],
      replace: Boolean, orCreate: Boolean): StagedTable = {
    if (!replace && tableExists(ident)) throw new TableAlreadyExistsException(ident)
    if (replace && !orCreate && !tableExists(ident)) throw new NoSuchTableException(ident)
    val stagedPath = (warehouse +: ident.namespace().toSeq).mkString("/") +
      s"/.staging/${ident.name()}-${java.util.UUID.randomUUID()}"
    val gSchema = Schema.fresh(schema)
    val spec = GraftCatalog.toSpec(gSchema, partitions)
    val props = properties.asScala.toMap -- GraftCatalog.ReservedProps
    val t = IceTable.createWith(spark,
      new graft.table.TableOperations(stagedPath, io),
      gSchema, spec, properties = props)
    new StagedGraftTable(new GraftSparkTable(t, fullName(ident)), spark,
      stagedPath, tablePath(ident), replace, io)
  }

  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): StagedTable =
    stage(ident, schema, partitions, properties, replace = false, orCreate = false)
  override def stageCreate(ident: Identifier, columns: Array[VColumn],
      partitions: Array[Transform], properties: util.Map[String, String]): StagedTable =
    stage(ident, org.apache.spark.sql.graft.ColumnBridge.v2ColumnsToStructType(columns), partitions,
      properties, replace = false, orCreate = false)
  override def stageCreate(ident: Identifier, info: TableInfo): StagedTable =
    stage(ident, info.schema(), info.partitions(), info.properties(),
      replace = false, orCreate = false)

  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): StagedTable =
    stage(ident, schema, partitions, properties, replace = true, orCreate = false)
  override def stageReplace(ident: Identifier, columns: Array[VColumn],
      partitions: Array[Transform], properties: util.Map[String, String]): StagedTable =
    stage(ident, org.apache.spark.sql.graft.ColumnBridge.v2ColumnsToStructType(columns), partitions,
      properties, replace = true, orCreate = false)
  override def stageReplace(ident: Identifier, info: TableInfo): StagedTable =
    stage(ident, info.schema(), info.partitions(), info.properties(),
      replace = true, orCreate = false)

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): StagedTable =
    stage(ident, schema, partitions, properties, replace = true, orCreate = true)
  override def stageCreateOrReplace(ident: Identifier, columns: Array[VColumn],
      partitions: Array[Transform], properties: util.Map[String, String]): StagedTable =
    stage(ident, org.apache.spark.sql.graft.ColumnBridge.v2ColumnsToStructType(columns), partitions,
      properties, replace = true, orCreate = true)
  override def stageCreateOrReplace(ident: Identifier, info: TableInfo): StagedTable =
    stage(ident, info.schema(), info.partitions(), info.properties(),
      replace = true, orCreate = true)

  /** Capture what a DROP purge needs BEFORE the table's pointer goes away:
    * the handle plus pinned metadata, when the table writes outside its own
    * directory (write.folder-storage.path / object-store layout — those
    * files leak forever otherwise, ref CatalogUtil.dropTableData) and
    * gc.enabled allows deleting its files. Purge runs only AFTER the drop
    * succeeds, using the pinned metadata — a failed or raced drop must not
    * find its files already destroyed. */
  protected final def pinDropPurge(load: => IceTable)
      : Option[(IceTable, graft.meta.model.TableMetadata)] =
    try {
      val t = load
      val m = t.meta
      if (graft.table.Locations.mayWriteOutsideTable(t.location, m) &&
          m.property(graft.meta.model.TableProperties.GcEnabled, "true").toBoolean)
        Some((t, m))
      else None
    } catch { case scala.util.control.NonFatal(_) => None }

  protected final def purgePinned(
      pinned: Option[(IceTable, graft.meta.model.TableMetadata)]): Unit =
    pinned.foreach { case (t, m) =>
      try graft.table.Maintenance.deleteReachableFiles(t, m)
      catch { case scala.util.control.NonFatal(_) => () }
    }

  // ------------------------------------------------------------ SQL views
  // (graft.table.Views: metadata-only versioned JSON under <path>/view/,
  // committed by create-new atomicity; keyed catalogs seal view JSON like
  // every other metadata file). Spark routes CREATE/ALTER/DROP VIEW,
  // SHOW VIEWS, and view resolution in SELECT here natively.

  private final case class GraftView(ident: Identifier,
      meta: graft.table.ViewMeta) extends View {
    override def name(): String =
      (catalogName +: (ident.namespace().toSeq :+ ident.name())).mkString(".")
    override def query(): String = meta.sql
    override def currentCatalog(): String = meta.currentCatalog
    override def currentNamespace(): Array[String] =
      meta.currentNamespace.toArray
    override def schema(): StructType =
      org.apache.spark.sql.types.DataType.fromJson(meta.schemaJson)
        .asInstanceOf[StructType]
    override def queryColumnNames(): Array[String] =
      meta.queryColumnNames.toArray
    override def columnAliases(): Array[String] = meta.columnAliases.toArray
    override def columnComments(): Array[String] = meta.columnComments.toArray
    override def properties(): util.Map[String, String] =
      meta.properties.asJava
  }

  private def viewMetaOf(info: ViewInfo): graft.table.ViewMeta =
    graft.table.ViewMeta(info.sql(), info.currentCatalog(),
      info.currentNamespace().toSeq, info.schema().json,
      info.queryColumnNames().toSeq,
      Option(info.columnAliases()).map(_.toSeq).getOrElse(Nil),
      Option(info.columnComments()).map(_.toSeq).getOrElse(Nil),
      info.properties().asScala.toMap)

  override def viewExists(ident: Identifier): Boolean =
    graft.table.Views.exists(io, tablePath(ident))

  override def loadView(ident: Identifier): View =
    graft.table.Views.current(io, tablePath(ident)) match {
      case Some((_, meta)) => GraftView(ident, meta)
      case None => throw new NoSuchViewException(ident)
    }

  override def createView(info: ViewInfo): View = {
    val ident = info.ident()
    if (tableExists(ident))
      throw new ViewAlreadyExistsException(ident) // a TABLE occupies the name
    if (viewExists(ident)) throw new ViewAlreadyExistsException(ident)
    graft.table.Views.create(io, tablePath(ident), viewMetaOf(info))
    GraftView(ident, viewMetaOf(info))
  }

  override def replaceView(info: ViewInfo, orCreate: Boolean): View = {
    val ident = info.ident()
    if (tableExists(ident)) throw new ViewAlreadyExistsException(ident)
    if (!viewExists(ident) && !orCreate) throw new NoSuchViewException(ident)
    graft.table.Views.replace(io, tablePath(ident), viewMetaOf(info))
    GraftView(ident, viewMetaOf(info))
  }

  override def alterView(ident: Identifier, changes: ViewChange*): View = {
    val (v, meta) = graft.table.Views.current(io, tablePath(ident))
      .getOrElse(throw new NoSuchViewException(ident))
    val _ = v
    val updated = changes.foldLeft(meta) { (m, ch) => ch match {
      case set: ViewChange.SetProperty =>
        m.copy(properties = m.properties + (set.property() -> set.value()))
      case rm: ViewChange.RemoveProperty =>
        m.copy(properties = m.properties - rm.property())
      case other => throw new UnsupportedOperationException(
        s"Unsupported view change: $other")
    }}
    graft.table.Views.replace(io, tablePath(ident), updated)
    GraftView(ident, updated)
  }

  override def dropView(ident: Identifier): Boolean =
    graft.table.Views.drop(io, tablePath(ident))

  override def renameView(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val meta = graft.table.Views.current(io, tablePath(oldIdent))
      .getOrElse(throw new NoSuchViewException(oldIdent))._2
    if (tableExists(newIdent) || viewExists(newIdent))
      throw new ViewAlreadyExistsException(newIdent)
    // metadata-only object: create-at-new-name first, then drop the old —
    // a crash between the two leaves both readable (same definition), never
    // neither
    graft.table.Views.create(io, tablePath(newIdent), meta)
    graft.table.Views.drop(io, tablePath(oldIdent))
  }

  override def listViews(namespace: String*): Array[Identifier] = {
    val dir = (warehouse +: namespace).mkString("/")
    if (!io.exists(dir)) return Array.empty
    io.list(dir).filter(_.isDirectory).map(_.getPath.getName)
      .filter(n => graft.table.Views.exists(io, s"$dir/$n"))
      .map(n => Identifier.of(namespace.toArray, n)).toArray
  }

  override def dropTable(ident: Identifier): Boolean = {
    if (!tableExists(ident)) return false
    val pinned = pinDropPurge(IceTable.loadWith(spark,
      new graft.table.TableOperations(tablePath(ident), io)))
    evictIce(tablePath(ident))
    // filesystem catalog: the directory IS the pointer, so there is no
    // drop-then-purge ordering — the purge must read manifests while they
    // exist. Pointer-backed catalogs purge after their CAS drop instead.
    if (pinned.nonEmpty) {
      purgePinned(pinned)
      io.deleteRecursive(tablePath(ident))
      true
    } else io.deleteRecursive(tablePath(ident))
  }

  override def renameTable(from: Identifier, to: Identifier): Unit = {
    if (!tableExists(from)) throw new NoSuchTableException(from)
    if (tableExists(to)) throw new TableAlreadyExistsException(to)
    val src = new org.apache.hadoop.fs.Path(tablePath(from))
    val dst = new org.apache.hadoop.fs.Path(tablePath(to))
    val fs = FileIO.fileSystem(src, spark.sparkContext.hadoopConfiguration)
    // fs.rename returns false (no exception) when e.g. the destination parent
    // is missing — surface that as a failure instead of a silent no-op
    fs.mkdirs(dst.getParent)
    if (!fs.rename(src, dst))
      throw new IllegalStateException(s"Rename failed: $src -> $dst")
    evictIce(tablePath(from))
    // metadata stores absolute paths — rewrite them for the new location
    IceTable.relocate(spark, tablePath(to), Some(io))
  }

  // ------------------------------------------------------------ namespaces

  override def listNamespaces(): Array[Array[String]] =
    listNamespaces(Array.empty)

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    val dir = (warehouse +: namespace.toSeq).mkString("/")
    io.list(dir).filter(_.isDirectory).map(_.getPath.getName)
      .filter(n => !n.startsWith(".") && // .staging holds uncommitted CTAS tables
        !io.exists(s"$dir/$n/metadata/version-hint.text"))
      .map(n => (namespace :+ n).toArray).toArray
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    io.exists((warehouse +: namespace.toSeq).mkString("/"))

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    Map.empty[String, String].asJava
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit =
    io.mkdirs((warehouse +: namespace.toSeq).mkString("/"))

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("alterNamespace")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    if (!cascade && listTables(namespace).nonEmpty)
      throw new org.apache.spark.sql.catalyst.analysis.NonEmptyNamespaceException(namespace)
    io.deleteRecursive((warehouse +: namespace.toSeq).mkString("/"))
  }
}

/** A staged table (ref `StagedSparkTable.java`): delegates reads/writes to a
  * real graft table at a hidden staging path; commit publishes it with a
  * rename + metadata path relocation, abort deletes the staging directory. */
final class StagedGraftTable(delegate: GraftSparkTable, spark: SparkSession,
    stagedPath: String, finalPath: String, replace: Boolean,
    io: FileIO)
    extends StagedTable
    with org.apache.spark.sql.connector.catalog.SupportsWrite {

  override def name(): String = delegate.name()
  override def schema(): StructType = delegate.schema()
  override def partitioning(): Array[Transform] = delegate.partitioning()
  override def properties(): util.Map[String, String] = delegate.properties()
  override def capabilities(): util.Set[org.apache.spark.sql.connector.catalog.TableCapability] =
    delegate.capabilities()
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo): org.apache.spark.sql.connector.write.WriteBuilder =
    delegate.newWriteBuilder(info)

  override def commitStagedChanges(): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(stagedPath)
    val dst = new org.apache.hadoop.fs.Path(finalPath)
    val fs = FileIO.fileSystem(src, conf)
    if (fs.exists(dst)) {
      if (!replace) throw new TableAlreadyExistsException(
        Identifier.of(Array.empty, finalPath))
      fs.delete(dst, true)
    }
    fs.mkdirs(dst.getParent)
    if (!fs.rename(src, dst))
      throw new IllegalStateException(s"Staged commit rename failed: $src -> $dst")
    IceTable.relocate(spark, finalPath, Some(io))
  }

  override def abortStagedChanges(): Unit =
    new FileIO(spark.sparkContext.hadoopConfiguration).deleteRecursive(stagedPath)
}

object GraftCatalog {

  private[spark] val ReservedProps =
    Set("provider", "location", "owner", "external", "comment")

  /** Spark `Transform[]` (from `PARTITIONED BY (...)`) → partition spec. */
  def toSpec(schema: Schema, partitions: Array[Transform]): PartitionSpec = {
    def ref(args: Seq[org.apache.spark.sql.connector.expressions.Expression]): String =
      args.collectFirst { case r: NamedReference => r.fieldNames().mkString(".") }
        .getOrElse(throw new IllegalArgumentException(
          s"No column reference in transform args: ${args.mkString(",")}"))
    def intArg(args: Seq[org.apache.spark.sql.connector.expressions.Expression]): Int =
      args.collectFirst { case l: VLiteral[_] => l.value() match {
        case i: Integer => i.intValue
        case l2: java.lang.Long => l2.intValue
        case s: String => s.toInt
        case u: org.apache.spark.unsafe.types.UTF8String => u.toString.toInt
      }}.getOrElse(throw new IllegalArgumentException(
        s"No literal in transform args: ${args.mkString(",")}"))

    partitions.foldLeft(PartitionSpec.builderFor(schema)) { (b, t) =>
      val args = t.arguments().toSeq
      t.name().toLowerCase match {
        case "identity" => b.identity(ref(args))
        case "bucket" => b.bucket(ref(args), intArg(args))
        case "truncate" => b.truncate(ref(args), intArg(args))
        case "years" | "year" => b.year(ref(args))
        case "months" | "month" => b.month(ref(args))
        case "days" | "day" => b.day(ref(args))
        case "hours" | "hour" => b.hour(ref(args))
        case other => throw new UnsupportedOperationException(s"Transform: $other")
      }
    }.build()
  }

  /** Partition spec → Spark `Transform[]` for `Table.partitioning()`. */
  def toTransforms(schema: Schema, spec: PartitionSpec): Array[Transform] =
    spec.fields.map { pf =>
      val src = schema.fieldName(pf.sourceId)
      pf.transform match {
        case graft.meta.transforms.IdentityTransform => Expressions.identity(src)
        case graft.meta.transforms.BucketTransform(n) => Expressions.bucket(n, src)
        case graft.meta.transforms.TruncateTransform(w) =>
          Expressions.apply("truncate", Expressions.literal(w), Expressions.column(src))
        case graft.meta.transforms.YearTransform => Expressions.years(src)
        case graft.meta.transforms.MonthTransform => Expressions.months(src)
        case graft.meta.transforms.DayTransform => Expressions.days(src)
        case graft.meta.transforms.HourTransform => Expressions.hours(src)
        case other => Expressions.apply(other.name, Expressions.column(src))
      }
    }.toArray
}
