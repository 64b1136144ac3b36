package graft.spark

import java.util

import scala.jdk.CollectionConverters._

import graft.meta.Schema
import graft.table.{CatalogStore, IceTable, JdbcCatalogStore, PointerTableOperations}

import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, StagedTable, Table, TableCatalog}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** [[GraftCatalog]] with the table POINTER in a [[CatalogStore]] instead
  * of filesystem rename-CAS (ref `core/.../jdbc/JdbcCatalog.java`):
  * listing, existence, rename, and every commit's compare-and-swap go
  * through the store, which is the production-safe protocol on object
  * stores (no atomic rename). Data/metadata files still live under
  * `warehouse`. This is the one pointer catalog: this class uses a SQL
  * database ([[JdbcCatalogStore]], row CAS), and [[GraftRestCatalog]] and
  * [[GraftHiveCatalog]] only swap in their store through [[newStore]].
  * Register with:
  *
  * {{{
  * spark.conf.set("spark.sql.catalog.grj", "graft.spark.GraftJdbcCatalog")
  * spark.conf.set("spark.sql.catalog.grj.warehouse", "/path/to/warehouse")
  * spark.conf.set("spark.sql.catalog.grj.uri", "jdbc:derby:/path/to/db;create=true")
  * }}}
  *
  * Differences from the filesystem catalog, by design:
  *  - RENAME is one pointer update — table files never move, no
  *    relocation.
  *  - CTAS/RTAS staging needs no hidden-directory rename: the staged table
  *    is built at its FINAL files location and the pointer insert is the
  *    atomic publish.
  *  - Namespaces are store entries, not directories. */
class GraftJdbcCatalog extends GraftCatalog {

  protected var uri: String = _
  // lazy: DriverManager/HTTP work belongs on first use, not Spark conf parsing
  @volatile private var storeRef: CatalogStore = _
  protected final def store: CatalogStore = {
    if (storeRef == null) synchronized {
      if (storeRef == null) storeRef = newStore()
    }
    storeRef
  }

  /** The pointer backend, built on first use; subclasses swap in theirs. */
  protected def newStore(): CatalogStore = {
    require(uri != null && uri.nonEmpty, s"Catalog $catalogName requires " +
      s"spark.sql.catalog.$catalogName.uri (a JDBC connection string)")
    new JdbcCatalogStore(uri, catalogName)
  }

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    super.initialize(name, options)
    uri = options.get("uri")
  }

  private def ns(namespace: Array[String]): String = namespace.mkString(".")

  private def cacheKey(ident: Identifier): String =
    ns(ident.namespace()) + "\u0000" + ident.name()

  private def pointerOps(ident: Identifier, location: String,
      staged: Boolean = false): PointerTableOperations =
    new PointerTableOperations(location, io, store, ns(ident.namespace()),
      ident.name(), staged)

  // ---------------------------------------------------------------- tables

  override def listTables(namespace: Array[String]): Array[Identifier] =
    store.listTables(ns(namespace)).map(Identifier.of(namespace, _)).toArray

  override def tableExists(ident: Identifier): Boolean =
    store.getPointer(ns(ident.namespace()), ident.name()).isDefined

  override protected def loadIce(ident: Identifier): IceTable = {
    val (_, _, loc) = store.getPointer(ns(ident.namespace()), ident.name())
      .getOrElse(throw new NoSuchTableException(ident))
    // keyed by IDENT, not location: the ops inside the handle query the
    // pointer by identifier, so rename/drop must evict (a replaced table
    // gets a fresh location AND a fresh pointer, handled by the same
    // eviction)
    cachedIce(cacheKey(ident))(IceTable.loadWith(spark, pointerOps(ident, loc)))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val gSchema = Schema.fresh(schema)
    val spec = GraftCatalog.toSpec(gSchema, partitions)
    val props = properties.asScala.toMap -- GraftCatalog.ReservedProps
    val t = IceTable.createWith(spark, pointerOps(ident, tablePath(ident)),
      gSchema, spec, properties = props)
    new GraftSparkTable(t, fullName(ident))
  }

  override protected def stage(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String],
      replace: Boolean, orCreate: Boolean): StagedTable = {
    if (!replace && tableExists(ident)) throw new TableAlreadyExistsException(ident)
    if (replace && !orCreate && !tableExists(ident)) throw new NoSuchTableException(ident)
    // final files location is unique per attempt, so a replaced table's old
    // files can be dropped after the pointer swap without racing readers of
    // the path (they hold the OLD location)
    val location = tablePath(ident) + "_" +
      java.util.UUID.randomUUID().toString.take(8)
    val gSchema = Schema.fresh(schema)
    val spec = GraftCatalog.toSpec(gSchema, partitions)
    val props = properties.asScala.toMap -- GraftCatalog.ReservedProps
    val ops = pointerOps(ident, location, staged = true)
    val t = IceTable.createWith(spark, ops, gSchema, spec, properties = props)
    new StagedPointerTable(new GraftSparkTable(t, fullName(ident)), ops, io,
      location, replace, () => evictIce(cacheKey(ident)))
  }

  /** Register an EXISTING table (its current metadata JSON file) under this
    * catalog — the pointer insert is the whole operation; data and metadata
    * files stay where they are (ref metastore catalogs' registerTable).
    * False when the name is taken. */
  def registerTable(ident: Identifier, metadataLocation: String)
      : Option[graft.meta.model.TableMetadata] = {
    val (meta, version) = graft.table.RegisterTable.parse(io, metadataLocation)
    if (store.insertPointer(ns(ident.namespace()), ident.name(), meta.location,
      meta.schema, version, metadataLocation)) Some(meta) else None
  }

  override def dropTable(ident: Identifier): Boolean =
    store.getPointer(ns(ident.namespace()), ident.name()) match {
      case None => false
      case Some((_, _, loc)) =>
        // REGISTERED tables keep their files elsewhere: dropping the
        // catalog entry must not destroy a location this catalog does
        // not own (ref registerTable + non-purge drop semantics). For owned
        // object-store-layout tables, pin metadata BEFORE the pointer drop
        // and purge external files only AFTER it succeeds.
        val norm = loc.stripPrefix("file:")
        val owned = norm.startsWith(warehouse.stripPrefix("file:"))
        val pinned = if (owned) pinDropPurge(loadIce(ident)) else None
        val ok = store.dropPointer(ns(ident.namespace()), ident.name())
        if (ok) {
          evictIce(cacheKey(ident))
          if (owned) { purgePinned(pinned); io.deleteRecursive(loc) }
        }
        ok
    }

  override def renameTable(from: Identifier, to: Identifier): Unit = {
    if (!tableExists(from)) throw new NoSuchTableException(from)
    if (tableExists(to)) throw new TableAlreadyExistsException(to)
    if (!store.renamePointer(ns(from.namespace()), from.name(),
        ns(to.namespace()), to.name()))
      throw new IllegalStateException(s"Rename failed: $from -> $to")
    evictIce(cacheKey(from))
  }

  // ------------------------------------------------------------ namespaces

  override def listNamespaces(): Array[Array[String]] =
    store.listNamespaces().map(_.split('.').toArray[String])
      .filter(_.length == 1).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    store.listNamespaces().map(_.split('.').toArray[String])
      .filter(n => n.length == namespace.length + 1 && n.startsWith(namespace.toSeq))
      .toArray
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    store.namespaceExists(ns(namespace))

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit =
    store.createNamespace(ns(namespace))

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    if (!cascade && listTables(namespace).nonEmpty)
      throw new org.apache.spark.sql.catalyst.analysis.NonEmptyNamespaceException(namespace)
    if (cascade) listTables(namespace).foreach(dropTable)
    store.dropNamespace(ns(namespace))
    true
  }
}

/** Staged CTAS/RTAS table for the pointer catalog: the staged write
  * already produced a complete table at its final files location; commit
  * publishes it by inserting (or swapping) the store's pointer, abort
  * deletes the files. No directory rename exists in the commit path at all. */
final class StagedPointerTable(delegate: GraftSparkTable, ops: PointerTableOperations,
    io: graft.table.FileIO, location: String, replace: Boolean,
    evict: () => Unit)
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

  override def commitStagedChanges(): Unit =
    if (replace) { ops.publishReplace().foreach(io.deleteRecursive); evict() }
    else if (!ops.publish())
      throw new TableAlreadyExistsException(
        Identifier.of(Array.empty[String], name()))

  override def abortStagedChanges(): Unit = io.deleteRecursive(location)
}
