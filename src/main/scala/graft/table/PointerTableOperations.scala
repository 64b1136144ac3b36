package graft.table

import graft.meta.Schema
import graft.meta.model.{JsonCodecs, MetadataLogEntry, TableMetadata}

/** The catalog's pointer store: one (namespace, name) entry per table
  * holding the current metadata-file location, CAS'd on commit.
  * Implementations: a SQL database ([[JdbcCatalogStore]], row CAS), an HTTP
  * catalog service ([[RestCatalogStore]]) and a Hive metastore
  * ([[HiveCatalogStore]], lock → re-check → alter) — all three drive the
  * same [[PointerTableOperations]] commit protocol, so every backend shares
  * one tested CAS path and differs only in how the pointer swaps.
  *
  * The pointer-writing calls carry the new metadata's `schema`: a store
  * that mirrors columns for other clients (the metastore) rewrites them on
  * every swap; the others ignore it. */
trait CatalogStore {
  /** (pointer version, metadata location, table location) for one table. */
  def getPointer(namespace: String, name: String): Option[(Int, String, String)]
  /** Create the pointer entry — the atomic publish of a new table. False
    * when the name is already taken. */
  def insertPointer(namespace: String, name: String, tableLocation: String,
      schema: Schema, version: Int, metadataLocation: String): Boolean
  /** CAS the pointer: true only if it still points at `expected`. */
  def casPointer(namespace: String, name: String, expectedMetadataLocation: String,
      schema: Schema, newVersion: Int, newMetadataLocation: String): Boolean
  /** Point an EXISTING entry at a replacement table (RTAS publish); false
    * when the entry is gone. */
  def replacePointer(namespace: String, name: String, tableLocation: String,
      schema: Schema, version: Int, metadataLocation: String): Boolean
  def dropPointer(namespace: String, name: String): Boolean
  def renamePointer(fromNs: String, fromName: String, toNs: String,
      toName: String): Boolean
  def listTables(namespace: String): Seq[String]
  def createNamespace(namespace: String): Boolean
  def dropNamespace(namespace: String): Boolean
  def namespaceExists(namespace: String): Boolean
  def listNamespaces(): Seq[String]
}

/** [[TableOps]] whose current-pointer CAS lives in a [[CatalogStore]]
  * instead of an atomically-renamed file (ref
  * `core/.../BaseMetastoreTableOperations.java`). Metadata JSON files still
  * live under `<location>/metadata/`, but with UNIQUE names
  * (`v{N}-{uuid}.metadata.json`): two racing committers write two distinct
  * files and the store's CAS picks the winner; the loser deletes its own
  * file. A crashed pre-CAS committer leaves only an unreferenced file
  * (cleaned by orphan maintenance), never a wedged table.
  *
  * `staged = true` keeps every commit local (files written, pointer held in
  * memory) until [[publish]]/[[publishReplace]] pushes the final pointer
  * — the pointer insert IS the atomic CTAS/RTAS publish. */
final class PointerTableOperations(val location: String, val io: FileIO,
    store: CatalogStore, namespace: String, tableName: String,
    staged: Boolean = false) extends TableOps {

  @volatile private var local: Option[(Int, String)] = None
  @volatile private var cached: (String, TableMetadata) = _

  private def metadataDir = s"$location/metadata"

  private def pointer: Option[(Int, String)] =
    if (staged) local
    else store.getPointer(namespace, tableName).map(p => (p._1, p._2))

  override def exists: Boolean = pointer.isDefined

  override def current(): (Int, TableMetadata) = {
    val (v, loc) = pointer.getOrElse(
      throw new NoSuchTableException(s"No table $namespace.$tableName at $location"))
    val c = cached
    val meta =
      if (c != null && c._1 == loc) c._2
      else {
        val m = JsonCodecs.tableMetadataFromJson(io.readString(loc))
        cached = (loc, m)
        m
      }
    (v, meta)
  }

  override def commit(expectedVersion: Int, meta: TableMetadata): Boolean = {
    val prev = pointer
    if (prev.map(_._1).getOrElse(0) != expectedVersion) return false
    val withLog = prev match {
      case Some((_, prevLoc)) => meta.copy(metadataLog = meta.metadataLog :+
        MetadataLogEntry(System.currentTimeMillis(), prevLoc))
      case None => meta
    }
    val (trimmed, dropped) = MetadataHousekeeping.trim(withLog)
    io.mkdirs(metadataDir)
    val ext =
      if (meta.property("write.metadata.compression-codec", "none") == "gzip")
        ".gz.metadata.json"
      else ".metadata.json"
    val file = s"$metadataDir/v${expectedVersion + 1}-" +
      s"${java.util.UUID.randomUUID().toString.take(8)}$ext"
    if (!io.writeAtomic(file, JsonCodecs.tableMetadataToJson(trimmed))) return false
    val ok =
      if (staged) synchronized {
        // single-writer staging: plain check-and-set on the local pointer
        if (local == prev) { local = Some((expectedVersion + 1, file)); true } else false
      }
      else if (prev.isEmpty)
        try store.insertPointer(namespace, tableName, location, trimmed.schema, 1, file)
        catch {
          // the store refused the identifier before touching the pointer
          case e: IllegalArgumentException => io.delete(file); throw e
        }
      else store.casPointer(namespace, tableName, prev.get._2, trimmed.schema,
        expectedVersion + 1, file)
    if (!ok) io.delete(file) // uniquely named — always ours to discard
    else MetadataHousekeeping.deleteQuietly(io, dropped)
    ok
  }

  private def stagedSchema: Schema = current()._2.schema

  /** Publish a staged table as a NEW entry; false if the name was taken. */
  def publish(): Boolean = local.exists { case (v, loc) =>
    store.insertPointer(namespace, tableName, location, stagedSchema, v, loc)
  }

  /** Publish a staged table over an existing entry (RTAS), or insert if the
    * entry vanished. Returns the replaced table's location for cleanup. */
  def publishReplace(): Option[String] = local.flatMap { case (v, loc) =>
    val old = store.getPointer(namespace, tableName)
    val ok = old match {
      case Some(_) => store.replacePointer(namespace, tableName, location, stagedSchema, v, loc)
      case None => store.insertPointer(namespace, tableName, location, stagedSchema, v, loc)
    }
    if (!ok) throw new CommitFailedException(
      s"Could not publish replacement for $namespace.$tableName")
    old.map(_._3).filter(_ != location)
  }
}
