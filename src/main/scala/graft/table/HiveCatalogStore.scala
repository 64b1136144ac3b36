package graft.table

import scala.jdk.CollectionConverters._

import graft.meta.Schema

import org.apache.hadoop.hive.conf.HiveConf
import org.apache.hadoop.hive.metastore.HiveMetaStoreClient
import org.apache.hadoop.hive.metastore.api.{AlreadyExistsException, Database, FieldSchema, InvalidOperationException, LockComponent, LockLevel, LockRequest, LockState, LockType, NoSuchObjectException, SerDeInfo, StorageDescriptor, Table => HmsTable}

import org.apache.spark.sql.types._

/** Hive-metastore-backed [[CatalogStore]] (ref the `hive-metastore`
  * module's table operations): the table's current metadata pointer lives
  * in HMS table PARAMETERS (`metadata_location`), and commits follow the
  * reference's lock protocol — acquire an HMS EXCLUSIVE table lock,
  * re-read the pointer, verify it matches the commit's base, `alter_table`
  * the new pointer, unlock. HMS has no native compare-and-swap, which is
  * exactly why the lock exists; the lock + check composes one. Every
  * pointer write also rewrites the storage descriptor's columns from the
  * new schema, so other metastore clients see the table's current columns
  * (a strict remote metastore may refuse an incompatible column-type
  * change; the commit then fails with the pointer untouched).
  *
  * Namespaces are HMS DATABASES — single level, like any Hive deployment:
  * creating a dotted namespace or a table under one fails loudly, and
  * lookups under one find nothing. Publishing a table creates its database
  * when missing.
  *
  * Works against a remote metastore (`uri` = thrift://...) or an embedded
  * one (no uri → in-process HMS over Derby at `jdo-uri`, with the TXN/lock
  * schema bootstrapped via `TxnDbUtil.prepDb` — the embedded shape tests
  * run against). One client per store, serialized: HMS clients are not
  * thread-safe, and catalog traffic is driver-side metadata traffic. */
final class HiveCatalogStore(uri: Option[String], jdoUri: Option[String],
    warehouse: String) extends CatalogStore {

  private val conf = new HiveConf()
  uri match {
    case Some(u) => conf.set("hive.metastore.uris", u)
    case None =>
      val jdo = jdoUri.getOrElse(
        s"jdbc:derby:;databaseName=$warehouse/_hms_db;create=true")
      conf.set("javax.jdo.option.ConnectionURL", jdo)
      conf.set("javax.jdo.option.ConnectionDriverName",
        "org.apache.derby.jdbc.EmbeddedDriver")
      conf.set("datanucleus.schema.autoCreateAll", "true")
      conf.set("hive.metastore.schema.verification", "false")
      // TxnHandler's default pool (BoneCP) is not on the classpath; dbcp is
      conf.set("datanucleus.connectionPoolingType", "dbcp")
      conf.set("hive.metastore.warehouse.dir", warehouse)
      // every commit rewrites the columns from the table's schema: let the
      // metastore take any change the format allows (RTAS, type changes)
      conf.set("hive.metastore.disallow.incompatible.col.type.changes", "false")
      // embedded Derby has no schematool run against it: create the TXN/lock
      // tables the lock endpoint needs (idempotent — rerun throws on
      // existing tables, which is the signal the schema is already there)
      try org.apache.hadoop.hive.metastore.txn.TxnDbUtil.prepDb(conf)
      catch { case _: Throwable => () }
  }

  private val client = new HiveMetaStoreClient(conf)
  private val agent = "graft"
  private val host = java.net.InetAddress.getLocalHost.getHostName

  val MetadataLocationProp = "metadata_location"
  val PreviousMetadataLocationProp = "previous_metadata_location"
  val PointerVersionProp = "pointer_version"
  val TableTypeProp = "table_type"
  val TableTypeValue = "GRAFT"

  // ------------------------------------------------------------------ locks

  /** Run `f` holding an HMS EXCLUSIVE lock on db.name (ref `acquireLock`
    * of the `hive-metastore` table operations): poll WAITING via checkLock
    * until ACQUIRED or timeout; always unlock. */
  def withTableLock[A](db: String, name: String)(f: => A): A = synchronized {
    val comp = new LockComponent(LockType.EXCLUSIVE, LockLevel.TABLE, db)
    comp.setTablename(name)
    var resp = client.lock(new LockRequest(List(comp).asJava, agent, host))
    val deadline = System.currentTimeMillis() + 180000L
    try {
      while (resp.getState == LockState.WAITING &&
          System.currentTimeMillis() < deadline) {
        Thread.sleep(50)
        resp = client.checkLock(resp.getLockid)
      }
      if (resp.getState != LockState.ACQUIRED)
        throw new CommitFailedException(
          s"Could not acquire metastore lock on $db.$name: ${resp.getState}")
      f
    } finally {
      try client.unlock(resp.getLockid) catch { case _: Exception => () }
    }
  }

  // ------------------------------------------------------------ namespaces

  /** The HMS database of a namespace about to be written. */
  private def requireSingleLevel(namespace: String): String = {
    require(!namespace.contains('.'),
      s"Hive metastore namespaces are single-level: $namespace")
    namespace
  }

  /** Lookup-safe: a multi-level namespace simply holds nothing (so
    * `db.t.snapshots`-style metadata identifiers fall through to the
    * metadata-table resolution instead of erroring). */
  private def singleLevel(namespace: String): Option[String] =
    if (namespace.contains('.')) None else Some(namespace)

  def createNamespace(namespace: String): Boolean = synchronized {
    try {
      client.createDatabase(new Database(requireSingleLevel(namespace), "",
        s"$warehouse/$namespace", Map.empty[String, String].asJava))
      true
    } catch { case _: AlreadyExistsException => false }
  }

  def namespaceExists(namespace: String): Boolean = synchronized {
    singleLevel(namespace).exists { d =>
      try { client.getDatabase(d); true }
      catch { case _: NoSuchObjectException => false }
    }
  }

  def dropNamespace(namespace: String): Boolean = synchronized {
    singleLevel(namespace).exists { d =>
      try { client.dropDatabase(d, false, false, false); true }
      catch { case _: NoSuchObjectException => false }
    }
  }

  def listNamespaces(): Seq[String] = synchronized {
    client.getAllDatabases.asScala.toSeq.filterNot(_ == "default")
  }

  // ----------------------------------------------------------------- tables

  def getTable(db: String, name: String): Option[HmsTable] = synchronized {
    singleLevel(db).flatMap { d =>
      try Some(client.getTable(d, name))
      catch { case _: NoSuchObjectException => None }
    }
  }

  /** (pointer version, metadata location, table location). */
  def getPointer(db: String, name: String): Option[(Int, String, String)] =
    getTable(db, name).map { t =>
      (Option(t.getParameters.get(PointerVersionProp)).map(_.toInt).getOrElse(1),
        t.getParameters.get(MetadataLocationProp), t.getSd.getLocation)
    }

  /** Hive-visible column types, best effort (HMS is interop surface, the
    * metadata JSON is authoritative). */
  private def hiveType(dt: DataType): String = dt match {
    case BooleanType => "boolean"
    case IntegerType => "int"
    case LongType => "bigint"
    case FloatType => "float"
    case DoubleType => "double"
    case StringType => "string"
    case DateType => "date"
    case _: TimestampType => "timestamp"
    case BinaryType => "binary"
    case d: DecimalType => s"decimal(${d.precision},${d.scale})"
    case a: ArrayType => s"array<${hiveType(a.elementType)}>"
    case m: MapType => s"map<${hiveType(m.keyType)},${hiveType(m.valueType)}>"
    case s: StructType =>
      s"struct<${s.fields.map(f => s"${f.name}:${hiveType(f.dataType)}").mkString(",")}>"
    case other => "string"
  }

  /** Point `t` at a metadata file, mirroring the schema into its columns. */
  private def setPointer(t: HmsTable, schema: Schema, version: Int,
      metadataLocation: String): Unit = {
    t.getSd.setCols(schema.struct.fields.map(f =>
      new FieldSchema(f.name, hiveType(f.dataType), "")).toList.asJava)
    t.getParameters.put(PointerVersionProp, version.toString)
    t.getParameters.put(MetadataLocationProp, metadataLocation)
  }

  /** Publish a NEW table, creating its database when missing; false when
    * the table already exists (lost the race). */
  def insertPointer(db: String, name: String, location: String, schema: Schema,
      version: Int, metadataLocation: String): Boolean = synchronized {
    val d = requireSingleLevel(db)
    createNamespace(d)
    val sd = new StorageDescriptor()
    sd.setLocation(location)
    sd.setSerdeInfo(new SerDeInfo())
    val t = new HmsTable(name, d, agent, 0, 0, 0, sd,
      List.empty[FieldSchema].asJava, new java.util.HashMap[String, String](),
      null, null, "EXTERNAL_TABLE")
    t.getParameters.put("EXTERNAL", "TRUE")
    t.getParameters.put(TableTypeProp, TableTypeValue)
    setPointer(t, schema, version, metadataLocation)
    try { client.createTable(t); true }
    catch { case _: AlreadyExistsException => false }
  }

  /** Point an EXISTING entry at a replacement table (RTAS publish). */
  def replacePointer(db: String, name: String, location: String, schema: Schema,
      version: Int, metadataLocation: String): Boolean = synchronized {
    getTable(db, name).exists { t =>
      t.getSd.setLocation(location)
      setPointer(t, schema, version, metadataLocation)
      t.getParameters.remove(PreviousMetadataLocationProp)
      client.alter_table(db, name, t)
      true
    }
  }

  /** The reference commit protocol: under the table lock, re-read the
    * pointer, require it still equals `expectedMetadataLocation`, then
    * alter. False = someone committed underneath us. */
  def casPointer(db: String, name: String, expectedMetadataLocation: String,
      schema: Schema, newVersion: Int, newMetadataLocation: String): Boolean =
    withTableLock(db, name) {
      getTable(db, name).exists { t =>
        t.getParameters.get(MetadataLocationProp) == expectedMetadataLocation && {
          setPointer(t, schema, newVersion, newMetadataLocation)
          t.getParameters.put(PreviousMetadataLocationProp, expectedMetadataLocation)
          client.alter_table(db, name, t)
          true
        }
      }
    }

  def dropPointer(db: String, name: String): Boolean = synchronized {
    singleLevel(db).exists { d =>
      try { client.dropTable(d, name, false, false); true }
      catch { case _: NoSuchObjectException => false }
    }
  }

  /** Rename is one `alter_table` of the identifier; files never move. */
  def renamePointer(fromDb: String, fromName: String, toDb: String,
      toName: String): Boolean = synchronized {
    getTable(fromDb, fromName).exists { t =>
      t.setDbName(requireSingleLevel(toDb))
      t.setTableName(toName)
      try { client.alter_table(fromDb, fromName, t); true }
      catch { case _: InvalidOperationException => false }
    }
  }

  def listTables(db: String): Seq[String] = synchronized {
    singleLevel(db).toSeq.flatMap { d =>
      try client.getAllTables(d).asScala.toSeq
      catch { case _: NoSuchObjectException => Nil }
    }
  }
}
