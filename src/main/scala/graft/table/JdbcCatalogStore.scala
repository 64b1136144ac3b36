package graft.table

import java.sql.{Connection, DriverManager, SQLException}

import graft.meta.Schema

/** SQL-backed catalog store (ref `core/.../jdbc/JdbcCatalog.java` +
  * `JdbcUtil.java`): one row per table holding the current metadata-file
  * pointer; commits CAS the row with
  * `UPDATE ... WHERE metadata_location = <expected>`. This is the
  * production-safe commit protocol on object stores, where the filesystem
  * backend's atomic-rename CAS does not exist — the database row, not a
  * file, is the table's source of truth. Namespaces are explicit rows
  * (ref's `jdbc/JdbcNamespace` shape). The row carries only the pointer,
  * so the `schema` argument of the pointer writes is ignored.
  *
  * One JVM-wide connection per URI, serialized: catalog traffic is
  * driver-side metadata traffic (a handful of point reads/updates per
  * query or commit), so a pool would buy nothing. Any JDBC driver on the
  * classpath works; tests use embedded Derby. */
final class JdbcCatalogStore(uri: String, val catalogName: String)
    extends CatalogStore {

  private val conn: Connection = JdbcCatalogStore.connection(uri)

  ensureTables()

  import JdbcCatalogStore.{NsTable, TablesTable}

  private def ensureTables(): Unit = conn.synchronized {
    def tableMissing(name: String): Boolean = {
      val rs = conn.getMetaData.getTables(null, null, name.toUpperCase, null)
      try !rs.next() finally rs.close()
    }
    val st = conn.createStatement()
    try {
      if (tableMissing(TablesTable))
        st.executeUpdate(
          s"""CREATE TABLE $TablesTable (
             |  catalog_name VARCHAR(255) NOT NULL,
             |  table_namespace VARCHAR(1024) NOT NULL,
             |  table_name VARCHAR(1024) NOT NULL,
             |  table_location VARCHAR(8000) NOT NULL,
             |  pointer_version INT NOT NULL,
             |  metadata_location VARCHAR(8000) NOT NULL,
             |  previous_metadata_location VARCHAR(8000),
             |  PRIMARY KEY (catalog_name, table_namespace, table_name))""".stripMargin)
      if (tableMissing(NsTable))
        st.executeUpdate(
          s"""CREATE TABLE $NsTable (
             |  catalog_name VARCHAR(255) NOT NULL,
             |  namespace VARCHAR(1024) NOT NULL,
             |  PRIMARY KEY (catalog_name, namespace))""".stripMargin)
    } catch {
      // another store instance may race the bootstrap DDL — losing is fine
      case _: SQLException if !tableMissing(TablesTable) && !tableMissing(NsTable) => ()
    } finally st.close()
  }

  /** (pointer version, metadata location, table location) for one table. */
  def getPointer(namespace: String, name: String): Option[(Int, String, String)] =
    conn.synchronized {
      val ps = conn.prepareStatement(
        s"SELECT pointer_version, metadata_location, table_location FROM $TablesTable" +
          " WHERE catalog_name = ? AND table_namespace = ? AND table_name = ?")
      try {
        ps.setString(1, catalogName); ps.setString(2, namespace); ps.setString(3, name)
        val rs = ps.executeQuery()
        try { if (rs.next()) Some((rs.getInt(1), rs.getString(2), rs.getString(3))) else None }
        finally rs.close()
      } finally ps.close()
    }

  /** Create the pointer row — the atomic "publish" of a new table. False
    * when the table already exists (duplicate key = lost the race). */
  def insertPointer(namespace: String, name: String, tableLocation: String,
      schema: Schema, version: Int, metadataLocation: String): Boolean = conn.synchronized {
    val ps = conn.prepareStatement(
      s"INSERT INTO $TablesTable (catalog_name, table_namespace, table_name," +
        " table_location, pointer_version, metadata_location) VALUES (?,?,?,?,?,?)")
    try {
      ps.setString(1, catalogName); ps.setString(2, namespace); ps.setString(3, name)
      ps.setString(4, tableLocation); ps.setInt(5, version); ps.setString(6, metadataLocation)
      ps.executeUpdate() == 1
    } catch { case _: SQLException => false } finally ps.close()
  }

  /** CAS the pointer: succeeds only if the row still points at
    * `expectedMetadataLocation` (ref `JdbcTableOperations.doCommit`). */
  def casPointer(namespace: String, name: String, expectedMetadataLocation: String,
      schema: Schema, newVersion: Int, newMetadataLocation: String): Boolean = conn.synchronized {
    val ps = conn.prepareStatement(
      s"UPDATE $TablesTable SET pointer_version = ?, metadata_location = ?," +
        " previous_metadata_location = ? WHERE catalog_name = ? AND" +
        " table_namespace = ? AND table_name = ? AND metadata_location = ?")
    try {
      ps.setInt(1, newVersion); ps.setString(2, newMetadataLocation)
      ps.setString(3, expectedMetadataLocation)
      ps.setString(4, catalogName); ps.setString(5, namespace); ps.setString(6, name)
      ps.setString(7, expectedMetadataLocation)
      ps.executeUpdate() == 1
    } finally ps.close()
  }

  /** Point an EXISTING row at a replacement table (RTAS publish). */
  def replacePointer(namespace: String, name: String, tableLocation: String,
      schema: Schema, version: Int, metadataLocation: String): Boolean = conn.synchronized {
    val ps = conn.prepareStatement(
      s"UPDATE $TablesTable SET table_location = ?, pointer_version = ?," +
        " metadata_location = ?, previous_metadata_location = NULL" +
        " WHERE catalog_name = ? AND table_namespace = ? AND table_name = ?")
    try {
      ps.setString(1, tableLocation); ps.setInt(2, version); ps.setString(3, metadataLocation)
      ps.setString(4, catalogName); ps.setString(5, namespace); ps.setString(6, name)
      ps.executeUpdate() == 1
    } finally ps.close()
  }

  def dropPointer(namespace: String, name: String): Boolean = conn.synchronized {
    val ps = conn.prepareStatement(
      s"DELETE FROM $TablesTable WHERE catalog_name = ? AND table_namespace = ?" +
        " AND table_name = ?")
    try {
      ps.setString(1, catalogName); ps.setString(2, namespace); ps.setString(3, name)
      ps.executeUpdate() == 1
    } finally ps.close()
  }

  /** Rename = one UPDATE of the identifier columns; the table's files never
    * move (ref `JdbcCatalog.renameTable`) — no relocation pass needed. */
  def renamePointer(fromNs: String, fromName: String, toNs: String,
      toName: String): Boolean = conn.synchronized {
    val ps = conn.prepareStatement(
      s"UPDATE $TablesTable SET table_namespace = ?, table_name = ?" +
        " WHERE catalog_name = ? AND table_namespace = ? AND table_name = ?")
    try {
      ps.setString(1, toNs); ps.setString(2, toName)
      ps.setString(3, catalogName); ps.setString(4, fromNs); ps.setString(5, fromName)
      ps.executeUpdate() == 1
    } catch { case _: SQLException => false } finally ps.close()
  }

  def listTables(namespace: String): Seq[String] = conn.synchronized {
    val ps = conn.prepareStatement(
      s"SELECT table_name FROM $TablesTable WHERE catalog_name = ? AND" +
        " table_namespace = ? ORDER BY table_name")
    try {
      ps.setString(1, catalogName); ps.setString(2, namespace)
      val rs = ps.executeQuery()
      try {
        val b = Seq.newBuilder[String]
        while (rs.next()) b += rs.getString(1)
        b.result()
      } finally rs.close()
    } finally ps.close()
  }

  def createNamespace(namespace: String): Boolean = conn.synchronized {
    val ps = conn.prepareStatement(
      s"INSERT INTO $NsTable (catalog_name, namespace) VALUES (?, ?)")
    try {
      ps.setString(1, catalogName); ps.setString(2, namespace)
      ps.executeUpdate() == 1
    } catch { case _: SQLException => false } finally ps.close()
  }

  def dropNamespace(namespace: String): Boolean = conn.synchronized {
    val ps = conn.prepareStatement(
      s"DELETE FROM $NsTable WHERE catalog_name = ? AND namespace = ?")
    try {
      ps.setString(1, catalogName); ps.setString(2, namespace)
      ps.executeUpdate() == 1
    } finally ps.close()
  }

  /** Explicit row, or implied by any table living under it. */
  def namespaceExists(namespace: String): Boolean = conn.synchronized {
    val ps = conn.prepareStatement(
      s"SELECT 1 FROM $NsTable WHERE catalog_name = ? AND namespace = ?" +
        s" UNION SELECT 1 FROM $TablesTable WHERE catalog_name = ? AND table_namespace = ?")
    try {
      ps.setString(1, catalogName); ps.setString(2, namespace)
      ps.setString(3, catalogName); ps.setString(4, namespace)
      val rs = ps.executeQuery()
      try rs.next() finally rs.close()
    } finally ps.close()
  }

  def listNamespaces(): Seq[String] = conn.synchronized {
    val ps = conn.prepareStatement(
      s"SELECT namespace FROM $NsTable WHERE catalog_name = ?" +
        s" UNION SELECT table_namespace FROM $TablesTable WHERE catalog_name = ?" +
        " ORDER BY 1")
    try {
      ps.setString(1, catalogName); ps.setString(2, catalogName)
      val rs = ps.executeQuery()
      try {
        val b = Seq.newBuilder[String]
        while (rs.next()) { val n = rs.getString(1); if (n.nonEmpty) b += n }
        b.result()
      } finally rs.close()
    } finally ps.close()
  }
}

object JdbcCatalogStore {
  private val TablesTable = "graft_tables"
  private val NsTable = "graft_namespaces"

  // one connection per URI per JVM, shared by every store/catalog instance
  private val conns = new java.util.concurrent.ConcurrentHashMap[String, Connection]
  private def connection(uri: String): Connection =
    conns.computeIfAbsent(uri, u => {
      val c = DriverManager.getConnection(u)
      c.setAutoCommit(true)
      c
    })
}
