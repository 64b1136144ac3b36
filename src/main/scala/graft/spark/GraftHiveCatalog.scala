package graft.spark

import graft.table.{CatalogStore, HiveCatalogStore}

import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** [[GraftJdbcCatalog]] with the pointer store in a Hive metastore
  * ([[HiveCatalogStore]]; ref `hive-metastore/.../HiveCatalog.java`):
  * tables are HMS entries carrying the `metadata_location` pointer in their
  * parameters, and every commit's compare-and-swap is the reference's
  * lock → re-check → alter_table protocol. Register with:
  *
  * {{{
  * spark.conf.set("spark.sql.catalog.hv", "graft.spark.GraftHiveCatalog")
  * spark.conf.set("spark.sql.catalog.hv.warehouse", "/path/to/warehouse")
  * // remote metastore:
  * spark.conf.set("spark.sql.catalog.hv.uri", "thrift://host:9083")
  * // or omit `uri` for an in-process metastore over embedded Derby
  * // (optionally "jdo-uri" to place the Derby db)
  * }}}
  *
  * Everything above the store — staging, rename, drop/purge,
  * register_table, metadata-file naming, conflict retries — is the
  * [[GraftJdbcCatalog]] machinery. Namespaces are HMS DATABASES — single
  * level, like any Hive deployment. Tables created here are visible to
  * every other HMS client (external tables typed `table_type = GRAFT`,
  * columns rewritten on every commit). */
class GraftHiveCatalog extends GraftJdbcCatalog {

  private var jdoUri: Option[String] = None

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    super.initialize(name, options)
    jdoUri = Option(options.get("jdo-uri")).filter(_.nonEmpty)
  }

  override protected def newStore(): CatalogStore =
    new HiveCatalogStore(Option(uri).filter(_.nonEmpty), jdoUri, warehouse)
}
