package graft.spark

import graft.table.{CatalogStore, RestCatalogStore}

import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** [[GraftJdbcCatalog]] with the pointer store behind an HTTP catalog
  * service ([[RestCatalogStore]]) instead of a direct database
  * connection — the service-fronted commit-protocol class (the direction
  * REST catalog services took after the incubator reference's
  * file/JDBC/Hive pointers; see `core/.../jdbc/JdbcCatalog.java` for the
  * row-CAS this fronts). The
  * service owns authentication and the commit point; Spark clusters talk
  * to it with a handful of small pointer requests per query or commit and
  * never hold database credentials. Register with:
  *
  * {{{
  * spark.conf.set("spark.sql.catalog.grc", "graft.spark.GraftRestCatalog")
  * spark.conf.set("spark.sql.catalog.grc.warehouse", "/shared/warehouse")
  * spark.conf.set("spark.sql.catalog.grc.uri", "http://catalog:8181")
  * spark.conf.set("spark.sql.catalog.grc.token", "…")   // optional bearer
  * }}}
  *
  * Everything above the store — staging, rename-as-pointer-update,
  * drop/purge, register_table, metadata-file naming, conflict retries — is
  * the [[GraftJdbcCatalog]] machinery; the one semantic addition is
  * [[graft.table.CommitStateUnknownException]] on transport failures
  * during a pointer swap, which MUST NOT be retried as a clean conflict
  * (the swap may have landed server-side). */
class GraftRestCatalog extends GraftJdbcCatalog {

  private var token: Option[String] = None

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    super.initialize(name, options)
    require(uri != null && (uri.startsWith("http://") || uri.startsWith("https://")),
      s"Catalog $name requires spark.sql.catalog.$name.uri to be the " +
        s"catalog service's http(s) address (got: $uri)")
    token = Option(options.get("token")).filter(_.nonEmpty)
  }

  override protected def newStore(): CatalogStore =
    new RestCatalogStore(uri, token)
}
