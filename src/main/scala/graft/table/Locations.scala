package graft.table

import graft.meta.model.TableMetadata

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.regexp_replace

/** Data-file location selection (ref `core/.../LocationProviders.java:34`).
  *
  * Default layout writes under `<table>/data` (or
  * `write.folder-storage.path` when set). The object-store layout
  * (`write.object-storage.enabled`, ref `ObjectStoreLocationProvider`)
  * prepends an 8-hex-digit murmur3 hash —
  * `<storage>/<%08x hash>/<db/table>/<name>` with storage =
  * `write.object-storage.path` (falling back to the folder path) — so
  * sustained writes spread across key prefixes instead of hammering one:
  * S3-style stores rate-limit PER PREFIX, and at 100 TB a single
  * `<table>/data/` prefix throttles every writer and compactor at once.
  *
  * Spark adaptation: the ref's native writers place each FILE
  * individually; under Spark the committer owns placement below the write
  * root, so the hash prefix applies per write directory — one per commit,
  * per compaction group, and per delete-file write. Concurrent streams,
  * compaction groups, and maintenance jobs land on distinct prefixes,
  * which is the sustained-load throttle case the layout exists for.
  * Readers are unaffected: manifests record absolute paths.
  */
object Locations {
  private def strip(s: String) = s.stripSuffix("/")

  /** The default (non-hashed) data root. */
  def dataRoot(location: String, m: TableMetadata): String =
    strip(m.property("write.folder-storage.path", s"$location/data"))

  /** True when some write roots may live outside the table location —
    * drops must then delete reachable files, not just the table dir. */
  def mayWriteOutsideTable(location: String, m: TableMetadata): Boolean = {
    def foreign(p: String) = !strip(p).startsWith(strip(location) + "/")
    m.properties.get("write.folder-storage.path").exists(foreign) ||
      m.properties.get("write.object-storage.path").exists(foreign)
  }

  /** A fresh write directory for one commit's files. */
  def newWriteDir(location: String, m: TableMetadata, name: String): String =
    if (m.property("write.object-storage.enabled", "false").toBoolean) {
      val storage = strip(m.property("write.object-storage.path",
        dataRoot(location, m)))
      val hash = graft.meta.transforms.Murmur3
        .hashBytes(name.getBytes(java.nio.charset.StandardCharsets.UTF_8)) & Int.MaxValue
      // db/table context keeps hashed paths attributable to their table
      // (ref ObjectStoreLocationProvider.pathContext)
      val ctx = strip(location).split('/').filter(_.nonEmpty).takeRight(2).mkString("/")
      f"$storage/$hash%08x/$ctx/$name"
    } else s"${dataRoot(location, m)}/$name"
}

/** Path normalization: stored paths may be "file:///p" or "file:/p", and
  * every comparison of two paths uses the scheme-less "/p". An object, so
  * executor-side closures that call it ship no table handle. */
private[graft] object GraftPaths {
  def norm(p: String): String = new org.apache.hadoop.fs.Path(p).toUri.getPath

  /** The Column form of [[norm]]: strips the URI scheme in a query. */
  def normCol(c: Column): Column = regexp_replace(c, "^[a-zA-Z0-9.+-]+:/+", "/")
}
