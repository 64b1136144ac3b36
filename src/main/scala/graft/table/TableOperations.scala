package graft.table

import graft.meta.model.{JsonCodecs, MetadataLogEntry, TableMetadata}

import org.apache.hadoop.conf.Configuration

class CommitFailedException(msg: String) extends RuntimeException(msg)
/** Every CAS of [[TableOps.commitWithRetry]] returned false: a definite
  * failure, nothing an attempt wrote is referenced. */
private[table] final class CommitRetriesExhaustedException(msg: String)
    extends CommitFailedException(msg)
class ValidationException(msg: String) extends RuntimeException(msg)
class NoSuchTableException(msg: String) extends RuntimeException(msg)

/** A table's versioned metadata pointer: read the current (version,
  * metadata) and CAS-commit a successor. Where the pointer lives is the
  * backend's choice — an atomically-renamed file ([[TableOperations]]) or a
  * catalog store's entry ([[PointerTableOperations]]: a database row, a
  * catalog service or a Hive metastore table); metadata JSON files
  * themselves always live under `<location>/metadata/`. */
trait TableOps {
  def location: String
  def io: FileIO
  def exists: Boolean
  def current(): (Int, TableMetadata)
  /** CAS-commit `meta` as version `expectedVersion + 1`; false on conflict. */
  def commit(expectedVersion: Int, meta: TableMetadata): Boolean

  def currentOption(): Option[(Int, TableMetadata)] =
    if (exists) Some(current()) else None

  /** Optimistic retry loop (ref `Tasks.foreach` w/ 4 retries + backoff). */
  def commitWithRetry(retries: Int)(update: TableMetadata => TableMetadata): TableMetadata = {
    var attempt = 0
    while (true) {
      val (version, base) = current()
      val newMeta = update(base)
      if (commit(version, newMeta)) return newMeta
      attempt += 1
      if (attempt > retries)
        throw new CommitRetriesExhaustedException(
          s"Commit failed after $retries retries at $location (version $version)")
      // exponential backoff with jitter (ref util/Tasks.java:423 —
      // `commit.retry.min-wait-ms` / `max-wait-ms`): without the random
      // factor, N writers that collided once re-collide on every retry
      val minWait = base.property("commit.retry.min-wait-ms", "100").toLong
      val maxWait = base.property("commit.retry.max-wait-ms", "5000").toLong
      val backoff = math.min(
        minWait * math.pow(2.0, (attempt - 1).toDouble), maxWait.toDouble)
      Thread.sleep(math.max(1L,
        (backoff * (0.5 + scala.util.Random.nextDouble() * 0.5)).toLong))
    }
    throw new IllegalStateException("unreachable")
  }
}

/** Metadata-log housekeeping shared by every commit path (ref
  * `core/.../TableMetadata.java` previous-files trimming +
  * `HadoopTableOperations.deleteRemovedMetadataFiles:403`): without it a
  * long-lived table's metadata JSON grows one log entry per commit forever
  * — at one commit a minute that is ~0.5M entries a year riding along in
  * EVERY metadata read. `write.metadata.previous-versions-max` (default
  * 100) bounds the log; `write.metadata.delete-after-commit.enabled`
  * (default false — object-store listings may be consistent but other
  * readers' time travel is not) also deletes the dropped files. */
object MetadataHousekeeping {
  def trim(meta: TableMetadata): (TableMetadata, Seq[String]) = {
    val max = math.max(1,
      meta.property("write.metadata.previous-versions-max", "100").toInt)
    if (meta.metadataLog.size <= max) (meta, Nil)
    else {
      val removed = meta.metadataLog.dropRight(max)
      val trimmed = meta.copy(metadataLog = meta.metadataLog.takeRight(max))
      val del = meta
        .property("write.metadata.delete-after-commit.enabled", "false").toBoolean
      (trimmed, if (del) removed.map(_.file) else Nil)
    }
  }

  /** Best-effort file removal AFTER a successful commit — a failed delete
    * leaves an orphan (cleaned by maintenance), never a failed commit. */
  def deleteQuietly(io: FileIO, files: Seq[String]): Unit =
    files.foreach { f =>
      try io.delete(f)
      catch { case scala.util.control.NonFatal(_) => }
    }
}

/** Shared half of catalog `registerTable`: parse an existing metadata file
  * and derive its pointer version from the `v{N}` filename convention. */
object RegisterTable {
  def parse(io: FileIO, metadataLocation: String): (TableMetadata, Int) = {
    val meta = JsonCodecs.tableMetadataFromJson(io.readString(metadataLocation))
    val version = "v(\\d+)".r.findFirstMatchIn(metadataLocation.split('/').last)
      .map(_.group(1).toInt).getOrElse(1)
    (meta, version)
  }
}

/** Filesystem-backed [[TableOps]] with optimistic CAS commit (ref
  * `core/.../hadoop/HadoopTableOperations.java` + the retry loop of
  * `core/.../SnapshotProducer.java:270`). Metadata lives at
  * `<location>/metadata/v{N}.metadata.json`; `version-hint.text` caches the
  * latest N (advisory — the scan fallback is authoritative).
  */
final class TableOperations(val location: String, val io: FileIO) extends TableOps {
  private def metadataDir = s"$location/metadata"
  private def plainFile(v: Int) = s"$metadataDir/v$v.metadata.json"
  private def gzFile(v: Int) = s"$metadataDir/v$v.gz.metadata.json"
  // resolve an existing version to whichever codec wrote it (ref
  // TableMetadataParser.Codec file naming); memoized — immutable once written
  private val fileNames = new java.util.concurrent.ConcurrentHashMap[Int, String]
  private def metadataFile(v: Int): String =
    fileNames.computeIfAbsent(v, _ =>
      if (io.exists(plainFile(v))) plainFile(v)
      else if (io.exists(gzFile(v))) gzFile(v)
      else plainFile(v))
  private def metadataFileExists(v: Int): Boolean =
    io.exists(plainFile(v)) || io.exists(gzFile(v))
  private def versionHint = s"$metadataDir/version-hint.text"

  def exists: Boolean = currentVersion() > 0

  private val VersionName = """v(\d+)(?:\.gz)?\.metadata\.json""".r

  def currentVersion(): Int = {
    val hinted =
      if (io.exists(versionHint)) {
        try io.readString(versionHint).trim.toInt catch { case _: Exception => 0 }
      } else 0
    // roll forward past a stale hint (hint update is best-effort)
    var v = math.max(hinted, 0)
    if (v > 0) {
      while (metadataFileExists(v + 1)) v += 1
      if (metadataFileExists(v)) return v
    }
    // no usable hint, OR the hinted version no longer exists (a restored or
    // externally-written hint can point below the delete-after-commit
    // retention floor): recover by LISTING — probing up from the hint
    // breaks when early versions are gone (a healthy 200-commit table may
    // hold only v101..v200). Whole-name match only: crashed commits leave
    // .vN...tmp files whose names CONTAIN a version pattern.
    io.list(metadataDir).iterator
      .map(_.getPath.getName)
      .collect { case VersionName(n) => n.toInt }
      .maxOption.getOrElse(0)
  }

  // metadata files are immutable once written (CAS creates v+1, never
  // rewrites v), so parsing each version once is safe; without this every
  // `.meta` access re-reads and re-parses the full JSON — on a table with
  // thousands of snapshots that's the dominant driver-side planning cost.
  // The file's (length, mtime) ride along in the key: a table dropped and
  // rebuilt at the same location restarts version numbering, so the same
  // v-N name can hold DIFFERENT content (e.g. IvfIndex.build's staged swap)
  @volatile private var cached: (Int, Long, Long, TableMetadata) = _

  def current(): (Int, TableMetadata) = {
    val v = currentVersion()
    if (v == 0) throw new NoSuchTableException(s"No table at $location")
    var name = metadataFile(v)
    var st = io.stat(name)
    if (st.isEmpty) {
      // drop-and-rebuild at the same location can re-create a version under
      // the OTHER codec's name — re-resolve instead of trusting the memo
      fileNames.remove(v)
      name = metadataFile(v)
      st = io.stat(name)
    }
    val (len, mod) = st.map(s => (s.getLen, s.getModificationTime)).getOrElse((-1L, -1L))
    val c = cached
    if (c != null && c._1 == v && c._2 == len && c._3 == mod) (c._1, c._4)
    else {
      val fresh = JsonCodecs.tableMetadataFromJson(io.readString(name))
      cached = (v, len, mod, fresh)
      (v, fresh)
    }
  }

  /** CAS-commit `meta` as version `expectedVersion + 1`. */
  override def commit(expectedVersion: Int, meta: TableMetadata): Boolean = {
    val nowMs = System.currentTimeMillis()
    val withLog =
      if (expectedVersion == 0) meta
      else meta.copy(metadataLog = meta.metadataLog :+
        MetadataLogEntry(nowMs, metadataFile(expectedVersion)))
    val (trimmed, dropped) = MetadataHousekeeping.trim(withLog)
    io.mkdirs(metadataDir)
    // The atomic create is a true CAS only if every committer races on ONE
    // name — so the codec (and thus the file name) comes from the BASE
    // metadata, which all racers at this expectedVersion read identically.
    // A codec-property change therefore takes effect one commit later: the
    // commit that sets it is still written under the old codec's name.
    // v1 is ALWAYS plain-named: at creation there is no base to agree on,
    // so two concurrent creators with different codec settings would CAS on
    // different names and both "win". The codec takes effect from v2.
    val gzip =
      if (expectedVersion == 0) false
      else {
        val c = cached
        val base =
          if (c != null && c._1 == expectedVersion) c._4
          else JsonCodecs.tableMetadataFromJson(
            io.readString(metadataFile(expectedVersion)))
        base.property("write.metadata.compression-codec", "none") == "gzip"
      }
    val next = if (gzip) gzFile(expectedVersion + 1) else plainFile(expectedVersion + 1)
    val ok = io.writeAtomic(next, JsonCodecs.tableMetadataToJson(trimmed))
    if (ok) {
      io.writeString(versionHint, (expectedVersion + 1).toString)
      MetadataHousekeeping.deleteQuietly(io, dropped)
    }
    ok
  }
}
