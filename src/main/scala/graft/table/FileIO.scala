package graft.table

import java.nio.charset.StandardCharsets

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** Hadoop-FS file IO for metadata (works on local, HDFS, and HDFS-compatible
  * stores). Commit atomicity (ref `core/.../hadoop/HadoopTableOperations.java`)
  * comes from rename-without-overwrite; on the local FS we get a true CAS via
  * hard-link creation, which atomically fails if the target exists.
  *
  * LOCAL FILES: every path resolves through [[FileIO.fileSystem]], so a
  * local file or directory this IO creates gets its mode set in-process
  * ([[LocalFs]]) rather than by a `chmod` child process, and listings load
  * no permissions (each would start an `ls -ld` without `libhadoop`).
  *
  * METADATA CONFIDENTIALITY: when `encryption` is non-plaintext, every
  * string file written through this IO (table metadata JSON, manifest
  * lists, jsonl manifests, stats files) is SEALED with the manager's
  * chunked-GCM stream — manifests store actual column values (lower/upper
  * bounds, partition values), so leaving them plaintext next to encrypted
  * data files would hand an attacker the very values Parquet Modular
  * Encryption seals inside footers. Only `version-hint.text` (a bare
  * version number, no data) stays plaintext. Reads sniff the GAC1 magic,
  * so pre-encryption plaintext metadata in a later-keyed table keeps
  * loading, while a plaintext handle REFUSES sealed metadata loudly
  * instead of parsing ciphertext.
  */
final class FileIO(@transient val conf: Configuration,
    /** Table-data encryption hook (ref `EncryptionManager`): plaintext
      * pass-through by default; a KMS-backed manager slots in here. */
    val encryption: EncryptionManager = PlaintextEncryptionManager,
    /** Caller-asserted `requireSealedMetadata` starting value: the STORED
      * `graft.encryption.required` property alone is advisory for an
      * attacker who can write the metadata tree — the latch bootstraps
      * from the current metadata JSON, which itself is read through this
      * IO, so a forged plaintext metadata JSON that omits the property
      * would disable every downstream forgery guard in one move. A caller
      * who KNOWS the table must be sealed (loader option
      * `encryption-required`, catalog conf, executor-side reconstruction
      * of a driver-latched handle) passes true here and the very first
      * metadata read refuses plaintext. Leave false only for the
      * legitimate plaintext-bootstrap flows (later-keyed mixed tables,
      * KeyRotationManager plaintext adoption). */
    requireSealed: Boolean = false)
    extends Serializable {
  require(!requireSealed || encryption != PlaintextEncryptionManager,
    "encryption-required asserted on a plaintext FileIO — a plaintext " +
      "handle can never read sealed metadata; supply the table's keyed manager")
  private def fs(p: Path): FileSystem = FileIO.fileSystem(p, conf)

  /** Gzip-compressed metadata files (ref `TableMetadataParser.Codec`) are
    * recognized by name — `v3.gz.metadata.json` / legacy `*.metadata.json.gz`. */
  private def isGzipName(name: String): Boolean =
    name.endsWith(".gz") || name.contains(".gz.metadata.json")

  /** Should a metadata file at `keyPath` be sealed? Everything except the
    * version hint — the hint is a bare integer read by humans and external
    * catalogs before any key is in hand. */
  private def seal(keyPath: String): Boolean =
    encryption != PlaintextEncryptionManager &&
      !keyPath.endsWith("version-hint.text")

  /** Set (by [[IceTable]]) once the table's metadata declares
    * `graft.encryption.required`: from then on a PLAINTEXT metadata file
    * under this keyed handle is refused as a possible forgery — an
    * attacker with storage write access must not be able to swap a sealed
    * manifest for a crafted plaintext one. Advisory-latching (never unset)
    * and volatile so executor-serialized copies carry the value. */
  @volatile var requireSealedMetadata: Boolean = requireSealed

  def readString(path: String): String = {
    val p = new Path(path)
    val raw = fs(p).open(p)
    val bytes = try raw.readAllBytes() finally raw.close()
    val plain =
      if (encryption == PlaintextEncryptionManager) {
        if (AesGcmEncryptionManager.isEncrypted(bytes))
          throw new IllegalStateException(
            s"$path is encrypted table metadata but this handle's encryption " +
              "manager is plaintext — load the table with its keyed manager")
        bytes
      } else if (encryption.recognizesSealed(bytes)) {
        encryption.decryptMetadata(path, bytes)
      } else {
        // plaintext metadata under a keyed handle: legitimate for a table
        // encrypted later — but once the table REQUIRES encryption, a
        // plaintext metadata file is a forged substitute, not history
        // (version-hint stays exempt via seal())
        if (requireSealedMetadata && seal(path))
          throw new IllegalStateException(
            s"$path is plaintext but this table requires encryption " +
              s"(${graft.meta.model.TableProperties.EncryptionRequired}) — " +
              "refusing a possibly forged metadata file")
        bytes
      }
    val content =
      if (isGzipName(p.getName)) {
        val in = new java.util.zip.GZIPInputStream(
          new java.io.ByteArrayInputStream(plain))
        try in.readAllBytes() finally in.close()
      } else plain
    new String(content, StandardCharsets.UTF_8)
  }

  def readLines(path: String): Iterator[String] =
    readString(path).linesIterator.filter(_.nonEmpty)

  def writeString(path: String, content: String): Long =
    writeStringKeyed(path, path, content)

  /** Counts bytes through to `out` — the on-disk length without a
    * getFileStatus round trip per metadata write (object stores charge an
    * RPC for it; every commit writes several small files this way). */
  private final class CountingStream(out: java.io.OutputStream)
      extends java.io.FilterOutputStream(out) {
    var count: Long = 0L
    override def write(b: Int): Unit = { out.write(b); count += 1 }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      out.write(b, off, len); count += len
    }
  }

  /** Write to `path` but derive the encryption key (and gzip decision) from
    * `keyPath` — atomic publishes write a temp NAME that later renames to
    * the final one, and per-file keys are a pure function of the name. */
  private def writeStringKeyed(path: String, keyPath: String,
      content: String): Long = {
    val p = new Path(path)
    val counting = new CountingStream(fs(p).create(p, true))
    val bytes = content.getBytes(StandardCharsets.UTF_8)
    // the raw stream must not leak if the seal header write or the gzip
    // constructor throws — nothing below owns it until the wrappers exist
    try {
      // seal OUTERMOST (nothing plaintext on disk), compress inside
      val enc: java.io.OutputStream =
        if (seal(keyPath)) encryption.encrypt(keyPath, counting) else counting
      if (isGzipName(new Path(keyPath).getName)) {
        val out = new java.util.zip.GZIPOutputStream(enc)
        try out.write(bytes) finally out.close()
      } else {
        try enc.write(bytes) finally enc.close()
      }
    } catch { case e: Throwable =>
      try counting.close() catch { case _: Exception => () }
      throw e
    }
    counting.count
  }

  /** Atomically publish `content` at `path`; returns false if `path` already
    * exists (lost the race). */
  def writeAtomic(path: String, content: String): Boolean = {
    val p = new Path(path)
    val f = fs(p)
    if (f.exists(p)) return false
    val tmp = new Path(p.getParent, s".${p.getName}.${java.util.UUID.randomUUID}.tmp")
    writeStringKeyed(tmp.toString, path, content)
    try {
      if (p.toUri.getScheme == null || p.toUri.getScheme == "file") {
        val target = java.nio.file.Paths.get(p.toUri.getPath)
        val src = java.nio.file.Paths.get(tmp.toUri.getPath)
        try {
          java.nio.file.Files.createLink(target, src)
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      } else {
        f.rename(tmp, p) // HDFS rename fails (returns false) when dest exists
      }
    } finally f.delete(tmp, false)
  }

  def exists(path: String): Boolean = { val p = new Path(path); fs(p).exists(p) }

  def stat(path: String): Option[FileStatus] = {
    val p = new Path(path)
    try Some(fs(p).getFileStatus(p))
    catch { case _: java.io.FileNotFoundException => None }
  }

  def delete(path: String): Boolean = {
    val p = new Path(path); fs(p).delete(p, false)
  }

  def deleteRecursive(path: String): Boolean = {
    val p = new Path(path); fs(p).delete(p, true)
  }

  def mkdirs(path: String): Unit = { val p = new Path(path); fs(p).mkdirs(p) }

  def rename(from: String, to: String): Boolean = {
    val f = new Path(from); fs(f).rename(f, new Path(to))
  }

  /** Every file under `dir` (Nil when it is missing), walked with plain
    * statuses: `listFiles` copies each entry's permission, owner and group
    * into a `LocatedFileStatus` (an `ls -ld` child process per entry on a
    * local tree without `libhadoop`) and looks up its block locations. */
  def listRecursive(dir: String): Seq[FileStatus] = {
    val p = new Path(dir)
    val f = fs(p)
    if (!f.exists(p)) return Nil
    val out = ArrayBuffer[FileStatus]()
    def walk(d: Path): Unit = {
      val it = f.listStatusIterator(d)
      while (it.hasNext) {
        val s = it.next()
        if (s.isDirectory) walk(s.getPath) else out += s
      }
    }
    walk(p)
    out.toSeq
  }

  def list(dir: String): Seq[FileStatus] = {
    val p = new Path(dir)
    val f = fs(p)
    if (!f.exists(p)) Nil else f.listStatus(p).toSeq
  }
}

object FileIO {
  /** The filesystem the engine reads and creates `p` through: [[LocalFs]]
    * for a local path (a `file` path, or a scheme-less one under a `file`
    * default FS) when `conf` names no `fs.file.impl`, else Hadoop's own
    * resolution. A configured `file` class (a user's wrapper, a tracing
    * filesystem) always wins. */
  def fileSystem(p: Path, conf: Configuration): FileSystem = {
    val scheme = Option(p.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    if (scheme != "file" || namesLocalClass(conf)) p.getFileSystem(conf)
    else {
      val fs = org.apache.hadoop.util.ReflectionUtils.newInstance(classOf[LocalFs], conf)
      fs.initialize(LocalUri, conf)
      fs
    }
  }

  private val LocalImplKey = "fs.file.impl"
  private val LocalUri = java.net.URI.create("file:///")

  /** Does `conf` name its own `file` filesystem class? */
  private def namesLocalClass(conf: Configuration): Boolean =
    Option(conf.getTrimmed(LocalImplKey)).exists(_.nonEmpty)

  /** Per-write Hadoop options under which Spark's write tasks resolve
    * [[LocalFs]] for `file` paths, or none when the Hadoop conf or the
    * session conf names its own `file` class. The cache is bypassed: it is
    * keyed by scheme, not class, and would return the JVM's stock instance. */
  private[table] def localFsOptions(conf: Configuration,
      session: org.apache.spark.sql.SparkSession): Map[String, String] =
    if (namesLocalClass(conf) ||
        session.conf.getOption(LocalImplKey).exists(_.trim.nonEmpty)) Map.empty
    else Map(LocalImplKey -> classOf[LocalFs].getName,
      s"$LocalImplKey.disable.cache" -> "true")
}
