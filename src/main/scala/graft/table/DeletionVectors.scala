package graft.table

import java.io.{DataInputStream, DataOutputStream, EOFException, InputStream}
import java.util.UUID
import java.util.zip.CRC32

import graft.meta.model._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration
import org.roaringbitmap.longlong.Roaring64Bitmap

/** Roaring-bitmap DELETION VECTORS: the alternative position-delete
  * representation behind `write.delete.vectors.enabled` (the public format
  * lineage's v3 evolution of position deletes — the incubator reference era
  * ships only (path, pos) parquet files; DVs are re-expressed here from the
  * published spec shape: one bitmap per targeted data file, many bitmaps
  * packed into shared sidecar files, manifest entries addressing each blob
  * by (path, content-offset, content-size, referenced-file)).
  *
  * Why at 100 TB: a (path, pos) parquet representation makes every
  * merge-on-read scan re-read and re-hash ALL applicable delete rows — at
  * high delete density that probe-set build is itself a big-data job riding
  * on every query. A DV is fetched in ONE ranged read per data file, is
  * already position-indexed (no sort, no hash build), and stays
  * memory-bounded at any density (a 100M-row tombstone set is ~12 MB of
  * roaring bitmap vs 800 MB of sorted longs). Writes pack every blob of a
  * task into one sidecar, so delete-file COUNT stays O(write parallelism),
  * not O(data files touched).
  *
  * Blob layout (own framing, CRC'd): `[magic "GDV1"][payload len: int]
  * [Roaring64Bitmap portable bytes][crc32 of payload: int]`. Offsets in the
  * manifest address the PLAINTEXT byte space — encrypted sidecars are
  * written through the manager's chunked-GCM stream whose seekable reader
  * ([[EncryptionManager.decryptSeekable]]) seeks plaintext offsets, so the
  * same (offset, size) pair works sealed or plain.
  */
object DeletionVectors {

  val Magic: Int = 0x47445631 // "GDV1"

  /** One decoded sidecar-blob descriptor produced on the executors. */
  private final case class BlobDesc(referencedPath: String, sidecarPath: String,
      offset: Long, size: Long, cardinality: Long, sidecarLen: Long)

  // ------------------------------------------------------------------ write

  /** Write DV sidecars for `posDf` (file_path, pos) and return one
    * [[DataFileMeta]] per referenced data file (content =
    * [[FileContent.DeletionVectors]]). Distributed: positions shuffle to
    * their target file's partition, each task packs its files' bitmaps into
    * ONE sidecar; only blob descriptors (one row per referenced file —
    * metadata-scale) return to the driver. Task retries/speculation write
    * fresh UUID-named sidecars; abandoned attempts are unreferenced and
    * swept by orphan cleanup, like any uncommitted write. */
  private[table] def writeSidecars(table: IceTable, m: TableMetadata,
      posDf: DataFrame,
      affected: Option[Seq[FileScanTask]]): (Seq[DataFileMeta], Set[String]) = {
    Writes.requireEncryptionSatisfied(table, m)
    val spark = table.spark
    val outDir = Locations.newWriteDir(table.location, m,
      s"deletes-${UUID.randomUUID()}")
    table.io.mkdirs(outDir)
    val enc = table.io.encryption
    val confB = spark.sparkContext.broadcast(new SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration))
    import spark.implicits._
    val rows = posDf
      .select(col(MergeOnRead.PosPathCol).cast("string"),
        col(MergeOnRead.PosPosCol).cast("long"))
      .dropDuplicates(MergeOnRead.PosPathCol, MergeOnRead.PosPosCol)
      // all positions of one data file must land in one task; sorting by
      // (path, pos) makes each file's positions a consecutive ascending run
      // (roaring append path) and the blob layout deterministic
      .repartition(col(MergeOnRead.PosPathCol))
      .sortWithinPartitions(col(MergeOnRead.PosPathCol),
        col(MergeOnRead.PosPosCol))
    val descs: Seq[BlobDesc] = rows
      .mapPartitions { it =>
        if (it.isEmpty) Iterator.empty
        else {
          val conf = confB.value.value
          val sidecar = s"$outDir/dv-${UUID.randomUUID()}.gdv"
          val p = new Path(sidecar)
          val raw = FileIO.fileSystem(p, conf).create(p, false)
          val counted = new CountingOutputStream(enc.encrypt(sidecar, raw))
          val out = new DataOutputStream(counted)
          val descs = scala.collection.mutable.ArrayBuffer.empty[BlobDesc]
          var curPath: String = null
          var bm: Roaring64Bitmap = null
          def flush(): Unit = if (bm != null) {
            val off = counted.count
            writeBlob(out, bm)
            descs += BlobDesc(GraftPaths.norm(curPath), sidecar, off,
              counted.count - off, bm.getLongCardinality, -1L)
          }
          it.foreach { r =>
            val path = r.getString(0)
            if (path != curPath) { flush(); curPath = path; bm = new Roaring64Bitmap }
            bm.addLong(r.getLong(1))
          }
          flush()
          out.close()
          descs.iterator.map(d => (d.referencedPath, d.sidecarPath, d.offset,
            d.size, d.cardinality))
        }
      }
      .collect().toSeq
      .map { case (rp, sp, off, sz, card) => BlobDesc(rp, sp, off, sz, card, -1L) }
    if (descs.isEmpty) { table.io.deleteRecursive(outDir); return (Nil, Set.empty) }
    // sidecar physical lengths (encrypted length ≠ plaintext offset space)
    val lenByPath = descs.map(_.sidecarPath).distinct
      .map(p => p -> table.io.stat(p).map(_.getLen).getOrElse(0L)).toMap
    // partition scope: each DV inherits its referenced file's partition, so
    // scan-group prefilters skip it exactly like a scoped pos-delete file
    val spec = m.spec
    val partByPath: Map[String, Seq[Any]] =
      affected.getOrElse(table.newScan().planFiles())
        .filter(_.file.specId == spec.specId)
        .map(t => GraftPaths.norm(t.file.path) -> t.file.partition).toMap
    val metas = descs.map { d =>
      DataFileMeta(
        path = d.sidecarPath, format = "gdv",
        specId = m.defaultSpecId,
        partition = partByPath.getOrElse(d.referencedPath,
          spec.fields.map(_ => null)),
        recordCount = d.cardinality,
        fileSizeBytes = lenByPath(d.sidecarPath),
        schemaId = m.currentSchemaId,
        content = FileContent.DeletionVectors,
        referencedFile = Some(d.referencedPath),
        contentOffset = Some(d.offset),
        contentSize = Some(d.size),
        keyMetadata = enc.keyMetadata(d.sidecarPath) match {
          case Some(km) => Some(km)
          case None => None
        })
    }
    (metas, descs.map(_.referencedPath).toSet)
  }

  private def writeBlob(out: DataOutputStream, bm: Roaring64Bitmap): Unit = {
    bm.runOptimize()
    val payload = new java.io.ByteArrayOutputStream(
      bm.serializedSizeInBytes().toInt + 16)
    bm.serialize(new DataOutputStream(payload))
    val bytes = payload.toByteArray
    val crc = new CRC32
    crc.update(bytes)
    out.writeInt(Magic)
    out.writeInt(bytes.length)
    out.write(bytes)
    out.writeInt(crc.getValue.toInt)
  }

  /** Plaintext-byte-counting wrapper: blob offsets are recorded in the
    * space BEFORE encryption so sealed and plain sidecars share one
    * addressing scheme. */
  private final class CountingOutputStream(under: java.io.OutputStream)
      extends java.io.OutputStream {
    var count: Long = 0L
    override def write(b: Int): Unit = { under.write(b); count += 1 }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      under.write(b, off, len); count += len
    }
    override def flush(): Unit = under.flush()
    override def close(): Unit = under.close()
  }

  // ------------------------------------------------------------------- read

  /** Fetch ONE blob's bitmap: a ranged read of `contentSize` bytes at
    * `contentOffset` (seekable-decrypted for sealed sidecars), CRC-checked.
    * `conf` + `encryption` instead of a FileIO so executors can call it
    * with their reconstructed handles. */
  def readBitmap(conf: org.apache.hadoop.conf.Configuration,
      encryption: EncryptionManager, meta: DataFileMeta): Roaring64Bitmap = {
    require(meta.content == FileContent.DeletionVectors,
      s"${meta.path}: not a deletion vector (content=${meta.content})")
    val offset = meta.contentOffset.getOrElse(0L)
    val p = new Path(meta.path)
    val fs = p.getFileSystem(conf)
    val raw = fs.open(p)
    val in: InputStream =
      if (encryption == PlaintextEncryptionManager) { raw.seek(offset); raw }
      else encryption.decryptSeekable(meta.path, raw, meta.fileSizeBytes,
          meta.keyMetadata) match {
        case Some(seekable) =>
          seekable.seek(offset)
          new InputStream {
            private val one = new Array[Byte](1)
            override def read(): Int =
              if (read(one, 0, 1) < 0) -1 else one(0) & 0xff
            override def read(b: Array[Byte], off: Int, len: Int): Int =
              seekable.read(b, off, len)
            override def close(): Unit = seekable.close()
          }
        case None =>
          // stream-only custom manager: whole-decrypt then skip — correct,
          // just not ranged; executor caching amortizes it
          val whole = encryption.decrypt(meta.path, raw, meta.keyMetadata)
          whole.skipNBytes(offset)
          whole
      }
    try readBlob(new DataInputStream(in), meta.path)
    finally in.close()
  }

  private def readBlob(in: DataInputStream, path: String): Roaring64Bitmap = {
    val magic = in.readInt()
    require(magic == Magic,
      s"$path: bad deletion-vector magic 0x${magic.toHexString} (corrupt " +
        "blob or wrong offset)")
    val len = in.readInt()
    require(len >= 0 && len <= (1 << 30), s"$path: corrupt DV blob length $len")
    val bytes = new Array[Byte](len)
    in.readFully(bytes)
    val storedCrc = in.readInt()
    val crc = new CRC32
    crc.update(bytes)
    require(crc.getValue.toInt == storedCrc,
      s"$path: deletion-vector blob CRC mismatch — corrupt sidecar")
    val bm = new Roaring64Bitmap
    bm.deserialize(new DataInputStream(new java.io.ByteArrayInputStream(bytes)))
    bm
  }

  /** Expand DV metas back into (file_path, pos) rows — the bridge into
    * every code path that consumes the parquet representation (changelog
    * reconstruction, the `position_deletes` metadata table, rewrite/convert
    * maintenance). Distributed: one task per blob,
    * positions streamed off the bitmap iterator, never collected. */
  def positionsDf(table: IceTable, metas: Seq[DataFileMeta]): DataFrame = {
    val spark = table.spark
    import spark.implicits._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(MergeOnRead.PosPathCol,
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField(MergeOnRead.PosPosCol,
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("_gf_dv_path",
        org.apache.spark.sql.types.StringType)))
    if (metas.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], schema)
    val enc = table.io.encryption
    val confB = spark.sparkContext.broadcast(new SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration))
    val blobs = metas.map(f => (f.path, f.contentOffset.getOrElse(0L),
      f.contentSize.getOrElse(0L), f.fileSizeBytes,
      f.referencedFile.getOrElse(""),
      f.keyMetadata.map(_.toArray).orNull))
    val n = math.max(1, math.min(blobs.size,
      spark.sparkContext.defaultParallelism))
    spark.createDataset(blobs).repartition(n)
      .flatMap { case (path, off, size, fileLen, ref, km) =>
        val meta = DataFileMeta(path = path, format = "gdv", specId = 0,
          partition = Nil, recordCount = 0L, fileSizeBytes = fileLen,
          content = FileContent.DeletionVectors,
          referencedFile = Some(ref), contentOffset = Some(off),
          contentSize = Some(size),
          keyMetadata = Option(km).map(_.toSeq))
        val bm = readBitmap(confB.value.value, enc, meta)
        val it = bm.getLongIterator
        new Iterator[(String, Long, String)] {
          override def hasNext: Boolean = it.hasNext
          override def next(): (String, Long, String) = (ref, it.next(), path)
        }
      }
      .toDF(MergeOnRead.PosPathCol, MergeOnRead.PosPosCol, "_gf_dv_path")
  }
}
