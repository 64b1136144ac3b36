package graft.table

import graft.meta.{PartitionSpec, Schema}
import graft.meta.expr.Literals
import graft.meta.model._

import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Manifest read/write (ref `core/.../ManifestReader.java`,
  * `ManifestWriter`, `PartitionSummary.java`): per-partition-field range
  * summaries for manifest-level pruning, entries in one of two formats
  * dispatched by file extension:
  *
  *  - `.parquet` (default for new manifests) — binary columnar, the analogue
  *    of the reference's Avro manifests (`ManifestReader.java:53`): hot
  *    fields (`path`, counts, content) are real columns, so maintenance
  *    jobs scanning only paths read one dictionary-compressed column; the
  *    remaining nested fields ride in a compressed JSON column.
  *  - `.jsonl` — one JSON object per line; still written when
  *    `write.metadata.manifest-format=jsonl` and always readable (old
  *    tables keep loading).
  */
object ManifestIO {

  /** Fresh manifest path honoring the table's manifest-format property.
    * A non-plaintext manager that cannot drive Parquet Modular Encryption
    * (stream-only, not [[KeyedFileEncryption]]) forces `jsonl` — sealed by
    * the manager's own streams via [[FileIO.writeString]] — so manifest
    * confidentiality never silently depends on the manager's kind. */
  def newPath(metadataDir: String, m: TableMetadata, io: FileIO): String = {
    val streamOnly = io.encryption != PlaintextEncryptionManager &&
      !io.encryption.isInstanceOf[KeyedFileEncryption]
    val ext = m.property(TableProperties.ManifestFormat,
      TableProperties.ManifestFormatDefault) match {
      case _ if streamOnly => "jsonl"
      case "jsonl" => "jsonl"
      case _ => "parquet"
    }
    s"$metadataDir/manifest-${java.util.UUID.randomUUID()}.$ext"
  }

  /** @param addedSnapshotId override for commit-time merged manifests (ref
    *   `ManifestMergeManager.createManifest` stamps the committing snapshot);
    *   by default the first entry's snapshot id. */
  def write(io: FileIO, path: String, entries: Seq[ManifestEntry],
      schema: Schema, spec: PartitionSpec,
      addedSnapshotId: Option[Long] = None): ManifestFileMeta = {
    val length =
      if (path.endsWith(".parquet")) ParquetManifests.write(io, path, entries, schema, spec)
      else io.writeString(path,
        entries.map(JsonCodecs.entryToJson(_, schema, spec)).mkString("\n"))
    val live = entries.filter(_.status != EntryStatus.Deleted)
    val summaries = spec.fields.zipWithIndex.map { case (pf, i) =>
      val t = spec.fieldType(schema, pf)
      val values = live.map(_.dataFile.partition(i))
      val nonNull = values.filter(_ != null)
      val isFloating = t == DoubleType || t == FloatType
      FieldSummaryMeta(
        containsNull = values.exists(_ == null),
        containsNan = if (isFloating) Some(nonNull.exists(Literals.isNaN)) else None,
        lowerBound = nonNull.filterNot(Literals.isNaN)
          .reduceOption((a, b) => if (Literals.compare(t, a, b) <= 0) a else b),
        upperBound = nonNull.filterNot(Literals.isNaN)
          .reduceOption((a, b) => if (Literals.compare(t, a, b) >= 0) a else b))
    }
    val added = entries.filter(_.status == EntryStatus.Added)
    val existing = entries.filter(_.status == EntryStatus.Existing)
    val deleted = entries.filter(_.status == EntryStatus.Deleted)
    ManifestFileMeta(
      path = path,
      length = length,
      specId = spec.specId,
      addedSnapshotId = addedSnapshotId
        .orElse(entries.headOption.map(_.snapshotId)).getOrElse(-1L),
      minSequenceNumber = (Long.MaxValue +: entries.map(_.sequenceNumber)).min,
      addedFilesCount = added.size,
      existingFilesCount = existing.size,
      deletedFilesCount = deleted.size,
      addedRowsCount = added.map(_.dataFile.recordCount).sum,
      existingRowsCount = existing.map(_.dataFile.recordCount).sum,
      deletedRowsCount = deleted.map(_.dataFile.recordCount).sum,
      partitionSummaries = summaries)
  }

  /** Manifests opened via [[read]] — lets tests assert pruning (how many
    * manifests a commit or scan actually opened) without timing. */
  private[graft] val readCounter = new java.util.concurrent.atomic.AtomicLong()

  def read(io: FileIO, path: String, schema: Schema,
      specById: Int => PartitionSpec): Seq[ManifestEntry] = {
    readCounter.incrementAndGet()
    if (path.endsWith(".parquet")) ParquetManifests.read(io, path, schema, specById)
    else io.readLines(path).map(JsonCodecs.entryFromJson(_, schema, specById)).toSeq
  }

  /** Only the file paths of a manifest — parquet manifests read a single
    * projected column (maintenance jobs at millions of files scan paths
    * only; ref `BaseSparkAction` reads the path field of the entries). */
  def readPaths(io: FileIO, path: String): Seq[String] =
    if (path.endsWith(".parquet")) ParquetManifests.readPaths(io, path)
    else io.readLines(path).map { line =>
      JsonCodecs.entryPathFromJson(line)
    }.toSeq

  /** Read several manifests on a worker pool (ref `DataTableScan.java:85`
    * plans manifests in parallel on the driver). */
  def readAll(io: FileIO, manifests: Seq[ManifestFileMeta], schema: Schema,
      specById: Int => PartitionSpec): Seq[(ManifestFileMeta, Seq[ManifestEntry])] = {
    if (manifests.size <= 2) {
      manifests.map(m => m -> read(io, m.path, schema, specById))
    } else {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext = ManifestIO.pool
      val fs = manifests.map(m => Future(m -> read(io, m.path, schema, specById)))
      Await.result(Future.sequence(fs), Duration.Inf)
    }
  }

  /** Columnar manifest codec over parquet-mr's example API (no Spark job —
    * manifests are written inside driver-side commits, like the reference's
    * Avro `ManifestWriter`). Keyed-manager tables seal manifests with
    * Parquet Modular Encryption (same crypto-factory SPI the data files
    * use; per-file key from the manifest's own name), so column bounds and
    * partition values never sit plaintext next to encrypted data. */
  private object ParquetManifests {
    /** Writer/reader conf: engages the graft crypto factory for keyed
      * managers; decrypt side allows plaintext files so pre-encryption
      * manifests in a later-keyed table keep loading — EXCEPT once the
      * table requires encryption (the FileIO latch): then a plaintext
      * PAR1 manifest at a keyed path is a forged substitute for a sealed
      * PARE one and the parquet reader refuses it, mirroring readString's
      * refusal for jsonl manifests (an accepted forgery would silently
      * hide rows from scans, and via readPaths make the orphan scan
      * classify live files as orphans and DELETE them). */
    private def cryptoConf(io: FileIO): org.apache.hadoop.conf.Configuration = {
      val base = EncryptionManagers.parquetCryptoConf(io.conf, Some(io.encryption))
      if (!io.requireSealedMetadata) base
      else {
        val c = new org.apache.hadoop.conf.Configuration(base)
        c.setBoolean(EncryptionManagers.PlaintextFilesAllowedKey, false)
        c
      }
    }
    import org.apache.parquet.crypto.DecryptionPropertiesFactory
    import org.apache.parquet.example.data.Group
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.ParquetReader
    import org.apache.parquet.hadoop.api.ReadSupport
    import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.io.{DelegatingPositionOutputStream, OutputFile, PositionOutputStream}
    import org.apache.parquet.schema.{MessageType, MessageTypeParser}

    private val EntryType = MessageTypeParser.parseMessageType(
      """message graft_manifest_entry {
        |  required int32 status;
        |  required int64 snapshot_id;
        |  required int64 sequence_number;
        |  required binary path (STRING);
        |  required int64 record_count;
        |  required int32 content;
        |  required binary data_file (STRING);
        |}""".stripMargin)

    private val PathOnlyType = MessageTypeParser.parseMessageType(
      "message graft_manifest_entry { required binary path (STRING); }")

    /** A parquet output file on the filesystem [[FileIO.fileSystem]]
      * resolves (`HadoopOutputFile.fromPath` resolves through Hadoop's
      * cache), created as `HadoopOutputFile` creates and named by the same
      * path string, which keys a sealed manifest. It keeps the length
      * written at close, so no status call follows. */
    private final class ManifestOutputFile(fs: org.apache.hadoop.fs.FileSystem,
        path: org.apache.hadoop.fs.Path) extends OutputFile {
      var length: Long = -1L
      private def open(overwrite: Boolean, blockSizeHint: Long): PositionOutputStream = {
        val out = fs.create(path, overwrite, 4096, fs.getDefaultReplication(path),
          math.max(defaultBlockSize(), blockSizeHint))
        new DelegatingPositionOutputStream(out) {
          override def getPos: Long = out.getPos
          override def close(): Unit = { super.close(); length = out.getPos }
        }
      }
      override def create(blockSizeHint: Long): PositionOutputStream = open(false, blockSizeHint)
      override def createOrOverwrite(blockSizeHint: Long): PositionOutputStream =
        open(true, blockSizeHint)
      override def supportsBlockSize(): Boolean = defaultBlockSize() > 0
      override def defaultBlockSize(): Long = fs.getDefaultBlockSize(path)
      override def getPath(): String = path.toString
    }

    def write(io: FileIO, path: String, entries: Seq[ManifestEntry],
        schema: Schema, spec: PartitionSpec): Long = {
      val hPath = new org.apache.hadoop.fs.Path(path)
      val file = new ManifestOutputFile(FileIO.fileSystem(hPath, io.conf), hPath)
      val writer = ExampleParquetWriter
        .builder(file)
        .withConf(cryptoConf(io))
        .withType(EntryType)
        .withCompressionCodec(CompressionCodecName.SNAPPY)
        // relocate rewrites manifests in place after a table move
        .withWriteMode(org.apache.parquet.hadoop.ParquetFileWriter.Mode.OVERWRITE)
        .build()
      val fac = new SimpleGroupFactory(EntryType)
      try entries.foreach { e =>
        val g = fac.newGroup()
        g.append("status", e.status)
        g.append("snapshot_id", e.snapshotId)
        g.append("sequence_number", e.sequenceNumber)
        g.append("path", e.dataFile.path)
        g.append("record_count", e.dataFile.recordCount)
        g.append("content", e.dataFile.content)
        g.append("data_file", JsonCodecs.dataFileToJson(e.dataFile, schema, spec))
        writer.write(g)
      } finally writer.close()
      file.length
    }

    /** Manifest reader over a [[HadoopInputFile]] carrying the crypto conf:
      * `ParquetReader.builder(support, path)` builds and loads a fresh
      * Hadoop `Configuration` (core-default/core-site parse plus a search
      * of every classpath jar) on each call — ~13 ms per manifest opened. */
    private final class ManifestReaderBuilder(file: HadoopInputFile,
        support: ReadSupport[Group]) extends ParquetReader.Builder[Group](file) {
      override protected def getReadSupport(): ReadSupport[Group] = support
    }

    /** Group read support over a fixed projection (None = every column),
      * instead of `PARQUET_READ_SCHEMA` on a per-call conf copy. */
    private final class ProjectedGroupSupport(projection: Option[MessageType])
        extends GroupReadSupport {
      override def init(conf: org.apache.hadoop.conf.Configuration,
          keyValueMetaData: java.util.Map[String, String],
          fileSchema: MessageType): ReadSupport.ReadContext =
        new ReadSupport.ReadContext(projection
          .map(ReadSupport.getSchemaForRead(fileSchema, _)).getOrElse(fileSchema))
    }

    private def openReader(io: FileIO, path: String,
        projection: Option[MessageType]): ParquetReader[Group] = {
      val conf = cryptoConf(io)
      val hPath = new org.apache.hadoop.fs.Path(path)
      val builder = new ManifestReaderBuilder(HadoopInputFile.fromPath(hPath, conf),
        new ProjectedGroupSupport(projection))
      // an InputFile builder's options never see the file path, so they
      // derive no decryption properties: ask the conf's crypto factory, as
      // the path builder's options do — modular decryption and the
      // sealed-manifest refusal follow the latched conf as before
      Option(DecryptionPropertiesFactory.loadFactory(conf)).foreach(f =>
        builder.withDecryption(f.getFileDecryptionProperties(conf, hPath)))
      builder.build()
    }

    def read(io: FileIO, path: String, schema: Schema,
        specById: Int => PartitionSpec): Seq[ManifestEntry] = {
      val reader = openReader(io, path, None)
      val out = scala.collection.mutable.ArrayBuffer[ManifestEntry]()
      try {
        var g = reader.read()
        while (g != null) {
          out += ManifestEntry(
            status = g.getInteger("status", 0),
            snapshotId = g.getLong("snapshot_id", 0),
            sequenceNumber = g.getLong("sequence_number", 0),
            dataFile = JsonCodecs.dataFileFromJson(
              g.getString("data_file", 0), schema, specById))
          g = reader.read()
        }
      } finally reader.close()
      out.toSeq
    }

    def readPaths(io: FileIO, path: String): Seq[String] = {
      val reader = openReader(io, path, Some(PathOnlyType))
      val out = scala.collection.mutable.ArrayBuffer[String]()
      try {
        var g = reader.read()
        while (g != null) { out += g.getString("path", 0); g = reader.read() }
      } finally reader.close()
      out.toSeq
    }
  }

  private[table] lazy val ioPool: scala.concurrent.ExecutionContext = pool

  private lazy val pool: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(
        math.max(4, Runtime.getRuntime.availableProcessors() / 2),
        r => { val t = new Thread(r, "graft-manifest-io"); t.setDaemon(true); t }))
}
