package graft.table

import java.net.URI
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.SparkSessionHelper._
import graft.meta.{PartitionSpec, Schema}
import graft.meta.expr.Exprs.equalTo
import graft.meta.model.{DataFileMeta, FileContent, TableProperties}

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** The content-file writer: the metadata its write tasks return (footer
  * metrics, sizes, key slots, typed partition tuples), what a write costs
  * (no listing, no driver footer read, no read-back query) and what a
  * failed write leaves behind. */
class ContentFileWriterSpec extends AnyFunSuite {
  import spark.implicits._

  private def tmpLoc(): String =
    Files.createTempDirectory("graft-cfw-").toString + "/t"

  private def conf = spark.sparkContext.hadoopConfiguration

  private val keyed = new AesGcmEncryptionManager(
    "cfwcfwcfwcfwcfwcfwcfwcfwcfwcfwcf".getBytes("UTF-8"), "cfw")

  private def sample: DataFrame = (0 until 300).map { i =>
    (i.toLong, if (i % 7 == 0) null else s"s${i % 40}",
      if (i % 11 == 0) Double.NaN else i * 0.5, i % 5)
  }.toDF("k", "s", "d", "p")

  /** The metadata a reader of `path` derives from the file alone. */
  private def fromFooter(t: IceTable, path: String, format: String): DataFileMeta = {
    val m = t.meta
    val enc = Some(t.io.encryption).filter(_ != PlaintextEncryptionManager)
    val mm = MetricsModes.apply(Writes.fileMetrics(conf, format, path, m.schema, enc),
      m.schema, MetricsModes.forTable(m))
    val p = new Path(path)
    DataFileMeta(path = path, format = format, specId = m.spec.specId, partition = Nil,
      recordCount = mm.recordCount, fileSizeBytes = p.getFileSystem(conf).getFileStatus(p).getLen,
      valueCounts = mm.valueCounts, nullCounts = mm.nullCounts, nanCounts = mm.nanCounts,
      lowerBounds = mm.lowerBounds, upperBounds = mm.upperBounds,
      splitOffsets = mm.splitOffsets, keyMetadata = t.io.encryption.keyMetadata(path))
  }

  Seq(("parquet", PlaintextEncryptionManager), ("orc", PlaintextEncryptionManager),
      ("avro", PlaintextEncryptionManager), ("parquet", keyed)).foreach { case (format, enc) =>
    val label = if (enc == PlaintextEncryptionManager) format else s"keyed $format"
    test(s"$label: returned file metadata equals a footer read of the same file") {
      val t = IceTable.createWith(spark,
        new TableOperations(tmpLoc(), new FileIO(conf, enc)),
        Schema.fresh(sample.schema),
        properties = Map(TableProperties.DefaultFileFormat -> format))
      val files = Writes.writeDataFiles(spark, t, t.meta, sample.repartition(3))
      assert(files.map(_.recordCount).sum === 300L)
      files.foreach { f =>
        val expected = fromFooter(t, f.path, format)
        assert(f.copy(partition = Nil, sortOrderId = 0, schemaId = 0) === expected)
        assert(f.recordCount > 0 && (format == "avro" || f.valueCounts.nonEmpty))
      }
      if (enc != PlaintextEncryptionManager) assert(files.forall(_.keyMetadata.nonEmpty))
    }
  }

  /** One partition-transform case: a source column type, the spec, and the
    * values to write (external Row values; null included). */
  private final case class Case(name: String, dt: DataType,
      spec: PartitionSpec.Builder => PartitionSpec.Builder, values: Seq[Any])

  private val ts = java.sql.Timestamp.valueOf("2020-01-01 12:34:56")
  private val ts2 = java.sql.Timestamp.valueOf("2021-07-15 03:00:00")
  private val date = java.sql.Date.valueOf("2020-02-29")
  private val date2 = java.sql.Date.valueOf("1969-12-31")
  private val cases = Seq(
    Case("identity int", IntegerType, _.identity("v"), Seq(1, -7, null)),
    Case("identity long", LongType, _.identity("v"), Seq(1L << 40, -3L, null)),
    Case("identity string", StringType, _.identity("v"), Seq("plain", "a/b=c%", null)),
    Case("identity date", DateType, _.identity("v"), Seq(date, date2, null)),
    Case("identity timestamp", TimestampType, _.identity("v"), Seq(ts, ts2, null)),
    Case("identity decimal", DecimalType(10, 2), _.identity("v"),
      Seq(new java.math.BigDecimal("12.50"), new java.math.BigDecimal("-0.01"), null)),
    Case("identity boolean", BooleanType, _.identity("v"), Seq(true, false, null)),
    Case("year", TimestampType, _.year("v"), Seq(ts, ts2, null)),
    Case("month", DateType, _.month("v"), Seq(date, date2, null)),
    Case("day", TimestampType, _.day("v"), Seq(ts, ts2, null)),
    Case("hour", TimestampType, _.hour("v"), Seq(ts, ts2, null)),
    Case("bucket", StringType, _.bucket("v", 8), Seq("x", "yy", "zzz", null)),
    Case("truncate", StringType, _.truncate("v", 2), Seq("abcd", "abzz", "q", null)))

  cases.foreach { c =>
    test(s"partition tuples round-trip: ${c.name}") {
      val rows = c.values.zipWithIndex.map { case (v, i) => Row(i.toLong, v) }
      val df = spark.createDataFrame(rows.asJava,
        StructType(Seq(StructField("k", LongType), StructField("v", c.dt))))
      val schema = Schema.fresh(df.schema)
      val spec = c.spec(PartitionSpec.builderFor(schema)).build()
      val t = IceTable.create(spark, tmpLoc(), schema, spec)
      t.append(df)
      val pf = spec.fields.head
      // expected tuple per value: the transform over the internal repr
      val expected = c.values.map { v =>
        pf.transform.apply(Writes.fromCatalyst(CatalystTypeConverters.convertToCatalyst(v)), c.dt)
      }.toSet
      val files = t.newScan().planFiles().map(_.file)
      assert(files.map(_.partition.head).toSet === expected)
      // every row reads back through a pruned scan of its own value
      c.values.filter(_ != null).foreach { v =>
        assert(t.toDF.filter(col("v") === lit(v)).count() === 1L, s"${c.name} $v")
      }
      assert(t.toDF.filter(col("v").isNull).count() === 1L)
    }
  }

  /** Runs `body` with the session conf `key` set to `value`. */
  private def withConf[A](key: String, value: String)(body: => A): A = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def withZone[A](zone: String)(body: => A): A =
    withConf("spark.sql.session.timeZone", zone)(body)

  /** An unsorted partitioned write then keeps up to `n` files open per task
    * instead of sorting its rows by partition first. */
  private def withConcurrentWriters[A](n: Int)(body: => A): A =
    withConf("spark.sql.maxConcurrentOutputFileWriters", n.toString)(body)

  test("identity timestamps under a non-UTC session zone keep their rows") {
    withZone("America/Los_Angeles") {
      val df = spark.sql("SELECT 1L AS k, timestamp'2020-01-01 12:00:00' AS ts")
      val micros = df.collect().head.getTimestamp(1).getTime * 1000L
      val schema = Schema.fresh(df.schema)
      val t = IceTable.create(spark, tmpLoc(), schema,
        PartitionSpec.builderFor(schema).identity("ts").build())
      t.append(df)
      assert(t.newScan().planFiles().map(_.file.partition) === Seq(Seq(micros)))
      assert(t.newScan().filter(equalTo("ts", micros)).planFiles().size === 1)
      assert(t.toDF.filter(col("ts") === lit(new java.sql.Timestamp(micros / 1000))).count() === 1L)
    }
  }

  test("imported timestamp partition directories parse in the session zone") {
    withZone("America/Los_Angeles") {
      val base = Files.createTempDirectory("graft-cfw-imp-").toString
      val df = spark.sql("SELECT 1L AS k, timestamp'2020-01-01 12:00:00' AS ts")
      val micros = df.collect().head.getTimestamp(1).getTime * 1000L
      df.write.partitionBy("ts").parquet(s"$base/ext")
      val t = TableImport.importParquet(spark, s"$base/ext", s"$base/t")
      assert(t.newScan().planFiles().map(_.file.partition) === Seq(Seq(micros)))
      assert(t.toDF.filter(col("ts") === lit(new java.sql.Timestamp(micros / 1000))).count() === 1L)
    }
  }

  Seq(2, 8).foreach { n =>
    test(s"an unsorted partitioned append through $n concurrent writers keeps every row") {
      val schema = Schema.fresh(sample.schema)
      val t = IceTable.create(spark, tmpLoc(), schema,
        PartitionSpec.builderFor(schema).identity("p").build(),
        properties = Map(TableProperties.DistributionMode -> "none"))
      withConcurrentWriters(n) {
        // one task, rows of all five partitions interleaved; two writers
        // fall back to sorting the rest, eight hold all five files open
        t.append(sample.coalesce(1))
        val s = t.currentSnapshot.get.summary
        val width = s("total-files-size").toLong / s("total-records").toLong
        // the second append also rolls every partition at ~20 rows a file
        t.append(sample.coalesce(1), Map.empty,
          writeOverrides = Map(TableProperties.TargetFileSize -> (width * 20).toString))
      }
      val files = t.newScan().planFiles().map(_.file)
      assert(files.map(_.recordCount).sum === 600L)
      assert(files.size > 10, "the second append rolls its files")
      // every file holds the rows of the partition it is recorded under
      val byPath = files.map(f => new Path(f.path).toUri.getPath -> f.partition).toMap
      // (no partition discovery: the files carry `p` themselves)
      spark.read.option("recursiveFileLookup", "true").parquet(files.map(_.path): _*)
        .select(col("_metadata.file_path").as("f"), col("p")).distinct().collect()
        .foreach(r => assert(byPath(new Path(r.getString(0)).toUri.getPath) === Seq(r.getInt(1))))
      (0 until 5).foreach { p =>
        assert(t.newScan().filter(equalTo("p", p)).planFiles()
          .map(_.file.recordCount).sum === 120L)
        assert(t.toDF.filter(col("p") === p).count() === 120L)
      }
    }
  }

  test("two timestamps that render to one directory keep their own partitions") {
    // 01:30 PDT and 01:30 PST on the fall-back day: one directory name in
    // the session zone, two files held open at once by concurrent writers
    val (pdt, pst) = (1604219400L, 1604223000L)
    withZone("America/Los_Angeles") {
      withConcurrentWriters(4) {
        val df = spark.range(0, 10, 1, 1).select(col("id").as("k"),
          timestamp_seconds(when(col("id") % 2 === 0, pdt).otherwise(pst)).as("ts"))
        val schema = Schema.fresh(df.schema)
        val t = IceTable.create(spark, tmpLoc(), schema,
          PartitionSpec.builderFor(schema).identity("ts").build(),
          properties = Map(TableProperties.DistributionMode -> "none"))
        t.append(df)
        val files = t.newScan().planFiles().map(_.file)
        assert(files.map(f => new Path(f.path).getParent.toString).distinct.size === 1)
        assert(files.map(_.partition).toSet === Set(Seq(pdt * 1000000L), Seq(pst * 1000000L)))
        Seq(pdt, pst).foreach { sec =>
          assert(t.newScan().filter(equalTo("ts", sec * 1000000L)).planFiles().size === 1)
          assert(t.toDF.filter(col("ts") === timestamp_seconds(lit(sec))).count() === 5L)
        }
      }
    }
  }

  /** Names of the SQL executions `body` runs (listener events are async). */
  private def executions(body: => Unit): Seq[String] = {
    val names = new ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        names.add(funcName)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        names.add(funcName)
    }
    spark.listenerManager.register(listener)
    try {
      body
      val deadline = System.currentTimeMillis() + 30000
      while (names.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
      Thread.sleep(1000) // room for any later event to arrive
    } finally spark.listenerManager.unregister(listener)
    names.asScala.toSeq
  }

  test("a merge-on-read DELETE runs one write query and no read-back query") {
    val t = IceTable.create(spark, tmpLoc(), Schema.fresh(sample.schema))
    t.append(sample.coalesce(1))
    assert(executions(MergeOnRead.deleteWhere(t, equalTo("p", 3))) === Seq(Writes.ExecutionName))
    assert(t.newScan().planDeletes().map(_._1.content) === Seq(FileContent.PositionDeletes))
    assert(t.toDF.count() === 240L)
  }

  test("writes list no directory and open no footer on the driver") {
    spark.sparkContext.hadoopConfiguration.set("fs.countfs.impl", classOf[CountingFs].getName)
    val loc = "countfs://" + tmpLoc()
    val schema = Schema.fresh(sample.schema)
    val t = IceTable.create(spark, loc, schema,
      PartitionSpec.builderFor(schema).identity("p").build())
    CountingFs.events.clear()
    t.append(sample)
    MergeOnRead.deleteWhere(t, equalTo("k", 10L))
    MergeOnRead.addEqualityDeletes(t, Seq((20L, 0)).toDF("k", "p"), Seq("k", "p"))
    val data = s"${new Path(t.location).toUri.getPath}/data"
    val events = CountingFs.events.asScala.toSeq
      .filter { case (_, p, _) => new Path(p).toUri.getPath.startsWith(data) }
    assert(events.exists(_._1 == "open"), "the delete reads its target file")
    assert(!events.exists(_._1 == "list"), events.filter(_._1 == "list").toString)
    val driverOpens = events.filter { case (op, _, thread) =>
      op == "open" && !thread.startsWith("Executor task launch worker")
    }
    assert(driverOpens.isEmpty, driverOpens.toString)
    assert(t.toDF.count() === 298L)
  }

  test("a MERGE that fails its cardinality check leaves no new file under data/") {
    val t = IceTable.create(spark, tmpLoc(), Schema.fresh(sample.schema))
    t.append(sample.coalesce(1))
    def dataFiles = t.io.listRecursive(s"${t.location}/data").map(_.getPath.toString).toSet
    val before = dataFiles
    val src = sample.filter(col("k") < 5).union(sample.filter(col("k") === 1L))
    intercept[ValidationException] {
      t.merge(src, Seq("k")).whenMatchedUpdateAll().execute()
    }
    assert(dataFiles === before)
    assert(t.toDF.count() === 300L)
  }
}

/** A local file system under the `countfs` scheme that records each
  * listing and open with the calling thread's name. */
class CountingFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("countfs:///")
  override def getScheme: String = "countfs"
  // plain statuses: the local file system's own load permissions through
  // java.io.File, which refuses a URI of another scheme
  private def plain(s: FileStatus): FileStatus = new FileStatus(s.getLen, s.isDirectory,
    s.getReplication, s.getBlockSize, s.getModificationTime, s.getPath)
  override def getFileStatus(f: Path): FileStatus = plain(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] = {
    CountingFs.note("list", f)
    super.listStatus(f).map(plain)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CountingFs.note("open", f)
    super.open(f, bufferSize)
  }
}

object CountingFs {
  val events = new ConcurrentLinkedQueue[(String, String, String)]()
  def note(op: String, p: Path): Unit =
    events.add((op, p.toString, Thread.currentThread().getName))
}
