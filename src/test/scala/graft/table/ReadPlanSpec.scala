package graft.table

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSessionHelper
import graft.meta.expr.Exprs._
import graft.spark.GraftReadPlanner

import org.scalatest.funsuite.AnyFunSuite

/** Driver cost of read planning: a scan reads the table pointer once,
  * opens each live manifest once, builds each distinct reader once, and
  * plans its data files and delete files from the same snapshot. */
class ReadPlanSpec extends AnyFunSuite {
  import SparkSessionHelper._
  import spark.implicits._

  private lazy val warehouse = {
    val dir = Files.createTempDirectory("graft_rp_wh").toString
    spark.conf.set("spark.sql.catalog.rp", "graft.spark.GraftCatalog")
    spark.conf.set("spark.sql.catalog.rp.warehouse", dir)
    dir
  }

  /** Counts pointer reads: every `current()` and `exists`. */
  private final class CountingOps(inner: TableOps) extends TableOps {
    val reads = new AtomicInteger()
    def location: String = inner.location
    def io: FileIO = inner.io
    def exists: Boolean = { reads.incrementAndGet(); inner.exists }
    def current(): (Int, graft.meta.model.TableMetadata) = {
      reads.incrementAndGet(); inner.current()
    }
    def commit(expectedVersion: Int, meta: graft.meta.model.TableMetadata): Boolean =
      inner.commit(expectedVersion, meta)
  }

  private def rows(t: IceTable): Seq[(Long, String)] =
    t.toDF.collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted

  /** The readers `body` builds. */
  private def builds(body: => Unit): Long = {
    val before = GraftReadPlanner.readerBuilds.get()
    body
    GraftReadPlanner.readerBuilds.get() - before
  }

  private def idV = graft.meta.Schema.fresh(Seq((0L, "")).toDF("id", "v").schema)

  private def tmpLoc(): String = Files.createTempDirectory("graft-rp-").toString + "/t"

  test("a SQL read plans its data files and delete files from one snapshot") {
    warehouse
    spark.sql("CREATE TABLE rp.db.pinned (id BIGINT, v STRING)")
    spark.sql("INSERT INTO rp.db.pinned VALUES (1,'a'),(2,'b'),(3,'c')")
    val t = IceTable.load(spark, s"$warehouse/db/pinned")
    t.setIdentifierFields(Seq("id"))
    val df = spark.sql("SELECT id, v FROM rp.db.pinned")
    df.queryExecution.optimizedPlan
    // an upsert of id 2 commits between optimization and execution
    t.addEqualityDeletes(Seq(2L).toDF("id"))
    t.append(Seq((2L, "b2")).toDF("id", "v"))
    assert(df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted ===
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // a new query sees the upsert
    assert(spark.sql("SELECT id, v FROM rp.db.pinned").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted ===
      Seq((1L, "a"), (2L, "b2"), (3L, "c")))
  }

  test("a MoR read opens each manifest once, reads the pointer once, builds 3 readers") {
    warehouse
    spark.sql("CREATE TABLE rp.db.budget (id BIGINT, v STRING)")
    val loc = s"$warehouse/db/budget"
    val t = IceTable.load(spark, loc)
    def batch(from: Long, to: Long) =
      (from until to).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1)
    // two applicability classes, each with position AND equality deletes:
    // file A <- pos(A), eq(20), eq(121); file B <- pos(B), eq(121)
    t.append(batch(0, 100))
    t.deleteMergeOnRead(equalTo("id", 5L))
    t.addEqualityDeletes(Seq(20L).toDF("id"), Seq("id"))
    t.append(batch(100, 200))
    t.deleteMergeOnRead(equalTo("id", 150L))
    t.addEqualityDeletes(Seq(121L).toDF("id"), Seq("id"))
    val kinds = t.newScan().planDeletes().map(_._1.content).toSet
    assert(kinds === Set(graft.meta.model.FileContent.PositionDeletes,
      graft.meta.model.FileContent.EqualityDeletes))
    assert(Reads.groupTasksByDeletes(t.newScan().planFiles(),
      t.newScan().planDeletes()).size === 2)
    val m = t.meta
    val liveManifests = t.readManifestList(m, m.currentSnapshot.get)
      .count(_.hasLiveFiles)
    assert(liveManifests >= 2)
    val expected = (0L until 200L).filterNot(Set(5L, 20L, 121L, 150L))

    // SQL read, from an empty memo: the data reader and the two delete
    // readers, shared by both classes
    GraftReadPlanner.ReaderMemo.clear()
    def sqlRead() = spark.sql("SELECT id, v FROM rp.db.budget").collect()
      .map(_.getLong(0)).sorted.toSeq
    val opened0 = ManifestIO.readCounter.get()
    val built0 = GraftReadPlanner.readerBuilds.get()
    assert(sqlRead() === expected)
    assert(ManifestIO.readCounter.get() - opened0 === liveManifests)
    assert(GraftReadPlanner.readerBuilds.get() - built0 === 3L)
    // the same read again builds nothing: the memo serves all three
    val reused0 = GraftReadPlanner.readerReuses.get()
    assert(builds(assert(sqlRead() === expected)) === 0L)
    assert(GraftReadPlanner.readerReuses.get() - reused0 >= 3L)

    // Scala-API read through a counting pointer
    val ops = new CountingOps(new TableOperations(loc, t.io))
    val counted = IceTable.loadWith(spark, ops)
    ops.reads.set(0)
    val opened1 = ManifestIO.readCounter.get()
    val built1 = GraftReadPlanner.readerBuilds.get()
    assert(counted.newScan().filter(greaterThanOrEqual("id", 0L)).toDF.collect()
      .map(_.getLong(0)).sorted.toSeq === expected)
    assert(ManifestIO.readCounter.get() - opened1 === liveManifests)
    assert(ops.reads.get() <= 2, s"${ops.reads.get()} pointer reads")
    // only the filtered data reader is new
    assert(GraftReadPlanner.readerBuilds.get() - built1 === 1L)
  }

  test("a scan plans every call from the metadata of its first planning call") {
    val t = IceTable.create(spark, tmpLoc(), idV)
    t.setIdentifierFields(Seq("id"))
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val scan = t.newScan()
    val files = scan.planFiles()
    t.addEqualityDeletes(Seq(1L).toDF("id"))
    t.append(Seq((3L, "c")).toDF("id", "v"))
    // the same scan still sees the pinned snapshot: no delete, no new file
    assert(scan.planDeletes().isEmpty)
    assert(scan.planFiles().map(_.file.path) === files.map(_.file.path))
    assert(scan.toDF.count() === 2L)
    assert(rows(t) === Seq((2L, "b"), (3L, "c")))
  }

  test("a changed session SQL setting builds new readers") {
    warehouse
    spark.sql("CREATE TABLE rp.db.sqlconf (id BIGINT, v STRING)")
    spark.sql("INSERT INTO rp.db.sqlconf VALUES (1,'a'),(2,'b'),(3,'c')")
    val t = IceTable.load(spark, s"$warehouse/db/sqlconf")
    t.setIdentifierFields(Seq("id"))
    t.addEqualityDeletes(Seq(2L).toDF("id"))
    def read() = spark.sql("SELECT id, v FROM rp.db.sqlconf").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    val expected = Seq((1L, "a"), (3L, "c"))
    assert(read() === expected)
    assert(builds(assert(read() === expected)) === 0L)
    val key = "spark.sql.parquet.enableVectorizedReader"
    spark.conf.set(key, "false")
    try assert(builds(assert(read() === expected)) === 2L) // data + delete reader
    finally spark.conf.unset(key)
    assert(builds(assert(read() === expected)) === 0L)
  }

  test("a Hadoop setting added after a read reaches the next read's readers") {
    val before = IceTable.create(spark, tmpLoc(), idV)
    before.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    assert(rows(before) === Seq((1L, "a"), (2L, "b")))
    // a scheme only the new setting resolves, uncached: a reader holding
    // the conf of the first read cannot open its files
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.memofs.impl", classOf[MemoFs].getName)
    conf.setBoolean("fs.memofs.impl.disable.cache", true)
    try {
      val t = IceTable.create(spark, "memofs://" + tmpLoc(), idV)
      t.append(Seq((3L, "c"), (4L, "d")).toDF("id", "v"))
      assert(builds(assert(rows(t) === Seq((3L, "c"), (4L, "d")))) === 1L)
    } finally {
      conf.unset("fs.memofs.impl")
      conf.unset("fs.memofs.impl.disable.cache")
    }
  }

  test("ADD COLUMN and a rename read right, building readers only for new shapes") {
    warehouse
    spark.sql("CREATE TABLE rp.db.evolve (id BIGINT, v STRING)")
    spark.sql("INSERT INTO rp.db.evolve VALUES (1,'a'),(2,'b')")
    def read(cols: String) = spark.sql(s"SELECT $cols FROM rp.db.evolve ORDER BY id")
      .collect().map(_.toSeq).toSeq
    assert(read("*") === Seq(Seq(1L, "a"), Seq(2L, "b")))
    spark.sql("ALTER TABLE rp.db.evolve ADD COLUMN c INT")
    spark.sql("INSERT INTO rp.db.evolve VALUES (3,'c',30)")
    // the first era's reader now also asks for c, the second era is new
    assert(builds(assert(read("*") ===
      Seq(Seq(1L, "a", null), Seq(2L, "b", null), Seq(3L, "c", 30)))) === 2L)
    spark.sql("ALTER TABLE rp.db.evolve RENAME COLUMN v TO w")
    spark.sql("INSERT INTO rp.db.evolve VALUES (4,'d',40)")
    // the older eras read w under its old name, as before: only the third
    // era builds
    assert(builds(assert(read("id, w, c") === Seq(Seq(1L, "a", null),
      Seq(2L, "b", null), Seq(3L, "c", 30), Seq(4L, "d", 40)))) === 1L)
  }

  test("an encrypted table reads right after its keys rotate") {
    val conf = spark.sparkContext.hadoopConfiguration
    val keyA = new AesGcmEncryptionManager(
      "rprprprprprprprprprprprprprprprp".getBytes("UTF-8"), "rp-a")
    val keyB = new AesGcmEncryptionManager(
      "prprprprprprprprprprprprprprprpr".getBytes("UTF-8"), "rp-b")
    val loc = tmpLoc()
    val t = IceTable.createWith(spark, new TableOperations(loc, new FileIO(conf, keyA)), idV)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1))
    assert(rows(t) === Seq((1L, "a"), (2L, "b")))
    assert(builds(assert(rows(t) === Seq((1L, "a"), (2L, "b")))) === 0L)
    val rotating = IceTable.loadWith(spark,
      new TableOperations(loc, new FileIO(conf, new KeyRotationManager(keyB, keyA))))
    assert(rotating.rotateEncryptionKeys()._1 === 1)
    // the files are now keyed under B: a reader carrying A's manager
    // cannot open them
    val underB = IceTable.loadWith(spark, new TableOperations(loc, new FileIO(conf, keyB)))
    assert(builds(assert(rows(underB) === Seq((1L, "a"), (2L, "b")))) === 1L)
  }

  test("the memo stays within its bound; evicted shapes read right again") {
    val t = IceTable.create(spark, tmpLoc(), idV)
    t.append((0L until 100L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    def read(k: Long) = t.newScan().filter(greaterThanOrEqual("id", k)).toDF.collect()
      .map(_.getLong(0)).sorted.toSeq
    GraftReadPlanner.ReaderMemo.clear()
    // each lower bound is a distinct filter, so a distinct reader
    val shapes = GraftReadPlanner.ReaderMemo.Bound + 8
    (0 until shapes).foreach { k =>
      assert(builds(assert(read(k) === (k.toLong until 100L))) === 1L)
      assert(GraftReadPlanner.ReaderMemo.size <= GraftReadPlanner.ReaderMemo.Bound)
    }
    // the least recently used shapes were evicted, and build again
    assert(builds(assert(read(0) === (0L until 100L))) === 1L)
    assert(builds(assert(read(shapes - 1) === ((shapes - 1).toLong until 100L))) === 0L)
  }

  test("concurrent reads of different shapes both read right") {
    val t = IceTable.create(spark, tmpLoc(), idV)
    t.append((0L until 50L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    t.deleteMergeOnRead(equalTo("id", 7L))
    def read(k: Long) = t.newScan().filter(greaterThanOrEqual("id", k)).toDF.collect()
      .map(_.getLong(0)).sorted.toSeq
    GraftReadPlanner.ReaderMemo.clear()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val results = Seq(10L, 20L, 5L, 0L).map(k =>
        k -> pool.submit(new java.util.concurrent.Callable[Seq[Long]] {
          def call(): Seq[Long] = read(k)
        }))
      results.foreach { case (k, r) => assert(r.get() === (k until 50L).filterNot(_ == 7L)) }
    } finally pool.shutdown()
  }
}

/** A local file system under the `memofs` scheme. */
class MemoFs extends CountingFs {
  override def getUri: java.net.URI = java.net.URI.create("memofs:///")
  override def getScheme: String = "memofs"
}
