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

    // SQL read
    val opened0 = ManifestIO.readCounter.get()
    val built0 = GraftReadPlanner.readerBuilds.get()
    assert(spark.sql("SELECT id, v FROM rp.db.budget").collect()
      .map(_.getLong(0)).sorted.toSeq === expected)
    assert(ManifestIO.readCounter.get() - opened0 === liveManifests)
    assert(GraftReadPlanner.readerBuilds.get() - built0 === 3L)

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
    assert(GraftReadPlanner.readerBuilds.get() - built1 === 3L)
  }

  test("a scan plans every call from the metadata of its first planning call") {
    val t = IceTable.create(spark, Files.createTempDirectory("graft-rp-").toString + "/t",
      graft.meta.Schema.fresh(Seq((0L, "")).toDF("id", "v").schema))
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
}
