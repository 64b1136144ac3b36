package graft.table

import java.nio.file.Files

import graft.SparkSessionHelper._
import graft.meta.Schema
import graft.meta.model.{Operation, TableMetadata, TableProperties}

import org.scalatest.funsuite.AnyFunSuite

/** The one snapshot producer (`IceTable.commitSnapshot`): what a commit
  * attempt that loses, fails or ends unknown leaves behind, and the
  * manifest rewrite as a producer commit. */
class SnapshotProducerSpec extends AnyFunSuite {
  import spark.implicits._

  private def tmpLoc(): String =
    Files.createTempDirectory("graft-producer-").toString + "/t"

  /** Passes calls to `inner`; `cas(n, commit)` decides the fate of the n-th
    * commit (1-based), `commit` running it on `inner`. */
  private final class ScriptedOps(val inner: TableOps)(
      cas: (Int, () => Boolean) => Boolean) extends TableOps {
    private var n = 0
    def location: String = inner.location
    def io: FileIO = inner.io
    def exists: Boolean = inner.exists
    def current(): (Int, TableMetadata) = inner.current()
    def commit(expectedVersion: Int, meta: TableMetadata): Boolean = {
      n += 1
      cas(n, () => inner.commit(expectedVersion, meta))
    }
  }

  /** A table of keys 0..29 in three files of one append (one manifest),
    * with fast retries, and a handle on it whose commits follow `cas`. */
  private def scripted(cas: (Int, () => Boolean) => Boolean): (IceTable, TableOps) = {
    val loc = tmpLoc()
    val t = IceTable.create(spark, loc, Schema.fresh(Seq((0L, "a")).toDF("k", "v").schema),
      properties = Map("commit.retry.min-wait-ms" -> "1", "commit.retry.max-wait-ms" -> "4"))
    t.append((0L until 30L).map(k => (k, s"v$k")).toDF("k", "v").repartition(3))
    val ops = new ScriptedOps(t.ops)(cas)
    (IceTable.loadWith(spark, ops), t.ops)
  }

  /** Manifests and manifest lists under `metadata/` that no snapshot
    * references. */
  private def unreferenced(t: IceTable): Set[String] = {
    val m = t.meta
    val referenced = m.snapshots.flatMap(s =>
      s.manifestList +: t.readManifestList(m, s).map(_.path)).map(GraftPaths.norm).toSet
    t.io.list(s"${t.location}/metadata").map(_.getPath)
      .filter(p => p.getName.startsWith("manifest-") || p.getName.startsWith("snap-"))
      .map(p => GraftPaths.norm(p.toString)).toSet -- referenced
  }

  private def keys(t: IceTable): Set[Long] = t.toDF.select("k").as[Long].collect().toSet

  private def newRows = (100L until 110L).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1)

  test("a lost CAS followed by a won retry leaves no unreferenced metadata file") {
    val (t, _) = scripted((n, commit) => n > 1 && commit())
    t.append(newRows)
    assert(keys(t) === ((0L until 30L) ++ (100L until 110L)).toSet)
    assert(unreferenced(t).isEmpty)
  }

  test("a commit whose every CAS is lost leaves no file behind") {
    val (t, _) = scripted((_, _) => false)
    val snaps = t.meta.snapshots.size
    intercept[CommitFailedException](t.append(newRows))
    assert(t.meta.snapshots.size === snaps)
    assert(unreferenced(t).isEmpty)
  }

  test("a removal raced by a concurrent removal fails and leaves no file behind") {
    var other: IceTable = null
    val (t, inner) = scripted { (n, commit) =>
      if (n == 1) { // a concurrent removal of one of the two files lands first
        val f = other.newScan().planFiles().map(_.file.path).min
        other.commitSnapshot(Operation.Delete, Nil, Set(f))
      }
      commit()
    }
    other = IceTable.loadWith(spark, inner)
    val files = t.newScan().planFiles().map(_.file.path).sorted
    assert(files.size === 3)
    // the retry finds one path gone, after rewriting the manifest it keeps
    val e = intercept[ValidationException](
      t.commitSnapshot(Operation.Delete, Nil, files.take(2).toSet))
    assert(e.getMessage.contains("Missing required files to delete"), e.getMessage)
    assert(unreferenced(t).isEmpty)
  }

  test("a commit whose outcome is unknown keeps the files it wrote") {
    val (t, _) = scripted { (_, commit) =>
      commit() // the CAS lands, but the caller never hears of it
      throw new CommitStateUnknownException("no response from the pointer store")
    }
    intercept[CommitStateUnknownException](t.append(newRows))
    assert(keys(t) === ((0L until 30L) ++ (100L until 110L)).toSet)
    assert(unreferenced(t).isEmpty)
  }

  test("rewriteManifests keeps exact running totals") {
    val t = IceTable.create(spark, tmpLoc(), Schema.fresh(Seq((0L, "a")).toDF("k", "v").schema))
    (0 until 3).foreach(i =>
      t.append((i * 10L until i * 10L + 10).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1)))
    assert(t.rewriteManifests() === 1)
    val s = t.currentSnapshot.get
    assert(s.operation === Operation.Replace)
    t.append((30L until 40L).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1))
    val summary = t.currentSnapshot.get.summary
    val live = t.newScan().planFiles().map(_.file)
    assert(summary("total-records").toLong === 40L)
    assert(summary("total-files-size").toLong === live.map(_.fileSizeBytes).sum)
    assert(summary("total-data-files").toInt === 4)
    assert(unreferenced(t).isEmpty)
  }

  test("appends still roll at the target size after rewriteManifests") {
    def rows(n: Int) = (1 to n).map(i => (i.toLong, "x" * 100)).toDF("id", "pad").repartition(1)
    val t = IceTable.create(spark, tmpLoc(), Schema.fresh(rows(1).schema))
    t.append(rows(500))
    t.append(rows(500))
    t.rewriteManifests()
    val s = t.currentSnapshot.get.summary
    val width = s("total-files-size").toLong / s("total-records").toLong
    // target ≈ 100 rows worth of bytes: a 500-row single-task append rolls
    t.append(rows(500), Map.empty,
      writeOverrides = Map(TableProperties.TargetFileSize -> (width * 100).toString))
    val added = t.currentSnapshot.get.summary("added-data-files").toInt
    assert(added >= 3, s"expected rolled files, got $added")
  }

  test("a staged append is recorded without moving main or the snapshot log") {
    val t = IceTable.create(spark, tmpLoc(), Schema.fresh(Seq((0L, "a")).toDF("k", "v").schema))
    t.append(newRows)
    val before = t.meta
    val staged = t.stageAppend((0L until 5L).map(k => (k, s"v$k")).toDF("k", "v"), "w-1")
    val after = t.meta
    assert(after.currentSnapshotId === before.currentSnapshotId)
    assert(after.snapshotLog === before.snapshotLog)
    val snap = after.snapshot(staged).get
    assert(snap.parentId === before.currentSnapshotId)
    assert(snap.summary("wap.id") === "w-1")
    assert(snap.summary("total-records").toLong === 15L)
    assert(t.newScan().useSnapshot(staged).toDF.count() === 15L)
  }
}
