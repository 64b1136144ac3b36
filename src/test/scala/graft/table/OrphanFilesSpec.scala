package graft.table

import java.io.File
import java.nio.file.Files

import graft.SparkSessionHelper._
import graft.meta.Schema
import graft.meta.expr.TrueExpr

import org.scalatest.funsuite.AnyFunSuite

/** Orphan removal and expiry over the metadata tree: unreferenced manifests
  * and manifest lists are collected, and a manifest list that cannot be
  * read fails the action instead of turning live files into orphans. */
class OrphanFilesSpec extends AnyFunSuite {
  import spark.implicits._

  private def newTable(): IceTable =
    IceTable.create(spark, Files.createTempDirectory("graft-orphans-").toString + "/t",
      Schema.fresh(Seq((0L, "a")).toDF("k", "v").schema))

  private def rows(from: Long) = (from until from + 10).map(k => (k, s"v$k")).toDF("k", "v")
    .coalesce(1)

  private def localFile(p: String): File = new File(new org.apache.hadoop.fs.Path(p).toUri.getPath)

  test("removeOrphanFiles collects an unreferenced manifest older than the cutoff, not a newer one") {
    val t = newTable()
    t.append(rows(0))
    t.append(rows(10))
    val mdir = localFile(s"${t.location}/metadata")
    val manifest = t.readManifestList(t.meta, t.currentSnapshot.get).head.path
    val old = new File(mdir, "manifest-00000000-0000-0000-0000-000000000001.parquet")
    val fresh = new File(mdir, "manifest-00000000-0000-0000-0000-000000000002.parquet")
    val oldList = new File(mdir, "snap-1.manifestlist.json")
    Files.copy(localFile(manifest).toPath, old.toPath)
    Files.copy(localFile(manifest).toPath, fresh.toPath)
    Files.copy(localFile(t.currentSnapshot.get.manifestList).toPath, oldList.toPath)
    // everything but the fresh plant predates the cutoff: the metadata JSON
    // files and the version hint are in reach, and must survive
    val past = System.currentTimeMillis() - 3600 * 1000L
    mdir.listFiles().filter(_ != fresh).foreach(_.setLastModified(past))
    val removed = t.removeOrphanFiles(System.currentTimeMillis() - 60 * 1000L)
    assert(removed.map(localFile).toSet === Set(old, oldList))
    assert(!old.exists() && !oldList.exists() && fresh.exists())
    assert(mdir.list().count(_.endsWith(".metadata.json")) === 3)
    assert(new File(mdir, "version-hint.text").exists())
    assert(t.toDF.count() === 20L)
    assert(IceTable.load(spark, t.location).snapshots.size === 2)
  }

  test("removeOrphanFiles fails closed on an unreadable manifest list") {
    val t = newTable()
    t.append(rows(0))
    val a = t.newScan().planFiles().map(_.file.path)
    t.overwrite(TrueExpr, rows(100))
    t.io.writeString(t.snapshots.head.manifestList, "garbage")
    intercept[Exception](t.removeOrphanFiles(System.currentTimeMillis() + 1000))
    assert(a.nonEmpty && a.forall(t.io.exists))
  }

  test("expiry fails closed when a retained snapshot's manifest list is unreadable") {
    val t = newTable()
    t.append(rows(0))
    val a = t.newScan().planFiles().map(_.file.path)
    t.append(rows(10))
    t.io.writeString(t.currentSnapshot.get.manifestList, "garbage")
    intercept[Exception](t.expireSnapshots(System.currentTimeMillis() + 1000))
    assert(a.nonEmpty && a.forall(t.io.exists))
    // nothing was committed: snapshot 1 still references its files
    assert(IceTable.load(spark, t.location).snapshots.size === 2)
  }
}
