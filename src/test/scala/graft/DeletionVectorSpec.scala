package graft

import java.nio.file.Files

import graft.meta.Schema
import graft.meta.expr.Exprs._
import graft.meta.model.{FileContent, TableProperties}
import graft.table.{IceTable, Maintenance}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Roaring-bitmap deletion vectors (`write.delete.vectors.enabled`): the
  * alternative position-delete representation. Every suite here pins the
  * DV path against the parquet (path, pos) path's answers on the same
  * operations. */
class DeletionVectorSpec extends AnyFunSuite {
  import SparkSessionHelper._

  private def tmpLoc(): String =
    Files.createTempDirectory("graft-dv-").toString + "/t"

  private lazy val orders = Tables.load(spark, sf0001, "orders").cache()

  private def dvTable(df: org.apache.spark.sql.DataFrame,
      extraProps: Map[String, String] = Map.empty): IceTable = {
    val t = IceTable.create(spark, tmpLoc(), Schema.fresh(df.schema))
    t.updateProperties(Map(TableProperties.DeleteVectors -> "true") ++ extraProps)
    t.append(df)
    t
  }

  private def dvEntries(t: IceTable) =
    t.newScan().planDeletes().map(_._1)
      .filter(_.content == FileContent.DeletionVectors)

  test("merge-on-read DELETE writes deletion vectors; reads match parquet path") {
    val t = dvTable(orders)
    val filesBefore = t.newScan().planFiles().map(_.file.path).toSet
    val expected = orders.filter(!(col("o_orderstatus") === "F")).count()
    t.deleteMergeOnRead(equalTo("o_orderstatus", "F"))
    // no data file rewritten, and the tombstones are DV blobs, not parquet
    assert(t.newScan().planFiles().map(_.file.path).toSet === filesBefore)
    val dvs = dvEntries(t)
    assert(dvs.nonEmpty, "no deletion vectors written")
    assert(t.newScan().planDeletes().map(_._1)
      .forall(_.content == FileContent.DeletionVectors))
    dvs.foreach { d =>
      assert(d.referencedFile.nonEmpty && d.contentOffset.nonEmpty &&
        d.contentSize.nonEmpty, s"incomplete DV meta: $d")
      assert(d.recordCount > 0)
      assert(d.path.endsWith(".gdv"))
    }
    // blobs pack into sidecars: fewer sidecar FILES than referenced files
    // when several targets land in one write task is fine; every blob of
    // one sidecar shares its path and length
    dvs.groupBy(_.path).foreach { case (_, blobs) =>
      assert(blobs.map(_.fileSizeBytes).distinct.size === 1)
    }
    // the DSv2 native read path (columnar + row) and the DataFrame path
    // agree with the expected answer
    assert(t.toDF.count() === expected)
    assert(t.toDF.filter(col("o_orderstatus") === "F").count() === 0)
    assert(t.newScan().filter(equalTo("o_orderstatus", "F")).toDF.count() === 0)
    // row-for-row parity with the same delete through the parquet path
    val p = IceTable.create(spark, tmpLoc(), Schema.fresh(orders.schema))
    p.append(orders)
    p.deleteMergeOnRead(equalTo("o_orderstatus", "F"))
    assert(t.toDF.orderBy("o_orderkey").collect().toSeq ===
      p.toDF.orderBy("o_orderkey").collect().toSeq)
  }

  test("DV UPDATE merge-on-read and accumulated deletes across commits") {
    import spark.implicits._
    val df = (0 until 1000).map(i => (i.toLong, i % 7, s"v$i"))
      .toDF("k", "grp", "v").repartition(4)
    val t = dvTable(df, Map(TableProperties.UpdateMode ->
      TableProperties.RowLevelMergeOnRead))
    // several DV commits against the SAME data files must union
    t.deleteMergeOnRead(equalTo("grp", 0))
    t.deleteMergeOnRead(equalTo("grp", 1))
    t.update(equalTo("grp", 2), Map("v" -> lit("updated")))
    val expectDeleted = df.filter(col("grp") < 2).count()
    assert(t.toDF.count() === 1000 - expectDeleted)
    assert(t.toDF.filter(col("grp") < 2).count() === 0)
    assert(t.toDF.filter(col("v") === "updated").count() ===
      df.filter(col("grp") === 2).count())
    // one file now carries blobs from multiple commits — the probe unions
    val perFile = dvEntries(t).groupBy(_.referencedFile.get)
    assert(perFile.exists(_._2.size > 1),
      "expected a data file with DV blobs from more than one commit")
  }

  test("position_deletes metadata table expands DV blobs") {
    import spark.implicits._
    val df = (0 until 10).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1)
    val t = dvTable(df)
    t.deleteMergeOnRead(in("k", 2, 5))
    val rows = graft.table.MetadataTables(t, "position_deletes")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(4)))
    assert(rows.length === 2)
    assert(rows.map(_._2).sorted.toSeq === Seq(2L, 5L))
    rows.foreach { case (dataPath, _, delPath) =>
      assert(delPath != null && delPath.endsWith(".gdv"), delPath)
      assert(t.io.exists(delPath))
      assert(dataPath != null && dataPath.nonEmpty)
    }
  }

  test("convert_position_deletes migrates parquet tombstones to DVs") {
    val t = IceTable.create(spark, tmpLoc(), Schema.fresh(orders.schema))
    t.append(orders)
    t.deleteMergeOnRead(equalTo("o_orderstatus", "F"))
    val before = t.toDF.orderBy("o_orderkey").collect().toSeq
    val parquetDeletes = t.newScan().planDeletes().map(_._1)
      .filter(_.content == FileContent.PositionDeletes)
    assert(parquetDeletes.nonEmpty)
    val (convertedCount, added) = Maintenance.convertPositionDeletes(t)
    assert(convertedCount === parquetDeletes.size && added > 0)
    assert(t.newScan().planDeletes().map(_._1)
      .forall(_.content == FileContent.DeletionVectors))
    // identical rows through the converted representation
    assert(t.toDF.orderBy("o_orderkey").collect().toSeq === before)
    // idempotent: nothing left to convert
    assert(Maintenance.convertPositionDeletes(t) === (0, 0))
  }

  test("rewrite merges mixed parquet + DV deletes per the property") {
    import spark.implicits._
    val df = (0 until 500).map(i => (i.toLong, s"v$i")).toDF("k", "v").coalesce(2)
    // parquet deletes first, then switch the table to DV mode
    val t = IceTable.create(spark, tmpLoc(), Schema.fresh(df.schema))
    t.append(df)
    t.deleteMergeOnRead(in("k", 1, 2, 3))
    t.updateProperties(Map(TableProperties.DeleteVectors -> "true"))
    t.deleteMergeOnRead(in("k", 4, 5))
    // MIXED state: both representations live, reads union them
    val contents = t.newScan().planDeletes().map(_._1.content).distinct.sorted
    assert(contents === Seq(FileContent.PositionDeletes,
      FileContent.DeletionVectors).sorted)
    assert(t.toDF.count() === 495)
    assert(t.toDF.filter(col("k") <= 5 && col("k") >= 1).count() === 0)
    // rewrite compacts everything into DV sidecars (property picks format)
    val (rewritten, _) = Maintenance.rewritePositionDeleteFiles(t)
    assert(rewritten > 0)
    assert(t.newScan().planDeletes().map(_._1)
      .forall(_.content == FileContent.DeletionVectors))
    assert(t.toDF.count() === 495)
    assert(t.toDF.filter(col("k") <= 5 && col("k") >= 1).count() === 0)
  }

  test("DV maintenance: dangling removal spares shared sidecars; autopilot converts") {
    import spark.implicits._
    val df = (0 until 400).map(i => (i.toLong, i % 4, s"v$i"))
      .toDF("k", "grp", "v").repartition(4, col("grp"))
    val t = dvTable(df)
    t.deleteMergeOnRead(equalTo("k", 7L))
    val dvs = dvEntries(t)
    assert(dvs.nonEmpty)
    // nothing dangles while the referenced files live
    assert(Maintenance.removeDanglingDeletes(t) === 0)
    assert(dvEntries(t).size === dvs.size)
    // compact the data files away -> every DV blob dangles -> removed
    Maintenance.rewriteDataFiles(t)
    assert(t.toDF.count() === 399)
    val removed = Maintenance.removeDanglingDeletes(t)
    assert(removed > 0)
    assert(dvEntries(t).isEmpty)
    assert(t.toDF.count() === 399)
  }

  test("autopilot migrates parquet deletes when DV mode turns on") {
    import spark.implicits._
    val df = (0 until 300).map(i => (i.toLong, s"v$i")).toDF("k", "v").coalesce(2)
    val t = IceTable.create(spark, tmpLoc(), Schema.fresh(df.schema))
    t.updateProperties(Map("maintenance.compact.enabled" -> "false",
      "maintenance.expire.enabled" -> "false"))
    t.append(df)
    t.deleteMergeOnRead(in("k", 10, 11))
    assert(t.newScan().planDeletes().map(_._1)
      .exists(_.content == FileContent.PositionDeletes))
    t.updateProperties(Map(TableProperties.DeleteVectors -> "true"))
    val report = Maintenance.maintain(t)
    assert(report.convertedEqDeletes > 0) // includes the DV conversion count
    assert(t.newScan().planDeletes().map(_._1)
      .forall(_.content == FileContent.DeletionVectors))
    assert(t.toDF.count() === 298)
  }

  test("encrypted table: DV sidecars sealed, ranged reads decrypt, parity holds") {
    import spark.implicits._
    val df = (0 until 300).map(i => (i.toLong, s"secret$i")).toDF("k", "v")
      .coalesce(2)
    import graft.table.{AesGcmEncryptionManager, FileIO, TableOperations}
    val manager = new AesGcmEncryptionManager(
      "0123456789abcdef0123456789abcdef".getBytes("UTF-8"), "dv-key")
    val loc = tmpLoc()
    val t = IceTable.createWith(spark, new TableOperations(loc,
      new FileIO(spark.sparkContext.hadoopConfiguration, manager)),
      Schema.fresh(df.schema))
    t.updateProperties(Map(TableProperties.DeleteVectors -> "true"))
    t.append(df)
    t.deleteMergeOnRead(in("k", 5, 6, 7))
    val dvs = dvEntries(t)
    assert(dvs.nonEmpty)
    dvs.foreach(d => assert(d.keyMetadata.nonEmpty,
      "DV sidecar missing key metadata on an encrypted table"))
    // the sidecar bytes on disk are ciphertext (GAC1 magic, no GDV1 magic)
    val raw = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(new java.net.URI(
        "file://" + graft.table.GraftPaths.norm(dvs.head.path))))
    assert(graft.table.AesGcmEncryptionManager.isEncrypted(raw),
      "DV sidecar written plaintext on an encrypted table")
    assert(t.toDF.count() === 297)
    assert(t.toDF.filter(col("k").isin(5, 6, 7)).count() === 0)
    // changelog reconstitution through encrypted DVs
    val changes = t.changelog(None, None)
    assert(changes.filter(col("_change_type") === "delete").count() === 3)
  }

  test("changelog reconstructs DV-suppressed rows") {
    import spark.implicits._
    val df = (0 until 100).map(i => (i.toLong, s"v$i")).toDF("k", "v").coalesce(1)
    val t = dvTable(df)
    t.deleteMergeOnRead(in("k", 3, 4, 5))
    val changes = t.changelog(None, None)
    val deleted = changes.filter(col("_change_type") === "delete")
      .select("k").collect().map(_.getLong(0)).sorted.toSeq
    assert(deleted === Seq(3L, 4L, 5L))
  }
}
