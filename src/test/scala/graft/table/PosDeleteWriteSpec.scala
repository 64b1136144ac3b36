package graft.table

import java.nio.file.Files

import graft.{SparkSessionHelper, Tables}
import graft.meta.Schema
import graft.meta.model.{FileContent, Operation}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** Unit-level pins for `MergeOnRead.writePositionDeleteFiles` — the returned
  * referenced-path set (what `requiredLivePaths` is derived from), the
  * affected-file-scoped partition lookup, and empty-write cleanup. */
class PosDeleteWriteSpec extends AnyFunSuite {
  import SparkSessionHelper._

  private lazy val orders = Tables.load(spark, sf0001, "orders").limit(100).cache()

  private def posDf(rows: (String, Long)*) = {
    val schema = StructType(Seq(
      StructField(MergeOnRead.PosPathCol, StringType),
      StructField(MergeOnRead.PosPosCol, LongType)))
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r => Row(r._1, r._2)): _*), schema)
  }

  private def deleteDirs(t: IceTable): Set[String] =
    t.io.list(t.location + "/data")
      .map(_.getPath.getName).filter(_.startsWith("deletes-")).toSet

  test("requiredLivePaths covers only delete-referenced files, not all planned") {
    val loc = Files.createTempDirectory("graft-pdw-").toString + "/t"
    val t = IceTable.create(spark, loc, Schema.fresh(orders.schema))
    t.append(orders.filter(col("o_orderkey") % 2 === 0).coalesce(1))
    t.append(orders.filter(col("o_orderkey") % 2 === 1).coalesce(1))
    val Seq(fileA, fileB) = t.newScan().planFiles().map(_.file.path).sorted
    val (files, refs) = MergeOnRead.writePositionDeleteFiles(t, t.meta,
      posDf(fileA -> 0L, fileA -> 3L))
    assert(files.nonEmpty)
    assert(refs.map(GraftPaths.norm) === Set(GraftPaths.norm(fileA)))
    // a concurrent rewrite removes the UNreferenced file between plan and
    // commit: with requiredLivePaths scoped to the referenced set the commit
    // lands; the planned-set superset (the old behavior) would abort
    t.commitSnapshot(Operation.Delete, Nil, Set(fileB))
    intercept[ValidationException] {
      t.commitSnapshot(Operation.Delete, files, Set.empty,
        Map.empty, validate = Some(ConflictValidation(None,
          graft.meta.expr.TrueExpr, "snapshot",
          requiredLivePaths = Set(fileA, fileB))))
    }
    t.commitSnapshot(Operation.Delete, files, Set.empty,
      Map.empty, validate = Some(ConflictValidation(None,
        graft.meta.expr.TrueExpr, "snapshot", requiredLivePaths = refs)))
    assert(t.toDF.count() === orders.count() -
      orders.filter(col("o_orderkey") % 2 === 1).count() - 2)
  }

  test("partition lookup is scoped to the affected tasks") {
    val loc = Files.createTempDirectory("graft-pdw-").toString + "/t"
    val schema = Schema.fresh(orders.schema)
    val t = IceTable.create(spark, loc, schema,
      graft.meta.PartitionSpec.builderFor(schema).identity("o_orderstatus").build())
    t.append(orders)
    val tasks = t.newScan().planFiles()
    assert(tasks.size > 1)
    val inScope = tasks.head
    val outOfScope = tasks.find(_.file.partition != inScope.file.partition).get
    val (files, _) = MergeOnRead.writePositionDeleteFiles(t, t.meta,
      posDf(inScope.file.path -> 0L, outOfScope.file.path -> 0L),
      affected = Some(Seq(inScope)))
    // the in-scope target resolves to its real partition; the out-of-scope
    // one is NOT in the lookup and falls back to global (all-null) scope —
    // conservative, still correct
    assert(files.map(_.partition.head).toSet === Set(inScope.file.partition.head, null))
    assert(files.forall(_.content == FileContent.PositionDeletes))
  }

  test("a write where nothing matched leaves no orphan delete directory") {
    val loc = Files.createTempDirectory("graft-pdw-").toString + "/t"
    val t = IceTable.create(spark, loc, Schema.fresh(orders.schema))
    t.append(orders.coalesce(1))
    val before = deleteDirs(t)
    val (files, refs) = MergeOnRead.writePositionDeleteFiles(t, t.meta, posDf())
    assert(files.isEmpty && refs.isEmpty)
    assert(deleteDirs(t) === before)
    // equality path: empty key set is a full no-op (no files, no snapshot)
    val snapsBefore = t.meta.snapshots.size
    MergeOnRead.addEqualityDeletes(t, orders.filter(lit(false)).select("o_orderkey"),
      Seq("o_orderkey"))
    assert(deleteDirs(t) === before)
    assert(t.meta.snapshots.size === snapsBefore)
  }
}
