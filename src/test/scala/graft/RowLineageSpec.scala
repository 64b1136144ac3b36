package graft

import java.nio.file.Files

import graft.meta.Schema
import graft.meta.expr.Exprs._
import graft.table.IceTable

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Row lineage: stable `_row_id` spans assigned at commit from the table's
  * next-row-id, surfaced (with `_last_updated_seq`) as metadata columns. */
class RowLineageSpec extends AnyFunSuite {
  import SparkSessionHelper._

  private def freshCatalog(name: String): String = {
    val wh = Files.createTempDirectory(s"graft-lineage-$name-").toString
    spark.conf.set(s"spark.sql.catalog.$name", "graft.spark.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    wh
  }

  test("commit assigns disjoint monotone id spans; _row_id = first + pos") {
    val wh = freshCatalog("rl1")
    spark.sql("CREATE TABLE rl1.db.t (k BIGINT, v STRING)")
    spark.sql("INSERT INTO rl1.db.t SELECT id, concat('v', id) " +
      "FROM range(100) ORDER BY id")
    val t = IceTable.load(spark, s"$wh/db/t")
    val metas1 = t.newScan().planFiles().map(_.file)
    assert(metas1.forall(_.firstRowId.nonEmpty))
    assert(t.meta.nextRowId === 100L)
    // second append continues the counter — never reuses a span
    spark.sql("INSERT INTO rl1.db.t SELECT id, concat('v', id) " +
      "FROM range(100) ORDER BY id")
    val t2 = IceTable.load(spark, s"$wh/db/t")
    val metas2 = t2.newScan().planFiles().map(_.file)
    assert(t2.meta.nextRowId === 200L)
    val spans = metas2.map(f => (f.firstRowId.get,
      f.firstRowId.get + f.recordCount)).sortBy(_._1)
    spans.sliding(2).foreach {
      case Seq((_, e1), (s2, _)) => assert(e1 <= s2, s"overlapping spans: $spans")
      case _ =>
    }
    // SQL surface: ids are unique, dense 0..199; hidden from SELECT *
    assert(spark.sql("SELECT * FROM rl1.db.t").columns.toSeq === Seq("k", "v"))
    val ids = spark.sql("SELECT _row_id FROM rl1.db.t")
      .collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === (0L until 200L))
    // _row_id = the file's first-row-id + _pos, row for row
    val byFile = spark.sql("SELECT _file, _pos, _row_id FROM rl1.db.t").collect()
    val firstByPath = metas2.map(f =>
      f.path.split('/').last -> f.firstRowId.get).toMap
    byFile.foreach { r =>
      val first = firstByPath(r.getString(0).split('/').last)
      assert(r.getLong(2) === first + r.getLong(1), r.toString)
    }
    // _last_updated_seq: first append's rows carry seq 1, second's seq 2
    val seqs = spark.sql("SELECT _last_updated_seq, count(*) AS n FROM rl1.db.t " +
      "GROUP BY 1 ORDER BY 1").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(seqs.toSeq === Seq((1L, 100L), (2L, 100L)))
  }

  test("ids survive merge-on-read deletes unchanged; deleted ids retire") {
    val wh = freshCatalog("rl2")
    spark.sql("CREATE TABLE rl2.db.t (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')")
    spark.sql("INSERT INTO rl2.db.t SELECT id, concat('v', id) FROM range(50)")
    val before = spark.sql("SELECT k, _row_id FROM rl2.db.t")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.sql("DELETE FROM rl2.db.t WHERE k IN (7, 8, 9)")
    val after = spark.sql("SELECT k, _row_id FROM rl2.db.t")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after.size === 47)
    assert(!after.contains(7L) && !after.contains(8L) && !after.contains(9L))
    after.foreach { case (k, id) => assert(before(k) === id,
      s"row $k changed identity across a MoR delete") }
    // deletion-vector representation preserves the same identities
    val t = IceTable.load(spark, s"$wh/db/t")
    t.updateProperties(Map(
      graft.meta.model.TableProperties.DeleteVectors -> "true"))
    spark.sql("DELETE FROM rl2.db.t WHERE k IN (10, 11)")
    val afterDv = spark.sql("SELECT k, _row_id FROM rl2.db.t")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(afterDv.size === 45)
    afterDv.foreach { case (k, id) => assert(before(k) === id) }
  }

  // every compaction layout: bin-pack (read-side packing), sort and z-order
  // (a range exchange that moves rows between files)
  for ((layout, suffix, compact) <- Seq[(String, String, IceTable => (Int, Int))](
      ("rl4", "", t => graft.table.Maintenance.rewriteDataFiles(t, minInputFiles = 2)),
      ("rl4s", " (sort)", t => graft.table.Maintenance.rewriteDataFilesSorted(t,
        sortOrderSpec = Some("n DESC"))),
      ("rl4z", " (z-order)", t => graft.table.Maintenance.rewriteDataFilesZOrder(t,
        Seq("k", "n")))))
  test(s"preserving rewrites: compaction keeps id AND seq, twice over$suffix") {
    val wh = freshCatalog(layout)
    def insert(from: Int, until: Int): Unit = spark.sql(s"INSERT INTO $layout.db.t " +
      s"SELECT id, concat('v', id), CAST(id % 7 AS INT) FROM range($from, $until)")
    spark.sql(s"CREATE TABLE $layout.db.t (k BIGINT, v STRING, n INT)")
    insert(0, 80)
    insert(80, 160)
    def state() = spark.sql(s"SELECT k, _row_id, _last_updated_seq FROM $layout.db.t")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val before = state()
    val t = IceTable.load(spark, s"$wh/db/t")
    val (rewritten, _) = compact(t)
    assert(rewritten > 0)
    assert(state() === before, "first compaction severed lineage")
    // SECOND compaction must read the materialized columns back (small
    // file appended to force another rewrite)
    insert(160, 165)
    val withNew = state()
    assert(withNew.keySet.diff(before.keySet).size === 5)
    val t2 = IceTable.load(spark, s"$wh/db/t")
    val (rw2, _) = compact(t2)
    assert(rw2 > 0, "second compaction did not engage")
    assert(state() === withNew, "second compaction lost materialized lineage")
    // ids remain unique after every rewrite
    val ids = state().values.map(_._1).toSeq
    assert(ids.distinct.size === ids.size)
  }

  test("preserving DML: CoW and MoR UPDATE keep ids; seq moves only for changed rows") {
    val wh = freshCatalog("rl5")
    spark.sql("CREATE TABLE rl5.db.t (k BIGINT, v STRING)")
    spark.sql("INSERT INTO rl5.db.t SELECT id, concat('v', id) FROM range(100)")
    def state(n: String) = spark.sql(
      s"SELECT k, _row_id, _last_updated_seq FROM rl5.db.$n")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val before = state("t")
    // copy-on-write UPDATE rewrites whole files — ids must survive anyway
    spark.sql("UPDATE rl5.db.t SET v = 'updated' WHERE k % 10 = 0")
    val after = state("t")
    assert(after.size === 100)
    after.foreach { case (k, (id, seq)) =>
      assert(id === before(k)._1, s"row $k changed id across CoW UPDATE")
      if (k % 10 == 0) assert(seq > before(k)._2, s"updated row $k kept old seq")
      else assert(seq === before(k)._2, s"untouched row $k seq moved")
    }
    // merge-on-read UPDATE appends updated copies — same contract
    spark.sql("CREATE TABLE rl5.db.u (k BIGINT, v STRING) TBLPROPERTIES (" +
      "'write.update.mode' = 'merge-on-read')")
    spark.sql("INSERT INTO rl5.db.u SELECT id, concat('v', id) FROM range(50)")
    val ub = state("u")
    spark.sql("UPDATE rl5.db.u SET v = 'x' WHERE k < 5")
    val ua = state("u")
    assert(ua.size === 50)
    ua.foreach { case (k, (id, seq)) =>
      assert(id === ub(k)._1, s"row $k changed id across MoR UPDATE")
      if (k < 5) assert(seq > ub(k)._2) else assert(seq === ub(k)._2)
    }
    // CoW DELETE partial rewrite: survivors keep id AND seq
    spark.sql("CREATE TABLE rl5.db.d (k BIGINT, v STRING)")
    spark.sql("INSERT INTO rl5.db.d SELECT id, concat('v', id) FROM range(40)")
    val db = state("d")
    spark.sql("DELETE FROM rl5.db.d WHERE k IN (3, 4)")
    val da = state("d")
    assert(da.size === 38)
    da.foreach { case (k, (id, seq)) => assert((id, seq) === db(k)) }
  }

  test("preserving MERGE: CoW and MoR keep ids; inserts mint fresh ones") {
    val wh = freshCatalog("rl6")
    for ((name, props) <- Seq(
        ("c", ""),
        ("mr", " TBLPROPERTIES ('write.merge.mode' = 'merge-on-read')"))) {
      spark.sql(s"CREATE TABLE rl6.db.$name (k BIGINT, v STRING)$props")
      spark.sql(s"INSERT INTO rl6.db.$name SELECT id, concat('v', id) FROM range(60)")
      def state() = spark.sql(
        s"SELECT k, _row_id, _last_updated_seq FROM rl6.db.$name")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val before = state()
      // updates k in [0, 10), deletes k in [10, 15), inserts k in [60, 65)
      spark.sql(s"""MERGE INTO rl6.db.$name t USING (
        SELECT id AS k, concat('new', id) AS v FROM range(65) WHERE id < 15 OR id >= 60
        ) s ON t.k = s.k
        WHEN MATCHED AND s.k < 10 THEN UPDATE SET v = s.v
        WHEN MATCHED THEN DELETE
        WHEN NOT MATCHED THEN INSERT *""")
      val after = state()
      assert(after.size === 60, s"$name: ${after.size}")
      after.foreach { case (k, (id, seq)) =>
        if (k < 60) {
          assert(id === before(k)._1, s"$name: row $k changed id across MERGE")
          if (k < 10) assert(seq > before(k)._2, s"$name: updated row $k kept seq")
          else assert(seq === before(k)._2, s"$name: untouched row $k seq moved")
        }
      }
      // inserted rows: fresh ids, unique table-wide
      val insertedIds = after.filter(_._1 >= 60).values.map(_._1).toSet
      assert(insertedIds.size === 5)
      assert(insertedIds.intersect(before.values.map(_._1).toSet).isEmpty,
        s"$name: an insert reused a retired or live id")
      val allIds = after.values.map(_._1).toSeq
      assert(allIds.distinct.size === allIds.size, s"$name: duplicate ids")
    }
  }

  test("changelog withRowIds: updates pair by stable id; MoR and CoW agree") {
    val wh = freshCatalog("rl7")
    for ((name, props) <- Seq(
        ("c", ""),
        ("mr", " TBLPROPERTIES ('write.update.mode' = 'merge-on-read'," +
          " 'write.delete.mode' = 'merge-on-read')"))) {
      spark.sql(s"CREATE TABLE rl7.db.$name (k BIGINT, v STRING)$props")
      spark.sql(s"INSERT INTO rl7.db.$name SELECT /*+ COALESCE(1) */ id, " +
        "concat('v', id) FROM range(30) ORDER BY id")
      val t = IceTable.load(spark, s"$wh/db/$name")
      val snap1 = t.currentSnapshot.get.snapshotId
      val idsBefore = spark.sql(s"SELECT k, _row_id FROM rl7.db.$name")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      spark.sql(s"UPDATE rl7.db.$name SET v = 'changed' WHERE k IN (3, 7)")
      spark.sql(s"DELETE FROM rl7.db.$name WHERE k = 9")
      val ch = IceTable.load(spark, s"$wh/db/$name")
        .changelog(Some(snap1), None, withRowIds = true)
        .select("k", "v", "_change_type", "_row_id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      // update = delete(old)+insert(new) SHARING the row's stable id
      for (k <- Seq(3L, 7L)) {
        val rows = ch.filter(_._1 == k).sortBy(_._3)
        assert(rows.map(_._3).toSeq === Seq("delete", "insert"), s"$name k=$k: ${rows.toSeq}")
        assert(rows.forall(_._4 === idsBefore(k)),
          s"$name k=$k: changelog ids diverge from the row's identity")
        assert(rows.map(_._2).toSet === Set(s"v$k", "changed"))
      }
      // plain delete carries the retired id; nothing else changed
      val del9 = ch.filter(_._1 == 9L)
      assert(del9.toSeq === Seq((9L, "v9", "delete", idsBefore(9L))), s"$name")
      assert(ch.length === 5, s"$name: ${ch.toSeq.sortBy(_._1)}")
    }
  }

  test("lineage on multi-file, filtered, and non-parquet scans") {
    freshCatalog("rl3")
    spark.sql("CREATE TABLE rl3.db.t (k BIGINT, grp INT, v STRING)")
    spark.sql("INSERT INTO rl3.db.t SELECT id, cast(id % 4 AS INT), " +
      "concat('v', id) FROM range(400)")
    // unique across files; filters compose
    val ids = spark.sql("SELECT _row_id FROM rl3.db.t")
      .collect().map(_.getLong(0))
    assert(ids.distinct.length === 400)
    assert(ids.min === 0L && ids.max === 399L)
    val filtered = spark.sql(
      "SELECT k, _row_id FROM rl3.db.t WHERE grp = 2").collect()
    val all = spark.sql("SELECT k, _row_id FROM rl3.db.t").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    filtered.foreach(r => assert(all(r.getLong(0)) === r.getLong(1)))
    // avro data files ride the synthesized-position machinery
    spark.sql("CREATE TABLE rl3.db.ta (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('write.format.default' = 'avro')")
    spark.sql("INSERT INTO rl3.db.ta SELECT id, concat('v', id) FROM range(60)")
    val aIds = spark.sql("SELECT _row_id FROM rl3.db.ta")
      .collect().map(_.getLong(0)).sorted
    assert(aIds.toSeq === (0L until 60L))
  }
}
