package graft

import java.nio.file.Files

import graft.meta.Schema
import graft.meta.expr.Exprs._
import graft.meta.model.{DataFileMeta, FileContent, Operation, TableProperties}
import graft.table.{IceTable, TableImport, ValidationException}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MergeOnReadSpec extends AnyFunSuite {
  import SparkSessionHelper._

  private def tmpLoc(): String =
    Files.createTempDirectory("graft-mor-").toString + "/t"

  private lazy val orders = Tables.load(spark, sf0001, "orders").cache()

  test("equality deletes suppress matching rows without rewriting files") {
    val loc = tmpLoc()
    val t = IceTable.create(spark, loc, Schema.fresh(orders.schema))
    t.append(orders)
    val filesBefore = t.newScan().planFiles().map(_.file.path).toSet
    val victims = orders.limit(20).select("o_orderkey")
    t.addEqualityDeletes(victims, Seq("o_orderkey"))
    // no data file rewritten
    assert(t.newScan().planFiles().map(_.file.path).toSet === filesBefore)
    val expected = orders.join(victims, Seq("o_orderkey"), "left_anti").count()
    assert(t.toDF.count() === expected)
    assert(t.toDF.join(victims, Seq("o_orderkey"), "left_semi").count() === 0)
  }

  test("re-inserted rows after an equality delete survive (sequence ordering)") {
    val loc = tmpLoc()
    val t = IceTable.create(spark, loc, Schema.fresh(orders.schema))
    t.append(orders.limit(100))
    val victim = orders.limit(1)
    t.addEqualityDeletes(victim.select("o_orderkey"), Seq("o_orderkey"))
    assert(t.toDF.count() === 99)
    // append the row again AFTER the delete: must be visible
    t.append(victim)
    assert(t.toDF.count() === 100)
    val key = victim.collect()(0).getLong(0)
    assert(t.toDF.filter(col("o_orderkey") === key).count() === 1)
  }

  test("position deletes via merge-on-read DELETE WHERE") {
    val loc = tmpLoc()
    val t = IceTable.create(spark, loc, Schema.fresh(orders.schema))
    t.append(orders)
    val filesBefore = t.newScan().planFiles().map(_.file.path).toSet
    val expected = orders.filter(!(col("o_orderstatus") === "F")).count()
    t.deleteMergeOnRead(equalTo("o_orderstatus", "F"))
    assert(t.newScan().planFiles().map(_.file.path).toSet === filesBefore)
    assert(t.toDF.count() === expected)
    assert(t.toDF.filter(col("o_orderstatus") === "F").count() === 0)
    // filtered scans compose with the delete filter
    assert(t.newScan().filter(equalTo("o_orderstatus", "F")).toDF.count() === 0)
  }

  test("position_deletes metadata table exposes live tombstones") {
    val loc = tmpLoc()
    import spark.implicits._
    val df = (0 until 10).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1)
    val t = IceTable.create(spark, loc, Schema.fresh(df.schema))
    t.append(df)
    t.deleteMergeOnRead(in("k", 2, 5))
    val rows = graft.table.MetadataTables(t, "position_deletes")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(4)))
    assert(rows.length === 2)
    assert(rows.map(_._2).sorted.toSeq === Seq(2L, 5L))
    val dataPaths = t.newScan().planFiles().map(_.file.path).toSet
    rows.foreach { case (dataPath, _, delPath) =>
      assert(dataPaths.exists(_.endsWith(dataPath.split('/').last)), dataPath)
      assert(delPath != null && t.io.exists(delPath), s"scope join failed: $delPath")
    }
    // after compaction the tombstones are dangling (their target file is
    // gone but the delete FILE is still live — same as the ref's table);
    // remove_dangling_deletes empties the view
    graft.table.Maintenance.rewriteDataFiles(t, minInputFiles = 1)
    graft.table.Maintenance.removeDanglingDeletes(t)
    assert(graft.table.MetadataTables(t, "position_deletes").count() === 0)
  }

  test("compaction applies merge-on-read deletes and clears them") {
    val loc = tmpLoc()
    val t = IceTable.create(spark, loc, Schema.fresh(orders.schema))
    t.append(orders.limit(50).repartition(3))
    t.append(orders.limit(100).exceptAll(orders.limit(50)).repartition(3))
    t.addEqualityDeletes(orders.limit(10).select("o_orderkey"), Seq("o_orderkey"))
    val before = t.toDF.count()
    t.rewriteDataFiles()
    assert(t.toDF.count() === before)
    // rewritten files are post-delete: even ignoring delete files, no victims
    val victims = orders.limit(10).select("o_orderkey")
    assert(t.toDF.join(victims, Seq("o_orderkey"), "left_semi").count() === 0)
  }

  test("CoW update on a table with equality deletes does not resurrect rows") {
    val loc = tmpLoc()
    val t = IceTable.create(spark, loc, Schema.fresh(orders.schema))
    t.append(orders.limit(100))
    t.addEqualityDeletes(orders.limit(5).select("o_orderkey"), Seq("o_orderkey"))
    assert(t.toDF.count() === 95)
    t.update(notNull("o_orderkey"), Map("o_totalprice" -> lit(1.0)))
    assert(t.toDF.count() === 95)
    assert(t.toDF.filter(col("o_totalprice") =!= 1.0).count() === 0)
  }

  test("equality deletes with null keys match null rows (null-safe join)") {
    val loc = tmpLoc()
    val withNulls = orders.limit(50)
      .withColumn("o_orderpriority",
        when(col("o_orderkey") % 10 === 0, lit(null)).otherwise(col("o_orderpriority")))
    val t = IceTable.create(spark, loc, Schema.fresh(withNulls.schema))
    t.append(withNulls)
    val nNull = withNulls.filter(col("o_orderpriority").isNull).count()
    assert(nNull > 0)
    import spark.implicits._
    t.addEqualityDeletes(Seq[String](null).toDF("o_orderpriority"), Seq("o_orderpriority"))
    assert(t.toDF.count() === 50 - nNull)
    assert(t.toDF.filter(col("o_orderpriority").isNull).count() === 0)
  }

  test("equality deletes covering partition sources are partition-scoped") {
    val loc = tmpLoc()
    val schema = Schema.fresh(orders.schema)
    val t = IceTable.create(spark, loc, schema,
      graft.meta.PartitionSpec.builderFor(schema).identity("o_orderstatus").build())
    t.append(orders)
    t.addEqualityDeletes(
      orders.limit(200).select("o_orderkey", "o_orderstatus").distinct(),
      Seq("o_orderkey", "o_orderstatus"))
    // delete files carry real partition tuples, one per touched partition
    val deletes = t.newScan().planDeletes().map(_._1)
    assert(deletes.nonEmpty)
    assert(deletes.forall(d => d.partition.size == 1 && d.partition.head != null))
    assert(deletes.map(_.partition.head).distinct.size ===
      orders.limit(200).select("o_orderstatus").distinct().count())
    // semantics unchanged
    val victims = orders.limit(200).select("o_orderkey").distinct()
    val expected = orders.join(victims, Seq("o_orderkey"), "left_anti").count()
    assert(t.toDF.count() === expected)
    // a single-partition scan only applies that partition's delete files
    val tasks = t.newScan().filter(equalTo("o_orderstatus", "F")).planFiles()
    val groups = graft.table.Reads.groupTasksByDeletes(tasks, t.newScan().planDeletes())
    val applied = groups.flatMap(_._1).distinct
    assert(applied.forall(_.partition.head == "F"))
    assert(applied.size < deletes.size)
  }

  test("position deletes are scoped to their target file's partition") {
    val loc = tmpLoc()
    val schema = Schema.fresh(orders.schema)
    val t = IceTable.create(spark, loc, schema,
      graft.meta.PartitionSpec.builderFor(schema).identity("o_orderstatus").build())
    t.append(orders)
    // a single-key delete is a PARTIAL-file match (whole-partition filters
    // now drop files metadata-only instead of writing delete rows)
    val victim = orders.limit(1).collect().head
    val key = victim.getAs[Long]("o_orderkey")
    val status = victim.getAs[String]("o_orderstatus")
    t.deleteMergeOnRead(equalTo("o_orderkey", key))
    val deletes = t.newScan().planDeletes().map(_._1)
    assert(deletes.nonEmpty)
    assert(deletes.forall(_.partition.head == status))
    assert(t.toDF.filter(col("o_orderkey") === key).count() === 0)
    assert(t.toDF.count() === orders.count() - 1)
  }

  test("MoR commit fails when a file its position deletes reference was concurrently removed") {
    val loc = tmpLoc()
    val t = IceTable.create(spark, loc, Schema.fresh(orders.schema))
    t.append(orders.limit(100))
    val victim = t.newScan().planFiles().head.file.path
    // a concurrent CoW rewrite removes the victim between plan and commit
    t.commitSnapshot(graft.meta.model.Operation.Delete, Nil, Set(victim))
    val e = intercept[graft.table.ValidationException] {
      t.commitSnapshot(graft.meta.model.Operation.Delete, Nil, Set.empty,
        Map.empty, validate = Some(graft.table.ConflictValidation(
          None, graft.meta.expr.TrueExpr, "snapshot",
          requiredLivePaths = Set(victim))))
    }
    assert(e.getMessage.contains("no longer live"))
  }

  test("whole-partition merge-on-read delete is metadata-only") {
    val loc = tmpLoc()
    val schema = Schema.fresh(orders.schema)
    val t = IceTable.create(spark, loc, schema,
      graft.meta.PartitionSpec.builderFor(schema).identity("o_orderstatus").build())
    t.append(orders)
    t.deleteMergeOnRead(equalTo("o_orderstatus", "F"))
    assert(t.newScan().planDeletes().isEmpty, "strict partition match ⇒ no delete files")
    assert(t.toDF.filter(col("o_orderstatus") === "F").count() === 0)
    assert(t.toDF.count() === orders.filter(col("o_orderstatus") =!= "F").count())
  }

  test("union branch count is bounded by delete commits, not data sequences") {
    import graft.meta.model.{DataFileMeta, FileContent}
    import graft.table.FileScanTask
    import graft.meta.expr.TrueExpr
    def data(seq: Long) = FileScanTask(
      DataFileMeta(s"/d/f$seq.parquet", "parquet", 0, Nil, 10, 100), TrueExpr, seq)
    def eqDel(seq: Long) = (DataFileMeta(s"/del/e$seq.parquet", "parquet", 0, Nil,
      1, 10, content = FileContent.EqualityDeletes, equalityIds = Seq(1)), seq)
    // 50 data commits at distinct sequences, 3 delete commits
    val tasks = (1L to 50L).map(data)
    val deletes = Seq(eqDel(10L), eqDel(25L), eqDel(40L))
    val groups = graft.table.Reads.groupTasksByDeletes(tasks, deletes)
    assert(groups.size <= deletes.size + 1)
    // every task appears exactly once; per-seq semantics preserved
    assert(groups.flatMap(_._2).size === 50)
    groups.foreach { case (applicable, ts) =>
      ts.foreach { t =>
        val want = deletes.filter(_._2 > t.seq).map(_._1.path).toSet
        assert(applicable.map(_.path).toSet === want)
      }
    }
  }

  test("import existing hive-layout parquet without rewrite") {
    val src = Files.createTempDirectory("graft-import-").toString + "/src"
    orders.withColumn("status", col("o_orderstatus"))
      .write.partitionBy("status").parquet(src)
    val loc = tmpLoc()
    val t = TableImport.importParquet(spark, src, loc)
    assert(t.spec.fields.map(_.name) === Seq("status"))
    assert(t.toDF.count() === orders.count())
    // injected partition constants readable + filterable with pruning
    val f = t.newScan().filter(equalTo("status", "F"))
    val expected = orders.filter(col("o_orderstatus") === "F").count()
    assert(f.planFiles().size < t.newScan().planFiles().size)
    assert(f.toDF.count() === expected)
    // original columns intact
    assert(math.abs(t.toDF.agg(sum("o_totalprice")).collect()(0).getDouble(0) -
      orders.agg(sum("o_totalprice")).collect()(0).getDouble(0)) < 1e-6)
  }

  test("rename after import still reads imported files (schema-version name mapping)") {
    val src = Files.createTempDirectory("graft-import-").toString + "/src"
    orders.select("o_orderkey", "o_totalprice").write.parquet(src)
    val loc = tmpLoc()
    val t = TableImport.importParquet(spark, src, loc)
    // rename a column AFTER import: imported files keep the import-time
    // schema version, so field-ID resolution maps new name -> old parquet
    // column (the role of ref NameMapping for id-less files)
    t.updateSchema(_.renameColumn("o_totalprice", "price"))
    val t2 = IceTable.load(spark, loc)
    assert(t2.schema.columnNames.contains("price"))
    val got = t2.newScan().select("o_orderkey", "price").toDF
      .agg(sum("price")).collect()(0).getDouble(0)
    val want = orders.agg(sum("o_totalprice")).collect()(0).getDouble(0)
    assert(math.abs(got - want) < 1e-6)
    // filters on the renamed column reach imported files too
    assert(t2.newScan().filter(greaterThan("price", 100000.0)).toDF.count() ===
      orders.filter(col("o_totalprice") > 100000.0).count())
  }

  test("transaction: append + delete + properties in one atomic commit") {
    val loc = tmpLoc()
    val t = IceTable.create(spark, loc, Schema.fresh(orders.schema))
    t.append(orders.limit(50))
    val versionsBefore = t.snapshots.size
    t.newTransaction()
      .append(orders.limit(100).exceptAll(orders.limit(50)))
      .delete(lessThan("o_orderkey", orders.limit(10)
        .agg(max("o_orderkey")).collect()(0).getLong(0)))
      .updateProperties(Map("txn-test" -> "yes"))
      .commit()
    assert(t.snapshots.size === versionsBefore + 1) // ONE new snapshot
    assert(t.meta.properties("txn-test") === "yes")
  }

  test("schema + spec + sort-order evolution APIs") {
    val loc = tmpLoc()
    val t = IceTable.create(spark, loc, Schema.fresh(orders.schema))
    t.append(orders.limit(10))
    t.updateSchema(_.addColumn("flag", org.apache.spark.sql.types.StringType)
      .renameColumn("o_orderpriority", "priority"))
    assert(t.schema.contains("flag") && t.schema.contains("priority"))
    assert(t.toDF.filter(col("priority").isNotNull).count() === 10)
    t.updateSpec(_.identity("o_orderstatus"))
    assert(t.spec.fields.map(_.name) === Seq("o_orderstatus"))
    // old unpartitioned files still scan fine alongside new partitioned ones
    t.append(orders.limit(20).exceptAll(orders.limit(10))
      .withColumn("flag", lit("new")).withColumnRenamed("o_orderpriority", "priority"))
    assert(t.toDF.count() === 20)
    t.updateProperties(Map("write.distribution-mode" -> "none"))
    assert(t.meta.property("write.distribution-mode", "hash") === "none")
  }

  // ---- equality-delete key shapes: only primitive keys can be applied

  /** (id, k) rows with a nested key column `k` built by `key`. */
  private def nestedKeyTable(key: org.apache.spark.sql.Column) = {
    val df = spark.range(40).select(col("id"), key.as("k"))
    val t = IceTable.create(spark, tmpLoc(), Schema.fresh(df.schema))
    t.append(df)
    (t, df)
  }

  private def assertKeyRefused(key: org.apache.spark.sql.Column, kind: String): Unit = {
    val (t, df) = nestedKeyTable(key)
    val e = intercept[ValidationException](
      t.addEqualityDeletes(df.filter(col("id") < 4).select("k"), Seq("k")))
    assert(e.getMessage.contains("key column k") && e.getMessage.contains(kind),
      e.getMessage)
    assert(t.newScan().planDeletes().isEmpty)
    assert(t.toDF.count() === 40)
  }

  test("equality deletes refuse a struct key column") {
    assertKeyRefused(struct((col("id") % 8).as("a"), lit("x").as("b")), "struct")
  }

  test("equality deletes refuse a map key column") {
    assertKeyRefused(map(lit("a"), col("id") % 8), "map")
  }

  test("equality deletes refuse an array key column") {
    assertKeyRefused(array(col("id") % 8, lit(1L)), "array")
  }

  test("planning refuses a committed struct-keyed equality delete, naming the file") {
    val (t, df) = nestedKeyTable(struct((col("id") % 8).as("a"), lit("x").as("b")))
    // written and committed by hand: the writers refuse this shape
    val dir = s"${t.location}/data/hand-deletes"
    df.filter(col("id") < 4).select("k").coalesce(1).write.parquet(dir)
    val file = t.io.listRecursive(dir).find(_.getPath.getName.endsWith(".parquet")).get
    val del = DataFileMeta(path = file.getPath.toString, format = "parquet",
      specId = t.meta.defaultSpecId, partition = Nil, recordCount = 4L,
      fileSizeBytes = file.getLen, schemaId = t.meta.currentSchemaId,
      content = FileContent.EqualityDeletes, equalityIds = Seq(t.schema.fieldId("k")))
    t.commitSnapshot(Operation.Delete, Seq(del), Set.empty)
    val reads: Seq[(String, () => Any)] = Seq(
      "toDF" -> (() => t.toDF.count()),
      "SQL read" -> (() => spark.read.format("graft").load(t.location).count()),
      // a rewrite would otherwise commit the deleted rows back as live data
      "compaction" -> (() => t.rewriteDataFiles()))
    reads.foreach { case (what, read) =>
      val e = intercept[ValidationException](read())
      assert(e.getMessage.contains(del.path) && e.getMessage.contains("key column k"),
        s"$what: ${e.getMessage}")
    }
  }

  // ---- transaction delete keeps earlier deletes applied

  private def assertTransactionDeleteKeepsDeletes(props: Map[String, String])(
      deleteFirstTen: IceTable => Unit): Unit = {
    val df = spark.range(100).select(col("id").as("k"), (col("id") * 2).as("v"))
    val t = IceTable.create(spark, tmpLoc(), Schema.fresh(df.schema), properties = props)
    t.append(df.coalesce(1))
    deleteFirstTen(t)
    assert(t.toDF.count() === 90)
    t.newTransaction()
      .delete(and(greaterThanOrEqual("k", 50L), lessThan("k", 60L)))
      .commit()
    assert(t.toDF.count() === 80)
    assert(t.toDF.filter(col("k") < 10).count() === 0, "earlier-deleted rows came back")
  }

  test("transaction delete does not bring back position-deleted rows") {
    assertTransactionDeleteKeepsDeletes(Map.empty)(
      _.deleteMergeOnRead(lessThan("k", 10L)))
  }

  test("transaction delete does not bring back deletion-vector rows") {
    assertTransactionDeleteKeepsDeletes(Map(TableProperties.DeleteVectors -> "true")) { t =>
      t.deleteMergeOnRead(lessThan("k", 10L))
      assert(t.newScan().planDeletes().forall(_._1.content == FileContent.DeletionVectors))
    }
  }

  test("transaction delete does not bring back equality-deleted rows") {
    assertTransactionDeleteKeepsDeletes(Map.empty)(t =>
      t.addEqualityDeletes(spark.range(10).select(col("id").as("k")), Seq("k")))
  }

  // ---- reads whose projection omits the equality-delete key

  test("a projection without the equality-delete key still applies the delete") {
    val df = spark.range(100).select(col("id").as("k"), col("id").cast("string").as("v"))
    val t = IceTable.create(spark, tmpLoc(), Schema.fresh(df.schema))
    t.append(df)
    t.addEqualityDeletes(spark.range(10).select(col("id").as("k")), Seq("k"))
    assert(t.newScan().select("v").toDF.count() === 90)
    assert(spark.read.format("graft").load(t.location).select("v").count() === 90)
  }

  test("insert-only MERGE reads target keys past an equality delete on another column") {
    val df = spark.range(100)
      .select(col("id").as("k"), (col("id") % 10).as("g"), col("id").as("v"))
    val t = IceTable.create(spark, tmpLoc(), Schema.fresh(df.schema))
    t.append(df)
    t.addEqualityDeletes(spark.range(1).select(col("id").as("g")), Seq("g"))
    assert(t.toDF.count() === 90)
    // 90 was deleted (g = 0) so it inserts again; 95..99 match; 100..104 are new
    val src = spark.range(95, 105).union(spark.range(90, 91))
      .select(col("id").as("k"), (col("id") % 10).as("g"), col("id").as("v"))
    t.merge(src, Seq("k")).whenNotMatchedInsertAll().execute()
    assert(t.toDF.count() === 96)
    assert(t.toDF.filter(col("k") === 90).count() === 1)
    assert(t.toDF.filter(col("k") >= 95).count() === 10)
  }
}
