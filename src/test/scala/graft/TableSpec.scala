package graft

import java.nio.file.Files

import graft.meta.{PartitionSpec, Schema}
import graft.meta.expr.Exprs._
import graft.meta.model.SortOrderMeta
import graft.table.{IceTable, ValidationException}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TableSpec extends AnyFunSuite {
  import SparkSessionHelper._

  private def tmpLoc(): String =
    Files.createTempDirectory("graft-table-").toString + "/t"

  private lazy val lineitem: DataFrame =
    Tables.load(spark, sf0001, "lineitem").cache()
  private lazy val orders: DataFrame =
    Tables.load(spark, sf0001, "orders").cache()

  test("create + append + full scan round-trip (unpartitioned)") {
    val loc = tmpLoc()
    val t = IceTable.create(spark, loc, Schema.fresh(lineitem.schema))
    t.append(lineitem)
    assert(t.toDF.count() === lineitem.count())
    // snapshot recorded
    assert(t.snapshots.size === 1)
    assert(t.currentSnapshot.get.operation === "append")
    // metrics present: a selective filter prunes all files when out of range
    val none = t.newScan().filter(equalTo("l_orderkey", -1)).planFiles()
    assert(none.isEmpty)
  }

  test("partition summaries appear in snapshot summary under the limit, vanish over it") {
    val loc = tmpLoc()
    val schema = Schema.fresh(orders.schema)
    val spec = PartitionSpec.builderFor(schema).identity("o_orderstatus").build()
    val t = IceTable.create(spark, loc, schema, spec,
      properties = Map("write.summary.partition-limit" -> "5"))
    t.append(orders) // 3 distinct o_orderstatus values ≤ limit
    val s1 = t.currentSnapshot.get.summary
    assert(s1.get("partition-summaries-included") === Some("true"))
    assert(s1("changed-partition-count") === "3")
    assert(s1.keys.count(_.startsWith("partitions.")) === 3)
    assert(s1.keys.exists(_ == "partitions.O"), s1.keys.filter(_.startsWith("partitions.")))
    // over the limit: no per-partition entries
    t.updateProperties(Map("write.summary.partition-limit" -> "2"))
    t.append(orders)
    val s2 = t.currentSnapshot.get.summary
    assert(!s2.contains("partition-summaries-included"))
    assert(s2.keys.forall(!_.startsWith("partitions.")))
  }

  test("a stale hint pointing below the retention floor still resolves") {
    val loc = tmpLoc()
    val small = lineitem.limit(3)
    val t = IceTable.create(spark, loc, Schema.fresh(small.schema),
      properties = Map(
        "write.metadata.previous-versions-max" -> "2",
        "write.metadata.delete-after-commit.enabled" -> "true"))
    (1 to 6).foreach(_ => t.append(small))
    // a restored/externally-written hint below the retention floor: v3 is
    // deleted, so probing up from it dead-ends — recovery must LIST
    t.io.writeString(s"$loc/metadata/version-hint.text", "3")
    val fresh = IceTable.load(spark, loc)
    assert(fresh.toDF.count() === 18)
    fresh.append(small)
    assert(fresh.toDF.count() === 21)
  }

  test("version discovery survives a lost hint after early versions were deleted") {
    val loc = tmpLoc()
    val small = lineitem.limit(3)
    val t = IceTable.create(spark, loc, Schema.fresh(small.schema),
      properties = Map(
        "write.metadata.previous-versions-max" -> "2",
        "write.metadata.delete-after-commit.enabled" -> "true"))
    (1 to 6).foreach(_ => t.append(small))
    // v1..v4 are gone; now lose the hint — recovery must LIST, not probe v1
    assert(!t.io.exists(s"$loc/metadata/v1.metadata.json"))
    t.io.delete(s"$loc/metadata/version-hint.text")
    val fresh = IceTable.load(spark, loc)
    assert(fresh.toDF.count() === 18)
    // and commits still work from the recovered version
    fresh.append(small)
    assert(fresh.toDF.count() === 21)
  }

  test("gzip metadata compression round-trips, survives codec changes") {
    val loc = tmpLoc()
    val small = lineitem.limit(5)
    val t = IceTable.create(spark, loc, Schema.fresh(small.schema),
      properties = Map("write.metadata.compression-codec" -> "gzip"))
    t.append(small)
    // v1 is always plain-named: at creation there is no base metadata for
    // racing creators to agree a name on, so the codec kicks in at v2
    assert(t.io.exists(s"$loc/metadata/v1.metadata.json"))
    assert(!t.io.exists(s"$loc/metadata/v1.gz.metadata.json"))
    assert(t.io.exists(s"$loc/metadata/v2.gz.metadata.json"))
    assert(!t.io.exists(s"$loc/metadata/v2.metadata.json"))
    // compressed metadata is really gzip on disk (magic bytes), real JSON through IO
    val p = new org.apache.hadoop.fs.Path(s"$loc/metadata/v2.gz.metadata.json")
    val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
    val magic = try { val b = new Array[Byte](2); in.readFully(b); b } finally in.close()
    assert((magic(0) & 0xff) === 0x1f && (magic(1) & 0xff) === 0x8b)
    assert(t.toDF.count() === 5)
    // codec change: later versions plain; mixed history stays readable from
    // a FRESH handle (no cached state)
    t.updateProperties(Map("write.metadata.compression-codec" -> "none"))
    t.append(small)
    assert(t.io.exists(s"$loc/metadata/v4.metadata.json"))
    assert(IceTable.load(spark, loc).toDF.count() === 10)
    assert(IceTable.load(spark, loc).meta.metadataLog.nonEmpty)
  }

  test("key_metadata round-trips through manifests; plaintext manager refuses keyed files") {
    import graft.meta.model.{DataFileMeta, ManifestEntry, EntryStatus}
    import graft.table.{ManifestIO, PlaintextEncryptionManager}
    val loc = tmpLoc()
    val small = lineitem.limit(3)
    val t = IceTable.create(spark, loc, Schema.fresh(small.schema))
    t.append(small)
    // an encrypted lake's entry: opaque key metadata bytes on the file
    val km: Seq[Byte] = Array[Byte](1, 2, -3, 127, 0, -128).toSeq
    val base = t.newScan().planFiles().head.file
    val keyed = base.copy(path = base.path + ".enc", keyMetadata = Some(km))
    val mpath = s"$loc/metadata/test-km.manifest.parquet"
    ManifestIO.write(t.io, mpath,
      Seq(ManifestEntry(EntryStatus.Added, 1L, 1L, keyed)),
      t.meta.schema, t.meta.spec)
    val back = ManifestIO.read(t.io, mpath, t.meta.schema, t.meta.specById)
    assert(back.size === 1)
    assert(back.head.dataFile.keyMetadata === Some(km),
      "key_metadata must survive the manifest round-trip byte-for-byte")
    // files written today carry none (plaintext default)
    assert(t.newScan().planFiles().forall(_.file.keyMetadata.isEmpty))
    // the plaintext manager passes streams through untouched...
    val raw = new java.io.ByteArrayOutputStream()
    assert(PlaintextEncryptionManager.keyMetadata("f").isEmpty)
    assert(PlaintextEncryptionManager.encrypt("f", raw) eq raw)
    val in = new java.io.ByteArrayInputStream(Array[Byte](7))
    assert(PlaintextEncryptionManager.decrypt("f", in, None) eq in)
    // ...but refuses to "decrypt" a file that claims to be encrypted
    intercept[IllegalArgumentException] {
      PlaintextEncryptionManager.decrypt("f", in, Some(km))
    }
    // and a LIVE keyed entry fails every scan at PLAN time — reading
    // ciphertext through the plaintext manager must never look like data
    val t2 = IceTable.create(spark, tmpLoc(), Schema.fresh(small.schema))
    t2.append(small)
    val f2 = t2.newScan().planFiles().head.file
    t2.commitSnapshot("append", Seq(f2.copy(keyMetadata = Some(km))), Set(f2.path))
    val e = intercept[ValidationException] { t2.newScan().planFiles() }
    assert(e.getMessage.contains("encryption key metadata"))
  }

  test("metadata log is bounded; delete-after-commit removes dropped versions") {
    val loc = tmpLoc()
    val small = lineitem.limit(5)
    val t = IceTable.create(spark, loc, Schema.fresh(small.schema),
      properties = Map(
        "write.metadata.previous-versions-max" -> "3",
        "write.metadata.delete-after-commit.enabled" -> "true"))
    (1 to 8).foreach(_ => t.append(small))
    val log = t.meta.metadataLog
    assert(log.size === 3, s"log should be trimmed to 3, was ${log.size}")
    // the kept entries are the MOST RECENT previous versions, still on disk
    log.foreach(e => assert(t.io.exists(e.file), s"${e.file} should exist"))
    // dropped versions are gone from disk (v1 was the create)
    assert(!t.io.exists(s"$loc/metadata/v2.metadata.json"))
    // reads still work; time travel within retained snapshots unaffected
    assert(t.toDF.count() === 40)

    // without delete-after-commit the log still trims but files survive
    val loc2 = tmpLoc()
    val t2 = IceTable.create(spark, loc2, Schema.fresh(small.schema),
      properties = Map("write.metadata.previous-versions-max" -> "3"))
    (1 to 8).foreach(_ => t2.append(small))
    assert(t2.meta.metadataLog.size === 3)
    assert(t2.io.exists(s"$loc2/metadata/v2.metadata.json"))
  }

  test("object-store layout: hashed prefixes outside the table dir; drop purges by reachability") {
    val base = Files.createTempDirectory("graft-objstore-").toString
    spark.conf.set("spark.sql.catalog.obj", "graft.spark.GraftCatalog")
    spark.conf.set("spark.sql.catalog.obj.warehouse", s"$base/wh")
    val store = s"$base/bucket"
    spark.sql("CREATE TABLE obj.db.t (k INT, v STRING) TBLPROPERTIES (" +
      "'write.object-storage.enabled' = 'true', " +
      s"'write.object-storage.path' = '$store')")
    (1 to 3).foreach(i => spark.sql(s"INSERT INTO obj.db.t VALUES ($i, 'x$i')"))
    val t = IceTable.load(spark, s"$base/wh/db/t")
    val files = t.newScan().planFiles().map(_.file.path)
    assert(files.nonEmpty)
    val rx = (java.util.regex.Pattern.quote(store) + "/([0-9a-f]{8})/db/t/").r
    val prefixes = files.flatMap(p => rx.findFirstMatchIn(p).map(_.group(1)))
    assert(prefixes.size === files.size,
      s"every data file must sit under an 8-hex prefix + db/t context: $files")
    assert(prefixes.distinct.size >= 2, "commits should spread across prefixes")
    assert(spark.sql("SELECT count(*) FROM obj.db.t").head().getLong(0) === 3)
    // merge-on-read delete files land under hashed prefixes too, reads fine
    spark.sql("ALTER TABLE obj.db.t SET TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')")
    spark.sql("DELETE FROM obj.db.t WHERE k = 2")
    assert(spark.sql("SELECT count(*) FROM obj.db.t").head().getLong(0) === 2)
    // DROP must purge by reachability — a plain table-dir delete would
    // leak every hashed file in the bucket
    spark.sql("DROP TABLE obj.db.t")
    val io = t.io
    assert(!io.exists(s"$base/wh/db/t"))
    assert(io.listRecursive(store).isEmpty,
      s"object-store bucket should be empty after drop")
  }

  test("bucket-partitioned append: pruning is correct and effective") {
    val loc = tmpLoc()
    val schema = Schema.fresh(lineitem.schema)
    val spec = PartitionSpec.builderFor(schema).bucket("l_orderkey", 8).build()
    val t = IceTable.create(spark, loc, schema, spec)
    t.append(lineitem)
    val all = t.newScan().planFiles()
    assert(all.size === 8) // hash distribution → one file per bucket
    // eq filter hits exactly one bucket
    val one = t.newScan().filter(equalTo("l_orderkey", 1L)).planFiles()
    assert(one.size === 1)
    // differential: pruned scan result == plain Spark filter on source
    val got = t.newScan().filter(equalTo("l_orderkey", 1L)).toDF
      .select("l_orderkey", "l_linenumber").orderBy("l_linenumber").collect()
    val exp = lineitem.filter(col("l_orderkey") === 1L)
      .select("l_orderkey", "l_linenumber").orderBy("l_linenumber").collect()
    assert(got.toSeq === exp.toSeq)
  }

  test("day-partitioned orders: time pruning + residual") {
    val loc = tmpLoc()
    val schema = Schema.fresh(orders.schema)
    val spec = PartitionSpec.builderFor(schema).day("o_orderdate").build()
    val t = IceTable.create(spark, loc, schema, spec)
    t.append(orders)
    val all = t.newScan().planFiles()
    val filtered = t.newScan()
      .filter(and(greaterThanOrEqual("o_orderdate", "1995-01-01 00:00:00"),
        lessThan("o_orderdate", "1996-01-01 00:00:00")))
    assert(filtered.planFiles().size < all.size)
    val got = filtered.toDF.agg(count(lit(1)), sum("o_totalprice")).collect()(0)
    val exp = orders.filter(col("o_orderdate") >= "1995-01-01"
      && col("o_orderdate") < "1996-01-01")
      .agg(count(lit(1)), sum("o_totalprice")).collect()(0)
    assert(got.getLong(0) === exp.getLong(0))
    assert(math.abs(got.getDouble(1) - exp.getDouble(1)) < 1e-6)
  }

  test("time travel + incremental appendsBetween") {
    val loc = tmpLoc()
    val t = IceTable.create(spark, loc, Schema.fresh(orders.schema))
    val (first, second) = (orders.limit(100), orders.orderBy(desc("o_orderkey")).limit(50))
    t.append(first)
    val snap1 = t.currentSnapshot.get.snapshotId
    t.append(second)
    val snap2 = t.currentSnapshot.get.snapshotId
    assert(t.toDF.count() === 150)
    assert(t.newScan().useSnapshot(snap1).toDF.count() === 100)
    assert(t.appendsBetween(snap1, snap2).count() === 50)
    t.rollbackTo(snap1)
    assert(t.toDF.count() === 100)
    t.setCurrentSnapshot(snap2)
    assert(t.toDF.count() === 150)
  }

  test("metadata-only delete drops whole partitions without rewriting") {
    val loc = tmpLoc()
    val schema = Schema.fresh(orders.schema)
    val spec = PartitionSpec.builderFor(schema).identity("o_orderstatus").build()
    val t = IceTable.create(spark, loc, schema, spec)
    t.append(orders)
    val before = t.newScan().planFiles().map(_.file.path).toSet
    val expected = orders.filter(col("o_orderstatus") =!= "F").count()
    t.delete(equalTo("o_orderstatus", "F"))
    assert(t.toDF.count() === expected)
    // metadata-only: every surviving file already existed
    val after = t.newScan().planFiles().map(_.file.path).toSet
    assert(after.subsetOf(before))
    assert(t.currentSnapshot.get.summary("metadata-only-deleted-files").toInt > 0)
  }

  test("copy-on-write delete rewrites only affected rows") {
    val loc = tmpLoc()
    val t = IceTable.create(spark, loc, Schema.fresh(lineitem.schema))
    t.append(lineitem)
    val expected = lineitem.filter(!(col("l_quantity") > 45.0)).count()
    t.delete(greaterThan("l_quantity", 45.0))
    assert(t.toDF.count() === expected)
    assert(t.toDF.filter(col("l_quantity") > 45.0).count() === 0)
  }

  test("update rewrites matching rows") {
    val loc = tmpLoc()
    val t = IceTable.create(spark, loc, Schema.fresh(orders.schema))
    t.append(orders)
    t.update(equalTo("o_orderstatus", "F"),
      Map("o_totalprice" -> lit(0.0), "o_orderpriority" -> lit("0-CLEARED")))
    val updated = t.toDF.filter(col("o_orderstatus") === "F")
    assert(updated.filter(col("o_totalprice") =!= 0.0).count() === 0)
    assert(updated.filter(col("o_orderpriority") =!= "0-CLEARED").count() === 0)
    val untouched = t.toDF.filter(col("o_orderstatus") =!= "F")
    val exp = orders.filter(col("o_orderstatus") =!= "F")
      .agg(sum("o_totalprice")).collect()(0).getDouble(0)
    assert(math.abs(untouched.agg(sum("o_totalprice")).collect()(0).getDouble(0) - exp) < 1e-6)
  }

  test("merge: update + delete + insert with first-match-wins") {
    val loc = tmpLoc()
    val t = IceTable.create(spark, loc, Schema.fresh(orders.schema))
    t.append(orders.limit(100))
    import spark.implicits._
    val existing = orders.limit(100).select("o_orderkey").as[Long].collect().toSet
    // source: 50 updates (halve price), 10 deletes, 20 inserts
    val toUpdate = orders.limit(50).withColumn("op", lit("U"))
    val toDelete = orders.limit(60).orderBy("o_orderkey")
      .limit(60).exceptAll(orders.limit(50)).limit(10).withColumn("op", lit("D"))
    val inserts = orders.orderBy(desc("o_orderkey")).limit(20)
      .filter(!col("o_orderkey").isin(existing.toSeq: _*)).withColumn("op", lit("I"))
    val source = toUpdate.unionByName(toDelete).unionByName(inserts)
      .withColumn("o_totalprice", col("o_totalprice") / 2)
    val nDel = toDelete.count(); val nIns = inserts.count()
    t.merge(source, Seq("o_orderkey"))
      .whenMatchedDelete(Some(col("_s_op") === "D"))
      .whenMatchedUpdate(Map("o_totalprice" -> col("_s_o_totalprice")))
      .whenNotMatchedInsertAll()
      .execute()
    assert(t.toDF.count() === 100 - nDel + nIns)
    // updated rows have halved price
    val one = orders.limit(1).select("o_orderkey", "o_totalprice").collect()(0)
    val got = t.toDF.filter(col("o_orderkey") === one.getLong(0))
      .select("o_totalprice").collect()(0).getDouble(0)
    assert(math.abs(got - one.getDouble(1) / 2) < 1e-6)
  }

  test("insert-only merge does not duplicate existing keys") {
    val loc = tmpLoc()
    val t = IceTable.create(spark, loc, Schema.fresh(orders.schema))
    t.append(orders.limit(100))
    val snapBefore = t.currentSnapshot.get.snapshotId
    import spark.implicits._
    val existing = orders.limit(100).select("o_orderkey").as[Long].collect().toSet
    // source: 30 rows whose keys already exist + 20 genuinely new
    val overlapping = orders.limit(30).withColumn("o_totalprice", lit(-1.0))
    val fresh = orders.orderBy(desc("o_orderkey")).limit(20)
      .filter(!col("o_orderkey").isin(existing.toSeq: _*))
    val nFresh = fresh.count()
    t.merge(overlapping.unionByName(fresh), Seq("o_orderkey"))
      .whenNotMatchedInsertAll()
      .execute()
    // existing keys untouched: no duplicates, original price preserved
    val dupKeys = t.toDF.groupBy("o_orderkey").count().filter(col("count") > 1).count()
    assert(dupKeys === 0)
    assert(t.toDF.filter(col("o_totalprice") === -1.0).count() === 0)
    assert(t.toDF.count() === 100 + nFresh)
    // append, not overwrite: no target files were rewritten
    assert(t.currentSnapshot.get.operation === graft.meta.model.Operation.Append)
    assert(t.currentSnapshot.get.parentId.contains(snapBefore))
  }

  test("insert-only merge with conditional clause filters source rows") {
    val loc = tmpLoc()
    val t = IceTable.create(spark, loc, Schema.fresh(orders.schema))
    t.append(orders.limit(50))
    val fresh = orders.orderBy(desc("o_orderkey")).limit(40)
    t.merge(fresh, Seq("o_orderkey"))
      .whenNotMatchedInsert(
        t.schema.columnNames.map(n => n -> col("_s_" + n)).toMap,
        cond = Some(col("_s_o_orderstatus") === "O"))
      .execute()
    val expected = 50 + fresh
      .join(orders.limit(50).select("o_orderkey"), Seq("o_orderkey"), "left_anti")
      .filter(col("o_orderstatus") === "O").count()
    assert(t.toDF.count() === expected)
  }

  test("merge cardinality violation raises") {
    val loc = tmpLoc()
    val t = IceTable.create(spark, loc, Schema.fresh(orders.schema))
    t.append(orders.limit(10))
    val dup = orders.limit(1).unionAll(orders.limit(1))
    intercept[ValidationException] {
      t.merge(dup, Seq("o_orderkey")).whenMatchedUpdateAll().execute()
    }
  }

  test("delete-only merge with duplicate source matches raises (skip-probe guard)") {
    // one file → probe skipped → the guard must fire from inside the keep
    // value even though the kept-row decision for these rows is "drop"
    val loc = tmpLoc()
    val t = IceTable.create(spark, loc, Schema.fresh(orders.schema))
    t.append(orders.limit(10).coalesce(1))
    assert(t.newScan().planFiles().size === 1)
    val dup = orders.limit(1).unionAll(orders.limit(1))
    intercept[ValidationException] {
      t.merge(dup, Seq("o_orderkey")).whenMatchedDelete().execute()
    }
    // nothing committed: all 10 rows still present
    assert(t.toDF.count() === 10)
  }

  test("merge probe engages above min-files and excludes unmatched files") {
    val loc = tmpLoc()
    val t = IceTable.create(spark, loc, Schema.fresh(orders.schema))
    // 16 files > write.merge.probe.min-files default (8) → probe path
    t.append(orders.repartitionByRange(16, col("o_orderkey")))
    assert(t.newScan().planFiles().size === 16)
    val src = orders.orderBy("o_orderkey").limit(20)
      .withColumn("o_totalprice", lit(-7.0))
    t.merge(src, Seq("o_orderkey")).whenMatchedUpdateAll().execute()
    assert(t.toDF.filter(col("o_totalprice") === -7.0).count() === 20)
    assert(t.toDF.count() === orders.count())
    // the dynamic file filter rewrote only the files holding the 20 low keys
    val rewritten = t.currentSnapshot.get.summary("merge-matched-files").toInt
    assert(rewritten < 16 && rewritten >= 1)
    // cardinality violation still raises on the probe path
    val dup = src.limit(1).unionAll(src.limit(1))
    intercept[ValidationException] {
      t.merge(dup, Seq("o_orderkey")).whenMatchedUpdateAll().execute()
    }
    // a source that matches no target row, and no insert clause: the probe
    // finds no affected file, so nothing is written or committed
    val before = t.currentSnapshot.get.snapshotId
    val noMatch = src.withColumn("o_orderkey", col("o_orderkey") + 1000000000L)
    t.merge(noMatch, Seq("o_orderkey")).whenMatchedUpdateAll().execute()
    assert(t.currentSnapshot.get.snapshotId === before)
    assert(t.toDF.count() === orders.count())
  }

  test("unknown transform: table still loads and scans, writes fail") {
    import java.nio.file.{Files => JFiles, Paths}
    import scala.jdk.CollectionConverters._
    val loc = tmpLoc()
    val schema = Schema.fresh(orders.schema)
    val spec = PartitionSpec.builderFor(schema).truncate("o_orderpriority", 4).build()
    val t = IceTable.create(spark, loc, schema, spec)
    t.append(orders.limit(200))
    val total = t.toDF.count()
    // simulate metadata written by a NEWER writer: an unrecognized transform
    val mdir = Paths.get(loc, "metadata")
    val vfile = JFiles.list(mdir).iterator().asScala
      .filter(_.getFileName.toString.matches("v\\d+\\.metadata\\.json"))
      .maxBy(_.getFileName.toString.stripPrefix("v").stripSuffix(".metadata.json").toInt)
    JFiles.writeString(vfile,
      JFiles.readString(vfile).replace("truncate[4]", "zorder[4]"))
    val t2 = IceTable.load(spark, loc)
    assert(t2.spec.fields.head.transform ===
      graft.meta.transforms.UnknownTransform("zorder[4]"))
    // scans keep every file (inclusive projection TRUE) and re-filter rows
    assert(t2.toDF.count() === total)
    val want = orders.limit(200).filter(col("o_orderpriority") === "1-URGENT").count()
    assert(t2.newScan().filter(equalTo("o_orderpriority", "1-URGENT")).toDF
      .count() === want)
    // null predicates are NOT projected through an unknown transform
    assert(t2.newScan().filter(isNull("o_orderpriority")).toDF.count() === 0)
    // writing through the unknown transform fails
    intercept[UnsupportedOperationException] { t2.append(orders.limit(5)) }
  }

  test("dynamic partition overwrite replaces touched partitions only") {
    val loc = tmpLoc()
    val schema = Schema.fresh(orders.schema)
    val spec = PartitionSpec.builderFor(schema).identity("o_orderstatus").build()
    val t = IceTable.create(spark, loc, schema, spec)
    t.append(orders)
    val replacement = orders.filter(col("o_orderstatus") === "F").limit(5)
    t.overwritePartitions(replacement)
    assert(t.toDF.filter(col("o_orderstatus") === "F").count() === 5)
    val others = orders.filter(col("o_orderstatus") =!= "F").count()
    assert(t.toDF.filter(col("o_orderstatus") =!= "F").count() === others)
  }

  test("schema evolution: rename + add survives old files (ID resolution)") {
    val loc = tmpLoc()
    val t = IceTable.create(spark, loc, Schema.fresh(orders.limit(20).schema))
    t.append(orders.limit(20))
    // rename a column + add a new one via a metadata-only commit
    val m0 = t.meta
    val s1 = new graft.meta.UpdateSchema(m0.schema, m0.lastColumnId)
      .renameColumn("o_totalprice", "total").addColumn("note",
        org.apache.spark.sql.types.StringType).apply()
    t.ops.commitWithRetry(3)(base => base.copy(
      currentSchemaId = s1.schemaId, schemas = base.schemas :+ s1,
      lastColumnId = s1.highestFieldId))
    val df = t.toDF
    assert(df.columns.contains("total") && df.columns.contains("note"))
    // old files resolve renamed column by field ID
    val exp = orders.limit(20).agg(sum("o_totalprice")).collect()(0).getDouble(0)
    assert(math.abs(df.agg(sum("total")).collect()(0).getDouble(0) - exp) < 1e-6)
    assert(df.filter(col("note").isNotNull).count() === 0)
    // filter on renamed column still prunes + evaluates against old files
    val cnt = t.newScan().filter(greaterThan("total", 1000.0)).toDF.count()
    val expCnt = orders.limit(20).filter(col("o_totalprice") > 1000.0).count()
    assert(cnt === expCnt)
  }

  test("concurrent appends both land via retry") {
    val loc = tmpLoc()
    val t1 = IceTable.create(spark, loc, Schema.fresh(orders.schema))
    val t2 = IceTable.load(spark, loc)
    t1.append(orders.limit(10))
    t2.append(orders.limit(5)) // stale handle: must refresh+retry internally
    assert(IceTable.load(spark, loc).toDF.count() === 15)
    assert(t1.snapshots.size === 2)
  }

  test("commit-time manifest auto-merge compacts small manifests") {
    val loc = tmpLoc()
    val t = IceTable.create(spark, loc, Schema.fresh(orders.schema),
      properties = Map("commit.manifest.min-count-to-merge" -> "4"))
    val batches = (0 until 6).map(i => orders.orderBy("o_orderkey")
      .limit(10 * (i + 1)).exceptAll(orders.orderBy("o_orderkey").limit(10 * i)))
    batches.foreach(t.append)
    // merge fires at commit 4 (bin reaches min-count): 4th list = 1 merged
    // manifest; commits 5-6 stack on top of it → 3, not 6
    assert(t.metadataTable("manifests").count() === 3)
    // merged manifest is stamped with its committing snapshot
    val snap4 = t.snapshots.sortBy(_.sequenceNumber).apply(3).snapshotId
    assert(t.metadataTable("manifests")
      .filter(col("added_snapshot_id") === snap4).count() === 1)
    // data round-trips exactly
    assert(t.toDF.count() === 60)
    assert(t.toDF.select("o_orderkey").distinct().count() === 60)
    // incremental scan across the merge boundary stays exact: foreign
    // entries were rewritten as Existing, fresh ones stayed Added
    val snaps = t.snapshots.sortBy(_.sequenceNumber).map(_.snapshotId)
    assert(t.appendsBetween(snaps(2), snaps(3)).count() === 10) // the merging commit
    assert(t.appendsBetween(snaps(0), snaps(5)).count() === 50)
    // time travel to a pre-merge snapshot reads the old, untouched lists
    assert(t.newScan().useSnapshot(snaps(1)).toDF.count() === 20)
  }

  test("manifest auto-merge can be disabled; default leaves few commits alone") {
    val loc = tmpLoc()
    val off = IceTable.create(spark, loc, Schema.fresh(orders.schema),
      properties = Map("commit.manifest-merge.enabled" -> "false",
        "commit.manifest.min-count-to-merge" -> "2"))
    (0 until 4).foreach(_ => off.append(orders.limit(5)))
    assert(off.metadataTable("manifests").count() === 4)
    // default min-count (100) never triggers on a handful of commits
    val dflt = IceTable.create(spark, tmpLoc(), Schema.fresh(orders.schema))
    (0 until 4).foreach(_ => dflt.append(orders.limit(5)))
    assert(dflt.metadataTable("manifests").count() === 4)
  }

  test("manifest auto-merge preserves merge-on-read delete applicability") {
    val loc = tmpLoc()
    val t = IceTable.create(spark, loc, Schema.fresh(orders.schema),
      properties = Map("commit.manifest.min-count-to-merge" -> "2"))
    t.append(orders.limit(100))
    val keys = orders.orderBy("o_orderkey").limit(10).select("o_orderkey")
    t.deleteMergeOnRead(in("o_orderkey",
      keys.collect().map(_.getLong(0)).toSeq: _*))
    // every commit merges now: delete + data entries share one manifest
    t.append(orders.orderBy(desc("o_orderkey")).limit(20))
    assert(t.metadataTable("manifests").count() === 1)
    assert(t.toDF.count() === 110)
    // deletes still apply (sequence numbers survived the rewrite)...
    assert(t.toDF.join(keys, Seq("o_orderkey"), "left_semi").count() === 0)
    // ...but only to files older than the delete: re-appending a deleted
    // key after the merge must remain visible
    val victim = orders.orderBy("o_orderkey").limit(1)
    t.append(victim)
    assert(t.toDF.join(keys, Seq("o_orderkey"), "left_semi").count() === 1)
  }

  test("sort-order write produces sorted files") {
    val loc = tmpLoc()
    val schema = Schema.fresh(lineitem.schema)
    val order = SortOrderMeta(1, Seq(graft.meta.model.SortFieldMeta(
      schema.fieldId("l_orderkey"), "identity", ascending = true, nullsFirst = false)))
    val t = IceTable.create(spark, loc, schema, sortOrder = order)
    t.append(lineitem)
    // each file individually sorted by l_orderkey
    t.newScan().planFiles().foreach { task =>
      val vals = spark.read.parquet(task.file.path)
        .select("l_orderkey").collect().map(_.getLong(0)).toSeq
      assert(vals === vals.sorted)
    }
  }
}
