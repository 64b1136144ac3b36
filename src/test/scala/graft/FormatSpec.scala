package graft

import java.nio.file.Files

import graft.meta.{PartitionSpec, Schema}
import graft.meta.expr.Exprs._
import graft.meta.model.TableProperties
import graft.table.{HadoopCatalog, IceTable}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class FormatSpec extends AnyFunSuite {
  import SparkSessionHelper._

  private lazy val orders = Tables.load(spark, sf0001, "orders").cache()

  test("parquet manifests round-trip and prune; jsonl still loads; formats mix") {
    import graft.table.ManifestIO
    // default: new manifests are parquet
    val loc = Files.createTempDirectory("graft-pm-").toString + "/t"
    val schema = Schema.fresh(orders.schema)
    val t = IceTable.create(spark, loc, schema)
    t.append(orders)
    val manifests1 = t.metadataTable("manifests").collect().map(_.getString(0))
    assert(manifests1.forall(_.endsWith(".parquet")))
    assert(t.toDF.count() === orders.count())
    assert(t.newScan().filter(equalTo("o_orderkey", -5L)).planFiles().isEmpty)
    // entries survive the binary round-trip exactly (incl. metrics bounds)
    val entries = ManifestIO.read(t.io, manifests1.head, t.schema, t.meta.specById)
    assert(entries.nonEmpty)
    assert(entries.forall(e => e.dataFile.lowerBounds.nonEmpty))
    assert(ManifestIO.readPaths(t.io, manifests1.head) ===
      entries.map(_.dataFile.path))

    // legacy property keeps JSON-lines manifests working
    val loc2 = Files.createTempDirectory("graft-pm-").toString + "/t"
    val t2 = IceTable.create(spark, loc2, schema,
      properties = Map(TableProperties.ManifestFormat -> "jsonl"))
    t2.append(orders.limit(100))
    assert(t2.metadataTable("manifests").collect()
      .map(_.getString(0)).forall(_.endsWith(".jsonl")))
    assert(t2.toDF.count() === 100)
    // flipping the property mixes formats within one table
    t2.updateProperties(Map(TableProperties.ManifestFormat -> "parquet"))
    t2.append(orders.limit(50))
    val exts = t2.metadataTable("manifests").collect()
      .map(_.getString(0).split('.').last).toSet
    assert(exts === Set("jsonl", "parquet"))
    assert(t2.toDF.count() === 150)
    // delete across mixed manifests rewrites correctly
    t2.delete(equalTo("o_orderstatus", "F"))
    assert(t2.toDF.filter(col("o_orderstatus") === "F").count() === 0)
  }

  test("write tuning properties: codec and row-group size reach the writers") {
    val loc = Files.createTempDirectory("graft-tune-").toString + "/t"
    val li = Tables.load(spark, sf0001, "lineitem")
    val t = IceTable.create(spark, loc, Schema.fresh(li.schema),
      properties = Map(
        "write.parquet.compression-codec" -> "zstd",
        "write.parquet.row-group-size-bytes" -> "65536",
        "write.parquet.page-size-bytes" -> "16384"))
    t.append(li)
    val files = t.newScan().planFiles().map(_.file)
    assert(files.nonEmpty)
    // Spark names parquet files by codec — zstd honored end-to-end
    files.foreach(f => assert(f.path.contains("zstd"), f.path))
    // 64 KiB row groups split a 6k-row lineitem file into several groups
    assert(files.exists(_.splitOffsets.size > 1),
      s"expected multiple row groups, offsets=${files.map(_.splitOffsets)}")
    assert(t.toDF.count() === li.count())

    // avro codec property: deflate (ref name: gzip) round-trips
    val loc2 = Files.createTempDirectory("graft-tune-").toString + "/t"
    val t2 = IceTable.create(spark, loc2, Schema.fresh(li.schema),
      properties = Map(
        TableProperties.DefaultFileFormat -> "avro",
        "write.avro.compression-codec" -> "gzip"))
    t2.append(li.limit(100))
    assert(t2.toDF.count() === 100)
  }

  test("parquet bloom filters: property-keyed columns carry filters that prune row groups") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.filter2.predicate.FilterApi
    import org.apache.parquet.filter2.compat.FilterCompat
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.Path
    import scala.jdk.CollectionConverters._

    val loc = Files.createTempDirectory("graft-bloom-").toString + "/t"
    val t = IceTable.create(spark, loc, Schema.fresh(orders.schema),
      properties = Map(
        "write.parquet.bloom-filter-enabled.column.o_orderkey" -> "true",
        "write.parquet.bloom-filter-expected-ndv.column.o_orderkey" -> "2000"))
    t.append(orders)
    val files = t.newScan().planFiles().map(_.file)
    assert(files.nonEmpty)
    val keys = orders.select("o_orderkey").collect().map(_.getLong(0))
    val present = keys.head
    val absent = -424242L
    assert(!keys.contains(absent))

    val conf = new Configuration()
    // every written file carries a populated filter for the keyed column
    // (and only that column), and membership answers are right
    files.foreach { f =>
      val in = HadoopInputFile.fromPath(new Path(f.path), conf)
      val reader = ParquetFileReader.open(in)
      try {
        val block = reader.getFooter.getBlocks.get(0)
        val col = block.getColumns.asScala
          .find(_.getPath.toDotString == "o_orderkey").get
        assert(col.getBloomFilterOffset >= 0, s"no bloom offset in ${f.path}")
        val bf = reader.getBloomFilterDataReader(block).readBloomFilter(col)
        assert(bf != null)
        assert(keys.take(50).forall(k => bf.findHash(bf.hash(k))))
        assert(!bf.findHash(bf.hash(absent)), "absent key reported present")
        val other = block.getColumns.asScala
          .find(_.getPath.toDotString == "o_custkey").get
        assert(other.getBloomFilterOffset < 0, "unkeyed column grew a filter")
      } finally reader.close()
    }

    // ROW-GROUP PRUNING, bloom level isolated (stats/dictionary/column-index
    // off): a point lookup for an absent key plans ZERO row groups; a
    // present key keeps at least one
    def bloomOnlyRowGroups(path: String, key: Long): Int = {
      val pred = FilterCompat.get(
        FilterApi.eq(FilterApi.longColumn("o_orderkey"), java.lang.Long.valueOf(key)))
      val opts = org.apache.parquet.HadoopReadOptions.builder(conf)
        .withRecordFilter(pred).useBloomFilter(true).useStatsFilter(false)
        .useDictionaryFilter(false).useColumnIndexFilter(false).build()
      val r = new ParquetFileReader(
        HadoopInputFile.fromPath(new Path(path), conf), opts)
      try r.getRowGroups.size() finally r.close()
    }
    assert(files.forall(f => bloomOnlyRowGroups(f.path, absent) === 0),
      "bloom did not prune an absent-key point lookup")
    assert(files.exists(f => bloomOnlyRowGroups(f.path, present) >= 1))

    // end-to-end values unchanged through the graft scan
    assert(t.toDF.filter(col("o_orderkey") === present).count() === 1)
    assert(t.toDF.filter(col("o_orderkey") === absent).count() === 0)
    assert(t.toDF.count() === orders.count())

    // compaction rewrites keep writing filters (same writer path)
    t.append(orders.limit(10))
    graft.table.Maintenance.rewriteDataFiles(t)
    val compacted = t.newScan().planFiles().map(_.file)
    compacted.foreach { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.path), conf))
      try {
        val block = reader.getFooter.getBlocks.get(0)
        val c = block.getColumns.asScala.find(_.getPath.toDotString == "o_orderkey").get
        assert(c.getBloomFilterOffset >= 0, s"compacted file lost its filter: ${f.path}")
      } finally reader.close()
    }

    // a typo'd column name refuses at write (not a silent no-filter write)
    val loc2 = Files.createTempDirectory("graft-bloom-").toString + "/t"
    val bad = IceTable.create(spark, loc2, Schema.fresh(orders.schema),
      properties = Map("write.parquet.bloom-filter-enabled.column.no_such" -> "true"))
    val ex = intercept[graft.table.ValidationException](bad.append(orders.limit(5)))
    assert(ex.getMessage.contains("no_such"))

    // bloom + Parquet Modular Encryption compose: the filter rides the
    // encrypted footer (module-encrypted like stats), membership still
    // answers through the DECRYPTING reader, values correct end-to-end
    locally {
      import graft.table.{AesGcmEncryptionManager, EncryptionManagers, FileIO,
        TableOperations}
      val manager = new AesGcmEncryptionManager(
        "0123456789abcdef0123456789abcdef".getBytes("UTF-8"), "bloom-key")
      val eloc = Files.createTempDirectory("graft-bloomenc-").toString + "/t"
      val te = IceTable.createWith(spark,
        new TableOperations(eloc,
          new FileIO(spark.sparkContext.hadoopConfiguration, manager)),
        Schema.fresh(orders.schema),
        properties = Map(
          "write.parquet.bloom-filter-enabled.column.o_orderkey" -> "true",
          "write.parquet.bloom-filter-expected-ndv.column.o_orderkey" -> "2000"))
      te.append(orders)
      assert(te.toDF.filter(col("o_orderkey") === present).count() === 1)
      assert(te.toDF.count() === orders.count())
      val ef = te.newScan().planFiles().map(_.file).head
      val cryptoConf = EncryptionManagers.parquetCryptoConf(
        new Configuration(), Some(manager))
      // HadoopReadOptions (not the bare open) so the crypto factory on the
      // conf engages modular decryption for the encrypted footer
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(ef.path), cryptoConf),
        org.apache.parquet.HadoopReadOptions
          .builder(cryptoConf, new Path(ef.path)).build())
      try {
        val block = reader.getFooter.getBlocks.get(0)
        val c = block.getColumns.asScala.find(_.getPath.toDotString == "o_orderkey").get
        assert(c.getBloomFilterOffset >= 0, "encrypted file lost its bloom filter")
        val bf = reader.getBloomFilterDataReader(block).readBloomFilter(c)
        assert(bf != null && bf.findHash(bf.hash(present)))
        assert(!bf.findHash(bf.hash(absent)))
      } finally reader.close()
    }
  }

  test("orc bloom filters: row groups skip point lookups stats can't prune") {
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.Path
    import org.apache.hadoop.hive.ql.io.sarg.{PredicateLeaf, SearchArgumentFactory}
    import org.apache.orc.OrcFile

    // PERMUTED evens (7919 coprime to 100000): every 10k-row ORC row group
    // spans nearly the full [0, 199998] range, so the stats row-group
    // filter keeps EVERY group for an in-range odd probe and only the
    // bloom filter can skip — the discriminating corpus for a functional
    // proof (monotonic keys would let min/max alone prune)
    val df = spark.range(0, 100000)
      .select(((col("id") * 7919) % 100000 * 2).as("k"))
    def mk(props: Map[String, String]): String = {
      val loc = Files.createTempDirectory("graft-orcbloom-").toString + "/t"
      val t = IceTable.create(spark, loc, Schema.fresh(df.schema),
        properties = props + (TableProperties.DefaultFileFormat -> "orc"))
      t.append(df.coalesce(1))
      val fs = t.newScan().planFiles().map(_.file)
      assert(fs.size === 1, fs.map(_.path))
      fs.head.path
    }
    val conf = new Configuration()
    def rowsUnderSarg(path: String, key: Long): Long = {
      val reader = OrcFile.createReader(new Path(path), OrcFile.readerOptions(conf))
      try {
        val sarg = SearchArgumentFactory.newBuilder()
          .equals("k", PredicateLeaf.Type.LONG, java.lang.Long.valueOf(key))
          .build()
        val rows = reader.rows(reader.options.searchArgument(sarg, Array("k")))
        try {
          val batch = reader.getSchema.createRowBatch()
          var n = 0L
          while (rows.nextBatch(batch)) n += batch.size
          n
        } finally rows.close()
      } finally reader.close()
    }

    val bloomed = mk(Map("write.orc.bloom.filter.columns" -> "k",
      "write.orc.bloom.filter.fpp" -> "0.02"))
    val control = mk(Map.empty)
    // absent ODD key: stats keep every row group in both files; only the
    // bloomed file skips them all
    assert(rowsUnderSarg(control, 55555L) === 100000L,
      "control unexpectedly pruned — the corpus no longer discriminates")
    assert(rowsUnderSarg(bloomed, 55555L) === 0L,
      "ORC bloom filter did not skip an absent-key point lookup")
    // present key keeps its row group (10k granularity), values correct
    assert(rowsUnderSarg(bloomed, 55554L) === 10000L)

    // typo'd column refuses at write
    val loc2 = Files.createTempDirectory("graft-orcbloom-").toString + "/t"
    val bad = IceTable.create(spark, loc2, Schema.fresh(df.schema),
      properties = Map(TableProperties.DefaultFileFormat -> "orc",
        "write.orc.bloom.filter.columns" -> "nope"))
    val ex = intercept[graft.table.ValidationException](bad.append(df.limit(5)))
    assert(ex.getMessage.contains("nope"))
  }

  test("ORC table: write, metrics-pruned scan, delete") {
    val loc = Files.createTempDirectory("graft-orc-").toString + "/t"
    val schema = Schema.fresh(orders.schema)
    val t = IceTable.create(spark, loc, schema,
      properties = Map(TableProperties.DefaultFileFormat -> "orc"))
    t.append(orders)
    assert(t.newScan().planFiles().forall(_.file.format == "orc"))
    assert(t.toDF.count() === orders.count())
    // ORC footer metrics enable pruning
    assert(t.newScan().filter(equalTo("o_orderkey", -5L)).planFiles().isEmpty)
    val exp = orders.filter(col("o_totalprice") > 100000.0).count()
    val filtered = t.newScan().filter(greaterThan("o_totalprice", 100000.0)).toDF
    assert(filtered.count() === exp)
    // the residual predicate reaches the ORC reader as a pushed filter (SArg)
    val planStr = org.apache.spark.sql.graft.ColumnBridge.executedPlan(filtered).toString
    assert(planStr.contains("PushedFilters: [") && planStr.contains("o_totalprice"),
      s"expected pushed ORC filter in plan:\n$planStr")
    // CoW delete on orc
    t.delete(greaterThan("o_totalprice", 100000.0))
    assert(t.toDF.count() === orders.count() - exp)
  }

  test("merge-on-read DML on ORC: real position deletes, no file rewrite") {
    import graft.meta.model.FileContent
    val loc = Files.createTempDirectory("graft-orcmor-").toString + "/t"
    val t = IceTable.create(spark, loc, Schema.fresh(orders.schema),
      properties = Map(TableProperties.DefaultFileFormat -> "orc",
        TableProperties.DeleteMode -> TableProperties.RowLevelMergeOnRead,
        TableProperties.UpdateMode -> TableProperties.RowLevelMergeOnRead))
    t.append(orders)
    val dataPaths = t.newScan().planFiles().map(_.file.path).toSet
    val exp = orders.filter(!(col("o_orderstatus") === "F")).count()
    t.deleteMergeOnRead(equalTo("o_orderstatus", "F"))
    // position-delete files committed (synthesized ORC row ordinals), the
    // ORC data files untouched — O(changed rows), not a rewrite
    val deletes = t.newScan().planDeletes()
    assert(deletes.nonEmpty &&
      deletes.forall(_._1.content == FileContent.PositionDeletes))
    assert(t.newScan().planFiles().map(_.file.path).toSet === dataPaths)
    // the Scala-API scan and a DataFrame read agree; both run the native
    // DSv2 scan (whole-file readers counting ordinals)
    assert(t.toDF.count() === exp)
    assert(spark.read.format("graft").load(loc).count() === exp)
    assert(spark.read.format("graft").load(loc)
      .filter(col("o_orderstatus") === "F").count() === 0)
    // pushed filters must not reach the synthesized-position reader (they
    // would skip rows and shift ordinals); Spark re-filters above the scan
    val expF = orders.filter(!(col("o_orderstatus") === "F"))
      .filter(col("o_totalprice") > 100000.0).count()
    assert(spark.read.format("graft").load(loc)
      .filter(col("o_totalprice") > 100000.0).count() === expF)
    // a tiny split target must NOT byte-slice files under synthesized
    // positions (a slice's first-row ordinal is unknowable)
    assert(spark.read.format("graft").option("split-size", "16384")
      .load(loc).count() === exp)
    // MoR UPDATE: pos deletes + updated copies, original files still live
    t.update(equalTo("o_orderstatus", "O"), Map("o_totalprice" -> lit(1.0)))
    assert(t.toDF.filter(col("o_orderstatus") === "O")
      .filter(col("o_totalprice") =!= 1.0).count() === 0)
    assert(spark.read.format("graft").load(loc)
      .filter(col("o_orderstatus") === "O")
      .filter(col("o_totalprice") =!= 1.0).count() === 0)
    assert(dataPaths.subsetOf(t.newScan().planFiles().map(_.file.path).toSet))
    // totals agree between scan paths after both DMLs
    assert(spark.read.format("graft").load(loc).count() === t.toDF.count())
  }

  test("merge-on-read delete on Avro and mixed-format tables") {
    import graft.meta.model.FileContent
    val loc = Files.createTempDirectory("graft-avromor-").toString + "/t"
    val t = IceTable.create(spark, loc, Schema.fresh(orders.schema),
      properties = Map(TableProperties.DefaultFileFormat -> "avro",
        TableProperties.DeleteMode -> TableProperties.RowLevelMergeOnRead))
    t.append(orders.filter(col("o_orderkey") % 4 === 0))
    // second append as parquet → the table mixes formats, and one MoR DELETE
    // must position-delete across both
    t.updateProperties(Map(TableProperties.DefaultFileFormat -> "parquet"))
    t.append(orders.filter(col("o_orderkey") % 4 =!= 0))
    val formats = t.newScan().planFiles().map(_.file.format).toSet
    assert(formats === Set("avro", "parquet"))
    val exp = orders.filter(!(col("o_orderstatus") === "F")).count()
    t.deleteMergeOnRead(equalTo("o_orderstatus", "F"))
    val deletes = t.newScan().planDeletes()
    assert(deletes.nonEmpty &&
      deletes.forall(_._1.content == FileContent.PositionDeletes))
    assert(t.toDF.count() === exp)
    assert(spark.read.format("graft").load(loc).count() === exp)
    assert(spark.read.format("graft").load(loc)
      .filter(col("o_orderstatus") === "F").count() === 0)
  }

  test("catalog: create/CTAS/load/list/drop") {
    val wh = Files.createTempDirectory("graft-cat-").toString
    val cat = new HadoopCatalog(spark, wh)
    val t = cat.createTableAs("db.orders", orders, _.identity("o_orderstatus"))
    assert(cat.tableExists("db.orders"))
    assert(cat.listTables("db") === Seq("orders"))
    assert(cat.loadTable("db.orders").toDF.count() === orders.count())
    // RTAS
    cat.replaceTableAs("db.orders", orders.limit(10))
    assert(cat.loadTable("db.orders").toDF.count() === 10)
    assert(cat.dropTable("db.orders"))
    assert(!cat.tableExists("db.orders"))
  }

  test("split-size option and table property control scan task sizing") {
    val loc = Files.createTempDirectory("graft-split-").toString + "/t"
    val t = IceTable.create(spark, loc, Schema.fresh(orders.schema))
    t.append(orders.repartition(1))
    val default = t.toDF.rdd.getNumPartitions
    val small = t.newScan().option("split-size", (16 * 1024).toString)
      .toDF.rdd.getNumPartitions
    assert(small > default, s"16KB splits should yield more tasks ($small vs $default)")
    // table property applies to plain reads; the caller's session keeps its
    // own maxPartitionBytes untouched
    val before = spark.conf.get("spark.sql.files.maxPartitionBytes")
    t.updateProperties(Map(TableProperties.SplitSize -> (16 * 1024).toString))
    assert(t.toDF.rdd.getNumPartitions === small)
    assert(spark.conf.get("spark.sql.files.maxPartitionBytes") === before)
    // per-scan option overrides the property
    assert(t.newScan().option("split-size", (512 * 1024 * 1024).toString)
      .toDF.rdd.getNumPartitions < small)
  }

  test("avro table: partitioned write, scan, evolution, delete") {
    val loc = Files.createTempDirectory("graft-avro-").toString + "/t"
    val schema = Schema.fresh(orders.schema)
    val t = IceTable.create(spark, loc, schema,
      spec = PartitionSpec.builderFor(schema).identity("o_orderstatus").build(),
      properties = Map(TableProperties.DefaultFileFormat -> "avro"))
    t.append(orders)
    assert(t.newScan().planFiles().forall(_.file.format == "avro"))
    assert(t.newScan().planFiles().forall(_.file.recordCount > 0))
    assert(t.toDF.count() === orders.count())
    // identity-partition pruning works off manifest partition values
    val expF = orders.filter(col("o_orderstatus") === "F")
    assert(t.newScan().filter(equalTo("o_orderstatus", "F")).planFiles()
      .forall(_.file.partition == Seq("F")))
    assert(t.newScan().filter(equalTo("o_orderstatus", "F")).toDF.count() === expF.count())
    // all column types round-trip exactly (date, decimal-ish doubles, strings)
    val back = t.toDF.orderBy("o_orderkey").collect()
    val exp = orders.orderBy("o_orderkey").collect()
    assert(back.toSeq === exp.toSeq)
    // schema evolution: add a column, old avro files read nulls
    t.updateSchema(_.addColumn("o_note", org.apache.spark.sql.types.StringType))
    assert(t.toDF.filter(col("o_note").isNotNull).count() === 0)
    // CoW delete rewrites avro files
    val delCnt = orders.filter(col("o_totalprice") > 200000.0).count()
    t.delete(greaterThan("o_totalprice", 200000.0))
    assert(t.toDF.count() === orders.count() - delCnt)
    assert(t.newScan().planFiles().forall(_.file.format == "avro"))
  }

  test("avro round-trips arrays and binary; reader is splittable") {
    val loc = Files.createTempDirectory("graft-avro2-").toString + "/t"
    val emb = Tables.load(spark, sf0001, "embeddings")
    val docs = Tables.load(spark, sf0001, "documents")
    val schema = Schema.fresh(emb.schema)
    val t = IceTable.create(spark, loc, schema,
      properties = Map(TableProperties.DefaultFileFormat -> "avro"))
    t.append(emb)
    val back = t.toDF
    assert(back.count() === emb.count())
    // float arrays survive byte-exact (join on id, compare element-wise)
    val j = back.as("a").join(emb.as("b"), "vec_id")
      .selectExpr("a.embedding as ea", "b.embedding as eb")
    assert(j.filter(expr("ea <> eb")).count() === 0)
    // standalone source read (schema inference, no graft metadata)
    val dataDir = t.newScan().planFiles().head.file.path
      .stripSuffix("/").reverse.dropWhile(_ != '/').tail.reverse
    val inferred = spark.read.format("graft-avro").load(dataDir)
    assert(inferred.count() === emb.count())
    assert(inferred.schema.fieldNames.toSet === emb.schema.fieldNames.toSet)

    // binary columns (documents has no binary, synthesize one)
    val loc2 = Files.createTempDirectory("graft-avro3-").toString + "/t"
    val withBin = docs.withColumn("raw", expr("cast(text as binary)"))
    val t2 = IceTable.create(spark, loc2, Schema.fresh(withBin.schema),
      properties = Map(TableProperties.DefaultFileFormat -> "avro"))
    t2.append(withBin)
    assert(t2.toDF.filter(expr("cast(raw as string) = text")).count() === docs.count())
  }

  test("avro round-trips structs, maps, decimals, and timestamps exactly") {
    val loc = Files.createTempDirectory("graft-avro4-").toString + "/t"
    val df = spark.sql("""
      SELECT id,
        named_struct('a', id * 10, 'b', concat('s', id),
                     'inner', named_struct('x', cast(id as double))) AS st,
        map(concat('k', id), id * 1.5d) AS m_str,
        map(cast(id as int), concat('v', id)) AS m_int,
        cast(concat('12345.', lpad(cast(id as string), 2, '0')) as decimal(10,2)) AS dec,
        timestamp_micros(cast(id * 1000000 as long)) AS ts,
        array(named_struct('q', id), named_struct('q', id + 1)) AS arr_st
      FROM range(0, 50)
    """)
    val t = IceTable.create(spark, loc, Schema.fresh(df.schema),
      properties = Map(TableProperties.DefaultFileFormat -> "avro"))
    t.append(df)
    val back = t.toDF
    assert(back.count() === 50)
    // set ops reject map columns — compare via sorted entry arrays
    def comparable(d: org.apache.spark.sql.DataFrame) = d.selectExpr(
      "id", "st", "array_sort(map_entries(m_str)) AS m_str",
      "array_sort(map_entries(m_int)) AS m_int", "dec", "ts", "arr_st")
    assert(comparable(back).exceptAll(comparable(df)).count() === 0)
    assert(comparable(df).exceptAll(comparable(back)).count() === 0)
  }

  test("avro round-trips tinyint/smallint (widened to INT on write)") {
    val loc = Files.createTempDirectory("graft-avro5-").toString + "/t"
    val df = spark.sql("""
      SELECT id, cast(id % 128 as tinyint) AS b, cast(id * 7 as smallint) AS s,
        array(cast(id as tinyint)) AS ab,
        named_struct('v', cast(id as smallint)) AS st
      FROM range(0, 40)
    """)
    val t = IceTable.create(spark, loc, Schema.fresh(df.schema),
      properties = Map(TableProperties.DefaultFileFormat -> "avro"))
    t.append(df)
    val back = t.toDF
    assert(back.schema("b").dataType.typeName === "byte")
    assert(back.schema("s").dataType.typeName === "short")
    assert(back.exceptAll(df).count() === 0)
    assert(df.exceptAll(back).count() === 0)
  }

  test("per-column metrics modes: none/counts/truncate(N)/full") {
    import graft.table.MetricsModes
    val loc = Files.createTempDirectory("graft-mmode-").toString + "/t"
    import spark.implicits._
    val df = Seq(
      (1L, "a" * 40 + "x", "keep1", 1.5),
      (2L, "b" * 40 + "y", "keep2", 2.5)).toDF("id", "blob", "s", "d")
    val t = IceTable.create(spark, loc, Schema.fresh(df.schema),
      properties = Map(
        MetricsModes.ColumnPropPrefix + "blob" -> "none",
        MetricsModes.ColumnPropPrefix + "s" -> "full",
        MetricsModes.ColumnPropPrefix + "d" -> "counts",
        MetricsModes.DefaultProp -> "truncate(4)"))
    t.append(df.coalesce(1))
    val f = t.newScan().planFiles().head.file
    val blobId = t.schema.fieldId("blob"); val sId = t.schema.fieldId("s")
    val dId = t.schema.fieldId("d"); val idId = t.schema.fieldId("id")
    // none: no counts, no bounds
    assert(!f.valueCounts.contains(blobId) && !f.nullCounts.contains(blobId))
    assert(!f.lowerBounds.contains(blobId) && !f.upperBounds.contains(blobId))
    // counts: counts but no bounds
    assert(f.valueCounts.contains(dId) && !f.lowerBounds.contains(dId))
    // full: untruncated bounds
    assert(f.lowerBounds(sId) === "keep1" && f.upperBounds(sId) === "keep2")
    // default truncate(4) applies to unlisted columns (id: numeric, kept whole)
    assert(f.lowerBounds(idId) === 1L && f.upperBounds(idId) === 2L)
    // reads stay correct; a filter on the none column cannot prune (no
    // stats ⇒ conservative) but still evaluates exactly
    assert(t.toDF.count() === 2)
    assert(t.newScan().filter(equalTo("blob", "nope")).toDF.count() === 0)
    assert(t.toDF.filter(col("blob").startsWith("a")).count() === 1)
    // truncate(4) on a long string column: lower is a prefix, upper rounds up
    val loc2 = Files.createTempDirectory("graft-mmode-").toString + "/t"
    val t2 = IceTable.create(spark, loc2, Schema.fresh(df.schema),
      properties = Map(MetricsModes.DefaultProp -> "truncate(4)"))
    t2.append(df.coalesce(1))
    val f2 = t2.newScan().planFiles().head.file
    assert(f2.lowerBounds(blobId) === "aaaa")
    assert(f2.upperBounds(blobId) === "bbbc") // "bbbb" rounded up covers "bbb…y"
    // truncated bounds still prune soundly
    assert(t2.newScan().filter(equalTo("blob", "zzzz")).planFiles().isEmpty)
    assert(t2.newScan().filter(equalTo("blob", "a" * 40 + "x")).planFiles().size === 1)
    // invalid mode rejected
    intercept[IllegalArgumentException] { MetricsModes.parse("bogus") }
  }

  test("stale or invalid metrics-mode properties never fail writes") {
    import graft.table.MetricsModes
    val loc = Files.createTempDirectory("graft-mmstale-").toString + "/t"
    import spark.implicits._
    val df = Seq((1L, "x")).toDF("id", "v")
    val t = IceTable.create(spark, loc, Schema.fresh(df.schema),
      properties = Map(
        MetricsModes.ColumnPropPrefix + "ghost" -> "none", // dropped column
        MetricsModes.ColumnPropPrefix + "v" -> "bogus(mode", // unparseable
        MetricsModes.DefaultProp -> "alsobogus")) // unparseable default
    t.append(df.coalesce(1)) // must not throw
    val f = t.newScan().planFiles().head.file
    // everything falls back to the built-in default truncate(16)
    assert(f.lowerBounds.contains(t.schema.fieldId("id")))
    assert(f.lowerBounds.contains(t.schema.fieldId("v")))
    assert(t.toDF.count() === 1)
  }

  test("metrics modes: aggregate pushdown declines when stats are off") {
    import graft.table.MetricsModes
    val dir = Files.createTempDirectory("graft-mmagg").toString
    spark.conf.set("spark.sql.catalog.mm", "graft.spark.GraftCatalog")
    spark.conf.set("spark.sql.catalog.mm.warehouse", dir)
    spark.sql("CREATE TABLE mm.db.t (id BIGINT, v STRING) TBLPROPERTIES " +
      "('write.metadata.metrics.default'='none')")
    spark.sql("INSERT INTO mm.db.t SELECT id, concat('v', id) FROM range(100)")
    // counts/bounds absent ⇒ COUNT/MIN/MAX cannot be answered from metadata;
    // results must still be exact through the scan
    val r = spark.sql("SELECT count(id), min(id), max(id) FROM mm.db.t").head()
    assert(r.getLong(0) === 100L && r.getLong(1) === 0L && r.getLong(2) === 99L)
    val plan = org.apache.spark.sql.graft.ColumnBridge.executedPlan(
      spark.sql("SELECT count(id) FROM mm.db.t")).toString
    assert(!plan.contains("GraftAggPushdown"),
      s"pushdown must decline without value counts:\n$plan")
  }

  test("large commits collect footer metrics via a distributed job") {
    val loc = Files.createTempDirectory("graft-dist-").toString + "/t"
    val t = IceTable.create(spark, loc, Schema.fresh(orders.schema))
    t.append(orders.repartition(70)) // > DistributedMetricsThreshold files
    val tasks = t.newScan().planFiles()
    assert(tasks.size === 70)
    // metrics present on every file (bounds enable pruning)
    assert(tasks.forall(_.file.recordCount > 0))
    assert(tasks.forall(_.file.lowerBounds.nonEmpty))
    assert(t.newScan().filter(equalTo("o_orderkey", -1L)).planFiles().isEmpty)
    assert(t.toDF.count() === orders.count())
  }

  test("avro encryption: AES-GCM end-to-end, wrong-manager refusals") {
    import graft.table.{AesGcmEncryptionManager, FileIO, TableOperations,
      ValidationException}
    val conf = spark.sparkContext.hadoopConfiguration
    val manager = new AesGcmEncryptionManager(
      "0123456789abcdef0123456789abcdef".getBytes("UTF-8"), "test-key")
    val loc = Files.createTempDirectory("graft-enc-").toString + "/t"
    val data = orders.limit(200)
    val t = IceTable.createWith(spark,
      new TableOperations(loc, new FileIO(conf, manager)),
      Schema.fresh(data.schema),
      properties = Map(TableProperties.DefaultFileFormat -> "avro"))
    t.append(data)
    // manifests carry the derived key metadata on every file
    val files = t.newScan().planFiles().map(_.file)
    assert(files.nonEmpty)
    files.foreach { f =>
      val km = new String(f.keyMetadata.get.toArray, "UTF-8")
      assert(km.startsWith("aes-gcm-v1:test-key:"), km)
    }
    // the bytes on disk are ciphertext behind the GAC1 header, not Avro
    files.foreach { f =>
      val p = new org.apache.hadoop.fs.Path(f.path)
      val in = p.getFileSystem(conf).open(p)
      val head = try in.readNBytes(4) finally in.close()
      assert(java.util.Arrays.equals(head, AesGcmEncryptionManager.Magic),
        s"${f.path} does not start with the GAC1 magic")
    }
    // keyed read-back through the table: full content, filters intact
    assert(t.toDF.count() === 200)
    assert(t.toDF.select(sum(col("o_orderkey"))).head.getLong(0) ===
      data.select(sum(col("o_orderkey"))).head.getLong(0))
    assert(t.toDF.filter(col("o_orderstatus") === "F").count() ===
      data.filter(col("o_orderstatus") === "F").count())
    // copy-on-write DML re-encrypts the rewritten files
    t.delete(equalTo("o_orderstatus", "F"))
    assert(t.toDF.filter(col("o_orderstatus") === "F").count() === 0)
    t.newScan().planFiles().map(_.file).foreach { f =>
      assert(f.keyMetadata.nonEmpty, s"${f.path} lost key metadata on rewrite")
    }
    // plaintext manager (the default load) refuses BEFORE plan time now —
    // table metadata itself is sealed (r11), so the refusal moves to the
    // metadata read and names the problem
    val plainRefusal = intercept[IllegalStateException] {
      IceTable.load(spark, loc).toDF.count()
    }
    assert(plainRefusal.getMessage.contains("plaintext"), plainRefusal.getMessage)
    // a manager with a DIFFERENT master key refuses at the sealed-metadata
    // read (GCM authentication, before any plan)
    val wrongKey = new AesGcmEncryptionManager(
      "ffffffffffffffffffffffffffffffff".getBytes("UTF-8"), "test-key")
    val wrongRefusal = intercept[IllegalStateException] {
      IceTable.loadWith(spark,
        new TableOperations(loc, new FileIO(conf, wrongKey))).toDF.count()
    }
    assert(wrongRefusal.getMessage.contains("different"), wrongRefusal.getMessage)
    // a direct format read without the manager fails loudly, never rows
    val direct = intercept[Exception] {
      spark.read.schema(data.schema).format("graft-avro")
        .load(files.head.path).collect()
    }
    def causes(e: Throwable): Seq[Throwable] =
      if (e == null) Nil else e +: causes(e.getCause)
    assert(causes(direct).exists(_.getMessage != null) &&
      causes(direct).flatMap(c => Option(c.getMessage))
        .exists(_.contains("AES-GCM encrypted")), direct.toString)
    // all three formats encrypt since r11 — a keyed ORC append now
    // SUCCEEDS (dedicated ORC end-to-end test below); what still refuses
    // is a stream-only (non-keyed) manager on parquet/ORC
    val torc = IceTable.createWith(spark,
      new TableOperations(Files.createTempDirectory("graft-enco-").toString + "/t",
        new FileIO(conf, manager)),
      Schema.fresh(data.schema),
      properties = Map(TableProperties.DefaultFileFormat -> "orc"))
    torc.append(data.limit(5))
    assert(torc.toDF.count() === 5)
    torc.newScan().planFiles().foreach(t =>
      assert(t.file.keyMetadata.nonEmpty, t.file.path))
  }

  test("parquet encryption: modular encryption end-to-end, MoR deletes, refusals") {
    import graft.table.{AesGcmEncryptionManager, FileIO, MergeOnRead,
      TableOperations, ValidationException}
    val conf = spark.sparkContext.hadoopConfiguration
    val manager = new AesGcmEncryptionManager(
      "0123456789abcdef0123456789abcdef".getBytes("UTF-8"), "pq-key")
    val loc = Files.createTempDirectory("graft-encpq-").toString + "/t"
    val data = orders.limit(1000)
    // default file format — parquet — now encrypts through PME
    val t = IceTable.createWith(spark,
      new TableOperations(loc, new FileIO(conf, manager)),
      Schema.fresh(data.schema))
    t.append(data)
    def magicOf(path: String): String = {
      val p = new org.apache.hadoop.fs.Path(path)
      val in = p.getFileSystem(conf).open(p)
      try new String(in.readNBytes(4), "UTF-8") finally in.close()
    }
    val files = t.newScan().planFiles().map(_.file)
    assert(files.nonEmpty)
    files.foreach { f =>
      // manifests carry the derived key metadata; bytes on disk carry the
      // encrypted-parquet magic (PARE), not plaintext PAR1
      assert(new String(f.keyMetadata.get.toArray, "UTF-8")
        .startsWith("aes-gcm-v1:pq-key:"))
      assert(magicOf(f.path) === "PARE", f.path)
      // footer metrics decrypted at commit time: pruning stats are real
      assert(f.recordCount > 0 && f.lowerBounds.nonEmpty, f.path)
    }
    // keyed read-back: full content, filters, metrics pruning intact
    assert(t.toDF.count() === 1000)
    assert(t.toDF.select(sum(col("o_orderkey"))).head.getLong(0) ===
      data.select(sum(col("o_orderkey"))).head.getLong(0))
    assert(t.toDF.filter(col("o_orderstatus") === "F").count() ===
      data.filter(col("o_orderstatus") === "F").count())
    // merge-on-read DELETE: the position-delete files are encrypted too,
    // and the scan applies them through the decrypting probe readers
    val dropped = data.filter(col("o_orderkey") <= 100).count()
    t.deleteMergeOnRead(graft.meta.expr.Exprs.lessThanOrEqual("o_orderkey", 100L))
    val dels = t.newScan().planDeletes().map(_._1)
    if (dels.nonEmpty) dels.foreach(d => assert(magicOf(d.path) === "PARE", d.path))
    assert(t.toDF.filter(col("o_orderkey") <= 100).count() === 0)
    assert(t.toDF.count() === 1000 - dropped)
    // equality deletes carry KEY VALUES (row data) — encrypted as well
    val evict = data.filter(col("o_orderkey") === 101L || col("o_orderkey") === 102L)
      .select("o_orderkey")
    if (evict.count() > 0) {
      MergeOnRead.addEqualityDeletes(t, evict, Seq("o_orderkey"))
      val eqs = t.newScan().planDeletes().map(_._1)
        .filter(_.content == graft.meta.model.FileContent.EqualityDeletes)
      assert(eqs.nonEmpty)
      eqs.foreach(d => assert(magicOf(d.path) === "PARE", d.path))
      assert(t.toDF.filter(col("o_orderkey").isin(101L, 102L)).count() === 0)
    }
    // plaintext manager refuses at the sealed-metadata read (r11 — earlier
    // than the old plan-time refusal)
    val plainRefusal = intercept[IllegalStateException] {
      IceTable.load(spark, loc).toDF.count()
    }
    assert(plainRefusal.getMessage.contains("plaintext"), plainRefusal.getMessage)
    // wrong master key refuses at the sealed-metadata read
    val wrongKey = new AesGcmEncryptionManager(
      "ffffffffffffffffffffffffffffffff".getBytes("UTF-8"), "pq-key")
    val wrongRefusal = intercept[IllegalStateException] {
      IceTable.loadWith(spark,
        new TableOperations(loc, new FileIO(conf, wrongKey))).toDF.count()
    }
    assert(wrongRefusal.getMessage.contains("different"), wrongRefusal.getMessage)
    // a direct parquet read without keys fails loudly, never rows
    val direct = intercept[Exception] {
      spark.read.parquet(files.head.path).collect()
    }
    def causes(e: Throwable): Seq[Throwable] =
      if (e == null) Nil else e +: causes(e.getCause)
    assert(causes(direct).flatMap(c => Option(c.getMessage))
      .exists(m => m.contains("encrypted footer") || m.contains("encrypted")),
      direct.toString)
    // delete files are stamped with key metadata too: the plan-time guard
    // covers them, not just data files
    assert(t.newScan().planDeletes().forall(_._1.keyMetadata.nonEmpty))
    // the row-level changelog reads encrypted data AND delete files
    val changes = t.changelog()
    assert(changes.count() > 0)
    assert(changes.filter(col("_change_type") === "delete").count() > 0)
    // copy-on-write DML re-encrypts the rewritten files
    t.delete(equalTo("o_orderstatus", "F"))
    t.newScan().planFiles().map(_.file).foreach { f =>
      assert(f.keyMetadata.nonEmpty && magicOf(f.path) === "PARE",
        s"${f.path} lost encryption on rewrite")
    }
    assert(t.toDF.filter(col("o_orderstatus") === "F").count() === 0)
    // a keyed CREATE records graft.encryption.required: a plaintext-manager
    // handle must refuse to APPEND (a pure append plans no files, so the
    // per-file guards alone would let it commit plaintext silently)
    assert(t.meta.properties.get(TableProperties.EncryptionRequired)
      .contains("true"))
    // with sealed metadata (r11) the plaintext handle can no longer even
    // READ the table's metadata — refusal moves ahead of the append guard
    val appendRefusal = intercept[IllegalStateException] {
      IceTable.load(spark, loc).append(data.limit(5))
    }
    assert(appendRefusal.getMessage.contains("plaintext"), appendRefusal.getMessage)
    assert(t.toDF.filter(col("o_orderstatus") === "F").count() === 0) // unchanged
  }

  test("write.avro.sync-interval-bytes controls container split granularity") {
    val loc = Files.createTempDirectory("graft-avsync-").toString + "/t"
    val data = orders.limit(1500).repartition(1)
    // a ~50 KB file is ONE avro block at the 64 KB default interval (no
    // interior sync marker — unsplittable in practice); a 2 KB interval
    // gives dozens of split points
    val t = IceTable.create(spark, loc, Schema.fresh(data.schema),
      properties = Map(TableProperties.DefaultFileFormat -> "avro",
        "write.avro.sync-interval-bytes" -> "2000"))
    t.append(data)
    val f = t.newScan().planFiles().map(_.file).head
    val reader = org.apache.spark.sql.graft.ColumnBridge.fileReader(
      spark, "avro", data.schema, data.schema, Nil, vectorized = false)._1
    def rowsIn(start: Long, len: Long): Long =
      org.apache.spark.sql.graft.ColumnBridge.withDriverTaskContext {
        reader(org.apache.spark.sql.graft.ColumnBridge.partitionedFile(
          f.path, start, len, f.fileSizeBytes)).size.toLong
      }
    val half = f.fileSizeBytes / 2
    val (a, b) = (rowsIn(0, half), rowsIn(half, f.fileSizeBytes - half))
    assert(a > 0 && b > 0, s"fine sync interval should split a small file: ($a, $b)")
    assert(a + b === 1500L)
  }

  test("later-encrypted parquet table: plaintext files keep reading under a keyed manager") {
    import graft.table.{AesGcmEncryptionManager, FileIO, TableOperations}
    val conf = spark.sparkContext.hadoopConfiguration
    val loc = Files.createTempDirectory("graft-mixpq-").toString + "/t"
    val data = orders.limit(300)
    // created (and first filled) PLAINTEXT
    val plain = IceTable.create(spark, loc, Schema.fresh(data.schema))
    plain.append(data.limit(200))
    // manager swap: later appends encrypt, old PAR1 files must keep reading
    val manager = new AesGcmEncryptionManager(
      "0123456789abcdef0123456789abcdef".getBytes("UTF-8"), "mix")
    val keyed = IceTable.loadWith(spark,
      new TableOperations(loc, new FileIO(conf, manager)))
    assert(keyed.toDF.count() === 200) // plaintextFilesAllowed path
    keyed.append(data.limit(300).exceptAll(data.limit(200)))
    assert(keyed.toDF.count() === 300) // mixed plaintext + PARE scan
    val metas = keyed.newScan().planFiles().map(_.file)
    assert(metas.exists(_.keyMetadata.isEmpty) && metas.exists(_.keyMetadata.nonEmpty))
  }

  test("encrypted table: NO data values appear in any metadata file (r11 sealing)") {
    import graft.table.{AesGcmEncryptionManager, FileIO, TableOperations}
    val conf = spark.sparkContext.hadoopConfiguration
    val manager = new AesGcmEncryptionManager(
      "0123456789abcdef0123456789abcdef".getBytes("UTF-8"), "seal")
    val loc = Files.createTempDirectory("graft-seal-").toString + "/t"
    // distinctive values that land in manifest lower/upper bounds if leaked
    val secrets = Seq("ZQXSECRETALPHA", "ZQXSECRETOMEGA", "ZQXSECRETMID")
    val data = spark.createDataFrame(
      (1 to 60).map(i => (i.toLong, secrets(i % 3), i * 7L)))
      .toDF("id", "codename", "amount")
    val t = IceTable.createWith(spark,
      new TableOperations(loc, new FileIO(conf, manager)),
      Schema.fresh(data.schema),
      // gzip metadata codec: sealing wraps OUTERMOST (GAC1 over gzip), so
      // compressed metadata JSON must round-trip through both layers
      properties = Map("write.metadata.compression-codec" -> "gzip"))
    t.append(data.repartition(4))
    t.append(data.repartition(2)) // second commit: manifest merge path
    t.delete(equalTo("id", 7L))   // CoW rewrite: more manifests + metadata
    t.computeStats(Seq("codename", "id")) // stats file carries min/max
    assert(t.toDF.count() === 118) // 2×60 minus the two id=7 rows
    // every metadata-tree file except the version hint is sealed: either
    // chunked-GCM (GAC1) or parquet-modular-encrypted (PARE) — and none
    // contains the secret column values in cleartext
    val fs = new org.apache.hadoop.fs.Path(loc).getFileSystem(conf)
    val metaFiles = new FileIO(conf).listRecursive(s"$loc/metadata")
      .map(_.getPath).filterNot(_.getName == "version-hint.text")
    assert(metaFiles.size >= 8, s"expected a populated metadata tree: $metaFiles")
    val secretBytes = secrets.map(_.getBytes("UTF-8"))
    metaFiles.foreach { p =>
      val in = fs.open(p)
      val bytes = try in.readAllBytes() finally in.close()
      val magic = new String(bytes.take(4), "UTF-8")
      assert(magic == "GAC1" || magic == "PARE",
        s"$p is not sealed (magic '$magic')")
      secretBytes.foreach { s =>
        assert(!bytes.containsSlice(s),
          s"$p leaks plaintext value '${new String(s, "UTF-8")}'")
      }
    }
    // pruning still works THROUGH sealed manifests: bounds decrypt at plan
    assert(t.newScan().filter(equalTo("id", -5L)).planFiles().isEmpty)
    assert(t.toDF.filter(col("codename") === "ZQXSECRETALPHA").count() ===
      data.filter(col("codename") === "ZQXSECRETALPHA").count() * 2)
    // metadata tables decrypt too (distributed + driver paths)
    assert(t.metadataTable("files").count() > 0)
    // a plaintext handle refuses the sealed metadata loudly
    val refusal = intercept[IllegalStateException] {
      IceTable.load(spark, loc).toDF.count()
    }
    assert(refusal.getMessage.contains("plaintext"), refusal.getMessage)
    // the path-based source takes the same encryption option streams do
    assert(spark.read.format("graft")
      .option("encryption", graft.table.EncryptionManagers.serialize(manager))
      .load(loc).count() === 118)
  }

  test("ORC encryption end-to-end: columnar encryption via the KeyProvider SPI") {
    import graft.meta.model.FileContent
    import graft.table.{AesGcmEncryptionManager, FileIO, KeyRotationManager,
      TableOperations}
    val conf = spark.sparkContext.hadoopConfiguration
    val manager = new AesGcmEncryptionManager(
      "ffffffffffffffffffffffffffff0123".getBytes("UTF-8"), "orc-key")
    val loc = Files.createTempDirectory("graft-encorc-").toString + "/t"
    val secrets = Seq("ZQXORCSECRETA", "ZQXORCSECRETB")
    val data = spark.createDataFrame(
      (1 to 80).map(i => (i.toLong, secrets(i % 2), i * 3L)))
      .toDF("id", "codename", "amount")
    val t = IceTable.createWith(spark,
      new TableOperations(loc, new FileIO(conf, manager)),
      Schema.fresh(data.schema),
      properties = Map(TableProperties.DefaultFileFormat -> "orc",
        // compression OFF so the no-secret-bytes assertion is load-bearing:
        // snappy could hide plaintext literals from a byte grep, making a
        // silently-unencrypted file pass vacuously
        "write.orc.compression-codec" -> "none",
        TableProperties.DeleteMode -> TableProperties.RowLevelMergeOnRead))
    t.append(data.repartition(2))
    // control for the grep methodology: the same rows written as PLAIN
    // uncompressed ORC DO contain the secret bytes
    locally {
      val plainDir = Files.createTempDirectory("graft-encorc-ctl-").toString
      data.repartition(1).write.mode("overwrite")
        .option("compression", "none").orc(plainDir)
      val pf = new FileIO(conf).listRecursive(plainDir)
        .map(_.getPath).find(_.getName.endsWith(".orc")).get
      val in = pf.getFileSystem(conf).open(pf)
      val bytes = try in.readAllBytes() finally in.close()
      assert(bytes.containsSlice(secrets(0).getBytes("UTF-8")),
        "control failed: plain uncompressed ORC should expose the secret")
    }
    // keyed read-back: full parity, filters, and metrics pruning — the
    // footer stats are themselves encrypted, so a pruned plan proves the
    // metrics collector unseals them
    assert(t.toDF.count() === 80)
    assert(t.toDF.filter(col("codename") === secrets(0)).count() === 40)
    assert(t.newScan().filter(equalTo("id", -3L)).planFiles().isEmpty)
    val files = t.newScan().planFiles().map(_.file)
    assert(files.nonEmpty && files.forall(_.format == "orc"))
    files.foreach(f => assert(f.keyMetadata.nonEmpty, f.path))
    // the load-bearing assertion: NO secret bytes in the raw ORC files
    val secretBytes = secrets.map(_.getBytes("UTF-8"))
    def assertSealed(paths: Seq[String]): Unit = paths.foreach { p0 =>
      val p = new org.apache.hadoop.fs.Path(p0)
      val in = p.getFileSystem(conf).open(p)
      val bytes = try in.readAllBytes() finally in.close()
      secretBytes.foreach(s => assert(!bytes.containsSlice(s),
        s"$p0 leaks plaintext '${new String(s, "UTF-8")}'"))
    }
    assertSealed(files.map(_.path))
    // a reader WITHOUT keys gets no plaintext out — ORC either refuses or
    // masks; both are acceptable, silent plaintext is not
    val leaked =
      try spark.read.orc(files.head.path).collect()
        .flatMap(r => Option(r.get(1))).map(_.toString)
      catch { case _: Exception => Array.empty[String] }
    assert(leaked.forall(v => !secrets.contains(v)), leaked.take(3).mkString(","))
    // a WRONG key fails the local-key GCM authentication loudly (our
    // provider is deliberately stricter than ORC's unauthenticated CTR
    // unseal) — this also proves the files really are provider-encrypted
    val wrongKey = new AesGcmEncryptionManager(
      "99999999999999999999999999999999".getBytes("UTF-8"), "orc-wrong")
    val wrongRead = intercept[Exception] {
      val o = graft.table.EncryptionManagers.orcCryptoOptions(wrongKey)
      spark.read.options(o).orc(files.head.path).collect()
    }
    def causes(e: Throwable): Seq[Throwable] =
      if (e == null) Nil else e +: causes(e.getCause)
    // r12 blobs carry the sealing manager's fingerprint, so the wrong-key
    // refusal now NAMES the mismatch instead of a bare GCM failure
    assert(causes(wrongRead).exists(c => Option(c.getMessage).exists(m =>
      m.contains("sealed by manager") || m.contains("authentication failed"))),
      wrongRead.toString)
    // MoR DELETE: parquet position-delete files (encrypted) over encrypted
    // ORC data files read through synthesized ordinals
    t.delete(equalTo("id", 7L))
    assert(t.toDF.count() === 79)
    val dels = t.newScan().planDeletes().map(_._1)
    assert(dels.nonEmpty &&
      dels.forall(_.content == FileContent.PositionDeletes))
    assertSealed(dels.map(_.path))
    // key rotation covers ORC: rewrite under a new master, old key refused
    val keyB = new AesGcmEncryptionManager(
      "0123ffffffffffffffffffffffffffff".getBytes("UTF-8"), "orc-key-b")
    val rotT = IceTable.loadWith(spark, new TableOperations(loc,
      new FileIO(conf, new KeyRotationManager(keyB, manager))))
    val (rw, _) = rotT.rotateEncryptionKeys()
    assert(rw > 0)
    val tB = IceTable.loadWith(spark,
      new TableOperations(loc, new FileIO(conf, keyB)))
    assert(tB.toDF.count() === 79)
    assert(tB.toDF.filter(col("codename") === secrets(0)).count() ===
      40 - (if (7 % 2 == 0) 1 else 0))
    assertSealed(tB.newScan().planFiles().map(_.file.path))
    intercept[IllegalStateException] {
      IceTable.loadWith(spark,
        new TableOperations(loc, new FileIO(conf, manager))).toDF.count()
    }
  }

  test("SQL catalog with an encryption option: encrypted tables with zero query ceremony") {
    import graft.table.{AesGcmEncryptionManager, EncryptionManagers, FileIO}
    val manager = new AesGcmEncryptionManager(
      "dddddddddddddddddddddddddddddddd".getBytes("UTF-8"), "cat-key")
    val wh = Files.createTempDirectory("graft-enccat-").toString
    spark.conf.set("spark.sql.catalog.genc", "graft.spark.GraftCatalog")
    spark.conf.set("spark.sql.catalog.genc.warehouse", wh)
    spark.conf.set("spark.sql.catalog.genc.encryption",
      EncryptionManagers.serialize(manager))
    try {
      spark.sql("CREATE TABLE genc.db.t (k BIGINT, v STRING) PARTITIONED BY (bucket(4, k))")
      spark.sql("INSERT INTO genc.db.t SELECT id, concat('v', id) FROM range(100)")
      assert(spark.sql("SELECT count(*) FROM genc.db.t").head().getLong(0) === 100L)
      // DML through the catalog stays encrypted
      spark.sql("DELETE FROM genc.db.t WHERE k < 10")
      assert(spark.sql("SELECT count(*) FROM genc.db.t").head().getLong(0) === 90L)
      // on disk: PARE data files, sealed (GAC1/PARE) metadata, required set
      val conf = spark.sparkContext.hadoopConfiguration
      val fio = new FileIO(conf)
      val dataFiles = fio.listRecursive(s"$wh/db/t/data")
        .map(_.getPath).filter(_.getName.endsWith(".parquet"))
      assert(dataFiles.nonEmpty)
      dataFiles.foreach { p =>
        val in = p.getFileSystem(conf).open(p)
        val head = try new String(in.readNBytes(4), "UTF-8") finally in.close()
        assert(head === "PARE", s"$p not encrypted")
      }
      fio.listRecursive(s"$wh/db/t/metadata")
        .map(_.getPath).filterNot(_.getName == "version-hint.text")
        .foreach { p =>
          val in = p.getFileSystem(conf).open(p)
          val head = try new String(in.readNBytes(4), "UTF-8") finally in.close()
          assert(head == "GAC1" || head == "PARE", s"$p not sealed ($head)")
        }
      // a catalog over the same warehouse WITHOUT the key refuses
      spark.conf.set("spark.sql.catalog.gencplain", "graft.spark.GraftCatalog")
      spark.conf.set("spark.sql.catalog.gencplain.warehouse", wh)
      val refusal = intercept[Exception] {
        spark.sql("SELECT * FROM gencplain.db.t").collect()
      }
      def causes(e: Throwable): Seq[Throwable] =
        if (e == null) Nil else e +: causes(e.getCause)
      assert(causes(refusal).exists(c => Option(c.getMessage)
        .exists(_.contains("manager is plaintext"))), refusal.toString)
    } finally Seq("spark.sql.catalog.genc", "spark.sql.catalog.genc.warehouse",
      "spark.sql.catalog.genc.encryption", "spark.sql.catalog.gencplain",
      "spark.sql.catalog.gencplain.warehouse").foreach(spark.conf.unset)
  }

  test("master-key rotation: parquet table rewrites under the new key") {
    import graft.table.{AesGcmEncryptionManager, FileIO, KeyRotationManager,
      TableOperations}
    val conf = spark.sparkContext.hadoopConfiguration
    val keyA = new AesGcmEncryptionManager(
      "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa".getBytes("UTF-8"), "key-a")
    val keyB = new AesGcmEncryptionManager(
      "bbbbbbbbbbbbbbbbbbbbbbbbbbbbbbbb".getBytes("UTF-8"), "key-b")
    val loc = Files.createTempDirectory("graft-rot-").toString + "/t"
    val data = orders.limit(300)
    val t = IceTable.createWith(spark,
      new TableOperations(loc, new FileIO(conf, keyA)),
      Schema.fresh(data.schema),
      properties = Map(TableProperties.DeleteMode ->
        TableProperties.RowLevelMergeOnRead))
    t.append(data.limit(200).repartition(3))
    t.delete(equalTo("o_orderstatus", "F")) // MoR: delete files under key A
    val expected = t.toDF.collect().map(_.toString).sorted
    // rotation handle: writes key B, reads either — the MIXED state is
    // exactly what an interrupted rotation leaves, so exercise it first
    val rot = new KeyRotationManager(keyB, keyA)
    val rotT = IceTable.loadWith(spark,
      new TableOperations(loc, new FileIO(conf, rot)))
    rotT.append(data.limit(300).exceptAll(data.limit(200)).repartition(2))
    val midExpected = rotT.toDF.collect().map(_.toString).sorted
    assert(midExpected.length === expected.length + 100) // mixed table reads
    // finish the rotation in partial-progress batches
    val (rw, add) = rotT.rotateEncryptionKeys(partialProgressCommits = 2)
    assert(rw > 0 && add > 0, s"($rw, $add)")
    assert(rotT.toDF.collect().map(_.toString).sorted === midExpected)
    // idempotent rerun: nothing left to rewrite
    assert(rotT.rotateEncryptionKeys() === (0, 0))
    // every live file keyed under B; property stamped
    val after = rotT.newScan().planFiles().map(_.file)
    after.foreach(f => assert(f.keyMetadata === keyB.keyMetadata(f.path), f.path))
    assert(rotT.meta.properties.get(TableProperties.EncryptionRequired)
      .contains("true"))
    // the NEW key alone reads the current snapshot (metadata + data)
    val tB = IceTable.loadWith(spark,
      new TableOperations(loc, new FileIO(conf, keyB)))
    assert(tB.toDF.collect().map(_.toString).sorted === midExpected)
    // the OLD key alone refuses — at the sealed-metadata read
    val refusal = intercept[IllegalStateException] {
      IceTable.loadWith(spark,
        new TableOperations(loc, new FileIO(conf, keyA))).toDF.count()
    }
    assert(refusal.getMessage.contains("different"), refusal.getMessage)
    // expire history → the old-key ciphertext is destroyed. Expiry walks
    // OLD manifests (sealed under key A), so it runs through the rotation
    // handle — the last step before retiring the old key
    rotT.expireSnapshots(System.currentTimeMillis() + 1000, retainLast = 1)
    assert(tB.toDF.count() === midExpected.length.toLong)
    val leftover = new FileIO(conf).listRecursive(s"$loc/data")
      .map(_.getPath.toString)
    val live = tB.newScan().planFiles().map(_.file.path)
      .map(p => new org.apache.hadoop.fs.Path(p).toUri.getPath).toSet
    // every surviving data file is live new-key content
    leftover.foreach { p =>
      assert(live.contains(new org.apache.hadoop.fs.Path(p).toUri.getPath),
        s"old-key ciphertext survived expiry: $p")
    }
  }

  test("rotation rerun recovers the crash window between last rewrite and delete-drop") {
    import graft.table.{AesGcmEncryptionManager, FileIO, KeyRotationManager,
      TableOperations}
    val conf = spark.sparkContext.hadoopConfiguration
    val keyA = new AesGcmEncryptionManager(
      "cwcwcwcwcwcwcwcwcwcwcwcwcwcwcwcw".getBytes("UTF-8"), "cw-a")
    val keyB = new AesGcmEncryptionManager(
      "wcwcwcwcwcwcwcwcwcwcwcwcwcwcwcwc".getBytes("UTF-8"), "cw-b")
    val loc = Files.createTempDirectory("graft-rotcw-").toString + "/t"
    val data = orders.limit(120)
    val t = IceTable.createWith(spark,
      new TableOperations(loc, new FileIO(conf, keyA)),
      Schema.fresh(data.schema),
      properties = Map(TableProperties.DeleteMode ->
        TableProperties.RowLevelMergeOnRead))
    t.append(data.repartition(3))
    t.delete(equalTo("o_orderstatus", "F")) // old-key position-delete files
    val expected = t.toDF.count()
    // reproduce the crash window DIRECTLY: all data files rewritten under
    // the new key (deletes applied), but the old-key delete files never
    // dropped — exactly what a death between the last Replace batch and
    // removeDanglingDeletes leaves behind
    val rotT = IceTable.loadWith(spark, new TableOperations(loc,
      new FileIO(conf, new KeyRotationManager(keyB, keyA))))
    rotT.rewriteDataFiles(minFileSizeBytes = Long.MaxValue / 2, minInputFiles = 1)
    val dels = rotT.newScan().planDeletes()
    assert(dels.nonEmpty, "crash-window setup needs live old-key delete files")
    assert(dels.forall(_._1.keyMetadata != keyB.keyMetadata(dels.head._1.path)))
    rotT.newScan().planFiles().foreach(f =>
      assert(f.file.keyMetadata === keyB.keyMetadata(f.file.path)))
    // the rerun must FINISH (drop the dangling old-key deletes, stamp the
    // property) — not throw 'rotation incomplete' forever
    assert(rotT.rotateEncryptionKeys() === (0, 0))
    val tB = IceTable.loadWith(spark,
      new TableOperations(loc, new FileIO(conf, keyB)))
    assert(tB.toDF.count() === expected)
    assert(tB.newScan().planDeletes().isEmpty)
  }

  test("key rotation from PLAINTEXT encrypts an existing avro table") {
    import graft.table.{AesGcmEncryptionManager, FileIO, KeyRotationManager,
      PlaintextEncryptionManager, TableOperations}
    val conf = spark.sparkContext.hadoopConfiguration
    val keyB = new AesGcmEncryptionManager(
      "cccccccccccccccccccccccccccccccc".getBytes("UTF-8"), "key-c")
    val loc = Files.createTempDirectory("graft-rotp-").toString + "/t"
    val data = orders.limit(150)
    val t = IceTable.create(spark, loc, Schema.fresh(data.schema),
      properties = Map(TableProperties.DefaultFileFormat -> "avro"))
    t.append(data.repartition(2))
    val expected = t.toDF.collect().map(_.toString).sorted
    val rotT = IceTable.loadWith(spark, new TableOperations(loc,
      new FileIO(conf, new KeyRotationManager(keyB, PlaintextEncryptionManager))))
    val (rw, add) = rotT.rotateEncryptionKeys()
    assert(rw === 2 && add > 0)
    // data identical, all files sealed (GAC1 on disk), required stamped
    val tB = IceTable.loadWith(spark,
      new TableOperations(loc, new FileIO(conf, keyB)))
    assert(tB.toDF.collect().map(_.toString).sorted === expected)
    tB.newScan().planFiles().map(_.file).foreach { f =>
      assert(f.keyMetadata === keyB.keyMetadata(f.path))
      val p = new org.apache.hadoop.fs.Path(f.path)
      val in = p.getFileSystem(conf).open(p)
      val head = try in.readNBytes(4) finally in.close()
      assert(java.util.Arrays.equals(head, AesGcmEncryptionManager.Magic), f.path)
    }
    assert(tB.meta.properties.get(TableProperties.EncryptionRequired)
      .contains("true"))
    // plaintext handle now refuses (metadata sealed by the rotation commits)
    intercept[IllegalStateException] { IceTable.load(spark, loc).toDF.count() }
  }

  test("encryption-required table refuses forged plaintext substitutes") {
    import graft.table.{AesGcmEncryptionManager, FileIO, TableOperations}
    val conf = spark.sparkContext.hadoopConfiguration
    val manager = new AesGcmEncryptionManager(
      "forgeforgeforgeforgeforgeforgefo".getBytes("UTF-8"), "forge")
    val loc = Files.createTempDirectory("graft-forge-").toString + "/t"
    val data = spark.range(50).selectExpr("id", "concat('v', id) AS v")
    val t = IceTable.createWith(spark,
      new TableOperations(loc, new FileIO(conf, manager)),
      Schema.fresh(data.schema))
    t.append(data)
    assert(t.toDF.count() === 50)
    // ATTACK 1: swap an encrypted data file's CONTENT for forged plaintext
    // parquet of the same schema — the manifest's key metadata is untouched,
    // so plan-time guards pass; the refusal must come at file OPEN (without
    // the r11 plaintext-disallow flag, parquet-mr would happily serve the
    // forged rows through withPlaintextFilesAllowed)
    val victim = t.newScan().planFiles().head.file.path
    val forgedDir = Files.createTempDirectory("graft-forge-src-").toString
    spark.range(5).selectExpr("id + 1000 AS id", "'FORGED' AS v")
      .coalesce(1).write.mode("overwrite").parquet(forgedDir)
    val forged = new FileIO(conf).listRecursive(forgedDir)
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    val vp = new org.apache.hadoop.fs.Path(victim)
    val fs = vp.getFileSystem(conf)
    val in = forged.getFileSystem(conf).open(forged)
    val bytes = try in.readAllBytes() finally in.close()
    val out = fs.create(vp, true)
    try out.write(bytes) finally out.close()
    val attack1 = intercept[Exception] { t.toDF.collect() }
    def causes(e: Throwable): Seq[Throwable] =
      if (e == null) Nil else e +: causes(e.getCause)
    assert(causes(attack1).exists(c => Option(c.getMessage).exists(m =>
      m.toLowerCase.contains("plaintext"))), attack1.toString)
    // and no forged row was ever served
    val served = try t.toDF.collect().map(_.getString(1)) catch {
      case _: Exception => Array.empty[String]
    }
    assert(!served.contains("FORGED"))

    // ATTACK 2: a km-EMPTY file in a table that REQUIRES encryption (a
    // forged manifest entry, or a plaintext leftover that should not exist
    // once the property is stamped) refuses at PLAN time
    val loc2 = Files.createTempDirectory("graft-forge2-").toString + "/t"
    val plain = IceTable.create(spark, loc2, Schema.fresh(data.schema))
    plain.append(data) // km-empty plaintext files
    plain.updateProperties(Map(
      graft.meta.model.TableProperties.EncryptionRequired -> "true"))
    val keyed2 = IceTable.loadWith(spark,
      new TableOperations(loc2, new FileIO(conf, manager)))
    val attack2 = intercept[Exception] { keyed2.toDF.count() }
    assert(causes(attack2).exists(c => Option(c.getMessage).exists(m =>
      m.contains("forged") || m.contains("requires encrypted"))),
      attack2.toString)
  }

  private def causesOf(e: Throwable): Seq[Throwable] =
    if (e == null) Nil else e +: causesOf(e.getCause)

  private def mentionsPlaintext(e: Throwable): Boolean =
    causesOf(e).exists(c => Option(c.getMessage).exists(
      _.toLowerCase.contains("plaintext")))

  private def overwriteRaw(conf: org.apache.hadoop.conf.Configuration,
      srcBytes: Array[Byte], dest: String): Unit = {
    val dp = new org.apache.hadoop.fs.Path(dest)
    val out = dp.getFileSystem(conf).create(dp, true)
    try out.write(srcBytes) finally out.close()
  }

  private def rawBytes(conf: org.apache.hadoop.conf.Configuration,
      path: String): Array[Byte] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val in = p.getFileSystem(conf).open(p)
    try in.readAllBytes() finally in.close()
  }

  test("encryption-required table refuses a forged plaintext parquet manifest" +
      " (scan, distributed metadata table, orphan scan)") {
    import graft.table.{AesGcmEncryptionManager, FileIO, Maintenance,
      TableOperations}
    val conf = spark.sparkContext.hadoopConfiguration
    val manager = new AesGcmEncryptionManager(
      "mfforge-mfforge-mfforge-mfforge-".getBytes("UTF-8"), "mfforge")
    val loc = Files.createTempDirectory("graft-mff-").toString + "/t"
    val data = orders.limit(50)
    // merge disabled so 17 tiny commits leave >16 manifests — past the
    // threshold where metadata tables read manifests ON EXECUTORS (the
    // reconstructed-FileIO latch path this test pins)
    val t = IceTable.createWith(spark,
      new TableOperations(loc, new FileIO(conf, manager)),
      Schema.fresh(data.schema),
      properties = Map(TableProperties.ManifestMergeEnabled -> "false"))
    (1 to 17).foreach(i => t.append(data.limit(2)))
    val liveFiles = t.newScan().planFiles().map(_.file.path)
    assert(liveFiles.size === 17)
    val victimManifest = t.metadataTable("manifests").collect()
      .map(_.getString(0)).head
    assert(victimManifest.endsWith(".parquet"))
    // the decoy: a PLAINTEXT table of the same schema yields a well-formed
    // plaintext parquet manifest listing DIFFERENT (fewer) files — exactly
    // what a storage-write attacker would substitute to hide rows or to
    // trick the orphan scan into deleting the files the forgery omits
    val decoyLoc = Files.createTempDirectory("graft-mff-decoy-").toString + "/t"
    val decoy = IceTable.create(spark, decoyLoc, Schema.fresh(data.schema))
    decoy.append(data.limit(1))
    val decoyManifest = decoy.metadataTable("manifests").collect()
      .map(_.getString(0)).head
    overwriteRaw(conf, rawBytes(conf, decoyManifest), victimManifest)

    // 1) driver-side scan refuses the plaintext manifest (no silent
    // row-hiding: before the fix parquet-mr read it via plaintext-allowed)
    val scanRefusal = intercept[Exception] { t.toDF.collect() }
    assert(mentionsPlaintext(scanRefusal), scanRefusal.toString)
    // 2) the DISTRIBUTED metadata-table path (executor FileIOs) refuses
    // too — the latch crosses the reconstruction boundary and the refusal
    // is not swallowed as an empty manifest
    val mtRefusal = intercept[Exception] { t.metadataTable("files").collect() }
    assert(mentionsPlaintext(mtRefusal), mtRefusal.toString)
    // 3) the orphan scan's executor-side valid-file set refuses — so
    // remove_orphan_files can NOT be tricked into deleting the live files
    // the forged manifest omits
    val orphanRefusal = intercept[Exception] {
      Maintenance.removeOrphanFiles(t,
        olderThanMillis = System.currentTimeMillis() + 600000L)
    }
    assert(mentionsPlaintext(orphanRefusal), orphanRefusal.toString)
    val fio = new FileIO(conf)
    liveFiles.foreach(p => assert(fio.exists(p), s"live file deleted: $p"))
  }

  test("PME-sealed parquet manifest: readPaths reads the sealed path column") {
    import graft.table.{AesGcmEncryptionManager, FileIO, ManifestIO, TableOperations}
    val conf = spark.sparkContext.hadoopConfiguration
    val manager = new AesGcmEncryptionManager(
      "mfpaths-mfpaths-mfpaths-mfpaths-".getBytes("UTF-8"), "mfpaths")
    val loc = Files.createTempDirectory("graft-mfp-").toString + "/t"
    val data = orders.limit(20)
    val t = IceTable.createWith(spark,
      new TableOperations(loc, new FileIO(conf, manager)),
      Schema.fresh(data.schema))
    t.append(data.repartition(2))
    val manifest = t.metadataTable("manifests").collect().map(_.getString(0)).head
    assert(manifest.endsWith(".parquet"))
    val bytes = rawBytes(conf, manifest)
    assert(new String(bytes.take(4), "UTF-8") === "PARE")
    assert(new String(bytes.takeRight(4), "UTF-8") === "PARE")
    val entries = ManifestIO.read(t.io, manifest, t.schema, t.meta.specById)
    assert(entries.size === 2)
    assert(ManifestIO.readPaths(t.io, manifest) === entries.map(_.dataFile.path))
    // without the table's key the sealed path column stays unreadable
    intercept[Exception](ManifestIO.readPaths(new FileIO(conf), manifest))
  }

  test("encryption-required ORC table refuses forged plaintext ORC content at open") {
    import graft.table.{AesGcmEncryptionManager, FileIO, TableOperations}
    val conf = spark.sparkContext.hadoopConfiguration
    val manager = new AesGcmEncryptionManager(
      "orcforge-orcforge-orcforge-orcfo".getBytes("UTF-8"), "orcforge")
    val loc = Files.createTempDirectory("graft-orcf-").toString + "/t"
    val data = spark.range(50).selectExpr("id", "concat('v', id) AS v")
    val t = IceTable.createWith(spark,
      new TableOperations(loc, new FileIO(conf, manager)),
      Schema.fresh(data.schema),
      properties = Map(TableProperties.DefaultFileFormat -> "orc"))
    t.append(data)
    assert(t.toDF.count() === 50) // encrypted ORC round-trips
    // swap one encrypted ORC data file for forged PLAINTEXT ORC of the
    // same schema: the manifest's key_metadata entry is intact, so
    // plan-time guards pass — before the r12 OrcContentGuard, Spark's ORC
    // reader served the forged rows (parquet/avro refused the identical
    // attack; encryption-required semantics silently differed by format)
    val victim = t.newScan().planFiles().head.file.path
    val forgedDir = Files.createTempDirectory("graft-orcf-src-").toString
    spark.range(5).selectExpr("id + 1000 AS id", "'FORGED' AS v")
      .coalesce(1).write.mode("overwrite").orc(forgedDir)
    val forged = new FileIO(conf).listRecursive(forgedDir)
      .map(_.getPath.toString).find(_.endsWith(".orc")).get
    overwriteRaw(conf, rawBytes(conf, forged), victim)
    val refusal = intercept[Exception] { t.toDF.collect() }
    assert(mentionsPlaintext(refusal), refusal.toString)
    // and zero forged rows were ever served
    val served = try t.toDF.collect().map(_.getString(1)) catch {
      case _: Exception => Array.empty[String]
    }
    assert(!served.contains("FORGED"))
  }

  test("loader-asserted encryption-required refuses a forged plaintext metadata bootstrap") {
    import graft.meta.model.JsonCodecs
    import graft.table.{AesGcmEncryptionManager, EncryptionManagers, FileIO,
      TableOperations}
    val conf = spark.sparkContext.hadoopConfiguration
    val manager = new AesGcmEncryptionManager(
      "bootforge-bootforge-bootforge-bo".getBytes("UTF-8"), "bootforge")
    val ser = EncryptionManagers.serialize(manager)
    val loc = Files.createTempDirectory("graft-bootf-").toString + "/t"
    val data = spark.range(20).selectExpr("id", "concat('v', id) AS v")
    val t = IceTable.createWith(spark,
      new TableOperations(loc, new FileIO(conf, manager)),
      Schema.fresh(data.schema))
    t.append(data)
    // the attack the stored property can NOT stop: swap the CURRENT
    // (sealed) metadata JSON for a forged PLAINTEXT one that omits
    // graft.encryption.required — the latch bootstraps from this very
    // file, so the un-asserted load accepts it and every downstream
    // forgery guard (latch, km-empty plan check, plaintext-disallow
    // flags) is disabled in one move
    val m = t.meta
    val forgedJson = JsonCodecs.tableMetadataToJson(
      m.copy(properties = m.properties - TableProperties.EncryptionRequired))
    val metaDir = s"$loc/metadata"
    val fio = new FileIO(conf)
    val current = fio.list(metaDir).map(_.getPath.toString)
      .filter(_.matches(""".*/v\d+(\.gz)?\.metadata\.json"""))
      .maxBy(p => """v(\d+)""".r.findFirstMatchIn(p).get.group(1).toInt)
    val forgedBytes =
      if (current.contains(".gz")) {
        val bos = new java.io.ByteArrayOutputStream()
        val gz = new java.util.zip.GZIPOutputStream(bos)
        gz.write(forgedJson.getBytes("UTF-8")); gz.close()
        bos.toByteArray
      } else forgedJson.getBytes("UTF-8")
    overwriteRaw(conf, forgedBytes, current)
    // un-asserted keyed load: accepts the forged plaintext metadata (the
    // documented circularity — data still decrypts, but the guards are off)
    assert(spark.read.format("graft").option("encryption", ser).load(loc)
      .count() === 20)
    // loader-asserted: the FIRST metadata read refuses plaintext
    val refusal = intercept[Exception] {
      spark.read.format("graft").option("encryption", ser)
        .option("encryption-required", "true").load(loc).collect()
    }
    assert(mentionsPlaintext(refusal), refusal.toString)
    // the assertion composes with an honest table too: un-forged sealed
    // metadata loads fine under the same option
    val loc2 = Files.createTempDirectory("graft-bootf2-").toString + "/t"
    val t2 = IceTable.createWith(spark,
      new TableOperations(loc2, new FileIO(conf, manager)),
      Schema.fresh(data.schema))
    t2.append(data)
    assert(spark.read.format("graft").option("encryption", ser)
      .option("encryption-required", "true").load(loc2).count() === 20)
    // and a plaintext FileIO refuses the assertion outright
    intercept[IllegalArgumentException] { new FileIO(conf, requireSealed = true) }
  }

  test("ORC sealed local key v2: wrong-manager vs corrupt-blob are distinct failures") {
    import graft.sources.GraftOrcKeyProvider
    import graft.table.AesGcmEncryptionManager
    import org.apache.orc.EncryptionAlgorithm
    import org.apache.orc.impl.HadoopShims
    val mA = new AesGcmEncryptionManager(
      "orck2-orck2-orck2-orck2-orck2-or".getBytes("UTF-8"), "orck2a")
    val mB = new AesGcmEncryptionManager(
      "orck3-orck3-orck3-orck3-orck3-or".getBytes("UTF-8"), "orck2b")
    val provA = new GraftOrcKeyProvider(mA)
    val provB = new GraftOrcKeyProvider(mB)
    val meta = new HadoopShims.KeyMetadata(
      GraftOrcKeyProvider.KeyName, 0, EncryptionAlgorithm.AES_CTR_128)
    val lk = provA.createLocalKey(meta)
    val blob = lk.getEncryptedKey
    assert(blob(0) === GraftOrcKeyProvider.Version)
    // own manager round-trips
    assert(provA.decryptLocalKey(meta, blob).getEncoded
      === lk.getDecryptedKey.getEncoded)
    // wrong manager: the stored fingerprint NAMES the mismatch
    val wrong = intercept[IllegalStateException] {
      provB.decryptLocalKey(meta, blob)
    }
    assert(wrong.getMessage.contains("sealed by manager"), wrong.getMessage)
    // corrupt blob under the RIGHT manager: a GCM failure, named as such
    val tampered = blob.clone()
    tampered(tampered.length - 1) = (tampered(tampered.length - 1) ^ 0x1).toByte
    val corrupt = intercept[IllegalStateException] {
      provA.decryptLocalKey(meta, tampered)
    }
    assert(corrupt.getMessage.contains("corrupt or tampered"), corrupt.getMessage)
    // r11 legacy blobs (version 1, no fingerprint) still unseal by trial
    val legacyIv = java.util.Arrays.copyOfRange(
      blob, 1 + GraftOrcKeyProvider.FpLen,
      1 + GraftOrcKeyProvider.FpLen + GraftOrcKeyProvider.IvLen)
    val legacyWrapped = java.util.Arrays.copyOfRange(blob,
      1 + GraftOrcKeyProvider.FpLen + GraftOrcKeyProvider.IvLen, blob.length)
    val legacy = Array(GraftOrcKeyProvider.VersionLegacy) ++ legacyIv ++ legacyWrapped
    assert(provA.decryptLocalKey(meta, legacy).getEncoded
      === lk.getDecryptedKey.getEncoded)
  }

  test("fully-keyed-but-unstamped table logs the encryption.required advisory once") {
    import graft.table.{AesGcmEncryptionManager, FileIO, TableOperations}
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val conf = spark.sparkContext.hadoopConfiguration
    val manager = new AesGcmEncryptionManager(
      "advisory-advisory-advisory-advi".getBytes("UTF-8") ++ Array[Byte]('x'),
      "advisory")
    val data = spark.range(10).selectExpr("id", "concat('v', id) AS v")
    // a pre-r11 shape: every file keyed, property never stamped
    val loc = Files.createTempDirectory("graft-adv-").toString + "/t"
    val t0 = IceTable.createWith(spark,
      new TableOperations(loc, new FileIO(conf, manager)),
      Schema.fresh(data.schema))
    t0.append(data)
    t0.updateProperties(Map.empty,
      remove = Set(graft.meta.model.TableProperties.EncryptionRequired))
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("graft-adv-capture", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        captured.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val rootCfg = ctx.getConfiguration.getRootLogger
    rootCfg.addAppender(appender, Level.WARN, null)
    ctx.updateLoggers()
    try {
      val t = IceTable.loadWith(spark,
        new TableOperations(loc, new FileIO(conf, manager)))
      assert(t.toDF.count() === 10)
      assert(t.toDF.count() === 10) // second scan: advisory must NOT repeat
      def advisories = captured.toArray.map(_.toString)
        .count(m => m.contains(loc) && m.contains("encryption.required"))
      assert(advisories === 1, s"expected one advisory, got $captured")
      // a STAMPED table stays quiet
      captured.clear()
      val stamped = IceTable.createWith(spark, new TableOperations(
        Files.createTempDirectory("graft-adv2-").toString + "/t",
        new FileIO(conf, manager)), Schema.fresh(data.schema))
      stamped.append(data)
      assert(stamped.toDF.count() === 10)
      // a MIXED table (plaintext history under a later-keyed handle) too
      val mixedLoc = Files.createTempDirectory("graft-adv3-").toString + "/t"
      IceTable.create(spark, mixedLoc, Schema.fresh(data.schema)).append(data)
      val mixed = IceTable.loadWith(spark,
        new TableOperations(mixedLoc, new FileIO(conf, manager)))
      mixed.append(data)
      assert(mixed.toDF.count() === 20)
      assert(captured.toArray.map(_.toString)
        .count(_.contains("encryption.required")) === 0,
        s"advisory misfired: $captured")
    } finally {
      rootCfg.removeAppender("graft-adv-capture")
      ctx.updateLoggers()
      appender.stop()
    }
  }

  test("manager deserialization is filtered: non-allowlisted classes refuse") {
    import graft.table.{AesGcmEncryptionManager, EncryptionManagers}
    // a serializable class outside the allowlist must NOT instantiate
    val evil = new java.util.ArrayList[String]()
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(evil); oos.close()
    val s = java.util.Base64.getEncoder.encodeToString(bos.toByteArray)
    intercept[java.io.InvalidClassException] { EncryptionManagers.deserialize(s) }
    // a real manager still round-trips through the filter
    val m = new AesGcmEncryptionManager(
      "0123456789abcdef0123456789abcdef".getBytes("UTF-8"), "filt")
    val back = EncryptionManagers.deserialize(EncryptionManagers.serialize(m))
    assert(back.keyMetadata("/x/y.parquet") === m.keyMetadata("/x/y.parquet"))
  }

  test("stream-only manager on an avro table refuses PARQUET delete files") {
    import graft.table.{EncryptionManager, FileIO, MergeOnRead,
      TableOperations, ValidationException}
    import java.io.{InputStream, OutputStream}
    // non-plaintext but NOT KeyedFileEncryption: fine for avro data files
    // (library-owned streams), but delete files are parquet — writing them
    // plaintext into an encrypted table must refuse
    object StreamOnly extends EncryptionManager {
      override def keyMetadata(p: String): Option[Seq[Byte]] =
        Some("so".getBytes("UTF-8").toSeq)
      override def encrypt(p: String, o: OutputStream): OutputStream = o
      override def decrypt(p: String, i: InputStream,
          km: Option[Seq[Byte]]): InputStream = i
    }
    val conf = spark.sparkContext.hadoopConfiguration
    val loc = Files.createTempDirectory("graft-sodel-").toString + "/t"
    val data = orders.limit(50)
    val t = IceTable.createWith(spark,
      new TableOperations(loc, new FileIO(conf, StreamOnly)),
      Schema.fresh(data.schema),
      properties = Map(TableProperties.DefaultFileFormat -> "avro"))
    val refusal = intercept[ValidationException] {
      MergeOnRead.addEqualityDeletes(t, data.limit(2).select("o_orderkey"),
        Seq("o_orderkey"))
    }
    assert(refusal.getMessage.contains("stream-only"), refusal.getMessage)
  }

  test("chunked AES-GCM: multi-block round trip, split reads, bounded decryption") {
    import graft.table.{AesGcmEncryptionManager, FileIO, TableOperations}
    val conf = spark.sparkContext.hadoopConfiguration
    // tiny 512-byte blocks force MANY blocks per data file
    val manager = new AesGcmEncryptionManager(
      "0123456789abcdef0123456789abcdef".getBytes("UTF-8"), "blk", 512)
    val loc = Files.createTempDirectory("graft-encc-").toString + "/t"
    // the orders table replicated 40× → a file well past avro's 64 KB sync
    // interval (many container blocks), so disk-coordinate slices really
    // do divide it
    val data = orders.crossJoin(spark.range(40).toDF("rep")).drop("rep")
      .repartition(1)
    val expect = data.count()
    val t = IceTable.createWith(spark,
      new TableOperations(loc, new FileIO(conf, manager)),
      Schema.fresh(data.schema),
      properties = Map(TableProperties.DefaultFileFormat -> "avro"))
    t.append(data)
    val f = t.newScan().planFiles().map(_.file).head
    val p = new org.apache.hadoop.fs.Path(f.path)
    val fs = p.getFileSystem(conf)
    val diskLen = fs.getFileStatus(p).getLen
    // genuinely multi-block: ≥ 4 full 512B blocks on disk
    assert(diskLen > 4 * (512 + 16) + AesGcmEncryptionManager.HeaderLen, diskLen.toString)
    // full table parity through the seekable reader
    assert(t.toDF.count() === expect)
    assert(t.toDF.select(sum(col("o_orderkey"))).head.getLong(0) ===
      data.select(sum(col("o_orderkey"))).head.getLong(0))
    // SPLIT reads: two disk-coordinate half slices through the format
    // reader must cover every row exactly once (the planner no longer
    // forces whole-file slices for encrypted avro)
    val encOpt = Map(graft.table.EncryptionManagers.OptionKey ->
      graft.table.EncryptionManagers.serialize(manager))
    val reader = org.apache.spark.sql.graft.ColumnBridge.fileReader(
      spark, "avro", data.schema, data.schema, Nil, vectorized = false, encOpt)._1
    def rowsIn(start: Long, len: Long): Long =
      org.apache.spark.sql.graft.ColumnBridge.withDriverTaskContext {
        reader(org.apache.spark.sql.graft.ColumnBridge.partitionedFile(
          f.path, start, len, diskLen)).size.toLong
      }
    val half = diskLen / 2
    val (a, b) = (rowsIn(0, half), rowsIn(half, diskLen - half))
    assert(a > 0 && b > 0, s"both slices should see rows: ($a, $b)")
    assert(a + b === expect, s"slices must partition the file: $a + $b")
    // sequential (non-seekable) decrypt yields the identical container
    val seekable = manager.decryptSeekable(f.path, fs.open(p), diskLen,
      manager.keyMetadata(f.path)).get
    val viaSeek = new Array[Byte](seekable.length().toInt)
    var off = 0
    while (off < viaSeek.length)
      off += seekable.read(viaSeek, off, viaSeek.length - off)
    seekable.close()
    val viaStream = manager.decrypt(f.path, fs.open(p),
      manager.keyMetadata(f.path)).readAllBytes()
    assert(java.util.Arrays.equals(viaSeek, viaStream))
    assert(viaSeek.length ===
      (diskLen - AesGcmEncryptionManager.HeaderLen -
        16 * ((diskLen - AesGcmEncryptionManager.HeaderLen + 527) / 528)).toInt)
    // truncation (drop trailing bytes) refuses loudly, never silent rows
    val truncated = new org.apache.hadoop.fs.Path(loc + "/trunc.avro")
    val allBytes = {
      val in = fs.open(p)
      try in.readAllBytes() finally in.close()
    }
    val outT = fs.create(truncated, true)
    outT.write(allBytes, 0, allBytes.length - 8)
    outT.close()
    val eTrunc = intercept[Exception] {
      val s = manager.decrypt(truncated.toString, fs.open(truncated),
        manager.keyMetadata(truncated.toString))
      try s.readAllBytes() finally s.close()
    }
    assert(eTrunc.getMessage.contains("authentication failed"), eTrunc.toString)
    // whole-block truncation (drop the last block entirely) also refuses:
    // the new final block was sealed with last=0
    val nBlocks = (diskLen - AesGcmEncryptionManager.HeaderLen + 527) / 528
    val lastBlockLen = (diskLen - AesGcmEncryptionManager.HeaderLen -
      (nBlocks - 1) * 528).toInt
    val outB = fs.create(truncated, true)
    outB.write(allBytes, 0, allBytes.length - lastBlockLen)
    outB.close()
    val eBlock = intercept[Exception] {
      val s = manager.decrypt(truncated.toString, fs.open(truncated),
        manager.keyMetadata(truncated.toString))
      try s.readAllBytes() finally s.close()
    }
    assert(eBlock.getMessage.contains("authentication failed"), eBlock.toString)
  }
}
