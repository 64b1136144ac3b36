package graft

import graft.spark.{GraftBatchScan, GraftSparkTable}
import graft.table.{IceTable, Listeners}

import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

/** Native DSv2 batch read path: vectorized scans, runtime (join-driven) file
  * pruning, storage-partitioned joins, and metadata-only aggregate pushdown
  * (ref `SparkBatchQueryScan.java`, `SparkScanBuilder.pushAggregation`). */
class BatchScanSpec extends AnyFunSuite {

  lazy val spark = SparkSessionHelper.spark
  private lazy val warehouse = {
    val dir = java.nio.file.Files.createTempDirectory("graft_bs_wh").toString
    spark.conf.set("spark.sql.catalog.bs", "graft.spark.GraftCatalog")
    spark.conf.set("spark.sql.catalog.bs.warehouse", dir)
    dir
  }
  private lazy val lineitem =
    spark.read.parquet(s"${SparkSessionHelper.sf0001}/lineitem.parquet")

  private def withConf(pairs: (String, String)*)(body: => Unit): Unit = {
    val olds = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("SQL reads plan a native BatchScan (columnar, results match Scala path)") {
    warehouse
    spark.sql("CREATE TABLE bs.db.nat (k INT, v STRING) PARTITIONED BY (k)")
    spark.sql("INSERT INTO bs.db.nat VALUES (1,'a'),(1,'b'),(2,'c'),(3,'d')")
    val df = spark.sql("SELECT k, v FROM bs.db.nat WHERE k <= 2 ORDER BY k, v")
    assert(df.collect().map(r => (r.getInt(0), r.getString(1))).toSeq ===
      Seq((1, "a"), (1, "b"), (2, "c")))
    val plan = ColumnBridge.executedPlan(df).toString // post-AQE final plan
    assert(plan.contains("BatchScan"), s"expected native BatchScan in:\n$plan")
    assert(!plan.contains("RowDataSourceScan"), s"V1 fallback still used:\n$plan")
    assert(plan.contains("ColumnarToRow"), s"expected vectorized read in:\n$plan")
  }

  /** The executed plan of `df` reads through the native scan and carries
    * none of the union/anti-join read shape. */
  private def assertNativeOnly(plan: String, what: String): Unit = {
    assert(plan.contains("GraftBatchScan"), s"$what: expected GraftBatchScan in:\n$plan")
    assertNoV1Shape(plan, what)
  }

  private def assertNoV1Shape(plan: String, what: String): Unit =
    Seq("RowDataSourceScan", "LeftAnti", "regexp_replace").foreach { bad =>
      assert(!plan.contains(bad), s"$what: unexpected $bad in:\n$plan")
    }

  test("Scala-API reads of a MoR table plan only GraftBatchScan (toDF, appendsBetween, IVF probe)") {
    import graft.meta.expr.Exprs._
    import graft.meta.model.TableProperties
    import spark.implicits._
    val loc = java.nio.file.Files.createTempDirectory("graft-bs-mor-").toString + "/t"
    def rows(from: Long, to: Long) = spark.range(from, to)
      .select(col("id").as("k"), (col("id") % 7).as("g"), col("id").cast("string").as("v"))
    val t = IceTable.create(spark, loc, graft.meta.Schema.fresh(rows(0, 1).schema))
    t.append(rows(0, 200).repartition(2))
    t.deleteMergeOnRead(lessThan("k", 10L)) // position-delete file
    t.updateProperties(Map(TableProperties.DeleteVectors -> "true"))
    t.deleteMergeOnRead(and(greaterThanOrEqual("k", 10L), lessThan("k", 20L))) // DVs
    t.addEqualityDeletes(Seq(3L).toDF("g"), Seq("g"))
    val before = t.currentSnapshot.get.snapshotId
    t.append(rows(200, 210))
    val deletes = t.newScan().planDeletes().map(_._1.content).toSet
    assert(deletes === Set(graft.meta.model.FileContent.PositionDeletes,
      graft.meta.model.FileContent.DeletionVectors,
      graft.meta.model.FileContent.EqualityDeletes))
    val visible = rows(0, 200).filter(col("k") >= 20 && col("g") =!= 3).count() + 10

    val all = t.newScan().toDF
    assert(all.collect().length === visible)
    assertNativeOnly(ColumnBridge.executedPlan(all).toString, "toDF")
    val projected = t.newScan().filter(greaterThan("k", 100L)).select("v").toDF
    assert(projected.collect().length ===
      rows(101, 200).filter(col("g") =!= 3).count() + 10)
    assertNativeOnly(ColumnBridge.executedPlan(projected).toString, "filtered toDF")
    val appended = t.appendsBetween(before, t.currentSnapshot.get.snapshotId)
    assert(appended.collect().length === 10)
    assertNativeOnly(ColumnBridge.executedPlan(appended).toString, "appendsBetween")

    // IVF probe over an index table carrying a position delete: the
    // candidate read runs inside the probe, so its plan is captured
    val embs = spark.read.parquet(s"${SparkSessionHelper.sf0001}/embeddings.parquet")
    val ivfLoc = java.nio.file.Files.createTempDirectory("graft-bs-ivf-").toString + "/idx"
    val idx = graft.llm.IvfIndex.build(spark, embs, "vec_id", "embedding", ivfLoc, nLists = 4)
    val ids = embs.select("vec_id").orderBy("vec_id").limit(3).collect().map(_.getLong(0))
    idx.table.deleteMergeOnRead(equalTo("vec_id", ids.last))
    assert(idx.table.newScan().planDeletes().nonEmpty)
    val plans = scala.collection.mutable.ArrayBuffer[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, duration: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ex: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val hits = idx.topKQuantized(ids.take(2).toSeq, 3, nProbe = 4).collect()
      assert(hits.nonEmpty && !hits.exists(_.getAs[Long]("neighbor_id") == ids.last))
      // listener events are async: wait for the candidate scan's plan
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def scanned = plans.synchronized(plans.filter(_.contains("GraftBatchScan")).toSeq)
      while (scanned.isEmpty && System.nanoTime() < deadline) Thread.sleep(100)
      assert(scanned.nonEmpty, s"no GraftBatchScan among the probe's plans: $plans")
      plans.synchronized(plans.toSeq).foreach(assertNoV1Shape(_, "IVF probe"))
    } finally spark.listenerManager.unregister(listener)
  }

  test("a file larger than split-size fans out into multiple byte-range tasks") {
    warehouse
    spark.sql("CREATE TABLE bs.db.bigfile (k BIGINT, v STRING)")
    val t = IceTable.load(spark, s"$warehouse/db/bigfile")
    // one file, ~hundreds of KB
    t.append(lineitem.select(col("l_orderkey").as("k"),
      concat_ws("|", col("l_returnflag"), col("l_shipdate"),
        col("l_extendedprice")).as("v")).coalesce(1))
    val files = t.newScan().planFiles()
    assert(files.size === 1)
    val fileSize = files.head.file.fileSizeBytes
    val split = fileSize / 4
    val df = spark.read.format("graft").option("split-size", split.toString)
      .load(s"$warehouse/db/bigfile")
    assert(df.rdd.getNumPartitions >= 3,
      s"one $fileSize-byte file with split-size=$split should fan out, got " +
        s"${df.rdd.getNumPartitions} partitions")
    // byte ranges snap to row groups: no row lost or duplicated
    assert(df.count() === lineitem.count())
    assert(df.agg(sum("k")).head.getLong(0) ===
      lineitem.agg(sum("l_orderkey")).head.getLong(0))
  }

  test("merge-on-read equality deletes stay on the native columnar scan") {
    warehouse
    spark.sql("CREATE TABLE bs.db.mor (k INT, v STRING)")
    spark.sql("INSERT INTO bs.db.mor VALUES (1,'a'),(2,'b'),(3,'c')")
    val t = IceTable.load(spark, s"$warehouse/db/mor")
    import spark.implicits._
    t.addEqualityDeletes(Seq(2).toDF("k"), Seq("k"))
    val df = spark.sql("SELECT k, v FROM bs.db.mor ORDER BY k")
    assert(df.collect().map(_.getInt(0)).toSeq === Seq(1, 3))
    val plan = ColumnBridge.executedPlan(df).toString // post-AQE final plan
    assert(plan.contains("BatchScan"), s"MoR table lost the native batch scan:\n$plan")
    assert(plan.contains("ColumnarToRow"), s"MoR read is not vectorized:\n$plan")
    // eq-delete key column (k) not in the projection: probe column is read
    // and trimmed invisibly
    assert(spark.sql("SELECT v FROM bs.db.mor ORDER BY v")
      .collect().map(_.getString(0)).toSeq === Seq("a", "c"))
  }

  test("merge-on-read position deletes stay columnar across a second append") {
    warehouse
    spark.sql("CREATE TABLE bs.db.morpos (k INT, v STRING)")
    val t = IceTable.load(spark, s"$warehouse/db/morpos")
    import spark.implicits._
    // ONE data file: a whole-file delete would go metadata-only and write no
    // delete files; a single-key delete in a multi-key file must be positional
    t.append(Seq((1, "a"), (2, "b"), (3, "c"), (4, "d")).toDF("k", "v").coalesce(1))
    spark.sql("ALTER TABLE bs.db.morpos SET TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    spark.sql("DELETE FROM bs.db.morpos WHERE k = 2")
    assert(t.newScan().planDeletes().nonEmpty, "expected live position-delete files")
    // second append AFTER the delete: its file is in a different
    // applicability class (the delete must not touch it)
    spark.sql("INSERT INTO bs.db.morpos VALUES (2,'e')")
    val df = spark.sql("SELECT k, v FROM bs.db.morpos ORDER BY k, v")
    assert(df.collect().map(r => (r.getInt(0), r.getString(1))).toSeq ===
      Seq((1, "a"), (2, "e"), (3, "c"), (4, "d")))
    val plan = ColumnBridge.executedPlan(df).toString // post-AQE final plan
    assert(plan.contains("BatchScan"), s"MoR table lost the native batch scan:\n$plan")
    assert(plan.contains("ColumnarToRow"), s"MoR read is not vectorized:\n$plan")
    // count(*) with zero projected columns still probes positions
    assert(spark.sql("SELECT count(*) FROM bs.db.morpos").head.getLong(0) === 4L)
  }

  test("runtime V2 filter prunes whole files before read") {
    warehouse
    val schema = graft.meta.Schema.fresh(
      spark.range(0).selectExpr("cast(id as int) k", "cast(id as string) v").schema)
    val t = IceTable.create(spark, s"$warehouse/db/rt",
      schema, graft.meta.PartitionSpec.builderFor(schema).identity("k").build())
    import spark.implicits._
    t.append((1 to 40).map(i => (i % 4, s"v$i")).toDF("k", "v"))

    val sb = new GraftSparkTable(t, "bs.db.rt")
      .newScanBuilder(CaseInsensitiveStringMap.empty())
    val scan = sb.build().asInstanceOf[GraftBatchScan]
    val before = scan.toBatch.planInputPartitions().length
    assert(before >= 4, "expected at least one task per identity partition")
    scan.filter(Array(new Predicate("=",
      Array(Expressions.column("k"), Expressions.literal(2)))))
    val after = scan.toBatch.planInputPartitions().length
    assert(after < before, s"runtime filter did not prune: $before -> $after")
    // and the filtered partitions only hold k=2 files
    val rows = spark.sql("SELECT * FROM bs.db.rt WHERE k = 2").count()
    assert(rows === 10)
  }

  test("LIMIT pushdown plans only the file prefix covering the limit") {
    import org.apache.spark.sql.connector.read.SupportsPushDownLimit
    warehouse
    import spark.implicits._
    val t = IceTable.create(spark, s"$warehouse/db/lim",
      graft.meta.Schema.fresh(Seq(0L).toDF("id").schema))
    // five single-file appends of 10 rows each
    (0 until 5).foreach(i =>
      t.append(((i * 10L) until (i * 10L + 10)).toDF("id").coalesce(1)))
    def builder() = new GraftSparkTable(t, "bs.db.lim")
      .newScanBuilder(CaseInsensitiveStringMap.empty())
    val sb = builder()
    assert(sb.asInstanceOf[SupportsPushDownLimit].pushLimit(10))
    val scan = sb.build().asInstanceOf[GraftBatchScan]
    assert(scan.toBatch.planInputPartitions().length === 1,
      "LIMIT 10 over 5x10-row files must plan exactly one file")
    // a pushed filter makes record counts over-estimates: push declined
    val sb2 = builder()
    sb2.asInstanceOf[org.apache.spark.sql.connector.read.SupportsPushDownFilters]
      .pushFilters(Array(org.apache.spark.sql.sources.GreaterThan("id", 45L)))
    assert(!sb2.asInstanceOf[SupportsPushDownLimit].pushLimit(3))
    // end to end: SQL LIMIT stays exact
    assert(spark.sql("SELECT * FROM bs.db.lim LIMIT 7").count() === 7)
    assert(spark.sql("SELECT * FROM bs.db.lim").count() === 50)
    // merge-on-read deletes hide rows: push declined
    spark.sql("ALTER TABLE bs.db.lim SET TBLPROPERTIES" +
      "('write.delete.mode'='merge-on-read')")
    spark.sql("DELETE FROM bs.db.lim WHERE id = 3")
    val t2 = IceTable.load(spark, s"$warehouse/db/lim")
    val sb3 = new GraftSparkTable(t2, "bs.db.lim")
      .newScanBuilder(CaseInsensitiveStringMap.empty())
    assert(!sb3.asInstanceOf[SupportsPushDownLimit].pushLimit(3))
    assert(spark.sql("SELECT * FROM bs.db.lim LIMIT 49").count() === 49)
  }

  test("dynamic partition pruning flows into the scan on a star join") {
    warehouse
    spark.sql("CREATE TABLE bs.db.fact (k INT, amt DOUBLE) PARTITIONED BY (k)")
    spark.sql("INSERT INTO bs.db.fact SELECT id % 8, id * 1.0 FROM range(800)")
    spark.sql("CREATE TABLE bs.db.dim (k INT, name STRING)")
    spark.sql("INSERT INTO bs.db.dim SELECT id, concat('n', id) FROM range(8)")

    val events = scala.collection.mutable.ArrayBuffer[Listeners.ScanEvent]()
    Listeners.register(classOf[Listeners.ScanEvent]) { e =>
      if (e.tableLocation.endsWith("db/fact")) events.synchronized { events += e }
    }
    val df = spark.sql(
      """SELECT f.k, sum(f.amt) FROM bs.db.fact f
        |JOIN bs.db.dim d ON f.k = d.k
        |WHERE d.name = 'n3' GROUP BY f.k""".stripMargin)
    val rows = df.collect()
    assert(rows.length === 1 && rows.head.getInt(0) === 3)
    val planned = events.synchronized(events.map(_.plannedFiles).toSeq)
    // the runtime-filtered re-plan must see fewer files than the full scan
    assert(planned.exists(_ < planned.max),
      s"no runtime-pruned re-plan observed (events: $planned)")
  }

  test("storage-partitioned join: no shuffle when both sides share the partition key") {
    warehouse
    spark.sql("CREATE TABLE bs.db.spj_a (k INT, a DOUBLE) PARTITIONED BY (k)")
    spark.sql("CREATE TABLE bs.db.spj_b (k INT, b STRING) PARTITIONED BY (k)")
    spark.sql("INSERT INTO bs.db.spj_a SELECT id % 4, id * 1.0 FROM range(100)")
    spark.sql("INSERT INTO bs.db.spj_b SELECT id % 4, concat('x', id) FROM range(40)")
    withConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val df = spark.sql(
        "SELECT a.k, count(*) FROM bs.db.spj_a a JOIN bs.db.spj_b b ON a.k = b.k GROUP BY a.k")
      val plan = ColumnBridge.executedPlan(df).toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"expected storage-partitioned join without shuffle:\n$plan")
      // 25 a-rows × 10 b-rows per key × 4 keys
      assert(df.collect().map(_.getLong(1)).sum === 1000L)
    }
  }

  test("storage-partitioned join on BUCKET(8) specs: no exchange on either side") {
    warehouse
    // two tables bucket-partitioned the same way: the scans report
    // KeyGroupedPartitioning(bucket(8, k)) and Spark resolves the bucket
    // function through the catalog's FunctionCatalog — compatible key
    // groups join co-located, no Exchange on either side (r11; previously
    // only identity specs reported partitioning)
    spark.sql("CREATE TABLE bs.db.spjb_a (k BIGINT, a DOUBLE)" +
      " PARTITIONED BY (bucket(8, k))")
    spark.sql("CREATE TABLE bs.db.spjb_b (k BIGINT, b STRING)" +
      " PARTITIONED BY (bucket(8, k))")
    spark.sql("INSERT INTO bs.db.spjb_a SELECT id, id * 1.0 FROM range(400)")
    spark.sql("INSERT INTO bs.db.spjb_b SELECT id % 100, concat('x', id) FROM range(200)")
    val q = "SELECT a.k, b.b FROM bs.db.spjb_a a JOIN bs.db.spjb_b b ON a.k = b.k"
    // reference rows from the default (exchange-based) plan
    val expected = spark.sql(q).collect().map(_.toString).sorted
    withConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val df = spark.sql(q)
      val plan = ColumnBridge.executedPlan(df).toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"expected bucket storage-partitioned join without shuffle:\n$plan")
      val got = df.collect().map(_.toString).sorted
      assert(got.length === 200) // keys 0..99 × (1 a-row × 2 b-rows)
      assert(got === expected)
    }
  }

  test("storage-partitioned join on days(ts) and truncate specs: no exchange") {
    warehouse
    // day-partitioned time series on BOTH sides: scans report
    // KeyGroupedPartitioning(days(ts)) and Spark resolves the days
    // function through the FunctionCatalog — the co-partitioned
    // fact⋈fact time-series join plans with no exchange (r12;
    // previously only identity and bucket specs reported partitioning)
    spark.sql("CREATE TABLE bs.db.spjd_a (ts TIMESTAMP, a DOUBLE)" +
      " PARTITIONED BY (days(ts))")
    spark.sql("CREATE TABLE bs.db.spjd_b (ts TIMESTAMP, b STRING)" +
      " PARTITIONED BY (days(ts))")
    spark.sql("INSERT INTO bs.db.spjd_a SELECT" +
      " timestamp'2024-03-01 00:00:00' + make_interval(0,0,0,0,id%96,0,0), id*1.0" +
      " FROM range(400)")
    spark.sql("INSERT INTO bs.db.spjd_b SELECT" +
      " timestamp'2024-03-01 00:00:00' + make_interval(0,0,0,0,id%96,0,0), concat('x',id)" +
      " FROM range(200)")
    val q = "SELECT a.ts, a.a, b.b FROM bs.db.spjd_a a JOIN bs.db.spjd_b b ON a.ts = b.ts"
    val expected = spark.sql(q).collect().map(_.toString).sorted
    withConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val df = spark.sql(q)
      val plan = ColumnBridge.executedPlan(df).toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"expected days-partitioned storage join without shuffle:\n$plan")
      val got = df.collect().map(_.toString).sorted
      assert(got.nonEmpty && got === expected)
    }

    // truncate[10] spec joins co-located the same way
    spark.sql("CREATE TABLE bs.db.spjt_a (k BIGINT, a DOUBLE)" +
      " PARTITIONED BY (truncate(10, k))")
    spark.sql("CREATE TABLE bs.db.spjt_b (k BIGINT, b STRING)" +
      " PARTITIONED BY (truncate(10, k))")
    spark.sql("INSERT INTO bs.db.spjt_a SELECT id % 70, id * 1.0 FROM range(300)")
    spark.sql("INSERT INTO bs.db.spjt_b SELECT id % 70, concat('x', id) FROM range(140)")
    val qt = "SELECT a.k, a.a, b.b FROM bs.db.spjt_a a JOIN bs.db.spjt_b b ON a.k = b.k"
    val expectedT = spark.sql(qt).collect().map(_.toString).sorted
    withConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val df = spark.sql(qt)
      val plan = ColumnBridge.executedPlan(df).toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"expected truncate storage join without shuffle:\n$plan")
      assert(df.collect().map(_.toString).sorted === expectedT)
    }
  }

  test("SPJ groups MULTIPLE files per bucket key into one partition") {
    warehouse
    // distribution-mode none + several inserts → many files per bucket:
    // Spark must merge same-key input partitions (HasPartitionKey allows
    // several per key), not treat each file as its own key group
    spark.sql("CREATE TABLE bs.db.spjm_a (k BIGINT, a DOUBLE)" +
      " PARTITIONED BY (bucket(4, k))" +
      " TBLPROPERTIES ('write.distribution-mode'='none')")
    spark.sql("CREATE TABLE bs.db.spjm_b (k BIGINT, b STRING)" +
      " PARTITIONED BY (bucket(4, k))" +
      " TBLPROPERTIES ('write.distribution-mode'='none')")
    (1 to 3).foreach { i =>
      spark.sql(s"INSERT INTO bs.db.spjm_a SELECT id, id * $i.0 FROM range(60)")
    }
    spark.sql("INSERT INTO bs.db.spjm_b SELECT id % 30, concat('x', id) FROM range(60)")
    val t = IceTable.load(spark, s"$warehouse/db/spjm_a")
    val perBucket = t.newScan().planFiles().groupBy(_.file.partition).map(_._2.size)
    assert(perBucket.exists(_ > 1),
      s"setup needs multiple files per bucket, got $perBucket")
    val q = "SELECT a.k, a.a, b.b FROM bs.db.spjm_a a JOIN bs.db.spjm_b b ON a.k = b.k"
    val expected = spark.sql(q).collect().map(_.toString).sorted
    withConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val df = spark.sql(q)
      val plan = ColumnBridge.executedPlan(df).toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"expected storage-partitioned join:\n$plan")
      assert(df.collect().map(_.toString).sorted === expected)
    }
  }

  test("SPJ stays CORRECT under mismatched bucket sets and under AQE") {
    warehouse
    // one side holds only a subset of the buckets: Spark must either pad
    // the missing key groups (pushPartValues) or fall back to a shuffle —
    // both are fine, silently dropping rows is not. This fences the
    // HasPartitionKey grouping against the nastiest SPJ failure mode.
    spark.sql("CREATE TABLE bs.db.spjc_a (k BIGINT, a DOUBLE)" +
      " PARTITIONED BY (bucket(8, k))")
    spark.sql("CREATE TABLE bs.db.spjc_b (k BIGINT, b STRING)" +
      " PARTITIONED BY (bucket(8, k))")
    spark.sql("INSERT INTO bs.db.spjc_a SELECT id, id * 1.0 FROM range(400)")
    // only k ∈ {0, 1}: at most two of eight buckets materialize
    spark.sql("INSERT INTO bs.db.spjc_b SELECT id % 2, concat('x', id) FROM range(40)")
    val q = "SELECT a.k, b.b FROM bs.db.spjc_a a JOIN bs.db.spjc_b b ON a.k = b.k"
    val expected = spark.sql(q).collect().map(_.toString).sorted
    assert(expected.length === 40) // k=0 and k=1 × 20 b-rows each
    for (pushPartValues <- Seq("true", "false"); aqe <- Seq("true", "false")) {
      withConf(
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> pushPartValues,
        "spark.sql.adaptive.enabled" -> aqe,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val got = spark.sql(q).collect().map(_.toString).sorted
        assert(got === expected,
          s"SPJ lost rows (pushPartValues=$pushPartValues, aqe=$aqe): " +
            s"${got.length} vs ${expected.length}")
      }
    }
  }

  test("SPJ across COMPATIBLE bucket counts: bucket(8) joins bucket(16) with no exchange") {
    warehouse
    // different-but-nesting bucket counts: the graft bucket function is a
    // ReducibleFunction, so Spark reduces the FINER side's stored ordinals
    // into the coarser key space ((h % 16) % 8 == h % 8) and co-locates
    // the join — previously this shape fell back to a full both-sides
    // exchange (the common 100TB case: co-bucketed tables sized years
    // apart end up with different bucket counts)
    spark.sql("CREATE TABLE bs.db.spjr_a (k BIGINT, a DOUBLE)" +
      " PARTITIONED BY (bucket(8, k))")
    spark.sql("CREATE TABLE bs.db.spjr_b (k BIGINT, b STRING)" +
      " PARTITIONED BY (bucket(16, k))")
    spark.sql("INSERT INTO bs.db.spjr_a SELECT id, id * 1.0 FROM range(400)")
    spark.sql("INSERT INTO bs.db.spjr_b SELECT id % 100, concat('x', id) FROM range(200)")
    val q = "SELECT a.k, b.b FROM bs.db.spjr_a a JOIN bs.db.spjr_b b ON a.k = b.k"
    val qRev = "SELECT a.k, b.b FROM bs.db.spjr_b b JOIN bs.db.spjr_a a ON a.k = b.k"
    // reference rows from the default (exchange-based) plan
    val expected = spark.sql(q).collect().map(_.toString).sorted
    assert(expected.length === 200)
    withConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      for (sql <- Seq(q, qRev)) { // reducer asked of either side
        val df = spark.sql(sql)
        val plan = ColumnBridge.executedPlan(df).toString
        assert(!plan.contains("Exchange hashpartitioning"),
          s"expected compatible-bucket storage-partitioned join:\n$plan")
        assert(df.collect().map(_.toString).sorted === expected)
      }
    }
    // non-nesting counts must NOT co-locate: values still correct via the
    // exchange fallback (the reducer returns null for 8 vs 12)
    spark.sql("CREATE TABLE bs.db.spjr_c (k BIGINT, b STRING)" +
      " PARTITIONED BY (bucket(12, k))")
    spark.sql("INSERT INTO bs.db.spjr_c SELECT id % 100, concat('x', id) FROM range(200)")
    val qc = "SELECT a.k, c.b FROM bs.db.spjr_a a JOIN bs.db.spjr_c c ON a.k = c.k"
    val expectedC = spark.sql(qc).collect().map(_.toString).sorted
    withConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      assert(spark.sql(qc).collect().map(_.toString).sorted === expectedC)
    }
  }

  test("SPJ one-side shuffle: a plain DataFrame joins a bucketed table with no exchange on the table side") {
    warehouse
    // v2.bucketing.shuffle.enabled: Spark shuffles the NON-key-grouped
    // side INTO the scan's reported KeyGroupedPartitioning (resolving the
    // bucket function through the FunctionCatalog) — the storage side
    // never moves. At 100 TB this is the fact-joins-fresh-delta shape:
    // shuffle the small new side, leave the big bucketed table in place.
    spark.sql("CREATE TABLE bs.db.spjs_a (k BIGINT, a DOUBLE)" +
      " PARTITIONED BY (bucket(8, k))")
    spark.sql("INSERT INTO bs.db.spjs_a SELECT id, id * 1.0 FROM range(400)")
    spark.range(200).selectExpr("id % 100 AS k", "concat('x', id) AS b")
      .createOrReplaceTempView("spjs_plain")
    val q = "SELECT a.k, p.b FROM bs.db.spjs_a a JOIN spjs_plain p ON a.k = p.k"
    val expected = spark.sql(q).collect().map(_.toString).sorted
    assert(expected.length === 200)
    withConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.shuffle.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val df = spark.sql(q)
      val plan = ColumnBridge.executedPlan(df).toString
      // the plain side shuffles INTO the scan's key-grouped layout via
      // the graft bucket function (Exchange keygroupedpartitioning over
      // the FunctionCatalog transform); without the feature BOTH sides
      // hash-exchange, and the storage side must never re-shuffle
      assert(!plan.contains("Exchange hashpartitioning"),
        s"expected no hash exchange (storage side stays put):\n$plan")
      val kgExchanges = "Exchange keygroupedpartitioning".r.findAllIn(plan).size
      assert(kgExchanges === 1,
        s"expected exactly the plain side to key-group shuffle:\n$plan")
      assert(df.collect().map(_.toString).sorted === expected)
    }
  }

  test("aggregation over the reported partitioning: GROUP BY partition key plans no exchange") {
    warehouse
    // the scan's KeyGroupedPartitioning satisfies the aggregate's
    // ClusteredDistribution, so a partition-keyed GROUP BY runs
    // exchange-free — at 100 TB a per-partition rollup over a
    // day-partitioned fact is a map-side-only job
    spark.sql("CREATE TABLE bs.db.aggp (k INT, v DOUBLE) PARTITIONED BY (k)")
    spark.sql("INSERT INTO bs.db.aggp SELECT id % 6, id * 1.0 FROM range(600)")
    val q = "SELECT k, count(*) AS n, round(sum(v), 2) AS s FROM bs.db.aggp GROUP BY k"
    val expected = spark.sql(q).collect().map(_.toString).sorted
    withConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.adaptive.enabled" -> "false") {
      val df = spark.sql(q)
      val plan = ColumnBridge.executedPlan(df).toString
      assert(!plan.contains("Exchange"),
        s"expected a partition-keyed GROUP BY without any exchange:\n$plan")
      assert(df.collect().map(_.toString).sorted === expected)
    }
  }

  test("SPJ one-side shuffle composes with days(ts): fresh delta shuffles into the day layout") {
    warehouse
    // the time-series twin of the bucket one-side-shuffle pin: a plain
    // (unpartitioned) delta joins a day-partitioned table — the plain
    // side key-group shuffles via the catalog's days() function, the
    // stored side never moves
    spark.sql("CREATE TABLE bs.db.spjds (ts TIMESTAMP, a DOUBLE)" +
      " PARTITIONED BY (days(ts))")
    spark.sql("INSERT INTO bs.db.spjds SELECT" +
      " timestamp'2024-03-01 00:00:00' + make_interval(0,0,0,0,id%96,0,0), id*1.0" +
      " FROM range(400)")
    spark.sql("SELECT timestamp'2024-03-01 00:00:00' +" +
      " make_interval(0,0,0,0,id%96,0,0) AS ts, concat('x', id) AS b FROM range(96)")
      .createOrReplaceTempView("spjds_plain")
    val q = "SELECT a.ts, a.a, p.b FROM bs.db.spjds a JOIN spjds_plain p ON a.ts = p.ts"
    val expected = spark.sql(q).collect().map(_.toString).sorted
    assert(expected.nonEmpty)
    withConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.shuffle.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val df = spark.sql(q)
      val plan = ColumnBridge.executedPlan(df).toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"expected no hash exchange (storage side stays put):\n$plan")
      val kgExchanges = "Exchange keygroupedpartitioning".r.findAllIn(plan).size
      assert(kgExchanges === 1,
        s"expected exactly the plain side to key-group shuffle:\n$plan")
      assert(df.collect().map(_.toString).sorted === expected)
    }
  }

  test("SPJ stays CORRECT under partially-clustered distribution (skew replication)") {
    warehouse
    // partiallyClusteredDistribution replicates the small side's key
    // groups so a skewed big side splits across tasks — values must be
    // identical to the plain co-located plan, with and without the
    // compatible-transform reducer in play
    spark.sql("CREATE TABLE bs.db.spjp_a (k BIGINT, a DOUBLE)" +
      " PARTITIONED BY (bucket(4, k))" +
      " TBLPROPERTIES ('write.distribution-mode'='none')")
    spark.sql("CREATE TABLE bs.db.spjp_b (k BIGINT, b STRING)" +
      " PARTITIONED BY (bucket(8, k))")
    // skew: k=0 carries 30x the rows, written across several files
    (1 to 3).foreach { i =>
      spark.sql(s"INSERT INTO bs.db.spjp_a SELECT CASE WHEN id < 90 THEN 0" +
        s" ELSE id END, id * $i.0 FROM range(120)")
    }
    spark.sql("INSERT INTO bs.db.spjp_b SELECT id % 40, concat('x', id) FROM range(80)")
    val q = "SELECT a.k, a.a, b.b FROM bs.db.spjp_a a JOIN bs.db.spjp_b b ON a.k = b.k"
    val expected = spark.sql(q).collect().map(_.toString).sorted
    for (partial <- Seq("true", "false")) {
      withConf(
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
        "spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled" -> "true",
        "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled" -> partial,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false") {
        val got = spark.sql(q).collect().map(_.toString).sorted
        assert(got === expected,
          s"partiallyClustered=$partial lost rows: ${got.length} vs ${expected.length}")
      }
    }
  }

  test("SPJ + reported ordering: co-bucketed SORTED tables merge-join with no exchange and no sort") {
    warehouse
    // the full prize at 100 TB: bucket partitioning removes the exchange
    // (SPJ), the write sort order removes the SMJ's local sorts
    // (SupportsReportOrdering — each single-file partition streams out in
    // write-layout order)
    spark.sql("CREATE TABLE bs.db.spjo_a (k BIGINT, a DOUBLE)" +
      " PARTITIONED BY (bucket(4, k))")
    spark.sql("CREATE TABLE bs.db.spjo_b (k BIGINT, b STRING)" +
      " PARTITIONED BY (bucket(4, k))")
    spark.sql("ALTER TABLE bs.db.spjo_a WRITE ORDERED BY k")
    spark.sql("ALTER TABLE bs.db.spjo_b WRITE ORDERED BY k")
    spark.sql("INSERT INTO bs.db.spjo_a SELECT id, id * 1.0 FROM range(400)")
    spark.sql("INSERT INTO bs.db.spjo_b SELECT id % 100, concat('x', id) FROM range(200)")
    val q = "SELECT a.k, b.b FROM bs.db.spjo_a a JOIN bs.db.spjo_b b ON a.k = b.k"
    val expected = spark.sql(q).collect().map(_.toString).sorted
    assert(expected.length === 200)
    withConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.sorting.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val df = spark.sql(q)
      val plan = ColumnBridge.executedPlan(df).toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"expected storage-partitioned join:\n$plan")
      assert(!plan.contains("Sort ["),
        s"expected the reported ordering to elide both sorts:\n$plan")
      assert(df.collect().map(_.toString).sorted === expected)
    }
    // files NOT written under the current order must NOT report ordering:
    // set the order only AFTER an unsorted insert — the scan must keep
    // the Sort (stale sortOrderId fence, wrong results otherwise)
    spark.sql("CREATE TABLE bs.db.spjo_c (k BIGINT, b STRING)" +
      " PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO bs.db.spjo_c SELECT (id * 37) % 100, concat('y', id) FROM range(200)")
    spark.sql("ALTER TABLE bs.db.spjo_c WRITE ORDERED BY k")
    val qc = "SELECT a.k, c.b FROM bs.db.spjo_a a JOIN bs.db.spjo_c c ON a.k = c.k"
    val expectedC = spark.sql(qc).collect().map(_.toString).sorted
    withConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.sorting.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val df = spark.sql(qc)
      val plan = ColumnBridge.executedPlan(df).toString
      assert(plan.contains("Sort ["),
        s"pre-order files must keep the sort (stale sortOrderId):\n$plan")
      assert(df.collect().map(_.toString).sorted === expectedC)
    }
  }

  test("reported ordering stays CORRECT under random inserts, deletes, compactions") {
    warehouse
    // the riskiest failure mode of SupportsReportOrdering is a FALSE
    // ordering (an SMJ on unsorted input silently drops matches), so this
    // fuzz drives the mutation ops that change file layout — appends,
    // CoW deletes, bin-pack compaction — and after every op compares the
    // ordered-join values against the plain exchange plan
    spark.sql("CREATE TABLE bs.db.spjf_a (k BIGINT, a BIGINT)" +
      " PARTITIONED BY (bucket(4, k))")
    spark.sql("CREATE TABLE bs.db.spjf_b (k BIGINT, b STRING)" +
      " PARTITIONED BY (bucket(4, k))")
    spark.sql("ALTER TABLE bs.db.spjf_a WRITE ORDERED BY k")
    spark.sql("ALTER TABLE bs.db.spjf_b WRITE ORDERED BY k")
    spark.sql("INSERT INTO bs.db.spjf_b SELECT id % 50, concat('x', id) FROM range(100)")
    val q = "SELECT a.k, a.a, b.b FROM bs.db.spjf_a a JOIN bs.db.spjf_b b ON a.k = b.k"
    val rnd = new scala.util.Random(4242)
    var inserted = 0
    (1 to 8).foreach { round =>
      rnd.nextInt(3) match {
        case 0 =>
          val base = inserted * 1000
          spark.sql(s"INSERT INTO bs.db.spjf_a SELECT (id * ${7 + rnd.nextInt(13)}) % 50," +
            s" id + $base FROM range(${20 + rnd.nextInt(40)})")
          inserted += 1
        case 1 if inserted > 0 =>
          spark.sql(s"DELETE FROM bs.db.spjf_a WHERE k = ${rnd.nextInt(50)}")
        case _ =>
          spark.sql("CALL bs.system.rewrite_data_files(table => 'db.spjf_a')")
      }
      val expected = spark.sql(q).collect().map(_.toString).sorted
      withConf(
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.sources.v2.bucketing.sorting.enabled" -> "true",
        "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false") {
        val got = spark.sql(q).collect().map(_.toString).sorted
        assert(got === expected,
          s"round $round: ordered plan lost/changed rows (${got.length} vs ${expected.length})")
      }
    }
    // sanity: the fuzz actually exercised the elided-sort plan at least
    // once — after a final compaction every bucket is one sorted file
    spark.sql("CALL bs.system.rewrite_data_files(table => 'db.spjf_a')")
    withConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.sorting.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val plan = ColumnBridge.executedPlan(spark.sql(q)).toString
      assert(plan.contains("SortMergeJoin") && !plan.contains("Sort ["),
        s"expected the compacted sorted table to elide the sorts:\n$plan")
    }
  }

  test("aggregate pushdown answers COUNT/MIN/MAX from metadata only") {
    warehouse
    spark.sql("CREATE TABLE bs.db.agg (k INT, s STRING, f DOUBLE)")
    spark.sql("INSERT INTO bs.db.agg VALUES (5,'a',1.0),(2,NULL,2.0),(9,'c',NULL)")
    spark.sql("INSERT INTO bs.db.agg VALUES (7,'d',4.0),(1,'e',5.0)")
    val df = spark.sql("SELECT count(*), count(s), min(k), max(k) FROM bs.db.agg")
    val plan = ColumnBridge.executedPlan(df).toString
    assert(plan.contains("LocalTableScan"),
      s"expected metadata-only local scan:\n$plan")
    assert(!plan.contains("BatchScan"), s"data files were scanned:\n$plan")
    val r = df.head()
    assert((r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)) === ((5L, 4L, 1, 9)))

    // truncated string bounds and NaN-able doubles must NOT push down
    val s = spark.sql("SELECT min(s) FROM bs.db.agg")
    assert(!ColumnBridge.executedPlan(s).toString.contains("LocalTableScan"))
    assert(s.head().getString(0) === "a")
    val f = spark.sql("SELECT max(f) FROM bs.db.agg")
    assert(!ColumnBridge.executedPlan(f).toString.contains("LocalTableScan"))
    assert(f.head().getDouble(0) === 5.0)

    // filters keep the real scan (pruning may answer it, but never the local row)
    val flt = spark.sql("SELECT count(*) FROM bs.db.agg WHERE k > 3")
    assert(!ColumnBridge.executedPlan(flt).toString.contains("LocalTableScan"))
    assert(flt.head().getLong(0) === 3L)
  }

  test("aggregate pushdown disabled by MoR deletes and by table property") {
    warehouse
    spark.sql("CREATE TABLE bs.db.aggmor (k INT)")
    spark.sql("INSERT INTO bs.db.aggmor VALUES (1),(2),(3)")
    val t = IceTable.load(spark, s"$warehouse/db/aggmor")
    import spark.implicits._
    t.addEqualityDeletes(Seq(2).toDF("k"), Seq("k"))
    val df = spark.sql("SELECT count(*) FROM bs.db.aggmor")
    assert(!ColumnBridge.executedPlan(df).toString.contains("LocalTableScan"))
    assert(df.head().getLong(0) === 2L)

    spark.sql("CREATE TABLE bs.db.aggoff (k INT) TBLPROPERTIES ('read.aggregate-pushdown.enabled'='false')")
    spark.sql("INSERT INTO bs.db.aggoff VALUES (1),(2)")
    val off = spark.sql("SELECT count(*) FROM bs.db.aggoff")
    assert(!ColumnBridge.executedPlan(off).toString.contains("LocalTableScan"))
    assert(off.head().getLong(0) === 2L)
  }

  test("sf0.001 lineitem: native scan equals DataFrame on a filtered projection") {
    warehouse
    spark.sql(s"CREATE TABLE bs.db.li AS SELECT * FROM parquet.`${SparkSessionHelper.sf0001}/lineitem.parquet`")
    val got = spark.sql(
      "SELECT l_orderkey, l_quantity FROM bs.db.li WHERE l_shipdate >= DATE '1995-01-01' AND l_discount > 0.05")
    val want = lineitem.filter(col("l_shipdate") >= "1995-01-01" && col("l_discount") > 0.05)
      .select("l_orderkey", "l_quantity")
    assert(got.count() === want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("incremental Scala scan does not apply older delete files to appends") {
    warehouse
    spark.sql("CREATE TABLE bs.db.incmor (k INT, v STRING) " +
      "TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')")
    spark.sql("INSERT INTO bs.db.incmor VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    val t = graft.table.IceTable.load(spark, warehouse + "/db/incmor")
    spark.sql("DELETE FROM bs.db.incmor WHERE k = 2") // position-delete file
    val s2 = t.currentSnapshot.get.snapshotId
    spark.sql("INSERT INTO bs.db.incmor VALUES (2, 'again')")
    val s3 = t.currentSnapshot.get.snapshotId
    // the re-appended k=2 row is newer than the delete and must survive —
    // a seq-0 planned entry would wrongly match the older delete file
    val rows = t.newScan().appendsBetween(s2, s3).toDF
      .collect().map(r => (r.getInt(0), r.getString(1)))
    assert(rows.toSeq === Seq((2, "again")))
  }

  test("end-snapshot-id without start-snapshot-id is rejected") {
    warehouse
    spark.sql("CREATE TABLE bs.db.incend (k INT)")
    spark.sql("INSERT INTO bs.db.incend VALUES (1)")
    val e = intercept[Exception] {
      spark.read.format("graft").option("end-snapshot-id", "123")
        .load(warehouse + "/db/incend").collect()
    }
    assert(e.getMessage.contains("start-snapshot-id"))
  }

  test("open-file cost bounds tiny-file packing") {
    warehouse
    spark.sql("CREATE TABLE bs.db.pack (k INT)")
    (1 to 8).foreach(i => spark.sql(s"INSERT INTO bs.db.pack VALUES ($i)"))
    def parts(): Int =
      spark.read.format("graft").load(warehouse + "/db/pack").rdd.getNumPartitions
    // default: 8 tiny files × 4 MiB open cost = 32 MiB < 128 MiB target → 1 task
    assert(parts() === 1)
    // an 8 MiB target fits two 4 MiB-weighted files per task → 4 tasks:
    // byte-greedy packing would still cram all 8 into one task and make
    // per-file open cost the straggler
    spark.sql("ALTER TABLE bs.db.pack SET TBLPROPERTIES " +
      "('read.split.target-size' = '8388608')")
    assert(parts() === 4)
    // with open cost off the same 8 tiny files pack into one task again
    spark.sql("ALTER TABLE bs.db.pack SET TBLPROPERTIES " +
      "('read.split.open-file-cost' = '1')")
    assert(parts() === 1)
  }

  test("snapshot-property write options land in the commit summary") {
    warehouse
    spark.sql("CREATE TABLE bs.db.sp (k INT)")
    spark.range(3).selectExpr("CAST(id AS INT) k").writeTo("bs.db.sp")
      .option("snapshot-property.pipeline-run", "r-42")
      .option("snapshot-property.audit", "yes")
      .append()
    val t = graft.table.IceTable.load(spark, warehouse + "/db/sp")
    val s = t.currentSnapshot.get.summary
    assert(s.get("pipeline-run") === Some("r-42"))
    assert(s.get("audit") === Some("yes"))
  }

  test("incremental batch read plans only the files appended in the range") {
    warehouse
    spark.sql("CREATE TABLE bs.db.incr (k INT, v STRING)")
    spark.sql("INSERT INTO bs.db.incr VALUES (1, 'one')")
    val t = graft.table.IceTable.load(spark, warehouse + "/db/incr")
    val s1 = t.currentSnapshot.get.snapshotId
    spark.sql("INSERT INTO bs.db.incr VALUES (2, 'two'), (3, 'three')")
    val s2 = t.currentSnapshot.get.snapshotId
    spark.sql("INSERT INTO bs.db.incr VALUES (4, 'four')")
    // (s1, s2]: exactly the middle append
    val mid = spark.read.format("graft")
      .option("start-snapshot-id", s1.toString)
      .option("end-snapshot-id", s2.toString)
      .load(warehouse + "/db/incr")
    assert(mid.collect().map(_.getInt(0)).sorted === Array(2, 3))
    // end defaults to current: (s1, now] = everything after the first append
    val tail = spark.read.format("graft")
      .option("start-snapshot-id", s1.toString)
      .load(warehouse + "/db/incr")
    assert(tail.collect().map(_.getInt(0)).sorted === Array(2, 3, 4))
    // metrics pruning still applies within the range
    assert(mid.filter(org.apache.spark.sql.functions.col("k") === 2)
      .collect().map(_.getString(1)).toSeq === Seq("two"))
    // CoW rewrites in range are not re-reported as appends: a delete
    // snapshot is skipped entirely
    spark.sql("DELETE FROM bs.db.incr WHERE k = 2")
    val s4 = t.currentSnapshot.get.snapshotId
    val afterDelete = spark.read.format("graft")
      .option("start-snapshot-id", s2.toString)
      .option("end-snapshot-id", s4.toString)
      .load(warehouse + "/db/incr")
    assert(afterDelete.collect().map(_.getInt(0)).sorted === Array(4))
  }

  test("sampleFiles: deterministic file-level sample, DSv2 option, agg fence") {
    import graft.meta.Schema
    val loc = java.nio.file.Files.createTempDirectory("graft-sample-")
      .toString + "/t"
    val t = IceTable.create(spark, loc, Schema.fresh(lineitem.schema))
    // ~24 files: 8 appends x 3 partitions each
    (1 to 8).foreach(_ => t.append(lineitem.limit(600).repartition(3)))
    val all = t.newScan().planFiles()
    assert(all.size >= 16)
    val s1 = t.newScan().sampleFiles(0.5, seed = 7L).planFiles()
    val s2 = t.newScan().sampleFiles(0.5, seed = 7L).planFiles()
    // deterministic: same (files, seed) -> same selection
    assert(s1.map(_.file.path).toSet === s2.map(_.file.path).toSet)
    // a genuine subset in a sane binomial band, different under a new seed
    assert(s1.map(_.file.path).toSet.subsetOf(all.map(_.file.path).toSet))
    assert(s1.size > all.size / 5 && s1.size < all.size * 4 / 5,
      s"sampled ${s1.size} of ${all.size}")
    val s3 = t.newScan().sampleFiles(0.5, seed = 8L).planFiles()
    assert(s3.map(_.file.path).toSet !== s1.map(_.file.path).toSet)
    // composes with filters: sampled+filtered is a subset of filtered
    val filtered = t.newScan().filter(graft.meta.expr.Exprs.greaterThan(
      "l_quantity", 25.0)).planFiles().map(_.file.path).toSet
    val sf = t.newScan().filter(graft.meta.expr.Exprs.greaterThan(
        "l_quantity", 25.0)).sampleFiles(0.5, 7L).planFiles()
    assert(sf.map(_.file.path).toSet.subsetOf(filtered))
    // DSv2 option reads exactly the sampled files' rows
    val viaOption = spark.read.format("graft").option("sample-files", "0.5")
      .option("sample-seed", "7").load(loc)
    val expectRows = t.newScan().sampleFiles(0.5, 7L).toDF.count()
    assert(viaOption.count() === expectRows)
    assert(expectRows > 0 && expectRows < t.toDF.count())
    // aggregate pushdown is FENCED under sampling: a metadata-answered
    // count(*) would ignore the sample and return the full count
    val cnt = viaOption.agg(count(lit(1))).head().getLong(0)
    assert(cnt === expectRows, "agg pushdown leaked past the sample")
    // out-of-range fraction refuses
    intercept[IllegalArgumentException] { t.newScan().sampleFiles(1.5) }
  }
}
