package graft.table

import java.nio.file.Files

import graft.SparkSessionHelper
import graft.meta.Schema

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Import binding: foreign files resolve through the historical schema (or
  * an explicit name mapping) whose names cover their physical columns, and
  * big imports read footers as a Spark job instead of a driver loop. */
class ImportSpec extends AnyFunSuite {
  import SparkSessionHelper._
  import spark.implicits._

  test("foreign files with pre-rename names bind to the historical schema") {
    val base = Files.createTempDirectory("graft-imp-").toString
    val extA = s"$base/ext_a"
    Seq((1L, "x"), (2L, "y")).toDF("k", "v").repartition(1).write.parquet(extA)
    val t = TableImport.importParquet(spark, extA, s"$base/t")
    t.updateSchema(_.renameColumn("v", "val"))
    // more foreign files arrive STILL using the old physical name — they
    // must bind to the pre-rename schema version, not null-fill `val`
    val extB = s"$base/ext_b"
    Seq((3L, "z")).toDF("k", "v").repartition(1).write.parquet(extB)
    val newPaths = t.io.listRecursive(extB).map(_.getPath.toString)
      .filter(_.endsWith(".parquet"))
    TableImport.addFiles(t, extB, newPaths)
    val rows = t.toDF.select("k", "val").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows === Set((1L, "x"), (2L, "y"), (3L, "z")))
    // metrics were keyed through the bound schema: pruning on the renamed
    // column still works against the imported files
    assert(t.newScan().filter(graft.meta.expr.Exprs.equalTo("val", "z"))
      .planFiles().size === 1)
  }

  test("explicit name mapping binds foreign names absent from table history") {
    val base = Files.createTempDirectory("graft-imp-").toString
    val t = IceTable.create(spark, s"$base/t",
      Schema.fresh(Seq.empty[(Long, String)].toDF("k", "v").schema))
    val ext = s"$base/ext"
    Seq((10L, "a"), (11L, "b")).toDF("ext_key", "ext_val")
      .repartition(1).write.parquet(ext)
    val paths = t.io.listRecursive(ext).map(_.getPath.toString)
      .filter(_.endsWith(".parquet"))
    val mapping = Map("ext_key" -> t.schema.fieldId("k"),
      "ext_val" -> t.schema.fieldId("v"))
    TableImport.addFiles(t, ext, paths, nameMapping = mapping)
    assert(t.toDF.select("k", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ===
      Set((10L, "a"), (11L, "b")))
    // the mapping is persisted as an immutable schema version, so later
    // table loads resolve the files identically
    val reloaded = IceTable.load(spark, s"$base/t")
    assert(reloaded.toDF.filter(col("v") === "b").count() === 1)
    assert(reloaded.meta.schemas.size === 2)
  }

  test("large imports read footers as a Spark job, not a driver loop") {
    val base = Files.createTempDirectory("graft-imp-").toString
    val ext = s"$base/ext"
    // > DistributedMetricsThreshold (64) files
    (1L to 700L).toDF("k").repartitionByRange(70, col("k")).write.parquet(ext)
    val t = IceTable.create(spark, s"$base/t",
      Schema.fresh(Seq.empty[Long].toDF("k").schema))
    val paths = t.io.listRecursive(ext).map(_.getPath.toString)
      .filter(_.endsWith(".parquet"))
    assert(paths.size > TableImport.DistributedMetricsThreshold)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      TableImport.addFiles(t, ext, paths)
      // job-start events are posted synchronously enough for local mode, but
      // give the bus a beat before asserting
      Thread.sleep(500)
      assert(jobs.get() >= 1, "expected the footer reads to run as a Spark job")
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(t.toDF.count() === 700)
    assert(t.newScan().planFiles().size === paths.size)
  }

  test("small imports stay driver-side (no Spark job for footer reads)") {
    val base = Files.createTempDirectory("graft-imp-").toString
    val ext = s"$base/ext"
    Seq(1L, 2L, 3L).toDF("k").repartition(2).write.parquet(ext)
    val t = IceTable.create(spark, s"$base/t",
      Schema.fresh(Seq.empty[Long].toDF("k").schema))
    val paths = t.io.listRecursive(ext).map(_.getPath.toString)
      .filter(_.endsWith(".parquet"))
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      TableImport.addFiles(t, ext, paths)
      Thread.sleep(500)
      assert(jobs.get() === 0, "small imports must not launch Spark jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(t.toDF.count() === 3)
  }
}
