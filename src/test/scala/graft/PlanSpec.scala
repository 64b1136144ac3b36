package graft

import graft.table.IceTable

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions: the properties that decide behavior at
  * 100× scale — codegen'd transform expressions, broadcastable merge joins,
  * scans restricted to planned files — pinned so regressions show up as test
  * failures, not benchmark drift. */
class PlanSpec extends AnyFunSuite {
  import SparkSessionHelper._

  private lazy val lineitem = Tables.load(spark, sf0001, "lineitem").cache()

  test("transform expressions compile under strict codegen (no fallback)") {
    val old = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      import graft.functions._
      val out = lineitem.select(
        ice_bucket(16, col("l_orderkey")).as("b"),
        ice_truncate(100, col("l_partkey")).as("t"),
        ice_days(col("l_shipdate")).as("d"))
        .agg(countDistinct(col("b")), max(col("t")), max(col("d"))).collect()
      assert(out.nonEmpty)
    } finally spark.conf.set("spark.sql.codegen.fallback", old)
  }

  test("merge rewrite join is broadcastable (no SortMergeJoin for a small source)") {
    val loc = java.nio.file.Files.createTempDirectory("graft-plan-").toString
    val t = IceTable.create(spark, s"$loc/t",
      graft.meta.Schema.fresh(lineitem.schema))
    t.append(lineitem)
    val events = scala.collection.mutable.ArrayBuffer[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, duration: Long): Unit =
        events.synchronized { events += qe.executedPlan.toString }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ex: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val src = lineitem.limit(500).withColumn("l_quantity", col("l_quantity") + 1)
        .dropDuplicates("l_orderkey", "l_linenumber")
      t.merge(src, Seq("l_orderkey", "l_linenumber")).whenMatchedUpdateAll().execute()
      Thread.sleep(2000) // listener events are async
      val plansWithJoin = events.synchronized(events.filter(_.contains("Join")).toSeq)
      assert(plansWithJoin.nonEmpty, "expected join plans from the merge")
      // the 500-row source must hash-broadcast, not sort-merge
      assert(plansWithJoin.exists(_.contains("BroadcastHashJoin")),
        "small merge source should broadcast")
    } finally spark.listenerManager.unregister(listener)
  }

  test("per-query top-k plans as a partial aggregate, not a window sort") {
    import spark.implicits._
    val cands = (1L to 4L).flatMap(q => (1L to 100L).map(n => (q, n, n / 100.0)))
      .toDF("query_id", "neighbor_id", "sim").repartition(5)
    val ranked = graft.llm.Similarity.topKPerQuery(cands, 3)
    val plan = ColumnBridge.executedPlan(ranked).toString
    // the whole point of BoundedTopK: a two-phase aggregate (map-side
    // partial heaps, then a k-bounded final merge) — NO window funnelling
    // every candidate row of a query through one sorted task
    assert(!plan.contains("Window"), s"window leaked back into top-k:\n$plan")
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"),
      s"expected an aggregate-based plan:\n$plan")
    assert(plan.toLowerCase.contains("partial"),
      s"expected map-side partial aggregation:\n$plan")
    assert(ranked.count() === 12)
  }

  test("tokenBudgetMix plans broadcast offsets and skew-proof windows") {
    import spark.implicits._
    val df = (1L to 500L)
      .map(i => (i, "dom" + (i % 3), (i % 5 + 1).toInt))
      .toDF("id", "dom", "tok")
    val out = graft.llm.Sampling.tokenBudgetMix(df, "id", "dom", col("tok"),
      budgetTokens = 200L, seed = 1L, rangeBuckets = 16)
    val plan = ColumnBridge.executedPlan(out).toString
    // the tiny offsets table must come back as a broadcast join, never a
    // corpus-wide SortMergeJoin
    assert(plan.contains("BroadcastHashJoin"),
      s"offsets join should broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"no corpus-side sort-merge join expected:\n$plan")
    // every corpus-sized window must partition by (domain, bucket) — a
    // domain-only window is the single-straggler-sort shape the two-phase
    // prefix sum exists to avoid. The offsets window runs over the TINY
    // aggregated table, recognizable by its partial-agg child.
    val windows = plan.split("\n").filter(_.contains("Window ["))
    assert(windows.exists(_.contains("__gf_b")),
      s"in-bucket window should key on (domain, bucket):\n$plan")
  }

  test("tfidfTopTerms runs the corpus tf pass once (exchange reuse)") {
    val docs = Tables.load(spark, sf0001, "documents")
    val out = graft.llm.TextOps.tfidfTopTerms(docs, "doc_id", "text", 3)
    out.collect() // reuse is an AQE runtime decision — pin the FINAL plan
    val plan = ColumnBridge.executedPlan(out).toString
    val finalPlan = plan.split("== Initial Plan ==")(0)
    // the df branch must read the join branch's token exchange, not
    // rescan the corpus: exactly one corpus FileScan in the executed plan
    assert("FileScan".r.findAllIn(finalPlan).length === 1,
      s"expected a single corpus scan:\n$finalPlan")
    assert(finalPlan.contains("ReusedExchange"),
      s"df branch should reuse the tf exchange:\n$finalPlan")
  }

  test("DSIR scoring plans a broadcast ratio join; selection is bounded top-k") {
    val docs = Tables.load(spark, sf0001, "documents")
    val sel = graft.llm.Sampling.selectByImportance(
      docs, "doc_id", "text", docs.filter(col("lang") === "fr"), "text",
      k = 10, buckets = 512)
    val plan = ColumnBridge.executedPlan(sel).toString
    assert(plan.contains("BroadcastHashJoin"),
      s"ratio table should broadcast:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"selection should be a bounded top-k, not a global sort:\n$plan")
  }

  test("contamination report keeps eval sets broadcast-side") {
    val docs = Tables.load(spark, sf0001, "documents")
    val evalSet = docs.filter(col("doc_id") % 50 === 0)
      .withColumn("bench", lit("b0"))
    val corpus = docs.filter(col("doc_id") % 50 =!= 0)
    val rep = graft.llm.Dedup.contaminationReport(
      corpus, "doc_id", "text", evalSet, "bench", "doc_id", "text", 3)
    val plan = ColumnBridge.executedPlan(rep).toString
    assert(plan.contains("BroadcastHashJoin"),
      s"eval hashes should broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus must never sort-merge against eval sets:\n$plan")
  }

  test("pruned scan reads only the planned files (parquet scan path count)") {
    val loc = java.nio.file.Files.createTempDirectory("graft-plan-").toString
    val schema = graft.meta.Schema.fresh(lineitem.schema)
    val spec = graft.meta.PartitionSpec.builderFor(schema)
      .identity("l_returnflag").build()
    val t = IceTable.create(spark, s"$loc/t", schema, spec)
    t.append(lineitem)
    val all = t.newScan().planFiles().size
    val scan = t.newScan().filter(graft.meta.expr.Exprs.equalTo("l_returnflag", "R"))
    val pruned = scan.planFiles().size
    assert(pruned < all)
    // the physical DataFrame reads exactly the pruned files, nothing more
    val df = scan.toDF
    df.collect()
    val executed = ColumnBridge.executedPlan(df) match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scannedFiles = executed.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }.collect { case s: graft.spark.GraftBatchScan =>
      s.planInputPartitions().toSeq.flatMap {
        case p: graft.spark.GraftInputPartition => p.files.map(_.path).toSeq
      }
    }.flatten.distinct
    assert(scannedFiles.size === pruned)
  }
}
