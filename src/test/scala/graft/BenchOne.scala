package graft

import graft.meta.Schema
import graft.table.IceTable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only micro-bench: time a SUBSET of Bench's entries (same session
  * config, same noop-sink methodology, same warmup/sample counts) so an
  * optimization round can iterate on one entry without paying the full
  * protocol run. NOT part of the driver contract — BENCH numbers come from
  * [[Bench]] only.
  *
  * Usage: SPARK_DRIVER_MEM=90g sbt "Test/runMain graft.BenchOne <entry> [entry...]"
  */
object BenchOne {
  private def median(xs: Seq[Double]): Double = { val s = xs.sorted; s(s.size / 2) }
  private def time(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }
  private def consume(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.spark.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val loc = java.nio.file.Files.createTempDirectory("graft-benchone-").toString
    var idx = 0
    lazy val li = Tables.load(spark, sfDir, "lineitem")
    def fresh(): IceTable = {
      idx += 1
      IceTable.create(spark, s"$loc/t$idx", Schema.fresh(li.schema))
    }
    lazy val docsDf = Tables.load(spark, sfDir, "documents")
    lazy val embs = Tables.load(spark, sfDir, "embeddings")

    def run(label: String, warmups: Int, n: Int)(f: () => Double): Unit = {
      (1 to warmups).foreach(_ => f())
      val samples = (1 to n).map(_ => f())
      println(f"[benchone] $label med=${median(samples)}%.3f samples=" +
        samples.map(s => f"$s%.3f").mkString("[", ",", "]"))
    }
    def runQuery(label: String, q: String, warmups: Int = 2, n: Int = 5): Unit = {
      val fn = SparkEntry.queries(q)
      run(label, warmups, n)(() => time(consume(fn(spark, sfDir))))
    }

    val entries: Map[String, () => Unit] = Map(
      "q1_full_scan" -> (() => runQuery("q1_full_scan", "q1_scan_project")),
      "q4_pruned_read" -> (() => runQuery("q4_pruned_read", "q4_metrics_prune")),
      "q20_join_agg" -> (() => runQuery("q20_join_agg", "q20_join_agg")),
      // the pre-r13 q20 shape (no build-side hints), kept for A/B runs on
      // the same machine conditions
      "q20_old" -> (() => {
        val c = Tables.load(spark, sfDir, "customer")
        val o = Tables.load(spark, sfDir, "orders")
        val l = li
        val n = Tables.load(spark, sfDir, "nation")
        val q = c.join(o, c("c_custkey") === o("o_custkey"))
          .join(l, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .groupBy("n_name")
          .agg(round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast(org.apache.spark.sql.types.DecimalType(18, 4))), 2)
            .cast("double").as("revenue"))
          .orderBy(desc("revenue"), asc("n_name"))
        run("q20_old", 2, 5)(() => time(consume(q)))
      }),
      "q10_merge_shape" -> (() => runQuery("q10_merge_shape", "q10_merge_shape")),
      "llm_minhash_dedup" -> (() => runQuery("llm_minhash_dedup", "llm_dedup_minhash")),
      "llm_ann_topk" -> (() => runQuery("llm_ann_topk", "llm_ann_topk")),
      "llm_ann_lsh" -> (() => runQuery("llm_ann_lsh", "llm_ann_lsh")),
      "append_write" -> (() => run("append_write", 0, 3) { () =>
        val t = fresh(); time(t.append(li))
      }),
      "cow_merge" -> (() => {
        val src = li.limit((li.count() / 10).toInt)
          .withColumn("l_quantity", col("l_quantity") + 1)
          .dropDuplicates("l_orderkey", "l_linenumber")
        run("cow_merge", 0, 3) { () =>
          val t = fresh(); t.append(li)
          time(t.merge(src, Seq("l_orderkey", "l_linenumber"))
            .whenMatchedUpdateAll().execute())
        }
      }),
      // quantifies the dynamic-file-filter probe's share of cow_merge
      // (OPTIMIZATION_r13 "Not yet optimized" #2): same merge with the
      // probe forced OFF (threshold above the file count; the cardinality
      // guard rides the rewrite join's window count instead). At the bench
      // shape the source touches every file, so the probe excludes nothing
      // — its cost here is the pure price of the extra key-only pass.
      "cow_merge_noprobe" -> (() => {
        val src = li.limit((li.count() / 10).toInt)
          .withColumn("l_quantity", col("l_quantity") + 1)
          .dropDuplicates("l_orderkey", "l_linenumber")
        run("cow_merge_noprobe", 0, 3) { () =>
          val t = fresh(); t.append(li)
          t.updateProperties(Map("write.merge.probe.min-files" -> "1000000"))
          time(t.merge(src, Seq("l_orderkey", "l_linenumber"))
            .whenMatchedUpdateAll().execute())
        }
      }),
      "compaction" -> (() => run("compaction", 0, 3) { () =>
        val t = fresh()
        t.append(li)
        (1 to 4).foreach(_ => t.append(li.limit(20000).repartition(4)))
        time(t.rewriteDataFiles())
      }),
      // r14 attribution A/B (r13 verdict item 1): the same rewrite with
      // row-lineage preservation OFF — isolates what the lineage read
      // (metadata cols + path-keyed lookup) and the two extra written int64
      // columns cost the compaction entry. Not a shipping config: the A/B
      // decides where to optimize, preservation stays the default.
      "compaction_nolineage" -> (() => run("compaction_nolineage", 0, 3) { () =>
        val t = fresh()
        t.updateProperties(Map("write.row-lineage.preserve" -> "false"))
        t.append(li)
        (1 to 4).foreach(_ => t.append(li.limit(20000).repartition(4)))
        time(t.rewriteDataFiles())
      }),
      // same attribution A/B for the merge path (r13 verdict item 7)
      "cow_merge_nolineage" -> (() => {
        val src = li.limit((li.count() / 10).toInt)
          .withColumn("l_quantity", col("l_quantity") + 1)
          .dropDuplicates("l_orderkey", "l_linenumber")
        run("cow_merge_nolineage", 0, 3) { () =>
          val t = fresh()
          t.updateProperties(Map("write.row-lineage.preserve" -> "false"))
          t.append(li)
          time(t.merge(src, Seq("l_orderkey", "l_linenumber"))
            .whenMatchedUpdateAll().execute())
        }
      }),
      // plan evidence for the lineage read path: explain the bin-pack
      // rewrite's read frame (lineage ON) so before/after dumps can show
      // the join disappearing from the scan→write pipeline
      "compaction_plan" -> (() => {
        val t = fresh()
        t.append(li)
        (1 to 4).foreach(_ => t.append(li.limit(20000).repartition(4)))
        val m = t.meta
        val df = graft.table.Reads.readTasksWithDeletes(t, m,
          t.newScan().planFiles(), t.newScan().planDeletes(),
          m.schema.columnNames, graft.meta.expr.TrueExpr,
          rowPositions = false, withLineage = true)
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      }),
      "reads" -> (() => {
        val t = fresh(); t.append(li)
        def scan() = consume(spark.read.format("graft").load(t.location))
        run("ice_read", 2, 3)(() => time(scan()))
        t.deleteMergeOnRead(graft.meta.expr.Exprs.lessThanOrEqual("l_quantity", 2))
        run("mor_read", 2, 3)(() => time(scan()))
        graft.table.Maintenance.convertPositionDeletes(t)
        run("dv_read", 2, 3)(() => time(scan()))
      }),
      "llm_bm25" -> (() => {
        val q = spark.createDataFrame(Seq(
          (1L, "hash join merge"), (2L, "fast scan filter"),
          (3L, "customer order data"))).toDF("qid", "qtext")
        run("llm_bm25", 1, 5)(() => time(consume(
          graft.llm.TextOps.bm25(docsDf, "doc_id", "text", q, "qid", "qtext", 10))))
        graft.llm.Bm25Index.build(spark, docsDf, "doc_id", "text",
          s"$loc/bm25_idx", nBuckets = 8)
        val bmIdx = graft.llm.Bm25Index.load(spark, s"$loc/bm25_idx")
        run("llm_bm25_index", 1, 5)(() => time(consume(
          bmIdx.query(q, "qid", "qtext", 10))))
      }),
      "llm_bpe_encode" -> (() => {
        val merges = graft.llm.Bpe.collectMerges(
          graft.llm.Bpe.train(docsDf, "text", numMerges = 25))
        run("llm_bpe_encode", 1, 5)(() => time(consume(
          docsDf.select(col("doc_id"),
            graft.llm.Bpe.tokenCount(col("text"), merges).as("n")))))
      }),
      "llm_span_dedup" -> (() => run("llm_span_dedup", 1, 3)(() => time(consume(
        graft.llm.TextOps.removeDuplicatedSpans(docsDf, "doc_id", "text", 3))))),
      // the pre-r13 span-dedup shape (per-token anti-join + collect_list
      // reassembly), kept for A/B runs on the same machine conditions
      "llm_span_dedup_old" -> (() => {
        import org.apache.spark.sql.Column
        def let(v: Column)(body: Column => Column): Column =
          element_at(transform(array(v), body), 1)
        val n = 3; val minDocs = 2; val sep = " "
        val idCol = "doc_id"; val textCol = "text"
        val toks = docsDf.select(col(idCol),
          graft.llm.TextOps.tokens(col(textCol)).as("_gf_t"))
        val pos = toks.select(col(idCol), posexplode(let(col("_gf_t")) { t =>
          when(size(t) >= n, transform(sequence(lit(0), size(t) - n),
            i => concat_ws(sep, slice(t, i + 1, lit(n))))).otherwise(array())
        }).as(Seq("_gf_p", "_gf_g")))
        val dup = docsDf.select(col(idCol),
            explode(graft.llm.TextOps.shingles(col(textCol), n)).as("_gf_g"))
          .groupBy("_gf_g").agg(count(lit(1)).as("_gf_dn"))
          .where(col("_gf_dn") >= minDocs).select("_gf_g")
        val covered = pos.join(dup, "_gf_g")
          .select(col(idCol), explode(sequence(col("_gf_p"),
            col("_gf_p") + lit(n - 1))).as("_gf_i"))
          .distinct()
        val indexed = toks.select(col(idCol),
          posexplode(col("_gf_t")).as(Seq("_gf_i", "_gf_tok")))
        val kept = indexed.join(covered, Seq(idCol, "_gf_i"), "left_anti")
          .groupBy(col(idCol))
          .agg(count(lit(1)).as("_gf_kept"),
            array_join(transform(
              array_sort(collect_list(struct(col("_gf_i"), col("_gf_tok")))),
              s => s.getField("_gf_tok")), sep).as("_gf_text"))
        val q = toks.select(col(idCol), size(col("_gf_t")).cast("long").as("n_tokens"))
          .join(kept, Seq(idCol), "left")
          .select(col(idCol), col("n_tokens"),
            (col("n_tokens") - coalesce(col("_gf_kept"), lit(0L))).as("removed_tokens"),
            coalesce(col("_gf_text"), lit("")).as(textCol))
        run("llm_span_dedup_old", 1, 3)(() => time(consume(q)))
        // parity pin for the A/B: the two shapes must agree row-for-row
        val newDf = graft.llm.TextOps.removeDuplicatedSpans(
          docsDf, "doc_id", "text", 3)
        val diff = newDf.exceptAll(q).count() + q.exceptAll(newDf).count()
        println(s"[benchone] span_dedup old-vs-new exceptAll diff=$diff (0 = identical)")
      }),
      "llm_extract" -> (() => {
        val htmlCol = concat(
          lit("<html><head><title>T</title><style>p { color: red; }</style>" +
            "<script>if (a<b) { x(\"&amp;\"); }</script></head><body><h1>H</h1><p>"),
          col("text"),
          lit("&nbsp;tail &lt;kept&gt;</p><div>  d1  <b>b</b>  d2  </div>" +
            "<ul><li><a href='/x'>nav</a></li></ul></body></html>"))
        run("llm_extract", 1, 5)(() => time(consume(
          docsDf.select(col("doc_id"),
            graft.llm.TextOps.extractText(htmlCol, maxLinkDensity = 0.5).as("t")))))
      }),
      "llm_cc_dedup" -> (() => run("llm_cc_dedup", 1, 5)(() => time(consume(
        graft.llm.Dedup.dedupByComponents(docsDf, "doc_id",
          graft.llm.Dedup.minHashLshPairs(docsDf, "doc_id", "text", 3, 8, 2, 0.6)))))),
      // diagnostic for OPTIMIZATION_r13 "Not yet optimized" #5: does the
      // term-IN filter actually prune postings FILES at sf0.1 shape?
      "bm25_prune_check" -> (() => {
        graft.llm.Bm25Index.build(spark, docsDf, "doc_id", "text",
          s"$loc/bm25_prune_idx", nBuckets = 8)
        val idx = graft.llm.Bm25Index.load(spark, s"$loc/bm25_prune_idx")
        val all = idx.table.newScan().planFiles()
        def plannedFor(terms: String*): Int = idx.table.newScan()
          .filter(graft.meta.expr.Exprs.in(graft.llm.Bm25Index.TermCol, terms: _*))
          .planFiles().size
        println(s"[benchone] bm25 postings files total=${all.size}; " +
          s"1 term -> ${plannedFor("hash")}, " +
          s"3 terms -> ${plannedFor("hash", "join", "merge")}, " +
          s"bench batch (9 terms) -> ${plannedFor("hash", "join", "merge",
            "fast", "scan", "filter", "customer", "order", "data")}")
      }),
      // diagnostic: llm_ngram_lm's INITIAL plan computes the target-slice
      // unigram count table twice (two identical scan→explode→agg→exchange
      // subtrees feeding the w1/w2 backoff joins). This checks whether AQE
      // stage reuse actually collapses them at runtime (the committed
      // plans/r13 dumps are initial plans and cannot show it).
      "ngram_reuse_check" -> (() => {
        val df = SparkEntry.queries("llm_ngram_lm")(spark, sfDir)
        df.collect() // execute THIS QueryExecution (a noop write would spawn its own)
        val plan = df.queryExecution.executedPlan.toString
        def n(p: String) = p.r.findAllIn(plan).size
        println(s"[benchone] ngram_lm executed plan: " +
          s"ReusedExchange=${n("ReusedExchange")} " +
          s"ShuffleQueryStage=${n("ShuffleQueryStage")} " +
          s"BroadcastQueryStage=${n("BroadcastQueryStage")} " +
          s"Scan parquet=${n("Scan parquet")}")
      }),
      "ann_probes" -> (() => {
        graft.llm.IvfIndex.build(spark, embs, "vec_id", "embedding",
          s"$loc/ann_probe_idx", nLists = 8)
        val ivf = graft.llm.IvfIndex.load(spark, s"$loc/ann_probe_idx")
        run("llm_ann_ivf_probe", 2, 5)(() =>
          time(consume(ivf.topK(LlmQueries.AnnQueryIds, k = 5, nProbe = 2))))
        run("llm_ann_int8_probe", 2, 5)(() =>
          time(consume(ivf.topKQuantized(LlmQueries.AnnQueryIds, k = 5, nProbe = 2))))
        val knnQueries = embs.filter(col("vec_id") % 25 === 0)
        run("llm_knn_join", 2, 5)(() =>
          time(consume(ivf.knnJoin(knnQueries, "vec_id", "embedding", k = 3,
            nProbe = 2, excludeSelf = true))))
        run("llm_ann_build", 0, 3) { () =>
          time(graft.llm.IvfIndex.build(spark, embs, "vec_id", "embedding",
            s"$loc/ann_build_idx", nLists = 8))
        }
      }),
      "enc" -> (() => {
        val manager = new graft.table.AesGcmEncryptionManager(
          "benchbenchbenchbenchbenchbench00".getBytes("UTF-8"), "bench")
        val ser = graft.table.EncryptionManagers.serialize(manager)
        var eidx = 0
        def freshEnc(): IceTable = {
          eidx += 1
          IceTable.createWith(spark, new graft.table.TableOperations(
            s"$loc/enc$eidx", new graft.table.FileIO(
              spark.sparkContext.hadoopConfiguration, manager)),
            Schema.fresh(li.schema))
        }
        run("enc_write", 0, 3) { () => val t = freshEnc(); time(t.append(li)) }
        val t = freshEnc(); t.append(li)
        run("enc_read", 2, 3)(() => time(consume(
          spark.read.format("graft").option("encryption", ser).load(t.location))))
      }))

    args.foreach { a =>
      entries.get(a) match {
        case Some(f) => f()
        case None => runQuery(a, a) // any declared query name directly
      }
    }
    org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(loc), true)
    spark.stop()
  }
}
