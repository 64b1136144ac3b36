package graft

import graft.meta.Schema
import graft.table.IceTable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** BENCH harness (BASELINE.md measurement plan): headline shapes — full
  * scan, metrics-pruned read, multi-join agg, merge shape, LLM dedup/ANN —
  * median of 5 after 2 warmups; engine ops (append write, CoW merge,
  * compaction) median of 3 on fresh scratch tables. Prints ONE JSON line.
  *
  * Contamination defenses (two of six driver benches published numbers
  * inflated by a test suite that had just finished on the same machine):
  *  - the machine is SETTLED before every measurement group — GC, then
  *    wait (bounded) for the 1-minute load average to drop to idle;
  *  - heavy one-shot pipelines (the iterative CC dedup) run LAST so their
  *    executor churn cannot degrade later measurements;
  *  - every RAW sample is published alongside the median, so a reader can
  *    see spread instead of trusting a single number;
  *  - a group whose max/min sample ratio exceeds 3 is re-measured once
  *    after a fresh settle (both the rerun count and the final samples are
  *    published);
  *  - `preceded_by` records how long before this bench the test harness
  *    last ran (suites stamp `target/.graft-last-test-run` at start and at
  *    JVM exit) plus the load average at bench start — enough to adjudicate
  *    a suspect run without re-running it.
  */
object Bench {
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; s(s.size / 2)
  }

  private def time(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** Total JVM GC time (seconds) across all collector beans — deltas of
    * this around each sample are published as `gc_secs`, so a slow sample
    * can be adjudicated as GC-bound (or not) from the JSON alone instead
    * of needing a re-run (three published benches have needed one). */
  private def gcTotalSecs(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3
  }

  private def consume(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  private def loadAvg1m(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split(' ')(0).toDouble finally src.close()
    } catch { case _: Exception => -1.0 }

  /** Settle the machine before a measurement group: drop our own garbage,
    * then wait (up to `maxWaitMs`) for the 1-minute load to fall under
    * `idleLoad` — a just-finished test suite keeps load elevated for tens
    * of seconds and would otherwise inflate whatever group runs first. */
  private def settle(idleLoad: Double = 8.0, maxWaitMs: Long = 45000L): Unit = {
    System.gc()
    Thread.sleep(200)
    val deadline = System.currentTimeMillis() + maxWaitMs
    var l = loadAvg1m()
    while (l > idleLoad && System.currentTimeMillis() < deadline) {
      Thread.sleep(2000)
      l = loadAvg1m()
    }
  }

  final case class Entry(med: Double, samples: Seq[Double], reruns: Int,
      gcSecs: Seq[Double])

  private val results = scala.collection.mutable.LinkedHashMap[String, Entry]()

  /** Measure one entry: `warmups` untimed runs, `n` samples (each run
    * returns ITS OWN timed seconds, so per-run setup can stay outside the
    * timer), median recorded. A spread (max/min) over 3 marks
    * interference — re-measure once after a fresh settle, keep the second
    * set, and publish the rerun. Alongside each sample, the JVM GC-time
    * delta across the whole f() invocation is recorded (for measureRaw
    * entries this window includes the untimed setup — gc_secs adjudicates
    * "was the slow sample GC-bound", not "GC inside the timed region"). */
  private def measureRaw(label: String, warmups: Int, n: Int,
      alreadyRetried: Boolean = false)(f: () => Double): Unit = {
    (1 to warmups).foreach(_ => f())
    val timed = (1 to n).map { _ =>
      val g0 = gcTotalSecs(); val s = f(); (s, gcTotalSecs() - g0)
    }
    val samples = timed.map(_._1)
    if (!alreadyRetried && n >= 3 && samples.max / math.max(1e-9, samples.min) > 3.0) {
      settle()
      measureRaw(label, warmups = 1, n = n, alreadyRetried = true)(f)
      results(label) = results(label).copy(reruns = 1)
    } else results(label) = Entry(median(samples), samples, 0, timed.map(_._2))
  }

  private def measure(label: String, warmups: Int, n: Int)(f: () => Unit): Unit =
    measureRaw(label, warmups, n)(() => time(f()))

  def main(args: Array[String]): Unit = {
    val lastTestRunSecsAgo: Long =
      try {
        val p = java.nio.file.Paths.get("target", ".graft-last-test-run")
        if (java.nio.file.Files.exists(p))
          (System.currentTimeMillis() -
            new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim.toLong) / 1000L
        else -1L
      } catch { case _: Exception => -1L }
    // three published driver benches in a row started on a non-idle machine
    // (load > 1.9) and needed sample-level adjudication — so the idle wait
    // is now part of STARTUP, not just inter-group hygiene: block (up to
    // 5 min) until the 1-minute load is near-idle, and publish how long the
    // wait took next to the post-wait load so a reader can see whether the
    // run began clean
    val loadAtLaunch = loadAvg1m()
    val waitT0 = System.currentTimeMillis()
    settle(idleLoad = 0.9, maxWaitMs = 300000L)
    val startupWaitMs = System.currentTimeMillis() - waitT0
    val loadAtStart = loadAvg1m()

    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.spark.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // a 128 GiB single node can afford far more than the 10 MiB default;
      // merge/dim-join sides in the tens of MB then hash-broadcast
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // --- group 1: repeated engine query shapes (2 warmups + median of 5) ---
    settle()
    val repeated: Seq[(String, String)] = Seq(
      "q1_full_scan" -> "q1_scan_project",
      "q4_pruned_read" -> "q4_metrics_prune",
      "q20_join_agg" -> "q20_join_agg",
      "q10_merge_shape" -> "q10_merge_shape")
    repeated.foreach { case (label, q) =>
      val fn = SparkEntry.queries(q)
      measure(label, 2, 5)(() => consume(fn(spark, sfDir)))
    }

    // --- group 2: repeated LLM shapes ---
    settle()
    Seq(
      "llm_minhash_dedup" -> "llm_dedup_minhash",
      "llm_ann_topk" -> "llm_ann_topk",
      "llm_ann_lsh" -> "llm_ann_lsh").foreach { case (label, q) =>
      val fn = SparkEntry.queries(q)
      measure(label, 2, 5)(() => consume(fn(spark, sfDir)))
    }

    // --- group 3: engine ops on fresh scratch tables (median of 3 —
    // single-shot timings of IO-bound ops swing ±30% with machine load) ---
    settle()
    val li = Tables.load(spark, sfDir, "lineitem")
    val loc = java.nio.file.Files.createTempDirectory("graft-bench-").toString
    var idx = 0
    def fresh(): IceTable = {
      idx += 1
      IceTable.create(spark, s"$loc/t$idx", Schema.fresh(li.schema))
    }
    measureRaw("append_write", 0, 3) { () =>
      val t = fresh(); time(t.append(li))
    }
    val src = li.limit((li.count() / 10).toInt)
      .withColumn("l_quantity", col("l_quantity") + 1)
      .dropDuplicates("l_orderkey", "l_linenumber")
    measureRaw("cow_merge", 0, 3) { () =>
      val t = fresh(); t.append(li) // setup outside the timer
      time(t.merge(src, Seq("l_orderkey", "l_linenumber"))
        .whenMatchedUpdateAll().execute())
    }
    measureRaw("compaction", 0, 3) { () =>
      val t = fresh()
      t.append(li) // same table shape as earlier rounds: bulk + small files
      (1 to 4).foreach(_ => t.append(li.limit(20000).repartition(4)))
      time(t.rewriteDataFiles())
    }

    // --- group 4: merge-on-read read overhead: the same table scanned
    // clean, then with live position deletes in every file (~4% of rows
    // deleted) — the native scan must keep these within ~1.3× ---
    settle()
    locally {
      val t = fresh(); t.append(li)
      def scan() = consume(spark.read.format("graft").load(t.location))
      measure("ice_read", 2, 3)(() => scan())
      // l_quantity ≤ 2 hits a slice of every file → position deletes, no
      // whole-file metadata drops
      t.deleteMergeOnRead(graft.meta.expr.Exprs.lessThanOrEqual("l_quantity", 2))
      measure("mor_read", 2, 3)(() => scan())
      // r13: the SAME tombstones as roaring deletion vectors — the bitmap
      // fetch replaces the delete-parquet scan + hash build; expect
      // flat-or-better vs mor_read (the win grows with delete density)
      graft.table.Maintenance.convertPositionDeletes(t)
      measure("dv_read", 2, 3)(() => scan())
    }

    // --- group 4b: encrypted-table paths (r11): the same lineitem shapes
    // as append_write / ice_read on a keyed parquet table, so the page-
    // encryption overhead is tracked per round like every other regression
    // class (BASELINE.md: expect ≲15% over the plaintext entries) ---
    settle()
    locally {
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
      measureRaw("enc_write", 0, 3) { () =>
        val t = freshEnc(); time(t.append(li))
      }
      val t = freshEnc(); t.append(li)
      measure("enc_read", 2, 3)(() =>
        consume(spark.read.format("graft").option("encryption", ser)
          .load(t.location)))
    }

    // --- group 5: persisted-IVF probes: index built ONCE (untimed —
    // that's the amortized cost); queries pay only the pruned probe.
    // Probes run BEFORE the timed builds, against their OWN index location:
    // round 9 measured them right after three timed builds into the same
    // location (a 4-versions-deep index plus fresh executor churn) and the
    // probe entries inflated ~35% round-over-round from bench order alone ---
    settle()
    locally {
      val embs = Tables.load(spark, sfDir, "embeddings")
      graft.llm.IvfIndex.build(spark, embs, "vec_id", "embedding",
        s"$loc/ann_probe_idx", nLists = 8)
      val ivf = graft.llm.IvfIndex.load(spark, s"$loc/ann_probe_idx")
      settle()
      measure("llm_ann_ivf_probe", 2, 5)(() =>
        consume(ivf.topK(LlmQueries.AnnQueryIds, k = 5, nProbe = 2)))
      // int8 probe: candidate ranking over the persisted codes column
      // (4× fewer bytes), exact rescore on the k×4 survivors only
      measure("llm_ann_int8_probe", 2, 5)(() =>
        consume(ivf.topKQuantized(LlmQueries.AnnQueryIds, k = 5, nProbe = 2)))
      // PQ probe: ADC ranking over M-byte residual codes (32× fewer bytes
      // than float at 64-dim/M=8); same rescore contract. Separate index
      // location so the PQ build's version churn can't touch the shared
      // probe index above
      graft.llm.IvfIndex.buildPq(spark, embs, "vec_id", "embedding",
        s"$loc/ann_pq_idx", nLists = 8, m = 16, ks = 64)
      val pqIdx = graft.llm.IvfIndex.load(spark, s"$loc/ann_pq_idx")
      settle()
      measure("llm_ann_pq_probe", 2, 5)(() =>
        consume(pqIdx.topKPq(LlmQueries.AnnQueryIds, k = 5, nProbe = 2)))
      // distributed batch kNN join: every 25th corpus vector joined for
      // its top-3 (the table-to-table retrieval shape; ~80 queries at
      // sf0.1) — guards the join-path plan, not just the driver probes
      val knnQueries = embs.filter(col("vec_id") % 25 === 0)
      measure("llm_knn_join", 2, 5)(() =>
        consume(ivf.knnJoin(knnQueries, "vec_id", "embedding", k = 3,
          nProbe = 2, excludeSelf = true)))
      // build cost measured every round (it once hid a dim× recompute that
      // made fits unusable past toy corpora): a separate location so the
      // version churn cannot touch the probe index, settled first so the
      // build group cannot contaminate anything else
      settle()
      measureRaw("llm_ann_build", 0, 3) { () =>
        time(graft.llm.IvfIndex.build(spark, embs, "vec_id", "embedding",
          s"$loc/ann_build_idx", nLists = 8))
      }
      // incremental refresh (r12): a ~1% corpus delta caught up against
      // the frozen centroids — must stay ≪ llm_ann_build (the refresh
      // exists so a small delta never costs the ~5 full corpus passes a
      // re-fit does); per-sample appends accumulate only ~3%, safely
      // below the refit threshold, so every sample takes the incremental
      // path (setup appends stay outside the timer)
      val corpusT = IceTable.create(spark, s"$loc/ann_refresh_corpus",
        Schema.fresh(embs.schema))
      corpusT.append(embs)
      graft.llm.IvfIndex.buildFrom(spark, corpusT, "vec_id", "embedding",
        s"$loc/ann_refresh_idx", nLists = 8)
      val deltaRows = math.max(1, (embs.count() / 100).toInt)
      var refreshOffset = 10000000L
      measureRaw("llm_ann_refresh", 0, 3) { () =>
        val delta = embs.limit(deltaRows)
          .withColumn("vec_id", col("vec_id") + refreshOffset)
        refreshOffset += 10000000L
        corpusT.append(delta)
        time {
          val r = graft.llm.IvfIndex.refresh(spark, corpusT, s"$loc/ann_refresh_idx")
          require(!r.refit && r.appended == deltaRows,
            s"refresh bench expected the incremental path, got $r")
        }
      }
    }

    // --- group 5b: round-9 text pipeline entries — BM25 once regressed 5×
    // through a CollapseProject HOF amplification that only a timed run
    // caught; both entries exist so that class of regression can never
    // land silently again ---
    settle()
    locally {
      val docsDf = Tables.load(spark, sfDir, "documents")
      val q = spark.createDataFrame(Seq(
        (1L, "hash join merge"), (2L, "fast scan filter"),
        (3L, "customer order data"))).toDF("qid", "qtext")
      measure("llm_bm25", 1, 5)(() => consume(
        graft.llm.TextOps.bm25(docsDf, "doc_id", "text", q, "qid", "qtext", 10)))
      // persisted inverted index: the same queries answered from a
      // term-bucket-pruned postings scan (build untimed — amortized);
      // must beat the one-shot above, which re-tokenizes the corpus
      graft.llm.Bm25Index.build(spark, docsDf, "doc_id", "text",
        s"$loc/bm25_idx", nBuckets = 8)
      val bmIdx = graft.llm.Bm25Index.load(spark, s"$loc/bm25_idx")
      measure("llm_bm25_index", 1, 5)(() => consume(
        bmIdx.query(q, "qid", "qtext", 10)))
      val merges = graft.llm.Bpe.collectMerges(
        graft.llm.Bpe.train(docsDf, "text", numMerges = 25))
      measure("llm_bpe_encode", 1, 5)(() => consume(
        docsDf.select(col("doc_id"),
          graft.llm.Bpe.tokenCount(col("text"), merges).as("n"))))
      // duplicated-span removal (r12): the positional-n-gram exchange is
      // the heaviest text-op payload (one row per TOKEN, not per doc) —
      // the entry guards that shape
      measure("llm_span_dedup", 1, 3)(() => consume(
        graft.llm.TextOps.removeDuplicatedSpans(docsDf, "doc_id", "text", 3)))
      // raw-web extraction (r13): map-only scanner — the entry pins that
      // the ingestion front door stays at scan cost (wrap markup inline so
      // the measured work includes realistic tags/entities per doc)
      val htmlCol = concat(
        lit("<html><head><title>T</title><style>p { color: red; }</style>" +
          "<script>if (a<b) { x(\"&amp;\"); }</script></head><body><h1>H</h1><p>"),
        col("text"),
        lit("&nbsp;tail &lt;kept&gt;</p><div>  d1  <b>b</b>  d2  </div>" +
          "<ul><li><a href='/x'>nav</a></li></ul></body></html>"))
      measure("llm_extract", 1, 5)(() => consume(
        docsDf.select(col("doc_id"),
          graft.llm.TextOps.extractText(htmlCol, maxLinkDensity = 0.5).as("t"))))
    }

    // --- group 6 (LAST - heavy one-shot iterative pipeline): fuzzy dedup
    // end-to-end: LSH candidate pairs → duplicate components
    // (large-star/small-star) → one canonical doc per cluster. Driver-paced
    // rounds AND bimodal under GC, so 1 warmup + median of 5 — 3 samples
    // left its round-over-round signal noise-bound. Runs last so its
    // executor churn cannot contaminate the measurements above. ---
    settle()
    locally {
      val docsDf = Tables.load(spark, sfDir, "documents")
      measure("llm_cc_dedup", 1, 5)(() => consume(graft.llm.Dedup.dedupByComponents(
        docsDf, "doc_id",
        graft.llm.Dedup.minHashLshPairs(docsDf, "doc_id", "text", 3, 8, 2, 0.6))))
    }

    // --- group 7 (r14, scaling tier): entries sized so an N-core run's
    // wall tracks N. Every entry above is fixed-overhead-dominated at
    // sf0.1 (the largest input is one ~11 MB split), so the driver's
    // low-core run produced ZERO parallelism signal — an 8-core run came
    // out ≈ the 32-core run and a serialization regression (a stray
    // single-partition window, a driver collect) would be invisible
    // (r13 verdict item 3). Each entry below inflates its input INLINE
    // from the parquet source on every sample (recomputed inside the
    // timed region — never cached or persisted) and repartitions
    // scale-adaptively (2× the session's cores, never a constant), so
    // the same work runs at any core count and wall ≈ work / cores. ---
    settle()
    locally {
      val docsDf = Tables.load(spark, sfDir, "documents")
      // inflate mult× as a UNION of independent scans: each replica is its
      // own scan task (the sf0.1 inputs are single-split files, so an
      // exchange- or crossJoin-based inflation would expand serially in
      // ONE task and flatten the very signal this tier exists to produce);
      // re-reading the source per replica is honest parallel work off the
      // page cache, and nothing here is cached or persisted
      def inflate(df: DataFrame, mult: Int): DataFrame =
        (0 until mult).map(r => df.select(
          (col("doc_id") * mult + lit(r)).as("doc_id"),
          concat(col("text"), lit(" replica"), lit(r)).as("text")))
          .reduce(_ union _)
      // shuffle-heavy text shape: positional n-grams + per-doc reassembly
      measure("scale_span_dedup", 1, 3)(() => consume(
        graft.llm.TextOps.removeDuplicatedSpans(
          inflate(docsDf, 16), "doc_id", "text", 3)))
      // map-only CPU shape: tokenizer over the inflated corpus — perfect
      // scaling, so the 8c/32c ratio of THIS entry is the purest core signal
      val merges = graft.llm.Bpe.collectMerges(
        graft.llm.Bpe.train(docsDf, "text", numMerges = 25))
      measure("scale_bpe_encode", 1, 3)(() => consume(
        inflate(docsDf, 64).select(col("doc_id"),
          graft.llm.Bpe.tokenCount(col("text"), merges).as("n"))))
      // relational join+agg shape: the fact side inflated 16×, dimension
      // broadcast, partial agg in the scan stage before the one exchange
      val orders = Tables.load(spark, sfDir, "orders")
      val bigLi = (0 until 16).map(_ => li).reduce(_ union _)
      measure("scale_join_agg", 1, 3)(() => consume(
        bigLi.join(orders, col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_custkey")
          .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("rev"), count(lit(1)).as("n"))))
    }

    org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(loc), true)

    def fmt(d: Double) = f"$d%.3f"
    val qs = results.map { case (k, e) => "\"" + k + "\":" + fmt(e.med) }
      .mkString("{", ",", "}")
    val samples = results.map { case (k, e) =>
      "\"" + k + "\":[" + e.samples.map(fmt).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val gcSecs = results.map { case (k, e) =>
      "\"" + k + "\":[" + e.gcSecs.map(fmt).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val reruns = results.collect { case (k, e) if e.reruns > 0 =>
      "\"" + k + "\":" + e.reruns
    }.mkString("{", ",", "}")
    val preceded =
      s"""{"last_test_run_secs_ago":$lastTestRunSecsAgo,"loadavg_at_launch":${fmt(loadAtLaunch)},"startup_wait_ms":$startupWaitMs,"loadavg_at_start":${fmt(loadAtStart)}}"""
    // the headline `total` sums the pre-r14 entries only, so it stays
    // comparable across rounds; the scaling tier reports its own sum
    val (scale, core) = results.partition(_._1.startsWith("scale_"))
    val total = core.values.map(_.med).sum
    val scaleTotal = scale.values.map(_.med).sum
    // two lines, detail FIRST: the driver's bounded tail capture once cut
    // the headline's front when per-sample arrays pushed the single line
    // past the capture window (BENCH_r12 lost its {"metric":"total"...}
    // prefix). The last line is now compact (medians only) so any bounded
    // tail keeps it whole; the detail line carries samples/gc/reruns and
    // deliberately contains no "metric" key.
    println(s"""{"bench_detail":{"samples":$samples,"gc_secs":$gcSecs,"reruns":$reruns}}""")
    val heapMb = Runtime.getRuntime.maxMemory / (1L << 20)
    val compact =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","scale_total":$scaleTotal%.3f,"queries":$qs,"preceded_by":$preceded,"sf":"$sfDir","cpus":$cpus,"heap_mb":$heapMb}"""
    println(compact)
    // belt-and-braces second channel (r13 verdict item 2): the same compact
    // JSON written to a file, so no stdout capture window can lose it
    try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_LAST.json"),
      (compact + "\n").getBytes("UTF-8"))
    catch { case _: Exception => () }
    spark.stop()
  }
}
