package graft.llm

import graft.meta.{PartitionSpec, Schema}
import graft.meta.expr.{Binder, Exprs, InclusiveMetricsEvaluator}
import graft.table.{EncryptionManager, FileIO, FileScanTask, IceTable,
  PlaintextEncryptionManager, Reads, TableOperations}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF (inverted-file) ANN index: a graft TABLE identity-
  * partitioned by the inverted-list id (the reference has no ANN surface;
  * the design is FAISS-style IVF re-expressed as a lakehouse table — the
  * index IS a list-partitioned copy of (id, vector), so a probe is a
  * partition-pruned scan of the `nProbe` nearest lists: no join against the
  * corpus, no shuffle beyond the final top-k window, and the existing
  * metadata cascade does the pruning).
  *
  * Layout at the index location:
  *  - graft table `(idCol, vecCol, list int)` partitioned by identity(list)
  *  - `ann/centroids.json` — the frozen coarse quantizer (k×dim doubles;
  *    kept OUT of table properties so a 16k-list × 768-dim quantizer never
  *    bloats every metadata.json)
  *  - properties `ann.id-col` / `ann.vec-col` / `ann.n-lists`
  *
  * The quantizer is FROZEN at build time: [[IvfIndex.sync]] assigns NEW
  * vectors against the stored centroids and appends them into their list
  * partitions — queries pay probe cost only, never the ~5 full corpus
  * passes a re-fit costs. Re-fit is explicit: [[IvfIndex.build]] again (or
  * SQL `CALL system.rebuild_ann_index`).
  */
final class IvfIndex private (val table: IceTable,
    val centroids: Seq[Seq[Double]],
    val pq: Option[IvfIndex.PqBooks] = None) {

  private def prop(k: String): String = table.meta.properties(k)
  def idCol: String = prop(IvfIndex.IdColProp)
  def vecCol: String = prop(IvfIndex.VecColProp)

  /** Assign `delta` rows (id, vector) to lists with the FROZEN centroids and
    * append the not-yet-indexed ones. The anti join touches only the index's
    * id column (column-pruned scan); at scale feed `delta` from an
    * incremental appends scan of the corpus rather than the full corpus. */
  def sync(delta: DataFrame): Long = {
    val assigned = assignToLists(delta)
    val existing = table.newScan().select(idCol).toDF
    // persisted so the assignment + anti join run ONCE (count reads the
    // cache, append writes from it) instead of twice per micro-batch
    val fresh = assigned.join(existing, Seq(idCol), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = fresh.count()
      if (n > 0) table.append(fresh)
      n
    } finally fresh.unpersist()
  }

  /** `delta` rows assigned to their inverted lists against the FROZEN
    * centroids, carrying the quantized codes and persisted norms — the
    * index row shape ([[sync]] dedups before appending; [[IvfIndex.refresh]]
    * appends directly under its snapshot watermark). */
  private[llm] def assignToLists(delta: DataFrame): DataFrame = {
    val base = Similarity.quantizeInt8(delta, idCol, vecCol)
      .select(col(idCol), col(vecCol),
        Similarity.nearestList(col(vecCol), centroids).as(IvfIndex.ListCol),
        col(IvfIndex.CodesCol), col(IvfIndex.ScaleCol),
        Similarity.l2norm(col(vecCol)).as(IvfIndex.VNormCol),
        Similarity.l2norm(col(IvfIndex.CodesCol)).as(IvfIndex.CNormCol))
    // PQ index: every appended row also carries its M-byte code, so
    // sync/refresh keep the ADC ranking path live without a re-encode pass
    pq match {
      case Some(b) => base.withColumn(IvfIndex.PqCodesCol,
        Similarity.pqEncode(col(vecCol), col(IvfIndex.ListCol),
          centroids, b.books))
      case None => base
    }
  }

  /** Bounded by-id vector lookup, driver-side: plans through the normal
    * metadata cascade (partition + id-metrics pruning), then reads the few
    * surviving parquet files' row groups directly — no Spark job for a
    * lookup whose result size is bounded by the id list, not the corpus.
    * The row-group IN filter prunes inside each file too. Falls back to a
    * distributed collect for non-parquet files or a deleted-row table. */
  private def fetchByIds(extraFilter: Option[graft.meta.expr.Expr],
      ids: Seq[Long],
      preplanned: Option[Seq[FileScanTask]] = None): Map[Long, Seq[Double]] = {
    val idFilter = Exprs.in(idCol, ids: _*)
    val filter = extraFilter.map(graft.meta.expr.And(_, idFilter)).getOrElse(idFilter)
    val scan = table.newScan().filter(filter).select(idCol, vecCol)
    val spark = table.spark
    def sparkPath(): Map[Long, Seq[Double]] = scan.toDF
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .collect().iterator.map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // a caller that already planned this scan's file set (the quantized
    // probe plans ONCE for both phases) skips the metadata cascade: the
    // id-metrics pruning the scan would do per file runs here directly
    // over the preplanned tasks' stats
    val tasks = preplanned match {
      case Some(ts) =>
        val bound = Binder.bind(table.meta.schema, idFilter)
        ts.filter(t => InclusiveMetricsEvaluator.eval(bound, Reads.statsOf(t.file)))
      case None => scan.planFiles()
    }
    // delete presence from the O(1) snapshot summary counter when the head
    // carries it (every snapshot written since the counters split); only a
    // counter-less head pays a manifest walk
    val hasDeletes = table.currentSnapshot
      .flatMap(_.summary.get("total-delete-files")).flatMap(_.toLongOption) match {
      case Some(n) => n > 0
      case None => table.newScan().filter(filter).planDeletes().nonEmpty
    }
    // an encrypted index's direct-parquet fast path would need the crypto
    // factory options threaded into the raw reader — the scan path already
    // owns that; a by-id fetch is bounded either way
    if (hasDeletes || tasks.exists(_.file.format != "parquet") ||
      table.io.encryption != PlaintextEncryptionManager) return sparkPath()
    val struct = table.meta.schema.struct
    val readSchema = org.apache.spark.sql.types.StructType(
      Seq(struct(struct.fieldIndex(idCol)), struct(struct.fieldIndex(vecCol))))
    val idIsLong = readSchema(0).dataType ==
      org.apache.spark.sql.types.LongType
    val inValues: Array[Any] =
      if (idIsLong) ids.map(Long.box).toArray[Any]
      else ids.map(i => Int.box(i.toInt)).toArray[Any]
    val reader = org.apache.spark.sql.graft.ColumnBridge.fileReader(
      spark, "parquet", struct, readSchema,
      Seq(org.apache.spark.sql.sources.In(idCol, inValues)),
      vectorized = false)._1
    val want = ids.toSet
    val vecType = readSchema(1).dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
    val out = Map.newBuilder[Long, Seq[Double]]
    // empty driver TaskContext: the readers' close hooks (registered via
    // addTaskCompletionListener) fire on exit, success or failure — without
    // it an exception mid-iteration leaks open parquet file handles
    org.apache.spark.sql.graft.ColumnBridge.withDriverTaskContext {
      tasks.foreach { t =>
        val pf = org.apache.spark.sql.graft.ColumnBridge.partitionedFile(
          t.file.path, 0L, t.file.fileSizeBytes, t.file.fileSizeBytes)
        reader(pf).foreach { r =>
          val id = if (idIsLong) r.getLong(0) else r.getInt(0).toLong
          if (want.contains(id)) {
            val arr = r.getArray(1)
            val v: Seq[Double] = vecType match {
              case org.apache.spark.sql.types.DoubleType =>
                arr.toDoubleArray.toIndexedSeq
              case org.apache.spark.sql.types.FloatType =>
                arr.toFloatArray.iterator.map(_.toDouble).toIndexedSeq
              case other => throw new IllegalStateException(
                s"unsupported vector element type $other")
            }
            out += id -> v
          }
        }
      }
    }
    out.result()
  }

  /** Shared probe prelude for [[topK]] and [[topKQuantized]]: fetch the
    * query vectors, rank every centroid per query on the driver (same
    * [cosine, index] lexicographic rule as `Similarity.listSims`, ties to
    * the larger index — a probe choice here matches what a full in-Spark
    * ranking would pick), and keep the `nProbe` nearest lists. One rule,
    * one place: the exact and quantized probes can never drift apart. */
  private def probePlan(qLocal: Seq[(Long, Seq[Double])], nProbe: Int)
      : (Seq[(Long, Int)], Seq[Int]) = {
    val probes = math.min(math.max(1, nProbe), centroids.size)
    val probed: Seq[(Long, Int)] = qLocal.flatMap { case (qid, qv) =>
      centroids.zipWithIndex
        .map { case (c, i) => (IvfIndex.cosineLocal(qv, c), i) }
        .sorted.takeRight(probes)
        .map { case (_, list) => (qid, list) }
    }
    (probed, probed.map(_._2).distinct)
  }

  /** Probe-only approximate top-k: query vectors are looked up by id (a
    * metrics-pruned scan + tiny collect), each query's `nProbe` nearest
    * lists are ranked on the driver against the local centroids, and ONLY
    * those list partitions are scanned — `filter(list IN ...)` prunes
    * through manifest summaries and partition values before any file opens.
    * `nProbe >= nLists` degenerates to exact brute force. */
  def topK(queryIds: Seq[Long], k: Int, nProbe: Int = 2): DataFrame =
    topKCore(fetchByIds(None, queryIds).toSeq.sortBy(_._1), k, nProbe,
      excludeSelf = true)

  /** Probe with EXTERNAL query vectors — `(label, vector)` pairs for
    * queries that are NOT rows of the index (fresh documents, user
    * queries): the same partition-pruned probe, minus the by-id vector
    * fetch and minus the self-exclusion (an external label coinciding
    * with a corpus id must not hide that corpus vector). */
  def topKForVectors(queries: Seq[(Long, Seq[Double])], k: Int,
      nProbe: Int = 2): DataFrame = {
    validateExternal(queries)
    topKCore(queries, k, nProbe, excludeSelf = false)
  }

  /** External queries must match the index dimension (a longer vector
    * would crash centroid ranking, a shorter one silently null the sims)
    * and carry distinct labels (the two probe phases resolve a label to
    * ONE vector — duplicates would rank against one and rescore against
    * the other). */
  private def validateExternal(queries: Seq[(Long, Seq[Double])]): Unit = {
    require(queries.map(_._1).distinct.size == queries.size,
      "duplicate query labels: each external label must map to one vector")
    centroids.headOption.foreach { c =>
      queries.find(_._2.length != c.length).foreach { case (label, v) =>
        throw new IllegalArgumentException(
          s"query $label has dimension ${v.length}, index expects ${c.length}")
      }
    }
  }

  private def topKCore(qLocal: Seq[(Long, Seq[Double])], k: Int, nProbe: Int,
      excludeSelf: Boolean): DataFrame = {
    val spark = table.spark
    val (probed, allLists) = probePlan(qLocal, nProbe)
    val hasNorms = table.meta.schema.columnNames.contains(IvfIndex.VNormCol)
    val qRows = probed.map { case (qid, list) =>
      val qv = qLocal.find(_._1 == qid).get._2
      Row(qid, qv, IvfIndex.normLocal(qv), list)
    }
    val qSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("query_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("qv",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)),
      org.apache.spark.sql.types.StructField("qnorm",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField(IvfIndex.ListCol,
        org.apache.spark.sql.types.IntegerType)))
    val q = spark.createDataFrame(java.util.Arrays.asList(qRows: _*), qSchema)
    // persisted vnorm (when present): the per-pair work is ONE dot-product
    // fold, not a 3-fold cosine — the norms were paid once at build time
    val cand =
      if (hasNorms) table.newScan()
        .filter(Exprs.in(IvfIndex.ListCol, allLists.map(Int.box): _*))
        .select(idCol, vecCol, IvfIndex.VNormCol, IvfIndex.ListCol).toDF
        .select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"),
          col(IvfIndex.VNormCol), col(IvfIndex.ListCol))
      else table.newScan()
        .filter(Exprs.in(IvfIndex.ListCol, allLists.map(Int.box): _*)).toDF
        .select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"),
          col(IvfIndex.ListCol))
    val joined0 = cand.join(broadcast(q), Seq(IvfIndex.ListCol))
    val joined = (if (excludeSelf)
        joined0.filter(col("neighbor_id") =!= col("query_id"))
      else joined0)
      .withColumn("sim", round(
        if (hasNorms)
          Similarity.dot(col("qv"), col("nv")) /
            (col("qnorm") * col(IvfIndex.VNormCol))
        else Similarity.cosine(col("qv"), col("nv")), 4))
    Similarity.topKPerQuery(joined.select("query_id", "neighbor_id", "sim"), k)
  }

  /** Probe-only quantized top-k: the candidate RANKING phase scans the
    * persisted int8 `codes` column of the probed lists — 4× fewer bytes
    * than the float vectors, which stay entirely UNREAD (parquet column
    * pruning) until the rescore. Survivor ids (`k × rescoreFactor` per
    * query — independent of corpus size) come back to the driver, and the
    * exact phase re-reads only the files holding those ids through the
    * id-metrics pruning cascade. Same output contract as [[topK]]. */
  def topKQuantized(queryIds: Seq[Long], k: Int, nProbe: Int = 2,
      rescoreFactor: Int = 4): DataFrame = {
    // pre-codes index (built before the codes column existed): exact probe
    if (!table.meta.schema.columnNames.contains(IvfIndex.CodesCol))
      return topK(queryIds, k, nProbe)
    topKQuantizedCore(fetchByIds(None, queryIds).toSeq.sortBy(_._1),
      k, nProbe, rescoreFactor, excludeSelf = true)
  }

  /** [[topKQuantized]] with EXTERNAL query vectors (see [[topKForVectors]]). */
  def topKQuantizedForVectors(queries: Seq[(Long, Seq[Double])], k: Int,
      nProbe: Int = 2, rescoreFactor: Int = 4): DataFrame = {
    validateExternal(queries)
    if (!table.meta.schema.columnNames.contains(IvfIndex.CodesCol))
      topKForVectors(queries, k, nProbe)
    else topKQuantizedCore(queries, k, nProbe, rescoreFactor, excludeSelf = false)
  }

  private def topKQuantizedCore(qLocal: Seq[(Long, Seq[Double])], k: Int,
      nProbe: Int, rescoreFactor: Int, excludeSelf: Boolean): DataFrame = {
    val spark = table.spark
    val (probed, allLists) = probePlan(qLocal, nProbe)
    // query codes quantized on the driver — the SAME rounding rule as the
    // persisted codes from Similarity.quantizeInt8 (Spark round() =
    // HALF_UP, away from zero on .5; math.rint would be HALF_EVEN and
    // quantize a query differently from its own persisted twin)
    def halfUp(v: Double): Double =
      if (v >= 0) math.floor(v + 0.5) else math.ceil(v - 0.5)
    def codesOf(v: Seq[Double]): Seq[Double] = {
      val s = math.max(v.iterator.map(math.abs).foldLeft(0.0)(math.max) / 127.0,
        java.lang.Double.MIN_NORMAL)
      v.map(x => halfUp(x / s))
    }
    val qRows = probed.map { case (qid, list) =>
      Row(qid, codesOf(qLocal.find(_._1 == qid).get._2), list)
    }
    val qSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("query_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("qcodes",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)),
      org.apache.spark.sql.types.StructField(IvfIndex.ListCol,
        org.apache.spark.sql.types.IntegerType)))
    val q = spark.createDataFrame(java.util.Arrays.asList(qRows: _*), qSchema)
    // phase 1 — approximate ranking over codes only (vec column unread).
    // Rank key: dot(qcodes, codes) / cnorm — dividing by the PERSISTED
    // neighbor code norm; the query-side norm is constant within a window
    // and cannot change the order, so the per-pair work is one dot fold.
    //
    // ONE metadata pass serves both phases: the ranking frame scans the
    // planned (list-pruned) task list, and the rescore fetch prunes the
    // SAME task list by id metrics instead of re-walking manifests — the
    // two fixed costs the small-corpus bench exposed.
    val hasCNorm = table.meta.schema.columnNames.contains(IvfIndex.CNormCol)
    val listFilter = Exprs.in(IvfIndex.ListCol, allLists.map(Int.box): _*)
    val planned = table.newScan().filter(listFilter).planFiles()
    val candCols =
      if (hasCNorm) Seq(idCol, IvfIndex.CodesCol, IvfIndex.CNormCol, IvfIndex.ListCol)
      else Seq(idCol, IvfIndex.CodesCol, IvfIndex.ListCol)
    val candRaw = readCandidates(planned, candCols, listFilter)
    val cand = candRaw.select((col(idCol).as("neighbor_id") +:
      candCols.tail.map(col)): _*)
    val ranked0 = cand.join(broadcast(q), Seq(IvfIndex.ListCol))
    val ranked = (if (excludeSelf)
        ranked0.filter(col("neighbor_id") =!= col("query_id"))
      else ranked0)
      .withColumn("sim",
        if (hasCNorm)
          Similarity.dot(col("qcodes"), col(IvfIndex.CodesCol)) /
            col(IvfIndex.CNormCol)
        else Similarity.cosine(col("qcodes"), col(IvfIndex.CodesCol)))
    val survivors = Similarity.topKPerQuery(
        ranked.select("query_id", "neighbor_id", "sim"), k * rescoreFactor)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    rescoreExact(qLocal, survivors, k, listFilter, planned)
  }

  /** Phase 1's candidate frame over the planned task list. Live deletes
    * (never produced by build/sync, but a user can DML the index) apply in
    * the scan's readers; their presence comes from the O(1) snapshot
    * summary counter when the head carries it. */
  private def readCandidates(planned: Seq[FileScanTask], cols: Seq[String],
      listFilter: graft.meta.expr.Expr): DataFrame = {
    val m = table.meta
    val hasDeletes = table.currentSnapshot
      .flatMap(_.summary.get("total-delete-files")).flatMap(_.toLongOption)
      .forall(_ > 0)
    Reads.readTasksWithDeletes(table, m, planned,
      if (hasDeletes) table.newScan().filter(listFilter).planDeletes() else Nil,
      cols, Binder.bind(m.schema, listFilter), rowPositions = false)
  }

  /** Phase 2 of the quantized probes — exact rescore of the survivors
    * only. The survivor set is `queries × k × rescoreFactor` rows by
    * construction — INDEPENDENT of corpus size — so the rescore is a
    * driver computation: one partition+metrics-pruned scan collects the
    * survivor float vectors (the only rows whose float column is ever
    * read), and the exact cosines/top-k happen locally. No distributed
    * join, no window, no second job over corpus data. */
  private def rescoreExact(qLocal: Seq[(Long, Seq[Double])],
      survivors: Array[(Long, Long)], k: Int,
      listFilter: graft.meta.expr.Expr, planned: Seq[FileScanTask]): DataFrame = {
    val spark = table.spark
    val survivorIds = survivors.map(_._2).distinct.toSeq
    val qById = qLocal.toMap
    // survivors can only live in the probed lists: the rescore fetch reuses
    // phase 1's planned (list-pruned) task list, then id-metrics prunes it
    // per file — no second metadata pass
    val nvById: Map[Long, Seq[Double]] = fetchByIds(Some(listFilter),
      survivorIds, preplanned = Some(planned))
    val outRows = survivors.groupBy(_._1).toSeq.flatMap { case (qid, pairs) =>
      val qv = qById(qid)
      pairs.iterator.map(_._2).distinct
        .map(nid => (nid, BigDecimal(IvfIndex.cosineLocal(qv, nvById(nid)))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
        .toSeq
        .sortBy { case (nid, sim) => (-sim, nid) }
        .take(k).zipWithIndex
        .map { case ((nid, sim), i) => Row(qid, i + 1, nid, sim) }
    }
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("query_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("rank",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("neighbor_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("sim",
        org.apache.spark.sql.types.DoubleType)))
    spark.createDataFrame(java.util.Arrays.asList(outRows: _*), outSchema)
  }

  /** Distributed batch kNN JOIN: top-k index neighbors for EVERY row of
    * `queries` — the table-to-table retrieval shape ([[topK]] and friends
    * take a DRIVER-SIDE query list, the right tool for dozens of probes
    * but not for joining a whole table of fresh documents against the
    * corpus). Everything stays distributed: each query row fans out to
    * its `nProbe` nearest lists (codegen'd multiprobe assignment — no
    * collect), the probe is one equi-join on the list id against the
    * list-partitioned index, and the per-query JOIN compute is bounded
    * by its probed lists' sizes, never the corpus. The final ranking is
    * the bounded map-side top-k heap — no window, no full sort.
    * `nProbe >= nLists` degenerates to exact brute force.
    *
    * Cost shape, honestly: the index SCAN is one pass over all list
    * partitions per batch join (a real query batch's probed-list union
    * covers most lists, so list-pruning the scan would buy little and
    * cost a planning job) — the nProbe/nLists factor bounds the join's
    * CANDIDATE volume, which dominates at any interesting batch size
    * (measured flat per-pair throughput across 8× candidate-volume
    * change at 2M×64; BASELINE §r12c). For a handful of queries use the
    * driver-side probes, whose scans partition-prune to the probed
    * lists. [[knnJoinPq]] cuts the scan side itself 16× (M-byte codes).
    *
    * Output `(query_id, rank, neighbor_id, sim)` — sim is exact cosine
    * rounded to 4, ties to the smaller neighbor id (the probe contract).
    * `excludeSelf` drops `neighbor_id == query_id` for corpus-self joins.
    * At 100 TB this is one shuffle of the (already bounded) fan-out side
    * against a co-located scan of the index's list partitions. */
  def knnJoin(queries: DataFrame, queryIdCol: String, queryVecCol: String,
      k: Int, nProbe: Int = 2, excludeSelf: Boolean = false): DataFrame = {
    val probes = math.min(math.max(1, nProbe), centroids.size)
    val hasNorms = table.meta.schema.columnNames.contains(IvfIndex.VNormCol)
    val q = queries.select(
      col(queryIdCol).cast("long").as("query_id"),
      col(queryVecCol).as("qv"),
      Similarity.l2norm(col(queryVecCol)).as("qnorm"),
      explode(Similarity.nearestLists(col(queryVecCol), centroids, probes))
        .as(IvfIndex.ListCol))
    val cand =
      if (hasNorms) table.newScan()
        .select(idCol, vecCol, IvfIndex.VNormCol, IvfIndex.ListCol).toDF
        .select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"),
          col(IvfIndex.VNormCol), col(IvfIndex.ListCol))
      else table.newScan().toDF
        .select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"),
          col(IvfIndex.ListCol))
    // each index row lives in exactly ONE list and a query's probed lists
    // are distinct — no candidate duplicates, no dropDuplicates pass
    val joined0 = cand.join(q, Seq(IvfIndex.ListCol))
    val joined = (if (excludeSelf)
        joined0.filter(col("neighbor_id") =!= col("query_id"))
      else joined0)
      .withColumn("sim", round(
        if (hasNorms)
          Similarity.dot(col("qv"), col("nv")) /
            (col("qnorm") * col(IvfIndex.VNormCol))
        else Similarity.cosine(col("qv"), col("nv")), 4))
    Similarity.topKPerQuery(joined.select("query_id", "neighbor_id", "sim"), k)
  }

  /** [[knnJoin]] through the PQ codes: the candidate-ranking join reads
    * M bytes + vnorm per index row (the float column stays unread until
    * the rescore), each query row carries its OWN ADC lookup table
    * (codegen'd [[graft.expressions.PqLut]] — computed once per query
    * BEFORE the probe fan-out, no driver involvement), and the exact
    * rescore is DISTRIBUTED: the bounded survivor set (queries × k ×
    * rescoreFactor rows) joins back to the index's float vectors and the
    * query vectors, then the final bounded top-k ranks exact rounded
    * cosine — identical output contract to [[knnJoin]] (full probe +
    * corpus-wide rescore reproduces it exactly). Three shuffles total,
    * every one bounded by probe fan-out or survivor volume, never by
    * corpus × queries. Falls back to [[knnJoin]] on a non-PQ index. */
  def knnJoinPq(queries: DataFrame, queryIdCol: String, queryVecCol: String,
      k: Int, nProbe: Int = 2, rescoreFactor: Int = 4,
      excludeSelf: Boolean = false): DataFrame = {
    if (pq.isEmpty)
      return knnJoin(queries, queryIdCol, queryVecCol, k, nProbe, excludeSelf)
    val books = pq.get
    val ks = books.ks
    val probes = math.min(math.max(1, nProbe), centroids.size)
    val q0 = queries.select(
      col(queryIdCol).cast("long").as("query_id"),
      col(queryVecCol).as("qv"),
      Similarity.l2norm(col(queryVecCol)).as("qnorm"),
      Similarity.pqLut(col(queryVecCol), books.books).as("_gf_lut"))
    // per probed (query, list): the coarse-dot constant dot(q, c_list) —
    // element_at over the centroid literal + the codegen'd dot (both
    // codegen; no HOF lambda frames)
    val q = q0.select(col("query_id"), col("qv"), col("qnorm"), col("_gf_lut"),
        explode(Similarity.nearestLists(col("qv"), centroids, probes))
          .as(IvfIndex.ListCol))
      .withColumn("_gf_qc", Similarity.dot(col("qv"),
        element_at(typedLit(centroids), col(IvfIndex.ListCol) + 1)))
    val cand = table.newScan()
      .select(idCol, IvfIndex.PqCodesCol, IvfIndex.VNormCol, IvfIndex.ListCol)
      .toDF
      .select(col(idCol).as("neighbor_id"), col(IvfIndex.PqCodesCol),
        col(IvfIndex.VNormCol), col(IvfIndex.ListCol))
    val ranked0 = cand.join(
      q.select("query_id", "_gf_lut", "_gf_qc", IvfIndex.ListCol),
      Seq(IvfIndex.ListCol))
    val ranked = (if (excludeSelf)
        ranked0.filter(col("neighbor_id") =!= col("query_id"))
      else ranked0)
      .withColumn("sim", (col("_gf_qc") +
        Similarity.pqAdc(col(IvfIndex.PqCodesCol), col("_gf_lut"), ks))
        / col(IvfIndex.VNormCol))
    val survivors = Similarity.topKPerQuery(
        ranked.select("query_id", "neighbor_id", "sim"), k * rescoreFactor)
      .select("query_id", "neighbor_id")
    // distributed exact rescore — no driver collection: survivors pick up
    // their float vectors and persisted norms from the index, the query
    // vectors from q0, and the final bounded heap ranks rounded cosine
    val nv = table.newScan()
      .select(idCol, vecCol, IvfIndex.VNormCol).toDF
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"),
        col(IvfIndex.VNormCol))
    val exact = survivors.join(nv, Seq("neighbor_id"))
      .join(q0.select("query_id", "qv", "qnorm"), Seq("query_id"))
      .withColumn("sim", round(Similarity.dot(col("qv"), col("nv")) /
        (col("qnorm") * col(IvfIndex.VNormCol)), 4))
    Similarity.topKPerQuery(exact.select("query_id", "neighbor_id", "sim"), k)
  }

  /** PQ (product-quantization) top-k: the candidate-ranking phase scans
    * the persisted M-byte `pqcodes` column — for a 64-dim float corpus
    * with M=8 that is 32× fewer bytes than the float vectors and 8× fewer
    * than the int8 codes; at 100 TB the ranking phase's IO shrinks by the
    * same factor. Per candidate the work is M byte-indexed lookups into a
    * query-side table (ADC — computed once per query on the driver), then
    * the exact rescore of `k × rescoreFactor` survivors reuses the same
    * machinery as [[topKQuantized]]. Falls back to the int8 probe on an
    * index built without PQ. */
  def topKPq(queryIds: Seq[Long], k: Int, nProbe: Int = 2,
      rescoreFactor: Int = 4): DataFrame =
    if (pq.isEmpty) topKQuantized(queryIds, k, nProbe, rescoreFactor)
    else topKPqCore(fetchByIds(None, queryIds).toSeq.sortBy(_._1),
      k, nProbe, rescoreFactor, excludeSelf = true)

  /** [[topKPq]] with EXTERNAL query vectors (see [[topKForVectors]]). */
  def topKPqForVectors(queries: Seq[(Long, Seq[Double])], k: Int,
      nProbe: Int = 2, rescoreFactor: Int = 4): DataFrame = {
    validateExternal(queries)
    if (pq.isEmpty) topKQuantizedForVectors(queries, k, nProbe, rescoreFactor)
    else topKPqCore(queries, k, nProbe, rescoreFactor, excludeSelf = false)
  }

  private def topKPqCore(qLocal: Seq[(Long, Seq[Double])], k: Int,
      nProbe: Int, rescoreFactor: Int, excludeSelf: Boolean): DataFrame = {
    val spark = table.spark
    val books = pq.get
    val ks = books.ks
    val (probed, allLists) = probePlan(qLocal, nProbe)
    // ADC decomposition: dot(q, v) = dot(q, c_list) + dot(q, residual),
    // and dot(q, residual) ≈ Σ_m lut[m*ks + code_m] with
    // lut[m*ks + c] = dot(q_m, codeword_{m,c}). The LUT is per QUERY
    // (m × ks doubles — driver-trivial); dot(q, c_list) is a per-
    // (query, list) scalar riding the probe rows. Ranking divides by the
    // persisted exact vnorm; the query norm is constant per query and
    // cannot change its order.
    val lutByQ: Map[Long, Seq[Double]] = qLocal.map { case (qid, qv) =>
      val lut = new Array[Double](books.books.size * ks)
      var off = 0
      books.books.zipWithIndex.foreach { case (book, m) =>
        book.zipWithIndex.foreach { case (w, c) =>
          var s = 0.0; var j = 0
          while (j < w.length) { s += qv(off + j) * w(j); j += 1 }
          lut(m * ks + c) = s
        }
        off += book.head.length
      }
      qid -> lut.toSeq
    }.toMap
    val qRows = probed.map { case (qid, list) =>
      val qv = qLocal.find(_._1 == qid).get._2
      Row(qid, lutByQ(qid), IvfIndex.dotLocal(qv, centroids(list)), list)
    }
    val qSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("query_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("lut",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, containsNull = false)),
      org.apache.spark.sql.types.StructField("qc",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField(IvfIndex.ListCol,
        org.apache.spark.sql.types.IntegerType)))
    val q = spark.createDataFrame(java.util.Arrays.asList(qRows: _*), qSchema)
    // phase 1 — ADC ranking over pqcodes + vnorm only (every other column
    // unread); same one-metadata-pass shape as the int8 probe
    val listFilter = Exprs.in(IvfIndex.ListCol, allLists.map(Int.box): _*)
    val planned = table.newScan().filter(listFilter).planFiles()
    val candCols = Seq(idCol, IvfIndex.PqCodesCol, IvfIndex.VNormCol,
      IvfIndex.ListCol)
    val candRaw = readCandidates(planned, candCols, listFilter)
    val cand = candRaw.select(col(idCol).as("neighbor_id"),
      col(IvfIndex.PqCodesCol), col(IvfIndex.VNormCol), col(IvfIndex.ListCol))
    val ranked0 = cand.join(broadcast(q), Seq(IvfIndex.ListCol))
    val ranked = (if (excludeSelf)
        ranked0.filter(col("neighbor_id") =!= col("query_id"))
      else ranked0)
      .withColumn("sim",
        (col("qc") + Similarity.pqAdc(col(IvfIndex.PqCodesCol), col("lut"), ks))
          / col(IvfIndex.VNormCol))
    val survivors = Similarity.topKPerQuery(
        ranked.select("query_id", "neighbor_id", "sim"), k * rescoreFactor)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    rescoreExact(qLocal, survivors, k, listFilter, planned)
  }
}

object IvfIndex {
  val ListCol = "list"
  val CodesCol = "codes"
  val ScaleCol = "qscale"
  val VNormCol = "vnorm"
  val CNormCol = "cnorm"
  val PqCodesCol = "pqcodes"
  val IdColProp = "ann.id-col"
  val VecColProp = "ann.vec-col"
  val NListsProp = "ann.n-lists"
  val PqMProp = "ann.pq-m"
  val PqKsProp = "ann.pq-ks"

  /** The frozen product quantizer of a PQ-built index: `books(m)(c)` is
    * codeword c of subspace m (each subspace dim/M wide); `ks` is the
    * per-subspace codebook size (≤ 256 — a code is one byte). */
  final case class PqBooks(ks: Int, books: Seq[Seq[Seq[Double]]])
  /** Corpus-table provenance, stamped by the IceTable `build` overload and
    * advanced by [[refresh]]: the snapshot the index is CURRENT AS OF. */
  val CorpusLocProp = "ann.corpus-location"
  val CorpusSnapProp = "ann.corpus-snapshot-id"

  private def centroidsPath(location: String) = s"$location/ann/centroids.json"
  private def pqPath(location: String) = s"$location/ann/pq.json"

  private[llm] def normLocal(a: Seq[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * a(i); i += 1 }
    math.sqrt(s)
  }

  private[llm] def dotLocal(a: Seq[Double], b: Seq[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  private[llm] def cosineLocal(a: Seq[Double], b: Seq[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private val VersionPrefix = "ix-v"
  private def committedMarker(dir: String) = s"$dir/ann.committed"

  /** `(version, dir)` pairs under `location`, committed or not. */
  private def versionDirs(io: FileIO, location: String): Seq[(Int, String)] =
    if (!io.exists(location)) Nil
    else io.list(location).filter(_.isDirectory).flatMap { st =>
      st.getPath.getName.stripPrefix(VersionPrefix).toIntOption
        .filter(_ => st.getPath.getName.startsWith(VersionPrefix))
        .map(_ -> st.getPath.toString)
    }

  /** The directory holding the current committed index: the highest
    * marker-bearing version, falling back to the pre-versioned single-dir
    * layout (a table directly at `location`). */
  private def currentDir(io: FileIO, location: String): Option[String] =
    versionDirs(io, location)
      .filter { case (_, dir) => io.exists(committedMarker(dir)) }
      .sortBy(-_._1).headOption.map(_._2)
      .orElse(Some(location).filter(l => io.exists(s"$l/metadata")))

  /** Fit the quantizer on `corpus` (k-means as DataFrame jobs — see
    * [[Similarity.ivfFit]]), write the list-partitioned index table, persist
    * the centroids beside it. An existing index at `location` is replaced.
    * At 100 TB fit on `corpus.sample(...)` — the quantizer needs ~100×
    * nLists vectors, not the full corpus — and let the full assignment run
    * as the one distributed append here.
    *
    * Crash-atomic publish (same shape as the table commit protocol): each
    * build writes a fresh immutable `ix-v{N}` directory at its FINAL path
    * and commits it by creating an `ann.committed` marker (create-new
    * atomic). Readers only load marker-bearing versions, so a crash at any
    * point leaves the previous index loadable — there is never a window
    * with no index at `location`. Older versions are retired marker-first
    * only after the new marker lands. */
  def build(spark: SparkSession, corpus: DataFrame, idCol: String,
      vecCol: String, location: String, nLists: Int = -1, iters: Int = 2,
      encryption: EncryptionManager = PlaintextEncryptionManager,
      fitSampleFraction: Double = 1.0): IvfIndex =
    buildWith(spark, corpus, idCol, vecCol, location, nLists, iters,
      Map.empty, enc = encryption,
      fitCorpus = rowSample(corpus, fitSampleFraction))

  /** [[build]] from a graft TABLE, recording which corpus snapshot the
    * index covers — the provenance [[refresh]] needs to plan only the
    * appended delta instead of a full rebuild. The scan is PINNED to the
    * recorded snapshot: a concurrent corpus commit between the pointer
    * read and the scan would otherwise record snapshot X over snapshot
    * X+1's data, and the next refresh would re-index the X→X+1 delta
    * (refresh appends without a dedup anti-join — the watermark IS the
    * exactly-once guarantee, so it must match the indexed data exactly). */
  def buildFrom(spark: SparkSession, corpus: IceTable, idCol: String,
      vecCol: String, location: String, nLists: Int = -1,
      iters: Int = 2, fitSampleFraction: Double = 1.0): IvfIndex =
    corpus.meta.currentSnapshotId match {
      case Some(id) => buildWith(spark,
        corpus.newScan().useSnapshot(id).toDF, idCol, vecCol, location,
        nLists, iters,
        Map(CorpusLocProp -> corpus.location, CorpusSnapProp -> id.toString),
        enc = corpus.io.encryption,
        fitCorpus = fileSample(corpus, id, fitSampleFraction))
      case None => buildWith(spark, corpus.toDF, idCol, vecCol, location,
        nLists, iters, Map.empty, enc = corpus.io.encryption)
    }

  /** [[build]] plus a product quantizer: the index additionally carries an
    * M-byte `pqcodes` column (residual-encoded against the coarse
    * centroids — see [[graft.expressions.PqEncode]]) and persists the
    * per-subspace codebooks beside the centroids, enabling [[IvfIndex.topKPq]]'s
    * ADC ranking phase. `m` subspaces must divide the vector dimension;
    * `ks ≤ 256` codewords per subspace. */
  def buildPq(spark: SparkSession, corpus: DataFrame, idCol: String,
      vecCol: String, location: String, nLists: Int = -1, m: Int = 8,
      ks: Int = 256, iters: Int = 2,
      encryption: EncryptionManager = PlaintextEncryptionManager,
      fitSampleFraction: Double = 1.0): IvfIndex =
    buildWith(spark, corpus, idCol, vecCol, location, nLists, iters,
      Map.empty, pqParams = Some((m, ks)), enc = encryption,
      fitCorpus = rowSample(corpus, fitSampleFraction))

  /** [[buildFrom]] with a product quantizer (see [[buildPq]]) — snapshot-
    * pinned and refresh-capable like the plain build. */
  def buildPqFrom(spark: SparkSession, corpus: IceTable, idCol: String,
      vecCol: String, location: String, nLists: Int = -1, m: Int = 8,
      ks: Int = 256, iters: Int = 2,
      fitSampleFraction: Double = 1.0): IvfIndex =
    corpus.meta.currentSnapshotId match {
      case Some(id) => buildWith(spark,
        corpus.newScan().useSnapshot(id).toDF, idCol, vecCol, location,
        nLists, iters,
        Map(CorpusLocProp -> corpus.location, CorpusSnapProp -> id.toString),
        pqParams = Some((m, ks)), enc = corpus.io.encryption,
        fitCorpus = fileSample(corpus, id, fitSampleFraction))
      case None => buildWith(spark, corpus.toDF, idCol, vecCol, location,
        nLists, iters, Map.empty, pqParams = Some((m, ks)),
        enc = corpus.io.encryption)
    }

  /** Quantizer-fit sampling: quality needs ~100× nLists (and ~100× ks per
    * subspace) vectors, not the corpus — at 100 TB fitting on the full
    * corpus is almost all of the build's cost for no recall gain. Table
    * builds sample at the FILE level (planning-time — the unsampled files
    * are never read during the fit passes); DataFrame builds fall back to
    * row-level Bernoulli sampling (deterministic seed). The ASSIGNMENT
    * always runs over the full corpus — every vector lands in the index;
    * only the quantizer trains on less. Full-probe exactness is untouched
    * by construction (the rescore is exact regardless of the quantizer). */
  private def fileSample(corpus: IceTable, snapshotId: Long,
      fraction: Double): Option[DataFrame] = {
    require(fraction > 0 && fraction <= 1, s"bad fit sample $fraction")
    if (fraction >= 1.0) None
    else Some(corpus.newScan().useSnapshot(snapshotId)
      .sampleFiles(fraction, seed = 42L).toDF)
  }

  private def rowSample(corpus: DataFrame, fraction: Double): Option[DataFrame] = {
    require(fraction > 0 && fraction <= 1, s"bad fit sample $fraction")
    if (fraction >= 1.0) None else Some(corpus.sample(fraction, seed = 42L))
  }

  private def buildWith(spark: SparkSession, corpus: DataFrame, idCol: String,
      vecCol: String, location: String, nLists: Int,
      iters: Int, extraProps: Map[String, String],
      pqParams: Option[(Int, Int)] = None,
      enc: EncryptionManager = PlaintextEncryptionManager,
      fitCorpus: Option[DataFrame] = None): IvfIndex = {
    val n = if (nLists > 0) nLists else Similarity.listsFor(corpus.count())
    val fitDf = fitCorpus.getOrElse(corpus)
    val cents = Similarity.ivfFit(fitDf, idCol, vecCol, n, iters)
    // int8 codes + scale are INDEX columns: the quantized probe ranks over
    // them (4× fewer bytes than float32) and parquet column pruning keeps
    // them free for every other read
    val assignedBase = Similarity.quantizeInt8(corpus, idCol, vecCol)
      .select(col(idCol), col(vecCol),
        Similarity.nearestList(col(vecCol), cents).as(ListCol),
        col(CodesCol), col(ScaleCol),
        // persisted norms: probes then rank on ONE dot product per pair
        // instead of re-deriving both norms (3× the fold work) every query
        Similarity.l2norm(col(vecCol)).as(VNormCol),
        Similarity.l2norm(col(CodesCol)).as(CNormCol))
    // PQ: codebooks trained on the residuals under the just-fitted coarse
    // quantizer, then every row's M-byte code rides as one more column
    val pqBooks: Option[PqBooks] = pqParams.map { case (m, ks) =>
      // codebooks train on the (possibly sampled) fit corpus, assigned to
      // its coarse lists with the just-fitted centroids
      val fitAssigned =
        if (fitCorpus.isEmpty) assignedBase
        else fitDf.select(col(idCol), col(vecCol),
          Similarity.nearestList(col(vecCol), cents).as(ListCol))
      val books = Similarity.pqFit(fitAssigned, idCol, vecCol, ListCol,
        cents, m, ks, iters)
      PqBooks(books.head.size, books)
    }
    val assigned = pqBooks match {
      case Some(b) => assignedBase.withColumn(PqCodesCol,
        Similarity.pqEncode(col(vecCol), col(ListCol), cents, b.books))
      case None => assignedBase
    }
    // an index over an ENCRYPTED corpus is keyed under the same manager
    // automatically (buildFrom passes corpus.io.encryption): raw vectors
    // and int8/PQ codes are corpus content — a plaintext index table
    // beside an encrypted lake would leak exactly what the lake protects.
    // Keyed handles seal the sidecars (centroids/pq json) too.
    val io = new FileIO(spark.sparkContext.hadoopConfiguration, enc,
      enc != PlaintextEncryptionManager)
    val existing = versionDirs(io, location)
    val next = (0 +: existing.map(_._1)).max + 1
    val target = s"$location/$VersionPrefix$next"
    val schema = Schema.fresh(assigned.schema)
    val spec = PartitionSpec.builderFor(schema).identity(ListCol).build()
    try {
      val t = IceTable.createWith(spark, new TableOperations(target, io),
        schema, spec,
        properties = Map(IdColProp -> idCol, VecColProp -> vecCol,
          NListsProp -> n.toString,
          // many small list partitions per append: fanout avoids a sort.
          // Copy-on-write DML deliberately: refresh's changelog MERGE
          // touches ids scattered across every list partition, but an A/B
          // at 2M×64 showed merge-on-read no faster end-to-end (the
          // changelog diff and the matched-file scan dominate, not the
          // rewrite) while MoR deletes would ALSO knock probes off the
          // direct-parquet path until a compaction
          graft.meta.model.TableProperties.FanoutEnabled -> "true")
          ++ extraProps
          ++ pqBooks.map(b => Map(PqMProp -> b.books.size.toString,
            PqKsProp -> b.ks.toString)).getOrElse(Map.empty))
      io.writeString(centroidsPath(target), centroidsJson(cents))
      pqBooks.foreach(b => io.writeString(pqPath(target), pqJson(b)))
      t.append(assigned)
      // the commit point: create-new is atomic, and everything above wrote
      // only inside the yet-uncommitted version directory
      if (!io.writeAtomic(committedMarker(target), "committed"))
        throw new IllegalStateException(
          s"Concurrent build committed $target first")
    } catch {
      case e: Throwable => io.deleteRecursive(target); throw e
    }
    // retire superseded versions AFTER the new marker lands: marker first
    // (a half-deleted tree can never be mistaken for current), then the tree
    existing.foreach { case (_, dir) =>
      io.delete(committedMarker(dir))
      io.deleteRecursive(dir)
    }
    // pre-versioned single-dir layout: the old index lived AT location
    Seq("data", "metadata", "ann").map(s => s"$location/$s")
      .filter(io.exists).foreach(io.deleteRecursive)
    load(spark, location, enc)
  }

  /** Load the index; a KEYED index (built from an encrypted corpus) needs
    * the same manager — a plaintext handle refuses its sealed sidecars
    * and metadata loudly. */
  def load(spark: SparkSession, location: String,
      encryption: EncryptionManager = PlaintextEncryptionManager): IvfIndex = {
    val io = new FileIO(spark.sparkContext.hadoopConfiguration, encryption,
      encryption != PlaintextEncryptionManager)
    val dir = currentDir(io, location).getOrElse(
      throw new graft.table.NoSuchTableException(s"No ANN index at $location"))
    val t = IceTable.loadWith(spark, new TableOperations(dir, io))
    val pq = if (io.exists(pqPath(dir)))
      Some(parsePq(io.readString(pqPath(dir)))) else None
    new IvfIndex(t, parseCentroids(io.readString(centroidsPath(dir))), pq)
  }

  /** Outcome of [[refresh]]: the (possibly re-fitted) current index, the
    * row count appended incrementally (0 when a refit replaced the index
    * wholesale), and whether a full re-fit ran. */
  final case class RefreshResult(index: IvfIndex, appended: Long,
      refit: Boolean, deleted: Long = 0L)

  /** Incrementally catch the index up with its corpus table: plan ONLY the
    * files appended since the recorded corpus snapshot (the incremental-
    * read machinery — no full corpus pass), assign their vectors to the
    * EXISTING frozen centroids, append into the list partitions, and
    * advance the recorded snapshot. Falls back to a full re-fit
    * ([[buildFrom]], new `ix-v{N}` version) when the incremental path
    * cannot reconcile the corpus:
    *  - destructive snapshots (delete/overwrite) in the range — appended
    *    files alone can't express removed or rewritten rows;
    *  - the recorded snapshot is no longer an ancestor (rollback) or has
    *    been expired;
    *  - drift: the new-vector share exceeds `refitShare` — frozen
    *    centroids fit ever-worse as the distribution moves, so past the
    *    threshold a re-fit is cheaper than the recall loss.
    * A 1% daily delta therefore costs one small assignment job instead of
    * the ~5 full corpus passes a rebuild costs — the difference between
    * minutes and hours at production embedding-corpus scale. */
  def refresh(spark: SparkSession, corpus: IceTable, location: String,
      refitShare: Double = 0.2, iters: Int = 2): RefreshResult = {
    val idx = load(spark, location, corpus.io.encryption)
    val props = idx.table.meta.properties
    val recorded = props.get(CorpusSnapProp).map(_.toLong).getOrElse(
      throw new IllegalArgumentException(
        s"Index at $location records no corpus snapshot — build it with " +
          "IvfIndex.buildFrom(corpus) to enable incremental refresh"))
    val current = corpus.meta.currentSnapshotId.getOrElse(recorded)
    if (current == recorded) return RefreshResult(idx, 0L, refit = false)
    val nLists = props(NListsProp).toInt
    // a PQ index refits as a PQ index (same layout): dropping the codes on
    // a drift refit would silently demote every later probe to int8
    def refit(): RefreshResult = RefreshResult(
      idx.pq match {
        case Some(b) => buildPqFrom(spark, corpus, idx.idCol, idx.vecCol,
          location, nLists, b.books.size, b.ks, iters)
        case None =>
          buildFrom(spark, corpus, idx.idCol, idx.vecCol, location, nLists, iters)
      },
      appended = 0L, refit = true)
    val delta =
      try corpus.appendsBetween(recorded, current, skipDeleteSnapshots = false)
      catch {
        // delete/overwrite in range: appended files alone can't express
        // removed or rewritten rows — reconcile through the row-level
        // CHANGELOG instead (delta-bounded, like the append path); a
        // rollback or expired recorded snapshot still refits (the
        // changelog walk refuses those ranges too)
        case _: graft.table.ValidationException =>
          return changelogRefresh(spark, corpus, idx, recorded, current,
            refitShare).getOrElse(refit())
        case _: IllegalArgumentException => return refit()
      }
    val fresh = delta.select(idx.idCol, idx.vecCol)
    val newCount = fresh.count()
    if (newCount == 0) {
      idx.table.updateProperties(Map(CorpusSnapProp -> current.toString))
      return RefreshResult(idx, 0L, refit = false)
    }
    // metadata-only index size (per-file record counts) — no data read
    val existing = idx.table.newScan().planFiles().map(_.file.recordCount).sum
    if (newCount.toDouble / (existing + newCount) > refitShare) return refit()
    // ONE atomic commit carries both the assigned rows and the advanced
    // watermark, so a row is indexed iff the watermark covers it — a
    // crashed refresh replays the whole delta, a committed one excludes
    // it, and no anti-join against the (corpus-sized) index id column is
    // needed (sync keeps that dedup for caller-supplied deltas; at 2M×64
    // the id-scan + anti-join was most of refresh's 3.9 s wall)
    idx.table.newTransaction()
      .append(idx.assignToLists(fresh))
      .updateProperties(Map(
        CorpusSnapProp -> current.toString, CorpusLocProp -> corpus.location))
      .commit()
    RefreshResult(idx, newCount, refit = false)
  }

  /** DML-range incremental refresh: when the corpus range contains
    * destructive snapshots, reduce the row-level changelog to ONE net
    * change per id (last change wins; a same-snapshot delete+insert pair —
    * the CoW update shape — nets to the insert) and apply it to the index
    * as a single MERGE: net deletes drop the id's row, net inserts assign
    * the vector to the frozen centroids and update-or-insert. The cost is
    * bounded by the CHANGED rows, not the corpus — the same delta-bounded
    * promise as the append path, now covering deletes and updates.
    *
    * Crash-window semantics: the MERGE and the watermark advance are two
    * commits, but a rerun after a crash between them CONVERGES — the
    * replayed changelog's deletes match nothing, its upserts rewrite the
    * same values, and the rerun's final watermark commit closes the
    * window (asserted by LlmSpec's rerun case). Returns None when the
    * changelog itself refuses the range (expired/rolled-back watermark) or
    * the changed share trips `refitShare` — the caller then refits. */
  private def changelogRefresh(spark: SparkSession, corpus: IceTable,
      idx: IvfIndex, recorded: Long, current: Long,
      refitShare: Double): Option[RefreshResult] = {
    import graft.table.Changelog
    val ch =
      try Changelog.changes(corpus, Some(recorded), Some(current))
      catch {
        case _: IllegalArgumentException => return None
        case _: graft.table.ValidationException => return None
      }
    val idCol = idx.idCol
    val vecCol = idx.vecCol
    // net change per id: max by (ordinal, isInsert) — the insert of a
    // same-ordinal delete+insert pair wins, matching post-snapshot state
    val net = ch.select(col(idCol),
        struct(col(Changelog.OrdinalCol),
          (col(Changelog.ChangeTypeCol) === Changelog.Insert).cast("int").as("_ins"),
          col(vecCol)).as("_c"))
      .groupBy(idCol)
      .agg(max_by(col("_c"), struct(col("_c." + Changelog.OrdinalCol),
        col("_c._ins"))).as("_last"))
      .select(col(idCol), col("_last._ins").as("_ins"),
        col("_last." + vecCol).as(vecCol))
    val counts = net.groupBy(col("_ins")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val upserts = counts.getOrElse(1, 0L)
    val dels = counts.getOrElse(0, 0L)
    if (upserts + dels == 0) {
      idx.table.updateProperties(Map(CorpusSnapProp -> current.toString))
      return Some(RefreshResult(idx, 0L, refit = false))
    }
    val existing = idx.table.newScan().planFiles().map(_.file.recordCount).sum
    if ((upserts + dels).toDouble / math.max(1L, existing) > refitShare)
      return None
    // one MERGE carries deletes, replaced vectors, and fresh inserts; the
    // source has exactly one row per id (the MERGE cardinality check
    // would refuse otherwise)
    val idxStruct = idx.table.schema.struct
    val assigned = idx.assignToLists(
        net.where(col("_ins") === 1).select(col(idCol), col(vecCol)))
      .withColumn("_gf_op", lit("I"))
    val dRows = net.where(col("_ins") === 0).select(
      idxStruct.fields.map(f =>
        if (f.name == idCol) col(idCol)
        else lit(null).cast(f.dataType).as(f.name)).toIndexedSeq :+
        lit("D").as("_gf_op"): _*)
    val src = assigned.select((idxStruct.fieldNames.map(col).toIndexedSeq :+
      col("_gf_op")): _*).unionByName(dRows)
    val op = col(graft.table.MergeBuilder.SourcePrefix + "_gf_op")
    idx.table.merge(src, Seq(idCol))
      .whenMatchedDelete(Some(op === "D"))
      .whenMatchedUpdateAll(Some(op === "I"))
      .whenNotMatchedInsertAll(Some(op === "I"))
      .execute()
    idx.table.updateProperties(Map(
      CorpusSnapProp -> current.toString, CorpusLocProp -> corpus.location))
    Some(RefreshResult(load(spark, idx.table.location, corpus.io.encryption),
      upserts, refit = false, deleted = dels))
  }

  // the PQ file is line-oriented (header, then one centroidsJson matrix
  // per subspace) — reusing the centroid matrix codec instead of inventing
  // a 3-level nested format
  private[graft] def pqJson(b: PqBooks): String =
    (s"pq1 ${b.books.size} ${b.ks}" +:
      b.books.map(centroidsJson)).mkString("\n")

  private[graft] def parsePq(s: String): PqBooks = {
    val lines = s.trim.split('\n')
    val header = lines.head.split(' ')
    require(header.length == 3 && header(0) == "pq1",
      s"unrecognized PQ codebook header: ${lines.head}")
    val m = header(1).toInt
    val books = lines.tail.take(m).toSeq.map(parseCentroids)
    require(books.size == m, s"PQ codebook file truncated: ${books.size}/$m")
    PqBooks(header(2).toInt, books)
  }

  // centroids are a rectangular double matrix — hand-rolled JSON keeps the
  // on-disk format obvious and avoids dragging a JSON mapper into llm/
  private[llm] def centroidsJson(cents: Seq[Seq[Double]]): String =
    cents.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")

  private[llm] def parseCentroids(s: String): Seq[Seq[Double]] = {
    val trimmed = s.trim.stripPrefix("[").stripSuffix("]")
    if (trimmed.isEmpty) Nil
    else trimmed.split("""\]\s*,\s*\[""").toSeq
      .map(_.stripPrefix("[").stripSuffix("]"))
      .map(row => row.split(',').toSeq.map(_.trim.toDouble))
  }
}
