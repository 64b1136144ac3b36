package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeExpression, ColumnNodeToExpressionConverter, ExpressionUtils}

/** Bridge into Spark's `private[sql]` Column <-> catalyst Expression
  * converters (Spark 4 moved these behind the classic facade). Living in the
  * `org.apache.spark.sql` namespace is the standard extension-library
  * technique the reference also uses for its Spark integration.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The single-part column names `c` reads. A DataFrame-API column
    * (`col("k")`) stays an unconverted `ColumnNodeExpression` until
    * analysis; those nodes are converted here so their attributes show. */
  def referencedNames(c: Column): Seq[String] =
    expression(c).transform {
      case ColumnNodeExpression(node) => ColumnNodeToExpressionConverter(node)
    }.collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          if a.nameParts.length == 1 => a.nameParts.head
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference => a.name
    }

  /** Parse a SQL boolean/scalar expression into a catalyst tree (Spark 4's
    * `functions.expr` defers parsing into a lazy SqlExpression node). */
  def parseExpression(spark: org.apache.spark.sql.SparkSession, sql: String): Expression =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.sqlParser.parseExpression(sql)

  /** The physical-plan RDD of internal rows (for `BaseRelation`s with
    * `needConversion = false`; Spark 4 hides `queryExecution` behind the
    * classic facade). */
  def toInternalRdd(df: org.apache.spark.sql.DataFrame): org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.toRdd

  /** Drop the storage blocks behind a `localCheckpoint`ed Dataset.
    * `Dataset.unpersist` only clears CacheManager entries (`persist`); a
    * local checkpoint lives as RDD-level persistence under a `LogicalRDD`
    * leaf, so releasing it needs the underlying RDD's own unpersist. */
  def unpersistCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.analyzed.foreach {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          lr.rdd.unpersist(blocking = true)
        case _ => ()
      }

  /** The reliable-checkpoint directory behind a `checkpoint(true)`ed
    * Dataset, if any: Spark never deletes non-streaming checkpoint files
    * unless `spark.cleaner.referenceTracking.cleanCheckpoints` is on (and
    * the RDD is GC'd), so loops that re-checkpoint per round use this to
    * delete the PREVIOUS round's files once the next one is materialized. */
  def reliableCheckpointFile(df: org.apache.spark.sql.DataFrame): Option[String] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.analyzed.collectFirst {
        case lr: org.apache.spark.sql.execution.LogicalRDD
            if lr.rdd.getCheckpointFile.isDefined =>
          lr.rdd.getCheckpointFile.get
      }

  /** Test seam: clear the context's reliable checkpoint dir —
    * `SparkContext.setCheckpointDir` has no unsetter and `checkpointDir`
    * is `private[spark]`, but capacity guards branch on its absence. */
  def clearCheckpointDir(sc: org.apache.spark.SparkContext): Unit =
    sc.checkpointDir = None

  /** A DataFrame directly over an InternalRow RDD (`internalCreateDataFrame`
    * is `private[sql]`); re-anchors a streaming batch's physical rows so a
    * V1 `Sink` can run batch writes over them. */
  def internalCreateDataFrame(spark: org.apache.spark.sql.SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType,
      isStreaming: Boolean = false): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming)

  /** `CatalogV2Util.v2ColumnsToStructType` is `private[sql]`. */
  def v2ColumnsToStructType(
      cols: Array[org.apache.spark.sql.connector.catalog.Column]): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.connector.catalog.CatalogV2Util.v2ColumnsToStructType(cols)

  /** The executed physical plan of a DataFrame (plan-shape assertions). */
  def executedPlan(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.execution.SparkPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.executedPlan

  /** The analyzed logical plan of a DataFrame (plan-shape assertions). */
  def analyzedPlan(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.analyzed

  /** A full clone of the session — same shared state and runtime conf values,
    * but an isolated `SQLConf` (`cloneSession` is `private[sql]`). Scopes
    * per-scan settings like `spark.sql.files.maxPartitionBytes` (split-size
    * read option) to one DataFrame without touching the caller's session. */
  def cloneSession(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** A DataFrame over a resolved logical plan (`Dataset.ofRows` is
    * `private[sql]`); used to turn a MERGE source subplan into a DataFrame. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The session's file-split settings — (`maxPartitionBytes`,
    * `openCostInBytes`, `minPartitionNum` defaulting to the leaf-node
    * parallelism), the inputs of Spark's own `FilePartition.maxSplitBytes`
    * formula (`SQLConf` accessors are `private[sql]`). */
  def fileSplitConf(spark: org.apache.spark.sql.SparkSession): (Long, Long, Int) = {
    val s = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val c = s.sessionState.conf
    (c.filesMaxPartitionBytes, c.filesOpenCostInBytes,
      c.filesMinPartitionNum.getOrElse(s.leafNodeDefaultParallelism))
  }

  /** A serializable per-file reader built from Spark's own `FileFormat`
    * implementations (`buildReaderWithPartitionValues`, the same factory
    * `FileSourceScanExec` ships to executors). Without `vectorized` the
    * iterator yields `InternalRow`s, which is what a row-based DSv2
    * `PartitionReader` must produce (delete files, the micro-batch
    * streaming path; ref `RowDataReader.java` reads row-at-a-time for the
    * same reason). When `vectorized` and the format supports whole-batch
    * reads for this schema, the returned iterator yields `ColumnarBatch`es
    * (cast to `InternalRow`, the same contract `FileSourceScanExec` relies
    * on) and the second element is true.
    * `filters` are data-source filters in the file's own column names —
    * parquet row-group/dictionary pruning and ORC SArg pushdown apply, and
    * columns absent from a given file are skipped by the format itself. */
  def fileReader(spark: org.apache.spark.sql.SparkSession, format: String,
      dataSchema: org.apache.spark.sql.types.StructType,
      requiredSchema: org.apache.spark.sql.types.StructType,
      filters: Seq[org.apache.spark.sql.sources.Filter],
      vectorized: Boolean,
      extraOptions: Map[String, String] = Map.empty)
      : (org.apache.spark.sql.execution.datasources.PartitionedFile => Iterator[org.apache.spark.sql.catalyst.InternalRow], Boolean) = {
    // the formats read their vectorized flags from the session: use the
    // caller's when both already hold the requested value, else a clone
    // (~1 ms) with the flags set
    val caller = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val callerConf = caller.sessionState.conf
    val classic =
      if (callerConf.parquetVectorizedReaderEnabled == vectorized &&
          callerConf.orcVectorizedReaderEnabled == vectorized) caller
      else {
        val c = caller.cloneSession()
        c.conf.set("spark.sql.parquet.enableVectorizedReader", vectorized.toString)
        c.conf.set("spark.sql.orc.enableVectorizedReader", vectorized.toString)
        c
      }
    val fmt = fileFormat(format)
    val batches = vectorized && fmt.supportBatch(classic, requiredSchema)
    // Spark 4 requires the caller to declare whether batches are expected
    val options = extraOptions ++ Map(
      org.apache.spark.sql.execution.datasources.FileFormat.OPTION_RETURNING_BATCH ->
        batches.toString)
    // extraOptions are merged into the per-reader hadoop conf too: parquet
    // modular decryption (crypto factory + manager) rides the conf, not the
    // format's option map
    val hadoopConf = classic.sessionState.newHadoopConfWithOptions(extraOptions)
    val reader = fmt.buildReaderWithPartitionValues(classic, dataSchema,
      org.apache.spark.sql.types.StructType(Nil), requiredSchema, filters.toSeq,
      options, hadoopConf)
    (reader, batches)
  }

  private def fileFormat(format: String): org.apache.spark.sql.execution.datasources.FileFormat =
    format match {
      case "parquet" => new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
      // the guarded subclass enforces the plaintext-refusal flag at task
      // open (encryption-required tables); a no-op when the flag is absent,
      // and its writer is ORC's own
      case "orc" => new GraftGuardedOrcFileFormat
      case "avro" => new graft.sources.GraftAvroFileFormat
      case other => throw new IllegalArgumentException(s"No file format: $other")
    }

  /** Write `df` as `format` files under `outDir` through Spark's file writer
    * (`FileFormatWriter.write`, the engine of `DataFrameWriter.save`) with
    * the caller's commit protocol and stats trackers; `partitionCols` become
    * hive-style directories, `options` reach the format and the per-write
    * Hadoop conf. It runs as a SQL execution named `executionName`, so
    * Spark and query-execution listeners see it like any other action. */
  def writeFiles(df: org.apache.spark.sql.DataFrame, format: String,
      outDir: String, partitionCols: Seq[String], options: Map[String, String],
      committer: org.apache.spark.internal.io.FileCommitProtocol,
      trackers: Seq[org.apache.spark.sql.execution.datasources.WriteJobStatsTracker],
      executionName: String): Unit = {
    import org.apache.spark.sql.execution.datasources.FileFormatWriter
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val spark = ds.sparkSession
    val qe = ds.queryExecution
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe, Some(executionName)) {
      val plan = qe.executedPlan
      val output = plan.output
      FileFormatWriter.write(spark, plan, fileFormat(format), committer,
        FileFormatWriter.OutputSpec(outDir, Map.empty, output),
        spark.sessionState.newHadoopConfWithOptions(options),
        partitionCols.map(n => output.find(_.name == n).get), None, trackers, options)
    }
  }

  /** Driver-side synthetic task attempt ids: NEGATIVE and decrementing.
    * Real task attempt ids are a non-negative counter, so a negative id can
    * never collide with a live task's lock registry in the shared local-mode
    * `BlockInfoManager`; decrementing keeps CONCURRENT driver-side blocks
    * (two by-id probes on different threads) in distinct registry slots —
    * with a shared id, the first finisher's `releaseAllLocksForTask` would
    * silently release the other thread's broadcast/block read locks mid-use. */
  private val driverTaskIds = new java.util.concurrent.atomic.AtomicLong(-1L)

  /** Run a driver-side block under a synthetic `TaskContext` so the close
    * hooks Spark's `FileFormat` readers register via
    * `addTaskCompletionListener` actually fire: outside a task,
    * `TaskContext.get()` is null and the registration is skipped, so an
    * exception mid-iteration (or an abandoned iterator) leaks open file
    * handles. The listeners run in the `finally`, on success AND failure —
    * the same lifecycle a real task would give them. The context carries a
    * fresh negative attempt id per call (see [[driverTaskIds]]) and any
    * previously-set context is restored, not unconditionally unset. */
  def withDriverTaskContext[T](f: => T): T = {
    val tc = new org.apache.spark.TaskContextImpl(
      0, 0, 0, driverTaskIds.getAndDecrement(), 0, 1,
      null, new java.util.Properties(), null)
    // the block manager tracks per-task read locks (broadcast reads inside
    // the block take them): a context whose attempt id was never registered
    // NPEs on the first broadcast access, so register it like a real task
    org.apache.spark.storage.graft.BlockBridge.registerTask(tc.taskAttemptId)
    val prev = org.apache.spark.TaskContext.get()
    org.apache.spark.TaskContext.setTaskContext(tc)
    var failure: Option[Throwable] = None
    try f
    catch { case e: Throwable => failure = Some(e); throw e }
    finally {
      try tc.markTaskCompleted(failure)
      finally {
        org.apache.spark.storage.graft.BlockBridge
          .releaseAllLocksForTask(tc.taskAttemptId)
        if (prev != null) org.apache.spark.TaskContext.setTaskContext(prev)
        else org.apache.spark.TaskContext.unset()
      }
    }
  }

  /** DSv2 runtime-filter `Predicate`s → V1 `Filter`s (`PredicateUtils` is
    * `private[sql]`); predicates with no V1 equivalent are dropped —
    * runtime pruning is best-effort. */
  def predicatesToV1(preds: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Seq[org.apache.spark.sql.sources.Filter] =
    preds.toSeq.flatMap(p =>
      org.apache.spark.sql.internal.connector.PredicateUtils.toV1(p))

  /** `PartitionedFile` constructor (its shape is `execution`-internal).
    * `start`/`length` select a byte range: parquet/ORC readers snap it to
    * the row groups/stripes whose midpoint falls inside, Avro container
    * files sync to the next block — the same contract Spark's own
    * file-splitting relies on. */
  def partitionedFile(path: String, start: Long, length: Long, fileSize: Long)
      : org.apache.spark.sql.execution.datasources.PartitionedFile =
    org.apache.spark.sql.execution.datasources.PartitionedFile(
      org.apache.spark.sql.catalyst.InternalRow.empty,
      org.apache.spark.paths.SparkPath.fromPathString(path),
      start, length, Array.empty, 0L, fileSize,
      Map.empty)

  def partitionedFile(path: String, length: Long)
      : org.apache.spark.sql.execution.datasources.PartitionedFile =
    partitionedFile(path, 0L, length, length)
}
