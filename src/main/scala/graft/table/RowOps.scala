package graft.table

import graft.meta.expr._
import graft.meta.model._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Copy-on-write row-level operations as DataFrame programs
  * (ref `spark3-extensions/.../RewriteDelete.scala`, `RewriteUpdate.scala`,
  * `RewriteMergeInto.scala`, and the metadata-only path of
  * `SparkTable.canDeleteWhere` + `StrictMetricsEvaluator`).
  */
private[table] object RowOps {

  /** Split planned tasks into (whole, partial): whole = files where the
    * strict partition projection or strict metrics PROVE every row matches
    * `bound` (the metadata-only fast path, shared by CoW overwrite and the
    * merge-on-read delete). */
  private[table] def strictPartition(m: TableMetadata, bound: Expr,
      tasks: Seq[FileScanTask]): (Seq[FileScanTask], Seq[FileScanTask]) =
    tasks.partition { t =>
      val spec = m.specById(t.file.specId)
      val partLookup: Int => Any = { fid =>
        val i = spec.fields.indexWhere(_.fieldId == fid)
        if (i >= 0) t.file.partition(i) else null
      }
      RowEvaluator.eval(Projections.strict(spec, m.schema, bound), partLookup) ||
        StrictMetricsEvaluator.eval(bound, Reads.statsOf(t.file))
    }

  /** DELETE (df=None) / overwrite-by-filter (df=Some): files whose every row
    * matches are dropped metadata-only; partially-matching files are
    * rewritten keeping rows where the condition is not TRUE (null-safe,
    * like ref's `Not(EqualNullSafe(cond, true))`).
    *
    * `rowCond` carries a condition the predicate ADT can't express (SQL
    * LIKE, arithmetic, …): `filter` is then only a WEAKER pruning bound, so
    * the metadata-only fast path is disabled (strictness can't be proven)
    * and every pruned-in file is rewritten against `rowCond` exactly. */
  def overwrite(table: IceTable, filter: Expr, replacement: Option[DataFrame],
      rowCond: Option[Column] = None,
      extraSummary: Map[String, String] = Map.empty): Unit = {
    val m = table.meta
    val schema = m.schema
    val bound = Binder.bind(schema, filter)
    val tasks = table.newScan().filter(filter).planFiles()
    val (whole, partial) =
      if (rowCond.nonEmpty) (Nil, tasks)
      else strictPartition(m, bound, tasks)
    val rewritten: Seq[DataFileMeta] =
      if (partial.isEmpty) Nil
      else {
        // kept rows are UNCHANGED: a preserving rewrite carries both
        // their id and their original last-updated sequence
        val preserve = Writes.lineagePreserve(m)
        val df = Reads.readTasksWithDeletes(table, m,
          partial.map(_.copy(residual = TrueExpr)),
          table.newScan().planDeletes(), schema.columnNames, TrueExpr,
          rowPositions = false, withLineage = preserve)
        val cond = rowCond.getOrElse(SparkConv.toColumn(bound, schema))
        val keep = df.filter(!(cond <=> lit(true)))
        Writes.writeDataFiles(table.spark, table, m, keep,
            lineageCols = preserve)
      }
    val added = rewritten ++
      replacement.map(r => Writes.writeDataFiles(table.spark, table, m, r)).getOrElse(Nil)
    val removed = tasks.map(_.file.path).toSet
    if (removed.isEmpty && added.isEmpty) return // no-op delete
    val op = if (replacement.isEmpty) Operation.Delete else Operation.Overwrite
    // DELETE defaults to serializable (ref DELETE_ISOLATION_LEVEL); plain
    // overwrite-by-filter (INSERT OVERWRITE) defaults to snapshot — a
    // concurrent append outside the replaced range is not a conflict there
    val isolation = m.property(TableProperties.DeleteIsolationLevel,
      if (replacement.isEmpty) TableProperties.IsolationSerializable
      else TableProperties.IsolationSnapshot)
    table.commitSnapshot(op, added, removed,
      Map("metadata-only-deleted-files" -> whole.size.toString) ++ extraSummary,
      validate = Some(ConflictValidation(m.currentSnapshotId, filter, isolation)),
      removedMeta = tasks.map(_.file))
  }

  /** Dynamic partition overwrite (ref `BaseReplacePartitions`): write the
    * incoming data, then atomically swap out every live file in a touched
    * partition. */
  def overwritePartitions(table: IceTable, df: DataFrame): Unit = {
    val m = table.meta
    require(m.spec.isPartitioned, "overwritePartitions requires a partitioned table")
    val written = Writes.writeDataFiles(table.spark, table, m, df)
    val touched = written.map(_.partition).toSet
    val removedFiles = m.currentSnapshot.map { snap =>
      table.liveEntries(m, snap)
        .filter(e => e.dataFile.content == FileContent.Data &&
          e.dataFile.specId == m.defaultSpecId &&
          touched.contains(e.dataFile.partition))
        .map(_.dataFile)
    }.getOrElse(Nil)
    table.commitSnapshot(Operation.Overwrite, written,
      removedFiles.map(_.path).toSet,
      Map("replaced-partitions" -> touched.size.toString),
      removedMeta = removedFiles)
  }

  /** `a.b.c` path → the nested field's type in `t`. */
  private def nestedType(t: org.apache.spark.sql.types.DataType,
      path: Seq[String]): org.apache.spark.sql.types.DataType =
    path.foldLeft(t) {
      case (s: org.apache.spark.sql.types.StructType, n) => s(n).dataType
      case (other, n) => throw new IllegalArgumentException(
        s"Cannot descend into $other with field $n")
    }

  /** Project `df` to the schema columns with `assignments` applied where
    * `cond` holds (dotted keys SET nested struct fields). Shared by the
    * copy-on-write UPDATE and the merge-on-read updated-row append. */
  private[table] def applyAssignments(schema: graft.meta.Schema, df: DataFrame,
      assignments: Map[String, Column], cond: Column,
      /** Extra columns carried through the projection untouched (row
        * lineage in preserving merge-on-read updates). */
      keepCols: Seq[String] = Nil): DataFrame = {
    // keys may be dotted paths into struct columns (nested SET)
    val byTop = assignments.groupBy(_._1.split('.').head)
    byTop.keys.foreach(k => require(schema.contains(k), s"Unknown column: $k"))
    df.select(keepCols.map(col) ++ schema.columnNames.map { n =>
      byTop.get(n) match {
        case Some(as) =>
          val topType = schema.fieldType(schema.fieldId(n))
          val newVal = as.foldLeft(col(n)) { case (acc, (key, v)) =>
            val path = key.split('.').toSeq
            if (path.size == 1) v.cast(topType)
            else acc.withField(path.tail.mkString("."),
              v.cast(nestedType(topType, path.tail)))
          }
          when(cond, newVal).otherwise(col(n)).as(n)
        case None => col(n)
      }
    }: _*)
  }

  /** UPDATE SET: single-job rewrite of affected files with
    * `If(cond, newValue, oldValue)` projections (ref
    * `RewriteUpdate.scala:55`). `rowCond` as in [[overwrite]]: the exact
    * condition when `filter` is only a weaker pruning bound. */
  def update(table: IceTable, filter: Expr, assignments: Map[String, Column],
      rowCond: Option[Column] = None,
      extraSummary: Map[String, String] = Map.empty): Unit = {
    val m = table.meta
    val schema = m.schema
    val bound = Binder.bind(schema, filter)
    val tasks = table.newScan().filter(filter).planFiles()
    if (tasks.isEmpty) return
    // preserving rewrite (row lineage): unchanged rows keep id AND seq;
    // updated rows keep id with a NULL materialized seq (inherit this
    // commit's sequence — "last updated now")
    val preserve = Writes.lineagePreserve(m)
    val df = Reads.readTasksWithDeletes(table, m,
      tasks.map(_.copy(residual = TrueExpr)),
      table.newScan().planDeletes(), schema.columnNames, TrueExpr,
      rowPositions = false, withLineage = preserve)
    val cond = rowCond.getOrElse(SparkConv.toColumn(bound, schema)) <=> lit(true)
    val dfL = if (!preserve) df
      else df.withColumn("_gf_last_seq",
        when(cond, lit(null).cast("long")).otherwise(col("_gf_last_seq")))
    val updated = applyAssignments(schema, dfL, assignments, cond,
      keepCols = if (preserve) Seq("_gf_row_id", "_gf_last_seq") else Nil)
    val written = Writes.writeDataFiles(table.spark, table, m, updated,
        lineageCols = preserve)
    table.commitSnapshot(Operation.Overwrite, written, tasks.map(_.file.path).toSet,
      extraSummary,
      validate = Some(ConflictValidation(m.currentSnapshotId, filter,
        m.property(TableProperties.UpdateIsolationLevel,
          TableProperties.IsolationSerializable))),
      removedMeta = tasks.map(_.file))
  }
}

/** MERGE INTO as a DataFrame program (ref `RewriteMergeInto.scala:65-174`,
  * `MergeIntoExec.scala:78`): dynamic file filter → join → first-matching-
  * clause-wins projection → copy-on-write rewrite, or merge-on-read
  * position deletes plus appended rows, in one commit. One executor serves
  * both ways of describing the join: by `keys` ([[IceTable.merge]], a
  * USING join) or by an ON condition ([[IceTable.mergeOn]], an expression
  * join and the only form that takes WHEN NOT MATCHED BY SOURCE). Source
  * columns are exposed to the ON condition and to clause conditions/values
  * as `_s_<name>`.
  *
  * {{{
  * table.merge(source, keys = Seq("id"))
  *   .whenMatchedDelete(Some(col("_s_op") === "D"))
  *   .whenMatchedUpdateAll()
  *   .whenNotMatchedInsertAll()
  *   .execute()
  * }}}
  */
final class MergeBuilder private[table] (table: IceTable, source: DataFrame,
    keys: Seq[String], onCond: Option[Column] = None) {
  import MergeBuilder._

  private sealed trait Clause { def cond: Option[Column]; def bySource: Boolean }
  private case class UpdateClause(cond: Option[Column], set: Map[String, Column],
      bySource: Boolean = false) extends Clause
  private case class DeleteClause(cond: Option[Column],
      bySource: Boolean = false) extends Clause
  private case class InsertClause(cond: Option[Column], values: Map[String, Column])
      extends Clause { def bySource = false }

  private var clauses: Vector[Clause] = Vector.empty

  private def srcCol(n: String): Column = col(SourcePrefix + n)

  /** First-matching-clause-wins CASE over the clauses in declaration order:
    * a clause fires on a row when its row kind (`kind`) and its own
    * condition hold, and the first clause to fire yields `value`; a row no
    * clause fires on yields `otherwise`. Keep, emit, fired, updated and
    * every column's projection are this one fold. */
  private def firstMatch(kind: Clause => Column, otherwise: Column)(
      value: Clause => Column): Column =
    clauses.foldLeft(when(lit(false), otherwise)) { (acc, c) =>
      acc.when(c.cond.fold(kind(c))(kind(c) && _), value(c))
    }.otherwise(otherwise)

  def whenMatchedUpdate(set: Map[String, Column], cond: Option[Column] = None): MergeBuilder = {
    clauses :+= UpdateClause(cond, set); this
  }
  def whenMatchedUpdateAll(cond: Option[Column] = None): MergeBuilder = {
    val schema = table.schema
    val set = schema.columnNames.filterNot(keys.contains)
      .map(n => n -> srcCol(n)).toMap
    clauses :+= UpdateClause(cond, set); this
  }
  def whenMatchedDelete(cond: Option[Column] = None): MergeBuilder = {
    clauses :+= DeleteClause(cond); this
  }
  def whenNotMatchedInsert(values: Map[String, Column], cond: Option[Column] = None): MergeBuilder = {
    clauses :+= InsertClause(cond, values); this
  }
  def whenNotMatchedInsertAll(cond: Option[Column] = None): MergeBuilder = {
    val values = table.schema.columnNames.map(n => n -> srcCol(n)).toMap
    clauses :+= InsertClause(cond, values); this
  }
  /** WHEN NOT MATCHED BY SOURCE THEN UPDATE (target rows with no source
    * match; conditions/values may reference target columns only). */
  def whenNotMatchedBySourceUpdate(set: Map[String, Column],
      cond: Option[Column] = None): MergeBuilder = {
    clauses :+= UpdateClause(cond, set, bySource = true); this
  }
  /** WHEN NOT MATCHED BY SOURCE THEN DELETE. */
  def whenNotMatchedBySourceDelete(cond: Option[Column] = None): MergeBuilder = {
    clauses :+= DeleteClause(cond, bySource = true); this
  }

  def execute(): Unit = {
    val keyed = onCond.isEmpty
    if (keyed) {
      require(keys.nonEmpty, "merge requires join keys (use merge(source, keys))")
      require(!clauses.exists(_.bySource),
        "NOT MATCHED BY SOURCE clauses require mergeOn(source, cond)")
    }
    val spark = table.spark
    val m = table.meta
    val schema = m.schema
    val hasInserts = clauses.exists(_.isInstanceOf[InsertClause])

    // The join, described once. Keyed: a USING join on the keys. ON: an
    // expression join; Catalyst still extracts any equi-conjuncts for
    // hash/sort-merge join planning, and a pure non-equi ON degrades to a
    // nested-loop join, as in the reference. `joinCols` are the target
    // columns the join reads (what the probe and the anti-join project).
    val joinCols: Seq[String] = onCond.fold(keys) { cond =>
      val refs = org.apache.spark.sql.graft.ColumnBridge.referencedNames(cond)
      val cols = schema.columnNames.filter(refs.contains(_))
      require(cols.nonEmpty, s"ON condition references no target column: $cond")
      cols
    }
    def join(l: DataFrame, r: DataFrame, how: String): DataFrame =
      onCond.fold(l.join(r, keys, how))(l.join(r, _, how))
    def project(kind: Clause => Column, otherwise: String => Column)(n: String): Column =
      firstMatch(kind, otherwise(n)) {
        case UpdateClause(_, set, _) => set.getOrElse(n, col(n))
        case _: DeleteClause => col(n)
        case InsertClause(_, values) => values.getOrElse(n, lit(null))
      }.cast(schema.fieldType(schema.fieldId(n))).as(n)

    // every source column as `_s_<name>`; a keyed merge also keeps its raw
    // key columns, the USING join's columns (an ON join sees only the
    // prefixed names, so none can clash with a target column)
    val srcPlan = source.select((if (keyed) keys.map(col) else Nil) ++
      source.columns.map(c => col(c).as(SourcePrefix + c)): _*)

    // Insert-only MERGE (ref RewriteMergeInto.scala:81,99): LEFT ANTI join of
    // the source against a join-column-only target scan — no target files
    // are rewritten, so this is a pure append of the not-matched source rows.
    if (clauses.forall(_.isInstanceOf[InsertClause])) {
      val always: Clause => Column = _ => lit(true)
      val rows = join(srcPlan, table.newScan().select(joinCols: _*).toDF, "left_anti")
        .filter(firstMatch(always, lit(false))(_ => lit(true)))
        .select(schema.columnNames.map(project(always, _ => lit(null))): _*)
      val written = Writes.writeDataFiles(spark, table, m, rows)
      if (written.nonEmpty)
        table.commitSnapshot(Operation.Append, written, Set.empty,
          Map("merge-insert-only" -> "true"))
      return
    }

    // The source plan runs twice — file-filter probe, then rewrite join —
    // so materialize it once (ref RewriteRowLevelOperationHelper
    // buildScanPlan caches the source too).
    val src = srcPlan.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    // 1+2. dynamic file filter + cardinality check, folded into ONE probe
    // job (ref DynamicFileFilterExec + RewriteRowLevelOperationHelper:115):
    // the per-file max of the per-target-row source-match counts. Keyed: a
    // key's source count IS every matching target row's count, so the
    // source is pre-aggregated per key. ON: matches are counted per
    // (_gf_file, _gf_pos) row identity.
    //
    // The probe only pays off when it can EXCLUDE files from the rewrite: on
    // a table with few live files it is a full extra pass for nothing, so
    // below `write.merge.probe.min-files` we rewrite every pruned-in file
    // and move the cardinality guard into the rewrite join itself (a
    // codegen'd assert that is free on clean data). At warehouse scale the
    // file count crosses the threshold and the probe engages automatically.
    // NOT MATCHED BY SOURCE clauses touch every file, so they skip it too.
    val allTasks = table.newScan().planFiles()
    val probeMinFiles = m.property(TableProperties.MergeProbeMinFiles,
      TableProperties.MergeProbeMinFilesDefault).toInt
    val skipProbe = clauses.exists(_.bySource) || allTasks.size <= probeMinFiles
    val rowId = Seq(col(TableScan.MetaFileCol), col(TableScan.MetaPosCol))
    val affectedTasks = if (skipProbe) allTasks else {
      // _gf_file via withRowPositions, NOT input_file_name(): rows of
      // synthesized-position groups (ORC/Avro under pos deletes) come from
      // an internal-RDD frame where input_file_name() is empty
      val probeT = table.newScan().select(joinCols: _*).withRowPositions().toDF
      val rowCounts =
        if (keyed) join(probeT,
          src.groupBy(keys.map(col): _*).agg(count(lit(1)).as(MatchCnt)), "inner")
        else join(probeT, src, "inner").groupBy(rowId: _*)
          .agg(count(lit(1)).as(MatchCnt))
      // collected: one row per MATCHED file (path, max count), never per row
      val probe = rowCounts.groupBy(col(TableScan.MetaFileCol))
        .agg(max(col(MatchCnt))).collect()
      if (probe.exists(_.getLong(1) > 1))
        throw new ValidationException(CardinalityMsg)
      val matchedFiles = probe.map(r => GraftPaths.norm(r.getString(0))).toSet
      allTasks.filter(t => matchedFiles.contains(GraftPaths.norm(t.file.path)))
    }
    if (affectedTasks.isEmpty && !hasInserts) return

    // merge-on-read mode suppresses changed target rows with position
    // deletes and appends only updated/inserted rows (O(changed rows));
    // copy-on-write (default) rewrites the affected files. Positions come
    // from the parquet row-index column or, for ORC/Avro files, synthesized
    // whole-file row ordinals — deterministic across task retries, so every
    // format supports merge-on-read and the row-identity guard below.
    val mor = m.property(TableProperties.MergeMode,
      TableProperties.RowLevelCopyOnWrite) == TableProperties.RowLevelMergeOnRead

    // 3. join affected target rows with the source. Preserving merge (row
    // lineage): unchanged target rows keep id+seq, updated rows keep id
    // with a null materialized seq, inserts get fresh implicit ids
    val preserve = Writes.lineagePreserve(m)
    val affected = Reads.readTasksWithDeletes(table, m,
      affectedTasks.map(_.copy(residual = TrueExpr)),
      table.newScan().planDeletes(), schema.columnNames, TrueExpr,
      rowPositions = mor || (skipProbe && !keyed), withLineage = preserve)
    val t = affected.withColumn(FromTarget, lit(true))
    // With the probe skipped, the cardinality guard rides in the join as a
    // per-target-row match count. Keyed: a window count over the keys on
    // the small source side, so a copy-on-write merge reads no _pos. ON: a
    // window over the row identity on the left branch only, so insert rows
    // don't funnel into one null-identity window partition.
    val s0 = src.withColumn(FromSource, lit(true))
    val s = if (!(keyed && skipProbe)) s0 else s0.withColumn(MatchCnt,
      count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
    // Spark never broadcast-hashes a FULL OUTER join; LEFT (matched +
    // unmatched target) ∪ LEFT ANTI (source-only) is equivalent under the
    // cardinality guarantee and lets AQE broadcast a small source side.
    // Without insert clauses the source-only branch is dead — skip its join.
    val left0 = join(t, s, "left")
    val leftPart = if (keyed || !skipProbe) left0 else left0.withColumn(MatchCnt,
      count(when(col(FromSource).isNotNull, lit(1))).over(Window.partitionBy(rowId: _*)))
    val joined =
      if (!hasInserts) leftPart
      else leftPart.unionByName(
        join(s, affected.select(joinCols.map(col): _*), "left_anti"),
        allowMissingColumns = true)

    // 4. first-matching-clause-wins dispatch
    val matched = col(FromTarget).isNotNull && col(FromSource).isNotNull
    val kind: Clause => Column = {
      case _: InsertClause => col(FromTarget).isNull && col(FromSource).isNotNull
      case c if c.bySource => col(FromTarget).isNotNull && col(FromSource).isNull
      case _ => matched
    }
    // With the probe skipped, a matched row with more than one source match
    // raises during the write job, before anything commits. The guard is
    // the CASE branch of the guarded VALUE itself (not an AND conjunct,
    // which Catalyst may split off and short-circuit past for rows whose
    // value is already false, e.g. WHEN MATCHED DELETE)
    def guarded(v: Column): Column = if (!skipProbe) v else
      when(matched && col(MatchCnt) > 1,
        raise_error(lit(CardinalityMsg)).cast("boolean")).otherwise(v)
    // emitted rows: updated target rows and inserts; `otherwise` decides
    // the rows no clause fires on (kept by copy-on-write, not re-emitted
    // by merge-on-read)
    def emit(otherwise: Column): Column =
      firstMatch(kind, otherwise) { case _: DeleteClause => lit(false); case _ => lit(true) }
    // updated rows' materialized seq resets to null, so the implicit
    // fallback reports THIS commit
    val updated =
      firstMatch(kind, lit(false)) { case _: UpdateClause => lit(true); case _ => lit(false) }
    def write(marked: DataFrame): Seq[DataFileMeta] =
      Writes.writeDataFiles(spark, table, m, marked.filter(col(Keep))
        .select((schema.columnNames.map(project(kind, col)) ++ (if (!preserve) Nil
          else Seq(col("_gf_row_id"),
            when(updated, lit(null)).otherwise(col("_gf_last_seq"))
              .cast("long").as("_gf_last_seq")))): _*),
        lineageCols = preserve)

    // 5. write, then ONE commit. Merge-on-read: target rows a matched or
    // by-source clause fired on become position-delete entries, emitted
    // rows are appended, pass-through rows stay in place untouched — no
    // target file is rewritten. Copy-on-write: the affected files are
    // swapped for their rewritten rows.
    val (added, removed, extraSummary, refPaths) = try {
      if (mor) {
        // the probe-skipped guard rides the fired value, computed for every
        // row of the cached plan
        val fired = firstMatch(kind, lit(false)) {
          case _: InsertClause => lit(false); case _ => lit(true)
        }
        val marked = joined.withColumn(Fired, guarded(fired))
          .withColumn(Keep, emit(lit(false)))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val (posFiles, refs) = MergeOnRead.writePositionDeleteFiles(table, m,
            marked
            .filter(col(Fired) && col(FromTarget).isNotNull)
            .select(col(TableScan.MetaFileCol).as(MergeOnRead.PosPathCol),
              col(TableScan.MetaPosCol).as(MergeOnRead.PosPosCol)),
            affected = Some(affectedTasks))
          (posFiles ++ write(marked), Nil,
            Map("position-delete-files" -> posFiles.size.toString), refs)
        } finally marked.unpersist()
      } else (write(joined.withColumn(Keep, guarded(emit(col(FromTarget).isNotNull)))),
        affectedTasks.map(_.file), Map.empty[String, String], Set.empty[String])
    } catch {
      case e: Throwable if isCardinalityError(e) =>
        throw new ValidationException(CardinalityMsg)
    }
    if (added.nonEmpty || removed.nonEmpty)
      table.commitSnapshot(Operation.Overwrite, added, removed.map(_.path).toSet,
        Map("merge-matched-files" -> affectedTasks.size.toString) ++ extraSummary,
        validate = Some(ConflictValidation(m.currentSnapshotId, TrueExpr,
          m.property(TableProperties.MergeIsolationLevel,
            TableProperties.IsolationSerializable),
          // merge-on-read: a concurrent rewrite of a referenced file would
          // orphan the position deletes; only those files must stay live
          requiredLivePaths = refPaths)),
        removedMeta = removed)
    } finally src.unpersist(false)
  }
}

object MergeBuilder {
  val SourcePrefix = "_s_"
  private val FromTarget = "_gf_from_target"
  private val FromSource = "_gf_from_source"
  private val Keep = "_gf_keep"
  private val Fired = "_gf_fired"
  private val MatchCnt = "_gf_match_cnt"
  private[table] val CardinalityMsg =
    "MERGE cardinality violation: a target row matches more than one source row"

  /** Did this job failure originate from the in-join cardinality guard? */
  private[table] def isCardinalityError(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16)
      .exists(t => t.getMessage != null && t.getMessage.contains(CardinalityMsg))
}
