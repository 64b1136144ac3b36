package graft.table

import graft.meta.expr._
import graft.meta.model._

import org.apache.spark.sql.{Column, DataFrame}
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
  * `MergeIntoExec.scala:78`): dynamic file filter → join by key → first-
  * matching-clause-wins projection → CoW commit. Source columns are exposed
  * to clause conditions/values as `_s_<name>`.
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

  private sealed trait Clause { def cond: Option[Column] }
  private case class UpdateClause(cond: Option[Column], set: Map[String, Column],
      bySource: Boolean = false) extends Clause
  private case class DeleteClause(cond: Option[Column],
      bySource: Boolean = false) extends Clause
  private case class InsertClause(cond: Option[Column], values: Map[String, Column]) extends Clause

  private var clauses: Vector[Clause] = Vector.empty

  private def srcCol(n: String): Column = col(MergeBuilder.SourcePrefix + n)

  /** The shared tail of the dynamic-file-filter probe: `maxMatchesByFile`
    * is a two-column frame (file path, max per-target-row source-match
    * count for that file) — one row per file with ≥1 match. Collects it
    * (one row per MATCHED file, never per row), enforces the MERGE
    * cardinality guard, and prunes `allTasks` to the matched files. The
    * two call sites differ only in how the frame is built: the equi-key
    * path pre-aggregates source counts per key (a key's count IS every
    * matching target row's count), the arbitrary-ON path counts per
    * (_gf_file, _gf_pos) row identity before the per-file max. */
  private def probeAffectedTasks(allTasks: Seq[FileScanTask],
      maxMatchesByFile: DataFrame): Seq[FileScanTask] = {
    val probe = maxMatchesByFile.collect()
    if (probe.exists(_.getLong(1) > 1))
      throw new ValidationException(MergeBuilder.CardinalityMsg)
    val matchedFiles: Set[String] =
      probe.map(r => table.normPath(r.getString(0))).toSet
    allTasks.filter(t => matchedFiles.contains(table.normPath(t.file.path)))
  }

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
    if (onCond.nonEmpty) { executeOn(onCond.get); return }
    require(keys.nonEmpty, "merge requires join keys (use merge(source, keys))")
    require(!clauses.exists {
      case UpdateClause(_, _, true) | DeleteClause(_, true) => true
      case _ => false
    }, "NOT MATCHED BY SOURCE clauses require mergeOn(source, cond)")
    val spark = table.spark
    val m = table.meta
    val schema = m.schema
    val matchedClauses = clauses.collect { case c: UpdateClause => c; case c: DeleteClause => c }
    val insertClauses = clauses.collect { case c: InsertClause => c }
    val insertOnly = matchedClauses.isEmpty

    // source with non-key columns prefixed; key columns present both raw (for
    // the join) and prefixed (for projections). The source plan runs twice —
    // file-filter probe, then rewrite join — so materialize it once (ref
    // RewriteRowLevelOperationHelper buildScanPlan caches the source too);
    // skipped for insert-only merges, which evaluate the source once.
    val src0 = source.select(source.columns.map(col) ++
      source.columns.map(c => col(c).as(MergeBuilder.SourcePrefix + c)): _*)

    // Insert-only MERGE (ref RewriteMergeInto.scala:81,99): LEFT ANTI join of
    // the source against a key-only target scan — no target files are
    // rewritten, so this is a pure append of the not-matched source rows.
    if (insertOnly) {
      val targetKeys = table.newScan().select(keys: _*).toDF
      val notMatched = src0.join(targetKeys, keys, "left_anti")
      val keepCol = insertClauses
        .foldLeft(when(lit(false), lit(false))) { (acc, c) =>
          acc.when(c.cond.getOrElse(lit(true)), lit(true))
        }.otherwise(lit(false))
      def insProjection(n: String): Column =
        insertClauses.foldLeft(when(lit(false), lit(null))) { (acc, c) =>
          acc.when(c.cond.getOrElse(lit(true)), c.values.getOrElse(n, lit(null)))
        }.cast(schema.fieldType(schema.fieldId(n))).as(n)
      val rows = notMatched.filter(keepCol)
        .select(schema.columnNames.map(insProjection): _*)
      val written = Writes.writeDataFiles(spark, table, m, rows)
      if (written.nonEmpty)
        table.commitSnapshot(Operation.Append, written, Set.empty,
          Map("merge-insert-only" -> "true"))
      return
    }

    val src = src0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    val srcKeyed = src.drop(source.columns.filterNot(keys.contains): _*)

    // 1+2. dynamic file filter + cardinality check, folded into ONE key-only
    // probe job (ref DynamicFileFilterExec + RewriteRowLevelOperationHelper:115):
    // group probe matches by file; any source key count > 1 on a matched row
    // means a target row matches more than one source row.
    //
    // The probe only pays off when it can EXCLUDE files from the rewrite: on
    // a table with few live files it is a full extra pass for nothing, so
    // below `write.merge.probe.min-files` we rewrite every pruned-in file
    // and move the cardinality guard into the rewrite join itself (a window
    // count over the small source side + a codegen'd assert that is free on
    // clean data). At warehouse scale the file count crosses the threshold
    // and the probe engages automatically.
    val allTasks = table.newScan().planFiles()
    val probeMinFiles = m.property(TableProperties.MergeProbeMinFiles,
      TableProperties.MergeProbeMinFilesDefault).toInt
    val skipProbe = allTasks.size <= probeMinFiles
    val affectedTasks = if (skipProbe) allTasks else {
      // _gf_file via withRowPositions, NOT input_file_name(): rows of
      // synthesized-position groups (ORC/Avro under pos deletes) come from
      // an internal-RDD frame where input_file_name() is empty
      val targetKeys = table.newScan().select(keys: _*).withRowPositions().toDF
      val srcKeyCounts = srcKeyed.select(keys.map(col): _*)
        .groupBy(keys.map(col): _*).agg(count(lit(1)).as("_gf_src_cnt"))
      probeAffectedTasks(allTasks,
        targetKeys.join(srcKeyCounts, keys, "inner")
          .groupBy(col(TableScan.MetaFileCol))
          .agg(max(col("_gf_src_cnt")).as("_gf_max_cnt")))
    }

    // merge-on-read mode suppresses changed target rows with position
    // deletes and appends only updated/inserted rows (O(changed rows));
    // copy-on-write (default) rewrites the affected files. Positions come
    // from the parquet row-index column or, for ORC/Avro files, synthesized
    // whole-file row ordinals — every format supports merge-on-read.
    val mor = m.property(TableProperties.MergeMode,
      TableProperties.RowLevelCopyOnWrite) == TableProperties.RowLevelMergeOnRead

    // 3. join affected target rows with the source. Preserving merge (row
    // lineage): unchanged target rows keep id+seq, updated rows keep id
    // with a null materialized seq, inserts get fresh implicit ids
    val preserve = Writes.lineagePreserve(m)
    val affected = Reads.readTasksWithDeletes(table, m,
      affectedTasks.map(_.copy(residual = TrueExpr)),
      table.newScan().planDeletes(), schema.columnNames, TrueExpr,
      rowPositions = mor, withLineage = preserve)
    val t = affected.withColumn(MergeBuilder.FromTarget, lit(true))
    val s0 = srcKeyed.withColumn(MergeBuilder.FromSource, lit(true))
    val s = if (!skipProbe) s0 else s0.withColumn("_gf_src_cnt",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window
        .partitionBy(keys.map(col): _*)))
    // Spark never broadcast-hashes a FULL OUTER join; LEFT (matched +
    // unmatched target) ∪ LEFT ANTI (source-only) is equivalent under the
    // cardinality guarantee and lets AQE broadcast a small source side.
    // Without insert clauses the source-only branch is dead — skip its join.
    val leftPart = t.join(s, keys, "left")
    val joined =
      if (insertClauses.isEmpty) leftPart
      else leftPart.unionByName(
        s.join(t.select(keys.map(col): _*), keys, "left_anti"),
        allowMissingColumns = true)
    val matched = col(MergeBuilder.FromTarget).isNotNull && col(MergeBuilder.FromSource).isNotNull
    val sourceOnly = col(MergeBuilder.FromTarget).isNull && col(MergeBuilder.FromSource).isNotNull

    // 4. first-matching-clause-wins dispatch: keep? and per-column projection
    def clauseCond(c: Clause, base: Column): Column =
      c.cond.map(base && _).getOrElse(base)
    val keepCol = {
      val mk = matchedClauses.foldLeft(when(lit(false), lit(false))) { (acc, c) =>
        c match {
          case DeleteClause(_, _) => acc.when(clauseCond(c, matched), lit(false))
          case _: UpdateClause => acc.when(clauseCond(c, matched), lit(true))
          case _ => acc
        }
      }
      val withInsert = insertClauses.foldLeft(mk) { (acc, c) =>
        acc.when(clauseCond(c, sourceOnly), lit(true))
      }
      // unmatched target rows pass through; unmatched-by-clause source rows drop
      withInsert.otherwise(col(MergeBuilder.FromTarget).isNotNull)
    }
    def colProjection(n: String): Column = {
      val base = matchedClauses.foldLeft(when(lit(false), lit(null))) { (acc, c) =>
        c match {
          case UpdateClause(_, set, _) =>
            acc.when(clauseCond(c, matched), set.getOrElse(n, col(n)))
          case DeleteClause(_, _) => acc.when(clauseCond(c, matched), col(n))
          case _ => acc
        }
      }
      val withInsert = insertClauses.foldLeft(base) { (acc, c) =>
        acc.when(clauseCond(c, sourceOnly),
          c.asInstanceOf[InsertClause].values.getOrElse(n, lit(null)))
      }
      withInsert.otherwise(col(n))
        .cast(schema.fieldType(schema.fieldId(n))).as(n)
    }
    // merge-on-read: changed target rows (any fired matched clause) become
    // position-delete entries; emitted rows are updated copies + inserts;
    // pass-through rows stay in place untouched. ONE snapshot commits
    // delete files + appended data files — no target file is rewritten.
    if (mor) {
      val firedRaw = matchedClauses.foldLeft(when(lit(false), lit(false))) {
        (acc, c) => acc.when(clauseCond(c, matched), lit(true))
      }.otherwise(lit(false))
      // probe-skipped cardinality guard rides the fired VALUE (computed for
      // every row of the cached plan, same rationale as keepGuarded below)
      val fired = if (!skipProbe) firedRaw else
        when(matched && col("_gf_src_cnt") > 1,
          raise_error(lit(MergeBuilder.CardinalityMsg)).cast("boolean"))
          .otherwise(firedRaw)
      val emitCol = {
        val mk = matchedClauses.foldLeft(when(lit(false), lit(false))) { (acc, c) =>
          c match {
            case _: UpdateClause => acc.when(clauseCond(c, matched), lit(true))
            case DeleteClause(_, _) => acc.when(clauseCond(c, matched), lit(false))
            case _ => acc
          }
        }
        insertClauses.foldLeft(mk) { (acc, c) =>
          acc.when(clauseCond(c, sourceOnly), lit(true))
        }.otherwise(lit(false))
      }
      val marked = joined.withColumn("_gf_fired", fired)
        .withColumn(MergeBuilder.Keep, emitCol)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val (posFiles, refPaths) = MergeOnRead.writePositionDeleteFiles(table, m,
          marked
          .filter(col("_gf_fired") && col(MergeBuilder.FromTarget).isNotNull)
          .select(col(TableScan.MetaFileCol).as(MergeOnRead.PosPathCol),
            col(TableScan.MetaPosCol).as(MergeOnRead.PosPosCol)),
          affected = Some(affectedTasks))
        // emitted rows are all updated-or-inserted NOW: preserved id
        // (null for inserts), null materialized seq (inherit this commit)
        val dataFiles = Writes.writeDataFiles(spark, table, m, marked
          .filter(col(MergeBuilder.Keep))
          .select((schema.columnNames.map(colProjection) ++ (if (!preserve) Nil
            else Seq(col("_gf_row_id"),
              lit(null).cast("long").as("_gf_last_seq")))): _*),
          lineageCols = preserve)
        if (posFiles.nonEmpty || dataFiles.nonEmpty)
          table.commitSnapshot(Operation.Overwrite, posFiles ++ dataFiles,
            Set.empty,
            Map("merge-matched-files" -> affectedTasks.size.toString,
              "position-delete-files" -> posFiles.size.toString),
            validate = Some(ConflictValidation(m.currentSnapshotId, TrueExpr,
              m.property(TableProperties.MergeIsolationLevel,
                TableProperties.IsolationSerializable),
              // concurrent rewrites of referenced files would orphan the
              // position deletes; only the referenced files must stay live
              requiredLivePaths = refPaths)))
      } catch {
        case e: Throwable if MergeBuilder.isCardinalityError(e) =>
          throw new ValidationException(MergeBuilder.CardinalityMsg)
      } finally marked.unpersist()
      return
    }

    // with the probe skipped, the cardinality guard rides in the keep
    // predicate: a matched row whose source key count exceeds 1 raises
    // during the rewrite job, before anything commits. The guard is the
    // CASE branch of the keep VALUE itself (not an AND conjunct, which
    // Catalyst may split off and short-circuit past for rows whose keepCol
    // is already false, e.g. WHEN MATCHED DELETE)
    val keepGuarded = if (!skipProbe) keepCol else
      when(matched && col("_gf_src_cnt") > 1,
        raise_error(lit(MergeBuilder.CardinalityMsg)).cast("boolean"))
        .otherwise(keepCol)
    // which rows were UPDATED (fired update clause) — their materialized
    // seq resets to null so the implicit fallback reports THIS commit
    val updatedCol = matchedClauses.foldLeft(when(lit(false), lit(false))) {
      (acc, c) => c match {
        case _: UpdateClause => acc.when(clauseCond(c, matched), lit(true))
        case _ => acc
      }
    }.otherwise(lit(false))
    val result = joined
      .withColumn(MergeBuilder.Keep, keepGuarded)
      .filter(col(MergeBuilder.Keep))
      .select((schema.columnNames.map(colProjection) ++ (if (!preserve) Nil
        else Seq(col("_gf_row_id"),
          when(updatedCol, lit(null)).otherwise(col("_gf_last_seq"))
            .cast("long").as("_gf_last_seq")))): _*)

    // 5. write + atomic swap of the affected files
    val written = try {
      Writes.writeDataFiles(spark, table, m, result, lineageCols = preserve)
    } catch {
      case e: Throwable if MergeBuilder.isCardinalityError(e) =>
        throw new ValidationException(MergeBuilder.CardinalityMsg)
    }
    table.commitSnapshot(Operation.Overwrite, written,
      affectedTasks.map(_.file.path).toSet,
      Map("merge-matched-files" -> affectedTasks.size.toString),
      validate = Some(ConflictValidation(m.currentSnapshotId, TrueExpr,
        m.property(TableProperties.MergeIsolationLevel,
          TableProperties.IsolationSerializable))),
      removedMeta = affectedTasks.map(_.file))
    } finally src.unpersist(false)
  }

  /** General-ON-condition MERGE (ref `RewriteMergeInto.scala:162` supports
    * full expressions): `cond` references target columns by name and source
    * columns as `_s_<name>`. Catalyst still extracts any equi-conjuncts for
    * hash/sort-merge join planning, so an equality-shaped ON plans like the
    * key path; a pure non-equi ON degrades to a nested-loop join, same as
    * the reference. */
  private def executeOn(cond: Column): Unit = {
    val spark = table.spark
    val m = table.meta
    val schema = m.schema
    val matchedClauses = clauses.collect {
      case c @ UpdateClause(_, _, false) => c
      case c @ DeleteClause(_, false) => c
    }
    val bySourceClauses = clauses.collect {
      case c @ UpdateClause(_, _, true) => c
      case c @ DeleteClause(_, true) => c
    }
    val insertClauses = clauses.collect { case c: InsertClause => c }

    // target columns the ON condition reads (probe scan projection)
    val condTargetCols = {
      val refs = org.apache.spark.sql.graft.ColumnBridge.expression(cond).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
            if a.nameParts.length == 1 => a.nameParts.head
        case a: org.apache.spark.sql.catalyst.expressions.AttributeReference => a.name
      }
      schema.columnNames.filter(refs.contains(_))
    }
    require(condTargetCols.nonEmpty, s"ON condition references no target column: $cond")

    // source with every column _s_-prefixed (raw names dropped — the join is
    // an expression join, so only the prefixed names may be visible)
    val srcPlan = source.select(
      source.columns.map(c => col(c).as(MergeBuilder.SourcePrefix + c)): _*)

    // Insert-only: LEFT ANTI of the source against the cond-column target scan
    if (matchedClauses.isEmpty && bySourceClauses.isEmpty) {
      val targetKeys = table.newScan().select(condTargetCols: _*).toDF
      val notMatched = srcPlan.join(targetKeys, cond, "left_anti")
      val keepCol = insertClauses
        .foldLeft(when(lit(false), lit(false))) { (acc, c) =>
          acc.when(c.cond.getOrElse(lit(true)), lit(true))
        }.otherwise(lit(false))
      def insProjection(n: String): Column =
        insertClauses.foldLeft(when(lit(false), lit(null))) { (acc, c) =>
          acc.when(c.cond.getOrElse(lit(true)), c.values.getOrElse(n, lit(null)))
        }.cast(schema.fieldType(schema.fieldId(n))).as(n)
      val rows = notMatched.filter(keepCol)
        .select(schema.columnNames.map(insProjection): _*)
      val written = Writes.writeDataFiles(spark, table, m, rows)
      if (written.nonEmpty)
        table.commitSnapshot(Operation.Append, written, Set.empty,
          Map("merge-insert-only" -> "true"))
      return
    }

    // source runs twice (probe + rewrite join) — materialize once, see execute()
    val src0 = srcPlan.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    // probe: per-target-row source-match counts, keyed by (_gf_file, _gf_pos)
    // — one job yields the affected-file set AND the cardinality guard. The
    // probe is SKIPPED (like execute()) when it cannot pay off: few files,
    // or NOT MATCHED BY SOURCE present (every file is affected anyway). The
    // cardinality guard then rides in the rewrite join as a window count
    // over the row identity.
    val allTasks = table.newScan().planFiles()
    val probeMinFiles = m.property(TableProperties.MergeProbeMinFiles,
      TableProperties.MergeProbeMinFilesDefault).toInt
    val skipProbe = bySourceClauses.nonEmpty ||
      allTasks.size <= probeMinFiles
    val affectedTasks = if (skipProbe) allTasks else {
      val probeT = table.newScan().select(condTargetCols: _*).withRowPositions().toDF
      probeAffectedTasks(allTasks,
        probeT.join(src0, cond, "inner")
          .groupBy(col(TableScan.MetaFileCol), col(TableScan.MetaPosCol))
          .agg(count(lit(1)).as("_gf_cnt"))
          .groupBy(col(TableScan.MetaFileCol))
          .agg(max(col("_gf_cnt")).as("_gf_max")))
    }
    if (affectedTasks.isEmpty && insertClauses.isEmpty) return

    val mor = m.property(TableProperties.MergeMode,
      TableProperties.RowLevelCopyOnWrite) == TableProperties.RowLevelMergeOnRead
    // the in-join cardinality guard and merge-on-read both key rows by the
    // (_gf_file, _gf_pos) identity — DETERMINISTIC across task retries for
    // every format (parquet reads the row-index column; ORC/Avro positions
    // are synthesized whole-file ordinals, stable per file)
    val preserve = Writes.lineagePreserve(m)
    val affected = Reads.readTasksWithDeletes(table, m,
      affectedTasks.map(_.copy(residual = TrueExpr)),
      table.newScan().planDeletes(), schema.columnNames, TrueExpr,
      rowPositions = mor || skipProbe, withLineage = preserve)
    val t = affected.withColumn(MergeBuilder.FromTarget, lit(true))
    val ridCols: Seq[Column] =
      Seq(col(TableScan.MetaFileCol), col(TableScan.MetaPosCol))
    val s = src0.withColumn(MergeBuilder.FromSource, lit(true))
    // LEFT ∪ LEFT ANTI instead of FULL OUTER — see execute(): broadcastable
    val leftPart0 = t.join(s, cond, "left")
    // per-target-row match count (window over the row identity) for the
    // in-join cardinality guard; computed on the left branch only so
    // insert rows don't funnel into one null-id window partition
    val leftPart = if (!skipProbe) leftPart0
      else leftPart0.withColumn("_gf_card_cnt",
        count(when(col(MergeBuilder.FromSource).isNotNull, lit(1)))
          .over(org.apache.spark.sql.expressions.Window.partitionBy(ridCols: _*)))
    val joined =
      if (insertClauses.isEmpty) leftPart
      else leftPart.unionByName(
        s.join(affected.select(condTargetCols.map(col): _*), cond, "left_anti"),
        allowMissingColumns = true)
    val matched = col(MergeBuilder.FromTarget).isNotNull && col(MergeBuilder.FromSource).isNotNull
    val sourceOnly = col(MergeBuilder.FromTarget).isNull && col(MergeBuilder.FromSource).isNotNull
    val targetOnly = col(MergeBuilder.FromTarget).isNotNull && col(MergeBuilder.FromSource).isNull

    def clauseCond(c: Clause, base: Column): Column =
      c.cond.map(base && _).getOrElse(base)
    val keepCol = {
      val mk = (matchedClauses ++ bySourceClauses).foldLeft(when(lit(false), lit(false))) { (acc, c) =>
        c match {
          case DeleteClause(_, by) =>
            acc.when(clauseCond(c, if (by) targetOnly else matched), lit(false))
          case UpdateClause(_, _, by) =>
            acc.when(clauseCond(c, if (by) targetOnly else matched), lit(true))
          case _ => acc
        }
      }
      val withInsert = insertClauses.foldLeft(mk) { (acc, c) =>
        acc.when(clauseCond(c, sourceOnly), lit(true))
      }
      withInsert.otherwise(col(MergeBuilder.FromTarget).isNotNull)
    }
    def colProjection(n: String): Column = {
      val base = (matchedClauses ++ bySourceClauses).foldLeft(when(lit(false), lit(null))) { (acc, c) =>
        c match {
          case UpdateClause(_, set, by) =>
            acc.when(clauseCond(c, if (by) targetOnly else matched), set.getOrElse(n, col(n)))
          case DeleteClause(_, by) =>
            acc.when(clauseCond(c, if (by) targetOnly else matched), col(n))
          case _ => acc
        }
      }
      val withInsert = insertClauses.foldLeft(base) { (acc, c) =>
        acc.when(clauseCond(c, sourceOnly),
          c.asInstanceOf[InsertClause].values.getOrElse(n, lit(null)))
      }
      withInsert.otherwise(col(n))
        .cast(schema.fieldType(schema.fieldId(n))).as(n)
    }
    // merge-on-read: fired target rows (any matched / by-source clause)
    // become position-delete entries; emitted rows are updated copies +
    // inserts; pass-through rows stay untouched. See execute() for the
    // equi-key variant of the same shape.
    if (mor) {
      val firedRaw = (matchedClauses ++ bySourceClauses)
        .foldLeft(when(lit(false), lit(false))) { (acc, c) =>
          val base = c match {
            case DeleteClause(_, by) => if (by) targetOnly else matched
            case UpdateClause(_, _, by) => if (by) targetOnly else matched
            case _ => matched
          }
          acc.when(clauseCond(c, base), lit(true))
        }.otherwise(lit(false))
      val fired = if (!skipProbe) firedRaw else
        when(col("_gf_card_cnt") > 1,
          raise_error(lit(MergeBuilder.CardinalityMsg)).cast("boolean"))
          .otherwise(firedRaw)
      val emitCol = {
        val mk = (matchedClauses ++ bySourceClauses)
          .foldLeft(when(lit(false), lit(false))) { (acc, c) =>
            c match {
              case UpdateClause(_, _, by) =>
                acc.when(clauseCond(c, if (by) targetOnly else matched), lit(true))
              case DeleteClause(_, by) =>
                acc.when(clauseCond(c, if (by) targetOnly else matched), lit(false))
              case _ => acc
            }
          }
        insertClauses.foldLeft(mk) { (acc, c) =>
          acc.when(clauseCond(c, sourceOnly), lit(true))
        }.otherwise(lit(false))
      }
      val marked = joined.withColumn("_gf_fired", fired)
        .withColumn(MergeBuilder.Keep, emitCol)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val (posFiles, refPaths) = MergeOnRead.writePositionDeleteFiles(table, m,
          marked
          .filter(col("_gf_fired") && col(MergeBuilder.FromTarget).isNotNull)
          .select(col(TableScan.MetaFileCol).as(MergeOnRead.PosPathCol),
            col(TableScan.MetaPosCol).as(MergeOnRead.PosPosCol)),
          affected = Some(affectedTasks))
        val dataFiles = Writes.writeDataFiles(spark, table, m, marked
          .filter(col(MergeBuilder.Keep))
          .select((schema.columnNames.map(colProjection) ++ (if (!preserve) Nil
            else Seq(col("_gf_row_id"),
              lit(null).cast("long").as("_gf_last_seq")))): _*),
          lineageCols = preserve)
        if (posFiles.nonEmpty || dataFiles.nonEmpty)
          table.commitSnapshot(Operation.Overwrite, posFiles ++ dataFiles,
            Set.empty,
            Map("merge-matched-files" -> affectedTasks.size.toString,
              "position-delete-files" -> posFiles.size.toString),
            validate = Some(ConflictValidation(m.currentSnapshotId, TrueExpr,
              m.property(TableProperties.MergeIsolationLevel,
                TableProperties.IsolationSerializable),
              // concurrent rewrites of referenced files would orphan the
              // position deletes; only the referenced files must stay live
              requiredLivePaths = refPaths)))
      } catch {
        case e: Throwable if MergeBuilder.isCardinalityError(e) =>
          throw new ValidationException(MergeBuilder.CardinalityMsg)
      } finally marked.unpersist()
      return
    }

    // guard as the CASE branch of the keep value — see execute()
    val keepGuarded = if (!skipProbe) keepCol else
      when(col("_gf_card_cnt") > 1,
        raise_error(lit(MergeBuilder.CardinalityMsg)).cast("boolean"))
        .otherwise(keepCol)
    // seq resets for rows a fired UPDATE (matched or by-source) changed
    val updatedCol = (matchedClauses ++ bySourceClauses)
      .foldLeft(when(lit(false), lit(false))) { (acc, c) =>
        c match {
          case UpdateClause(_, _, by) =>
            acc.when(clauseCond(c, if (by) targetOnly else matched), lit(true))
          case _ => acc
        }
      }.otherwise(lit(false))
    val result = joined
      .withColumn(MergeBuilder.Keep, keepGuarded)
      .filter(col(MergeBuilder.Keep))
      .select((schema.columnNames.map(colProjection) ++ (if (!preserve) Nil
        else Seq(col("_gf_row_id"),
          when(updatedCol, lit(null)).otherwise(col("_gf_last_seq"))
            .cast("long").as("_gf_last_seq")))): _*)

    val written = try {
      Writes.writeDataFiles(spark, table, m, result, lineageCols = preserve)
    } catch {
      case e: Throwable if MergeBuilder.isCardinalityError(e) =>
        throw new ValidationException(MergeBuilder.CardinalityMsg)
    }
    table.commitSnapshot(Operation.Overwrite, written,
      affectedTasks.map(_.file.path).toSet,
      Map("merge-matched-files" -> affectedTasks.size.toString),
      validate = Some(ConflictValidation(m.currentSnapshotId, TrueExpr,
        m.property(TableProperties.MergeIsolationLevel,
          TableProperties.IsolationSerializable))),
      removedMeta = affectedTasks.map(_.file))
    } finally {
      src0.unpersist(false)
    }
  }
}

object MergeBuilder {
  val SourcePrefix = "_s_"
  private val FromTarget = "_gf_from_target"
  private val FromSource = "_gf_from_source"
  private val Keep = "_gf_keep"
  private[table] val CardinalityMsg =
    "MERGE cardinality violation: a target row matches more than one source row"

  /** Did this job failure originate from the in-join cardinality guard? */
  private[table] def isCardinalityError(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16)
      .exists(t => t.getMessage != null && t.getMessage.contains(CardinalityMsg))
}
