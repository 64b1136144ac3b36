package graft.table

import graft.meta.{PartitionSpec, Schema, UpdateSchema}
import graft.meta.model._

import org.apache.spark.sql.DataFrame

/** DDL-ish lifecycle operations (ref §2.9: `SchemaUpdate`,
  * `BaseUpdatePartitionSpec`, `PropertiesUpdate`, `BaseReplaceSortOrder`,
  * `BaseTransaction`). All are optimistic metadata commits through the same
  * retry loop as data commits.
  */
trait Lifecycle { self: IceTable =>

  /** Evolve the schema: `table.updateSchema(_.addColumn("c", LongType)
    * .renameColumn("a", "b"))`. Field IDs are stable; deletes never recycle
    * IDs (ref `core/.../SchemaUpdate.java:49`). */
  def updateSchema(fn: UpdateSchema => UpdateSchema): Schema = {
    var result: Schema = null
    ops.commitWithRetry(4) { base =>
      val upd = fn(new UpdateSchema(base.schema, base.lastColumnId))
      val applied = upd.apply()
      val next = applied.copy(schemaId = base.schemas.map(_.schemaId).max + 1)
      result = next
      base.copy(
        currentSchemaId = next.schemaId,
        schemas = base.schemas :+ next,
        lastColumnId = math.max(base.lastColumnId, upd.lastAssignedId),
        lastUpdatedMillis = System.currentTimeMillis())
    }
    result
  }

  /** Evolve the default partition spec. Existing files keep their spec; the
    * planner evaluates each manifest under its own spec (ref
    * `ManifestGroup.java:206` multi-spec). */
  def updateSpec(build: PartitionSpec.Builder => PartitionSpec.Builder): PartitionSpec = {
    var result: PartitionSpec = null
    ops.commitWithRetry(4) { base =>
      val next = build(PartitionSpec.builderFor(base.schema))
        .build(base.specs.map(_.specId).max + 1)
      // re-id partition fields above the current lastPartitionId
      var nextId = base.lastPartitionId
      val fields = next.fields.map { f =>
        // keep the id of an identical existing field (same source+transform)
        base.specs.flatMap(_.fields)
          .find(e => e.sourceId == f.sourceId && e.transform.name == f.transform.name)
          .map(e => f.copy(fieldId = e.fieldId, name = e.name))
          .getOrElse { nextId += 1; f.copy(fieldId = nextId) }
      }
      val spec = next.copy(fields = fields)
      result = spec
      base.copy(
        defaultSpecId = spec.specId,
        specs = base.specs :+ spec,
        lastPartitionId = math.max(base.lastPartitionId, (0 +: fields.map(_.fieldId)).max),
        lastUpdatedMillis = System.currentTimeMillis())
    }
    result
  }

  /** Set (or clear, with Nil) the schema's row-identity columns (ref
    * `Schema.java` identifierFieldIds; grammar SET/DROP IDENTIFIER FIELDS).
    * Field IDs and data files are untouched — the current schema entry is
    * rewritten in place with the new identifier set. */
  def setIdentifierFields(names: Seq[String]): Unit =
    ops.commitWithRetry(4) { base =>
      val ids = names.map { n =>
        val id = base.schema.fieldId(n) // throws for unknown columns
        val f = base.schema.idToField(id)
        // ref Schema.validateIdentifierField: primitive, non-float/double
        require(f.dataType match {
          case _: org.apache.spark.sql.types.StructType |
               _: org.apache.spark.sql.types.ArrayType |
               _: org.apache.spark.sql.types.MapType => false
          case org.apache.spark.sql.types.FloatType |
               org.apache.spark.sql.types.DoubleType => false
          case _ => true
        }, s"Cannot use $n as an identifier field: " +
          s"${f.dataType.simpleString} is not a supported identifier type")
        id
      }
      base.copy(
        schemas = base.schemas.map(s =>
          if (s.schemaId == base.currentSchemaId) s.copy(identifierFieldIds = ids)
          else s),
        lastUpdatedMillis = System.currentTimeMillis())
    }

  def updateProperties(set: Map[String, String], remove: Set[String] = Set.empty): Unit =
    ops.commitWithRetry(4) { base =>
      base.copy(properties = base.properties -- remove ++ set,
        lastUpdatedMillis = System.currentTimeMillis())
    }

  /** Property + schema changes in ONE metadata commit. SQL `ALTER TABLE` can
    * carry both kinds of change; committing them separately could leave a
    * partial ALTER behind a crash between the two commits. */
  def alterAtomic(set: Map[String, String], remove: Set[String],
      schemaFn: Option[UpdateSchema => UpdateSchema]): Unit =
    ops.commitWithRetry(4) { base =>
      val withProps =
        if (set.isEmpty && remove.isEmpty) base
        else base.copy(properties = base.properties -- remove ++ set)
      val next = schemaFn match {
        case None => withProps
        case Some(fn) =>
          val upd = fn(new UpdateSchema(withProps.schema, withProps.lastColumnId))
          val applied = upd.apply()
          val ns = applied.copy(schemaId = withProps.schemas.map(_.schemaId).max + 1)
          withProps.copy(
            currentSchemaId = ns.schemaId,
            schemas = withProps.schemas :+ ns,
            lastColumnId = math.max(withProps.lastColumnId, upd.lastAssignedId))
      }
      next.copy(lastUpdatedMillis = System.currentTimeMillis())
    }

  def replaceSortOrder(order: SortOrderMeta): Unit =
    ops.commitWithRetry(4) { base =>
      val next =
        if (order.fields.isEmpty) SortOrderMeta.unsorted
        else base.sortOrders.find(_.fields == order.fields).getOrElse(
          order.copy(orderId = base.sortOrders.map(_.orderId).max + 1))
      base.copy(defaultSortOrderId = next.orderId,
        sortOrders =
          if (base.sortOrders.exists(_.orderId == next.orderId)) base.sortOrders
          else base.sortOrders :+ next,
        lastUpdatedMillis = System.currentTimeMillis())
    }

  /** Distribution mode + sort order in ONE metadata commit (ref
    * `SetWriteDistributionAndOrderingExec`: sort-order replace and the
    * `write.distribution-mode` property land in a single transaction). */
  def setWriteDistributionAndOrdering(mode: String, order: SortOrderMeta): Unit =
    ops.commitWithRetry(4) { base =>
      // reuse a registered order with identical fields (ref BaseReplaceSortOrder
      // dedups) — repeated identical DDL must not grow the metadata
      val next =
        if (order.fields.isEmpty) SortOrderMeta.unsorted
        else base.sortOrders.find(_.fields == order.fields).getOrElse(
          order.copy(orderId = base.sortOrders.map(_.orderId).max + 1))
      base.copy(
        defaultSortOrderId = next.orderId,
        sortOrders =
          if (base.sortOrders.exists(_.orderId == next.orderId)) base.sortOrders
          else base.sortOrders :+ next,
        properties = base.properties +
          (graft.meta.model.TableProperties.DistributionMode -> mode),
        lastUpdatedMillis = System.currentTimeMillis())
    }

  /** Multi-operation atomic transaction (ref `core/.../BaseTransaction`):
    * data writes happen eagerly, but all metadata lands in ONE snapshot +
    * metadata-version swap. */
  def newTransaction(): Transaction = new Transaction(this)
}

final class Transaction private[table] (table: IceTable) {
  private var added: Vector[DataFileMeta] = Vector.empty
  private var removed: Set[String] = Set.empty
  private var metaFns: Vector[TableMetadata => TableMetadata] = Vector.empty
  private var ops: Vector[String] = Vector.empty
  private var committed = false

  def append(df: DataFrame): Transaction = {
    added ++= Writes.writeDataFiles(table.spark, table, table.meta, df)
    ops :+= Operation.Append
    this
  }

  /** Delete by filter inside the transaction (CoW rewrite happens now,
    * commit is deferred). Rewritten files drop every row the table's live
    * delete files already suppress: the copies commit at a newer sequence
    * number, where those deletes no longer apply. */
  def delete(filter: graft.meta.expr.Expr): Transaction = {
    val m = table.meta
    val schema = m.schema
    val bound = graft.meta.expr.Binder.bind(schema, filter)
    val tasks = table.newScan().filter(filter).planFiles()
    val (whole, partial) = tasks.partition(t =>
      graft.meta.expr.StrictMetricsEvaluator.eval(bound, Reads.statsOf(t.file)))
    if (partial.nonEmpty) {
      val df = Reads.readTasksWithDeletes(table, m,
        partial.map(_.copy(residual = graft.meta.expr.TrueExpr)),
        table.newScan().planDeletes(), schema.columnNames,
        graft.meta.expr.TrueExpr, rowPositions = false)
      val keep = df.filter(
        !(graft.meta.expr.SparkConv.toColumn(bound, schema) <=>
          org.apache.spark.sql.functions.lit(true)))
      added ++= Writes.writeDataFiles(table.spark, table, m, keep)
    }
    removed ++= tasks.map(_.file.path)
    ops :+= Operation.Delete
    this
  }

  def updateProperties(set: Map[String, String]): Transaction = {
    metaFns :+= ((m: TableMetadata) => m.copy(properties = m.properties ++ set))
    ops :+= "properties"
    this
  }

  def commit(): Unit = {
    require(!committed, "Transaction already committed")
    committed = true
    if (added.nonEmpty || removed.nonEmpty) {
      table.commitSnapshot(
        if (removed.nonEmpty) Operation.Overwrite else Operation.Append,
        added, removed, Map("transaction-ops" -> ops.mkString(",")),
        metaTransform = metaFns.reduceOption(_ andThen _))
    } else if (metaFns.nonEmpty) {
      table.ops.commitWithRetry(4)(m =>
        metaFns.reduce(_ andThen _)(m).copy(lastUpdatedMillis = System.currentTimeMillis()))
    }
  }
}
