package graft.spark

import graft.meta.transforms._
import graft.table.{IceTable, TableImport}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructType}

/** SQL surface the native parser lacks (ref
  * `spark3-extensions/src/main/antlr/.../IcebergSqlExtensions.g4:68` and
  * `IcebergSparkSessionExtensions.scala:39` injectParser):
  *
  *  - `CALL cat.system.<procedure>(arg, name => value, …)` — the stored
  *    procedures of ref `SparkProcedures.java:44` (incl. snapshot/migrate/
  *    add_files imports and ancestors_of)
  *  - `ALTER TABLE cat.db.t ADD PARTITION FIELD <transform> `
  *  - `ALTER TABLE cat.db.t DROP PARTITION FIELD <transform>`
  *  - `ALTER TABLE cat.db.t WRITE ORDERED BY col [ASC|DESC] [NULLS …], …`
  *  - `ALTER TABLE cat.db.t WRITE UNORDERED`
  *
  * The grammar is small and line-oriented, so it is hand-parsed here (the
  * reference carries an ANTLR grammar for the same four statements);
  * everything else delegates to Spark's parser.
  */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {

  import GraftSqlParser._

  override def parsePlan(sqlText: String): LogicalPlan =
    parseExtension(sqlText).getOrElse(delegate.parsePlan(sqlText))

  override def parseExpression(sqlText: String): Expression = delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType = delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType = delegate.parseDataType(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan = delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType = delegate.parseRoutineParam(sqlText)
}

object GraftSqlParser {

  private val CallRe =
    """(?is)^\s*CALL\s+([\w]+)\.system\.([\w]+)\s*\((.*)\)\s*;?\s*$""".r
  private val AddFieldRe =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+ADD\s+PARTITION\s+FIELD\s+(.+?)\s*;?\s*$""".r
  private val DropFieldRe =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+DROP\s+PARTITION\s+FIELD\s+(.+?)\s*;?\s*$""".r
  private val ReplaceFieldRe =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+REPLACE\s+PARTITION\s+FIELD\s+(.+?)\s+WITH\s+(.+?)\s*;?\s*$""".r
  private val SetIdFieldsRe =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+SET\s+IDENTIFIER\s+FIELDS\s+(.+?)\s*;?\s*$""".r
  private val DropIdFieldsRe =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+DROP\s+IDENTIFIER\s+FIELDS\s+(.+?)\s*;?\s*$""".r
  private val WriteSpecRe =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+WRITE\s+((?:DISTRIBUTED|LOCALLY|ORDERED|UNORDERED)\b.*?)\s*;?\s*$""".r
  private val CreateRefRe =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+CREATE\s+(BRANCH|TAG)\s+(\w+)(?:\s+AS\s+OF\s+VERSION\s+(\d+))?\s*;?\s*$""".r
  private val DropRefRe =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+DROP\s+(BRANCH|TAG)\s+(\w+)\s*;?\s*$""".r
  private val ReplaceBranchRe =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+REPLACE\s+BRANCH\s+(\w+)\s+AS\s+OF\s+VERSION\s+(\d+)\s*;?\s*$""".r
  private val CreateViewRe =
    """(?is)^\s*CREATE\s+(OR\s+REPLACE\s+)?VIEW\s+(?:(IF\s+NOT\s+EXISTS)\s+)?([\w]+(?:\.[\w]+)+)\s+AS\s+(.+?)\s*;?\s*$""".r
  private val DropViewRe =
    """(?is)^\s*DROP\s+VIEW\s+(?:(IF\s+EXISTS)\s+)?([\w]+(?:\.[\w]+)+)\s*;?\s*$""".r

  /** Hijack view DDL only when the statement names a CONFIGURED graft
    * catalog (checked against the active session at parse time) — plain
    * `CREATE [TEMP] VIEW` on the session catalog, and any other catalog,
    * delegates to Spark untouched. Spark 4.1 ships the ViewCatalog SPI
    * with NO parser/analyzer wiring (see [[ResolveGraftViews]]), so this
    * is the create/drop half of the view surface. */
  private def isGraftCatalog(cat: String): Boolean =
    org.apache.spark.sql.SparkSession.getActiveSession.exists(sp =>
      sp.conf.getOption(s"spark.sql.catalog.$cat").exists(_.startsWith("graft.")))

  def parseExtension(sql: String): Option[LogicalPlan] = sql match {
    case CallRe(catalog, proc, args) => Some(call(catalog, proc.toLowerCase, args))
    case AddFieldRe(ident, transform) =>
      Some(alterSpec(ident, transform, add = true))
    case ReplaceFieldRe(ident, oldT, newT) =>
      Some(replaceSpecField(ident, oldT, newT))
    case DropFieldRe(ident, transform) =>
      Some(alterSpec(ident, transform, add = false))
    case SetIdFieldsRe(ident, cols) => Some(identifierFields(ident, cols, set = true))
    case DropIdFieldsRe(ident, cols) => Some(identifierFields(ident, cols, set = false))
    case WriteSpecRe(ident, spec) => Some(writeSpec(ident, spec))
    case CreateRefRe(ident, kind, name, ver) =>
      Some(refCommand(s"create_${kind.toLowerCase}", ident) { t =>
        val snap = Option(ver).map(_.toLong)
        if (kind.equalsIgnoreCase("BRANCH")) t.createBranch(name, snap)
        else t.createTag(name, snap)
      })
    case DropRefRe(ident, kind, name) =>
      Some(refCommand(s"drop_${kind.toLowerCase}", ident)(_.removeRef(name)))
    case ReplaceBranchRe(ident, name, ver) =>
      Some(refCommand("replace_branch", ident)(_.replaceBranch(name, ver.toLong)))
    case CreateViewRe(orReplace, ifNotExists, ident, query)
        if ident.count(_ == '.') >= 2 && isGraftCatalog(ident.split('.').head) =>
      Some(createViewCommand(ident, query.trim,
        orReplace != null, ifNotExists != null))
    case DropViewRe(ifExists, ident)
        if ident.count(_ == '.') >= 2 && isGraftCatalog(ident.split('.').head) =>
      Some(dropViewCommand(ident, ifExists != null))
    case _ => None
  }

  private def viewCatalogOf(spark: SparkSession, cat: String)
      : org.apache.spark.sql.connector.catalog.ViewCatalog =
    spark.sessionState.catalogManager.catalog(cat) match {
      case v: org.apache.spark.sql.connector.catalog.ViewCatalog => v
      case _ => throw new IllegalArgumentException(
        s"Catalog $cat does not support views")
    }

  private def createViewCommand(ident: String, query: String,
      orReplace: Boolean, ifNotExists: Boolean): LogicalPlan =
    GraftCallCommand("create_view", Nil, { spark =>
      val parts = ident.split('.').toSeq
      val cm = spark.sessionState.catalogManager
      val vc = viewCatalogOf(spark, parts.head)
      val id = org.apache.spark.sql.connector.catalog.Identifier.of(
        parts.tail.init.toArray, parts.last)
      // analysis only (no execution): the captured schema pins the view's
      // column list and types at creation time
      val schema = spark.sql(query).schema
      val info = new org.apache.spark.sql.connector.catalog.ViewInfo(
        id, query, cm.currentCatalog.name, cm.currentNamespace, schema,
        schema.fieldNames, Array.empty[String], Array.empty[String],
        new java.util.HashMap[String, String]())
      if (orReplace) vc.replaceView(info, true)
      else if (ifNotExists && vc.viewExists(id)) ()
      else vc.createView(info)
      Nil
    })

  private def dropViewCommand(ident: String, ifExists: Boolean): LogicalPlan =
    GraftCallCommand("drop_view", Nil, { spark =>
      val parts = ident.split('.').toSeq
      val vc = viewCatalogOf(spark, parts.head)
      val id = org.apache.spark.sql.connector.catalog.Identifier.of(
        parts.tail.init.toArray, parts.last)
      if (!vc.dropView(id) && !ifExists)
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(id)
      Nil
    })

  /** A no-output command over a resolved table (branch/tag DDL). */
  private def refCommand(cmd: String, ident: String)(
      body: IceTable => Unit): LogicalPlan =
    GraftCallCommand(cmd, Nil, { spark =>
      body(resolveIdent(spark, ident)); Nil
    })

  private def attr(name: String, t: DataType): Attribute =
    AttributeReference(name, t, nullable = true)()

  private case class GraftCallCommand(commandName: String,
      outputAttrs: Seq[Attribute], body: SparkSession => Seq[Row])
      extends LeafRunnableCommand {
    override def output: Seq[Attribute] = outputAttrs
    override def run(session: SparkSession): Seq[Row] = body(session)
    override def simpleString(maxFields: Int): String = s"GraftCall $commandName"
  }

  /** `cat.db.t` (the catalog segment names a configured GraftCatalog) →
    * loaded table at `<warehouse>/db/t`. */
  private def resolve(spark: SparkSession, parts: Seq[String]): IceTable = {
    require(parts.size >= 2, s"Expected cat.db.table, got ${parts.mkString(".")}")
    val warehouse = spark.conf.getOption(s"spark.sql.catalog.${parts.head}.warehouse")
      .getOrElse(throw new IllegalArgumentException(
        s"'${parts.head}' is not a configured graft catalog"))
    IceTable.load(spark, (warehouse +: parts.tail).mkString("/"))
  }

  private def resolveIdent(spark: SparkSession, ident: String): IceTable =
    resolve(spark, ident.split('.').toSeq)

  /** Materialize a result-producing CALL's rows as a graft table at `loc`
    * (created fresh, or atomically overwritten if it exists) under the
    * SOURCE table's FileIO — encrypted inputs get encrypted results.
    * Returns the row count from the commit's own summary (no extra scan). */
  private def writeResultTable(spark: SparkSession, source: IceTable,
      loc: String, result: org.apache.spark.sql.DataFrame): Long = {
    val io = new graft.table.FileIO(spark.sparkContext.hadoopConfiguration,
      source.io.encryption, source.io.requireSealedMetadata)
    val ops = new graft.table.TableOperations(loc, io)
    val out =
      if (ops.exists) {
        val t = IceTable.loadWith(spark, ops)
        t.overwrite(graft.meta.expr.TrueExpr, result)
        t
      } else {
        val t = IceTable.createWith(spark, ops,
          graft.meta.Schema.fresh(result.schema))
        t.append(result)
        t
      }
    out.meta.currentSnapshot.flatMap(_.summary.get("total-records"))
      .flatMap(_.toLongOption).getOrElse(out.toDF.count())
  }

  // ------------------------------------------------------------- CALL args

  /** Split `a, b => c, 'x,y'` on top-level commas (quotes and parens nest). */
  private def splitArgs(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val cur = new StringBuilder
    var depth = 0; var inStr = false
    s.foreach {
      case '\'' => inStr = !inStr; cur += '\''
      case '(' if !inStr => depth += 1; cur += '('
      case ')' if !inStr => depth -= 1; cur += ')'
      case ',' if !inStr && depth == 0 => out += cur.toString; cur.clear()
      case c => cur += c
    }
    if (cur.toString.trim.nonEmpty) out += cur.toString
    out.map(_.trim).filter(_.nonEmpty).toSeq
  }

  private val NamedArgRe = """(?s)^([\w]+)\s*=>\s*(.+)$""".r
  private val TsRe = """(?is)^TIMESTAMP\s*'(.+)'$""".r
  private val StrRe = """(?s)^'(.*)'$""".r

  private def parseValue(v: String): Any = v.trim match {
    case TsRe(ts) => java.sql.Timestamp.valueOf(ts.replace("T", " ")).getTime
    case StrRe(s) => s.replace("''", "'")
    case "true" | "TRUE" => true
    case "false" | "FALSE" => false
    case n if n.matches("[-+]?\\d+") => n.toLong
    case n if n.matches("[-+]?\\d*\\.\\d+") => n.toDouble
    case other => throw new IllegalArgumentException(s"Cannot parse argument: $other")
  }

  /** (positional values, named values) */
  private def parseArgs(raw: String): (Seq[Any], Map[String, Any]) = {
    val parts = splitArgs(raw)
    val named = scala.collection.mutable.LinkedHashMap[String, Any]()
    val positional = scala.collection.mutable.ArrayBuffer[Any]()
    parts.foreach {
      case NamedArgRe(name, value) => named(name.toLowerCase) = parseValue(value)
      case value => positional += parseValue(value)
    }
    (positional.toSeq, named.toMap)
  }

  // ------------------------------------------------------------ procedures

  private def call(catalog: String, proc: String, rawArgs: String): LogicalPlan = {
    val (pos, named) = parseArgs(rawArgs)
    def tableArg: Seq[String] = {
      val ident = named.get("table").orElse(pos.headOption).getOrElse(
        throw new IllegalArgumentException(s"$proc requires a table argument"))
        .toString
      catalog +: ident.split('.').toSeq
    }
    def longArg(name: String, idx: Int): Long =
      named.get(name).orElse(pos.lift(idx)).map(_.asInstanceOf[Long]).getOrElse(
        throw new IllegalArgumentException(s"$proc requires $name"))
    def optLong(name: String, idx: Int): Option[Long] =
      named.get(name).orElse(pos.lift(idx)).map(_.asInstanceOf[Long])

    proc match {
      case "expire_snapshots" =>
        GraftCallCommand(proc, Seq(attr("expired_snapshots_count", LongType),
          attr("deleted_data_files_count", LongType),
          attr("deleted_manifest_files_count", LongType)), { spark =>
          val t = resolve(spark, tableArg)
          val olderThan = optLong("older_than", 1).getOrElse(System.currentTimeMillis())
          val retainLast = optLong("retain_last", 2).map(_.toInt).getOrElse(1)
          val (a, b, c) = t.expireSnapshots(olderThan, retainLast)
          Seq(Row(a.toLong, b, c))
        })
      case "remove_orphan_files" =>
        GraftCallCommand(proc, Seq(attr("orphan_file_location", StringType)), { spark =>
          val t = resolve(spark, tableArg)
          val olderThan = optLong("older_than", 1).getOrElse(
            System.currentTimeMillis() - 3 * 24 * 3600 * 1000L)
          t.removeOrphanFiles(olderThan).map(Row(_))
        })
      case "rewrite_data_files" =>
        GraftCallCommand(proc, Seq(attr("rewritten_data_files_count", LongType),
          attr("added_data_files_count", LongType)), { spark =>
          val t = resolve(spark, tableArg)
          val target = optLong("target_file_size_bytes", 1)
            .getOrElse(graft.meta.model.TableProperties.TargetFileSizeDefault)
          val strategy = named.get("strategy").map(_.toString).getOrElse("binpack")
          val sortSpec = named.get("sort_order").map(_.toString)
          // where => '<sql predicate>': compact only files that may match
          val where = named.get("where").map(_.toString)
            .map(sql => graft.table.SparkFilterConv.convert(
              org.apache.spark.sql.graft.ColumnBridge.parseExpression(spark, sql)))
            .getOrElse(graft.meta.expr.TrueExpr)
          if (where != graft.meta.expr.TrueExpr &&
              (strategy != "binpack" || sortSpec.nonEmpty))
            throw new IllegalArgumentException(
              "where is supported for the binpack strategy (sort/zorder re-cluster the whole table)")
          val partial = optLong("partial_progress_max_commits", -1)
            .map(_.toInt).getOrElse(1)
          val (rw, add) = strategy match {
            case "binpack" if sortSpec.isEmpty =>
              t.rewriteDataFiles(target, filter = where,
                partialProgressCommits = partial)
            case "sort" | "binpack" => t.rewriteDataFilesSorted(target, sortSpec)
            case "zorder" => t.rewriteDataFilesZOrder(
              sortSpec.getOrElse(throw new IllegalArgumentException(
                "zorder needs sort_order => 'colA,colB'"))
                .split(",").map(_.trim).filter(_.nonEmpty).toSeq, target)
            case other => throw new IllegalArgumentException(
              s"Unknown rewrite strategy: $other (binpack|sort|zorder)")
          }
          Seq(Row(rw.toLong, add.toLong))
        })
      case "rewrite_manifests" =>
        GraftCallCommand(proc, Seq(attr("rewritten_manifests_count", LongType)), { spark =>
          Seq(Row(resolve(spark, tableArg).rewriteManifests().toLong))
        })
      case "rewrite_position_delete_files" =>
        GraftCallCommand(proc,
          Seq(attr("rewritten_delete_files_count", LongType),
            attr("added_delete_files_count", LongType)), { spark =>
          val (rw, add) = resolve(spark, tableArg).rewritePositionDeleteFiles()
          Seq(Row(rw.toLong, add.toLong))
        })
      case "maintain" =>
        // the one-call autopilot: conversion, delete compaction, bin-pack,
        // dangling drop, manifest rewrite, expiry (+ opt-in orphans), each
        // gated by metadata probes and maintenance.* table properties
        GraftCallCommand(proc, Seq(
          attr("converted_eq_deletes", LongType),
          attr("rewritten_delete_files", LongType),
          attr("compacted_data_files", LongType),
          attr("dangling_deletes_removed", LongType),
          attr("manifests_after_rewrite", LongType),
          attr("expired_snapshots", LongType),
          attr("orphans_removed", LongType)), { spark =>
          val r = resolve(spark, tableArg).maintain()
          Seq(Row(r.convertedEqDeletes.toLong, r.rewrittenDeleteFiles.toLong,
            r.compactedDataFiles.toLong, r.danglingDeletesRemoved.toLong,
            r.manifestsRewritten.toLong, r.expiredSnapshots.toLong,
            r.orphansRemoved.toLong))
        })
      case "convert_equality_deletes" =>
        GraftCallCommand(proc,
          Seq(attr("converted_delete_files_count", LongType),
            attr("added_delete_files_count", LongType)), { spark =>
          val (cv, add) = resolve(spark, tableArg).convertEqualityDeletes()
          Seq(Row(cv.toLong, add.toLong))
        })
      case "register_table" =>
        // register an EXISTING metadata file under a pointer-backed catalog
        // (ref metastore catalogs' registerTable); files never move
        GraftCallCommand(proc, Seq(attr("current_snapshot_id", LongType),
          attr("total_records", LongType)), { spark =>
          val loc = named.get("metadata_location").orElse(pos.lift(1)).getOrElse(
            throw new IllegalArgumentException(
              "register_table requires metadata_location")).toString
          val parts = tableArg
          val ident = org.apache.spark.sql.connector.catalog.Identifier.of(
            parts.drop(1).dropRight(1).toArray, parts.last)
          val registered = spark.sessionState.catalogManager.catalog(parts.head) match {
            case p: GraftJdbcCatalog => p.registerTable(ident, loc)
            case other => throw new UnsupportedOperationException(
              "register_table needs a pointer-backed catalog " +
                "(jdbc, rest or hive-metastore); " +
                s"the filesystem catalog derives tables from their paths: ${other.getClass.getName}")
          }
          val m = registered.getOrElse(throw new IllegalStateException(
            s"Table already exists: ${parts.mkString(".")}"))
          Seq(Row(m.currentSnapshotId.getOrElse(-1L),
            m.currentSnapshot.flatMap(_.summary.get("total-records"))
              .flatMap(_.toLongOption).getOrElse(-1L)))
        })
      case "compute_table_stats" =>
        // ANALYZE: one distributed pass → snapshot-pinned stats file the
        // scan reports to the CBO (TableStats.scala)
        GraftCallCommand(proc, Seq(attr("statistics_file", StringType),
          attr("analyzed_columns_count", LongType)), { spark =>
          val t = resolve(spark, tableArg)
          val cols = named.get("columns").map(_.toString)
            .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
          val ref = graft.table.TableStats.compute(t, cols)
          val n = graft.table.TableStats.read(t.io, ref.path)._2.size
          Seq(Row(ref.path, n.toLong))
        })
      case "remove_dangling_deletes" =>
        GraftCallCommand(proc,
          Seq(attr("removed_delete_files_count", LongType)), { spark =>
          Seq(Row(resolve(spark, tableArg).removeDanglingDeletes().toLong))
        })
      case "rollback_to_snapshot" =>
        GraftCallCommand(proc, Seq(attr("previous_snapshot_id", LongType),
          attr("current_snapshot_id", LongType)), { spark =>
          val t = resolve(spark, tableArg)
          val prev = t.currentSnapshot.map(_.snapshotId).getOrElse(-1L)
          val target = longArg("snapshot_id", 1)
          t.rollbackTo(target)
          Seq(Row(prev, target))
        })
      case "rollback_to_timestamp" =>
        GraftCallCommand(proc, Seq(attr("previous_snapshot_id", LongType),
          attr("current_snapshot_id", LongType)), { spark =>
          val t = resolve(spark, tableArg)
          val prev = t.currentSnapshot.map(_.snapshotId).getOrElse(-1L)
          t.rollbackToTime(longArg("timestamp", 1))
          Seq(Row(prev, t.currentSnapshot.map(_.snapshotId).getOrElse(-1L)))
        })
      case "set_current_snapshot" =>
        GraftCallCommand(proc, Seq(attr("previous_snapshot_id", LongType),
          attr("current_snapshot_id", LongType)), { spark =>
          val t = resolve(spark, tableArg)
          val prev = t.currentSnapshot.map(_.snapshotId).getOrElse(-1L)
          val target = longArg("snapshot_id", 1)
          t.setCurrentSnapshot(target)
          Seq(Row(prev, target))
        })
      case "fast_forward" =>
        // ref SQL procedure shape: fast_forward(table, branch, to) — `to`
        // is a ref name or a snapshot id; requires `to` to be a descendant
        GraftCallCommand(proc, Seq(attr("branch_updated", StringType),
          attr("previous_ref", LongType), attr("updated_ref", LongType)), { spark =>
          val t = resolve(spark, tableArg)
          def headOf(name: String): Option[Long] =
            if (name == graft.meta.model.SnapshotRefMeta.MainBranch)
              t.currentSnapshot.map(_.snapshotId)
            else t.refs.get(name).map(_.snapshotId)
          val branch = named.get("branch").orElse(pos.lift(1)).getOrElse(
            throw new IllegalArgumentException("fast_forward requires branch")).toString
          val to = named.get("to").orElse(pos.lift(2)).getOrElse(
            throw new IllegalArgumentException("fast_forward requires to")).toString
          val prev = headOf(branch).getOrElse(-1L)
          val toId = to.toLongOption.orElse(headOf(to)).getOrElse(
            throw new IllegalArgumentException(s"Unknown ref: $to"))
          t.fastForward(branch, toId)
          Seq(Row(branch, prev, toId))
        })
      case "cherrypick_snapshot" =>
        GraftCallCommand(proc, Seq(attr("source_snapshot_id", LongType),
          attr("current_snapshot_id", LongType)), { spark =>
          val t = resolve(spark, tableArg)
          val target = longArg("snapshot_id", 1)
          t.cherrypick(target)
          Seq(Row(target, t.currentSnapshot.map(_.snapshotId).getOrElse(-1L)))
        })
      case "ancestors_of" =>
        GraftCallCommand(proc, Seq(attr("snapshot_id", LongType),
          attr("timestamp", LongType)), { spark =>
          val t = resolve(spark, tableArg)
          val m = t.meta
          Iterator.iterate(m.currentSnapshot)(s => s.flatMap(_.parentId).flatMap(m.snapshot))
            .takeWhile(_.isDefined).flatten
            .map(s => Row(s.snapshotId, s.timestampMillis)).toSeq
        })
      case "migrate" =>
        GraftCallCommand(proc, Seq(attr("migrated_files_count", LongType)), { spark =>
          val source = named.get("source").orElse(pos.lift(1)).getOrElse(
            throw new IllegalArgumentException("migrate requires source")).toString
          val parts = tableArg
          val warehouse = spark.conf.get(s"spark.sql.catalog.${parts.head}.warehouse")
          val t = TableImport.importParquet(spark, source,
            (warehouse +: parts.tail).mkString("/"))
          Seq(Row(t.newScan().planFiles().size.toLong))
        })
      case "snapshot" =>
        // ref SnapshotTableProcedure: like migrate, but the new table only
        // REFERENCES the source files — gc.enabled=false stops file-deleting
        // maintenance from touching data the source table still owns
        GraftCallCommand(proc, Seq(attr("imported_files_count", LongType)), { spark =>
          val source = named.get("source_table").orElse(named.get("source"))
            .orElse(pos.headOption).getOrElse(
              throw new IllegalArgumentException("snapshot requires source_table")).toString
          val dest = named.get("table").orElse(pos.lift(1)).getOrElse(
            throw new IllegalArgumentException("snapshot requires table")).toString
          val parts = catalog +: dest.split('.').toSeq
          val warehouse = spark.conf.get(s"spark.sql.catalog.${parts.head}.warehouse")
          val t = TableImport.importParquet(spark, source,
            (warehouse +: parts.tail).mkString("/"),
            properties = Map(graft.meta.model.TableProperties.GcEnabled -> "false",
              "snapshot-source" -> source))
          Seq(Row(t.newScan().planFiles().size.toLong))
        })
      case "rebuild_ann_index" =>
        // explicit re-fit of a persisted IVF ANN index (quantizer + full
        // reassignment); between rebuilds, appends only sync assignments
        GraftCallCommand(proc, Seq(attr("index_location", StringType),
          attr("n_lists", LongType), attr("indexed_count", LongType)), { spark =>
          val t = resolve(spark, tableArg)
          val idCol = named.get("id_col").orElse(pos.lift(1)).getOrElse(
            throw new IllegalArgumentException(
              "rebuild_ann_index requires id_col")).toString
          val vecCol = named.get("vec_col").orElse(pos.lift(2)).getOrElse(
            throw new IllegalArgumentException(
              "rebuild_ann_index requires vec_col")).toString
          val loc = named.get("index_location").orElse(pos.lift(3))
            .map(_.toString).getOrElse(s"${t.location}_ann_index")
          val nLists = named.get("n_lists").orElse(pos.lift(4))
            .map(_.asInstanceOf[Long].toInt).getOrElse(-1)
          // buildFrom records the corpus snapshot, so refresh_ann_index
          // can later catch up incrementally instead of re-fitting
          val idx = graft.llm.IvfIndex.buildFrom(spark, t,
            idCol, vecCol, loc, nLists)
          val count = idx.table.newScan().planFiles().map(_.file.recordCount).sum
          Seq(Row(loc, idx.centroids.size.toLong, count))
        })
      case "refresh_ann_index" =>
        // incremental catch-up against the frozen quantizer (r12): plans
        // only the corpus files appended since the index's recorded
        // snapshot; DML ranges (delete/overwrite) reconcile through the
        // row-level changelog as one MERGE (r12b); re-fits automatically
        // on rollback/expired watermarks or drift past refit_share
        GraftCallCommand(proc, Seq(attr("index_location", StringType),
          attr("appended", LongType), attr("deleted", LongType),
          attr("refit", org.apache.spark.sql.types.BooleanType)), { spark =>
          val t = resolve(spark, tableArg)
          val loc = named.get("index_location").orElse(pos.lift(1))
            .map(_.toString).getOrElse(s"${t.location}_ann_index")
          val share = named.get("refit_share").orElse(pos.lift(2))
            .map(_.toString.toDouble).getOrElse(0.2)
          val r = graft.llm.IvfIndex.refresh(spark, t, loc, share)
          Seq(Row(loc, r.appended, r.deleted, r.refit))
        })
      case "rebuild_bm25_index" =>
        // build (or replace) the persisted BM25 inverted index — the
        // lexical twin of rebuild_ann_index; buildFrom records the corpus
        // snapshot so refresh_bm25_index can catch up incrementally
        GraftCallCommand(proc, Seq(attr("index_location", StringType),
          attr("doc_count", LongType), attr("total_tokens", LongType)), { spark =>
          val t = resolve(spark, tableArg)
          val idCol = named.get("id_col").orElse(pos.lift(1)).getOrElse(
            throw new IllegalArgumentException(
              "rebuild_bm25_index requires id_col")).toString
          val textCol = named.get("text_col").orElse(pos.lift(2)).getOrElse(
            throw new IllegalArgumentException(
              "rebuild_bm25_index requires text_col")).toString
          val loc = named.get("index_location").orElse(pos.lift(3))
            .map(_.toString).getOrElse(s"${t.location}_bm25_index")
          val nBuckets = named.get("n_buckets").orElse(pos.lift(4))
            .map(_.asInstanceOf[Long].toInt).getOrElse(32)
          val idx = graft.llm.Bm25Index.buildFrom(spark, t, idCol, textCol,
            loc, nBuckets)
          Seq(Row(loc, idx.docCount, idx.totalTokens))
        })
      case "refresh_bm25_index" =>
        // incremental catch-up: append-only ranges append postings in one
        // atomic transaction; DML ranges apply the changelog as equality
        // deletes on the doc column + fresh postings (one snapshot);
        // rebuilds automatically past max_changed_share or on expired/
        // rolled-back watermarks
        GraftCallCommand(proc, Seq(attr("index_location", StringType),
          attr("upserted", LongType), attr("deleted", LongType),
          attr("rebuilt", org.apache.spark.sql.types.BooleanType)), { spark =>
          val t = resolve(spark, tableArg)
          val loc = named.get("index_location").orElse(pos.lift(1))
            .map(_.toString).getOrElse(s"${t.location}_bm25_index")
          val share = named.get("max_changed_share").orElse(pos.lift(2))
            .map(_.toString.toDouble).getOrElse(0.5)
          val r = graft.llm.Bm25Index.refresh(spark, t, loc, share)
          Seq(Row(loc, r.upserted, r.deleted, r.rebuilt))
        })
      case "knn_join" =>
        // batch ANN join (r12c op, SQL surface r13): every row of the
        // QUERY table gets its top-k corpus neighbors through the
        // persisted IVF index's distributed join (no driver query list).
        // Results are corpus-scale, so they WRITE to a graft table at
        // output_location (created, or overwritten if it exists) and the
        // CALL returns only (location, row count) — never a driver
        // collect of the result
        GraftCallCommand(proc, Seq(attr("output_location", StringType),
          attr("rows", LongType)), { spark =>
          val q = resolve(spark, tableArg)
          val idxLoc = named.get("index_location").orElse(pos.lift(1))
            .map(_.toString).getOrElse(throw new IllegalArgumentException(
              "knn_join requires index_location"))
          val idCol = named.get("id_col").orElse(pos.lift(2)).getOrElse(
            throw new IllegalArgumentException(
              "knn_join requires id_col")).toString
          val vecCol = named.get("vec_col").orElse(pos.lift(3)).getOrElse(
            throw new IllegalArgumentException(
              "knn_join requires vec_col")).toString
          val k = named.get("k").orElse(pos.lift(4))
            .map(_.asInstanceOf[Long].toInt).getOrElse(10)
          val nProbe = named.get("n_probe").orElse(pos.lift(5))
            .map(_.asInstanceOf[Long].toInt).getOrElse(2)
          val outLoc = named.get("output_location").orElse(pos.lift(6))
            .map(_.toString).getOrElse(s"${q.location}_knn")
          val usePq = named.get("use_pq").map(_.toString.toBoolean)
            .getOrElse(false)
          // the index is loaded with the QUERY table's encryption manager
          // — an encrypted corpus has an encrypted index
          val idx = graft.llm.IvfIndex.load(spark, idxLoc, q.io.encryption)
          val result =
            if (usePq) idx.knnJoinPq(q.toDF, idCol, vecCol, k, nProbe)
            else idx.knnJoin(q.toDF, idCol, vecCol, k, nProbe)
          Seq(Row(outLoc, writeResultTable(spark, q, outLoc, result)))
        })
      case "bm25_join" =>
        // batch lexical-retrieval join (r13): the table-to-table BM25 —
        // every row of the query TABLE gets top-k corpus docs through the
        // persisted index's distributed join (no driver term collect);
        // results write to a graft table like knn_join
        GraftCallCommand(proc, Seq(attr("output_location", StringType),
          attr("rows", LongType)), { spark =>
          val q = resolve(spark, tableArg)
          val idxLoc = named.get("index_location").orElse(pos.lift(1))
            .map(_.toString).getOrElse(throw new IllegalArgumentException(
              "bm25_join requires index_location"))
          val idCol = named.get("id_col").orElse(pos.lift(2)).getOrElse(
            throw new IllegalArgumentException(
              "bm25_join requires id_col")).toString
          val textCol = named.get("text_col").orElse(pos.lift(3)).getOrElse(
            throw new IllegalArgumentException(
              "bm25_join requires text_col")).toString
          val k = named.get("k").orElse(pos.lift(4))
            .map(_.asInstanceOf[Long].toInt).getOrElse(10)
          val outLoc = named.get("output_location").orElse(pos.lift(5))
            .map(_.toString).getOrElse(s"${q.location}_bm25")
          val idx = graft.llm.Bm25Index.load(spark, idxLoc, q.io.encryption)
          val result = idx.queryJoin(q.toDF, idCol, textCol, k)
          Seq(Row(outLoc, writeResultTable(spark, q, outLoc, result)))
        })
      case "span_dedup" =>
        // duplicated-span removal (r12c op, SQL surface r13): rewrites
        // the corpus with spans duplicated across ≥ min_docs documents
        // removed at any alignment; output is a full corpus-sized table —
        // written to output_location, never collected
        GraftCallCommand(proc, Seq(attr("output_location", StringType),
          attr("rows", LongType)), { spark =>
          val t = resolve(spark, tableArg)
          val idCol = named.get("id_col").orElse(pos.lift(1)).getOrElse(
            throw new IllegalArgumentException(
              "span_dedup requires id_col")).toString
          val textCol = named.get("text_col").orElse(pos.lift(2)).getOrElse(
            throw new IllegalArgumentException(
              "span_dedup requires text_col")).toString
          val n = named.get("n").orElse(pos.lift(3))
            .map(_.asInstanceOf[Long].toInt).getOrElse(3)
          val minDocs = named.get("min_docs").orElse(pos.lift(4))
            .map(_.asInstanceOf[Long].toInt).getOrElse(2)
          val outLoc = named.get("output_location").orElse(pos.lift(5))
            .map(_.toString).getOrElse(s"${t.location}_dedup")
          val hashGrams = named.get("hash_grams").map(_.toString.toBoolean)
            .getOrElse(false)
          val result = graft.llm.TextOps.removeDuplicatedSpans(
            t.toDF, idCol, textCol, n, minDocs, hashGrams)
          Seq(Row(outLoc, writeResultTable(spark, t, outLoc, result)))
        })
      case "create_aggregate_view" =>
        // incrementally-maintained aggregate table (r12): stamps the
        // defining query + source watermark as table properties; refresh
        // recomputes only the groups the source changelog touched.
        // `aggs` is SEMICOLON-separated (aggregates contain commas)
        GraftCallCommand(proc, Seq(attr("view_location", StringType),
          attr("groups", LongType)), { spark =>
          val t = resolve(spark, tableArg)
          val loc = named.get("view_location").orElse(pos.lift(1))
            .map(_.toString).getOrElse(s"${t.location}_agg_view")
          val keys = named.get("keys").orElse(pos.lift(2)).map(_.toString)
            .getOrElse(throw new IllegalArgumentException(
              "create_aggregate_view requires keys => 'k1,k2'"))
            .split(',').map(_.trim).toSeq
          val aggs = named.get("aggs").orElse(pos.lift(3)).map(_.toString)
            .getOrElse(throw new IllegalArgumentException(
              "create_aggregate_view requires aggs => 'sum(v) AS total; …'"))
            .split(';').map(_.trim).filter(_.nonEmpty).toSeq
          val v = graft.table.IncrementalView.create(spark, t, loc, keys, aggs)
          Seq(Row(loc, v.toDF.count()))
        })
      case "refresh_aggregate_view" =>
        GraftCallCommand(proc, Seq(attr("view_location", StringType),
          attr("upserted_groups", LongType), attr("deleted_groups", LongType),
          attr("rebuilt", org.apache.spark.sql.types.BooleanType)), { spark =>
          val loc = named.get("view_location").map(_.toString)
            .getOrElse(resolve(spark, tableArg).location)
          val r = graft.table.IncrementalView.refresh(spark, loc)
          Seq(Row(loc, r.upsertedGroups, r.deletedGroups, r.rebuilt))
        })
      case "add_files" =>
        GraftCallCommand(proc, Seq(attr("added_files_count", LongType)), { spark =>
          val source = named.get("source_table").orElse(named.get("source"))
            .orElse(pos.lift(1)).getOrElse(
              throw new IllegalArgumentException("add_files requires source")).toString
          val t = resolve(spark, tableArg)
          val before = t.newScan().planFiles().size
          val io = t.io
          val files = io.listRecursive(source)
            .filter(_.getPath.getName.endsWith(".parquet")).map(_.getPath.toString)
          TableImport.addFiles(t, source, files)
          Seq(Row((t.newScan().planFiles().size - before).toLong))
        })
      case other =>
        throw new UnsupportedOperationException(s"Unknown procedure: $other")
    }
  }

  // --------------------------------------------------- ALTER PARTITION FIELD

  /** `bucket(8, id)` / `days(ts)` / `truncate(4, s)` / bare column name
    * (shared grammar: [[graft.meta.SortSpec.parseTransformTerm]]). */
  private def parseTransform(s: String): (String, Transform) =
    graft.meta.SortSpec.parseTransformTerm(s)

  private def alterSpec(ident: String, transformSql: String, add: Boolean): LogicalPlan =
    GraftCallCommand(if (add) "add_partition_field" else "drop_partition_field",
      Nil, { spark =>
      val t = resolveIdent(spark, ident)
      val (col, transform) = parseTransform(transformSql)
      val schema = t.schema
      val srcId = schema.fieldId(col)
      t.updateSpec { b0 =>
        val existing = t.spec.fields.filterNot(pf =>
          pf.sourceId == srcId && pf.transform.name == transform.name)
        if (!add && existing.size == t.spec.fields.size)
          throw new IllegalArgumentException(
            s"No partition field ${transform.name}($col) to drop")
        val kept = existing.foldLeft(b0)((b, pf) =>
          b.add(schema.fieldName(pf.sourceId), pf.transform))
        if (add) kept.add(col, transform) else kept
      }
      Nil
    })

  /** `REPLACE PARTITION FIELD <old> WITH <new>` (ref grammar
    * `IcebergSqlExtensions.g4` REPLACE PARTITION FIELD): drop + add in ONE
    * spec commit, so concurrent readers never see an intermediate spec. */
  private def replaceSpecField(ident: String, oldSql: String, newSql: String): LogicalPlan =
    GraftCallCommand("replace_partition_field", Nil, { spark =>
      val t = resolveIdent(spark, ident)
      val (oldCol, oldTransform) = parseTransform(oldSql)
      val (newCol, newTransform) = parseTransform(newSql)
      val schema = t.schema
      val oldSrcId = schema.fieldId(oldCol)
      t.updateSpec { b0 =>
        val without = t.spec.fields.filterNot(pf =>
          pf.sourceId == oldSrcId && pf.transform.name == oldTransform.name)
        if (without.size == t.spec.fields.size)
          throw new IllegalArgumentException(
            s"No partition field ${oldTransform.name}($oldCol) to replace")
        without.foldLeft(b0)((b, pf) =>
          b.add(schema.fieldName(pf.sourceId), pf.transform))
          .add(newCol, newTransform)
      }
      Nil
    })

  /** `SET/DROP IDENTIFIER FIELDS a, b` (ref grammar): declares the schema's
    * row-identity columns — the default equality-delete keys. */
  private def identifierFields(ident: String, colsSql: String, set: Boolean): LogicalPlan =
    GraftCallCommand(if (set) "set_identifier_fields" else "drop_identifier_fields",
      Nil, { spark =>
      val t = resolveIdent(spark, ident)
      val names = colsSql.split(',').map(_.trim.replace("`", "")).filter(_.nonEmpty).toSeq
      if (set) t.setIdentifierFields(names)
      else {
        names.foreach(n => require(t.schema.identifierFieldNames.contains(n),
          s"Not an identifier field: $n"))
        t.setIdentifierFields(t.schema.identifierFieldNames.filterNot(names.contains))
      }
      Nil
    })

  // ------------------------------------------------------------ WRITE SPEC

  private val DistributedClauseRe = """(?is)\bDISTRIBUTED\s+BY\s+PARTITION\b""".r

  /** `ALTER TABLE t WRITE [DISTRIBUTED BY PARTITION] [[LOCALLY] ORDERED BY
    * order | UNORDERED]` (ref grammar `IcebergSqlExtensions.g4:78–88`
    * writeSpec + `IcebergSqlExtensionsAstBuilder.visitSetWriteDistribution
    * AndOrdering`): distribution clause ⇒ hash; UNORDERED or LOCALLY ⇒ none;
    * plain ORDERED BY ⇒ range. Sort terms may be transforms (`bucket(8,
    * id)`, `days(ts)`). Order + mode commit atomically (ref
    * `SetWriteDistributionAndOrderingExec` single transaction). */
  private def writeSpec(ident: String, specSql: String): LogicalPlan =
    GraftCallCommand("set_write_distribution_and_ordering", Nil, { spark =>
      val distributed = DistributedClauseRe.findAllIn(specSql).size match {
        case 0 => false
        case 1 => true
        case _ => throw new IllegalArgumentException(
          "ALTER TABLE contains multiple distribution clauses")
      }
      val rest = DistributedClauseRe.replaceAllIn(specSql, " ").trim
      val (locally, unordered, orderSql) = rest match {
        case "" => (false, false, "")
        case r if r.matches("(?is)^UNORDERED$") => (false, true, "")
        case r =>
          val m = """(?is)^(LOCALLY\s+)?ORDERED\s+BY\s+(.+)$""".r
          r match {
            case m(loc, order) => (loc != null, false, order.trim)
            case other => throw new IllegalArgumentException(
              s"Cannot parse WRITE spec: $other")
          }
      }
      val mode =
        if (distributed) "hash"
        else if (unordered || locally) "none"
        else "range"
      val t = resolveIdent(spark, ident)
      val fields =
        if (orderSql.isEmpty) Nil
        else graft.meta.SortSpec.parseFields(t.schema, orderSql)
      t.setWriteDistributionAndOrdering(mode,
        graft.meta.model.SortOrderMeta(1, fields))
      Nil
    })
}
