package graft.table

import graft.meta.{PartitionSpec, Schema}
import graft.meta.model.{DataFileMeta, Operation, TableProperties}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.types.StructType

/** Imports existing parquet data as a graft table WITHOUT rewriting files
  * (ref `spark/.../SparkTableUtil.java:117` importSparkTable /
  * `AddFilesProcedure` / migrate): list files, read footers for metrics,
  * register. Hive-layout partition dirs become identity partition fields;
  * since imported files don't contain the partition columns, the table is
  * marked for read-time partition-constant injection
  * (ref `PartitionUtil.constantsMap`).
  */
object TableImport {

  /** Above this many files, [[addFiles]] reads footers as a Spark job. */
  val DistributedMetricsThreshold = 64

  /** Snapshot an existing parquet directory (flat or hive-partitioned) into
    * a new graft table at `location`. */
  def importParquet(spark: SparkSession, sourceDir: String, location: String,
      properties: Map[String, String] = Map.empty): IceTable = {
    val df = spark.read.parquet(sourceDir)
    val fullSchema = Schema.fresh(df.schema) // includes discovered partition cols
    val io = new FileIO(spark.sparkContext.hadoopConfiguration)
    val files = io.listRecursive(sourceDir)
      .filter(s => s.getPath.getName.endsWith(".parquet"))
    require(files.nonEmpty, s"No parquet files under $sourceDir")

    // hive-layout partition columns from the first file's relative path
    val partCols: Seq[String] = {
      val rel = relPath(sourceDir, files.head.getPath.toString)
      rel.split('/').dropRight(1).filter(_.contains('='))
        .map(_.split("=", 2)(0)).toSeq
    }
    val spec =
      if (partCols.isEmpty) PartitionSpec.unpartitioned
      else partCols.foldLeft(PartitionSpec.builderFor(fullSchema))(
        (b, c) => b.identity(c)).build()
    val props = properties ++
      (if (partCols.nonEmpty) Map(TableProperties.InjectPartitionConstants -> "true")
       else Map.empty)
    val table = IceTable.create(spark, location, fullSchema, spec, properties = props)
    addFiles(table, sourceDir, files.map(_.getPath.toString))
    table
  }

  /** Register additional existing parquet files into `table` (add_files).
    *
    * Schema binding (the rebuild's name mapping; ref
    * `core/.../mapping/NameMapping.java` via `DEFAULT_NAME_MAPPING`): each
    * file's footer column names are matched against EVERY schema version the
    * table has had, and the file is stamped with the best-covering one — a
    * foreign file still written with pre-rename names binds to the
    * historical schema carrying those names, so reads (which resolve by
    * field ID through the file's schema) see the renamed column instead of
    * null-filling it. `nameMapping` (physical column name → field id)
    * overrides the match for files whose naming never appeared in the
    * table's history; it is registered as a new immutable schema version.
    *
    * Footer reads run as a Spark job above [[DistributedMetricsThreshold]]
    * files (ref `SparkTableUtil.java:117-236` runs imports as Spark jobs) —
    * a 100k-file migrate is executor-parallel, the driver only collects
    * metadata-sized [[DataFileMeta]]s.
    */
  def addFiles(table: IceTable, baseDir: String, paths: Seq[String],
      nameMapping: Map[String, Int] = Map.empty): Unit = {
    val spark = table.spark
    val m = table.meta
    // imports register EXISTING plaintext files: a table that requires
    // encrypted content must refuse them like any other plaintext write
    if (m.property(TableProperties.EncryptionRequired, "false").toBoolean)
      throw new ValidationException(
        s"${table.location} requires encrypted content " +
          s"(${TableProperties.EncryptionRequired}=true) — foreign plaintext " +
          "files cannot be imported; ingest them through an encrypted write")
    val schema = m.schema
    val spec = m.spec
    val conf = spark.sparkContext.hadoopConfiguration
    val zone = spark.conf.get("spark.sql.session.timeZone")

    // explicit mapping → a synthetic schema version: current types/IDs with
    // the mapped physical names (commit registers it; reads then resolve
    // imported files through it by ID like any other historical schema)
    val mapped: Option[Schema] = if (nameMapping.isEmpty) None else {
      val byId = nameMapping.map(_.swap)
      val fields = schema.struct.fields.map { f =>
        byId.get(Schema.fieldId(f)).map(n => f.copy(name = n)).getOrElse(f)
      }
      Some(Schema(org.apache.spark.sql.types.StructType(fields),
        schemaId = m.schemas.map(_.schemaId).max + 1))
    }
    val candidates = m.schemas ++ mapped.toSeq
    val preferredId = mapped.map(_.schemaId).getOrElse(m.currentSchemaId)

    // (schemaId, metrics, length) per file — one footer open each,
    // distributed for big imports, driver IO pool for small ones
    val resolved: Map[String, (Int, ParquetMetrics.FileMetrics, Long)] =
      if (paths.size > DistributedMetricsThreshold) {
        val serConf = new org.apache.spark.util.SerializableConfiguration(conf)
        val bcSchemas = spark.sparkContext.broadcast(candidates)
        val prefId = preferredId
        spark.sparkContext.parallelize(paths, math.max(1, paths.size / 16))
          .map(p => p -> ParquetMetrics.readResolved(serConf.value, p,
            bcSchemas.value, prefId))
          .collect().toMap
      } else {
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        implicit val ec: ExecutionContext = ManifestIO.ioPool
        Await.result(Future.sequence(paths.map(p => Future {
          p -> ParquetMetrics.readResolved(conf, p, candidates, preferredId)
        })), Duration.Inf).toMap
      }

    val metas = paths.map { p =>
      val partValues: Seq[Any] = if (spec.isUnpartitioned) Nil else {
        val dirs = relPath(baseDir, p).split('/').dropRight(1)
          .filter(_.contains('='))
          .map { seg =>
            val Array(k, v) = seg.split("=", 2)
            k -> ExternalCatalogUtils.unescapePathName(v)
          }.toMap
        spec.fields.map { pf =>
          val raw = dirs.getOrElse(pf.name,
            throw new IllegalArgumentException(s"No partition dir ${pf.name} in $p"))
          if (raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
          else parsePartitionValue(raw, spec.fieldType(schema, pf), zone)
        }
      }
      val (schemaId, raw, len) = resolved(p)
      val bindSchema = candidates.find(_.schemaId == schemaId).get
      val metrics = MetricsModes.apply(raw, bindSchema, MetricsModes.forTable(m))
      DataFileMeta(
        path = p, format = "parquet", specId = spec.specId, partition = partValues,
        recordCount = metrics.recordCount,
        fileSizeBytes = len,
        valueCounts = metrics.valueCounts, nullCounts = metrics.nullCounts,
        nanCounts = metrics.nanCounts, lowerBounds = metrics.lowerBounds,
        upperBounds = metrics.upperBounds, splitOffsets = metrics.splitOffsets,
        schemaId = schemaId)
    }
    // the synthetic mapped schema must be registered atomically with the
    // files that reference it; its id must still be free at commit time
    val registerMapped = mapped.map { ms => (base: graft.meta.model.TableMetadata) =>
      if (base.schemas.exists(_.schemaId == ms.schemaId))
        throw new ValidationException(
          s"Concurrent schema evolution during import (id ${ms.schemaId} taken); retry")
      base.copy(schemas = base.schemas :+ ms)
    }
    table.commitSnapshot(Operation.Append, metas, Set.empty,
      Map("imported-files" -> metas.size.toString),
      metaTransform = registerMapped)
  }

  /** A hive-style directory value as the partition type's internal repr,
    * parsed by Spark's own cast as partition discovery does: timestamps in
    * the session zone `zone`, the zone Spark names the directories in. */
  private[table] def parsePartitionValue(raw: String,
      t: org.apache.spark.sql.types.DataType, zone: String): Any = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Literal}
    Writes.fromCatalyst(Cast(Literal(raw), t, Some(zone), EvalMode.ANSI).eval())
  }

  private def relPath(base: String, full: String): String = {
    val b = GraftPaths.norm(base)
    val f = GraftPaths.norm(full)
    f.stripPrefix(b).stripPrefix("/")
  }
}
