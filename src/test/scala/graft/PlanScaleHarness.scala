package graft

import graft.meta.{PartitionSpec, Schema}
import graft.meta.expr.Exprs._
import graft.meta.model._
import graft.table.{AesGcmEncryptionManager, FileIO, IceTable, TableOperations}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** Driver-side planning at 100 TB metadata scale (test scope — never
  * ships). A 100 TB table at the 512 MB write target is ~200k data files;
  * this harness fabricates exactly that metadata tree (no data bytes —
  * planning never opens data files) and measures what the DRIVER pays:
  * planFiles wall + retained heap, filtered planning (partition pruning +
  * metrics eval under the per-spec caches), SPJ key grouping, and the
  * sealed-manifest delta. Each stage prints its wall time and the
  * manifests it opened. Spark runs `local[<cores>]` with one shuffle
  * partition per core. Run with
  * `sbt "Test/runMain graft.PlanScaleHarness [files] [sealed]"` idle.
  *
  * Layout: spec = (identity(d), bucket(16, k)); 200k files spread over
  * `files/62` partitions ≈ the shape of a daily-partitioned fact table.
  * Entries carry realistic per-file stats (value/null counts + bounds on
  * 4 columns) so metrics evaluation costs what it costs in production.
  * Commits land in batches of 10k files; commit-time manifest merge is ON
  * so the manifest tree converges to target-size manifests like a real
  * table's.
  */
object PlanScaleHarness {
  def main(args: Array[String]): Unit = {
    val nFiles = args.headOption.map(_.toInt).getOrElse(200000)
    val enc = args.drop(1).headOption.exists(_.toBoolean)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }
    /** Times one planning stage and counts the manifests it opened. */
    def stage[A](name: String)(f: => A): (A, Double) = {
      val opened0 = graft.table.ManifestIO.readCounter.get()
      val (a, secs) = time(f)
      println(f"stage $name%-28s $secs%7.2f s  manifests_opened=" +
        s"${graft.table.ManifestIO.readCounter.get() - opened0}")
      (a, secs)
    }
    def heapMb(): Long = {
      val rt = Runtime.getRuntime
      System.gc(); Thread.sleep(200); System.gc()
      (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
    }

    val struct = StructType(Seq(StructField("k", LongType),
      StructField("d", DateType), StructField("v", DoubleType),
      StructField("s", StringType)))
    val schema = Schema.fresh(struct)
    val spec = PartitionSpec.builderFor(schema)
      .identity("d").bucket("k", 16).build()
    val loc = java.nio.file.Files.createTempDirectory(
      s"graft-planscale-${if (enc) "enc" else "plain"}-").toString + "/t"
    val io =
      if (!enc) new FileIO(spark.sparkContext.hadoopConfiguration)
      else new FileIO(spark.sparkContext.hadoopConfiguration,
        new AesGcmEncryptionManager(
          "0123456789abcdef0123456789abcdef".getBytes("UTF-8"), "planscale"))
    val t = IceTable.createWith(spark, new TableOperations(loc, io), schema, spec)

    val ids = Seq("k", "d", "v", "s").map(schema.fieldId)
    val Seq(kId, dId, vId, sId) = ids
    val filesPerPart = 62
    val nParts = math.max(1, nFiles / filesPerPart / 16)
    println(s"files=$nFiles dates=$nParts buckets=16 sealed=$enc")
    val h0 = heapMb()
    var made = 0
    var day = 0
    val batch = scala.collection.mutable.ArrayBuffer.empty[DataFileMeta]
    var committed = 0
    var commitSecs = 0.0
    while (made < nFiles) {
      val date = 19000 + day % nParts
      val bucket = (made / filesPerPart) % 16
      val lo = made.toLong * 1000
      batch += DataFileMeta(
        path = s"$loc/data/d=$date/b=$bucket/f$made.parquet",
        format = "parquet", specId = 0,
        partition = Seq(Int.box(date), Int.box(bucket)),
        recordCount = 4000000L, fileSizeBytes = 512L * 1024 * 1024,
        valueCounts = Map(kId -> 4000000L, dId -> 4000000L,
          vId -> 4000000L, sId -> 4000000L),
        nullCounts = Map(kId -> 0L, dId -> 0L, vId -> 17L, sId -> 123L),
        lowerBounds = Map(kId -> lo, vId -> 0.0, sId -> s"a$made"),
        upperBounds = Map(kId -> (lo + 999), vId -> 1e6, sId -> s"z$made"),
        sortOrderId = 0,
        // sealed tables refuse plaintext metas at plan time — stamp the
        // manager's derivation like a real write would
        keyMetadata = io.encryption.keyMetadata(
          s"$loc/data/d=$date/b=$bucket/f$made.parquet"))
      made += 1
      if (made % filesPerPart == 0) day += 1
      if (batch.size == 10000 || made == nFiles) {
        val (_, c) = time(t.commitSnapshot(Operation.Append, batch.toSeq, Set.empty))
        commitSecs += c
        committed += 1
        batch.clear()
      }
    }
    println(f"commits=$committed total_commit_wall=$commitSecs%.1f s " +
      f"(manifest-merge on; last-commit metadata below)")
    val manifests = graft.table.MetadataTables(t, "manifests")
      .select("path", "length").collect()
    println(s"manifests=${manifests.length} " +
      f"manifest_bytes=${manifests.map(_.getLong(1)).sum / 1e6}%.1f MB")

    // cold planning (fresh table handle — caches empty), then warm
    def freshT() = IceTable.loadWith(spark,
      new TableOperations(loc, io))
    val (all, _) = stage("planFiles cold")(freshT().newScan().planFiles())
    require(all.size == nFiles, s"planned ${all.size}")
    val hAfter = heapMb()
    val warmT = freshT()
    stage("planFiles warm-handle first")(warmT.newScan().planFiles())
    stage("planFiles repeat")(warmT.newScan().planFiles())
    println(s"retained heap ≈ ${hAfter - h0} MB for $nFiles metas")
    // one scan: files then deletes share the pin and the manifest reads
    val both = warmT.newScan()
    stage("planFiles+planDeletes")((both.planFiles(), both.planDeletes()))

    // filtered planning: partition prune (one date) + metrics prune (k range)
    val oneDate = java.time.LocalDate.ofEpochDay(19000)
    val (pruned, _) = stage("partition-pruned planFiles")(freshT().newScan()
      .filter(equalTo("d", oneDate)).planFiles())
    val (metr, _) = stage("metrics-pruned planFiles")(freshT().newScan()
      .filter(and(greaterThanOrEqual("k", 1000000L), lessThan("k", 2000000L)))
      .planFiles())
    println(s"partition-pruned -> ${pruned.size} files; " +
      s"metrics-pruned -> ${metr.size} files")

    // SPJ key grouping: the DSv2 scan's reported partitioning is built from
    // every planned file's partition tuple — time the whole plan+group pass
    val (df, _) = stage("DSv2 executedPlan (SPJ keys)") {
      val rd = spark.read.format("graft")
      val df = (if (!enc) rd else rd
        .option("encryption", graft.table.EncryptionManagers.serialize(
          io.encryption))
        .option("encryption-required", "true")).load(loc)
      df.queryExecution.executedPlan // forces planInputPartitions + keys
      df
    }
    // a plan Spark keeps holds its tasks, not the parsed manifests
    println(s"heap with the executed plan held ≈ ${heapMb() - h0} MB")
    require(df.queryExecution.executedPlan != null)
    spark.stop()
  }
}
