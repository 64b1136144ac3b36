package graft

import java.nio.file.Files

import graft.meta.Schema
import graft.meta.expr.Exprs._
import graft.meta.model.TableProperties
import graft.table.IceTable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Model-based DML fuzz: a deterministic random sequence of appends,
  * deletes/updates in BOTH row-level modes, keyed and ON-condition merges,
  * compactions, and maintenance runs against one table per file format,
  * checked after every op against an in-memory model of the expected rows.
  * This is the interleaving torture test for the merge-on-read machinery —
  * parquet's row-index positions and ORC/Avro's synthesized ordinals must
  * survive any op order, including deletes stacked on deletes and
  * compaction mid-stream.
  */
class DmlFuzzSpec extends AnyFunSuite {
  import SparkSessionHelper._

  private def df(rows: Seq[(Long, String, Double)]): DataFrame = {
    import spark.implicits._
    rows.toDF("k", "v", "q")
  }

  private def runFuzz(format: String, seed: Int, ops: Int,
      encrypted: Boolean = false): Unit = {
    val rng = new scala.util.Random(seed)
    val base = Files.createTempDirectory(s"graft-fuzz-$format-").toString
    val loc = base + "/t"
    // half the runs exercise the object-store layout + bounded metadata log:
    // DML semantics must be invariant to where files land and how much
    // metadata history is kept
    val layoutProps: Map[String, String] =
      if (rng.nextBoolean()) Map.empty
      else Map(
        "write.object-storage.enabled" -> "true",
        "write.object-storage.path" -> (base + "/bucket"),
        "write.metadata.previous-versions-max" -> "5",
        "write.metadata.delete-after-commit.enabled" -> "true")
    val props = Map(TableProperties.DefaultFileFormat -> format) ++ layoutProps
    val schema0 = Schema.fresh(df(Seq((1L, "x", 1.0))).schema)
    val t =
      if (!encrypted) IceTable.create(spark, loc, schema0, properties = props)
      else IceTable.createWith(spark,
        new graft.table.TableOperations(loc, new graft.table.FileIO(
          spark.sparkContext.hadoopConfiguration,
          new graft.table.AesGcmEncryptionManager(
            "fuzz-master-key-0123456789abcdef".getBytes("UTF-8"), "fz"))),
        schema0, properties = props)
    val model = scala.collection.mutable.Map[Long, (String, Double)]()
    var nextKey = 0L

    def freshRows(n: Int): Seq[(Long, String, Double)] = (1 to n).map { _ =>
      nextKey += 1
      (nextKey, s"v${rng.nextInt(5)}", rng.nextInt(100).toDouble)
    }
    def keyRange(): (Long, Long) = {
      if (nextKey == 0) return (0L, 0L)
      val a = rng.nextLong(nextKey) + 1
      val b = math.min(nextKey, a + rng.nextLong(math.max(1, nextKey / 3)) + 1)
      (a, b)
    }
    def setMode(key: String): Unit = {
      val mode = if (rng.nextBoolean()) TableProperties.RowLevelMergeOnRead
        else TableProperties.RowLevelCopyOnWrite
      t.updateProperties(Map(key -> mode))
    }
    def check(op: String): Unit = {
      val got = t.toDF.collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
      assert(got === model.toMap, s"[$format seed=$seed] mismatch after $op")
    }

    // one long-lived branch with its own model: branch commits must stay
    // invisible on main across ANY interleaving of main-side DML,
    // compaction and expiry, and vice versa
    val branchModel = scala.collection.mutable.Map[Long, (String, Double)]()
    var branchLive = false
    def checkBranch(op: String): Unit = {
      val got = t.newScan().useRef("fuzz").toDF.collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
      assert(got === branchModel.toMap, s"[$format seed=$seed] branch mismatch after $op")
    }

    (1 to ops).foreach { i =>
      rng.nextInt(14) match {
        case 0 | 1 | 2 => // append
          val rows = freshRows(rng.nextInt(40) + 10)
          t.append(df(rows))
          rows.foreach { case (k, v, q) => model(k) = (v, q) }
          check(s"append#$i")
        case 3 | 4 => // ranged delete, random row-level mode
          setMode(TableProperties.DeleteMode)
          val (a, b) = keyRange()
          t.delete(and(greaterThanOrEqual("k", a), lessThanOrEqual("k", b)))
          (a to b).foreach(model.remove)
          check(s"delete[$a,$b]#$i")
        case 5 | 6 => // ranged update, random row-level mode
          setMode(TableProperties.UpdateMode)
          val (a, b) = keyRange()
          t.update(and(greaterThanOrEqual("k", a), lessThanOrEqual("k", b)),
            Map("q" -> (col("q") + 1.0)))
          (a to b).foreach(k => model.get(k).foreach { case (v, q) =>
            model(k) = (v, q + 1.0) })
          check(s"update[$a,$b]#$i")
        case 7 | 12 | 13 => // merge upsert: half existing keys touched, half
          // new; the join is given by key or as the equivalent ON condition,
          // each in a random row-level mode
          setMode(TableProperties.MergeMode)
          val (a, b) = keyRange()
          val upd = (a to b).filter(model.contains)
            .map(k => (k, "merged", rng.nextInt(100).toDouble))
          val ins = freshRows(rng.nextInt(10) + 1)
          val src = upd ++ ins
          if (src.nonEmpty) {
            val merge =
              if (rng.nextBoolean()) t.merge(df(src), Seq("k"))
              else t.mergeOn(df(src), col("k") === col("_s_k"))
            merge.whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
            src.foreach { case (k, v, q) => model(k) = (v, q) }
          }
          check(s"merge#$i")
        case 8 => // layout maintenance must never change visible rows
          rng.nextInt(5) match {
            case 0 => t.rewriteDataFiles(minInputFiles = 2)
            case 1 => t.rewritePositionDeleteFiles(); t.removeDanglingDeletes()
            case 2 => t.rewriteManifests()
            case 3 => t.convertEqualityDeletes()
            case 4 => t.maintain() // the autopilot chain under random state
          }
          check(s"maintenance#$i")
        case 9 => // expire old snapshots (metadata-only for visible rows)
          t.expireSnapshots(System.currentTimeMillis() + 1000)
          check(s"expire#$i")
          if (branchLive) checkBranch(s"expire#$i") // ref heads survive expiry
        case 10 => // branch append: advances ONLY the branch
          if (branchLive || t.currentSnapshot.nonEmpty) {
            if (!branchLive) {
              t.createBranch("fuzz")
              branchModel.clear(); branchModel ++= model
              branchLive = true
            }
            val rows = freshRows(rng.nextInt(20) + 5)
            t.appendToBranch("fuzz", df(rows))
            rows.foreach { case (k, v, q) => branchModel(k) = (v, q) }
            check(s"branch-append#$i") // main must NOT see branch rows
            checkBranch(s"branch-append#$i")
          } // empty table: a branch needs a snapshot to grow from
        case 11 => // fast-forward main to the branch, then drop the branch.
          // ff is legal only while main has NOT diverged from the branch
          // base; a diverged main must be refused (and the models keep
          // their own truths)
          if (branchLive) {
            try {
              t.fastForward("main", t.refs("fuzz").snapshotId)
              model.clear(); model ++= branchModel
            } catch {
              case _: graft.table.ValidationException => () // diverged: refused
            }
            t.removeRef("fuzz")
            branchLive = false
            check(s"fast-forward#$i")
          }
      }
    }
    if (!encrypted) {
      // final cross-check: a DataFrame read of the path agrees with the
      // model the Scala-API reads were checked against
      val native = spark.read.format("graft").load(loc).collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
      assert(native === model.toMap, s"[$format seed=$seed] native scan mismatch")
    } else {
      // a path-load uses the default (plaintext) manager: after any
      // interleaving, the keyed table must REFUSE it — since r11 the
      // metadata itself is sealed, so the refusal fires at the metadata
      // read — and the native scan through the keyed handle must agree
      // with the model
      val refusal = intercept[IllegalStateException] {
        spark.read.format("graft").load(loc).collect()
      }
      assert(refusal.getMessage.contains("plaintext"), refusal.getMessage)
      val rel = org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
        .create(new graft.spark.GraftSparkTable(t, "fuzz.enc"), None, None)
      val native = org.apache.spark.sql.graft.ColumnBridge.ofRows(spark, rel)
        .collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
      assert(native === model.toMap, s"[$format seed=$seed] native keyed scan mismatch")
    }
  }

  for (format <- Seq("parquet", "orc", "avro")) {
    test(s"random DML interleaving matches the model ($format)") {
      runFuzz(format, seed = 20260814, ops = 24)
    }
  }

  test("random DML interleaving, second seed (parquet)") {
    runFuzz("parquet", seed = 7, ops = 24)
  }

  test("random DML interleaving on an ENCRYPTED parquet table") {
    // modular encryption under the full DML battery: every data and delete
    // file written keyed, every read decrypting — semantics must be
    // byte-identical to the plaintext model
    runFuzz("parquet", seed = 31337, ops = 20, encrypted = true)
  }

  test("random DML interleaving on an ENCRYPTED ORC table") {
    // r11: ORC encrypts through its KeyProvider SPI — the same DML battery
    // over encrypted ORC data files (synthesized-ordinal MoR reads) with
    // parquet delete files, sealed metadata, and encrypted footer metrics
    runFuzz("orc", seed = 24601, ops = 18, encrypted = true)
  }

  test("random DML interleaving on an ENCRYPTED AVRO table") {
    // chunked-GCM seekable streams under the full battery: encrypted avro
    // containers split, MoR ordinals synthesize through decrypting readers,
    // and every rewrite re-encrypts
    runFuzz("avro", seed = 8128, ops = 18, encrypted = true)
  }
}
