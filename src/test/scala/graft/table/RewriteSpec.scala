package graft.table

import java.nio.file.Files

import scala.util.Try

import graft.SparkSessionHelper._
import graft.meta.Schema
import graft.meta.expr.{Exprs, TrueExpr}
import graft.meta.model.{TableMetadata, TableProperties}

import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** The data-file rewrites (bin-pack, sort, z-order compaction and key
  * rotation): row lineage, their write plans, and commits that race a
  * concurrent delete. */
class RewriteSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def tmpLoc(): String =
    Files.createTempDirectory("graft-rewrite-").toString + "/t"

  private val keyA = new AesGcmEncryptionManager(
    "rwrwrwrwrwrwrwrwrwrwrwrwrwrwrwrw".getBytes("UTF-8"), "rw-a")
  private val keyB = new AesGcmEncryptionManager(
    "wrwrwrwrwrwrwrwrwrwrwrwrwrwrwrwr".getBytes("UTF-8"), "rw-b")

  /** An encrypted parquet table (key A) of three files, keys 0..29, and a
    * handle on it that rotates to key B. */
  private def encryptedTable(): IceTable = {
    val conf = spark.sparkContext.hadoopConfiguration
    val loc = tmpLoc()
    val t = IceTable.createWith(spark,
      new TableOperations(loc, new FileIO(conf, keyA)),
      Schema.fresh(Seq((0L, "a")).toDF("k", "v").schema))
    (0 until 3).foreach(i =>
      t.append((i * 10L until i * 10L + 10).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1)))
    IceTable.loadWith(spark,
      new TableOperations(loc, new FileIO(conf, new KeyRotationManager(keyB, keyA))))
  }

  /** k → (_row_id, _last_updated_seq) of the table's current rows. */
  private def lineage(t: IceTable): Map[Long, (Long, Long)] = {
    val m = t.meta
    Reads.readTasksWithDeletes(t, m, t.newScan(m).planFiles(), t.newScan(m).planDeletes(),
      Seq("k"), TrueExpr, rowPositions = false, withLineage = true)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
  }

  test("key rotation keeps every row's _row_id and _last_updated_seq") {
    val t = encryptedTable()
    val before = lineage(t)
    assert(before.size === 30)
    val (rw, _) = t.rotateEncryptionKeys(partialProgressCommits = 2)
    assert(rw === 3)
    assert(lineage(t) === before, "rotation severed row lineage")
  }

  /** The physical plans of the writes a rewrite in `body` runs. */
  private def writePlans(expected: Int)(body: => Unit): Seq[SparkPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    // rewrites write through a clone of the session, and a clone copies the
    // listeners registered; writes of this session itself (a table's set-up,
    // reported asynchronously) are not the rewrite's
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, duration: Long): Unit =
        if (funcName == Writes.ExecutionName && (qe.sparkSession ne spark))
          plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      val deadline = System.currentTimeMillis() + 30000 // events are async
      while (plans.size < expected && System.currentTimeMillis() < deadline) Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq
  }

  private def exchanges(p: SparkPlan): Seq[Exchange] = collect(p) { case e: Exchange => e }

  private def isRange(e: Exchange): Boolean = e match {
    case s: ShuffleExchangeExec => s.outputPartitioning.isInstanceOf[RangePartitioning]
    case _ => false
  }

  test("layouts keep their plans: packed rewrites plan no exchange, clustered one range exchange") {
    def smallFiles(): IceTable = {
      val t = IceTable.create(spark, tmpLoc(),
        Schema.fresh(Seq((0L, 0L)).toDF("a", "b").schema))
      (0 until 3).foreach(i => t.append((i * 10L until i * 10L + 10)
        .map(k => (k, 100 - k)).toDF("a", "b").coalesce(1)))
      t
    }
    // tables are built first: only the rewrite's own writes are captured
    val binPacked = smallFiles()
    val packed = writePlans(1)(assert(binPacked.rewriteDataFiles()._1 === 3))
    assert(packed.size === 1)
    assert(exchanges(packed.head).isEmpty, packed.head.treeString)
    val rotated = encryptedTable()
    val rotation = writePlans(3)(assert(rotated.rotateEncryptionKeys()._1 === 3))
    assert(rotation.size === 3)
    rotation.foreach(p => assert(exchanges(p).isEmpty, p.treeString))
    // a small target: several output ranges (one range is a single partition)
    for ((name, run) <- Seq[(String, IceTable => (Int, Int))](
        "sort" -> (_.rewriteDataFilesSorted(1024, sortOrderSpec = Some("b"))),
        "z-order" -> (_.rewriteDataFilesZOrder(Seq("a", "b"), 1024)))) {
      val t = smallFiles()
      val plans = writePlans(1)(assert(run(t)._1 === 3))
      assert(plans.size === 1, name)
      val ex = exchanges(plans.head)
      assert(ex.size === 1 && isRange(ex.head), s"$name:\n${plans.head.treeString}")
    }
  }

  /** Passes commits to `inner`; the first commit after [[interleave]] first
    * runs the given action, so a commit of that action lands between the
    * operation's planning and its own commit, deterministically. */
  private final class InterleavingOps(val inner: TableOps) extends TableOps {
    @volatile private var before: Option[() => Unit] = None
    def interleave(action: => Unit): Unit = before = Some(() => action)
    def location: String = inner.location
    def io: FileIO = inner.io
    def exists: Boolean = inner.exists
    def current(): (Int, TableMetadata) = inner.current()
    def commit(expectedVersion: Int, meta: TableMetadata): Boolean = {
      before.foreach { action => before = None; action() }
      inner.commit(expectedVersion, meta)
    }
  }

  /** Keys 0..19 in two files; `concurrent` deletes key 5 through a second
    * handle while `op` commits. Afterwards key 5 must be gone, whether `op`
    * failed or not. */
  private def raceDelete(concurrent: IceTable => Unit)(op: IceTable => Unit): Unit = {
    val ops = new InterleavingOps(
      new TableOperations(tmpLoc(), new FileIO(spark.sparkContext.hadoopConfiguration)))
    val t = IceTable.createWith(spark, ops, Schema.fresh(Seq((0L, "a")).toDF("k", "v").schema),
      properties = Map(TableProperties.DeleteMode -> TableProperties.RowLevelMergeOnRead))
    (0 until 2).foreach(i =>
      t.append((i * 10L until i * 10L + 10).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1)))
    val other = IceTable.loadWith(spark, ops.inner)
    val snaps = t.meta.snapshots.size
    ops.interleave(concurrent(other))
    val outcome = Try(op(t))
    assert(t.meta.snapshots.size > snaps, "the concurrent delete did not commit")
    outcome.failed.foreach(e => assert(e.isInstanceOf[ValidationException], e.toString))
    info(outcome.fold(e => s"operation failed: ${e.getMessage}", _ => "operation committed"))
    val keys = IceTable.loadWith(spark, ops.inner).toDF.select("k").as[Long].collect().toSet
    assert(!keys.contains(5L), s"deleted row came back (operation ${
      if (outcome.isSuccess) "committed" else "failed"})")
    assert(keys === (0L until 20L).toSet - 5L)
  }

  test("bin-pack racing a merge-on-read DELETE never brings the deleted row back") {
    raceDelete(_.deleteMergeOnRead(Exprs.equalTo("k", 5L)))(t =>
      assert(Maintenance.rewriteDataFiles(t)._1 === 2))
  }

  test("bin-pack racing an equality delete never brings the deleted row back") {
    raceDelete(_.addEqualityDeletes(Seq(5L).toDF("k"), Seq("k")))(t =>
      assert(Maintenance.rewriteDataFiles(t)._1 === 2))
  }

  test("copy-on-write UPDATE racing a merge-on-read DELETE never brings the deleted row back") {
    raceDelete(_.deleteMergeOnRead(Exprs.equalTo("k", 5L)))(t =>
      RowOps.update(t, Exprs.lessThan("k", 10L), Map("v" -> lit("u"))))
  }
}
