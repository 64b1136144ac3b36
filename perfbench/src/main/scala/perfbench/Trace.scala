package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.meta.model.TableMetadata
import graft.table.{FileIO, IceTable, TableOps}

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FSInputStream, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Process-wide named counters. Hooks add to them only while tracing is
  * switched on; the tracer reads them before and after each operation. */
object Counters {
  @volatile var on: Boolean = false
  private val adders = new ConcurrentHashMap[String, LongAdder]()
  def adder(name: String): LongAdder = adders.computeIfAbsent(name, _ => new LongAdder)
  def add(name: String, v: Long): Unit = if (on) adder(name).add(v)
  def snapshot(): Map[String, Long] =
    adders.asScala.iterator.map { case (k, a) => k -> a.sum() }.toMap
}

/** Hadoop local filesystem that counts opens, bytes, writes and namespace
  * operations, split into table metadata (anything under a `metadata/`
  * directory) and data. Installed through `fs.file.impl` in traced runs
  * only. */
class CountingLocalFileSystem extends LocalFileSystem(new CountingRawFileSystem)

class CountingRawFileSystem extends RawLocalFileSystem {
  private def kind(p: Path): String =
    if (p.toUri.getPath.contains("/metadata/")) "meta" else "data"

  private def fsOp(p: Path): Unit = Counters.add(s"io.${kind(p)}.fs_ops", 1)

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val in = super.open(f, bufferSize)
    if (!Counters.on) in
    else {
      val k = kind(f)
      Counters.add(s"io.$k.opens", 1)
      new FSDataInputStream(new CountingInputStream(in, Counters.adder(s"io.$k.read_bytes")))
    }
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    val out = super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
    if (!Counters.on) out
    else {
      val k = kind(f)
      Counters.add(s"io.$k.writes", 1)
      val name = f.getName
      val extra =
        if (name.contains(".metadata.json") && !name.endsWith(".crc"))
          Some(Counters.adder("commit.meta_json_bytes"))
        else None
      new FSDataOutputStream(
        new CountingOutputStream(out, Counters.adder(s"io.$k.write_bytes"), extra), null)
    }
  }

  override def getFileStatus(f: Path): org.apache.hadoop.fs.FileStatus = {
    fsOp(f); super.getFileStatus(f)
  }
  override def listStatus(f: Path): Array[org.apache.hadoop.fs.FileStatus] = {
    fsOp(f); super.listStatus(f)
  }
  override def rename(src: Path, dst: Path): Boolean = { fsOp(src); super.rename(src, dst) }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    fsOp(p); super.delete(p, recursive)
  }
  override def mkdirs(p: Path, permission: FsPermission): Boolean = {
    fsOp(p); super.mkdirs(p, permission)
  }
}

final class CountingInputStream(in: FSDataInputStream, bytes: LongAdder)
    extends FSInputStream {
  override def seek(pos: Long): Unit = in.seek(pos)
  override def getPos: Long = in.getPos
  override def seekToNewSource(targetPos: Long): Boolean = in.seekToNewSource(targetPos)
  override def read(): Int = { val b = in.read(); if (b >= 0) bytes.add(1); b }
  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    val n = in.read(b, off, len); if (n > 0) bytes.add(n); n
  }
  override def read(position: Long, b: Array[Byte], off: Int, len: Int): Int = {
    val n = in.read(position, b, off, len); if (n > 0) bytes.add(n); n
  }
  override def readFully(position: Long, b: Array[Byte], off: Int, len: Int): Unit = {
    in.readFully(position, b, off, len); bytes.add(len)
  }
  override def available(): Int = in.available()
  override def close(): Unit = in.close()
}

final class CountingOutputStream(out: java.io.OutputStream, bytes: LongAdder,
    extra: Option[LongAdder]) extends java.io.OutputStream {
  override def write(b: Int): Unit = { out.write(b); bytes.add(1); extra.foreach(_.add(1)) }
  override def write(b: Array[Byte], off: Int, len: Int): Unit = {
    out.write(b, off, len); bytes.add(len); extra.foreach(_.add(len))
  }
  override def flush(): Unit = out.flush()
  override def close(): Unit = out.close()
}

/** Delegating [[TableOps]]: times every metadata load (`current`) and every
  * CAS (`commit`), and the gap between the two, which is where a commit
  * builds manifests and validates. */
final class TracingOps(inner: TableOps, tracer: Tracer) extends TableOps {
  def location: String = inner.location
  def io: FileIO = inner.io
  def exists: Boolean = inner.exists
  private var lastLoadEnd = 0L

  def current(): (Int, TableMetadata) = {
    val t0 = System.nanoTime()
    try tracer.span("commit.current", "commit")(inner.current())
    finally {
      val t1 = System.nanoTime()
      Counters.add("commit.load_ns", t1 - t0)
      Counters.add("plan.meta_loads", 1)
      lastLoadEnd = t1
    }
  }

  def commit(expectedVersion: Int, meta: TableMetadata): Boolean = {
    val t0 = System.nanoTime()
    if (lastLoadEnd > 0) Counters.add("commit.update_ns", t0 - lastLoadEnd)
    lastLoadEnd = 0L
    val ok = tracer.span("commit.cas", "commit")(inner.commit(expectedVersion, meta))
    Counters.add("commit.cas_ns", System.nanoTime() - t0)
    Counters.add("commit.attempts", 1)
    if (!ok) Counters.add("commit.cas_failures", 1)
    ok
  }
}

/** In-memory span and event recorder for traced runs. Driver spans come
  * from the hooks above; job, task and query-phase events come from Spark's
  * listener buses and are attributed to operations by time afterwards.
  * Every second operation of each kind runs with the hooks switched off,
  * which gives the tracing overhead from the same run. */
final class Tracer(val enabled: Boolean) {
  import Tracer._

  /** nanoTime = epochMillis * 1e6 + offset; aligns Spark's epoch-ms event
    * times with driver spans. */
  private val nanoOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L
  def msToNs(ms: Long): Long = ms * 1000000L + nanoOffset
  val t0Ns: Long = System.nanoTime()

  val spans = ArrayBuffer[Span]()
  val ops = ArrayBuffer[OpRec]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  private val stageSubmit = new ConcurrentHashMap[Int, Long]()
  val tasks = new java.util.concurrent.ConcurrentLinkedQueue[TaskRec]()
  val queries = new java.util.concurrent.ConcurrentLinkedQueue[QeRec]()
  val heapAfterGcMb = ArrayBuffer[Double]()
  /** Figures measured outside an operation's timed window (shadow
    * planning) or counted by the workload, keyed by op id. */
  val opExtra = mutable.Map[Int, mutable.Map[String, Double]]()

  private var opCount = 0
  private val kindCount = mutable.Map[String, Int]()
  private var opId = 0
  private var opKind = ""
  private var opStart = 0L
  private var opCounters: Map[String, Long] = Map.empty
  private var opGc = 0L
  private val stack = mutable.Stack[Int]()
  private var nextSpan = 1

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled || !Counters.on) body
    else {
      val id = nextSpan; nextSpan += 1
      val parent = if (stack.nonEmpty) stack.top else 0
      stack.push(id)
      val s = System.nanoTime()
      try body
      finally {
        stack.pop()
        spans += Span(id, name, layer, s, System.nanoTime(), parent, opId)
      }
    }

  /** Starts an operation. In a traced run, measured operations of each
    * kind alternate between hooks on and hooks off, starting with on. */
  def beginOp(kind: String, measured: Boolean): Unit = {
    opCount += 1
    opId = opCount
    opKind = kind
    val nth = kindCount.getOrElse(kind, 0) + 1
    if (measured) kindCount(kind) = nth
    Counters.on = enabled && measured && nth % 2 == 1
    if (Counters.on) {
      opCounters = Counters.snapshot()
      opGc = Tracer.gcMs()
      stack.push(0)
    }
    opStart = System.nanoTime()
  }

  def endOp(category: String, rowsOut: Long, rowsChanged: Long,
      measured: Boolean): (Long, Long, Boolean) = {
    val end = System.nanoTime()
    val traced = Counters.on
    if (traced) {
      stack.clear()
      val now = Counters.snapshot()
      val delta = now.map { case (k, v) => k -> (v - opCounters.getOrElse(k, 0L)) }
        .filter(_._2 != 0)
      if (measured) ops += OpRec(opId, opKind, category, opStart, end, traced = true,
        delta, rowsOut, rowsChanged, Tracer.gcMs() - opGc)
    } else if (enabled && measured) {
      ops += OpRec(opId, opKind, category, opStart, end, traced = false, Map.empty,
        rowsOut, rowsChanged, 0L)
    }
    Counters.on = false
    (opStart, end, traced)
  }

  /** Attaches figures measured outside the timed window (shadow planning)
    * to the operation just ended. */
  def note(name: String, v: Double): Unit =
    if (enabled) opExtra.getOrElseUpdate(opId, mutable.Map()).updateWith(name) {
      case Some(x) => Some(x + v)
      case None => Some(v)
    }

  def sessionConf: Map[String, String] =
    if (!enabled) Map.empty
    else Map("spark.hadoop.fs.file.impl" -> classOf[CountingLocalFileSystem].getName)

  def install(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobStart.put(e.jobId, e.time)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val s = jobStart.remove(e.jobId)
        jobs.add((s, e.time))
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        e.stageInfo.submissionTime.foreach(t => stageSubmit.put(e.stageInfo.stageId, t))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          val info = e.taskInfo
          val submitted = stageSubmit.getOrDefault(e.stageId, info.launchTime)
          tasks.add(TaskRec(info.launchTime, m.executorRunTime, m.executorCpuTime,
            math.max(0L, info.launchTime - submitted), m.inputMetrics.bytesRead,
            m.inputMetrics.recordsRead, m.shuffleWriteMetrics.bytesWritten,
            m.shuffleReadMetrics.totalBytesRead,
            m.memoryBytesSpilled + m.diskBytesSpilled))
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val ph = qe.tracker.phases
        def d(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
        val start = ph.values.map(_.startTimeMs).minOption
          .getOrElse(System.currentTimeMillis() - durationNs / 1000000L)
        queries.add(QeRec(start, d("analysis"), d("optimization"), d("planning"),
          durationNs / 1000000L,
          ph.toSeq.map { case (n, s) => (n, s.startTimeMs, s.endTimeMs) }))
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    graft.table.Listeners.register(classOf[graft.table.Listeners.CreateSnapshotEvent]) { e =>
      def n(k: String) = e.summary.get(k).map(_.toLong).getOrElse(0L)
      Counters.add("rowops.files_rewritten", n("deleted-data-files"))
      Counters.add("rowops.delete_files_added", n("added-delete-files"))
      Counters.add("rowops.rows_written", n("added-records"))
      Counters.add("write.files", n("added-data-files"))
      Counters.add("write.bytes", n("added-files-size"))
      Counters.add("maint.bytes_rewritten",
        if (e.operation == "replace") n("added-files-size") else 0L)
      Counters.add("maint.files_removed", n("deleted-data-files") + n("removed-delete-files"))
    }
  }

  def recordHeap(mb: Double): Unit = if (enabled) heapAfterGcMb += mb
}

object Tracer {
  final case class Span(id: Int, name: String, layer: String, startNs: Long,
      endNs: Long, parent: Int, op: Int)
  final case class OpRec(id: Int, kind: String, category: String, startNs: Long,
      endNs: Long, traced: Boolean, counters: Map[String, Long],
      rowsOut: Long, rowsChanged: Long, gcMs: Long)
  final case class TaskRec(launchMs: Long, runMs: Long, cpuNs: Long, waitMs: Long,
      inputBytes: Long, records: Long, shuffleWrite: Long, shuffleRead: Long,
      spill: Long)
  final case class QeRec(startMs: Long, analysisMs: Long, optimizeMs: Long,
      planningMs: Long, execMs: Long, phases: Seq[(String, Long, Long)])

  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
}

/** Replays an operation's planning on the traced handle, outside the timed
  * window: planning time, planned data and delete files, and the share of
  * live data files pruned. */
object Shadow {
  def plan(ctx: Ctx, t: IceTable, filter: String): Unit = if (ctx.tracer.enabled && ctx.measuring) {
    val t0 = System.nanoTime()
    val scan = t.newScan().filter(filter)
    val files = scan.planFiles()
    val deletes = scan.planDeletes()
    ctx.tracer.note("plan.ms", (System.nanoTime() - t0) / 1e6)
    ctx.tracer.note("plan.data_files", files.size)
    ctx.tracer.note("plan.delete_files", deletes.size)
    val total = t.currentSnapshot.flatMap(_.summary.get("total-data-files")).map(_.toDouble)
      .getOrElse(files.size.toDouble)
    ctx.tracer.note("plan.pruned_frac", if (total <= 0) 0.0 else 1.0 - files.size / total)
    ctx.tracer.note("plan.n", 1)
  }

  def incremental(ctx: Ctx, t: IceTable, from: Long, to: Long): Unit =
    if (ctx.tracer.enabled && ctx.measuring) {
      val t0 = System.nanoTime()
      t.newScan().appendsBetween(from, to).planFiles()
      ctx.tracer.note("plan.incremental_ms", (System.nanoTime() - t0) / 1e6)
      ctx.tracer.note("plan.incremental_n", 1)
    }
}
