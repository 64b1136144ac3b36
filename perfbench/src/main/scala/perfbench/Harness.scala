package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import graft.table.{FileIO, IceTable, TableOperations, TableOps}

import org.apache.spark.sql.SparkSession

/** What one run hands back: the harness turns it into the result line. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val work: String, val tracer: Tracer) {
  val rnd = new java.util.Random(seed)
  /** Latency samples (ms) of measured, successful operations by category,
    * with the operation kind of each. */
  val samples = mutable.LinkedHashMap[String, ArrayBuffer[(String, Double)]]()
  var attempted = 0
  var failed = 0
  /** Operations that passed: throughput counts only these. */
  var passed = 0
  val failures = ArrayBuffer[String]()
  val setupSecs = ArrayBuffer[Double]()
  var loopSecs = 0.0
  /** Maintenance runs inside the loop and their seconds: `ops_per_s`
    * counts foreground operations over foreground time. */
  var loopMaintOps = 0
  var loopMaintSecs = 0.0
  /** From the end of the last set-up to the start of the loop (warm-up). */
  var warmupSecs = 0.0
  private var setupEnd = 0L
  var loopOps = 0
  var measuring = false
  /** Share of the machine's CPU time the hypervisor took from this VM
    * during the loop (`steal` in /proc/stat); NaN where not reported. */
  var loopStealFrac = Double.NaN
  /** Logical bytes the workload handed to the engine (storage_amp's
    * denominator) and the table directories whose disk use it compares. */
  var userBytes = 0L
  val tableDirs = ArrayBuffer[String]()
  val heapMb = ArrayBuffer[Double]()
  /** Reads kept outside the measured loop because they fail on a known
    * defect: (name, passed, detail). */
  val knownDefects = ArrayBuffer[(String, Boolean, String)]()
  /** Per-kind latencies with the hooks on and off (traced runs). */
  val overhead = mutable.Map[String, (ArrayBuffer[Double], ArrayBuffer[Double])]()

  private var tableSeq = 0

  /** A fresh table location under this run's warehouse. */
  def location(name: String): String = { tableSeq += 1; s"$work/wh/db/${name}_$tableSeq" }

  /** The table's operations: in traced runs wrapped so every metadata load
    * and CAS is timed. */
  def ops(location: String): TableOps = {
    val plain = new TableOperations(location, new FileIO(spark.sparkContext.hadoopConfiguration))
    if (tracer.enabled) new TracingOps(plain, tracer) else plain
  }

  def create(name: String, schema: graft.meta.Schema, spec: graft.meta.PartitionSpec,
      props: Map[String, String] = Map.empty): IceTable = {
    val loc = location(name)
    val t = IceTable.createWith(spark, ops(loc), schema, spec, properties = props)
    tableDirs += loc
    t
  }

  /** The SQL name of `t`: the `g` catalog finds tables by path. */
  def sqlName(t: IceTable): String = s"g.db.`${t.location.split('/').last}`"

  /** Runs `body` as one measured (or warm-up) operation of `kind`, filed
    * under `category`, then checks its result outside the timed window.
    * A throw or a failed check counts as a failure; latencies are kept only
    * for operations that passed. Returns true when the operation passed. */
  def op[T](category: String, kind: String, rowsChanged: Long = 0L)(body: => T)(
      check: T => Option[String]): Boolean = {
    attempted += 1
    tracer.beginOp(kind, measuring)
    val t0 = System.nanoTime()
    val r = try Right(body) catch { case NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    val rowsOut = r match {
      case Right(v: Data.Agg) => v.count
      case Right(v: Seq[_]) => v.collect { case (_, a: Data.Agg) => a.count }.sum
      case _ => 0L
    }
    val (_, _, traced) = tracer.endOp(category, rowsOut, rowsChanged, measuring)
    val verdict = r match {
      case Left(e) => Some(s"$kind threw ${e.getClass.getSimpleName}: " +
        String.valueOf(e.getMessage).linesIterator.take(1).mkString)
      case Right(v) =>
        try check(v).map(m => s"$kind: $m")
        catch { case NonFatal(e) => Some(s"$kind check threw $e") }
    }
    verdict match {
      case Some(msg) =>
        failed += 1
        if (failures.size < 20) failures += msg
        false
      case None =>
        passed += 1
        if (measuring) {
          samples.getOrElseUpdate(category, ArrayBuffer()) += (kind -> ms)
          if (category == "maint") { loopMaintOps += 1; loopMaintSecs += ms / 1000 }
          if (tracer.enabled) {
            val (on, off) = overhead.getOrElseUpdate(kind, (ArrayBuffer(), ArrayBuffer()))
            (if (traced) on else off) += ms
          }
        }
        true
    }
  }

  private var loopT0 = 0L
  private var loopPassed0 = 0
  /** The loop up to the end of its last complete cycle of the operation
    * mix: (operations, seconds, maintenance operations, maintenance
    * seconds). */
  private var cycles = (0, 0.0, 0, 0.0)

  /** Marks the end of a complete cycle of the workload's operation mix, so
    * throughput is not skewed by which kinds a cut-off cycle happened to
    * reach. */
  def cycleEnd(): Unit = if (measuring)
    cycles = (passed - loopPassed0, (System.nanoTime() - loopT0) / 1e9,
      loopMaintOps, loopMaintSecs)

  /** Foreground operations that passed per foreground second over complete
    * cycles (the whole loop when no cycle completed). */
  def opsPerSecond: Double = {
    val (ops, secs, maintOps, maintSecs) =
      if (cycles._1 > 0) cycles else (loopOps, loopSecs, loopMaintOps, loopMaintSecs)
    if (secs - maintSecs > 0) (ops - maintOps) / (secs - maintSecs) else Double.NaN
  }

  /** Closed loop: calls `step` until `seconds` have passed. */
  def loop(step: Int => Unit): Unit = {
    measuring = true
    val before = passed
    val steal0 = Ctx.cpuTicks()
    val t0 = System.nanoTime()
    loopT0 = t0
    loopPassed0 = before
    warmupSecs = (t0 - setupEnd) / 1e9
    val deadline = t0 + seconds * 1000000000L
    var i = 0
    while (System.nanoTime() < deadline) { step(i); i += 1 }
    loopSecs = (System.nanoTime() - t0) / 1e9
    loopOps = passed - before
    for ((s0, all0) <- steal0; (s1, all1) <- Ctx.cpuTicks() if all1 > all0)
      loopStealFrac = (s1 - s0).toDouble / (all1 - all0)
    measuring = false
  }

  /** Builds the workload's tables twice: a cold build (class loading,
    * JIT), then the one `setup_s` reports, whose tables the loop uses. */
  def setup[T](build: => T): T = {
    def once(): T = {
      tableDirs.clear()
      val t0 = System.nanoTime()
      val r = build
      setupSecs += (System.nanoTime() - t0) / 1e9
      recordHeap()
      r
    }
    once()
    val r = once()
    setupEnd = System.nanoTime()
    r
  }

  /** Old-generation occupancy after a full collection. */
  def recordHeap(): Unit = {
    System.gc()
    val mb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
    heapMb += mb
    tracer.recordHeap(mb)
  }

  /** Bytes on disk under every table this run created. */
  def tableBytes(): Long = {
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    tableDirs.map { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
    }.sum
  }

  /** A seeded permutation of `xs`. */
  def shuffle[A](xs: Seq[A]): Seq[A] = {
    val a = ArrayBuffer.from(xs)
    var i = a.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toSeq
  }
}

object Ctx {
  /** (steal, all) ticks summed over the machine's CPUs, where Linux
    * reports them. */
  def cpuTicks(): Option[(Long, Long)] = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
    (f(7), f.take(8).sum)
  }.toOption
}

/** A workload: builds its tables (cold, then timed), then runs its closed
  * loop. */
trait Workload {
  def name: String
  /** The category whose latency is the workload's headline (`op_p50_ms`). */
  def primary: String
  def run(ctx: Ctx): Unit
  /** `op_p50_ms` when the plain median of `primary` does not serve. */
  def headline(ctx: Ctx): Option[Double] = None
}

object Stats {
  /** Linear-interpolated quantile (`q` in [0, 1]) of `xs`. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Geometric mean over operation kinds of each kind's median: every
    * kind weighs the same however many of it a run happened to complete,
    * one slow sample moves only its kind's median, and a kind that is 10%
    * faster moves the figure by the same share whether the kind is slow or
    * fast. */
  def kindMean(xs: Seq[(String, Double)]): Double = {
    val medians = xs.groupBy(_._1).values.map(k => median(k.map(_._2))).toSeq
    if (medians.isEmpty) Double.NaN else math.exp(medians.map(math.log).sum / medians.size)
  }
}
