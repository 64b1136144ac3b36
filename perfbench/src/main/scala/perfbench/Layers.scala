package perfbench

import scala.collection.mutable

/** Per-layer figures of a traced run. Times and counts are per traced
  * operation of the kind the figure belongs to (per committing operation
  * for `commit.*`, per maintenance run for `maint.*`, per pipeline pass for
  * `llm.*`); a layer the workload never touches reports 0. */
object Layers {
  val Units: Seq[(String, String)] = Seq(
    "plan.ms" -> "ms", "plan.data_files" -> "count", "plan.delete_files" -> "count",
    "plan.pruned_frac" -> "fraction", "plan.meta_loads" -> "count", "plan.incremental_ms" -> "ms",
    "commit.load_ms" -> "ms", "commit.update_ms" -> "ms", "commit.cas_ms" -> "ms",
    "commit.attempts" -> "count", "commit.cas_failures" -> "count",
    "commit.meta_json_bytes" -> "B",
    "write.ms" -> "ms", "write.files" -> "count", "write.bytes" -> "B",
    "write.avg_file_bytes" -> "B",
    "rowops.files_rewritten" -> "count", "rowops.delete_files_added" -> "count",
    "rowops.rows_rewritten_per_row_changed" -> "ratio",
    "maint.compact_ms" -> "ms", "maint.expire_ms" -> "ms", "maint.orphan_ms" -> "ms",
    "maint.rewrite_manifests_ms" -> "ms", "maint.convert_deletes_ms" -> "ms",
    "maint.bytes_rewritten" -> "B", "maint.files_removed" -> "count",
    "sql.analysis_ms" -> "ms", "sql.optimize_ms" -> "ms", "sql.planning_ms" -> "ms",
    "sql.exec_ms" -> "ms",
    "exec.jobs" -> "count", "exec.tasks" -> "count", "exec.task_ms" -> "ms",
    "exec.cpu_ms" -> "ms", "exec.task_wait_ms" -> "ms", "exec.input_bytes" -> "B",
    "exec.records_read" -> "count", "exec.rows_read_per_row_returned" -> "ratio",
    "exec.shuffle_write_bytes" -> "B", "exec.shuffle_read_bytes" -> "B",
    "exec.spill_bytes" -> "B",
    "io.meta.reads" -> "count", "io.meta.read_bytes" -> "B", "io.meta.fs_ops" -> "count",
    "io.meta.writes" -> "count", "io.meta.write_bytes" -> "B",
    "io.data.opens" -> "count", "io.data.read_bytes" -> "B", "io.data.writes" -> "count",
    "io.data.write_bytes" -> "B",
    "llm.extract_ms" -> "ms", "llm.tokens_ms" -> "ms", "llm.dedup_ms" -> "ms",
    "llm.spans_ms" -> "ms", "llm.bm25_ms" -> "ms", "llm.ivf_ms" -> "ms",
    "llm.pairs" -> "count", "llm.docs_kept" -> "count",
    "jvm.gc_ms" -> "ms", "jvm.heap_after_gc_mb" -> "MB",
    "self.commit_ms" -> "ms", "self.exec_ms" -> "ms", "self.sql_ms" -> "ms",
    "self.driver_ms" -> "ms",
    "trace.overhead_pct" -> "%", "trace.ops" -> "count", "trace.spans" -> "count")

  def summary(ctx: Ctx): Map[String, (Double, String)] = {
    val tr = ctx.tracer
    val ops = tr.ops.filter(_.traced).toSeq
    val v = mutable.Map[String, Double]().withDefaultValue(0.0)
    def per(x: Double, n: Int) = if (n == 0) 0.0 else x / n
    def c(o: Tracer.OpRec, k: String): Double = o.counters.getOrElse(k, 0L).toDouble
    def sumC(os: Seq[Tracer.OpRec], k: String) = os.map(c(_, k)).sum
    def notes(k: String): Double = ops.map(o => tr.opExtra.get(o.id).flatMap(_.get(k)).getOrElse(0.0)).sum
    val n = ops.size
    val byOp = attribution(tr, ops)

    // plan: shadow planning outside the timer, plus metadata loads
    val planned = notes("plan.n").toInt
    Seq("plan.ms", "plan.data_files", "plan.delete_files", "plan.pruned_frac")
      .foreach(k => v(k) = per(notes(k), planned))
    v("plan.incremental_ms") = per(notes("plan.incremental_ms"), notes("plan.incremental_n").toInt)
    v("plan.meta_loads") = per(sumC(ops, "plan.meta_loads"), n)

    // commit: per operation that committed at least once
    val committing = ops.filter(c(_, "commit.attempts") > 0)
    val nc = committing.size
    v("commit.load_ms") = per(sumC(committing, "commit.load_ns") / 1e6, nc)
    v("commit.update_ms") = per(sumC(committing, "commit.update_ns") / 1e6, nc)
    v("commit.cas_ms") = per(sumC(committing, "commit.cas_ns") / 1e6, nc)
    v("commit.attempts") = per(sumC(committing, "commit.attempts"), nc)
    v("commit.cas_failures") = sumC(committing, "commit.cas_failures")
    v("commit.meta_json_bytes") = per(sumC(committing, "commit.meta_json_bytes"), nc)

    // write: append wall time outside the commit protocol
    val appends = ops.filter(_.category == "append")
    v("write.ms") = per(appends.map(o => (o.endNs - o.startNs) / 1e6 -
      (c(o, "commit.load_ns") + c(o, "commit.update_ns") + c(o, "commit.cas_ns")) / 1e6).sum,
      appends.size)
    val writing = ops.filter(c(_, "write.files") > 0)
    v("write.files") = per(sumC(writing, "write.files"), writing.size)
    v("write.bytes") = per(sumC(writing, "write.bytes"), writing.size)
    v("write.avg_file_bytes") = per(sumC(writing, "write.bytes"), sumC(writing, "write.files").toInt)

    val rowops = ops.filter(_.category == "rowop")
    v("rowops.files_rewritten") = per(sumC(rowops, "rowops.files_rewritten"), rowops.size)
    v("rowops.delete_files_added") = per(sumC(rowops, "rowops.delete_files_added"), rowops.size)
    v("rowops.rows_rewritten_per_row_changed") = {
      val changed = rowops.map(_.rowsChanged).sum
      if (changed == 0) 0.0 else sumC(rowops, "rowops.rows_written") / changed
    }

    val maint = ops.filter(_.category == "maint")
    val maintIds = maint.map(_.id).toSet
    Seq("compact", "expire", "orphan", "rewrite_manifests", "convert_deletes").foreach { a =>
      v(s"maint.${a}_ms") = per(tr.spans.filter(s => s.name == s"maint.$a" && maintIds(s.op))
        .map(s => (s.endNs - s.startNs) / 1e6).sum, maint.size)
    }
    v("maint.bytes_rewritten") = per(sumC(maint, "maint.bytes_rewritten"), maint.size)
    v("maint.files_removed") = per(sumC(maint, "maint.files_removed"), maint.size)

    // Spark: query phases, jobs and tasks attributed to operations by time
    val qes = byOp.values.flatMap(_.queries).toSeq
    v("sql.analysis_ms") = per(qes.map(_.analysisMs).sum.toDouble, n)
    v("sql.optimize_ms") = per(qes.map(_.optimizeMs).sum.toDouble, n)
    v("sql.planning_ms") = per(qes.map(_.planningMs).sum.toDouble, n)
    v("sql.exec_ms") = per(qes.map(_.execMs).sum.toDouble, n)
    val tasks = byOp.values.flatMap(_.tasks).toSeq
    v("exec.jobs") = per(byOp.values.map(_.jobs.size).sum.toDouble, n)
    v("exec.tasks") = per(tasks.size.toDouble, n)
    v("exec.task_ms") = per(tasks.map(_.runMs).sum.toDouble, n)
    v("exec.cpu_ms") = per(tasks.map(_.cpuNs).sum / 1e6, n)
    v("exec.task_wait_ms") = per(tasks.map(_.waitMs).sum.toDouble, n)
    v("exec.input_bytes") = per(tasks.map(_.inputBytes).sum.toDouble, n)
    v("exec.records_read") = per(tasks.map(_.records).sum.toDouble, n)
    v("exec.shuffle_write_bytes") = per(tasks.map(_.shuffleWrite).sum.toDouble, n)
    v("exec.shuffle_read_bytes") = per(tasks.map(_.shuffleRead).sum.toDouble, n)
    v("exec.spill_bytes") = per(tasks.map(_.spill).sum.toDouble, n)
    v("exec.rows_read_per_row_returned") = {
      val scans = ops.filter(o => o.category == "scan" && o.rowsOut > 0)
      val out = scans.map(_.rowsOut).sum
      if (out == 0) 0.0
      else scans.flatMap(o => byOp.get(o.id).toSeq.flatMap(_.tasks)).map(_.records).sum.toDouble / out
    }

    Seq("io.meta.read_bytes", "io.meta.fs_ops", "io.meta.writes", "io.meta.write_bytes",
      "io.data.opens", "io.data.read_bytes", "io.data.writes", "io.data.write_bytes")
      .foreach(k => v(k) = per(sumC(ops, k), n))
    v("io.meta.reads") = per(sumC(ops, "io.meta.opens"), n)

    val passes = ops.filter(_.category == "pipeline")
    val passIds = passes.map(_.id).toSet
    Seq("extract", "tokens", "dedup", "spans", "bm25", "ivf").foreach { s =>
      v(s"llm.${s}_ms") = per(tr.spans.filter(x => x.name == s"llm.$s" && passIds(x.op))
        .map(x => (x.endNs - x.startNs) / 1e6).sum, passes.size)
    }
    v("llm.pairs") = per(notes("llm.pairs"), passes.size)
    v("llm.docs_kept") = per(notes("llm.docs_kept"), passes.size)

    v("jvm.gc_ms") = per(ops.map(_.gcMs).sum.toDouble, n)
    v("jvm.heap_after_gc_mb") = if (tr.heapAfterGcMb.isEmpty) 0.0 else tr.heapAfterGcMb.max

    val self = ops.map(o => selfTimes(tr, o, byOp.get(o.id)))
    Seq("commit", "exec", "sql", "driver").foreach { l =>
      v(s"self.${l}_ms") = per(self.map(_.getOrElse(l, 0.0)).sum, n)
    }

    v("trace.overhead_pct") = {
      val ratios = ctx.overhead.values.collect {
        case (on, off) if on.nonEmpty && off.nonEmpty =>
          Stats.median(on.toSeq) / Stats.median(off.toSeq) - 1.0
      }.toSeq
      if (ratios.isEmpty) 0.0 else 100.0 * Stats.median(ratios)
    }
    v("trace.ops") = n
    v("trace.spans") = tr.spans.size
    Units.map { case (k, u) => k -> (v(k), u) }.toMap
  }

  final case class OpEvents(jobs: Seq[(Long, Long)], tasks: Seq[Tracer.TaskRec],
      queries: Seq[Tracer.QeRec])

  /** Listener events of each traced operation, matched by time: a job by
    * its start, a task by its launch, a query by its first phase. */
  def attribution(tr: Tracer, ops: Seq[Tracer.OpRec]): Map[Int, OpEvents] = {
    val sorted = ops.sortBy(_.startNs).toIndexedSeq
    val starts = sorted.map(_.startNs)
    def find(ms: Long): Option[Int] = {
      val ns = tr.msToNs(ms)
      // last operation that started at or before ns (ms event resolution)
      var lo = 0; var hi = starts.size - 1; var best = -1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        if (starts(mid) <= ns + 1000000L) { best = mid; lo = mid + 1 } else hi = mid - 1
      }
      if (best >= 0 && ns <= sorted(best).endNs + 1000000L) Some(sorted(best).id) else None
    }
    import scala.jdk.CollectionConverters._
    val jobs = tr.jobs.asScala.toSeq.flatMap(j => find(j._1).map(_ -> j)).groupMap(_._1)(_._2)
    val tasks = tr.tasks.asScala.toSeq.flatMap(t => find(t.launchMs).map(_ -> t)).groupMap(_._1)(_._2)
    val qes = tr.queries.asScala.toSeq.flatMap(q => find(q.startMs).map(_ -> q)).groupMap(_._1)(_._2)
    ops.map(o => o.id -> OpEvents(jobs.getOrElse(o.id, Nil), tasks.getOrElse(o.id, Nil),
      qes.getOrElse(o.id, Nil))).toMap
  }

  /** Splits an operation's wall time over layers: each instant goes to the
    * most specific layer active then (commit > exec > sql), the rest to the
    * driver. */
  def selfTimes(tr: Tracer, o: Tracer.OpRec, ev: Option[OpEvents]): Map[String, Double] = {
    val iv = mutable.ArrayBuffer[(Long, Long, Int)]()
    tr.spans.filter(s => s.op == o.id && s.layer == "commit")
      .foreach(s => iv += ((s.startNs, s.endNs, 3)))
    ev.foreach { e =>
      e.jobs.foreach { case (s, f) => iv += ((tr.msToNs(s), tr.msToNs(f), 2)) }
      e.queries.foreach(q => q.phases.foreach { case (_, s, f) =>
        iv += ((tr.msToNs(s), tr.msToNs(f), 1)) })
    }
    val clipped = iv.map { case (s, f, p) => (math.max(s, o.startNs), math.min(f, o.endNs), p) }
      .filter(x => x._2 > x._1)
    val cuts = (clipped.flatMap(x => Seq(x._1, x._2)) ++ Seq(o.startNs, o.endNs)).distinct.sorted
    val out = mutable.Map[String, Double]().withDefaultValue(0.0)
    val names = Map(0 -> "driver", 1 -> "sql", 2 -> "exec", 3 -> "commit")
    cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
      val mid = a + (b - a) / 2
      val p = clipped.filter(x => x._1 <= mid && mid < x._2).map(_._3).maxOption.getOrElse(0)
      out(names(p)) += (b - a) / 1e6
    }
    out.toMap
  }

  /** The raw trace: operations, driver spans, and the Spark jobs and query
    * phases attributed to them, in ms since the run started. */
  def writeTrace(ctx: Ctx, path: String): Unit = {
    val tr = ctx.tracer
    def rel(ns: Long) = (ns - tr.t0Ns) / 1e6
    val traced = tr.ops.filter(_.traced).toSeq
    val byOp = attribution(tr, traced)
    val spans = mutable.ArrayBuffer[Any]()
    tr.ops.foreach { o =>
      spans += mutable.LinkedHashMap("name" -> o.kind, "layer" -> o.category,
        "start_ms" -> rel(o.startNs), "end_ms" -> rel(o.endNs), "parent" -> null,
        "id" -> s"op-${o.id}", "op" -> o.id, "traced" -> o.traced)
    }
    tr.spans.foreach { s =>
      spans += mutable.LinkedHashMap("name" -> s.name, "layer" -> s.layer,
        "start_ms" -> rel(s.startNs), "end_ms" -> rel(s.endNs),
        "parent" -> (if (s.parent == 0) s"op-${s.op}" else s"span-${s.parent}"),
        "id" -> s"span-${s.id}", "op" -> s.op)
    }
    byOp.foreach { case (id, e) =>
      e.jobs.foreach { case (s, f) =>
        spans += mutable.LinkedHashMap("name" -> "job", "layer" -> "exec",
          "start_ms" -> rel(tr.msToNs(s)), "end_ms" -> rel(tr.msToNs(f)),
          "parent" -> s"op-$id", "op" -> id)
      }
      e.queries.foreach(q => q.phases.foreach { case (p, s, f) =>
        spans += mutable.LinkedHashMap("name" -> s"query.$p", "layer" -> "sql",
          "start_ms" -> rel(tr.msToNs(s)), "end_ms" -> rel(tr.msToNs(f)),
          "parent" -> s"op-$id", "op" -> id)
      })
    }
    val doc = mutable.LinkedHashMap[String, Any]("seed" -> ctx.seed, "spans" -> spans,
      "summary" -> Json.metrics(summary(ctx)))
    java.nio.file.Files.write(java.nio.file.Paths.get(path), Json(doc).getBytes("UTF-8"))
  }
}
