package perfbench

import scala.collection.immutable.TreeMap
import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.SparkSession

/** Runs one workload once and prints one `PERFBENCH_RESULT {...}` line;
  * `perfbench/run.py` builds this program and turns that line into the
  * benchmark's result. Arguments:
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *  [--trace-out <file>]`. */
object Main {
  val workloads: Seq[Workload] = Seq(AnalyticRead, IngestCommit, RowUpdate, LlmPipeline)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = workloads.find(_.name == opts("workload")).getOrElse(
      throw new IllegalArgumentException(s"unknown workload ${opts("workload")}; " +
        s"known: ${workloads.map(_.name).mkString(", ")}"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = new java.io.File(opts("work")).getAbsolutePath
    val cpus = Runtime.getRuntime.availableProcessors()

    val tracer = new Tracer(trace)
    val t0 = System.nanoTime()
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${wl.name}")
      .config("spark.sql.extensions", "graft.spark.GraftExtensions")
      .config("spark.sql.catalog.g", "graft.spark.GraftCatalog")
      .config("spark.sql.catalog.g.warehouse", s"$work/wh")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
    tracer.sessionConf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    tracer.install(spark)
    val sparkStart = (System.nanoTime() - t0) / 1e9

    val ctx = new Ctx(spark, seed, seconds, work, tracer)
    try wl.run(ctx)
    catch {
      case scala.util.control.NonFatal(e) =>
        // a workload that cannot finish its setup or loop is a failed run
        ctx.attempted += 1
        ctx.failed += 1
        ctx.failures += s"workload aborted: $e"
    }
    if (trace) org.apache.spark.perfbench.ListenerBusDrain(spark.sparkContext)

    val e2e = Report.endToEnd(ctx, wl)
    val detail = Report.detail(ctx, sparkStart)
    val layers = if (trace) Layers.summary(ctx) else Map.empty[String, (Double, String)]
    opts.get("trace-out").filter(_ => trace).foreach(p => Layers.writeTrace(ctx, p))
    val correct = ctx.failed == 0 && ctx.attempted > 0
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> wl.name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "correct" -> correct, "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "failures" -> ctx.failures.toSeq,
      "metrics" -> Json.metrics(if (trace) layers else e2e),
      "detail" -> Json.metrics(detail),
      "known_defects" -> ctx.knownDefects.toSeq.map { case (n, ok, d) =>
        mutable.LinkedHashMap[String, Any]("name" -> n, "passed" -> ok, "detail" -> d) },
      "provenance" -> mutable.LinkedHashMap[String, Any](
        "nproc" -> cpus,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version")))
    println("PERFBENCH_RESULT " + Json(out))
    spark.stop()
  }
}

/** End-to-end figures, from untraced runs. */
object Report {
  private def p50(ctx: Ctx, cat: String): Option[Double] =
    ctx.samples.get(cat).filter(_.nonEmpty).map(s => Stats.kindMean(s.toSeq))

  /** The metrics every workload reports (the names `BENCHMARK.json`
    * lists). */
  def endToEnd(ctx: Ctx, wl: Workload): Map[String, (Double, String)] = {
    val m = mutable.LinkedHashMap[String, (Double, String)]()
    m("setup_s") = (ctx.setupSecs.lastOption.getOrElse(Double.NaN), "s")
    m("scan_p50_ms") = (p50(ctx, "scan").getOrElse(Double.NaN), "ms")
    m("op_p50_ms") = (wl.headline(ctx).orElse(p50(ctx, wl.primary)).getOrElse(Double.NaN), "ms")
    m("ops_per_s") = (ctx.opsPerSecond, "ops/s")
    m("storage_amp") = (ctx.tableBytes().toDouble / math.max(1L, ctx.userBytes), "ratio")
    m.toMap
  }

  /** The workload's own figures under the names the documentation uses:
    * p90s only where the run has at least 100 samples. */
  def detail(ctx: Ctx, sparkStart: Double): Map[String, (Double, String)] = {
    val m = mutable.LinkedHashMap[String, (Double, String)]()
    ctx.samples.filter(c => Set("scan", "append", "rowop")(c._1)).foreach { case (n, s) =>
      m(s"${n}_p50_ms") = (Stats.kindMean(s.toSeq), "ms")
      if (s.size >= 100) m(s"${n}_p90_ms") = (Stats.quantile(s.map(_._2).toSeq, 0.9), "ms")
      m(s"${n}_n") = (s.size.toDouble, "count")
    }
    ctx.samples.get("pipeline").foreach { s =>
      m("pipeline_p50_s") = (Stats.median(s.map(_._2).toSeq) / 1000.0, "s")
      m("pipeline_n") = (s.size.toDouble, "count")
    }
    ctx.samples.get("maint").foreach { s =>
      m("maint_s") = (s.map(_._2).sum / 1000.0, "s")
      m("maint_n") = (s.size.toDouble, "count")
    }
    m("loop_steal_frac") = (ctx.loopStealFrac, "fraction")
    m("heap_peak_mb") = (if (ctx.heapMb.isEmpty) Double.NaN else ctx.heapMb.max, "MB")
    m("failed_frac") = (ctx.failed.toDouble / math.max(1, ctx.attempted), "fraction")
    m("spark_start_s") = (sparkStart, "s")
    m("loop_s") = (ctx.loopSecs, "s")
    m("warmup_s") = (ctx.warmupSecs, "s")
    ctx.setupSecs.zipWithIndex.foreach { case (s, i) => m(s"setup_${i + 1}_s") = (s, "s") }
    m.toMap
  }
}

/** The result line and the trace file as JSON. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** `{name: {value, unit}}` by name; a figure the run could not measure
    * (NaN) is written as null. */
  def metrics(m: Map[String, (Double, String)]): Map[String, Any] =
    TreeMap(m.toSeq.map { case (k, (v, u)) =>
      k -> Map("value" -> (if (v.isNaN || v.isInfinite) null else v), "unit" -> u)
    }: _*)

  def apply(v: Any): String = mapper.writeValueAsString(v)
}
