package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}

/** Optimization-round helper: dump `.explain("formatted")` for every
  * declared query (or a comma-separated subset) to `<outDir>/<name>_<tag>.txt`
  * so plan claims in OPTIMIZATION_r*.md are checkable without running Spark.
  *
  * Usage: sbt "Test/runMain graft.PlanDump <sfDir> <outDir> <tag> [names]"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, tag, only) = args match {
      case Array(s, o, t)        => (s, o, t, None)
      case Array(s, o, t, names) => (s, o, t, Some(names.split(',').toSet))
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.spark.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    val mode = ExplainMode.fromString("formatted")
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .toSeq.sortBy(_._1)
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(mode)
          Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), txt)
          println(s"[plandump] $name ok")
        } catch {
          case e: Throwable =>
            System.err.println(s"[plandump] $name failed: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
