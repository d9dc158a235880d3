package graft.tools

import org.apache.spark.sql.SparkSession

/**
 * Dump `explain("formatted")` for every declared query (or a comma-separated
 * subset) to plans/<tag>/<name>_<suffix>.txt — the before/after plan
 * artifacts the optimization rounds commit alongside the code.
 *
 * Usage:
 *   sbt "runMain graft.tools.PlanDump <tag> <suffix> [queryCsv] [sfDir]"
 * e.g.
 *   sbt "runMain graft.tools.PlanDump r09 before"
 *   sbt "runMain graft.tools.PlanDump r09 after windfarm_grouped_multi,link_pagerank"
 *
 * Uses the same session shape as Bench (local[$SPARK_GRAFT_CPUS], shuffle
 * partitions = cpus) so the captured plans match what the bench executes.
 */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val tag = args.headOption.getOrElse("r09")
    val suffix = args.lift(1).getOrElse("before")
    val only: Option[Set[String]] = args.lift(2).filter(_.nonEmpty).map(_.split(",").toSet)
    val sfDir = args.lift(3).getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val outDir = java.nio.file.Paths.get("plans", tag)
    java.nio.file.Files.createDirectories(outDir)
    val sorted = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    sorted.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // queryExecution.explainString = the same text explain("formatted") prints
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(outDir.resolve(s"${name}_$suffix.txt"),
          txt.getBytes("UTF-8"))
        System.err.println(s"[plandump] $name ok (${txt.length} chars)")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $name FAILED: $e")
          java.nio.file.Files.write(outDir.resolve(s"${name}_$suffix.txt"),
            s"EXPLAIN FAILED: $e".getBytes("UTF-8"))
      }
    }
    spark.stop()
  }
}
