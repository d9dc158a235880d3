package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** Command line: `--workload <name> --seed <n> --seconds <s> --trace <0|1> [--scale full|tiny]`.
  * Prints progress on stderr and one JSON result object as the last stdout line. */
final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, scale: Scale)

/** Input sizes. `full` is what the benchmark measures; `tiny` is the smoke scale
  * that only proves every workload and check runs end to end. */
final case class Scale(name: String, setups: Int, docsPerShard: Int,
                       wordsPerDoc: Int, communitySize: Int, checksPerRun: Int, replaysPerTrace: Int)

object Scale {
  val Full = Scale("full", setups = 3, docsPerShard = 3000,
    wordsPerDoc = 80, communitySize = 40, checksPerRun = 1, replaysPerTrace = 2)
  val Tiny = Scale("tiny", setups = 1, docsPerShard = 600,
    wordsPerDoc = 40, communitySize = 10, checksPerRun = 6, replaysPerTrace = 1)
  def apply(name: String): Scale = name match {
    case "full" => Full
    case "tiny" => Tiny
    case other => throw new IllegalArgumentException(s"unknown scale '$other'")
  }
}

/** Everything a workload needs: the session, the run directory, the options. */
final class Ctx(val spark: SparkSession, val dir: Path, val opts: Opts) {
  val scale: Scale = opts.scale
  val templates: Templates = Templates.load(Paths.get("perfbench", "templates"))
  val outcome = new Outcome
  val codegen = new CodegenCounter
  def seconds: Int = opts.seconds
  def seed: Long = opts.seed
  def sub(name: String): Path = dir.resolve(name)
  /** Generated inputs that depend only on the sources, reused across runs. */
  def inputs: Path = dir.getParent.resolve("inputs")
  def inputKey: String = sys.props.getOrElse("perfbench.inputKey", "dev")
  /** Spans of the traced run, kept after the run directory is removed. */
  def traceFile: Path = dir.getParent.resolve("traces").resolve(s"${opts.workload}-seed${opts.seed}.jsonl")
}

object Main {
  val Workloads = Seq("explore", "analytic")

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload '$w' (one of ${Workloads.mkString(", ")})")
    val secs = need("seconds").toInt
    require(secs >= 1, "--seconds must be at least 1")
    Opts(w, need("seed").toLong, secs, need("trace") == "1", Scale(kv.getOrElse("scale", "full")))
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val runDir = Paths.get(sys.props.getOrElse("perfbench.dir", ".perfbench"),
      s"run-${ProcessHandle.current.pid}").toAbsolutePath
    Fs.deleteRec(runDir)
    Files.createDirectories(runDir)
    val t0 = System.nanoTime()
    val spark = session(runDir)
    val sparkStartS = (System.nanoTime() - t0) / 1e9
    val ctx = new Ctx(spark, runDir, opts)
    val report = new Report
    report.layer("host.spark_start_s", sparkStartS, "s")
    val calibration = Calibration.run()
    Log.info(f"calibration $calibration%.1f ms")
    report.layer("host.calibration_ms", calibration, "ms")
    val gc0 = Jvm.gcMs()
    try {
      opts.workload match {
        case "explore" => Explore.run(ctx, report)
        case "analytic" => Analytic.run(ctx, report)
      }
      if (!opts.trace) report.e2e("heap_live_mb", Jvm.liveHeapMb(), "MB")
      report.layer("jvm.gc_ms", Jvm.gcMs() - gc0, "ms")
      report.layer("codegen.compile_ms", ctx.codegen.compileMs, "ms")
      report.layer("codegen.compiles", ctx.codegen.compiles.toDouble, "count")
      report.layer("codegen.fallbacks", ctx.codegen.fallbacks.toDouble, "count")
      val o = ctx.outcome
      report.layer("bench.failed_ratio", o.failed.get.toDouble / math.max(o.attempted.get, 1L), "ratio")
    } finally {
      ctx.codegen.close()
      spark.stop()
      Fs.deleteRec(runDir)
    }
    ctx.outcome.problems.forEach(p => System.err.println(s"[perfbench] FAILED: $p"))
    println(report.json(ctx.outcome, opts.trace))
  }

  /** The same session settings the `graft.Cli serve` command uses, plus a
    * local scratch directory inside the run directory. */
  private def session(runDir: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
