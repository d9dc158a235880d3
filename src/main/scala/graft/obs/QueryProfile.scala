package graft.obs

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.{ListenerBusAccess, SparkContext}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.SQLExecution

/**
 * Where one query's time went: building its DataFrame, Catalyst's phases,
 * and executing the plan, with the Spark work each part started.
 *
 * @param buildMs         wall time to build the DataFrame (parse, rewrite,
 *                        and Catalyst analysis of every intermediate)
 * @param buildJobs       Spark jobs run while building (0 when plan
 *                        construction runs none)
 * @param analysisMs      Catalyst analysis of the final plan
 * @param optimizationMs  Catalyst optimization
 * @param planningMs      physical planning
 * @param execMs          running the planned query to its last row
 * @param jobs            Spark jobs started while planning and executing
 * @param stages          stages those jobs completed (skipped stages excluded)
 * @param tasks           tasks those stages ran
 * @param shuffleBytes    shuffle bytes those tasks wrote
 * @param spillBytes      bytes those tasks spilled, in memory and on disk
 * @param codegenCompiles generated classes compiled in the process meanwhile
 * @param codegenMs       time those compiles took
 * @param rows            rows the query returned
 */
final case class QueryProfile(
    buildMs: Double, buildJobs: Int,
    analysisMs: Double, optimizationMs: Double, planningMs: Double,
    execMs: Double, jobs: Int, stages: Int, tasks: Long,
    shuffleBytes: Long, spillBytes: Long,
    codegenCompiles: Long, codegenMs: Double, rows: Long) {

  /** One JSON object on one line. */
  def toJson: String = {
    def ms(v: Double) = math.rint(v * 1000) / 1000
    s"""{"build_ms":${ms(buildMs)},"build_jobs":$buildJobs,""" +
      s""""analysis_ms":${ms(analysisMs)},"optimization_ms":${ms(optimizationMs)},""" +
      s""""planning_ms":${ms(planningMs)},"exec_ms":${ms(execMs)},"jobs":$jobs,""" +
      s""""stages":$stages,"tasks":$tasks,"shuffle_bytes":$shuffleBytes,""" +
      s""""spill_bytes":$spillBytes,"codegen_compiles":$codegenCompiles,""" +
      s""""codegen_ms":${ms(codegenMs)},"rows":$rows}"""
  }
}

/**
 * Profiles one query at a time. Jobs belong to a profile through a job tag
 * that its phases set on the calling thread (Spark carries it to the threads
 * a query starts, e.g. broadcast builds), so queries that other threads run
 * meanwhile are not counted. The listener that reads the tags exists only
 * while a profile runs: an unprofiled query registers nothing.
 *
 * Codegen counts are process-wide deltas and include concurrent queries'.
 */
object QueryProfile {

  private val ids = new AtomicLong

  /** Build the query with `build`, plan it and run it to its last row without
    * shipping rows to the driver. */
  def of(spark: SparkSession)(build: => DataFrame): QueryProfile = {
    val sc = spark.sparkContext
    val id = ids.incrementAndGet()
    val built = new Work(s"graft-profile-$id-build")
    val ran = new Work(s"graft-profile-$id-run")
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compileNs0 = CodeGenerator.compileTime
    val (qe, buildNs, execNs, rows) = withListener(sc, built, ran) {
      val t0 = System.nanoTime()
      val qe = tagged(sc, built.tag)(build).queryExecution
      val t1 = System.nanoTime()
      tagged(sc, ran.tag) {
        qe.executedPlan
        val t2 = System.nanoTime()
        val rows = SQLExecution.withNewExecutionId(qe, Some("graft profile"))(qe.toRdd.count())
        (qe, t1 - t0, System.nanoTime() - t2, rows)
      }
    }
    val phases = qe.tracker.phases
    def phaseMs(p: String) = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    QueryProfile(
      buildMs = buildNs / 1e6, buildJobs = built.jobs.get,
      analysisMs = phaseMs(QueryPlanningTracker.ANALYSIS),
      optimizationMs = phaseMs(QueryPlanningTracker.OPTIMIZATION),
      planningMs = phaseMs(QueryPlanningTracker.PLANNING),
      execMs = execNs / 1e6, jobs = ran.jobs.get, stages = ran.stages.get,
      tasks = ran.tasks.get, shuffleBytes = ran.shuffleBytes.get, spillBytes = ran.spillBytes.get,
      codegenCompiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0,
      codegenMs = (CodeGenerator.compileTime - compileNs0) / 1e6,
      rows = rows)
  }

  /** `body`'s result and the number of Spark jobs it started on this thread. */
  def jobs[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val w = new Work(s"graft-profile-${ids.incrementAndGet()}")
    val r = withListener(sc, w)(tagged(sc, w.tag)(body))
    (r, w.jobs.get)
  }

  /** Spark work of the jobs that carry one tag. */
  private final class Work(val tag: String) {
    val jobs, stages = new AtomicInteger
    val tasks, shuffleBytes, spillBytes = new AtomicLong
  }

  private def tagged[T](sc: SparkContext, tag: String)(body: => T): T = {
    sc.addJobTag(tag)
    try body finally sc.removeJobTag(tag)
  }

  /** Run `body` with a listener that credits each job, and its stages and
    * tasks, to the `works` whose tag it carries. Returns once the listener has
    * seen every event `body` caused. */
  private def withListener[T](sc: SparkContext, works: Work*)(body: => T): T = {
    val byTag = works.map(w => w.tag -> w).toMap
    val byStage = new ConcurrentHashMap[Int, Work]()
    val listener = new SparkListener {
      // a job's tags travel in its "spark.job.tags" property, comma-separated
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
          .toSeq.flatMap(_.split(",")).flatMap(byTag.get)
          .foreach { w => w.jobs.incrementAndGet(); e.stageIds.foreach(byStage.put(_, w)) }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Option(byStage.get(e.stageInfo.stageId)).foreach(_.stages.incrementAndGet())
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(byStage.get(e.stageId)).foreach { w =>
          w.tasks.incrementAndGet()
          Option(e.taskMetrics).foreach { m =>
            w.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
            w.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          }
        }
    }
    sc.addSparkListener(listener)
    try {
      val r = body
      ListenerBusAccess.drain(sc)
      r
    } finally sc.removeSparkListener(listener)
  }
}
