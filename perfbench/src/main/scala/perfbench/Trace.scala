package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.logging.log4j.Level
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Code generation seen from outside graft: Janino fallbacks counted by a log appender
  * on Spark's CodeGenerator logger, compile time and count from Spark's own counters. */
final class CodegenCounter {
  private val LoggerName = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val failures = new AtomicLong
  private val compileNs0 = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
  private val compiles0 = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private val appender = new AbstractAppender("perfbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit =
      if (Option(e.getMessage).exists(_.getFormattedMessage.toLowerCase.contains("failed to compile")))
        failures.incrementAndGet()
  }
  private val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
  appender.start()
  locally {
    val conf = ctx.getConfiguration
    val lc = new LoggerConfig(LoggerName, Level.WARN, false)
    lc.addAppender(appender, Level.WARN, null)
    conf.addLogger(LoggerName, lc)
    ctx.updateLoggers()
  }

  def fallbacks: Long = failures.get
  def compileMs: Double =
    (org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime - compileNs0) / 1e6
  def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
  def close(): Unit = {
    ctx.getConfiguration.removeLogger(LoggerName)
    ctx.updateLoggers()
    appender.stop()
  }
}

/** Spark work attributed to one span: jobs, stages, tasks and their task metrics. */
final case class SparkWork(jobs: Int, stages: Int, tasks: Long, shuffleBytes: Long,
                           spillBytes: Long, inputRows: Long) {
  def +(o: SparkWork): SparkWork = SparkWork(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes, inputRows + o.inputRows)
}
object SparkWork { val Zero: SparkWork = SparkWork(0, 0, 0L, 0L, 0L, 0L) }

/** One traced interval: a call into a layer's public function. Spans of one request
  * share `req`; `parent` is the span that was open on the same thread (0 = none). */
final case class Span(id: Long, name: String, parent: Long, req: Long, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/**
 * In-memory span recorder. While a span is open, the calling thread carries the
 * Spark job tag `perfbench-span-<id>`; a SparkListener maps every job, and so its
 * stages and tasks, to the innermost span whose tag it carries.
 */
final class Tracer(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  private val nextId = new AtomicLong(1)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val work = new ConcurrentHashMap[Long, SparkWork]()
  private val TagPrefix = "perfbench-span-"
  private val notes = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Double)]()
  /** Spark jobs started while no span tag is on their thread (e.g. on server threads)
    * go to the window span open at that moment; windows must not overlap other work. */
  @volatile private var window: Long = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .map(_.split(",").toSeq).getOrElse(Nil)
      val ids = tags.filter(_.startsWith(TagPrefix)).map(_.drop(TagPrefix.length).toLong)
      val span = if (ids.nonEmpty) ids.max else window // spans nest: innermost has the highest id
      if (span != 0L) {
        e.stageIds.foreach(s => stageSpan.put(s, span))
        add(span, SparkWork.Zero.copy(jobs = 1))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach(add(_, SparkWork.Zero.copy(stages = 1)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { span =>
        val m = e.taskMetrics
        val w = if (m == null) SparkWork.Zero.copy(tasks = 1L)
          else SparkWork(0, 0, 1L, m.shuffleWriteMetrics.bytesWritten,
            m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.recordsRead)
        add(span, w)
      }
  }
  sc.addSparkListener(listener)

  /** Stop listening for a while, so an untraced pass runs as it would without the tracer. */
  def pause(): Unit = { settle(); sc.removeSparkListener(listener) }
  def resume(): Unit = sc.addSparkListener(listener)

  private def add(span: Long, w: SparkWork): Unit = work.merge(span, w, (a, b) => a + b)

  /** Run `f` inside a span named `name` for request `req`. */
  def span[A](name: String, req: Long)(f: => A): A = {
    val id = nextId.getAndIncrement()
    val stack = open.get()
    val tag = TagPrefix + id
    sc.addJobTag(tag)
    open.set(id :: stack)
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      sc.removeJobTag(tag)
      open.set(stack)
      spans.add(Span(id, name, stack.headOption.getOrElse(0L), req, t0, t1))
    }
  }

  /** Like [[span]], and also the owner of untagged jobs started while it runs. The
    * listener bus delivers job starts late, so the window closes only once every
    * event posted while it was open has been handled (after the span's end time). */
  def windowSpan[A](name: String, req: Long)(f: => A): A =
    try span(name, req) { window = open.get().head; f }
    finally { settle(); window = 0L }

  /** A per-request measurement that is not a span (a count, a size, a phase time). */
  def note(req: Long, name: String, v: Double): Unit = notes.add((req, name, v))
  def noted(name: String): Seq[Double] = notes.asScala.toSeq.filter(_._2 == name).map(_._3)

  /** Spark work of each span, once the listener bus has delivered every event. */
  def settle(): Unit = org.apache.spark.PerfbenchAccess.waitForListeners(sc)

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)
  def workOf(span: Long): SparkWork = Option(work.get(span)).getOrElse(SparkWork.Zero)
  def byName(name: String): Seq[Span] = all.filter(_.name == name)

  /** Span duration minus the time its child spans cover. */
  def selfMs(s: Span): Double = s.ms - spans.asScala.iterator.filter(_.parent == s.id).map(_.ms).sum

  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val lines = all.map { s =>
      val w = workOf(s.id)
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"req":${s.req},"start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"jobs":${w.jobs},"stages":${w.stages},"tasks":${w.tasks},""" +
        s""""shuffle_bytes":${w.shuffleBytes},"spill_bytes":${w.spillBytes},"input_rows":${w.inputRows}}"""
    }
    Files.write(path, lines.asJava)
  }

  def close(): Unit = sc.removeSparkListener(listener)
}

object Tracer {
  /** Median of one span name's self time over requests, in ms (0 when never recorded). */
  def medianMs(t: Tracer, name: String): Double = {
    val xs = t.byName(name).map(t.selfMs)
    if (xs.isEmpty) 0.0 else Stats.median(xs)
  }
  /** Mean Spark work per span of one name. */
  def meanWork(t: Tracer, name: String): (Double, Double, Double, Double, Double, Double) = {
    val ws = t.byName(name).map(s => t.workOf(s.id))
    if (ws.isEmpty) (0, 0, 0, 0, 0, 0)
    else {
      val n = ws.size.toDouble
      val tot = ws.foldLeft(SparkWork.Zero)(_ + _)
      (tot.jobs / n, tot.stages / n, tot.tasks / n, tot.shuffleBytes / n, tot.spillBytes / n, tot.inputRows / n)
    }
  }
}
