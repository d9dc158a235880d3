package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Attempted / failed operation counts and the reasons for each failure. A failed
  * output check counts as one failed attempt. */
final class Outcome {
  val attempted = new AtomicLong
  val failed = new AtomicLong
  val problems = new ConcurrentLinkedQueue[String]()

  def ok(): Unit = attempted.incrementAndGet()
  def fail(what: String): Unit = {
    attempted.incrementAndGet(); failed.incrementAndGet(); problems.add(what)
  }
  /** Run one output check: counts as attempted, and as failed when it throws or returns a reason. */
  def check(name: String)(body: => Option[String]): Unit =
    try body match {
      case None => ok()
      case Some(why) => fail(s"$name: $why")
    } catch { case e: Throwable => fail(s"$name: $e") }
}

/** The metrics of one run: the end-to-end ones with `--trace 0`, the per-layer ones
  * with `--trace 1`. `run.py` orders them as BENCHMARK.json lists them, rejects a
  * name or unit it does not list, and reports 0 for a layer the workload bypasses. */
final class Report {
  private val e2eVals = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val layerVals = mutable.LinkedHashMap.empty[String, (Double, String)]

  def e2e(name: String, v: Double, unit: String): Unit = synchronized { e2eVals(name) = (v, unit) }
  def layer(name: String, v: Double, unit: String): Unit = synchronized { layerVals(name) = (v, unit) }

  def json(o: Outcome, trace: Boolean): String = synchronized {
    val metrics = (if (trace) layerVals else e2eVals).map { case (n, (v, u)) =>
      require(!v.isNaN && !v.isInfinite, s"metric $n is $v")
      s""""$n": {"value": $v, "unit": "$u"}"""
    }.mkString(", ")
    val correct = o.failed.get == 0
    s"""{"correct": $correct, "attempted": ${math.max(o.attempted.get, 1L)}, "failed": ${o.failed.get}, "metrics": {$metrics}}"""
  }
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)
}

object Log {
  private val t0 = System.nanoTime()
  def info(msg: String): Unit = System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.1fs] $msg")
}

object Clock {
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
  def timedMs[A](f: => A): (A, Double) = { val t0 = System.nanoTime(); val a = f; (a, ms(t0)) }
}

object Fs {
  def deleteRec(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).iterator().asScala.foreach(Files.delete)
    finally s.close()
  }
  def bytesUnder(p: Path): Long = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close()
  }
  def read(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")
}

object Jvm {
  def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  /** Heap in use after full collections: what the run keeps live. */
  def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}

/** A fixed single-threaded CPU task (MD5 over a 1 MiB buffer, 40 times); its median
  * time over five trials lets figures from different hosts be compared. */
object Calibration {
  def run(): Double = {
    val buf = Array.tabulate[Byte](1 << 20)(i => (i * 31).toByte)
    val md = java.security.MessageDigest.getInstance("MD5")
    val trials = (1 to 5).map { _ =>
      Clock.timedMs { (1 to 40).foreach(_ => md.update(buf)); md.digest() }._2
    }
    Stats.median(trials)
  }
}
