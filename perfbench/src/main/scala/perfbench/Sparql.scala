package perfbench

import java.nio.file.Path
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import graft.QuadStore
import graft.engine.{Graft, Results}
import graft.sparql.SparqlParser
import graft.web.SparqlServer

/** One timed operation: which template, how long, whether it succeeded. */
final case class Sample(template: String, ms: Double, ok: Boolean)

/** A request a client sends: the template it came from and the filled text. */
final case class Request(template: String, text: String)

object Loop {
  /** `clients` threads in a closed loop (each sends its next request only after the
   * previous one completed) over whole passes: every template of `ts` once per pass,
   * with fresh parameters. Passes start until `seconds` have passed, and the last one
   * is finished, so every run measures the same template mix. `onPass` runs before
   * each pass. `exec` may return the milliseconds of the part it times itself (a
   * curation shard excludes generating and checking the shard). Returns the samples
   * and the elapsed seconds. */
  def passes(ctx: Ctx, env: SparqlEnv, clients: Int, seconds: Double, ps: Params, ts: Seq[Template],
             onPass: () => Unit = () => ())(exec: Request => Option[Double]): (Seq[Sample], Double) = {
    val out = new ConcurrentLinkedQueue[Sample]()
    val queue = scala.collection.mutable.Queue.empty[Request]
    val t0 = System.nanoTime()
    def next(): Option[Request] = queue.synchronized {
      if (queue.isEmpty && Clock.ms(t0) < seconds * 1e3) {
        onPass()
        queue ++= ts.map(t => env.fill(t, ps.draw()))
      }
      if (queue.isEmpty) None else Some(queue.dequeue())
    }
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        var r = next()
        while (r.isDefined) {
          val req = r.get
          val s0 = System.nanoTime()
          val timed = try Right(exec(req)) catch { case e: Throwable => Left(e) }
          val ms = Clock.ms(s0)
          timed match {
            case Right(own) => ctx.outcome.ok(); out.add(Sample(req.template, own.getOrElse(ms), ok = true))
            case Left(e) => ctx.outcome.fail(s"${req.template}: $e"); out.add(Sample(req.template, ms, ok = false))
          }
          r = next()
        }
      }, s"perfbench-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    (out.asScala.toSeq, Clock.ms(t0) / 1e3)
  }

  /** A pass mixes operations whose latencies differ several-fold, so the run's figure
    * is their geometric mean, to which every operation contributes alike; the
    * median of so few, so different samples jumps between neighbouring templates. */
  def reportLatency(report: Report, samples: Seq[Sample], seconds: Double): Unit = {
    require(samples.nonEmpty, "no operation completed in the measured interval")
    val ms = samples.map(_.ms)
    samples.sortBy(_.template).foreach(s => Log.info(f"${s.template}: ${s.ms}%.0f ms"))
    report.e2e("latency_geomean_ms", Stats.geomean(ms), "ms")
    report.layer("bench.latency_p50_ms", Stats.median(ms), "ms")
    report.layer("bench.latency_p90_ms", Stats.quantile(ms, 0.9), "ms")
    report.layer("bench.throughput_per_s", samples.count(_.ok) / seconds, "1/s")
  }
}

/** The shared store and its parameters, as every SPARQL workload sets them up. */
final class SparqlEnv(val ctx: Ctx, val report: Report) {
  val bsbm = new Bsbm(ctx.scale.communitySize)
  private val iris = bsbm.productIris(ctx.spark)
  def params(stream: Long): Params = new Params(bsbm, iris, ctx.seed * 1000003L + stream)

  /** Build the store `scale.setups` times (each time also starting what `open`
    * starts on it), report the median as `setup_s`, and keep the last one. */
  def setup[A](open: (Bsbm.Built, Int) => A)(close: A => Unit): (Bsbm.Built, Path, A) = {
    val (generated, genS) = Bsbm.generated(ctx.spark, bsbm, ctx.inputs, ctx.inputKey)
    report.layer("storage.gen_s", genS, "s")
    val quads = generated.unionByName(bsbm.knows(ctx.spark, ctx.seed))
    var last: Option[(Bsbm.Built, Path, A)] = None
    val times = (0 until ctx.scale.setups).map { i =>
      last.foreach { case (_, _, a) => close(a) }
      System.gc() // untimed, so that no set-up pays for the garbage of the one before
      val dir = ctx.sub(s"store-$i")
      val ((built, a), ms) = Clock.timedMs {
        val b = Bsbm.build(ctx.spark, quads, dir)
        (b, open(b, i))
      }
      last = Some((built, dir, a))
      Log.info(f"setup $i: ${ms / 1e3}%.2f s (save ${built.saveS}%.2f, load ${built.loadS}%.2f; ${built.quadCount} quads)")
      ms / 1e3
    }
    report.e2e("setup_s", Stats.median(times), "s")
    val (b, dir, a) = last.get
    report.layer("storage.save_s", b.saveS, "s")
    report.layer("storage.load_s", b.loadS, "s")
    report.layer("storage.bytes_per_quad", b.bytes.toDouble / b.quadCount, "B")
    (b, dir, a)
  }

  def fill(t: Template, p: Map[String, String]): Request = Request(t.id, t.fill(ctx.templates.prefixes, p))

  /** Compare an answer with the naive per-pattern join plan on the same quads. */
  def checkAgainstUnfused(quads: DataFrame, r: Request, got: Seq[String]): Unit =
    ctx.outcome.check(s"${r.template} vs unfused") {
      val graph = Check.isGraphQuery(r.text)
      val (want, ms) = Clock.timedMs(Check.fromFrame(Graft.unfused(quads).query(r.text), graph))
      Log.info(f"check ${r.template}: ${got.size} rows, naive plan ${ms / 1e3}%.2f s")
      Check.diff(got, want)
    }

  /** `k` of the templates, chosen by the seed so that consecutive seeds cover all. */
  def rotation(ts: Seq[Template], k: Int): Seq[Template] =
    (0 until math.min(k, ts.size)).map(j => ts(java.lang.Math.floorMod(ctx.seed * k + j, ts.size.toLong).toInt))
      .distinct

  /** Compare the captured answer of every template this run checks with the naive plan. */
  def checkCaptured(quads: DataFrame, caps: Captures): Unit =
    caps.checked.foreach { id =>
      caps.get(id) match {
        case Some((r, answer)) => checkAgainstUnfused(quads, r, answer())
        case None => ctx.outcome.fail(s"$id: no answer to check")
      }
    }

  /** Reopen the saved store and count its offers; median of seven, as
    * `storage.reopen_s`. */
  def reportReopen(storeDir: Path): Unit = {
    val probe = ctx.templates.prefixes + "SELECT (COUNT(*) AS ?n) WHERE { ?o bsbm:price ?p }"
    val times = (1 to 7).map { _ =>
      Clock.timedMs(QuadStore.load(ctx.spark, storeDir.toString).query(probe).collect())._2 / 1e3
    }
    report.layer("storage.reopen_s", Stats.median(times), "s")
  }
}

/** The first answer of each template a run checks, kept during the timed pass (its
  * canonical form is only computed afterwards) and compared with the naive plan. */
final class Captures(val checked: Seq[String]) {
  private val first = new java.util.concurrent.ConcurrentHashMap[String, (Request, () => Seq[String])]()
  def offer(r: Request)(answer: => Seq[String]): Unit =
    if (checked.contains(r.template)) first.putIfAbsent(r.template, (r, () => answer))
  def get(id: String): Option[(Request, () => Seq[String])] = Option(first.get(id))
}

/** A request replayed in process, layer by layer: inside trace spans, or with no
  * tracer the same calls untraced. */
object Replay {
  def apply(t: Option[Tracer], req: Long, quads: DataFrame, r: Request, serialize: Boolean): Unit = {
    def span[A](name: String)(f: => A): A = t.fold(f)(_.span(name, req)(f))
    def note(name: String, v: => Double): Unit = t.foreach(_.note(req, name, v))
    span("sparql.parse")(SparqlParser.parse(r.text))
    val df = span("engine.build")(Graft(quads).query(r.text))
    val qe = df.queryExecution
    span("catalyst.optimize")(qe.optimizedPlan)
    span("catalyst.plan")(qe.executedPlan)
    note("catalyst.analyze_ms",
      qe.tracker.phases.get("analysis").map(_.durationMs.toDouble).getOrElse(0.0))
    note("catalyst.plan_nodes", qe.sparkPlan.collect { case p => p }.size.toDouble)
    val rows = span("exec")(df.collect().length.toLong)
    note("exec.rows_out", rows.toDouble)
    if (serialize) {
      val bytes = span("results") {
        val lines = if (Check.isGraphQuery(r.text)) Check.nquadLines(df) else Results.toJsonLines(df)
        lines.toLocalIterator().asScala.map(_.getString(0).length.toLong + 1).sum
      }
      note("results.bytes", bytes.toDouble)
    }
  }
}

/** Per-layer metrics of the SPARQL workloads, from the replay spans. */
object SparqlLayers {
  private val InProcess = Seq("sparql.parse", "engine.build", "catalyst.optimize", "catalyst.plan", "results")

  def report(t: Tracer, report: Report): Unit = {
    t.settle()
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    report.layer("sparql.parse_ms", Tracer.medianMs(t, "sparql.parse"), "ms")
    report.layer("engine.build_ms", Tracer.medianMs(t, "engine.build"), "ms")
    report.layer("engine.build_jobs", Tracer.meanWork(t, "engine.build")._1, "count")
    report.layer("catalyst.analyze_ms", med(t.noted("catalyst.analyze_ms")), "ms")
    report.layer("catalyst.optimize_ms", Tracer.medianMs(t, "catalyst.optimize"), "ms")
    report.layer("catalyst.plan_ms", Tracer.medianMs(t, "catalyst.plan"), "ms")
    report.layer("catalyst.plan_nodes", med(t.noted("catalyst.plan_nodes")), "count")
    report.layer("exec.ms", Tracer.medianMs(t, "exec"), "ms")
    val (jobs, stages, tasks, shuffle, spill, _) = Tracer.meanWork(t, "exec")
    report.layer("exec.jobs", jobs, "count")
    report.layer("exec.stages", stages, "count")
    report.layer("exec.tasks", tasks, "count")
    report.layer("exec.shuffle_bytes", shuffle, "B")
    report.layer("exec.spill_bytes", spill, "B")
    val execs = t.byName("exec")
    val scanned = execs.map(s => t.workOf(s.id).inputRows).sum.toDouble
    report.layer("exec.scan_rows_per_row_out", scanned / math.max(1.0, t.noted("exec.rows_out").sum), "ratio")
    // the server's serialisation path: render and stream out, partition by partition
    report.layer("results.serialize_ms", Tracer.medianMs(t, "results"), "ms")
    report.layer("results.bytes", med(t.noted("results.bytes")), "B")
    val byReq = t.all.groupBy(_.req)
    val web = t.byName("web.http").map { h =>
      h.ms - byReq.getOrElse(h.req, Nil).filter(s => InProcess.contains(s.name)).map(_.ms).sum
    }
    report.layer("web.overhead_ms", med(web), "ms")
  }

  /** Tracing overhead: the same requests with the tracer off and on. */
  def overhead(report: Report, untraced: Seq[Double], traced: Seq[Double]): Unit = {
    val u = Stats.median(untraced)
    val t = Stats.median(traced)
    report.layer("bench.untraced_p50_ms", u, "ms")
    report.layer("bench.traced_p50_ms", t, "ms")
    report.layer("trace.overhead_pct", (t - u) / u * 100.0, "%")
  }
}
