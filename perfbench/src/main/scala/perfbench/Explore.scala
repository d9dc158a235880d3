package perfbench

import java.nio.file.Path
import graft.{QuadStore, UpdateLog}
import graft.engine.Graft
import graft.web.SparqlServer

/**
 * BSBM Explore over HTTP: two clients in a closed loop against an in-memory
 * `SparqlServer`. The traced run also drives the update path: a second server in
 * logged mode (write-ahead `UpdateLog`) takes BSBM-update-style writes, the log is
 * reopened and checked, and the first writes are replayed through chained
 * `QuadStore.update` calls.
 */
object Explore {
  val Clients = 2

  /** One protocol request; a non-2xx answer is a failure. Returns the body. */
  def fetch(http: Http, r: Request): String = {
    val resp = http.query(r.text)
    if (resp.statusCode / 100 != 2)
      throw new IllegalStateException(s"HTTP ${resp.statusCode}: ${resp.body.take(200)}")
    resp.body
  }

  def canonical(r: Request, body: String): Seq[String] =
    if (Check.isGraphQuery(r.text)) Check.fromNQuads(body) else Check.fromJson(body)

  def run(ctx: Ctx, report: Report): Unit = {
    val env = new SparqlEnv(ctx, report)
    val (built, storeDir, server) = env.setup { (b, _) =>
      SparqlServer.start(ctx.spark, b.store.quads, host = "127.0.0.1")
    }(_.stop())
    try {
      val http = new Http(server.boundPort)
      val ts = ctx.templates("explore")
      val caps = new Captures(env.rotation(ts, ctx.scale.checksPerRun).map(_.id))
      val (samples, elapsed) = Loop.passes(ctx, env, Clients, ctx.seconds, env.params(0), ts) { r =>
        val body = fetch(http, r)
        caps.offer(r)(canonical(r, body))
        None
      }
      Loop.reportLatency(report, samples, elapsed)
      env.checkCaptured(built.store.quads, caps)
      if (ctx.opts.trace) env.reportReopen(storeDir)
      if (ctx.opts.trace) traced(ctx, env, report, server, http, built, storeDir)
    } finally server.stop()
  }

  private def traced(ctx: Ctx, env: SparqlEnv, report: Report, server: SparqlServer, http: Http,
                     built: Bsbm.Built, storeDir: Path): Unit = {
    val t = new Tracer(ctx.spark)
    try {
      val ts = ctx.templates("explore")
      // each request replayed in process, then sent over HTTP alone, where
      // untagged jobs are the server's; the timed pass already ran each template
      // once, so neither of the two is the first use of its code
      val ps = env.params(200)
      var req = 0L
      env.rotation(ts, ctx.scale.replaysPerTrace).foreach { tp =>
        req += 1
        val r = env.fill(tp, ps.draw())
        Replay(Some(t), req, server.storeQuads, r, serialize = true)
        t.windowSpan("web.http", req)(fetch(http, r))
      }
      updates(ctx, env, report, t, built)
      chained(ctx, env, report, storeDir)
      SparqlLayers.report(t, report)
      report.layer("update.ms", Tracer.medianMs(t, "update"), "ms")
      report.layer("update.jobs", Tracer.meanWork(t, "update")._1, "count")
      t.write(ctx.traceFile)
    } finally t.close()
  }

  /** One write of each kind through `POST /update` on a logged server over the same
    * quads, each alone in its window; then the log is reopened and checked. */
  private def updates(ctx: Ctx, env: SparqlEnv, report: Report, t: Tracer, built: Bsbm.Built): Unit = {
    val logDir = ctx.sub("log")
    val server = SparqlServer.start(ctx.spark, built.store.quads, host = "127.0.0.1",
      logDir = Some(logDir.toString))
    val w = new Writer(ctx, env)
    try {
      val http = new Http(server.boundPort)
      Writer.Kinds.indices.foreach { k =>
        try { t.windowSpan("update", 10000L + k)(w.send(http, k)); ctx.outcome.ok() }
        catch { case e: Throwable => ctx.outcome.fail(s"write $k: $e") }
      }
    } finally server.stop()
    w.checkLog(logDir, report)
  }

  /** The first three writes through chained public `QuadStore.update` calls, which
    * carry no plan-growth weight from one call to the next, with the same Q7 read
    * after each one. */
  private def chained(ctx: Ctx, env: SparqlEnv, report: Report, storeDir: Path): Unit = {
    val w = new Writer(ctx, env)
    val q7 = env.fill(ctx.templates.one("explore", "q07"), env.params(300).draw())
    var store = QuadStore.load(ctx.spark, storeDir.toString)
    (0 until 3).foreach { k =>
      store = store.update(w.text(k))
      val ms = Clock.timedMs(Graft(store.quads).query(q7.text).collect())._2
      Log.info(f"chained update ${k + 1}: Q7 read ${ms / 1e3}%.2f s")
      report.layer(s"update.chain_read_${k + 1}_ms", ms, "ms")
    }
  }
}

/**
 * BSBM-update-style writes: INSERT DATA for a new review and a new offer,
 * DELETE/INSERT WHERE for a price change, DELETE WHERE to remove an offer.
 * Remembers what every acknowledged write must have changed.
 */
final class Writer(ctx: Ctx, env: SparqlEnv) {
  import Writer._
  private val bsbm = env.bsbm
  private val ps = env.params(7000)
  private val rng = new java.util.SplittableRandom(ctx.seed ^ 0x77726974L)
  private val reviews = scala.collection.mutable.ArrayBuffer.empty[String]
  private val offers = scala.collection.mutable.ArrayBuffer.empty[String]
  private val prices = scala.collection.mutable.LinkedHashMap.empty[String, String]
  private val deleted = scala.collection.mutable.ArrayBuffer.empty[String]

  /** The k-th write: its text and the effect to remember once acknowledged. */
  private def make(k: Int): (String, () => Unit) = {
    val p = ps.draw()
    val n = k + 1L
    Kinds(k % Kinds.size) match {
      case "new_review" =>
        val id = bsbm.reviewIri(bsbm.reviews + n)
        (fill("new_review", p ++ Map("Review" -> id, "Title" -> s"Benchmark review $n",
          "Rating" -> (1 + rng.nextInt(10)).toString)), () => reviews += id)
      case "new_offer" =>
        val vendor = 1L + rng.nextLong(bsbm.vendors)
        val id = bsbm.offerIri(bsbm.offers + n, vendor)
        (fill("new_offer", p ++ Map("Offer" -> id, "Vendor" -> bsbm.vendorIri(vendor),
          "Price" -> price(), "ValidTo" -> "2008-12-01T00:00:00")), () => offers += id)
      case "price_change" =>
        // odd offer ids change price, even ones are deleted: the two never meet
        val id = bsbm.offerIri(2L * rng.nextLong(bsbm.offers / 2) + 1)
        val pr = price()
        (fill("price_change", p ++ Map("Offer" -> id, "Price" -> pr)), () => prices(id) = pr)
      case "delete_offer" =>
        val id = bsbm.offerIri(2L * (1 + rng.nextLong(bsbm.offers / 2)))
        (fill("delete_offer", p ++ Map("Offer" -> id)), () => deleted += id)
    }
  }
  private def price(): String = f"${5 + rng.nextInt(9990)}.${rng.nextInt(100)}%02d"
  private def fill(name: String, p: Map[String, String]): String =
    ctx.templates.one("update", name).fill(ctx.templates.prefixes, p)

  def text(k: Int): String = make(k)._1

  /** Send write k; an acknowledged write's effect is remembered for the check. */
  def send(http: Http, k: Int): Unit = {
    val (text, effect) = make(k)
    val resp = http.update(text)
    if (resp.statusCode / 100 != 2)
      throw new IllegalStateException(s"update HTTP ${resp.statusCode}: ${resp.body.take(200)}")
    effect()
  }

  /** Reopen the log: every acknowledged insert present, every acknowledged delete
    * absent, each changed offer at its last acknowledged price. */
  def checkLog(logDir: Path, report: Report): Unit = {
    val writes = reviews.size + offers.size + prices.size + deleted.size
    report.layer("storage.log_bytes_per_write",
      Fs.bytesUnder(logDir.resolve("log")).toDouble / math.max(writes, 1), "B")
    val (store, ms) = Clock.timedMs(UpdateLog.load(ctx.spark, logDir.toString))
    report.layer("storage.replay_s", ms / 1e3, "s")
    def select(vars: String, values: Iterable[String], where: String): Set[Seq[String]] =
      if (values.isEmpty) Set.empty
      else store.query(ctx.templates.prefixes +
          s"SELECT $vars WHERE { VALUES ?o { ${values.mkString(" ")} } $where }")
        .collect().toSeq.map(r => (0 until r.length).map(i => r.getStruct(i).getAs[String]("v"))).toSet
    def iris(xs: Iterable[String]) = xs.map(x => Seq(Bsbm.strip(x))).toSet
    ctx.outcome.check("acknowledged reviews present") {
      val got = select("?o", reviews, "?o bsbm:reviewFor ?p")
      if (got == iris(reviews)) None else Some(s"${got.size} of ${reviews.size} found")
    }
    ctx.outcome.check("acknowledged offers present") {
      val got = select("?o", offers, "?o bsbm:product ?p")
      if (got == iris(offers)) None else Some(s"${got.size} of ${offers.size} found")
    }
    ctx.outcome.check("deleted offers absent") {
      val got = select("?o", deleted, "?o ?p ?x")
      if (got.isEmpty) None else Some(s"${got.size} triples remain")
    }
    ctx.outcome.check("last acknowledged prices current") {
      val got = select("?o ?price", prices.keys, "?o bsbm:price ?price")
      val want = prices.map { case (o, p) => Seq(Bsbm.strip(o), p) }.toSet
      if (got == want) None else Some(s"got ${got.take(3)}, want ${want.take(3)}")
    }
  }
}

object Writer {
  /** The write mix, in order. The price change (DELETE/INSERT WHERE) comes last: it
    * grows a plan eight-fold, and the chained-update reads after the first three
    * writes must stay within a run's time. */
  val Kinds = Seq("new_review", "new_offer", "delete_offer", "price_change")
}
