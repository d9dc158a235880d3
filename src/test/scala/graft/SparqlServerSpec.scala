package graft

import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8
import graft.web.SparqlServer
import graft.engine.Results
import graft.model.{Lit, RdfTerm}

/** Drives the SPARQL-protocol endpoint over real HTTP: data upload by
  * content type, query dispatch per form, content negotiation, protocol
  * dataset parameters, and the service description — mirroring the
  * reference's lib/web routes. */
class SparqlServerSpec extends SparkSpec {

  private lazy val server = SparqlServer.start(spark)
  private def base = s"http://127.0.0.1:${server.boundPort}"

  override def afterAll(): Unit = {
    try server.stop() finally super.afterAll()
  }

  private def http(method: String, url: String, accept: String = null,
                   contentType: String = null, body: String = null): (Int, String, String) = {
    val conn = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    if (accept != null) conn.setRequestProperty("Accept", accept)
    if (contentType != null) conn.setRequestProperty("Content-Type", contentType)
    if (body != null) {
      conn.setDoOutput(true)
      conn.getOutputStream.write(body.getBytes(UTF_8))
    }
    val status = conn.getResponseCode
    val stream = if (status >= 400) conn.getErrorStream else conn.getInputStream
    val text = if (stream == null) "" else new String(stream.readAllBytes(), UTF_8)
    (status, text, Option(conn.getHeaderField("Content-Type")).getOrElse(""))
  }

  private def enc(s: String) = URLEncoder.encode(s, UTF_8)

  private def solutions(json: String): Seq[Map[String, RdfTerm]] =
    (Results.readJson(json): @unchecked) match {
      case Results.ReadSolutions(_, rws) => rws
    }
  private def queryUrl(q: String, extra: String = "") =
    s"$base/repositories/default/query?query=${enc(q)}$extra"

  test("POST /data loads turtle; 204; bad content type is 400") {
    val (st, _, _) = http("POST", s"$base/repositories/default/data",
      contentType = "text/turtle",
      body = """@prefix ex: <http://ex.org/> .
               |ex:a ex:name "alice" ; ex:age 30 .
               |ex:b ex:name "bob" .
               |""".stripMargin)
    assert(st == 204)
    val (bad, msg, _) = http("POST", s"$base/repositories/default/data",
      contentType = "application/vnd.unknown", body = "x")
    assert(bad == 400 && msg.contains("Invalid content type"))
  }

  test("POST /data loads n-quads into a named graph") {
    val (st, _, _) = http("POST", s"$base/repositories/default/data",
      contentType = "application/n-quads",
      body = "<http://ex.org/g1s> <http://ex.org/p> \"in-g1\" <http://ex.org/g1> .\n")
    assert(st == 204)
  }

  test("POST /data twice adds no duplicate quads, in memory and logged") {
    val nt = "<http://ex.org/dup> <http://ex.org/p> \"once\" .\n"
    for (s <- Seq(SparqlServer.start(spark, host = "127.0.0.1"),
        SparqlServer.start(spark, host = "127.0.0.1",
          logDir = Some(java.nio.file.Files.createTempDirectory("graft_data_dup").toString)))) {
      try {
        (1 to 2).foreach { _ =>
          val (st, _, _) = http("POST", s"http://127.0.0.1:${s.boundPort}/repositories/default/data",
            contentType = "application/n-triples", body = nt)
          assert(st == 204)
        }
        assert(s.storeQuads.count() == 1)
      } finally s.stop()
    }
  }

  test("SELECT defaults to sparql-results+json and is readable") {
    val (st, bodyText, ct) = http("GET",
      queryUrl("SELECT ?n WHERE { ?s <http://ex.org/name> ?n } ORDER BY ?n"))
    assert(st == 200 && ct.startsWith("application/sparql-results+json"))
    val Results.ReadSolutions(vars, rws) = Results.readJson(bodyText): @unchecked
    assert(vars == Seq("n"))
    assert(rws.map(_("n")).collect { case Lit(v, _, _) => v } == Seq("alice", "bob"))
  }

  test("content negotiation: q-weighted accept picks xml; csv and tsv work") {
    val q = "SELECT ?n WHERE { ?s <http://ex.org/name> ?n } ORDER BY ?n"
    val (_, xml, ctXml) = http("GET", queryUrl(q),
      accept = "text/html;q=0.9, application/sparql-results+xml;q=0.8, text/csv;q=0.1")
    assert(ctXml.startsWith("application/sparql-results+xml") && xml.contains("<sparql"))
    val (_, csv, ctCsv) = http("GET", queryUrl(q), accept = "text/csv")
    assert(ctCsv.startsWith("text/csv") && csv.linesIterator.toSeq == Seq("n", "alice", "bob"))
    val (_, tsv, _) = http("GET", queryUrl(q), accept = "text/tsv")
    assert(tsv.linesIterator.toSeq == Seq("?n", "\"alice\"", "\"bob\""))
    val (na, _, _) = http("GET", queryUrl(q), accept = "image/png")
    assert(na == 406)
  }

  test("ASK returns boolean json / xml") {
    val (_, yes, _) = http("GET", queryUrl("ASK { ?s <http://ex.org/name> \"alice\" }"))
    assert(yes.contains("\"boolean\":true"))
    val (_, no, _) = http("GET", queryUrl("ASK { ?s <http://ex.org/name> \"nobody\" }"),
      accept = "application/sparql-results+xml")
    assert(no.contains("<boolean>false</boolean>"))
  }

  test("CONSTRUCT negotiates RDF formats; default n-quads") {
    val q = "CONSTRUCT { ?s <http://ex.org/n> ?n } WHERE { ?s <http://ex.org/name> ?n }"
    val (_, nq, ctNq) = http("GET", queryUrl(q))
    assert(ctNq.startsWith("application/n-quads"))
    assert(nq.linesIterator.toSeq.sorted == Seq(
      "<http://ex.org/a> <http://ex.org/n> \"alice\" .",
      "<http://ex.org/b> <http://ex.org/n> \"bob\" ."))
    val (_, ttl, ctT) = http("GET", queryUrl(q), accept = "text/turtle")
    assert(ctT.startsWith("text/turtle") && ttl.contains("\"alice\""))
    // round-trip: our own turtle reader parses the response
    val tmp = java.nio.file.Files.createTempFile("srv_ttl", ".ttl")
    java.nio.file.Files.write(tmp, ttl.getBytes(UTF_8))
    assert(graft.sources.Turtle.read(spark, tmp.toString).count() == 2)
  }

  test("protocol dataset parameters re-scope the query") {
    // default store: g1 data invisible to the default graph
    val (_, none, _) = http("GET",
      queryUrl("SELECT ?o WHERE { ?s <http://ex.org/p> ?o }"))
    assert(solutions(none).isEmpty)
    // using-graph-uri promotes g1 into the default graph
    val (_, scoped, _) = http("GET",
      queryUrl("SELECT ?o WHERE { ?s <http://ex.org/p> ?o }",
        s"&using-graph-uri=${enc("http://ex.org/g1")}"))
    assert(solutions(scoped).size == 1)
    // union default graph sees everything
    val (_, union, _) = http("GET",
      queryUrl("SELECT ?o WHERE { ?s <http://ex.org/p> ?o }", "&using-union-graph=true"))
    assert(solutions(union).size == 1)
  }

  test("union + explicit graph scoping is rejected with 400") {
    val (st, msg, _) = http("GET",
      queryUrl("SELECT ?o WHERE { ?s <http://ex.org/p> ?o }",
        s"&using-union-graph=true&using-graph-uri=${enc("http://ex.org/g1")}"))
    assert(st == 400 && msg.contains("using-union-graph"))
  }

  test("client using-union-graph=false overrides a union-default-graph server") {
    val s2 = SparqlServer.start(spark, server.storeQuads, unionDefaultGraph = true)
    try {
      val b2 = s"http://127.0.0.1:${s2.boundPort}/repositories/default/query"
      def url(extra: String) =
        s"$b2?query=${enc("SELECT ?o WHERE { ?s <http://ex.org/p> ?o }")}$extra"
      // server flag on: named-graph data visible by default
      val (_, on, _) = http("GET", url(""))
      assert(solutions(on).size == 1)
      // explicit client opt-out wins over the server flag
      val (_, off, _) = http("GET", url("&using-union-graph=false"))
      assert(solutions(off).isEmpty)
    } finally s2.stop()
  }

  test("host binding honours a loopback request") {
    val s3 = SparqlServer.start(spark, host = "127.0.0.1")
    try assert(s3.boundPort > 0) finally s3.stop()
  }

  test("no query param returns the sd: service description") {
    val (st, body, ct) = http("GET", s"$base/repositories/default/query")
    assert(st == 200 && ct.startsWith("application/n-quads"))
    assert(body.contains("sparql-service-description#Service"))
    assert(body.contains("SPARQL11Query"))
    val (_, ttl, ctT) = http("GET", s"$base/repositories/default/query", accept = "text/turtle")
    assert(ctT.startsWith("text/turtle") && ttl.contains("sparql-service-description#"))
  }

  test("parse errors surface as 400, wrong method as 405") {
    val (st, _, _) = http("GET", queryUrl("SELECT ?x WHERE { this is not sparql"))
    assert(st == 400)
    val (m1, _, _) = http("POST", s"$base/repositories/default/query")
    assert(m1 == 405)
    val (m2, _, _) = http("GET", s"$base/repositories/default/data")
    assert(m2 == 405)
  }

  /** Janino "failed to compile" events (interpreted fallbacks) logged by
    * Spark's CodeGenerator while `f` runs. */
  private def compileFailures(f: => Unit): Long = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
    val name = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
    val failures = new java.util.concurrent.atomic.AtomicLong
    val appender = new AbstractAppender("codegen-failures", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (Option(e.getMessage).exists(_.getFormattedMessage.toLowerCase.contains("failed to compile")))
          failures.incrementAndGet()
    }
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    appender.start()
    val lc = new LoggerConfig(name, Level.WARN, false)
    lc.addAppender(appender, Level.WARN, null)
    ctx.getConfiguration.addLogger(name, lc)
    ctx.updateLoggers()
    try f finally {
      ctx.getConfiguration.removeLogger(name)
      ctx.updateLoggers()
      appender.stop()
    }
    failures.get
  }

  test("a 12-variable SELECT with control characters renders without codegen fallbacks") {
    import graft.model._
    val s = Iri("http://ex.org/wide")
    val c0 = (0 until 32).map(_.toChar).mkString
    val objs: Seq[RdfTerm] = Seq(Iri("http://ex.org/o?a=1&b=2"), BNode("b1"), Lit(c0, Xsd.string, None),
      Lit("say \"hi\" \\ <&>", Xsd.string, None), Lit("42", Xsd.integer, None),
      Lit("chat\t\r\n", Rdf.langString, Some("fr")), Lit("😀 𝄞", Xsd.string, None),
      Lit("x<y", "http://ex.org/dt?a=1&b=2", None), Lit("a,b", Xsd.string, None),
      Lit("1.5", Xsd.decimal, None), Lit("", Xsd.string, None), Iri("http://ex.org/é"))
    val vars = objs.indices.map(i => f"v$i%02d")
    val wide = QuadStore.empty(spark).insert(objs.zipWithIndex.map { case (o, i) =>
      RdfQuad(None, s, Iri(s"http://ex.org/p$i"), o)
    }).quads
    val s4 = SparqlServer.start(spark, wide)
    try {
      val q = s"SELECT ${vars.map("?" + _).mkString(" ")} WHERE { " +
        vars.zipWithIndex.map { case (v, i) => s"<${s.value}> <http://ex.org/p$i> ?$v ." }.mkString(" ") + " }"
      val url = s"http://127.0.0.1:${s4.boundPort}/repositories/default/query?query=${enc(q)}"
      val bodies = scala.collection.mutable.Map.empty[String, String]
      val failures = compileFailures {
        Seq("application/sparql-results+json", "application/sparql-results+xml", "text/csv", "text/tsv")
          .foreach { a =>
            val (st, body, _) = http("GET", url, accept = a)
            assert(st == 200, body)
            bodies(a) = body
          }
      }
      assert(failures == 0, s"$failures codegen compile failures")
      val want = Seq(vars.zip(objs).toMap)
      assert(solutions(bodies("application/sparql-results+json")) == want)
      val Results.ReadSolutions(_, tsvRows) = Results.readTsv(bodies("text/tsv")): @unchecked
      assert(tsvRows == want)
      // XML 1.0 cannot carry most C0 controls: the SRX stream stops short of
      // its tail instead of passing for a complete document
      assert(!bodies("application/sparql-results+xml").contains("</sparql>"))
    } finally s4.stop()
  }
}
