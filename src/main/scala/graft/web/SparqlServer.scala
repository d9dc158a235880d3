package graft.web

import java.io.OutputStream
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.QuadStore
import graft.engine.{Graft, Results}
import graft.sources.{NTriples, RdfWriters}

/**
 * SPARQL-protocol HTTP endpoint — the Spark counterpart of the reference's
 * `lib/web` axum server (/root/reference/lib/web/src/repositories/mod.rs:13-17):
 *
 *   GET  /repositories/default/query   SPARQL query; no/empty `query` param
 *                                      returns the sd: service description
 *                                      (service_description.rs:72-149)
 *   POST /repositories/default/data    load RDF into the store, format from
 *                                      Content-Type (data.rs:13-45)
 *
 * Content negotiation mirrors content_negotiation.rs: query results negotiate
 * among sparql-results+{json,xml}, csv, tsv (default json); CONSTRUCT /
 * DESCRIBE / service-description responses negotiate among the RDF formats
 * (default n-quads). Protocol dataset parameters follow evaluate.rs:24-44:
 * `using-union-graph` makes the default graph the union of all graphs;
 * `using-graph-uri` / `using-named-graph-uri` re-scope the dataset.
 *
 * Built on the JDK's com.sun.net.httpserver — no extra dependencies; query
 * evaluation and parsing reuse the engine's distributed paths, and responses
 * stream the query's own rows, rendered on the driver by the plain-Scala
 * result and N-Triples writers.
 */
final class SparqlServer private (spark: SparkSession, initial: DataFrame, port: Int,
                                  unionDefaultGraph: Boolean, host: String,
                                  logDir: Option[String]) {

  /** Durable mode: the store lives in an [[graft.UpdateLog]] directory —
    * mutations append to the write-ahead log and survive a restart. An
    * existing log dir wins over `initial`; a fresh one is initialised from
    * it. Mutating endpoints apply the SAME request text in memory that
    * they append, so the in-memory snapshot and a replay agree exactly. */
  private val logged: Option[String] = logDir.map { dir =>
    if (!Files.isDirectory(Paths.get(dir).resolve("base")))
      graft.UpdateLog.init(if (initial != null) QuadStore(initial) else QuadStore.empty(spark), dir)
    dir
  }

  /** The current snapshot: quads, registered graphs and plan-growth weight.
    * Mutations swap it under `synchronized`; queries read it once. */
  @volatile private var store: QuadStore = logged match {
    case Some(dir) => graft.UpdateLog.load(spark, dir).cutLineage()
    case None if initial != null => QuadStore(initial)
    case None => QuadStore.empty(spark)
  }

  private val server = HttpServer.create(new InetSocketAddress(host, port), 0)
  server.createContext("/repositories/default/query", (ex: HttpExchange) => handleSafe(ex, handleQuery))
  server.createContext("/repositories/default/data", (ex: HttpExchange) => handleSafe(ex, handleData))
  server.createContext("/repositories/default/update", (ex: HttpExchange) => handleSafe(ex, handleUpdate))
  // concurrent request handling (the reference's axum layer is concurrent;
  // SparkSession actions are thread-safe, so parallel queries just become
  // parallel jobs). Daemon threads: the server must not pin the JVM.
  // Elastic bounded pool (r5 ADVICE): a chunked stream holds its thread for
  // the response's full duration, so a FIXED pool of 8 let 8 slow readers
  // starve every endpoint. Core 8, grow to 64 under load, idle threads
  // reaped after 60 s; past 64 concurrent streams new connections fail fast
  // (AbortPolicy → connection reset) instead of queueing behind stalled
  // consumers.
  private val pool = new java.util.concurrent.ThreadPoolExecutor(
    8, 64, 60L, java.util.concurrent.TimeUnit.SECONDS,
    new java.util.concurrent.SynchronousQueue[Runnable](), r => {
      val t = new Thread(r, "sparql-server"); t.setDaemon(true); t
    })
  server.setExecutor(pool)
  server.start()

  /** The bound port (useful when constructed with port 0). */
  def boundPort: Int = server.getAddress.getPort
  def stop(): Unit = { server.stop(0); pool.shutdown() }
  /** Current store contents (for tests / embedding). */
  def storeQuads: DataFrame = store.quads

  // ------------------------------------------------------------------ routing

  private def handleSafe(ex: HttpExchange, h: HttpExchange => Unit): Unit =
    try h(ex)
    catch {
      case e: StreamAborted =>
        // headers (200) already sent: a status line cannot be un-sent, so
        // log the real failure instead of masking it with a second
        // sendResponseHeaders ("headers already sent") — the client sees a
        // truncated chunked body (JSON/XML are detectably malformed)
        System.err.println(s"[sparql-server] stream aborted mid-response: ${e.getCause}")
      case e: BadRequest => respond(ex, 400, "text/plain", e.getMessage.getBytes(UTF_8))
      case e: NotAcceptable => respond(ex, 406, "text/plain", e.getMessage.getBytes(UTF_8))
      case e: IllegalArgumentException => // parse / validation errors (data.rs maps these to 400)
        respond(ex, 400, "text/plain", String.valueOf(e.getMessage).getBytes(UTF_8))
      case e: Throwable => respond(ex, 500, "text/plain",
        s"${e.getClass.getSimpleName}: ${e.getMessage}".getBytes(UTF_8))
    } finally ex.close()

  private final class BadRequest(msg: String) extends RuntimeException(msg)
  private final class NotAcceptable(msg: String) extends RuntimeException(msg)
  private final class StreamAborted(cause: Throwable) extends RuntimeException(cause)

  /** Run a streaming body after the 200 header went out: failures wrap in
    * [[StreamAborted]] so handleSafe logs instead of double-responding. */
  private def streamed(body: => Unit): Unit =
    try body catch { case e: Throwable => throw new StreamAborted(e) }

  // ------------------------------------------------------------------- /query

  private def handleQuery(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "GET")
      return respond(ex, 405, "text/plain", "only GET is supported".getBytes(UTF_8))
    val params = parseQueryParams(Option(ex.getRequestURI.getRawQuery).getOrElse(""))
    val accept = Option(ex.getRequestHeaders.getFirst("Accept"))
    val queryText = params.get("query").flatMap(_.headOption).filter(_.nonEmpty)

    queryText match {
      case None =>
        val (mt, fmt) = negotiate(accept, RdfFormats, "application/n-quads")
        respondRdfStreaming(ex, mt, serviceDescription(unionParam(params)), fmt)
      case Some(q) =>
        val scoped = datasetView(params)
        graft.sparql.SparqlParser.parse(q) match {
          case _: graft.sparql.Algebra.SelectQuery =>
            val (mt, fmt) = negotiate(accept, ResultFormats, "application/sparql-results+json")
            val df = Graft(scoped).select(q)
            respondResultsStreaming(ex, mt, df, fmt)
          case _: graft.sparql.Algebra.AskQuery =>
            val (mt, fmt) = negotiate(accept, ResultFormats, "application/sparql-results+json")
            val b = Graft(scoped).askBoolean(q)
            val body = fmt match {
              case "json" => Results.booleanJson(b)
              case "xml" => Results.booleanXml(b)
              case _ => b.toString + "\n"
            }
            respond(ex, 200, mt, body.getBytes(UTF_8))
          case _ => // CONSTRUCT / DESCRIBE → RDF triples
            val (mt, fmt) = negotiate(accept, RdfFormats, "application/n-quads")
            val triples = Graft(scoped).query(q)
            val asQuads = triples.withColumn("graph", lit(null).cast(graft.encoding.TermCols.schema))
              .select("graph", "subject", "predicate", "object")
            respondRdfStreaming(ex, mt, asQuads, fmt)
        }
    }
  }

  /** Client `using-union-graph` wins over the server's
    * --union-default-graph flag (evaluate.rs `unwrap_or` semantics): a bare
    * or "true" value turns union on, any other value turns it off, absence
    * falls back to the server default. */
  private def unionParam(params: Map[String, Seq[String]]): Boolean =
    params.get("using-union-graph").flatMap(_.headOption)
      .map(v => v.isEmpty || v == "true").getOrElse(unionDefaultGraph)

  /** Apply SPARQL-protocol dataset parameters (evaluate.rs:24-44): the quads
    * view the query runs against, with `graph IS NULL` = default graph. */
  private def datasetView(params: Map[String, Seq[String]]): DataFrame = {
    val union = unionParam(params)
    val defaults = params.getOrElse("using-graph-uri", Nil)
    val named = params.getOrElse("using-named-graph-uri", Nil)
    val quads = store.quads
    // the reference rejects union + explicit graph scoping (evaluate.rs):
    // the two parameterisations contradict each other
    if (params.contains("using-union-graph") && union && (defaults.nonEmpty || named.nonEmpty))
      throw new BadRequest(
        "using-union-graph cannot be combined with using-graph-uri or using-named-graph-uri")
    if (union) {
      // default graph := union of every graph; named graphs stay visible
      quads.select(lit(null).cast(graft.encoding.TermCols.schema).as("graph"),
          col("subject"), col("predicate"), col("object"))
        .unionAll(quads.filter(col("graph").isNotNull))
    } else if (defaults.nonEmpty || named.nonEmpty) {
      val defView = quads
        .filter(col("graph.t") === graft.model.TermType.Iri && col("graph.v").isin(defaults: _*))
        .select(lit(null).cast(graft.encoding.TermCols.schema).as("graph"),
          col("subject"), col("predicate"), col("object"))
      val namedView = quads
        .filter(col("graph.t") === graft.model.TermType.Iri && col("graph.v").isin(named: _*))
      defView.unionAll(namedView)
    } else quads
  }

  // -------------------------------------------------------------------- /data

  private def handleData(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "POST")
      return respond(ex, 405, "text/plain", "only POST is supported".getBytes(UTF_8))
    val ct = Option(ex.getRequestHeaders.getFirst("Content-Type"))
      .map(_.takeWhile(_ != ';').trim.toLowerCase).getOrElse("")
    val ext = ContentTypeExt.getOrElse(ct, throw new BadRequest(s"Invalid content type: $ct"))
    val body = ex.getRequestBody.readAllBytes()
    // ingestion is a LOAD request in both modes, so an upload has LOAD's set
    // semantics and a logged store's replay runs the identical code path. A
    // logged store keeps the document under the log dir for replay; in
    // memory it is a temp file, gone once LOAD has materialised it.
    val doc = logged match {
      case Some(dir) =>
        val docs = Paths.get(dir).resolve("docs")
        Files.createDirectories(docs)
        docs.resolve(java.util.UUID.randomUUID().toString + ext)
      case None => Files.createTempFile("graft_post", ext)
    }
    try {
      Files.write(doc, body)
      // LOAD materialises the parsed document inside the update, so a
      // malformed upload fails here — before anything is appended or published
      mutate(s"LOAD <file://${doc.toAbsolutePath}>")
    } finally if (logged.isEmpty) Files.deleteIfExists(doc)
    respond(ex, 204, null, Array.emptyByteArray)
  }

  /** Apply one update request to the current snapshot and publish the
    * result, atomically per request. The snapshot's plan-growth weight
    * carries across requests, so lineage is cut by accumulated weight, not
    * per request: at 100 TB a full-store materialisation per protocol
    * update is exactly the cost the write-ahead log exists to avoid. */
  private def mutate(text: String, usingDefault: Seq[graft.model.RdfTerm] = Nil,
                     usingNamed: Seq[graft.model.RdfTerm] = Nil): Unit = synchronized {
    // parse/validation errors and every eager op failure surface here,
    // before the log append
    val next = store.update(text, usingDefault, usingNamed)
    // durability BEFORE publication: if the append fails (disk full), the
    // client gets its 500 while memory still matches the log — the two can
    // never silently diverge
    logged.foreach(graft.UpdateLog.append(_, text))
    store = next
  }

  // ------------------------------------------------------------------ /update

  /** SPARQL 1.1 Protocol update endpoint: POST with an
    * `application/sparql-update` body, or form-encoded `update=`.
    * Applied atomically per request through [[mutate]]; lineage is cut by
    * the snapshot's accumulated plan-growth weight, so a long sequence of
    * updates does not compound into one unbounded Catalyst plan. */
  private def handleUpdate(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "POST")
      return respond(ex, 405, "text/plain", "only POST is supported".getBytes(UTF_8))
    val ct = Option(ex.getRequestHeaders.getFirst("Content-Type"))
      .map(_.takeWhile(_ != ';').trim.toLowerCase).getOrElse("")
    val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
    // protocol dataset params live in the URL query string for direct
    // bodies and in the form fields for form-encoded ones (§2.2.3)
    val urlParams = parseQueryParams(Option(ex.getRequestURI.getRawQuery).getOrElse(""))
    val (text, params) = ct match {
      case "application/sparql-update" => (body, urlParams)
      case "application/x-www-form-urlencoded" =>
        val form = parseQueryParams(body)
        (form.get("update").flatMap(_.headOption)
          .getOrElse(throw new BadRequest("missing update parameter")), form ++ urlParams)
      case other => throw new BadRequest(s"Invalid content type for update: $other")
    }
    val usingDefault = params.getOrElse("using-graph-uri", Nil).map(graft.model.Iri(_))
    val usingNamed = params.getOrElse("using-named-graph-uri", Nil).map(graft.model.Iri(_))
    // a logged store replays REQUEST TEXT — protocol dataset parameters
    // live outside the text and would be lost on replay, silently changing
    // the replayed semantics. Splice them into the text as USING / USING
    // NAMED clauses (spec-equivalent — see UpdateDatasetRewrite), so the
    // live apply and any future replay execute the IDENTICAL request.
    val (effText, effDefault, effNamed) =
      if (logged.isDefined && (usingDefault.nonEmpty || usingNamed.nonEmpty)) {
        // same protocol §2.2.3 error UpdateExec enforces, surfaced as a 400
        // BEFORE splicing (the rewriter assumes no op carries USING/WITH)
        graft.sparql.SparqlParser.parseUpdate(text).ops.foreach {
          case m: graft.sparql.Algebra.Modify
              if m.usingDefault.nonEmpty || m.usingNamed.nonEmpty || m.withGraph.nonEmpty =>
            throw new BadRequest(
              "using-graph-uri parameters cannot be combined with a USING or WITH clause")
          case _ =>
        }
        val spliced = graft.sparql.UpdateDatasetRewrite.spliceUsing(text, usingDefault, usingNamed)
        graft.sparql.SparqlParser.parseUpdate(spliced) // defensive: must stay parseable
        (spliced, Nil, Nil)
      } else (text, usingDefault, usingNamed)
    mutate(effText, effDefault, effNamed)
    respond(ex, 204, null, Array.emptyByteArray)
  }

  private val ContentTypeExt = Map(
    "text/turtle" -> ".ttl", "application/turtle" -> ".ttl", "application/x-turtle" -> ".ttl",
    "application/trig" -> ".trig", "text/n3" -> ".n3", "application/n3" -> ".n3",
    "application/n-triples" -> ".nt", "text/plain" -> ".nt",
    "application/n-quads" -> ".nq",
    "application/rdf+xml" -> ".rdf", "application/xml" -> ".rdf")

  // -------------------------------------------------- formats + serialisation

  /** media type → canonical format key, in server preference order
    * (content_negotiation.rs:23-37, 64-82). */
  private val RdfFormats: Seq[(String, String)] = Seq(
    "application/n-quads" -> "nquads",
    "application/n-triples" -> "ntriples",
    "text/plain" -> "ntriples",
    "text/turtle" -> "turtle",
    "application/turtle" -> "turtle",
    "application/trig" -> "trig",
    "text/n3" -> "turtle",
    "application/n3" -> "turtle",
    "application/rdf+xml" -> "rdfxml",
    "application/xml" -> "rdfxml")
  private val ResultFormats: Seq[(String, String)] = Seq(
    "application/sparql-results+json" -> "json",
    "application/json" -> "json",
    "application/sparql-results+xml" -> "xml",
    "application/xml" -> "xml",
    "text/csv" -> "csv",
    "text/tsv" -> "tsv",
    "application/tab-separated-values" -> "tsv")

  /** Accept-header negotiation: q-weighted, wildcard-aware; no header →
    * default (content_negotiation.rs:102-119). */
  private def negotiate(accept: Option[String], available: Seq[(String, String)],
                        default: String): (String, String) = {
    val table = available.toMap
    accept.map(_.trim).filter(_.nonEmpty) match {
      case None => (default, table(default))
      case Some(h) =>
        val ranges = h.split(',').toSeq.map(_.trim).filter(_.nonEmpty).map { part =>
          val bits = part.split(';').map(_.trim)
          val q = bits.drop(1).collectFirst {
            case p if p.startsWith("q=") => try p.drop(2).toDouble catch { case _: Throwable => 0.0 }
          }.getOrElse(1.0)
          (bits.head.toLowerCase, q)
        }.sortBy(-_._2)
        val chosen = ranges.iterator.flatMap { case (range, q) =>
          if (q <= 0) Iterator.empty
          else if (range == "*/*") Iterator.single(default)
          else if (range.endsWith("/*")) {
            val major = range.dropRight(1) // e.g. "text/"
            available.map(_._1).find(_.startsWith(major)).iterator
          } else available.map(_._1).find(_ == range).iterator
        }.nextOption()
        chosen match {
          case Some(mt) => (mt, table(mt))
          case None => throw new NotAcceptable(
            s"The accept header does not provide any accepted format (available: ${available.map(_._1).distinct.mkString(", ")}).")
        }
    }
  }

  /** Stream a SELECT result in `fmt`. CSV/TSV have no tail, so a truncated
    * stream ends in a marker line instead of passing for a complete smaller
    * result (JSON/XML are detectably malformed without their tail). */
  private def respondResultsStreaming(ex: HttpExchange, contentType: String,
                                      df: DataFrame, fmt: String): Unit = {
    val layout = Results.layout(fmt, df.columns.toSeq)
    val marker = if (layout.tail.isEmpty) layout.end + "#ERROR query execution failed mid-stream" else ""
    stream(ex, contentType + ";charset=utf-8", df, layout, marker)
  }

  /** The rows and line layout of a quads frame in the negotiated RDF format:
    * N-Quads/N-Triples render the quad rows themselves; Turtle, TriG and
    * RDF/XML group per subject in Spark and yield one rendered line per row. */
  private def rdfLayout(qs: DataFrame, fmt: String): (DataFrame, Results.Layout) = {
    val text = (r: Row) => r.getString(0)
    val (rows, line) = fmt match {
      case "nquads" => (qs, NTriples.nquadLine(qs.schema))
      case "ntriples" => (qs.filter(col("graph").isNull), NTriples.nquadLine(qs.schema))
      case "turtle" => (RdfWriters.turtleLines(qs.filter(col("graph").isNull).drop("graph")), text)
      case "trig" => (RdfWriters.trigLines(qs), text)
      case "rdfxml" => (RdfWriters.rdfXmlLines(qs.filter(col("graph").isNull).drop("graph")), text)
    }
    (rows, Results.Layout("", line, "", "\n", ""))
  }

  /** Stream an RDF response; the marker line after a mid-stream failure is
    * a SYNTAX ERROR in every served format ('#' would be a harmless comment
    * in the N-family/Turtle/TriG and let strict parsers ingest the truncated
    * graph cleanly). */
  private def respondRdfStreaming(ex: HttpExchange, contentType: String,
                                  qs: DataFrame, fmt: String): Unit = {
    val (rows, layout) = rdfLayout(qs, fmt)
    stream(ex, contentType, rows, layout, "\nERROR! serialisation failed mid-stream")
  }

  /** Chunked response of `rows` in `layout`: rows are pulled partition by
    * partition (`toLocalIterator`) and rendered on the driver, so a big
    * result never materialises there — driver memory is one partition of
    * rows, and no projection is added to the query plan. Planning and the
    * FIRST partition run BEFORE the status line goes out, so analysis,
    * optimizer and early-execution failures still become a clean 500
    * instead of a truncated 200 body; only a failure in a later partition
    * truncates mid-stream, followed by `marker`. */
  private def stream(ex: HttpExchange, contentType: String, rows: DataFrame,
                     layout: Results.Layout, marker: String): Unit = {
    val it = rows.toLocalIterator()
    it.hasNext
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(200, 0) // length 0 → chunked
    streamed {
      val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(ex.getResponseBody, UTF_8), 1 << 16)
      try layout.write(w, it)
      catch {
        case e: Throwable =>
          w.write(marker)
          w.flush()
          throw e
      }
      w.flush()
    }
  }

  /** The reference's sd: service description triples
    * (service_description.rs:72-149), as a quads DataFrame so responses go
    * through the same RDF serialisation as CONSTRUCT. */
  private def serviceDescription(unionDefaultGraph: Boolean): DataFrame = {
    val sd = "http://www.w3.org/ns/sparql-service-description#"
    val root = "sd_service_root"
    def iri(v: String) = graft.model.Iri(v)
    val triples = Seq.newBuilder[(String, graft.model.RdfTerm)]
    triples += (("http://www.w3.org/1999/02/22-rdf-syntax-ns#type", iri(sd + "Service")))
    triples += ((sd + "supportedLanguage", iri(sd + "SPARQL10Query")))
    triples += ((sd + "supportedLanguage", iri(sd + "SPARQL11Query")))
    Seq("SPARQL_Results_JSON", "SPARQL_Results_XML", "SPARQL_Results_CSV", "SPARQL_Results_TSV")
      .foreach(f => triples += ((sd + "resultFormat", iri("http://www.w3.org/ns/formats/" + f))))
    Seq("N-Triples", "N-Quads", "Turtle", "TriG", "N3", "RDF_XML")
      .foreach(f => triples += ((sd + "resultFormat", iri("http://www.w3.org/ns/formats/" + f))))
    if (unionDefaultGraph) triples += ((sd + "feature", iri(sd + "UnionDefaultGraph")))
    triples += ((sd + "defaultEntailmentRegime", iri("http://www.w3.org/ns/entailment/Simple")))
    val nt = triples.result().map { case (p, o) =>
      val oStr = o match { case graft.model.Iri(v) => s"<$v>"; case other => other.toString }
      s"_:$root <$p> $oStr ."
    }.mkString("\n")
    NTriples.fromString(spark, nt)
      .withColumn("graph", lit(null).cast(graft.encoding.TermCols.schema))
      .select("graph", "subject", "predicate", "object")
  }

  // -------------------------------------------------------------------- misc

  private def parseQueryParams(raw: String): Map[String, Seq[String]] =
    raw.split('&').toSeq.filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      val (k, v) = if (i < 0) (kv, "") else (kv.take(i), kv.drop(i + 1))
      (java.net.URLDecoder.decode(k, UTF_8), java.net.URLDecoder.decode(v, UTF_8))
    }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap

  private def respond(ex: HttpExchange, status: Int, contentType: String, body: Array[Byte]): Unit = {
    if (contentType != null)
      ex.getResponseHeaders.set("Content-Type",
        if (contentType.startsWith("text/") || contentType.endsWith("json") || contentType.endsWith("xml"))
          contentType + ";charset=utf-8"
        else contentType)
    ex.sendResponseHeaders(status, if (body.isEmpty) -1 else body.length.toLong)
    if (body.nonEmpty) {
      val os: OutputStream = ex.getResponseBody
      os.write(body); os.flush()
    }
  }
}

object SparqlServer {
  /** Start a server on `port` (0 = ephemeral) over an initial quads frame
    * (null/empty = empty store). `unionDefaultGraph` makes every query see
    * the union of all graphs as its default graph (the reference CLI's
    * --union-default-graph). */
  def start(spark: SparkSession, quads: DataFrame = null, port: Int = 0,
            unionDefaultGraph: Boolean = false, host: String = "0.0.0.0",
            logDir: Option[String] = None): SparqlServer =
    new SparqlServer(spark, quads, port, unionDefaultGraph, host, logDir)
}
