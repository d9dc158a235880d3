package perfbench

import java.math.MathContext
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Duration
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.Results
import graft.model.{BNode, Iri, Lit, RdfTerm, Xsd}
import graft.sources.NTriples

/** A SPARQL-protocol client for one `SparqlServer`. */
final class Http(port: Int) {
  private val base = s"http://127.0.0.1:$port/repositories/default"
  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10)).build()

  /** GET a query; SELECT results as SPARQL-results JSON, graphs as N-Quads. */
  def query(q: String): HttpResponse[String] = {
    val accept = if (Check.isGraphQuery(q)) "application/n-quads" else "application/sparql-results+json"
    val req = HttpRequest.newBuilder(URI.create(s"$base/query?query=" + java.net.URLEncoder.encode(q, UTF_8)))
      .header("Accept", accept).timeout(Duration.ofSeconds(120)).GET().build()
    client.send(req, HttpResponse.BodyHandlers.ofString(UTF_8))
  }

  def update(u: String): HttpResponse[String] = {
    val req = HttpRequest.newBuilder(URI.create(s"$base/update"))
      .header("Content-Type", "application/sparql-update").timeout(Duration.ofSeconds(120))
      .POST(HttpRequest.BodyPublishers.ofString(u, UTF_8)).build()
    client.send(req, HttpResponse.BodyHandlers.ofString(UTF_8))
  }
}

/** Canonical forms of query answers, so two evaluations can be compared as multisets. */
object Check {
  def isGraphQuery(q: String): Boolean = q.linesIterator.exists(l => l.trim.matches("(?i)^(CONSTRUCT|DESCRIBE)\\b.*"))

  private val Numeric = Set(Xsd.float, Xsd.double, Xsd.decimal)

  /** Floating-point aggregates may differ in the last bits between plans that sum in
    * another order, so numeric literals compare at 9 significant digits. */
  private def term(t: RdfTerm): String = t match {
    case Iri(v) => s"<$v>"
    case BNode(_) => "_:b"
    case Lit(v, dt, lang) if Numeric.contains(dt) && lang.isEmpty =>
      try s"${new java.math.BigDecimal(v.trim).round(new MathContext(9)).stripTrailingZeros.toPlainString}^^num"
      catch { case _: NumberFormatException => s"\"$v\"^^<$dt>" }
    case Lit(v, dt, lang) => s"\"$v\"^^<$dt>@${lang.getOrElse("")}"
  }

  private def rows(r: Results.ReadResult): Seq[String] = r match {
    case Results.ReadBoolean(b) => Seq(b.toString)
    case Results.ReadSolutions(vars, sols) =>
      sols.map(m => vars.map(v => v + "=" + m.get(v).map(term).getOrElse("")).mkString(" ")).sorted
  }

  /** Solutions of a SPARQL-results JSON document. */
  def fromJson(body: String): Seq[String] = rows(Results.readJson(body))

  /** A CONSTRUCT/DESCRIBE answer (subject, predicate, object) as N-Quads lines in
    * the default graph, as the server writes it. */
  def nquadLines(df: DataFrame): DataFrame =
    NTriples.toNQuadLines(df.withColumn("graph", lit(null).cast(graft.encoding.TermCols.schema))
      .select("graph", "subject", "predicate", "object"))

  /** A result frame: solutions for SELECT, distinct N-Quads lines for graphs. */
  def fromFrame(df: DataFrame, graph: Boolean): Seq[String] =
    if (graph) nquadLines(df).collect().map(_.getString(0).trim).distinct.sorted.toSeq
    else fromJson(Results.toJson(df))

  /** Rows already collected from `df`, without running its plan again. */
  def fromRows(df: DataFrame, rows: Array[org.apache.spark.sql.Row]): Seq[String] =
    fromJson(Results.toJson(df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), df.schema)))

  def fromNQuads(body: String): Seq[String] =
    body.linesIterator.map(_.trim).filter(_.nonEmpty).toSeq.distinct.sorted

  /** None when equal, else a short description of the difference. */
  def diff(got: Seq[String], want: Seq[String]): Option[String] =
    if (got == want) None
    else {
      val extra = got.diff(want).take(2)
      val missing = want.diff(got).take(2)
      Some(s"${got.size} rows vs ${want.size} expected; extra ${extra.mkString(" | ")}; missing ${missing.mkString(" | ")}")
    }
}
