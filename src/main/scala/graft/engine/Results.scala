package graft.engine

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import graft.model.{TermType, Xsd}
import graft.sources.NTriples

/**
 * SPARQL result serialisation — XML (SRX), JSON (SRJ), CSV, TSV — over a
 * result frame whose columns are PlainTerm structs (`t`, `v`, `dt`, `lang`;
 * see [[graft.encoding.TermCols]]). Mirrors the reference's result formats
 * (query results surface lib/execution/src/results/, format test suites
 * testsuite/tests/sparql.rs:72-92).
 *
 * Each format is one plain-Scala renderer from a result `Row` to one line
 * ([[layout]]); all escaping goes through [[jsonEscape]], [[xmlEscape]] and
 * the N-Triples term writer [[NTriples.appendTerm]]. The HTTP server pulls
 * the query's own rows with `toLocalIterator` and renders them on the driver
 * while it streams, so no projection is added to the query plan and driver
 * memory stays one partition. `to*Lines` run the same renderers in a
 * `Dataset.map` (one `value` column, `df.write.text`-ready); the `*String`
 * conveniences assemble one document for small/embedded use.
 */
object Results {

  // ---------------------------------------------------------------- escaping

  /** XML text and attribute escape: `&`, `<`, `>`, `"`, and CR as the
    * character reference `&#13;`, because every conforming XML reader
    * normalises a raw CR to LF ('>' is escaped too, so ']]>' never appears
    * raw — XML 1.0 §2.4). The other C0 controls except TAB and LF have no
    * XML 1.0 representation at all: escaping one fails loudly instead of
    * writing a document no conforming parser could read. */
  private[graft] def xmlEscape(sb: java.lang.StringBuilder, s: String): Unit = s.foreach {
    case '&' => sb.append("&amp;")
    case '<' => sb.append("&lt;")
    case '>' => sb.append("&gt;")
    case '"' => sb.append("&quot;")
    case '\r' => sb.append("&#13;")
    case c if c < ' ' && c != '\t' && c != '\n' =>
      throw new IllegalArgumentException(
        f"XML 1.0 cannot represent the control character U+${c.toInt}%04X; offending text: $s")
    case c => sb.append(c)
  }

  /** JSON string escape: quote and backslash, short escapes for \n \r \t,
    * `\u00XX` for the other C0 control characters. */
  private[graft] def jsonEscape(sb: java.lang.StringBuilder, s: String): Unit = s.foreach {
    case '"' => sb.append("\\\"")
    case '\\' => sb.append("\\\\")
    case '\n' => sb.append("\\n")
    case '\r' => sb.append("\\r")
    case '\t' => sb.append("\\t")
    case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
    case c => sb.append(c)
  }

  /** `s` through an appending escaper, as a String. */
  private[graft] def escaped(esc: (java.lang.StringBuilder, String) => Unit, s: String): String = {
    val sb = new java.lang.StringBuilder
    esc(sb, s)
    sb.toString
  }

  // ------------------------------------------------------------------ layout

  /** One solution format: the document is `head`, then every row's `line`
    * followed by `end` with `sep` between rows, then `tail`. `line` is a
    * serialisable closure, so it runs on the driver and in tasks alike. */
  final case class Layout(head: String, line: Row => String, sep: String, end: String,
                          tail: String) {
    def write(w: java.io.Writer, rows: java.util.Iterator[Row]): Unit = {
      w.write(head)
      if (rows.hasNext) w.write(line(rows.next()) + end)
      while (rows.hasNext) w.write(sep + line(rows.next()) + end)
      w.write(tail)
    }
  }

  /** The layout of `fmt` (json, xml, csv or tsv) for result variables `vars`. */
  def layout(fmt: String, vars: Seq[String]): Layout = fmt match {
    case "json" => Layout(jsonHead(vars), jsonLine(vars), ",", "", JsonTail)
    case "xml" => Layout(xmlHead(vars), xmlLine(vars), "", "\n", XmlTail)
    case "csv" => Layout(vars.mkString(",") + "\r\n", csvLine(vars.size), "", "\r\n", "")
    case "tsv" => Layout(vars.map("?" + _).mkString("\t") + "\n", tsvLine(vars.size), "", "\n", "")
  }

  private def document(df: DataFrame, fmt: String): String = {
    val w = new java.io.StringWriter
    layout(fmt, df.columns.toSeq).write(w, java.util.Arrays.asList(df.collect(): _*).iterator)
    w.toString
  }

  private def lines(df: DataFrame, fmt: String): DataFrame = {
    val line = layout(fmt, df.columns.toSeq).line
    df.map(line)(Encoders.STRING).toDF("value")
  }

  /** A line renderer over `n` result columns: `open`, then `cell(sb, i,
    * term)` per column with `sep` between cells, then `close`. Terms are
    * PlainTerm structs in TermCols.schema order (t, v, dt, lang); an unbound
    * column is skipped, or left an empty cell when `keepUnbound`. */
  private def cells(n: Int, open: String, sep: String, close: String, keepUnbound: Boolean)(
      cell: (java.lang.StringBuilder, Int, Row) => Unit): Row => String = r => {
    val sb = new java.lang.StringBuilder(open)
    var first = true
    for (i <- 0 until n if keepUnbound || !r.isNullAt(i)) {
      if (!first) sb.append(sep)
      first = false
      if (!r.isNullAt(i)) cell(sb, i, r.getStruct(i))
    }
    sb.append(close).toString
  }

  /** A term's kind as both SRX and SRJ name it. */
  private def kind(t: Row): String = t.getByte(0) match {
    case TermType.Iri => "uri"
    case TermType.BlankNode => "bnode"
    case _ => "literal"
  }

  /** Datatype IRI a literal shows: none for simple and language-tagged ones
    * (and none for IRIs and blank nodes, which carry no dt). */
  private def shownDatatype(t: Row): String =
    if (!t.isNullAt(3) || t.isNullAt(2) || t.getString(2) == Xsd.string) null else t.getString(2)

  // --------------------------------------------------------------------- SRX

  /** SRX document prologue: XML declaration + head of variables. */
  def xmlHead(vars: Seq[String]): String =
    "<?xml version=\"1.0\"?>\n<sparql xmlns=\"http://www.w3.org/2005/sparql-results#\">\n<head>" +
      vars.map(v => s"""<variable name="${escaped(xmlEscape, v)}"/>""").mkString +
      "</head>\n<results>\n"

  val XmlTail: String = "</results>\n</sparql>\n"

  /** One `<result>…</result>` element per solution. */
  private def xmlLine(vars: Seq[String]): Row => String = {
    val open = vars.map(v => s"""<binding name="${escaped(xmlEscape, v)}">""").toArray
    cells(vars.size, "<result>", "", "</result>", keepUnbound = false) { (sb, i, t) =>
      sb.append(open(i)).append('<').append(kind(t))
      val dt = shownDatatype(t)
      if (!t.isNullAt(3)) sb.append(" xml:lang=\"").append(t.getString(3)).append('"')
      else if (dt != null) { sb.append(" datatype=\""); xmlEscape(sb, dt); sb.append('"') }
      sb.append('>')
      xmlEscape(sb, t.getString(1))
      sb.append("</").append(kind(t)).append("></binding>")
    }
  }

  /** One `<result>…</result>` element per solution, rendered in tasks. */
  def toXmlLines(df: DataFrame): DataFrame = lines(df, "xml")

  /** SPARQL Query Results XML (https://www.w3.org/TR/rdf-sparql-XMLres/). */
  def toXml(df: DataFrame): String = document(df, "xml")

  def booleanXml(b: Boolean): String =
    s"""<?xml version="1.0"?>\n<sparql xmlns="http://www.w3.org/2005/sparql-results#"><head/><boolean>$b</boolean></sparql>\n"""

  // --------------------------------------------------------------------- SRJ

  /** SRJ document prologue: head of variables, opening the bindings array. */
  def jsonHead(vars: Seq[String]): String =
    """{"head":{"vars":[""" + vars.map(v => "\"" + escaped(jsonEscape, v) + "\"").mkString(",") +
      """]},"results":{"bindings":["""

  val JsonTail: String = "]}}"

  /** One JSON binding object per solution (no separators). */
  private def jsonLine(vars: Seq[String]): Row => String = {
    val keys = vars.map(v => "\"" + escaped(jsonEscape, v) + "\":{\"type\":\"").toArray
    cells(vars.size, "{", ",", "}", keepUnbound = false) { (sb, i, t) =>
      sb.append(keys(i)).append(kind(t)).append("\",\"value\":\"")
      jsonEscape(sb, t.getString(1))
      sb.append('"')
      val dt = shownDatatype(t)
      if (!t.isNullAt(3)) sb.append(",\"xml:lang\":\"").append(t.getString(3)).append('"')
      else if (dt != null) { sb.append(",\"datatype\":\""); jsonEscape(sb, dt); sb.append('"') }
      sb.append('}')
    }
  }

  /** One JSON binding object per solution (no separators), rendered in
    * tasks; join with ',' between [[jsonHead]] and [[JsonTail]]. */
  def toJsonLines(df: DataFrame): DataFrame = lines(df, "json")

  /** SPARQL Query Results JSON (https://www.w3.org/TR/sparql11-results-json/). */
  def toJson(df: DataFrame): String = document(df, "json")

  def booleanJson(b: Boolean): String = s"""{"head":{},"boolean":$b}"""

  // ----------------------------------------------------------------- CSV/TSV

  /** CSV row: lexical values only, RFC 4180 quoting of fields holding a
    * comma, quote, LF or CR; unbound = empty field. */
  private def csvLine(n: Int): Row => String = cells(n, "", ",", "", keepUnbound = true) { (sb, _, t) =>
    val v = t.getString(1)
    if (v.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      sb.append('"').append(v.replace("\"", "\"\"")).append('"')
    else sb.append(v)
  }

  /** TSV row: one N-Triples-syntax term per cell (tabs and line breaks
    * escaped inside literals); unbound = empty cell. */
  private def tsvLine(n: Int): Row => String =
    cells(n, "", "\t", "", keepUnbound = true)((sb, _, t) => NTriples.appendTerm(sb, t, escapeTab = true))

  /** CSV rows (values only, RFC 4180 quoting) rendered in tasks — write with
    * `.write.text(...)`. The header row is the caller's (or use
    * [[csvString]] for a driver-side document). */
  def toCsvLines(df: DataFrame): DataFrame = lines(df, "csv")

  /** TSV rows with full term syntax (SPARQL 1.1 TSV results format). */
  def toTsvLines(df: DataFrame): DataFrame = lines(df, "tsv")

  def csvString(df: DataFrame): String = document(df, "csv")

  def tsvString(df: DataFrame): String = document(df, "tsv")

  // ------------------------------------------------------------------ readers

  /** Parsed result document: either an ASK boolean or (vars, solutions). */
  sealed trait ReadResult
  final case class ReadBoolean(value: Boolean) extends ReadResult
  final case class ReadSolutions(vars: Seq[String],
                                 rows: Seq[Map[String, graft.model.RdfTerm]]) extends ReadResult

  private def requireDistinctVars(vars: Seq[String]): Unit =
    require(vars.distinct.size == vars.size,
      s"duplicated variable names in result head: ${vars.mkString(", ")}")

  /**
   * SPARQL Results JSON reader (the sparesults counterpart of [[toJson]]).
   * Tolerates unknown keys and a head that follows the results (tree parse);
   * rejects duplicated variable names; accepts the legacy "typed-literal"
   * term type.
   */
  def readJson(text: String): ReadResult = {
    import graft.model._
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(text)
    if (root.has("boolean")) return ReadBoolean(root.get("boolean").asBoolean)
    val head = root.get("head")
    require(head != null && head.has("vars"), "missing head.vars")
    val vars = (0 until head.get("vars").size).map(head.get("vars").get(_).asText)
    requireDistinctVars(vars)
    val bindings = Option(root.get("results")).flatMap(r => Option(r.get("bindings")))
      .getOrElse(throw new IllegalArgumentException("missing results.bindings"))
    val rows = (0 until bindings.size).map { i =>
      val b = bindings.get(i)
      val names = b.fieldNames()
      var m = Map.empty[String, RdfTerm]
      while (names.hasNext) {
        val n = names.next()
        val t = b.get(n)
        val v = t.get("value").asText
        val term: RdfTerm = t.get("type").asText match {
          case "uri" => Iri(v)
          case "bnode" => BNode(v)
          case "literal" | "typed-literal" =>
            val lang = Option(t.get("xml:lang")).map(_.asText)
            val dt = Option(t.get("datatype")).map(_.asText)
            Lit(v, if (lang.isDefined) Rdf.langString else dt.getOrElse(Xsd.string), lang)
          case other => throw new IllegalArgumentException(s"unknown term type '$other'")
        }
        m += (n -> term)
      }
      m
    }
    ReadSolutions(vars, rows)
  }

  /** SPARQL Results TSV reader: header of ?vars (duplicates rejected), one
    * N-Triples-syntax term per cell, empty cell = unbound. */
  def readTsv(text: String): ReadResult = {
    import graft.model._
    val lines = text.linesIterator.toSeq
    require(lines.nonEmpty, "empty TSV results document")
    val vars = lines.head.split("\t", -1).toSeq.map { cell =>
      require(cell.startsWith("?") || cell.startsWith("$"),
        s"TSV header cell must be a variable: '$cell'")
      val v = cell.substring(1)
      require(v.nonEmpty && !v.exists(c => c.isWhitespace || c == '?' || c == '$'),
        s"invalid variable name '$cell'")
      v
    }
    requireDistinctVars(vars)
    val rows = lines.tail.filter(_.nonEmpty).map { line =>
      val cells = line.split("\t", -1).toSeq
      vars.zip(cells).collect {
        case (v, cell) if cell.nonEmpty => v -> parseTsvTerm(cell)
      }.toMap
    }
    ReadSolutions(vars, rows)
  }

  private def parseTsvTerm(cell: String): graft.model.RdfTerm = {
    import graft.model._
    val c = cell.trim
    if (c.startsWith("<") || c.startsWith("_:") || c.startsWith("\""))
      graft.sources.NTriples.parseTermString(c)
    else if (c == "true" || c == "false") Lit(c, Xsd.boolean, None)
    else if (c.matches("[+-]?\\d+")) Lit(c, Xsd.integer, None)
    else if (c.matches("[+-]?\\d*\\.\\d+")) Lit(c, Xsd.decimal, None)
    else if (c.matches("[+-]?\\d[\\d.]*[eE][+-]?\\d+")) Lit(c, Xsd.double, None)
    // anything else is not a valid Turtle-syntax term — reject, matching the
    // reference's sparesults TSV reader (a bare word is NOT a string literal)
    else throw new IllegalArgumentException(s"invalid TSV term: '$cell'")
  }
}