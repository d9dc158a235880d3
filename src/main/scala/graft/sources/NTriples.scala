package graft.sources

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.types._
import graft.encoding.TermCols
import graft.model._

/**
 * N-Triples / N-Quads reader and writer.
 *
 * The reference loads RDF through oxrdfio parsers into its quad store
 * (/root/reference/lib/rdf-fusion/src/store.rs:477-514). Line-oriented
 * N-Triples/N-Quads are embarrassingly parallel, so on Spark we parse inside
 * `mapPartitions` over `spark.read.textFile` — each input split parses
 * independently on its executor; no driver-side work, scales linearly with
 * input size.
 *
 * Output schema = the quad relation (graph | subject | predicate | object),
 * each column a PlainTerm struct, graph NULL = default graph
 * (lib/encoding/src/quad_storage_encoding.rs:26-33).
 */
object NTriples {

  val quadSchema: StructType = StructType(Seq(
    StructField("graph", TermCols.schema, nullable = true),
    StructField("subject", TermCols.schema, nullable = false),
    StructField("predicate", TermCols.schema, nullable = false),
    StructField("object", TermCols.schema, nullable = false)))

  /** Read an N-Triples (or N-Quads when `quads=true`) file into a quads DF.
    * `lenient=true` recovers line-wise (the reference's parser-recovery
    * semantics): malformed lines are dropped, and a line whose terms parse
    * but lacks the final dot is kept. */
  def read(spark: SparkSession, path: String, quads: Boolean = false,
           lenient: Boolean = false): DataFrame = {
    val lines = spark.read.textFile(path)
    val parsed = lines.rdd.mapPartitions { it =>
      if (lenient) it.flatMap(parseLineRecovering) else it.flatMap(parseLine(_))
    }
    spark.createDataFrame(parsed.map(quadRow), quadSchema)
  }

  /** Parse N-Triples/N-Quads text already on the driver (small data / tests). */
  def fromString(spark: SparkSession, text: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val rows: java.util.List[Row] =
      text.linesIterator.flatMap(parseLine(_)).map(quadRow).toList.asJava
    spark.createDataFrame(rows, quadSchema)
  }

  private[graft] def quadRow(q: RdfQuad): Row =
    Row(q.graph.map(termRow).orNull, termRow(q.subject),
      termRow(q.predicate), termRow(q.obj))

  /** A term as a PlainTerm struct row (simple literals carry dt = NULL). */
  private[graft] def termRow(t: RdfTerm): Row = t match {
    case Iri(v) => Row(TermType.Iri, v, null, null, null)
    case BNode(v) => Row(TermType.BlankNode, v, null, null, null)
    case Lit(v, dt, lang) =>
      Row(TermType.Literal, v, if (lang.isDefined) Rdf.langString else if (dt == Xsd.string) null else dt,
        lang.orNull, numOf(v, dt))
  }

  /** Pre-decoded numeric field (see TermCols.schema). */
  private[graft] def numOf(v: String, dt: String): java.lang.Double =
    if (dt != null && Xsd.numericTypes.contains(dt))
      try java.lang.Double.valueOf(v.trim.toDouble) catch { case _: NumberFormatException => null }
    else null

  /** Parse one N-Triples/N-Quads line → quad. Comments/blank lines → None.
    * Malformed lines raise (strict, like the reference's parser);
    * `requireDot=false` accepts a complete triple missing its final dot
    * (recovery semantics). */
  def parseLine(raw: String, requireDot: Boolean = true): Option[RdfQuad] = {
    val line = raw.trim
    if (line.isEmpty || line.startsWith("#")) return None
    val p = new NtParser(line)
    val s = p.term()
    if (s.isInstanceOf[Lit])
      throw new IllegalArgumentException(s"subject must be an IRI or blank node, got $s in: $line")
    val pr = p.term() match {
      case i: Iri => i
      case other => throw new IllegalArgumentException(s"predicate must be IRI, got $other in: $line")
    }
    val o = p.term()
    val g = p.optTerm()
    if (g.exists(_.isInstanceOf[Lit]))
      throw new IllegalArgumentException(s"graph label must be an IRI or blank node, got ${g.get} in: $line")
    if (requireDot) p.expectDot()
    Some(RdfQuad(g, s, pr, o))
  }

  /** Line-wise recovery (reference oxigraph-tests/parser-recovery): bad
    * lines → None; complete triples without the final dot are kept. */
  def parseLineRecovering(raw: String): Option[RdfQuad] =
    try parseLine(raw, requireDot = false)
    catch { case _: Exception => None }

  /** One term in N-Triples syntax (for TSV result cells etc.). */
  def parseTermString(s: String): RdfTerm =
    new NtParser(s.trim).term()

  /** Hand-rolled single-line scanner — no regex backtracking in the hot loop. */
  private final class NtParser(s: String) {
    private var i = 0
    private def ws(): Unit = while (i < s.length && (s(i) == ' ' || s(i) == '\t')) i += 1

    def term(): RdfTerm = {
      ws()
      optTerm().getOrElse(throw new IllegalArgumentException(s"expected term at $i in: $s"))
    }

    def optTerm(): Option[RdfTerm] = {
      ws()
      if (i >= s.length) return None
      s(i) match {
        case '<' =>
          val e = s.indexOf('>', i)
          require(e > 0, s"unterminated IRI at $i")
          val v = s.substring(i + 1, e); i = e + 1
          require(v.forall(validIriChar), s"illegal character in IRI <$v>")
          Some(Iri(unescape(v)))
        case '_' =>
          require(i + 1 < s.length && s(i + 1) == ':', s"bad bnode at $i")
          var j = i + 2
          while (j < s.length && !Character.isWhitespace(s(j))) j += 1
          val v = s.substring(i + 2, j); i = j
          require(v.nonEmpty && v.forall(c => c.isLetterOrDigit || c == '_' || c == '-' || c == '.'),
            s"illegal blank node label '_:$v'")
          Some(BNode(v))
        case '"' =>
          var j = i + 1
          val sb = new StringBuilder
          while (s(j) != '"') {
            if (s(j) == '\\') { sb.append(s(j)).append(s(j + 1)); j += 2 }
            else { sb.append(s(j)); j += 1 }
          }
          val lex = unescape(sb.result()); i = j + 1
          if (i < s.length && s(i) == '@') {
            var k = i + 1
            while (k < s.length && (s(k).isLetterOrDigit || s(k) == '-')) k += 1
            val lang = s.substring(i + 1, k); i = k
            require(wellFormedLangTag(lang), s"ill-formed language tag '@$lang'")
            Some(Lit(lex, Rdf.langString, Some(lang.toLowerCase)))
          } else if (i + 1 < s.length && s(i) == '^' && s(i + 1) == '^') {
            i += 2
            require(s(i) == '<', "expected datatype IRI")
            val e = s.indexOf('>', i)
            val dt = s.substring(i + 1, e); i = e + 1
            Some(Lit(lex, unescape(dt), None))
          } else Some(Lit(lex, Xsd.string, None))
        case '.' => None
        case _ => throw new IllegalArgumentException(s"unexpected char '${s(i)}' at $i in: $s")
      }
    }

    def expectDot(): Unit = {
      ws()
      require(i < s.length && s(i) == '.', s"expected '.' at $i in: $s")
    }
  }

  /** N-Triples IRIREF character set: no controls/space and none of
    * <>"{}|^` (backslash only introduces \u escapes, checked later). */
  private[graft] def validIriChar(c: Char): Boolean =
    c > ' ' && c != '<' && c != '>' && c != '"' && c != '{' && c != '}' &&
      c != '|' && c != '^' && c != '`'

  /** Exactly n hex digits (parseInt alone would accept a '+' sign). */
  private def hexDigits(v: String, at: Int, n: Int): String = {
    val sub = v.substring(at, at + n)
    require(sub.forall(c => Character.digit(c, 16) >= 0), s"bad unicode escape '$sub'")
    sub
  }

  /** BCP47 well-formedness (as far as Turtle/N-Triples require): subtags of
    * 1-8 alphanumerics, primary subtag alphabetic (oxigraph validates via
    * oxilangtag and rejects e.g. 14-letter primary tags). */
  private[graft] def wellFormedLangTag(t: String): Boolean = {
    val parts = t.split("-", -1)
    parts.nonEmpty && parts.head.nonEmpty && parts.head.length <= 8 &&
      parts.head.forall(_.isLetter) &&
      parts.tail.forall(p => p.nonEmpty && p.length <= 8 && p.forall(_.isLetterOrDigit))
  }

  private[graft] def unescape(v: String): String = {
    if (v.indexOf('\\') < 0) return v
    val sb = new StringBuilder(v.length)
    var i = 0
    while (i < v.length) {
      val c = v(i)
      if (c == '\\' && i + 1 < v.length) {
        v(i + 1) match {
          case 'n' => sb.append('\n'); i += 2
          case 't' => sb.append('\t'); i += 2
          case 'r' => sb.append('\r'); i += 2
          case 'b' => sb.append('\b'); i += 2
          case 'f' => sb.append('\f'); i += 2
          case '"' => sb.append('"'); i += 2
          case '\'' => sb.append('\''); i += 2
          case '\\' => sb.append('\\'); i += 2
          case 'u' => sb.append(Integer.parseInt(hexDigits(v, i + 2, 4), 16).toChar); i += 6
          case 'U' =>
            sb.appendAll(Character.toChars(Integer.parseInt(hexDigits(v, i + 2, 8), 16))); i += 10
          case other =>
            throw new IllegalArgumentException(s"illegal escape sequence '\\$other'")
        }
      } else { sb.append(c); i += 1 }
    }
    sb.result()
  }

  // ------------------------------------------------------------------ writer

  /** Append the N-Triples form of a PlainTerm struct (`t`, `v`, `dt`,
    * `lang` — TermCols.schema order) to `sb`; also valid Turtle/TriG and
    * SPARQL. `escapeTab` escapes TAB as well, as a SPARQL TSV results cell
    * needs. */
  private[graft] def appendTerm(sb: java.lang.StringBuilder, t: Row, escapeTab: Boolean = false): Unit = {
    val v = t.getString(1)
    t.getByte(0) match {
      case TermType.Iri => sb.append('<').append(v).append('>')
      case TermType.BlankNode => sb.append("_:").append(v)
      case _ =>
        sb.append('"')
        v.foreach {
          case '\\' => sb.append("\\\\")
          case '"' => sb.append("\\\"")
          case '\n' => sb.append("\\n")
          case '\r' => sb.append("\\r")
          case '\t' if escapeTab => sb.append("\\t")
          case c => sb.append(c)
        }
        sb.append('"')
        if (!t.isNullAt(3)) sb.append('@').append(t.getString(3))
        else if (!t.isNullAt(2) && t.getString(2) != Xsd.string)
          sb.append("^^<").append(t.getString(2)).append('>')
    }
  }

  /** N-Triples text of a term column (for the Turtle/TriG writers' grouping). */
  val termText: UserDefinedFunction = udf { (t: Row) =>
    val sb = new java.lang.StringBuilder
    appendTerm(sb, t)
    sb.toString
  }

  /** Renders one row of a quads frame with `schema` as an N-Quads line (no
    * graph term for the default graph); a frame without a `graph` column
    * holds default-graph triples. */
  private[graft] def nquadLine(schema: StructType): Row => String = {
    val Array(s, p, o) = Array("subject", "predicate", "object").map(schema.fieldIndex)
    val g = if (schema.fieldNames.contains("graph")) schema.fieldIndex("graph") else -1
    r => {
      val sb = new java.lang.StringBuilder
      appendTerm(sb, r.getStruct(s)); sb.append(' ')
      appendTerm(sb, r.getStruct(p)); sb.append(' ')
      appendTerm(sb, r.getStruct(o)); sb.append(' ')
      if (g >= 0 && !r.isNullAt(g)) { appendTerm(sb, r.getStruct(g)); sb.append(' ') }
      sb.append('.').toString
    }
  }

  /** Serialise a quads (or triples) DF to N-Quads lines, one `value`
    * column rendered in tasks, ready for `df.write.text(...)` (reference:
    * Store::dump_to_writer, lib/rdf-fusion/src/store.rs:586-657). */
  def toNQuadLines(quads: DataFrame): DataFrame =
    quads.map(nquadLine(quads.schema))(Encoders.STRING).toDF("value")
}
