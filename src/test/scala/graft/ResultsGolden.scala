package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StructField, StructType}
import graft.encoding.TermCols
import graft.model._
import graft.sources.NTriples

/** The golden result frame of the serialisation tests: 13 variables over IRIs,
  * blank nodes, simple / typed / language-tagged literals, unbound cells, every C0
  * control character, quote, backslash, XML markup and non-BMP characters. The
  * expected documents live in `src/test/resources/results-golden/`. */
object ResultsGolden {

  val vars: Seq[String] = (1 to 13).map(i => f"v$i%02d")

  private val EX = "http://ex.org/"
  private def lit(v: String) = Lit(v, null, None)
  private def typed(v: String, dt: String) = Lit(v, dt, None)
  private def lang(v: String, l: String) = Lit(v, Rdf.langString, Some(l))

  /** One Seq per solution, `null` = unbound. A simple literal carries a null
    * datatype; v13 of the first row spells xsd:string out. */
  val solutions: Seq[Seq[RdfTerm]] = Seq(
    Seq(Iri(s"${EX}a?x=1&y=2"), BNode("b0"), lit("plain, text"), typed("42", Xsd.integer),
      lang("chat", "fr"), lit((0 until 32).map(_.toChar).mkString), lit("say \"hi\""),
      lit("a\\b\\\\c"), lit("<a href=\"x\">&amp;</a>"), lit("😀 𝄞 grin"), null,
      typed("x<y", s"${EX}dt?a=1&b=2"), typed("explicit", Xsd.string)),
    Seq(BNode("n1"), Iri(s"${EX}é/😀"), lit("tab\there"), lit("cr\ronly"),
      lang("Hello", "en-gb"), null, lit("line1\nline2"), typed("1.5e3", Xsd.double), null,
      lang("ü", "de"), null, Iri(s"${EX}b"), lit("")),
    Seq(Iri(s"${EX}c"), null, null, null, null, null, null, null, null, null, null,
      typed("true", Xsd.boolean), null),
    Seq.fill(13)(null))

  /** [[solutions]] with the all-C0 cell cut to the controls XML 1.0 can carry
    * (TAB, LF, and CR as `&#13;`): SRX refuses the others. */
  val xmlSolutions: Seq[Seq[RdfTerm]] = solutions.map(_.map {
    case Lit(v, dt, l) => Lit(v.filter(c => c >= ' ' || c == '\t' || c == '\n' || c == '\r'), dt, l)
    case t => t
  })

  /** Quads over the same terms: one per bound cell, object = the cell,
    * graph rotating over the default graph, an IRI and a blank node. */
  val quads: Seq[RdfQuad] = for {
    (row, r) <- solutions.zipWithIndex
    (t, c) <- row.zipWithIndex if t != null
  } yield {
    val subject = if (c % 2 == 0) Iri(s"${EX}s$r") else BNode(s"s$r")
    val graph = (r + c) % 3 match {
      case 0 => None
      case 1 => Some(Iri(s"${EX}g"))
      case _ => Some(BNode("g1"))
    }
    RdfQuad(graph, subject, Iri(s"${EX}p/${vars(c)}"), t)
  }

  def termRow(t: RdfTerm): Row = t match {
    case null => null
    case Iri(v) => Row(TermType.Iri, v, null, null, null)
    case BNode(v) => Row(TermType.BlankNode, v, null, null, null)
    case Lit(v, dt, l) => Row(TermType.Literal, v, dt, l.orNull, NTriples.numOf(v, dt))
  }

  /** A result frame of `rows`, over the first `rows.head.size` variables. */
  def frame(spark: SparkSession, rows: Seq[Seq[RdfTerm]] = solutions): DataFrame = {
    val schema = StructType(vars.take(rows.head.size).map(StructField(_, TermCols.schema, nullable = true)))
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r => Row(r.map(termRow): _*)): _*), schema)
  }

  def quadFrame(spark: SparkSession): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(quads.map(q => Row(q.graph.map(termRow).orNull,
      termRow(q.subject), termRow(q.predicate), termRow(q.obj))): _*), NTriples.quadSchema)

  /** A term as the readers return it: simple literals are xsd:string. */
  def norm(t: RdfTerm): RdfTerm = t match {
    case Lit(v, null, None) => Lit(v, Xsd.string, None)
    case other => other
  }

  /** Solutions as the readers return them: variable -> term, unbound left out. */
  def bindings(rows: Seq[Seq[RdfTerm]]): Seq[Map[String, RdfTerm]] =
    rows.map(r => vars.zip(r).collect { case (v, t) if t != null => v -> norm(t) }.toMap)

  def read(name: String): String = new String(
    getClass.getResourceAsStream(s"/results-golden/$name").readAllBytes(),
    java.nio.charset.StandardCharsets.UTF_8)
}
