package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.encoding.TermCols
import graft.model.Xsd

/**
 * Turtle / TriG / RDF/XML serialisers — the Spark side of the reference's
 * `Store::dump_to_writer` format matrix (oxrdfio serialisers,
 * /root/reference/lib/rdf-fusion/src/store.rs:586-657).
 *
 * All writers are distributed: terms render through the N-Triples term
 * writer ([[NTriples.termText]]) and [[xmlEsc]] as UDFs, and the only
 * shuffle is the per-subject grouping the formats' abbreviated syntax
 * requires. Prefix abbreviation is deliberately not attempted — full IRIs
 * keep the writers embarrassingly parallel (no global prefix table to
 * coordinate across tasks), and every consumer accepts them.
 */
object RdfWriters {

  /** Turtle lines: one `subject pred obj ; pred obj .` statement per
    * subject (predicate-object list syntax). Default graph only — callers
    * pre-filter (Turtle has no graphs; the reference errors when dumping a
    * dataset to a triple-only format). */
  def turtleLines(triples: DataFrame): DataFrame = {
    val po = concat_ws(" ", NTriples.termText(col("predicate")), NTriples.termText(col("object")))
    triples
      .groupBy(NTriples.termText(col("subject")).as("s"))
      .agg(concat_ws(" ;\n    ", collect_list(po)).as("pos"))
      .select(concat(col("s"), lit(" "), col("pos"), lit(" .")).as("value"))
  }

  /** TriG lines: default-graph statements as Turtle plus one
    * `GRAPH <g> { … }` block per (graph, subject) — TriG permits repeated
    * blocks for the same graph name, which keeps the write shuffle-light
    * (no giant per-graph groups). */
  def trigLines(quads: DataFrame): DataFrame = {
    val dg = turtleLines(quads.filter(col("graph").isNull))
    val po = concat_ws(" ", NTriples.termText(col("predicate")), NTriples.termText(col("object")))
    val named = quads.filter(col("graph").isNotNull)
      .groupBy(NTriples.termText(col("graph")).as("g"), NTriples.termText(col("subject")).as("s"))
      .agg(concat_ws(" ;\n      ", collect_list(po)).as("pos"))
      .select(concat(lit("GRAPH "), col("g"), lit(" {\n  "), col("s"), lit(" "),
        col("pos"), lit(" .\n}")).as("value"))
    dg.unionAll(named)
  }

  private val NCNameStart = "A-Za-z_\\u00C0-\\u02FF\\u0370-\\u1FFF"
  private val NCNameRest = NCNameStart + "0-9\\-\\u00B7"

  /** XML text via [[graft.engine.Results.xmlEscape]]: CR as `&#13;`, and a
    * C0 control other than TAB/LF/CR fails the dump loudly (same contract as
    * dumpTurtle's named-graph require) instead of writing a document no
    * conforming parser, including our RdfXml reader, could read. */
  private val xmlEsc = udf { (s: String) =>
    if (s == null) null else graft.engine.Results.escaped(graft.engine.Results.xmlEscape, s)
  }

  /**
   * RDF/XML `rdf:Description` blocks, one per subject. Property-element
   * namespaces are declared inline on each property element (valid XML — no
   * cross-task prefix coordination). Predicates whose IRI has no valid
   * NCName suffix are unserialisable in RDF/XML (the same failure mode as
   * any serialiser of the format) and are dropped.
   */
  def rdfXmlBodyLines(triples: DataFrame): DataFrame = {
    val pv = TermCols.value(col("predicate"))
    // longest valid NCName suffix = XML local name; prefix of the IRI = ns
    val local = regexp_extract(pv, s"([$NCNameStart][$NCNameRest]*)$$", 1)
    val ns = pv.substr(lit(1), length(pv) - length(local))
    val o = col("object")
    val closeTag = concat(lit("</n:"), local, lit(">"))
    val objPart =
      when(TermCols.isIri(o), concat(lit(" rdf:resource=\""), xmlEsc(TermCols.value(o)), lit("\"/>")))
        .when(TermCols.isBlank(o), concat(lit(" rdf:nodeID=\""), xmlEsc(TermCols.value(o)), lit("\"/>")))
        .when(TermCols.langTag(o).isNotNull,
          concat(lit(" xml:lang=\""), TermCols.langTag(o), lit("\">"),
            xmlEsc(TermCols.value(o)), closeTag))
        .when(TermCols.datatypeRaw(o).isNotNull && TermCols.datatypeRaw(o) =!= Xsd.string,
          concat(lit(" rdf:datatype=\""), xmlEsc(TermCols.datatypeRaw(o)), lit("\">"),
            xmlEsc(TermCols.value(o)), closeTag))
        .otherwise(concat(lit(">"), xmlEsc(TermCols.value(o)), closeTag))
    val prop = concat(lit("    <n:"), local, lit(" xmlns:n=\""), xmlEsc(ns), lit("\""), objPart)
    val s = col("subject")
    val open =
      when(TermCols.isBlank(s), concat(lit("  <rdf:Description rdf:nodeID=\""),
        xmlEsc(TermCols.value(s)), lit("\">")))
        .otherwise(concat(lit("  <rdf:Description rdf:about=\""),
          xmlEsc(TermCols.value(s)), lit("\">")))
    triples
      .filter(local =!= "")
      .groupBy(open.as("open"))
      .agg(concat_ws("\n", collect_list(prop)).as("props"))
      .select(concat(col("open"), lit("\n"), col("props"),
        lit("\n  </rdf:Description>")).as("value"))
  }

  private val RdfXmlHeader =
    """<?xml version="1.0" encoding="UTF-8"?>
      |<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#">""".stripMargin

  /** Complete RDF/XML documents: every partition file carries its own
    * envelope (header/footer injected per partition), so each task's output
    * is a valid document on its own. */
  def rdfXmlLines(triples: DataFrame): DataFrame = {
    val body = rdfXmlBodyLines(triples)
    val spark = triples.sparkSession
    import spark.implicits._
    body.mapPartitions { it =>
      Iterator(RdfXmlHeader) ++ it.map(_.getString(0)) ++ Iterator("</rdf:RDF>")
    }.toDF("value")
  }
}
