package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.model._
import javax.xml.stream.{XMLEventReader, XMLInputFactory}
import javax.xml.stream.events.{Attribute, Characters, EndElement, StartElement, XMLEvent}
import scala.jdk.CollectionConverters._

/**
 * RDF/XML reader (W3C RDF 1.1 XML Syntax, pragmatic subset) — the reference
 * ingests RDF/XML through oxrdfio (/root/reference/Cargo.toml:85, formats at
 * lib/rdf-fusion/src/store.rs:477-514); this is an independent StAX-based
 * streaming implementation.
 *
 * Supported: rdf:RDF envelope (optional), rdf:Description + typed node
 * elements, rdf:about / rdf:ID / rdf:nodeID subjects, property attributes,
 * property elements with rdf:resource / rdf:nodeID / rdf:datatype / nested
 * node elements / rdf:parseType = Resource | Literal | Collection, rdf:li
 * counters, xml:base resolution, xml:lang inheritance (normalised to
 * lowercase, matching oxigraph), and internal DTD entity expansion.
 * Not supported: rdf:ID property-element reification, rdf:aboutEach
 * (obsolete).
 *
 * Scale model: RDF/XML is not line-splittable, so a file parses in one task
 * ([[readAll]]: one executor task per file via wholeTextFiles) — the same
 * per-file model as the reference's reader. Bulk data belongs in
 * N-Triples/N-Quads ([[NTriples]]) or Parquet.
 */
object RdfXml {

  private val RdfNs = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
  private val XmlNs = "http://www.w3.org/XML/1998/namespace"
  /** rdf-namespace attributes that are syntax, not property attributes. */
  private val SyntaxAttrs = Set("about", "ID", "nodeID", "resource", "datatype",
    "parseType", "RDF", "Description", "li", "aboutEach", "aboutEachPrefix", "bagID")

  def read(spark: SparkSession, path: String): DataFrame = {
    val text = FileText.read(spark, path)
    Turtle.quadsToDF(spark, parse(text, "file://" + path))
  }

  /** Parse many files distributed: one task per file (the format's honest
    * parallelism unit). */
  def readAll(spark: SparkSession, pathGlob: String): DataFrame = {
    val rdd = spark.sparkContext.wholeTextFiles(pathGlob)
      .flatMap { case (name, text) => parse(text, name) }
    spark.createDataFrame(rdd.map(NTriples.quadRow), NTriples.quadSchema)
  }

  /** Parse an RDF/XML document to quads (default graph). `docIri` seeds the
    * base for relative references and the blank-node scope. */
  def parse(text: String, docIri: String = "urn:graft:doc"): Seq[RdfQuad] =
    new Parser(text, docIri).run()

  private final class Parser(text: String, docIri: String) {
    private val out = scala.collection.mutable.ArrayBuffer[RdfQuad]()
    private var bnodeN = 0
    private val scope = Integer.toHexString(docIri.hashCode)
    private def freshBNode(): BNode = { bnodeN += 1; BNode(s"rx${scope}b$bnodeN") }
    private def namedBNode(id: String): BNode = BNode(s"rx${scope}n$id")
    private def emit(s: RdfTerm, p: String, o: RdfTerm): Unit =
      out += RdfQuad(None, s, Iri(p), o)

    private val reader: XMLEventReader = {
      val f = XMLInputFactory.newInstance()
      f.setProperty(XMLInputFactory.IS_COALESCING, java.lang.Boolean.TRUE)
      f.setProperty(XMLInputFactory.SUPPORT_DTD, java.lang.Boolean.TRUE)
      f.setProperty(XMLInputFactory.IS_REPLACING_ENTITY_REFERENCES, java.lang.Boolean.TRUE)
      // no external entity resolution (and none needed for internal DTDs)
      f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, java.lang.Boolean.FALSE)
      f.createXMLEventReader(new java.io.StringReader(text))
    }

    def run(): Seq[RdfQuad] = {
      try {
        while (reader.hasNext) {
          val ev = reader.nextEvent()
          ev match {
            case se: StartElement =>
              if (qname(se) == RdfNs + "RDF") nodeElements(se, ctx(se, docIri, None))
              else nodeElement(se, ctx(se, docIri, None))
            case _ =>
          }
        }
      } finally reader.close()
      out.toSeq
    }

    /** Inherited context: (base IRI, language). */
    private case class Ctx(base: String, lang: Option[String])
    private def ctx(se: StartElement, base: String, lang: Option[String]): Ctx = {
      // XML Base §4.2: a nested (possibly relative) xml:base resolves
      // against the base in scope, it does not replace it verbatim
      val b = Option(se.getAttributeByName(new javax.xml.namespace.QName(XmlNs, "base")))
        .map(v => resolve(base, v.getValue)).getOrElse(base)
      // xml:lang="" removes the inherited language (RDF/XML Syntax §2.7)
      val l = Option(se.getAttributeByName(new javax.xml.namespace.QName(XmlNs, "lang")))
        .map(a => Some(a.getValue.toLowerCase).filter(_.nonEmpty)).getOrElse(lang)
      Ctx(b, l)
    }

    private def qname(se: StartElement): String = {
      val n = se.getName
      Option(n.getNamespaceURI).getOrElse("") + n.getLocalPart
    }

    private def resolve(base: String, ref: String): String =
      if (ref.isEmpty) base
      else try {
        val u = java.net.URI.create(ref)
        if (u.isAbsolute) ref
        else java.net.URI.create(base).resolve(u).toString
      } catch { case _: IllegalArgumentException => ref }

    /** Children of rdf:RDF: a sequence of node elements. */
    private def nodeElements(open: StartElement, c0: Ctx): Unit = {
      val c = ctx(open, c0.base, c0.lang)
      var done = false
      while (!done && reader.hasNext) {
        reader.nextEvent() match {
          case se: StartElement => nodeElement(se, c)
          case _: EndElement => done = true
          case ch: Characters if !ch.getData.forall(_.isWhitespace) =>
            throw err("unexpected text between node elements: " + ch.getData.trim)
          case _ =>
        }
      }
    }

    /** Parse one node element (already-consumed start tag); returns its
      * subject term after consuming through the matching end tag. */
    private def nodeElement(open: StartElement, c0: Ctx): RdfTerm = {
      val c = ctx(open, c0.base, c0.lang)
      val attrs = open.getAttributes.asScala.toSeq.asInstanceOf[Seq[Attribute]]
      def attr(local: String): Option[String] =
        attrs.find(a => a.getName.getNamespaceURI == RdfNs && a.getName.getLocalPart == local)
          .map(_.getValue)
      val subj: RdfTerm = (attr("about"), attr("ID"), attr("nodeID")) match {
        case (Some(a), _, _) => Iri(resolve(c.base, a))
        case (None, Some(id), _) => Iri(resolve(c.base, "#" + id))
        case (None, None, Some(n)) => namedBNode(n)
        case _ => freshBNode()
      }
      val name = qname(open)
      if (name != RdfNs + "Description") emit(subj, Rdf.type_, Iri(name))
      // property attributes
      attrs.foreach { a =>
        val ns = Option(a.getName.getNamespaceURI).getOrElse("")
        val local = a.getName.getLocalPart
        val full = ns + local
        if (ns == XmlNs || a.getName.getPrefix == "xmlns" || (ns.isEmpty && local == "xmlns")) ()
        else if (ns == RdfNs && SyntaxAttrs(local)) ()
        else if (full == Rdf.type_) emit(subj, Rdf.type_, Iri(resolve(c.base, a.getValue)))
        else emit(subj, full, c.lang.map(l => Lit(a.getValue, Rdf.langString, Some(l)) : RdfTerm)
          .getOrElse(Lit(a.getValue, Xsd.string, None)))
      }
      // property elements (rdf:li ordinals count li elements only)
      val li = new Counter
      var done = false
      while (!done && reader.hasNext) {
        reader.nextEvent() match {
          case se: StartElement => propertyElement(subj, se, c, li)
          case _: EndElement => done = true
          case ch: Characters if !ch.getData.forall(_.isWhitespace) =>
            throw err("unexpected text inside node element: " + ch.getData.trim)
          case _ =>
        }
      }
      subj
    }

    private final class Counter { private var n = 0; def next(): Int = { n += 1; n } }

    /** One property element of `subj` (start tag consumed); consumes through
      * its end tag. `liIndex` numbers rdf:li containers. */
    private def propertyElement(subj: RdfTerm, open: StartElement, c0: Ctx, li: Counter): Unit = {
      val c = ctx(open, c0.base, c0.lang)
      val prop =
        if (qname(open) == RdfNs + "li") RdfNs + "_" + li.next() else qname(open)
      val attrs = open.getAttributes.asScala.toSeq.asInstanceOf[Seq[Attribute]]
      def attr(local: String): Option[String] =
        attrs.find(a => a.getName.getNamespaceURI == RdfNs && a.getName.getLocalPart == local)
          .map(_.getValue)
      val propAttrs = attrs.filter { a =>
        val ns = Option(a.getName.getNamespaceURI).getOrElse("")
        !(ns == XmlNs || a.getName.getPrefix == "xmlns" || (ns.isEmpty && a.getName.getLocalPart == "xmlns") ||
          (ns == RdfNs && SyntaxAttrs(a.getName.getLocalPart)))
      }

      attr("parseType") match {
        case Some("Resource") =>
          val b = freshBNode()
          emit(subj, prop, b)
          val innerLi = new Counter
          var done = false
          while (!done && reader.hasNext) {
            reader.nextEvent() match {
              case se: StartElement => propertyElement(b, se, c, innerLi)
              case _: EndElement => done = true
              case ch: Characters if !ch.getData.forall(_.isWhitespace) =>
                throw err("text in parseType=Resource: " + ch.getData.trim)
              case _ =>
            }
          }
        case Some("Literal") =>
          emit(subj, prop, Lit(innerXml(), RdfNs + "XMLLiteral", None))
        case Some("Collection") =>
          val items = scala.collection.mutable.ArrayBuffer[RdfTerm]()
          var done = false
          while (!done && reader.hasNext) {
            reader.nextEvent() match {
              case se: StartElement => items += nodeElement(se, c)
              case _: EndElement => done = true
              case ch: Characters if !ch.getData.forall(_.isWhitespace) =>
                throw err("text in parseType=Collection: " + ch.getData.trim)
              case _ =>
            }
          }
          var tail: RdfTerm = Iri(Rdf.nil)
          items.reverseIterator.foreach { item =>
            val cell = freshBNode()
            emit(cell, Rdf.first, item)
            emit(cell, Rdf.rest, tail)
            tail = cell
          }
          emit(subj, prop, tail)
        case Some(_) => // per spec, unknown parseType behaves as Literal
          emit(subj, prop, Lit(innerXml(), RdfNs + "XMLLiteral", None))
        case None =>
          // gather content: text and/or exactly one nested node element
          val sb = new StringBuilder
          var nested: Option[RdfTerm] = None
          var nestedCount = 0
          var done = false
          while (!done && reader.hasNext) {
            reader.nextEvent() match {
              case se: StartElement =>
                nestedCount += 1
                if (nestedCount > 1) throw err(s"multiple node elements in property <$prop>")
                nested = Some(nodeElement(se, c))
              case _: EndElement => done = true
              case ch: Characters => sb.append(ch.getData)
              case _ =>
            }
          }
          val textContent = sb.toString
          (nested, attr("resource"), attr("nodeID")) match {
            case (Some(_), _, _) if !textContent.forall(_.isWhitespace) =>
              throw err(s"mixed text and node element in property <$prop>")
            case (Some(obj), _, _) => emit(subj, prop, obj)
            case (None, Some(r), _) =>
              val obj = Iri(resolve(c.base, r))
              emit(subj, prop, obj)
              emitPropAttrs(obj, propAttrs, c)
            case (None, None, Some(n)) =>
              val obj = namedBNode(n)
              emit(subj, prop, obj)
              emitPropAttrs(obj, propAttrs, c)
            case (None, None, None) if propAttrs.nonEmpty && textContent.forall(_.isWhitespace) =>
              val b = freshBNode()
              emit(subj, prop, b)
              emitPropAttrs(b, propAttrs, c)
            case (None, None, None) =>
              val obj = attr("datatype") match {
                case Some(dt) => Lit(textContent, resolve(c.base, dt), None)
                case None => c.lang match {
                  case Some(l) => Lit(textContent, Rdf.langString, Some(l))
                  case None => Lit(textContent, Xsd.string, None)
                }
              }
              emit(subj, prop, obj)
          }
      }
    }

    private def emitPropAttrs(subj: RdfTerm, propAttrs: Seq[Attribute], c: Ctx): Unit =
      propAttrs.foreach { a =>
        val full = Option(a.getName.getNamespaceURI).getOrElse("") + a.getName.getLocalPart
        if (full == Rdf.type_) emit(subj, Rdf.type_, Iri(resolve(c.base, a.getValue)))
        else emit(subj, full, c.lang.map(l => Lit(a.getValue, Rdf.langString, Some(l)) : RdfTerm)
          .getOrElse(Lit(a.getValue, Xsd.string, None)))
      }

    /** Serialise events until the current element's end tag back to XML
      * (for rdf:parseType="Literal"). */
    private def innerXml(): String = {
      val sb = new StringBuilder
      var depth = 0
      var done = false
      while (!done && reader.hasNext) {
        reader.nextEvent() match {
          case se: StartElement =>
            depth += 1
            sb.append('<').append(rawName(se.getName))
            se.getAttributes.asScala.asInstanceOf[Iterator[Attribute]].foreach { a =>
              sb.append(' ').append(rawName(a.getName)).append("=\"")
                .append(escapeXml(a.getValue)).append('"')
            }
            sb.append('>')
          case ee: EndElement =>
            if (depth == 0) done = true
            else { depth -= 1; sb.append("</").append(rawName(ee.getName)).append('>') }
          case ch: Characters => sb.append(escapeXml(ch.getData))
          case _ =>
        }
      }
      sb.toString
    }

    private def rawName(n: javax.xml.namespace.QName): String =
      if (n.getPrefix == null || n.getPrefix.isEmpty) n.getLocalPart
      else n.getPrefix + ":" + n.getLocalPart

    private def escapeXml(s: String): String =
      s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace("\"", "&quot;")

    private def err(msg: String): IllegalArgumentException =
      new IllegalArgumentException("RDF/XML: " + msg)
  }
}
