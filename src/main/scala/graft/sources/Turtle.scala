package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.model._

/**
 * Turtle / TriG reader (subset: prefixes, base, predicate-object lists with
 * ';' and ',', blank-node property lists, collections, numeric/boolean
 * shorthand, all literal forms, 'a', GRAPH blocks for TriG).
 *
 * The reference ingests Turtle through oxttl
 * (/root/reference/lib/rdf-fusion/src/store.rs:477-514, formats
 * Cargo.toml:82-85); this is an independent recursive-descent implementation.
 * Turtle is not line-splittable, so a file parses on the driver (or one
 * executor per file via wholeTextFiles for many-file corpora) — the
 * line-oriented N-Triples/N-Quads path ([[NTriples]]) is the bulk-scale
 * format.
 */
object Turtle {

  def read(spark: SparkSession, path: String): DataFrame =
    quadsToDF(spark, parse(FileText.read(spark, path)))

  /** Parse many files distributed: one task per file. */
  def readAll(spark: SparkSession, pathGlob: String): DataFrame = {
    val rdd = spark.sparkContext.wholeTextFiles(pathGlob)
      .flatMap { case (_, text) => parse(text) }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rdd.map(NTriples.quadRow), NTriples.quadSchema)
  }

  def quadsToDF(spark: SparkSession, quads: Seq[RdfQuad]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(quads.map(NTriples.quadRow).asJava, NTriples.quadSchema)
  }

  def parse(text: String): Seq[RdfQuad] = new Parser(text).document()

  /**
   * Statement-level recovery (the reference's oxttl recovery semantics,
   * oxigraph-tests/parser-recovery): on a parse error, skip to the next
   * top-level '.' and continue with the following statement. A statement
   * that fails BEFORE its object is parsed contributes nothing; one that
   * fails after keeps the triples already emitted — matching the
   * reference's recovered outputs. A top-level statement whose final '.' is
   * missing is whole: reading resumes right where the dot was expected, so
   * the statement that follows is kept too. The
   * resync point is a heuristic (a '.' inside a malformed quoted string can
   * mis-anchor); strict [[parse]] remains the default.
   */
  def parseRecovering(text: String): Seq[RdfQuad] = new Parser(text).documentRecovering()

  // ------------------------------------------------------------------ parser

  private final class Parser(s: String) {
    private var i = 0
    private var prefixes = Map.empty[String, String]
    private var base: Option[String] = None
    private var bnodeN = 0
    private val out = scala.collection.mutable.ArrayBuffer[RdfQuad]()
    private var graph: Option[RdfTerm] = None

    def document(): Seq[RdfQuad] = {
      ws()
      while (i < s.length) {
        directiveOrTriples()
        ws()
      }
      out.toSeq
    }

    def documentRecovering(): Seq[RdfQuad] = {
      ws()
      while (i < s.length) {
        val before = i
        try directiveOrTriples()
        catch {
          case _: MissingDot if i > before => // the statement is whole; read on from here
          case _: Exception =>
            // resync: past the next statement terminator (always advance)
            if (i <= before) i = before + 1
            while (i < s.length && s(i) != '.') i += 1
            if (i < s.length) i += 1
        }
        ws()
      }
      out.toSeq
    }

    private def directiveOrTriples(): Unit = {
      if (peekKeyword("@prefix") || peekKeyword("PREFIX")) {
        val atForm = s(i) == '@'
        i += (if (atForm) "@prefix".length else "PREFIX".length); ws()
        val p = until(':'); i += 1; ws()
        val iri = iriRef(); ws()
        if (atForm) expect('.')
        prefixes += (p.trim -> resolve(iri)) // prefix IRIs resolve against BASE
      } else if (peekKeyword("@base") || peekKeyword("BASE")) {
        val atForm = s(i) == '@'
        i += (if (atForm) "@base".length else "BASE".length); ws()
        base = Some(resolve(iriRef())); ws()
        if (atForm) expect('.')
      } else if (peekKeyword("GRAPH")) { // TriG
        i += 5; ws()
        val g = term(); ws(); expect('{'); ws()
        graph = Some(g)
        while (i < s.length && s(i) != '}') { triples(inBlock = true); ws() }
        expect('}')
        graph = None
      } else if (s(i) == '{') { // TriG default graph block
        i += 1; ws()
        while (i < s.length && s(i) != '}') { triples(inBlock = true); ws() }
        expect('}')
      } else {
        // TriG labeled graph block WITHOUT the GRAPH keyword: `label { … }`
        val save = i
        val label =
          try {
            val t = term(); ws()
            if (i < s.length && s(i) == '{') Some(t) else { i = save; None }
          } catch { case _: Exception => i = save; None }
        label match {
          case Some(g) =>
            i += 1; ws()
            graph = Some(g)
            while (i < s.length && s(i) != '}') { triples(inBlock = true); ws() }
            expect('}')
            graph = None
          case None => triples(inBlock = false)
        }
      }
    }

    /** One statement; its '.' may be left out only before a graph block's '}'. */
    private def triples(inBlock: Boolean): Unit = {
      val subj =
        if (s(i) == '[') bnodePropertyList()
        else term()
      ws()
      if (i < s.length && s(i) != '.') predicateObjectList(subj)
      ws()
      if (i < s.length && s(i) == '.') i += 1
      else if (!inBlock) throw new MissingDot(errMsg("expected '.'"))
      else if (i >= s.length || s(i) != '}') err("expected '.'")
    }

    private def predicateObjectList(subj: RdfTerm): Unit = {
      var more = true
      while (more) {
        ws()
        if (i < s.length && (s(i) == '.' || s(i) == ']' || s(i) == '}')) return
        val p = predicate(); ws()
        var moreObj = true
        while (moreObj) {
          ws()
          val o = if (s(i) == '[') bnodePropertyList() else if (s(i) == '(') collection() else term()
          emit(subj, p, o)
          ws()
          if (i < s.length && s(i) == ',') { i += 1 } else moreObj = false
        }
        if (i < s.length && s(i) == ';') { i += 1 } else more = false
      }
    }

    private def predicate(): Iri = {
      if (s(i) == 'a' && i + 1 < s.length && (s(i + 1).isWhitespace)) { i += 1; Iri(Rdf.type_) }
      else term() match {
        case iri: Iri => iri
        case other => err(s"predicate must be IRI, got $other")
      }
    }

    private def bnodePropertyList(): RdfTerm = {
      expect('['); ws()
      val node = freshBNode()
      if (s(i) != ']') predicateObjectList(node)
      ws(); expect(']')
      node
    }

    private def collection(): RdfTerm = {
      expect('('); ws()
      val items = scala.collection.mutable.ArrayBuffer[RdfTerm]()
      while (i < s.length && s(i) != ')') {
        val o = if (s(i) == '[') bnodePropertyList() else if (s(i) == '(') collection() else term()
        items += o; ws()
      }
      expect(')')
      if (items.isEmpty) return Iri(Rdf.nil)
      val nodes = items.map(_ => freshBNode())
      nodes.zipWithIndex.foreach { case (n, idx) =>
        emit(n, Iri(Rdf.first), items(idx))
        emit(n, Iri(Rdf.rest), if (idx == items.size - 1) Iri(Rdf.nil) else nodes(idx + 1))
      }
      nodes.head
    }

    private def term(): RdfTerm = {
      ws()
      s(i) match {
        case '<' => Iri(resolve(iriRef()))
        case '_' =>
          require(s(i + 1) == ':', "bad bnode"); i += 2
          val l = name(); BNode(l)
        case '"' | '\'' => literal()
        case c if c.isDigit || c == '+' || c == '-' || (c == '.' && i + 1 < s.length && s(i + 1).isDigit) =>
          numericLiteral()
        case _ =>
          // keyword true/false or prefixed name
          if (peekKeyword("true") && !isNameChar(charAt(i + 4))) { i += 4; Lit.boolean(true) }
          else if (peekKeyword("false") && !isNameChar(charAt(i + 5))) { i += 5; Lit.boolean(false) }
          else prefixedName()
      }
    }

    private def charAt(j: Int): Char = if (j < s.length) s(j) else ' '
    private def isNameChar(c: Char): Boolean = c.isLetterOrDigit || c == '_' || c == '-' || c == '.'

    private def prefixedName(): Iri = {
      val start = i
      // PN_PREFIX: name characters only, so a stray '.' or a newline is an
      // error here rather than the start of a prefix that runs on
      while (i < s.length && isNameChar(s(i))) i += 1
      if (i >= s.length || s(i) != ':') { i = start; err(s"expected a term at $start") }
      val p = s.substring(start, i); i += 1
      val local = name()
      prefixes.get(p) match {
        case Some(ns) => Iri(ns + local)
        case None => err(s"undefined prefix '$p:' at $start")
      }
    }

    private def name(): String = {
      // PN_LOCAL with PN_LOCAL_ESC: '\.' etc. contribute the escaped char
      val buf = scala.collection.mutable.ArrayBuffer[(Char, Boolean)]()
      while (i < s.length && (isNameChar(s(i)) || s(i) == '%' || s(i) == '\\')) {
        if (s(i) == '\\' && i + 1 < s.length) { buf += ((s(i + 1), true)); i += 2 }
        else { buf += ((s(i), false)); i += 1 }
      }
      // trailing UNESCAPED '.' is the statement terminator, not name chars
      var e = buf.length
      while (e > 0 && buf(e - 1)._1 == '.' && !buf(e - 1)._2) e -= 1
      i -= buf.length - e
      buf.take(e).map(_._1).mkString
    }

    private def literal(): Lit = {
      val q = s(i)
      val lex =
        if (i + 2 < s.length && s(i + 1) == q && s(i + 2) == q) { // long form
          i += 3
          val st = i
          while (!(s(i) == q && s(i + 1) == q && s(i + 2) == q)) i += 1
          val raw = s.substring(st, i); i += 3
          NTriples.unescape(raw)
        } else {
          i += 1
          val sb = new StringBuilder
          while (s(i) != q) {
            if (s(i) == '\n' || s(i) == '\r')
              err("raw line break in single-quoted string (use triple quotes or \\n)")
            if (s(i) == '\\') { sb.append(s(i)).append(s(i + 1)); i += 2 }
            else { sb.append(s(i)); i += 1 }
          }
          i += 1
          NTriples.unescape(sb.result())
        }
      if (i < s.length && s(i) == '@') {
        i += 1
        val st = i
        while (i < s.length && (s(i).isLetterOrDigit || s(i) == '-')) i += 1
        val tag = s.substring(st, i)
        if (!NTriples.wellFormedLangTag(tag)) err(s"ill-formed language tag '@$tag'")
        Lit(lex, Rdf.langString, Some(tag.toLowerCase))
      } else if (i + 1 < s.length && s(i) == '^' && s(i + 1) == '^') {
        i += 2
        val dt = term() match {
          case Iri(v) => v
          case other => err(s"datatype must be IRI: $other")
        }
        Lit(lex, dt, None)
      } else Lit(lex, Xsd.string, None)
    }

    private def numericLiteral(): Lit = {
      val st = i
      if (s(i) == '+' || s(i) == '-') i += 1
      var dots = 0; var exp = false
      while (i < s.length && (s(i).isDigit || s(i) == '.' || s(i) == 'e' || s(i) == 'E' ||
        ((s(i) == '+' || s(i) == '-') && (s(i - 1) == 'e' || s(i - 1) == 'E')))) {
        if (s(i) == '.') {
          // a '.' not followed by digit is the statement terminator
          if (i + 1 >= s.length || !s(i + 1).isDigit) {
            return finishNumber(st, dots, exp)
          }
          dots += 1
        }
        if (s(i) == 'e' || s(i) == 'E') exp = true
        i += 1
      }
      finishNumber(st, dots, exp)
    }

    private def finishNumber(st: Int, dots: Int, exp: Boolean): Lit = {
      val lex = s.substring(st, i)
      if (exp) Lit(lex, Xsd.double, None)
      else if (dots > 0) Lit(lex, Xsd.decimal, None)
      else Lit(lex, Xsd.integer, None)
    }

    private def iriRef(): String = {
      expect('<')
      val e = s.indexOf('>', i)
      if (e < 0) err("unterminated IRI")
      val v = s.substring(i, e); i = e + 1
      if (!v.forall(NTriples.validIriChar)) err(s"illegal character in IRI <$v>")
      NTriples.unescape(v)
    }

    private def resolve(iri: String): String =
      if (iri.contains("://") || base.isEmpty || iri.startsWith("urn:") || iri.startsWith("mailto:")) iri
      else {
        val b = base.get
        if (iri.isEmpty) b
        else if (iri.startsWith("#")) b.stripSuffix("#") + iri
        else if (iri.startsWith("/")) b.replaceAll("(://[^/]*).*", "$1") + iri
        else b.substring(0, b.lastIndexOf('/') + 1) + iri
      }

    private def emit(sj: RdfTerm, p: Iri, o: RdfTerm): Unit = out += RdfQuad(graph, sj, p, o)
    private def freshBNode(): BNode = { bnodeN += 1; BNode(s"tb$bnodeN") }

    private def ws(): Unit = {
      while (i < s.length && (s(i).isWhitespace || s(i) == '#')) {
        if (s(i) == '#') { while (i < s.length && s(i) != '\n') i += 1 }
        else i += 1
      }
    }
    private def peekKeyword(k: String): Boolean =
      s.regionMatches(true, i, k, 0, k.length) && {
        // keyword boundary: "prefix:" / "base:" are legal PREFIXED NAMES,
        // not directives (oxigraph keyword_vs_prefix fixtures)
        val next = charAt(i + k.length)
        !(isNameChar(next) || next == ':')
      }
    private def until(c: Char): String = {
      val st = i
      while (i < s.length && s(i) != c && !s(i).isWhitespace) i += 1
      s.substring(st, i)
    }
    private def expect(c: Char): Unit = {
      ws()
      if (i >= s.length || s(i) != c) err(s"expected '$c'")
      i += 1
    }
    private def errMsg(msg: String): String = {
      val ctx = s.substring(math.max(0, i - 30), math.min(s.length, i + 30))
      s"Turtle parse error at $i: $msg near …$ctx…"
    }
    private def err(msg: String): Nothing = throw new IllegalArgumentException(errMsg(msg))
  }

  /** A top-level statement that lacks its final '.'. */
  private final class MissingDot(msg: String) extends IllegalArgumentException(msg)
}
