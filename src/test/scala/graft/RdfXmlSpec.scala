package graft

import graft.model._
import graft.sources.{NTriples, RdfXml}

/**
 * RDF/XML reader against parser fixtures in the reference's format (the .rdf
 * files under src/test/oxigraph-slice/parser, each with an expected .nt,
 * hand-authored from the RDF/XML Syntax specification) plus feature cases
 * for the constructs the fixtures don't touch.
 */
class RdfXmlSpec extends SparkSpec {

  private val fixtureDir = "src/test/oxigraph-slice/parser"

  private def parseFixture(name: String): Set[(RdfTerm, String, RdfTerm)] = {
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$fixtureDir/$name.rdf")), "UTF-8")
    RdfXml.parse(text).map(q => (q.subject, q.predicate.value, q.obj)).toSet
  }

  private def expected(name: String): Set[(RdfTerm, String, RdfTerm)] = {
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(s"$fixtureDir/$name.nt")).toArray.map(_.toString)
    lines.flatMap(NTriples.parseLine(_)).map(q => (q.subject, q.predicate.value, q.obj)).toSet
  }

  for (name <- Seq("literal_value_space", "xml_entities", "xml_nested_entities")) {
    test(s"fixture $name matches oxigraph expected triples") {
      assert(parseFixture(name) == expected(name))
    }
  }

  test("fixture language_normalization: lang tag lowercased") {
    val langs = parseFixture("language_normalization").collect {
      case (_, _, Lit(v, _, lang)) => v -> lang
    }
    assert(langs == Set("attribute" -> Some("en-us"), "inherited" -> Some("en-us"),
      "own" -> Some("fr-ca"), "none" -> None))
  }

  test("fixture multiple_objects: text mixed with node element is an error") {
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$fixtureDir/multiple_objects.rdf")), "UTF-8")
    intercept[Exception](RdfXml.parse(text))
  }

  test("typed nodes, nested nodes, rdf:resource, rdf:ID, base resolution") {
    val doc =
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:ex="http://ex.org/" xml:base="http://base.org/doc">
        |  <ex:Person rdf:ID="alice">
        |    <ex:knows rdf:resource="http://ex.org/bob"/>
        |    <ex:pet><ex:Cat rdf:about="cats/tom"/></ex:pet>
        |  </ex:Person>
        |</rdf:RDF>""".stripMargin
    val qs = RdfXml.parse(doc).map(q => (q.subject, q.predicate.value, q.obj)).toSet
    val alice = Iri("http://base.org/doc#alice")
    assert(qs.contains((alice, Rdf.type_, Iri("http://ex.org/Person"))))
    assert(qs.contains((alice, "http://ex.org/knows", Iri("http://ex.org/bob"))))
    val tom = Iri("http://base.org/cats/tom")
    assert(qs.contains((tom, Rdf.type_, Iri("http://ex.org/Cat"))))
    assert(qs.contains((alice, "http://ex.org/pet", tom)))
    assert(qs.size == 4)
  }

  test("parseType Resource / Collection / Literal and rdf:li") {
    val doc =
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:ex="http://ex.org/">
        |  <rdf:Description rdf:about="http://ex.org/s">
        |    <ex:addr rdf:parseType="Resource">
        |      <ex:city>Graz</ex:city>
        |    </ex:addr>
        |    <ex:list rdf:parseType="Collection">
        |      <rdf:Description rdf:about="http://ex.org/a"/>
        |      <rdf:Description rdf:about="http://ex.org/b"/>
        |    </ex:list>
        |    <ex:xml rdf:parseType="Literal"><b>bold</b> text</ex:xml>
        |    <rdf:li>one</rdf:li>
        |    <rdf:li>two</rdf:li>
        |  </rdf:Description>
        |</rdf:RDF>""".stripMargin
    val qs = RdfXml.parse(doc)
    val s = Iri("http://ex.org/s")
    val byPred = qs.groupBy(_.predicate.value)
    // parseType=Resource: bnode with city triple
    val addr = byPred("http://ex.org/addr").head.obj
    assert(addr.isInstanceOf[BNode])
    assert(qs.exists(q => q.subject == addr && q.predicate.value == "http://ex.org/city" &&
      q.obj == Lit("Graz", Xsd.string, None)))
    // collection: first/rest chain ending in nil
    val head = byPred("http://ex.org/list").head.obj
    val firsts = qs.filter(_.predicate.value == Rdf.first).map(_.obj).toSet
    assert(firsts == Set(Iri("http://ex.org/a"), Iri("http://ex.org/b")))
    assert(qs.count(_.predicate.value == Rdf.rest) == 2)
    assert(qs.exists(q => q.predicate.value == Rdf.rest && q.obj == Iri(Rdf.nil)))
    assert(head.isInstanceOf[BNode])
    // XMLLiteral
    val xml = byPred("http://ex.org/xml").head.obj.asInstanceOf[Lit]
    assert(xml.datatype.endsWith("XMLLiteral"))
    assert(xml.lexical.contains("<b>bold</b>"))
    // li ordinals
    assert(byPred("http://www.w3.org/1999/02/22-rdf-syntax-ns#_1").head.obj ==
      Lit("one", Xsd.string, None))
    assert(byPred("http://www.w3.org/1999/02/22-rdf-syntax-ns#_2").head.obj ==
      Lit("two", Xsd.string, None))
    assert(byPred.keys.forall(_ != null))
    assert(qs.forall(_.subject != null))
    // datatyped + lang handling elsewhere covered by fixtures
    assert(s == Iri("http://ex.org/s"))
  }

  test("xml:lang inheritance and property attributes on node element") {
    val doc =
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:ex="http://ex.org/">
        |  <rdf:Description rdf:about="http://ex.org/s" xml:lang="EN-us" ex:note="hi">
        |    <ex:label>hello</ex:label>
        |    <ex:label xml:lang="de">hallo</ex:label>
        |  </rdf:Description>
        |</rdf:RDF>""".stripMargin
    val qs = RdfXml.parse(doc).map(q => (q.predicate.value, q.obj)).toSet
    assert(qs.contains(("http://ex.org/note", Lit("hi", Rdf.langString, Some("en-us")))))
    assert(qs.contains(("http://ex.org/label", Lit("hello", Rdf.langString, Some("en-us")))))
    assert(qs.contains(("http://ex.org/label", Lit("hallo", Rdf.langString, Some("de")))))
  }

  test("QuadStore.loadFile dispatches .rdf and SPARQL runs over it") {
    val tmp = java.nio.file.Files.createTempFile("graft", ".rdf")
    java.nio.file.Files.writeString(tmp,
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:ex="http://ex.org/">
        |  <rdf:Description rdf:about="http://ex.org/s"><ex:p>v1</ex:p></rdf:Description>
        |  <rdf:Description rdf:about="http://ex.org/t"><ex:p>v2</ex:p></rdf:Description>
        |</rdf:RDF>""".stripMargin)
    val store = QuadStore.loadFile(spark, tmp.toString)
    val res = graft.engine.Graft(store.quads).select(
      "SELECT ?o WHERE { ?s <http://ex.org/p> ?o } ORDER BY ?o")
    assert(lex(res, "o") == Seq("v1", "v2"))
  }
}
