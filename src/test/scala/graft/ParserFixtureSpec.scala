package graft

import graft.model._
import graft.sources.{NTriples, RdfXml, Turtle}
import graft.testkit.TestSuite

/**
 * Parser fixtures in the reference's format (its testsuite/oxigraph-tests/
 * parser, parser-error and parser-recovery), hand-authored under
 * src/test/oxigraph-slice: rdftest-vocabulary manifests driving
 * Turtle/TriG/RDF-XML eval tests (parse → triple/quad set must match the
 * expected N-Triples/N-Quads, blank-node isomorphic), negative syntax tests
 * (parse must reject), an N-Triples positive syntax test, and oxigraph's
 * recovery types (lenient parse → the statements that survive).
 */
class ParserFixtureSpec extends SparkSpec {

  private val roots = Seq(
    "src/test/oxigraph-slice/parser",
    "src/test/oxigraph-slice/parser-error",
    "src/test/oxigraph-slice/parser-recovery")

  /** (dir, type, name, action, result?) entries from a test manifest
    * (rdftest vocabulary + oxigraph's ox: recovery types). */
  private def entries(dirS: String): Seq[(java.nio.file.Path, String, String, String, Option[String])] = {
    val dir = java.nio.file.Paths.get(dirS)
    val text = new String(java.nio.file.Files.readAllBytes(dir.resolve("manifest.ttl")), "UTF-8")
    val quads = Turtle.parse(text)
    val byS = quads.groupBy(_.subject)
    byS.toSeq.flatMap { case (s, qs) =>
      def obj(p: String): Option[RdfTerm] =
        qs.find(_.predicate.value.endsWith(p)).map(_.obj)
      for {
        t <- obj("#type").collect {
          case Iri(v) if v.contains("rdftest#") || v.contains("oxigraph/tests#") =>
            v.split("#").last
        } if t != "Manifest"
        action <- obj("action").collect { case Iri(v) => v }
      } yield {
        val name = obj("name").collect { case Lit(v, _, _) => v }.getOrElse(action)
        (dir, t, name, action, obj("result").collect { case Iri(v) => v })
      }
    }.sortBy(_._3)
  }

  private def fileText(dir: java.nio.file.Path, iri: String): String =
    new String(java.nio.file.Files.readAllBytes(dir.resolve(iri.split("/").last)), "UTF-8")

  private def quadRows(qs: Seq[RdfQuad]): Seq[Map[String, RdfTerm]] =
    qs.map { q =>
      Map("subject" -> q.subject, "predicate" -> (q.predicate: RdfTerm), "object" -> q.obj) ++
        q.graph.map("graph" -> _)
    }

  private def parseBy(tpe: String, text: String): Seq[RdfQuad] = tpe match {
    case "TestTurtleEval" | "TestTrigEval" | "TestTurtleNegativeSyntax" |
         "TestTrigNegativeSyntax" => Turtle.parse(text)
    case "TestXMLEval" | "TestXMLNegativeSyntax" => RdfXml.parse(text)
    case "TestNTriplesPositiveSyntax" =>
      text.linesIterator.flatMap(NTriples.parseLine(_)).toSeq
    case "TestNTripleRecovery" | "TestNQuadRecovery" =>
      text.linesIterator.flatMap(NTriples.parseLineRecovering).toSeq
    case "TestTurtleRecovery" | "TestN3Recovery" => Turtle.parseRecovering(text)
    case other => throw new IllegalArgumentException(s"unhandled test type $other")
  }

  roots.flatMap(entries).foreach { case (dir, tpe, name, action, result) =>
    test(s"$tpe: $name [${action.split("/").last}]") {
      val text = fileText(dir, action)
      if (tpe.contains("NegativeSyntax")) {
        intercept[Exception](parseBy(tpe, text))
      } else if (tpe.contains("PositiveSyntax")) {
        parseBy(tpe, text) // must not throw
      } else {
        val actual = parseBy(tpe, text)
        val expText = fileText(dir, result.getOrElse(fail("eval test without result")))
        val expected = expText.linesIterator.flatMap(NTriples.parseLine(_)).toSeq
        assert(TestSuite.solutionsEqual(quadRows(actual), quadRows(expected), ordered = false),
          s"parse mismatch:\nactual  =$actual\nexpected=$expected")
      }
    }
  }
}
