package graft

import graft.engine.Results
import graft.model._
import graft.sources.Turtle
import graft.testkit.TestSuite

/**
 * A sparql-results fixture corpus in the reference's format (its
 * oxigraph-tests/sparql-results), hand-authored under
 * src/test/oxigraph-slice/sparql-results: strictness and tolerance of the
 * SRJ/SRX/TSV result READERS — duplicated head variables must be rejected; unknown
 * keys/attributes, late heads, and the legacy "typed-literal" type must be
 * tolerated, with eval tests comparing against an expected document.
 */
class SparqlResultsFixtureSpec extends SparkSpec {

  private val dir = java.nio.file.Paths.get("src/test/oxigraph-slice/sparql-results")

  private def entries: Seq[(String, String, String, Option[String])] = {
    val text = new String(java.nio.file.Files.readAllBytes(dir.resolve("manifest.ttl")), "UTF-8")
    Turtle.parse(text).groupBy(_.subject).toSeq.flatMap { case (_, qs) =>
      def obj(p: String): Option[RdfTerm] =
        qs.find(_.predicate.value.endsWith(p)).map(_.obj)
      for {
        t <- obj("#type").collect {
          case Iri(v) if v.contains("oxigraph/tests#") => v.split("#").last
        }
        action <- obj("action").collect { case Iri(v) => v }
      } yield {
        val name = obj("name").collect { case Lit(v, _, _) => v }.getOrElse(action)
        (t, name, action.split("/").last, obj("result").collect { case Iri(v) => v.split("/").last })
      }
    }.sortBy(_._2)
  }

  private def text(f: String): String =
    new String(java.nio.file.Files.readAllBytes(dir.resolve(f)), "UTF-8")

  private def readBy(tpe: String, f: String): Results.ReadResult =
    if (tpe.contains("Json")) Results.readJson(text(f))
    else if (tpe.contains("Tsv")) Results.readTsv(text(f))
    else TestSuite.readSrx(dir.resolve(f)) match {
      case TestSuite.ExpectedBoolean(b) => Results.ReadBoolean(b)
      case TestSuite.ExpectedSolutions(vars, rows, _) => Results.ReadSolutions(vars, rows)
    }

  entries.foreach { case (tpe, name, action, result) =>
    test(s"$tpe: $name [$action]") {
      if (tpe.startsWith("Negative")) {
        intercept[Exception](readBy(tpe, action))
      } else {
        val actual = readBy(tpe, action)
        result.foreach { expFile =>
          val expected = readBy(tpe, expFile)
          (actual, expected) match {
            case (Results.ReadSolutions(av, ar), Results.ReadSolutions(ev, er)) =>
              assert(av.toSet == ev.toSet, "vars mismatch")
              assert(TestSuite.solutionsEqual(ar, er, ordered = false),
                s"solutions mismatch:\nactual  =$ar\nexpected=$er")
            case (a, e) => assert(a == e)
          }
        }
      }
    }
  }
}
