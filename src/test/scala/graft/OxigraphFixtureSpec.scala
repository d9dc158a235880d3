package graft

import java.nio.file.{Files, Path, Paths}
import graft.engine.Graft
import graft.model._
import graft.sources.Turtle
import graft.sparql.SparqlParser
import graft.testkit.TestSuite
import graft.testkit.TestSuite._

/**
 * Regression fixtures in the format of the reference repo's own
 * (testsuite/{oxigraph-tests,rdf-fusion-tests}/sparql and
 * oxigraph-tests/geosparql), hand-authored under src/test/oxigraph-slice,
 * run through our engine via the W3C-style manifest harness. Mirrors the
 * reference's testsuite/tests/oxigraph.rs + rdf_fusion.rs entry points.
 */
class OxigraphFixtureSpec extends SparkSpec {

  private val roots = Seq(
    "src/test/oxigraph-slice/sparql/manifest.ttl",
    "src/test/oxigraph-slice/rdf-fusion-sparql/manifest.ttl",
    // GeoSPARQL: the reference IGNORES this suite ("not yet implemented",
    // testsuite/tests/oxigraph.rs:26-33); we run and pass it (graft.geo)
    "src/test/oxigraph-slice/geosparql/manifest.ttl")

  private def allTests: Seq[Test] = {
    def walk(m: Path, seen: Set[Path]): Seq[Test] = {
      if (seen(m) || !Files.exists(m)) return Nil
      val (tests, includes) = TestSuite.load(m)
      tests ++ includes.flatMap(i => walk(i, seen + m))
    }
    roots.map(Paths.get(_)).filter(Files.exists(_)).flatMap(walk(_, Set.empty))
  }

  private def readData(t: QueryEvalTest) = {
    val dfs = (t.data.toSeq ++ t.graphData).map { p =>
      val df = Turtle.read(spark, p.toString)
      df
    }
    if (dfs.isEmpty) Turtle.quadsToDF(spark, Nil) else dfs.reduce(_ unionAll _)
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[Map[String, RdfTerm]] = {
    val cols = df.columns
    df.collect().toSeq.map { r =>
      cols.zipWithIndex.flatMap { case (c, i) =>
        Option(r.getStruct(i)).map { st =>
          val t = st.getByte(0) match {
            case 0 => Iri(st.getString(1))
            case 1 => BNode(st.getString(1))
            case _ => Lit(st.getString(1),
              Option(st.getString(2)).getOrElse(
                if (st.getString(3) != null) Rdf.langString else Xsd.string),
              Option(st.getString(3)))
          }
          c -> t
        }
      }.toMap
    }
  }

  allTests.foreach {
    case t: SyntaxTest =>
      test(s"syntax: ${t.name}") {
        val text = new String(Files.readAllBytes(t.query), java.nio.charset.StandardCharsets.UTF_8)
        def parse(): Any =
          if (t.isUpdate) SparqlParser.parseUpdate(text) else SparqlParser.parse(text)
        if (t.positive) parse()
        else assertThrows[Exception](parse())
      }
    case t: QueryEvalTest =>
      test(s"eval: ${t.name}") {
        val text = new String(Files.readAllBytes(t.query), java.nio.charset.StandardCharsets.UTF_8)
        val g = Graft(readData(t))
        val resultFile = t.result.getOrElse(fail("no result file"))
        val fname = resultFile.getFileName.toString
        if (fname.endsWith(".srx")) {
          TestSuite.readSrx(resultFile) match {
            case ExpectedBoolean(b) =>
              assert(g.askBoolean(text) == b, s"ASK mismatch, expected $b")
            case ExpectedSolutions(_, expRows, ordered) =>
              val actual = rowsOf(g.query(text))
              // only a TOP-LEVEL ORDER BY (after the last '}') orders results;
              // a subselect's ORDER BY does not order the outer query
              val isOrdered = text.substring(text.lastIndexOf('}') + 1).toUpperCase.contains("ORDER BY")
              assert(TestSuite.solutionsEqual(actual, expRows, isOrdered),
                s"solutions mismatch:\nactual  =${actual.take(8)}\nexpected=${expRows.take(8)}")
          }
        } else if (fname.endsWith(".ttl") || fname.endsWith(".nt")) {
          val expected = Turtle.parse(new String(Files.readAllBytes(resultFile),
            java.nio.charset.StandardCharsets.UTF_8))
          TestSuite.readRsResultSet(expected) match {
            case Some(ExpectedBoolean(b)) =>
              assert(g.askBoolean(text) == b, s"ASK mismatch, expected $b")
            case Some(ExpectedSolutions(_, expRows, ordered)) =>
              val actual = rowsOf(g.query(text))
              assert(TestSuite.solutionsEqual(actual, expRows, ordered),
                s"solutions mismatch:\nactual  =${actual.take(12)}\nexpected=${expRows.take(12)}")
            case None =>
              // CONSTRUCT/DESCRIBE: compare triple sets with bnode isomorphism
              val expRows = expected.map(q => Map("subject" -> q.subject,
                "predicate" -> (q.predicate: RdfTerm), "object" -> q.obj))
              val actual = rowsOf(g.query(text))
              assert(TestSuite.solutionsEqual(actual, expRows),
                s"graph mismatch:\nactual  =${actual.take(8)}\nexpected=${expRows.take(8)}")
          }
        } else fail(s"unsupported result format $fname")
      }
  }

  test("manifest discovered a useful number of tests") {
    assert(allTests.size >= 25, s"only ${allTests.size} tests found")
  }
}
