package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.gen.{BsbmTemplates, WindFarmQueries}
import graft.sparql.SparqlParser

/** Parses every benchmark query text the repository holds — the BSBM Explore,
  * Business Intelligence, path and update templates the benchmark runs
  * (`perfbench/templates`, filled by `BsbmTemplates`) and the Wind Farm texts
  * (`WindFarmQueries`): the grammar must cover real-world benchmark SPARQL,
  * not just the regression corpus. */
class BenchQueryParseSpec extends AnyFunSuite {

  /** (name, text, is an update) */
  private val texts: Seq[(String, String, Boolean)] =
    Seq("explore", "bi", "path", "update").flatMap { g =>
      BsbmTemplates.files(g).map(f =>
        (s"$g/${f.getFileName}", BsbmTemplates.fill(f), g == "update"))
    } ++ WindFarmQueries.texts.map { case (k, t) => (s"wind-farm-$k.sparql", t, false) }

  texts.foreach { case (name, text, isUpdate) =>
    test(s"parses $name") {
      val q = if (isUpdate) SparqlParser.parseUpdate(text) else SparqlParser.parse(text)
      assert(q != null)
    }
  }

  test("found the benchmark query corpus") {
    assert(texts.size >= 25, s"only ${texts.size} queries found")
  }
}
