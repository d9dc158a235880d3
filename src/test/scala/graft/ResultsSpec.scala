package graft

import java.nio.file.Files
import graft.engine.{Graft, Results}
import graft.sources.NTriples
import graft.testkit.TestSuite

/** Result serialisation: golden documents for every format, round-trips
  * through our own readers, and JSON/CSV/TSV shape checks. */
class ResultsSpec extends SparkSpec {

  private val EX = "http://ex.org/"

  lazy val df = Graft(NTriples.fromString(spark,
    s"""<${EX}a> <${EX}name> "Al \\"ice\\"" .
       |<${EX}a> <${EX}age> "30"^^<http://www.w3.org/2001/XMLSchema#integer> .
       |<${EX}b> <${EX}name> "Bob"@en .
       |""".stripMargin))
    .select(s"""SELECT ?s ?n WHERE { ?s <${EX}name> ?n } ORDER BY ?n""")

  test("SRX round-trips through our own reader") {
    val xml = Results.toXml(df)
    val tmp = Files.createTempFile("res", ".srx")
    Files.writeString(tmp, xml)
    TestSuite.readSrx(tmp) match {
      case TestSuite.ExpectedSolutions(vars, rows, _) =>
        assert(vars.toSet == Set("s", "n"))
        assert(rows.size == 2)
        assert(rows.exists(_.get("n").exists {
          case graft.model.Lit(v, _, Some("en")) => v == "Bob"
          case _ => false
        }))
        assert(rows.exists(_.get("n").exists {
          case graft.model.Lit(v, _, None) => v == "Al \"ice\""
          case _ => false
        }))
      case other => fail(s"unexpected $other")
    }
  }

  test("JSON contains typed bindings") {
    val j = Results.toJson(df)
    assert(j.contains(""""type":"uri","value":"http://ex.org/a""""))
    assert(j.contains(""""xml:lang":"en""""))
    assert(j.startsWith("""{"head":{"vars":["""))
    assert(Results.booleanJson(true) == """{"head":{},"boolean":true}""")
  }

  test("CSV quotes and TSV full term syntax") {
    val csv = Results.csvString(df)
    assert(csv.startsWith("s,n\r\n"))
    assert(csv.contains("\"Al \"\"ice\"\"\""))
    val tsv = Results.tsvString(df)
    assert(tsv.startsWith("?s\t?n\n"))
    assert(tsv.contains("<http://ex.org/b>\t\"Bob\"@en"))
  }

  private def solutionsOf(r: Results.ReadResult): Seq[Map[String, graft.model.RdfTerm]] =
    (r: @unchecked) match {
      case Results.ReadSolutions(vars, rws) =>
        assert(vars == ResultsGolden.vars)
        rws
    }

  test("every format renders its golden document byte for byte") {
    val g = ResultsGolden.frame(spark)
    assert(Results.toJson(g) == ResultsGolden.read("golden.srj"))
    assert(Results.toXml(ResultsGolden.frame(spark, ResultsGolden.xmlSolutions)) ==
      ResultsGolden.read("golden.srx"))
    assert(Results.csvString(g) == ResultsGolden.read("golden.csv"))
    assert(Results.tsvString(g) == ResultsGolden.read("golden.tsv"))
    val nq = NTriples.toNQuadLines(ResultsGolden.quadFrame(spark)).collect().map(_.getString(0))
    assert(nq.map(_ + "\n").mkString == ResultsGolden.read("golden.nq"))
  }

  test("the distributed line frames carry the documents' lines") {
    val g = ResultsGolden.frame(spark)
    def body(lines: org.apache.spark.sql.DataFrame) = lines.collect().map(_.getString(0)).toSeq
    assert(ResultsGolden.read("golden.srj") ==
      Results.jsonHead(ResultsGolden.vars) + body(Results.toJsonLines(g)).mkString(",") + Results.JsonTail)
    assert(ResultsGolden.read("golden.srx") == Results.xmlHead(ResultsGolden.vars) +
      body(Results.toXmlLines(ResultsGolden.frame(spark, ResultsGolden.xmlSolutions))).map(_ + "\n").mkString +
      Results.XmlTail)
    assert(ResultsGolden.read("golden.csv").split("\r\n", -1).toSeq.slice(1, 5) == body(Results.toCsvLines(g)))
    assert(ResultsGolden.read("golden.tsv").split("\n", -1).toSeq.slice(1, 5) == body(Results.toTsvLines(g)))
  }

  test("golden documents parse back to the same terms") {
    val want = ResultsGolden.bindings(ResultsGolden.solutions)
    assert(solutionsOf(Results.readJson(ResultsGolden.read("golden.srj"))) == want)
    assert(solutionsOf(Results.readTsv(ResultsGolden.read("golden.tsv"))) == want)
    val quads = ResultsGolden.read("golden.nq").split("\n").toSeq.flatMap(NTriples.parseLine(_))
    assert(quads == ResultsGolden.quads.map(q => q.copy(obj = ResultsGolden.norm(q.obj))))
    // CR travels as &#13;, so SRX round-trips every cell XML 1.0 can carry
    val tmp = Files.createTempFile("golden", ".srx")
    Files.writeString(tmp, ResultsGolden.read("golden.srx"))
    TestSuite.readSrx(tmp) match {
      case TestSuite.ExpectedSolutions(vars, rws, _) =>
        assert(vars == ResultsGolden.vars)
        assert(rws == ResultsGolden.bindings(ResultsGolden.xmlSolutions))
      case other => fail(s"unexpected $other")
    }
  }

  test("SRX fails loudly on a control character XML 1.0 cannot carry") {
    def chain(t: Throwable): List[Throwable] = t :: Option(t.getCause).map(chain).getOrElse(Nil)
    for (c <- (0 until 32).map(_.toChar) if c != '\t' && c != '\n' && c != '\r') {
      val frame = ResultsGolden.frame(spark, Seq(Seq(graft.model.Lit(s"a${c}b", null, None))))
      val e = intercept[Exception](Results.toXml(frame))
      assert(chain(e).exists(x => Option(x.getMessage).exists(_.contains(f"U+${c.toInt}%04X"))), e)
    }
  }

  test("TSV escapes tab and CR inside literals and round-trips them") {
    val cells = Seq(graft.model.Lit("a\tb", null, None), graft.model.Lit("c\rd", null, None),
      graft.model.Lit("e\t\r\nf", graft.model.Rdf.langString, Some("en")))
    val tsv = Results.tsvString(ResultsGolden.frame(spark, Seq(cells)))
    assert(tsv == "?v01\t?v02\t?v03\n\"a\\tb\"\t\"c\\rd\"\t\"e\\t\\r\\nf\"@en\n")
    val Results.ReadSolutions(_, back) = Results.readTsv(tsv): @unchecked
    assert(back == ResultsGolden.bindings(Seq(cells)))
  }

  test("CSV quotes a field that holds a CR") {
    val cells = Seq(graft.model.Lit("c\rd", null, None), graft.model.Lit("plain", null, None))
    assert(Results.csvString(ResultsGolden.frame(spark, Seq(cells))) == "v01,v02\r\n\"c\rd\",plain\r\n")
  }
}
