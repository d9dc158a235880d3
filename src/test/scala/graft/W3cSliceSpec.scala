package graft

import java.nio.file.{Files, Path, Paths}
import graft.engine.Graft
import graft.model._
import graft.sources.Turtle
import graft.testkit.TestSuite
import graft.testkit.TestSuite._

/**
 * W3C-style SPARQL 1.1 query-evaluation slice (src/test/w3c-slice).
 *
 * The reference's backbone test layer runs the W3C rdf-tests manifests
 * (/root/reference/testsuite/tests/sparql.rs:6-44), but the rdf-tests
 * submodule is EMPTY in the reference snapshot and this environment has no
 * network egress, so the published files cannot be vendored verbatim.
 * This slice is hand-authored in the same manifest/query/srx format,
 * covering the same evaluation areas the W3C suite exercises — aggregates
 * (incl. empty-group and error poisoning), BIND/project expressions,
 * EXISTS/NOT EXISTS/MINUS (incl. the disjoint-domain no-op), property
 * paths (sequence/alt/inverse/negated-set/closures incl. cycles),
 * subqueries, functional forms, VALUES with UNDEF, OPTIONAL with inner
 * filters, and ORDER/DISTINCT/LIMIT/OFFSET — with hand-computed expected
 * results.
 */
abstract class W3cSlice(core: Boolean) extends SparkSpec {

  private val root = Paths.get("src/test/w3c-slice/manifest.ttl")

  private def allTests: Seq[Test] = {
    def walk(m: Path, seen: Set[Path]): Seq[Test] = {
      if (seen(m) || !Files.exists(m)) return Nil
      val (tests, includes) = TestSuite.load(m)
      tests ++ includes.flatMap(i => walk(i, seen + m))
    }
    walk(root, Set.empty)
  }

  private def readData(t: QueryEvalTest) = {
    val default = t.data.toSeq.map(p => Turtle.read(spark, p.toString))
    // W3C convention: each qt:graphData file loads into a NAMED graph whose
    // IRI derives from the file; the slice pins it as http://example.org/g/<name>
    val named = t.graphData.map { p =>
      val iri = Iri("http://example.org/g/" + p.getFileName.toString)
      val quads = Turtle.parse(
        new String(Files.readAllBytes(p), java.nio.charset.StandardCharsets.UTF_8))
        .map(q => q.copy(graph = Some(iri)))
      Turtle.quadsToDF(spark, quads)
    }
    val dfs = default ++ named
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

  /** Graph equality modulo a blank-node bijection: backtracking label match
    * (slice graphs are small, so the exponential worst case is irrelevant). */
  private def isomorphic(a: Set[(RdfTerm, RdfTerm, RdfTerm)],
                         b: Set[(RdfTerm, RdfTerm, RdfTerm)]): Boolean = {
    if (a.size != b.size) return false
    def bnodes(g: Set[(RdfTerm, RdfTerm, RdfTerm)]): Seq[String] =
      g.toSeq.flatMap(t => Seq(t._1, t._2, t._3)).collect { case BNode(x) => x }.distinct
    val (aBn, bBn) = (bnodes(a), bnodes(b))
    if (aBn.size != bBn.size) return false
    def subst(t: RdfTerm, m: Map[String, String]): RdfTerm = t match {
      case BNode(x) => BNode(m.getOrElse(x, x))
      case other => other
    }
    def applyM(m: Map[String, String]): Set[(RdfTerm, RdfTerm, RdfTerm)] =
      a.map(t => (subst(t._1, m), subst(t._2, m), subst(t._3, m)))
    def search(rest: Seq[String], used: Set[String], m: Map[String, String]): Boolean =
      rest match {
        case Seq() => applyM(m) == b
        case x +: tail =>
          bBn.exists(y => !used(y) && search(tail, used + y, m + (x -> y)))
      }
    search(aBn, Set.empty, Map.empty)
  }

  assert(allTests.nonEmpty, "w3c-slice manifest found no tests")
  assert(W3cSlice.Core.subsetOf(allTests.map(_.name).toSet),
    s"core cases missing from the manifest: ${W3cSlice.Core -- allTests.map(_.name)}")

  allTests.filter(t => W3cSlice.Core(t.name) == core).foreach {
    case t: QueryEvalTest =>
      test(s"w3c-slice: ${t.name}") {
        val text = new String(Files.readAllBytes(t.query), java.nio.charset.StandardCharsets.UTF_8)
        val g = Graft(readData(t))
        val resultFile = t.result.getOrElse(fail("no result file"))
        if (resultFile.toString.endsWith(".ttl")) {
          // CONSTRUCT test: compare graphs modulo blank-node isomorphism
          // (template bnodes get per-solution generated labels)
          val expected = Turtle.parse(
            new String(Files.readAllBytes(resultFile), java.nio.charset.StandardCharsets.UTF_8))
            .map(q => (q.subject, q.predicate: RdfTerm, q.obj)).toSet
          val actual = rowsOf(g.query(text))
            .map(m => (m("subject"), m("predicate"), m("object"))).toSet
          assert(isomorphic(actual, expected),
            s"graph mismatch (modulo bnode bijection):\nactual  =$actual\nexpected=$expected")
        } else TestSuite.readSrx(resultFile) match {
          case ExpectedBoolean(b) =>
            assert(g.askBoolean(text) == b, s"ASK mismatch, expected $b")
          case ExpectedSolutions(_, expRows, _) =>
            val actual = rowsOf(g.query(text))
            val isOrdered = text.substring(text.lastIndexOf('}') + 1)
              .toUpperCase.contains("ORDER BY")
            assert(TestSuite.solutionsEqual(actual, expRows, isOrdered),
              s"solutions mismatch:\nactual  =${actual.take(8)}\nexpected=${expRows.take(8)}")
        }
      }
    case t: SyntaxTest =>
      test(s"w3c-slice: ${t.name}") {
        val text = new String(Files.readAllBytes(t.query), java.nio.charset.StandardCharsets.UTF_8)
        def parse(): Any =
          if (t.isUpdate) graft.sparql.SparqlParser.parseUpdate(text)
          else graft.sparql.SparqlParser.parse(text)
        if (t.positive) parse() // must not throw
        else {
          val r = scala.util.Try(parse())
          assert(r.isFailure, s"negative syntax test parsed successfully: $text")
        }
      }
    case t: UpdateEvalTest =>
      test(s"w3c-slice: ${t.name}") {
        def read(p: Path): Seq[RdfQuad] = Turtle.parse(
          new String(Files.readAllBytes(p), java.nio.charset.StandardCharsets.UTF_8))
        val pre =
          t.preDefault.toSeq.flatMap(read) ++
          t.preNamed.flatMap { case (g, p) => read(p).map(_.copy(graph = Some(Iri(g)))) }
        val req = new String(Files.readAllBytes(t.request), java.nio.charset.StandardCharsets.UTF_8)
        val updated = QuadStore(Turtle.quadsToDF(spark, pre)).update(req)
        // actual post-state, grouped by graph
        val actual: Map[Option[String], Set[(RdfTerm, RdfTerm, RdfTerm)]] =
          updated.quads.collect().toSeq.map { r =>
            def term(i: Int): RdfTerm = {
              val st = r.getStruct(i)
              st.getByte(0) match {
                case 0 => Iri(st.getString(1))
                case 1 => BNode(st.getString(1))
                case _ => Lit(st.getString(1),
                  Option(st.getString(2)).getOrElse(
                    if (st.getString(3) != null) Rdf.langString else Xsd.string),
                  Option(st.getString(3)))
              }
            }
            val g = Option(r.getStruct(0)).map(_.getString(1))
            (g, (term(1), term(2), term(3)))
          }.groupBy(_._1).map { case (g, ts) => g -> ts.map(_._2).toSet }
        val expected: Map[Option[String], Set[(RdfTerm, RdfTerm, RdfTerm)]] =
          (t.postDefault.toSeq.map(p => (None: Option[String]) -> read(p)) ++
           t.postNamed.map { case (g, p) => (Some(g): Option[String]) -> read(p) })
            .toMap.map { case (g, qs) =>
              g -> qs.map(q => (q.subject, q.predicate: RdfTerm, q.obj)).toSet
            }.filter(_._2.nonEmpty)
        assert(actual.keySet == expected.keySet,
          s"graph sets differ:\nactual  =${actual.keySet}\nexpected=${expected.keySet}")
        expected.foreach { case (g, exp) =>
          assert(isomorphic(actual(g), exp),
            s"graph $g mismatch (modulo bnode bijection):\nactual  =${actual(g)}\nexpected=$exp")
        }
      }
    case t => test(s"w3c-slice: ${t.name}") { fail(s"unexpected test type $t") }
  }
}

object W3cSlice {
  /** About one case per evaluation area: the default gate runs these. */
  val Core: Set[String] = Set(
    "agg_sum_group", "agg_having", "bind_arith", "project_expression",
    "exists_correlated", "notexists_correlated", "minus_shared_var",
    "path_one_or_more", "path_negated_set", "subquery_order_limit",
    "fn_strbefore_after", "dt_extract", "optional_inner_filter",
    "order_multi_key", "distinct_order_by", "values_undef_join",
    "union_scope_padding", "graph_var_enumerate", "from_named_scopes",
    "ask_path_true", "construct_basic", "describe_bound_var",
    "psyn_complex", "nsyn_bare_filter", "upd_insert_data", "upd_delete_where_graph")
}

/** The [[W3cSlice.Core]] cases, in the default gate. */
class W3cSliceCoreSpec extends W3cSlice(core = true)

/** Every other case of the slice: 271 s of the measured 1687 s full-suite
  * runtime (r10 timing run), so a `SlowTest`, outside the default
  * `sbt test` (see build.sbt testOptions). */
@graft.SlowTest
class W3cSliceSpec extends W3cSlice(core = false)
