package graft

import scala.util.Random
import graft.engine.{Graft, Rewriter}
import graft.model._
import graft.sources.{NTriples, Turtle}

/** `p+`/`p*` through the KleenePlus operator on both sides of its byte budget:
  * the in-task breadth-first walk over a broadcast adjacency, and the
  * semi-naive loop forced through `spark.sql.autoBroadcastJoinThreshold`.
  * Under that forced budget the loop's first full-closure round shuffles
  * (its front is every edge) while a seeded walk's few-row fronts are
  * broadcast, so the random cases run both sides of the loop's per-round
  * gate. Seeded random graphs with cycles, self-loops, a literal node and two
  * named graphs; every shape must equal the naive evaluator ([[NaivePaths]])
  * on both sides. Also pins the job counts: plan construction runs none. */
class KleenePlusSpec extends SparkSpec {

  import NaivePaths._

  private val iris: Seq[Iri] = (0 until 7).map(i => Iri(s"urn:n$i"))
  private val nodes: Seq[RdfTerm] = iris :+ Lit("7", Xsd.integer, None)
  private val preds = Seq(Iri("urn:p0"), Iri("urn:p1"))
  private val graphs: Seq[Option[Iri]] = Seq(None, Some(Iri("urn:g1")), Some(Iri("urn:g2")))

  /** Random edges over every graph, each graph with a planted cycle and self-loop. */
  private def randomQuads(rnd: Random): Seq[RdfQuad] = {
    val random = Seq.fill(18 + rnd.nextInt(8))(RdfQuad(graphs(rnd.nextInt(graphs.size)),
      iris(rnd.nextInt(iris.size)), preds(rnd.nextInt(preds.size)), nodes(rnd.nextInt(nodes.size))))
    val planted = graphs.flatMap { g =>
      val Seq(a, b, c, d) = Seq.fill(4)(iris(rnd.nextInt(iris.size)))
      Seq((a, b), (b, c), (c, a), (d, d)).map { case (s, o) => RdfQuad(g, s, preds(0), o) }
    }
    (random ++ planted).distinct
  }

  private def sparql(t: RdfTerm): String = t match {
    case Iri(v) => s"<$v>"
    case Lit(v, dt, _) => s""""$v"^^<$dt>"""
    case other => fail(s"no syntax for $other")
  }

  private def lexical(t: RdfTerm): String = t match {
    case Iri(v) => v
    case Lit(v, _, _) => v
    case other => other.toString
  }

  private def answers(g: Graft, q: String, vars: Seq[String]): Seq[String] =
    g.select(q).collect().toSeq
      .map(r => vars.map(v => r.getStruct(r.fieldIndex(v)).getString(1)).mkString(" ")).sorted

  private def randomCase(seed: Int): Unit = {
    val rnd = new Random(seed)
    val quads = randomQuads(rnd)
    val g = Graft(Turtle.quadsToDF(spark, quads))
    val inner = randomPath(rnd, preds, depth = 1, closureBudget = 0)
    val start = iris(rnd.nextInt(iris.size))
    val end = nodes(rnd.nextInt(nodes.size))
    val named = seed % 2 == 1 // GRAPH ?g { … } on odd seeds, the default graph on even ones
    for (path <- Seq(PPlus(inner), PStar(inner)); shape <- 0 to 2) {
      val (pat, vars) = shape match {
        case 0 => (s"?x ${render(path)} ?y", Seq("x", "y"))
        case 1 => (s"${sparql(start)} ${render(path)} ?y", Seq("y"))
        case _ => (s"?x ${render(path)} ${sparql(end)}", Seq("x"))
      }
      val q =
        if (named) s"SELECT ?g ${vars.map("?" + _).mkString(" ")} WHERE { GRAPH ?g { $pat } }"
        else s"SELECT ${vars.map("?" + _).mkString(" ")} WHERE { $pat }"
      val expect = graphs.filter(_.isDefined == named).flatMap { gr =>
        val triples = quads.filter(_.graph == gr).map(x => (x.subject, x.predicate, x.obj))
        val pairs = evalP(triples, path)
        val rows = shape match {
          case 0 => pairs.map { case (s, o) => Seq(s, o) }
          case 1 => pairs.collect { case (s, o) if s == start => Seq(o) }
          case _ => pairs.collect { case (s, o) if o == end => Seq(s) }
        }
        rows.map(r => (gr.toSeq ++ r).map(lexical).mkString(" "))
      }.sorted
      val walked = answers(g, q, (if (named) Seq("g") else Nil) ++ vars)
      val looped = onLoop(answers(g, q, (if (named) Seq("g") else Nil) ++ vars))
      val ctx = s"seed=$seed\nquery=$q\nquads=${quads.mkString("; ")}"
      assert(walked == expect, s"walk\n$ctx\ngot=$walked\nexpect=$expect")
      assert(looped == expect, s"loop\n$ctx\ngot=$looped\nexpect=$expect")
    }
  }

  test("walk and loop both match the naive evaluator on random graphs") {
    (700 to 703).foreach(randomCase)
  }

  private val EX = "http://ex.org/"

  test("building and explaining a p+ query runs no job; running it under the budget at most 5") {
    val store = QuadStore(NTriples.fromString(spark,
      (1 to 30).map(i => s"<${EX}n$i> <${EX}next> <${EX}n${i % 30 + 1}> .").mkString("\n")))
    for ((q, rows) <- Seq(s"SELECT ?x ?y WHERE { ?x <${EX}next>+ ?y }" -> 900,
                         s"SELECT ?y WHERE { <${EX}n3> <${EX}next>+ ?y }" -> 30)) {
      Rewriter.clearClosureCache()
      val (df, built) = jobs(store.query(q))
      assert(built == 0, q)
      val (_, explained) = jobs(store.explain(q))
      assert(explained == 0, q)
      val (got, ran) = jobs(df.collect())
      assert(got.length == rows, q)
      assert(ran <= 5, s"$q ran $ran jobs")
    }
  }

  test("a path over a parquet-backed store runs inside a generated stage") {
    // the operator's plan is shipped with the stage's generated code, and a
    // file-backed edge relation holds a non-serialisable file index
    val dir = java.nio.file.Files.createTempDirectory("kleeneplus").resolve("store").toString
    QuadStore(NTriples.fromString(spark, ((1 to 5).map(i => s"<${EX}n$i> <${EX}next> <${EX}n${i + 1}> .") ++
      (1 to 6).map(i => s"<${EX}n$i> <${EX}name> \"N$i\" .")).mkString("\n"))).save(dir)
    val store = QuadStore.load(spark, dir)
    Rewriter.clearClosureCache()
    for (budget <- Seq("10485760", "100")) withThreshold(budget) {
      val df = store.query(s"SELECT ?x ?n WHERE { ?x <${EX}next>+ ?y . ?y <${EX}name> ?n }")
      assert(df.collect().length == 15, s"budget $budget")
    }
  }

  test("the 120-hop chain closes on the semi-naive loop with the budget forced low") {
    val n = 120
    val g = Graft(NTriples.fromString(spark,
      (1 to n).map(i => s"<${EX}c$i> <${EX}next> <${EX}c${i + 1}> .").mkString("\n")))
    Rewriter.clearClosureCache()
    val q = s"SELECT (COUNT(?y) AS ?c) WHERE { <${EX}c1> <${EX}next>+ ?y }"
    val (c, ran) = onLoop(jobs(lex(g.select(q), "c")))
    assert(c == Seq(n.toString))
    assert(ran > 5, s"the loop ran only $ran jobs")
  }
}
