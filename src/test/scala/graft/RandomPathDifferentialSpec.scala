package graft

import graft.engine.Graft
import graft.model._
import graft.sources.Turtle

/**
 * Randomised property-path differential: random small graphs × random path
 * expressions (link, `^`, `/`, `|`, `!(…)`, `+`, `*`), evaluated by the
 * engine and by a naive driver-side evaluator implementing the SPARQL 1.1
 * path semantics directly — bag semantics for sequence/alternative, SET
 * (ALP) semantics for the closures, zero-length paths matching every graph
 * node. Complements the curated fixtures with unbiased nesting (closure of
 * a sequence, reversed negated sets, alternatives under `+`…). `p?` is left
 * to the curated tests (its cardinality rules are pinned there). Seeds
 * fixed — reproducible.
 */
class RandomPathDifferentialSpec extends SparkSpec {

  import NaivePaths._

  private def randomCase(seed: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    val nodes = (0 until 5).map(i => Iri(s"urn:n$i"))
    val preds = (0 until 3).map(i => Iri(s"urn:p$i"))
    val triples: Seq[(RdfTerm, Iri, RdfTerm)] = Seq.fill(10 + rnd.nextInt(8))(
      (nodes(rnd.nextInt(nodes.size)): RdfTerm, preds(rnd.nextInt(preds.size)),
        nodes(rnd.nextInt(nodes.size)): RdfTerm)).distinct
    val quads = Turtle.quadsToDF(spark, triples.map(t => RdfQuad(None, t._1, t._2, t._3)))
    val path = randomPath(rnd, preds, depth = 2, closureBudget = 1)
    // endpoints: both vars / constant start / constant end
    val shape = rnd.nextInt(3)
    val start = nodes(rnd.nextInt(nodes.size))
    val end = nodes(rnd.nextInt(nodes.size))
    val (pat, sel) = shape match {
      case 0 => (s"?x ${render(path)} ?y", Seq("x", "y"))
      case 1 => (s"<${start.value}> ${render(path)} ?y", Seq("y"))
      case 2 => (s"?x ${render(path)} <${end.value}>", Seq("x"))
    }
    val q = s"SELECT ${sel.map("?" + _).mkString(" ")} WHERE { $pat }"

    val got = Graft(quads).select(q).collect().toSeq.map { r =>
      sel.map { v =>
        val i = r.fieldIndex(v)
        if (r.isNullAt(i)) "∅" else r.getStruct(i).getString(1)
      }.mkString(" ")
    }.sorted

    val pairs = evalP(triples, path)
    val expect = (shape match {
      case 0 => pairs.map { case (s, o) => Seq(s, o) }
      case 1 => pairs.collect { case (s, o) if s == start => Seq(o) }
      case 2 => pairs.collect { case (s, o) if o == end => Seq(s) }
    }).map(_.map { case Iri(x) => x; case o => o.toString }.mkString(" ")).sorted

    assert(got == expect,
      s"seed=$seed\nquery=$q\ntriples=${triples.mkString("; ")}\ngot=$got\nexpect=$expect")
  }

  test("engine matches naive path evaluator on 25 random path cases") {
    (500 to 524).foreach(randomCase)
  }

  /** GRAPH-scoped paths: closure must stay inside each named graph and the
    * graph var must bind — the per-graph scoping is the subtle half of the
    * closure operator (the reference keys its reachability sets by graph,
    * kleene_plus/physical.rs). */
  private def randomGraphPathCase(seed: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    val nodes = (0 until 4).map(i => Iri(s"urn:n$i"))
    val preds = (0 until 2).map(i => Iri(s"urn:p$i"))
    val graphs = Seq(Iri("urn:g1"), Iri("urn:g2"))
    val quadList = Seq.fill(12 + rnd.nextInt(6))(
      (graphs(rnd.nextInt(graphs.size)),
        nodes(rnd.nextInt(nodes.size)): RdfTerm, preds(rnd.nextInt(preds.size)),
        nodes(rnd.nextInt(nodes.size)): RdfTerm)).distinct
    val quads = Turtle.quadsToDF(spark,
      quadList.map(q => RdfQuad(Some(q._1), q._2, q._3, q._4)))
    val path = randomPath(rnd, preds, depth = 2, closureBudget = 1)
    val q = s"SELECT ?g ?x ?y WHERE { GRAPH ?g { ?x ${render(path)} ?y } }"

    val got = Graft(quads).select(q).collect().toSeq.map { r =>
      Seq("g", "x", "y").map { v =>
        val i = r.fieldIndex(v)
        if (r.isNullAt(i)) "∅" else r.getStruct(i).getString(1)
      }.mkString(" ")
    }.sorted

    val expect = graphs.flatMap { g =>
      val t = quadList.collect { case (gg, s, p, o) if gg == g => (s, p, o) }
      evalP(t, path).map { case (s, o) =>
        Seq(g, s, o).map { case Iri(x) => x; case other => other.toString }.mkString(" ")
      }
    }.sorted
    assert(got == expect,
      s"seed=$seed\nquery=$q\nquads=${quadList.mkString("; ")}\ngot=$got\nexpect=$expect")
  }

  test("engine matches naive path evaluator on 15 random GRAPH-scoped path cases") {
    (600 to 614).foreach(randomGraphPathCase)
  }
}
