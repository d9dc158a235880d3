package graft

import org.apache.spark.sql.functions._
import graft.model._
import graft.sources.Turtle

/**
 * Randomised UPDATE differential: random small quad stores × random update
 * requests (INSERT DATA / DELETE DATA / DELETE WHERE / DELETE-INSERT-WHERE
 * with WITH / GRAPH blocks / CLEAR / ADD / COPY / MOVE), applied both by
 * the engine (`QuadStore.update`) and by a naive driver-side set-semantics
 * model of the SPARQL 1.1 Update spec. Complements the curated UpdateSpec /
 * W3C-slice update tests with unbiased op sequences. Seeds fixed.
 *
 * The model tracks BOTH the quad set and the named-graph registry — graph
 * existence is "registered OR non-empty" (mirrors
 * QuadStore.containsNamedGraph), so SILENT ADD/COPY/MOVE from a
 * missing-vs-registered-but-empty source take different branches here just
 * like in the engine (a quad-set-only model cannot distinguish them and
 * silently encodes whichever semantics the engine has).
 *
 * Each seed runs two phases: (1) four ops applied one request at a time
 * with the state compared after every op, and (2) ten ops joined into ONE
 * ";"-separated request — past UpdateExec's lineage-cut threshold
 * (cutEvery=8) — compared once at the end, so the cut path itself is under
 * differential test.
 */
// 105 s of the measured 1687 s full-suite runtime (r10 timing run):
// excluded from the driver's budgeted `sbt test` gate, still run in the
// builder's own loop (see build.sbt testOptions).
@graft.SlowTest
class RandomUpdateDifferentialSpec extends SparkSpec {

  private type Quad = (Option[String], String, String, RdfTerm) // graph IRI, s, p, o
  /** Model state: quads + registered named graphs (graphs that exist even
    * while empty — after CLEAR, or as an ADD/COPY/MOVE destination). */
  private case class Model(quads: Set[Quad], reg: Set[String]) {
    def exists(g: Option[String]): Boolean =
      g.forall(gi => reg(gi) || quads.exists(_._1.contains(gi)))
  }
  private val graphs = Seq(None, Some("urn:g1"), Some("urn:g2"))
  private val nodes = (0 until 4).map(i => s"urn:n$i")
  private val preds = (0 until 3).map(i => s"urn:p$i")
  private val objs: Seq[RdfTerm] =
    nodes.map(Iri(_)) ++ Seq(Lit.integer(1), Lit.integer(2), Lit.simple("x"))

  private def randomStore(rnd: scala.util.Random): Set[Quad] =
    (0 until (4 + rnd.nextInt(10))).map { _ =>
      (graphs(rnd.nextInt(graphs.size)), nodes(rnd.nextInt(nodes.size)),
        preds(rnd.nextInt(preds.size)), objs(rnd.nextInt(objs.size)))
    }.toSet

  private def renderTerm(t: RdfTerm): String = t match {
    case Iri(v) => s"<$v>"
    case Lit(v, dt, None) if dt == Xsd.integer => v
    case Lit(v, _, None) => "\"" + v + "\""
    case other => other.toString
  }
  private def renderQuad(q: Quad): String = {
    val t = s"<${q._2}> <${q._3}> ${renderTerm(q._4)}"
    q._1.fold(s"$t .")(g => s"GRAPH <$g> { $t }")
  }

  /** One random op as (update text, model transition). */
  private def randomOp(rnd: scala.util.Random,
                       state: Model): (String, Model => Model) = {
    def someQuads(): Seq[Quad] = {
      val fromStore = rnd.shuffle(state.quads.toSeq).take(rnd.nextInt(3))
      val fresh = (0 until rnd.nextInt(3)).map { _ =>
        (graphs(rnd.nextInt(graphs.size)), nodes(rnd.nextInt(nodes.size)),
          preds(rnd.nextInt(preds.size)), objs(rnd.nextInt(objs.size)))
      }
      fromStore ++ fresh
    }
    rnd.nextInt(6) match {
      case 0 =>
        val qs = someQuads()
        (s"INSERT DATA { ${qs.map(renderQuad).mkString(" ")} }",
          m => m.copy(quads = m.quads ++ qs))
      case 1 =>
        val qs = someQuads()
        (s"DELETE DATA { ${qs.map(renderQuad).mkString(" ")} }",
          m => m.copy(quads = m.quads -- qs))
      case 2 =>
        // DELETE WHERE { ?s <p> ?o } in default or a named graph
        val p = preds(rnd.nextInt(preds.size))
        val g = graphs(rnd.nextInt(graphs.size))
        val pat = g.fold(s"?s <$p> ?o .")(gi => s"GRAPH <$gi> { ?s <$p> ?o }")
        (s"DELETE WHERE { $pat }",
          m => m.copy(quads = m.quads.filterNot(q => q._1 == g && q._3 == p)))
      case 3 =>
        // rename predicate pa -> pb within one graph scope (WITH for named)
        val pa = preds(rnd.nextInt(preds.size))
        val pb = preds(rnd.nextInt(preds.size))
        val g = graphs(rnd.nextInt(graphs.size))
        val withClause = g.fold("")(gi => s"WITH <$gi> ")
        (s"${withClause}DELETE { ?s <$pa> ?o } INSERT { ?s <$pb> ?o } WHERE { ?s <$pa> ?o }",
          m => {
            val moved = m.quads.filter(q => q._1 == g && q._3 == pa)
            m.copy(quads = m.quads -- moved ++ moved.map(q => (q._1, q._2, pb, q._4)))
          })
      case 4 =>
        // CLEAR SILENT: missing graph is a total no-op; an existing graph is
        // emptied but stays REGISTERED (it still "exists" for later ops)
        val g = "urn:g" + (1 + rnd.nextInt(2))
        (s"CLEAR SILENT GRAPH <$g>",
          m => if (!m.exists(Some(g))) m
               else Model(m.quads.filterNot(_._1.contains(g)), m.reg + g))
      case _ =>
        // ADD / COPY / MOVE between default and a named graph. SILENT +
        // missing named source = total no-op (the engine leaves the store
        // unchanged, W3C update-silent add07/copy07/move07); an existing
        // source — even registered-but-empty — runs the op, which registers
        // a named destination (and MOVE drops the source registration).
        val kind = Seq("ADD", "COPY", "MOVE")(rnd.nextInt(3))
        val from = graphs(rnd.nextInt(graphs.size))
        val to = graphs(rnd.nextInt(graphs.size))
        def ref(x: Option[String]) = x.fold("DEFAULT")(g => s"<$g>")
        (s"$kind SILENT ${ref(from)} TO ${ref(to)}",
          m =>
            if (from == to) m
            else if (!m.exists(from)) m // SILENT missing source: unchanged
            else {
              val src = m.quads.filter(_._1 == from).map(q => (to, q._2, q._3, q._4))
              val regTo = m.reg ++ to
              kind match {
                case "ADD" => Model(m.quads ++ src, regTo)
                case "COPY" => Model(m.quads.filterNot(_._1 == to) ++ src, regTo)
                case "MOVE" => Model(
                  m.quads.filterNot(q => q._1 == to || q._1 == from) ++ src,
                  regTo -- from)
              }
            })
    }
  }

  private def actualQuads(st: QuadStore): Set[Quad] =
    st.quads.collect().toSet.map { (r: org.apache.spark.sql.Row) =>
      def term(i: Int): RdfTerm = {
        val s = r.getStruct(i)
        s.getByte(0) match {
          case 0 => Iri(s.getString(1))
          case 1 => BNode(s.getString(1))
          case _ => Lit(s.getString(1),
            Option(s.getString(2)).getOrElse(
              if (s.getString(3) != null) Rdf.langString else Xsd.string),
            Option(s.getString(3)))
        }
      }
      (Option(r.getStruct(0)).map(_.getString(1)),
        term(1).asInstanceOf[Iri].value, term(2).asInstanceOf[Iri].value, term(3))
    }

  private def assertState(seed: Int, ops: Seq[String], store: QuadStore, model: Model): Unit = {
    val actual = actualQuads(store)
    assert(actual == model.quads,
      s"""seed=$seed after ops:
         |${ops.mkString("\n")}
         |missing=${(model.quads -- actual).take(5)}
         |extra=${(actual -- model.quads).take(5)}""".stripMargin)
    // Named graphs the engine lists = explicit registry ∪ graphs with data
    // (QuadStore.namedGraphs). Reuse the already-collected quads for the
    // data part so the lazy update chain evaluates ONCE per assertion.
    val expGraphs = model.reg ++ model.quads.flatMap(_._1)
    val actGraphs = store.reg.collect {
      case Iri(v) => v
      case BNode(v) => v
    } ++ actual.flatMap(_._1)
    assert(actGraphs == expGraphs,
      s"""seed=$seed graph registry diverged after ops:
         |${ops.mkString("\n")}
         |actual=$actGraphs expected=$expGraphs""".stripMargin)
  }

  private def runCase(seed: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    var model = Model(randomStore(rnd), Set.empty)
    var store = QuadStore(Turtle.quadsToDF(spark,
      model.quads.toSeq.map(q => RdfQuad(q._1.map(Iri(_)), Iri(q._2), Iri(q._3), q._4))))
    val ops = Seq.newBuilder[String]
    // phase 1: one request per op, state compared after every op
    for (_ <- 0 until 4) {
      val (text, step) = randomOp(rnd, model)
      ops += text
      store = store.update(text)
      model = step(model)
      assertState(seed, ops.result(), store, model)
    }
    // phase 2 (a subset of seeds): five ops in ONE request with the
    // lineage-cut weight lowered, so the plan-growth checkpoint fires
    // MID-REQUEST and ops after the cut run against checkpointed state —
    // the same code path a 100-op request takes at the default
    // cutWeight=64, at a fraction of the Catalyst cost (plan size grows
    // ~6^n in uncut Modify ops; an uncut 10-op fold made the original
    // variant of this spec a 50-minute run).
    if (seed <= 10) {
      // Cut the phase-1 lineage first: the batch otherwise re-evaluates
      // the whole phase-1 op chain inside every one of its own evaluations.
      // The cut also resets the snapshot's plan-growth weight, so the
      // batch's own cuts fall at the same ops whatever phase 1 did.
      store = store.cutLineage()
      val batch = Seq.newBuilder[String]
      for (_ <- 0 until 5) {
        val (text, step) = randomOp(rnd, model)
        batch += text
        model = step(model)
      }
      val req = batch.result().mkString(" ;\n")
      ops += req
      val prev = sys.props.put("graft.update.cutWeight", "8")
      try store = store.update(req)
      finally prev match {
        case Some(v) => sys.props.update("graft.update.cutWeight", v)
        case None => sys.props.remove("graft.update.cutWeight")
      }
      assertState(seed, ops.result(), store, model)
    }
  }

  (1 to 30).foreach { seed =>
    test(s"random update request ≡ naive set-semantics model (seed $seed)") {
      runCase(seed)
    }
  }
}
