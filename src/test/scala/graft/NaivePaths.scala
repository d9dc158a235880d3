package graft

import graft.model._

/** Naive driver-side property-path evaluation implementing the SPARQL 1.1
  * path semantics directly — bag semantics for sequence/alternative, SET
  * (ALP) semantics for the closures, zero-length paths matching every graph
  * node — plus a renderer and a random generator for path expressions. The
  * oracle of the path differentials. */
object NaivePaths {

  sealed trait P
  case class PLink(p: Iri) extends P
  case class PRev(e: P) extends P
  case class PSeq(a: P, b: P) extends P
  case class PAlt(a: P, b: P) extends P
  case class PNeg(ps: Seq[Iri]) extends P
  case class PPlus(e: P) extends P
  case class PStar(e: P) extends P

  def render(e: P): String = e match {
    case PLink(p) => s"<${p.value}>"
    case PRev(i) => s"^(${render(i)})"
    case PSeq(a, b) => s"(${render(a)}/${render(b)})"
    case PAlt(a, b) => s"(${render(a)}|${render(b)})"
    case PNeg(ps) => s"!(${ps.map(p => s"<${p.value}>").mkString("|")})"
    case PPlus(i) => s"(${render(i)})+"
    case PStar(i) => s"(${render(i)})*"
  }

  /** Naive path evaluation over a triple list: Seq = bag (multiplicities
    * preserved); the closures return distinct pairs (ALP). */
  def evalP(t: Seq[(RdfTerm, Iri, RdfTerm)], e: P): Seq[(RdfTerm, RdfTerm)] = e match {
    case PLink(p) => t.filter(_._2 == p).map(x => (x._1, x._3))
    case PRev(i) => evalP(t, i).map(_.swap)
    case PSeq(a, b) =>
      val bs = evalP(t, b)
      for ((s, m) <- evalP(t, a); (m2, o) <- bs if m == m2) yield (s, o)
    case PAlt(a, b) => evalP(t, a) ++ evalP(t, b)
    case PNeg(ps) => t.filter(x => !ps.contains(x._2)).map(x => (x._1, x._3))
    case PPlus(i) =>
      val base = evalP(t, i).distinct
      var all = base.toSet
      var grew = true
      while (grew) {
        val next = for ((s, m) <- all; (m2, o) <- base if m == m2) yield (s, o)
        val n2 = all ++ next
        grew = n2.size > all.size
        all = n2
      }
      all.toSeq
    case PStar(i) =>
      val nodes: Seq[RdfTerm] = t.flatMap(x => Seq(x._1, x._3)).distinct
      (nodes.map(n => (n, n)) ++ evalP(t, PPlus(i))).distinct
  }

  /** Random path expression: depth-bounded, at most one closure operator
    * (the naive fixpoint stays cheap; nesting under the closure is free). */
  def randomPath(rnd: scala.util.Random, preds: Seq[Iri],
                         depth: Int, closureBudget: Int): P = {
    val pick = rnd.nextInt(if (depth == 0) 3 else if (closureBudget > 0) 7 else 5)
    pick match {
      case 0 => PLink(preds(rnd.nextInt(preds.size)))
      case 1 => PNeg(Seq.fill(1 + rnd.nextInt(2))(preds(rnd.nextInt(preds.size))).distinct)
      case 2 if depth == 0 => PLink(preds(rnd.nextInt(preds.size)))
      case 2 => PRev(randomPath(rnd, preds, depth - 1, closureBudget))
      case 3 => PSeq(randomPath(rnd, preds, depth - 1, 0),
                     randomPath(rnd, preds, depth - 1, 0))
      case 4 => PAlt(randomPath(rnd, preds, depth - 1, 0),
                     randomPath(rnd, preds, depth - 1, 0))
      case 5 => PPlus(randomPath(rnd, preds, depth - 1, 0))
      case 6 => PStar(randomPath(rnd, preds, depth - 1, 0))
    }
  }
}
