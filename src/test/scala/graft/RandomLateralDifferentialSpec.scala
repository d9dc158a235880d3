package graft

import graft.engine.Graft
import graft.model._
import graft.sources.Turtle

/**
 * Randomised LATERAL differential (SPARQL 1.2 / oxigraph extension): random
 * per-subject value sets × per-row top-k sub-selects, correlated FILTERs
 * and per-row grouped sub-selects, against a naive in-memory evaluator. The
 * multiset of (s, o) rows is deterministic even under ORDER BY ties because
 * tied rows carry equal ?o.
 */
class RandomLateralDifferentialSpec extends SparkSpec {

  private val EX = "http://example.org/"
  private val RdfType = Iri("http://www.w3.org/1999/02/22-rdf-syntax-ns#type")

  private def intLit(i: Int) = Lit(i.toString, Xsd.integer, None)

  private def build(rnd: scala.util.Random): (Seq[RdfQuad], Map[String, Seq[Int]], Map[String, Int]) = {
    val subs = (0 until 4).map(i => s"${EX}s$i")
    val vals = subs.map(s => s -> Seq.fill(rnd.nextInt(5))(rnd.nextInt(8))).toMap
    val lims = subs.map(s => s -> (2 + rnd.nextInt(5))).toMap
    val quads = subs.flatMap { s =>
      Seq(RdfQuad(None, Iri(s), RdfType, Iri(s"${EX}T")),
          RdfQuad(None, Iri(s), Iri(s"${EX}limit"), intLit(lims(s)))) ++
        vals(s).map(v => RdfQuad(None, Iri(s), Iri(s"${EX}v"), intLit(v)))
    }
    (quads, vals, lims)
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(String, String)] =
    df.collect().toSeq.map { r =>
      (r.getStruct(r.fieldIndex("s")).getString(1),
        r.getStruct(r.fieldIndex("o")).getString(1))
    }

  private def topKCase(seed: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    val (quads, vals, _) = build(rnd)
    val k = 1 + rnd.nextInt(3)
    val desc = rnd.nextBoolean()
    val ord = if (desc) "DESC(?o)" else "?o"
    val q =
      s"""PREFIX ex: <$EX>
         |SELECT ?s ?o WHERE {
         |  ?s a ex:T .
         |  LATERAL { SELECT ?s ?o WHERE { ?s ex:v ?o } ORDER BY $ord LIMIT $k }
         |}""".stripMargin
    val got = rows(Graft(Turtle.quadsToDF(spark, quads)).select(q)).sorted
    val expect = vals.toSeq.flatMap { case (s, vs) =>
      val sorted = if (desc) vs.sorted.reverse else vs.sorted
      sorted.take(k).map(v => (s, v.toString))
    }.sorted
    assert(got == expect, s"seed=$seed k=$k desc=$desc\ngot=$got\nexpect=$expect")
  }

  private def correlatedFilterCase(seed: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    val (quads, vals, lims) = build(rnd)
    val q =
      s"""PREFIX ex: <$EX>
         |SELECT ?s ?o WHERE {
         |  ?s ex:limit ?lim .
         |  LATERAL { SELECT ?s ?o WHERE { ?s ex:v ?o . FILTER(?o < ?lim) }
         |            ORDER BY DESC(?o) LIMIT 2 }
         |}""".stripMargin
    val got = rows(Graft(Turtle.quadsToDF(spark, quads)).select(q)).sorted
    val expect = vals.toSeq.flatMap { case (s, vs) =>
      vs.filter(_ < lims(s)).sorted.reverse.take(2).map(v => (s, v.toString))
    }.sorted
    assert(got == expect, s"seed=$seed\ngot=$got\nexpect=$expect")
  }

  /** Per-row GROUP BY over the values under the row's limit less ?k: SUM
    * and COUNT of each subject kept by a HAVING on the count. Two outer rows
    * share each ?s (k = 0, 1), so grouping on ?s alone would merge them. */
  private def groupedCase(seed: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    val (quads, vals, lims) = build(rnd)
    val least = 1 + rnd.nextInt(3)
    val q =
      s"""PREFIX ex: <$EX>
         |SELECT ?s ?k ?sum ?n WHERE {
         |  ?s ex:limit ?lim .
         |  VALUES ?k { 0 1 }
         |  LATERAL { SELECT ?s (SUM(?o) AS ?sum) (COUNT(?o) AS ?n)
         |            WHERE { ?s ex:v ?o . FILTER(?o + ?k < ?lim) }
         |            GROUP BY ?s HAVING (COUNT(?o) >= $least) }
         |}""".stripMargin
    val got = Graft(Turtle.quadsToDF(spark, quads)).select(q).collect().toSeq.map { r =>
      Seq("s", "k", "sum", "n").map(c => r.getStruct(r.fieldIndex(c)).getString(1))
    }.sortBy(_.mkString(" "))
    val expect = (for ((s, vs) <- vals.toSeq; k <- Seq(0, 1)) yield {
      val kept = vs.filter(_ + k < lims(s))
      if (kept.size >= least) Some(Seq(s, k.toString, kept.sum.toString, kept.size.toString))
      else None
    }).flatten.sortBy(_.mkString(" "))
    assert(got == expect, s"seed=$seed least=$least\ngot=$got\nexpect=$expect")
  }

  test("LATERAL per-row top-k matches naive evaluator on 15 random cases") {
    (900 to 914).foreach(topKCase)
  }

  test("LATERAL with correlated FILTER matches naive evaluator on 10 random cases") {
    (950 to 959).foreach(correlatedFilterCase)
  }

  test("LATERAL per-row GROUP BY with SUM, COUNT and HAVING matches naive evaluator on 10 random cases") {
    (970 to 979).foreach(groupedCase)
  }
}
