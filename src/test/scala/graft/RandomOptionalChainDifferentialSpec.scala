package graft

import graft.engine.Graft
import graft.model._
import graft.sources.Turtle

/**
 * Differential for the compat-union join rewrite (Rewriter.compatUnionJoin):
 * joins whose every shared variable is OPTIONAL-introduced (nullable) used to
 * plan a pure-theta BroadcastNestedLoopJoin; they now plan a union of
 * null-pattern equi-join slices. The theta path (Graft.thetaCompat) stays as
 * the semantic reference — random OPTIONAL-chain queries
 * ([[CompatUnionCases]]) must produce identical bags on both paths, and on
 * all-matched data no nested-loop or cartesian join may produce a row.
 * [[CompatUnionDifferentialSpec]] runs a few seeds of each shape in the
 * default gate.
 */
// 183 s of the measured 1687 s full-suite runtime (r10 timing run):
// excluded from the driver's budgeted `sbt test` gate, still run in the
// builder's own loop (see build.sbt testOptions).
@graft.SlowTest
class RandomOptionalChainDifferentialSpec extends SparkSpec {

  /** Seeds per shape — default 20; set GRAFT_FUZZ_N for a deeper one-off
    * sweep (e.g. GRAFT_FUZZ_N=150 sbt "testOnly *RandomOptionalChain*"). */
  private val N = sys.env.getOrElse("GRAFT_FUZZ_N", "20").toInt

  import CompatUnionCases._

  private def check(gen: (org.apache.spark.sql.SparkSession, Int) => Case, seed: Int): Unit = {
    val c = gen(spark, seed)
    val (got, ref) = compare(c)
    assert(got == ref, s"seed=$seed\nquery=${c.query}\ngot=$got\nref=$ref")
  }

  test("compat-union ≡ theta anti join on 20 random nullable-MINUS cases") {
    (400 until 400 + N).foreach(check(minusNullable, _))
  }
  test("compat-union ≡ theta semi/anti join on 20 random nullable-EXISTS cases") {
    (500 until 500 + N).foreach(check(existsNullable, _))
  }
  test("compat-union ≡ theta join on 20 random inner OPTIONAL-chain cases") {
    (1 to N).foreach(check(innerChain, _))
  }
  test("compat-union ≡ theta join on 20 random chained-OPTIONAL left joins") {
    (100 until 100 + N).foreach(check(leftChain, _))
  }
  test("compat-union ≡ theta join on 15 random filtered OPTIONAL chains") {
    (200 until 200 + math.max(15, N * 3 / 4)).foreach(check(filteredChain, _))
  }
  test("compat-union ≡ theta join on 15 random two-nullable-var cases") {
    (300 until 300 + math.max(15, N * 3 / 4)).foreach(check(twoVar, _))
  }

  /** (output rows, plan) of every nested-loop and cartesian join node in
    * `df`'s executed (final adaptive) plan. */
  private def loopJoinRows(df: org.apache.spark.sql.DataFrame): Seq[(Long, String)] = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val helper = new AdaptiveSparkPlanHelper {}
    helper.collectWithSubqueries(df.queryExecution.executedPlan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.map(j => (j.metrics("numOutputRows").value, j.simpleString(200)))
  }

  test("all-matched OPTIONAL chain: every nested-loop or cartesian join outputs 0 rows") {
    // every ?s has p1 and every ?t has p3 → every null slice is empty, so
    // each slice pair without join keys (a nested loop or cartesian in the
    // plan) crosses empty slices and outputs nothing; all rows come from
    // the bound×bound equi join
    val n = 11000
    val quads = Turtle.quadsToDF(spark, (0 until n).flatMap { i =>
      Seq(
        RdfQuad(None, Iri(s"urn:a$i"), Iri("urn:p0"), Iri(s"urn:s$i")),
        RdfQuad(None, Iri(s"urn:s$i"), Iri("urn:p1"), Iri(s"urn:x${i % 3}")),
        RdfQuad(None, Iri(s"urn:b$i"), Iri("urn:p2"), Iri(s"urn:t$i")),
        RdfQuad(None, Iri(s"urn:t$i"), Iri("urn:p3"), Iri(s"urn:x${i % 4}")))
    })
    val q =
      """SELECT ?a ?b ?x WHERE {
        |  { ?a <urn:p0> ?s . OPTIONAL { ?s <urn:p1> ?x } }
        |  { ?b <urn:p2> ?t . OPTIONAL { ?t <urn:p3> ?x } }
        |}""".stripMargin
    val df = Graft(quads).select(q)
    // run df's own executed plan (counting, not collecting, its 30M rows),
    // so the node metrics read below are this execution's
    val rows = df.queryExecution.toRdd.count()
    val loops = loopJoinRows(df)
    assert(loops.forall(_._1 == 0L), loops.mkString("\n"))
    // row-count sanity check: left x = i%3 covers all rows, right x = j%4
    // matches v∈{0,1,2} with exactly n/4 rows each (n % 4 == 0), so the
    // equi join yields Σ_v countL(v)·countR(v) = n · n/4 rows
    assert(rows == n.toLong * (n / 4))
  }

  test("small sides take the compat-union rewrite and match the theta join") {
    // same all-matched shape, 8 rows/side: no size gate routes small sides
    // to the theta join any more, so this is the union rewrite on small
    // inputs, checked against the theta join
    val quads = Turtle.quadsToDF(spark, (0 until 8).flatMap { i =>
      Seq(
        RdfQuad(None, Iri(s"urn:a$i"), Iri("urn:p0"), Iri(s"urn:s$i")),
        RdfQuad(None, Iri(s"urn:s$i"), Iri("urn:p1"), Iri(s"urn:x${i % 3}")),
        RdfQuad(None, Iri(s"urn:b$i"), Iri("urn:p2"), Iri(s"urn:t$i")),
        RdfQuad(None, Iri(s"urn:t$i"), Iri("urn:p3"), Iri(s"urn:x${i % 4}")))
    })
    val q =
      """SELECT ?a ?b ?x WHERE {
        |  { ?a <urn:p0> ?s . OPTIONAL { ?s <urn:p1> ?x } }
        |  { ?b <urn:p2> ?t . OPTIONAL { ?t <urn:p3> ?x } }
        |}""".stripMargin
    val vars = Seq("a", "b", "x")
    assert(bag(Graft(quads).select(q), vars) == bag(Graft.thetaCompat(quads).select(q), vars))
  }
}
