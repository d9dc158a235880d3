package graft

import org.apache.spark.SparkException
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.engine.{Deferred, DeferredExec, Graft, GraftStrategy}
import graft.gen.{BsbmGen, BsbmTemplates}
import graft.sources.NTriples

/** Query plans are built without running Spark jobs: every pin is a
  * [[Deferred]] leaf that computes when the plan first executes. For each
  * shape that used to pin or measure while it was built, building and
  * explaining run no job, and the executed answer equals the theta-join
  * engine's ([[Graft.thetaCompat]]). Also: a pin whose blocks are lost fails
  * the next action instead of recomputing different rows. */
class DeferredSpec extends SparkSpec {

  import DeferredSpec.shapes

  private lazy val quads: DataFrame = DeferredSpec.quads(spark)

  /** The sorted decoded rows of `df`. */
  private def answer(df: DataFrame): Seq[String] =
    Graft.decode(df).collect().toSeq.map(_.toSeq.map(String.valueOf).mkString(" | ")).sorted

  /** `q` over `g`: built and explained with no Spark job, and answering as
    * `ref` does under `answerOf`. */
  private def check(g: Graft, ref: Graft, name: String, q: String,
                    answerOf: DataFrame => Seq[String] = answer): Unit = {
    val (df, built) = jobs(g.query(q))
    assert(built == 0, s"$name: building ran $built jobs")
    val (_, explained) = jobs(df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("extended")))
    assert(explained == 0, s"$name: explaining ran $explained jobs")
    assert(answerOf(df) == answerOf(ref.query(q)), name)
  }

  shapes.foreach { case (name, q) =>
    test(s"$name: building and explaining run no job; the answer matches the theta join") {
      check(Graft(quads), Graft.thetaCompat(quads), name, q)
    }
  }

  test("CONSTRUCT with a template bnode: building and explaining run no job; the answer matches the theta join") {
    // bnode labels are per-solution row ids: compare each solution's
    // ?a -> ?s through the bnode both templates must name
    def viaBnode(d: DataFrame): Seq[String] = {
      val rows = Graft.decode(d).collect().toSeq.map(r => (r.getString(0), r.getString(1), r.getString(2)))
      val to = rows.collect { case (b, "urn:to", s) => b -> s }.toMap
      rows.collect { case (a, "urn:via", b) => s"$a -> ${to(b)}" }.sorted
    }
    val q = "CONSTRUCT { ?a <urn:via> _:n . _:n <urn:to> ?s } WHERE { ?a <urn:p0> ?s }"
    check(Graft(quads), Graft.thetaCompat(quads), "CONSTRUCT", q, viaBnode)
    assert(viaBnode(Graft(quads).query(q)).size == 3)
  }

  test("DESCRIBE follows a three-deep bnode chain with a cycle") {
    val rows = answer(Graft(quads).query("DESCRIBE <urn:a1>"))
    // a1's own triples plus k1, k2, k3's (k3 closes the cycle back to k1)
    assert(rows.size == 6, rows.mkString("\n"))
    assert(rows.exists(_.endsWith("| deep")), rows.mkString("\n"))
  }

  test("BSBM BI q04-q06 and explore q09: building and explaining run no job") {
    val g = Graft(DeferredSpec.bsbm)
    val ref = Graft.thetaCompat(DeferredSpec.bsbm)
    Seq("bi/q04.rq", "bi/q05.rq", "bi/q06.rq", "explore/q09.rq").foreach { f =>
      check(g, ref, f, BsbmTemplates.fill(BsbmTemplates.dir.resolve(f)))
    }
  }

  test("every session, a new one included, has GraftStrategy from the session build") {
    Seq(spark, spark.newSession()).foreach { s =>
      assert(s.experimental.extraStrategies.isEmpty)
      val planner = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.planner
      assert(planner.strategies.contains(GraftStrategy))
      val df = Deferred(s.range(3).toDF(), "session-check")
      assert(df.queryExecution.executedPlan.collect { case d: DeferredExec => d }.size == 1)
      assert(df.count() == 3)
    }
  }

  test("a lost pin fails the next action instead of recomputing different rows") {
    val df = Graft(quads).select(shapes(1)._2) // LEFT compat-union join
    val first = answer(df)
    val pins = df.queryExecution.analyzed.collect { case d: Deferred => d.pin }.distinct
    assert(pins.nonEmpty)
    assert(answer(df.select("*")) == first, "a later action re-reads the same pins")
    pins.foreach(_.rdd.unpersist(blocking = true))
    val e = intercept[SparkException](df.select("*").collect())
    assert(e.getMessage.contains("Checkpoint block"), e.getMessage)
  }
}

object DeferredSpec {
  /** BSBM at 1000 products (the scale `BsbmTemplates.params` selects rows
    * at), generated once per test JVM. */
  lazy val bsbm: DataFrame = BsbmGen.quads(SparkSpec.session, 1000).repartition(4).localCheckpoint()

  // ?s1 and ?s3 have a p1 object, ?s2 has none (OPTIONAL leaves ?x unbound);
  // ?x1 has a p4 object; the bnodes chain and cycle for DESCRIBE
  def quads(spark: SparkSession): DataFrame = NTriples.fromString(spark,
    """<urn:a1> <urn:p0> <urn:s1> .
      |<urn:a2> <urn:p0> <urn:s2> .
      |<urn:a3> <urn:p0> <urn:s3> .
      |<urn:s1> <urn:p1> <urn:x1> .
      |<urn:s3> <urn:p1> <urn:x2> .
      |<urn:b1> <urn:p2> <urn:t1> .
      |<urn:b2> <urn:p2> <urn:t2> .
      |<urn:t1> <urn:p3> <urn:x1> .
      |<urn:x1> <urn:p4> <urn:w1> .
      |<urn:x1> <urn:p4> <urn:a1> .
      |<urn:a1> <urn:p5> _:k1 .
      |_:k1 <urn:p6> _:k2 .
      |_:k2 <urn:p6> _:k3 .
      |_:k3 <urn:p6> _:k1 .
      |_:k3 <urn:p7> "deep" .
      |""".stripMargin).localCheckpoint()

  /** Shapes that used to pin or measure while they were built. */
  val shapes: Seq[(String, String)] = Seq(
    "nullable inner OPTIONAL chain" ->
      """SELECT ?a ?b ?x WHERE {
        |  { ?a <urn:p0> ?s OPTIONAL { ?s <urn:p1> ?x } }
        |  { ?b <urn:p2> ?t OPTIONAL { ?t <urn:p3> ?x } }
        |}""".stripMargin,
    "nullable left OPTIONAL chain with FILTER" ->
      """SELECT ?a ?x ?y WHERE {
        |  ?a <urn:p0> ?s OPTIONAL { ?s <urn:p1> ?x }
        |  OPTIONAL { ?x <urn:p4> ?y FILTER(?y != ?a) }
        |}""".stripMargin,
    "nullable MINUS" ->
      """SELECT ?a ?x WHERE {
        |  ?a <urn:p0> ?s OPTIONAL { ?s <urn:p1> ?x } MINUS { ?x <urn:p4> ?w }
        |}""".stripMargin,
    "nullable EXISTS" ->
      """SELECT ?a ?x WHERE {
        |  ?a <urn:p0> ?s OPTIONAL { ?s <urn:p1> ?x } FILTER EXISTS { ?x <urn:p4> ?w }
        |}""".stripMargin,
    "nullable NOT EXISTS" ->
      """SELECT ?a ?x WHERE {
        |  ?a <urn:p0> ?s OPTIONAL { ?s <urn:p1> ?x } FILTER NOT EXISTS { ?x <urn:p4> ?w }
        |}""".stripMargin,
    "LATERAL" ->
      """SELECT ?a ?x WHERE {
        |  ?a <urn:p0> ?s LATERAL { SELECT ?s ?x WHERE { ?s <urn:p1> ?x } LIMIT 1 }
        |}""".stripMargin,
    "correlated EXISTS" ->
      """SELECT ?a ?x WHERE {
        |  ?a <urn:p0> ?s . ?s <urn:p1> ?x FILTER EXISTS { ?x <urn:p4> ?w FILTER(?w != ?a) }
        |}""".stripMargin,
    "DESCRIBE through a bnode chain and cycle" ->
      """DESCRIBE ?a WHERE { ?a <urn:p0> <urn:s1> }""")
}
