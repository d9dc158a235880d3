package graft

import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
import org.apache.spark.sql.DataFrame
import graft.engine.Graft
import graft.gen.BsbmTemplates
import graft.obs.QueryProfile

/** [[QueryProfile]] splits a query into build, Catalyst phases and
  * execution, and credits Spark work only to the query that started it. */
class QueryProfileSpec extends SparkSpec {

  private lazy val quads: DataFrame = DeferredSpec.quads(spark)

  private def checkPhases(name: String, p: QueryProfile): Unit = {
    assert(p.buildJobs == 0, s"$name: building ran ${p.buildJobs} jobs")
    assert(p.jobs >= 1 && p.stages >= 1 && p.tasks >= 1, s"$name: ${p.toJson}")
    Seq(p.buildMs, p.analysisMs, p.optimizationMs, p.planningMs, p.execMs, p.codegenMs)
      .foreach(ms => assert(ms >= 0, s"$name: ${p.toJson}"))
  }

  test("the Deferred shapes and BSBM explore q09 build with no job and execute with some") {
    val g = Graft(quads)
    DeferredSpec.shapes.foreach { case (name, q) => checkPhases(name, QueryProfile.of(spark)(g.query(q))) }
    val bsbm = QuadStore(DeferredSpec.bsbm)
    val q09 = BsbmTemplates.fill(BsbmTemplates.dir.resolve("explore/q09.rq"))
    val p = bsbm.profile(q09)
    checkPhases("explore q09", p)
    assert(p.rows > 0, p.toJson)
  }

  test("a shuffle join reports the bytes it shuffled") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try {
      val p = QueryProfile.of(spark)(spark.range(1000).join(spark.range(500), "id"))
      assert(p.shuffleBytes > 0, p.toJson)
      assert(p.rows == 500, p.toJson)
    } finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("two profiles on one session from two threads each count only their own jobs") {
    val g = Graft(quads)
    // a one-job scan, and an aggregation whose adaptive plan runs a fixed
    // number of jobs (no join branch that an empty stage could prune first)
    val qs = Seq("SELECT ?a ?s WHERE { ?a <urn:p0> ?s }",
      "SELECT ?s (COUNT(?a) AS ?n) WHERE { ?a ?p ?s } GROUP BY ?s ORDER BY ?n ?s")
    val alone = qs.map(q => QueryProfile.of(spark)(g.query(q)).jobs)
    assert(alone(0) != alone(1), alone)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val start = new CyclicBarrier(2)
      val together = qs.map(q => pool.submit(() => (1 to 3).map { _ =>
        start.await(30, TimeUnit.SECONDS)
        QueryProfile.of(spark)(g.query(q)).jobs
      })).map(_.get(120, TimeUnit.SECONDS))
      assert(together == alone.map(Seq.fill(3)(_)), s"alone: $alone, together: $together")
    } finally pool.shutdownNow()
  }
}
