package graft

import org.apache.spark.sql.functions._
import graft.model._

/**
 * r9 optimization internals: stats-driven join-strategy selection.
 *
 * - A bound-predicate pattern over a predicate-partitioned store whose
 *   directory is small must plan a BroadcastHashJoin (partition-pruned
 *   size via the file index — Spark's logical stats alone report the full
 *   store, so this is the machinery under test), while big-slice joins
 *   keep a shuffle strategy and results stay identical to the unhinted
 *   plan.
 * - `Joins.shuffleHashUnlessSmall` must leave small sides unhinted
 *   (Catalyst's broadcast survives), hint non-small ones, and never stack
 *   a hint over an existing one.
 * - ORDER BY + LIMIT stays a top-k (`TakeOrderedAndProject`), not a full
 *   sort, when the order key's kind is known only at run time.
 */
class JoinStrategySpec extends SparkSpec {

  private def executedPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // force AQE final plan
    df.queryExecution.executedPlan.toString
  }

  test("predicate-partitioned store: small predicate slices broadcast in BGP joins") {
    val dir = java.nio.file.Files.createTempDirectory("graft_jss").toString
    // predicate p_small: 3 quads; predicate p_big: 20k quads
    val small = (1 to 3).map(i =>
      RdfQuad(None, Iri(s"urn:s$i"), Iri("urn:p_small"), Lit.simple(s"v$i")))
    val big = (1 to 20000).map(i =>
      RdfQuad(None, Iri(s"urn:s${i % 1000}"), Iri("urn:p_big"), Lit.simple(s"b$i")))
    QuadStore(graft.sources.Turtle.quadsToDF(spark, small ++ big)).saveByPredicate(dir)
    val st = QuadStore.load(spark, dir)

    // big pattern FIRST: the fold broadcasts the incoming (right) side,
    // so the small slice must arrive as the second pattern
    val q = """SELECT ?s ?v ?b WHERE {
              |  ?s <urn:p_big> ?b .
              |  ?s <urn:p_small> ?v .
              |}""".stripMargin
    val df = st.select(q)
    val plan = executedPlan(df)
    assert(plan.contains("BroadcastHashJoin"),
      s"small predicate slice should broadcast, plan:\n$plan")
    // results identical to the strategy-agnostic expectation
    assert(df.count() === 3 * 20) // s1..s3 each hold 20000/1000 = 20 p_big values
  }

  test("shuffleHashUnlessSmall: small stays unhinted, big gets the hint, hints never stack") {
    import spark.implicits._
    val smallDf = (1 to 10).map(i => (i.toLong, s"x$i")).toDF("id", "x")
    // small (LocalRelation stats = bytes of 10 rows) → unchanged, no hint node
    val keptSmall = graft.ops.Joins.shuffleHashUnlessSmall(smallDf)
    assert(!keptSmall.queryExecution.analyzed.toString.contains("hint"),
      "small side must not be hinted (a broadcast would be lost)")
    // a checkpointed big-ish relation → hinted
    val big = spark.range(2000000).select(col("id"), concat(lit("padpadpadpadpadpad"),
      col("id")).as("x")).localCheckpoint()
    val hinted = graft.ops.Joins.shuffleHashUnlessSmall(big)
    val once = hinted.queryExecution.analyzed
    assert(once.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.ResolvedHint],
      s"big side must carry the shuffle_hash hint, got:\n$once")
    // re-applying must not stack a second hint
    val again = graft.ops.Joins.shuffleHashUnlessSmall(hinted)
    assert(again.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }.size === 1, "hints must not stack")
    // and an explicit broadcast is preserved (guard sees it through a projection)
    val b = broadcast(big).select(col("id"))
    val guarded = graft.ops.Joins.shuffleHashUnlessSmall(b)
    assert(guarded.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }.size === 1, "existing broadcast hint must survive untouched")
  }

  test("pageRank after the de-joined iteration matches the 4-node closed form") {
    import spark.implicits._
    // 1→2, 1→3, 2→3, 4 isolated+dangling; classic damping 0.85, 1 iter
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("src", "dst")
    val n = Seq(1L, 2L, 3L, 4L).toDF("id")
    val r = graft.ops.LinkGraph.pageRank(e, "src", "dst", iters = 1, nodes = Some(n))
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    // rank0 = 0.25 each; dangling mass = 0.5 (nodes 3,4)
    // r(1) = 0.0375 + 0.85*(0 + 0.125) = 0.14375
    // r(2) = 0.0375 + 0.85*(0.125 + 0.125) = 0.25
    // r(3) = 0.0375 + 0.85*(0.125 + 0.25 + 0.125) = 0.4625
    // r(4) = 0.0375 + 0.85*0.125 = 0.14375
    assert(math.abs(r(1L) - 0.14375) < 1e-9)
    assert(math.abs(r(2L) - 0.25) < 1e-9)
    assert(math.abs(r(3L) - 0.4625) < 1e-9)
    assert(math.abs(r(4L) - 0.14375) < 1e-9)
  }

  test("ORDER BY + LIMIT over a dynamic-kind variable plans TakeOrderedAndProject") {
    // the sortable view of ?o is projected as a column before the Sort
    // (Rewriter.orderDf), which must leave the top-k as a map-side k-merge
    val quads = graft.sources.NTriples.fromString(spark,
      (1 to 50).map(i => s"""<http://e/s$i> <http://e/p> "v$i" .""").mkString("\n"))
    val df = graft.engine.Graft(quads)
      .select("SELECT ?s ?o WHERE { ?s <http://e/p> ?o } ORDER BY DESC(?o) ?s LIMIT 5")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Sort ["), plan)
    assert(df.select("o.v").collect().map(_.getString(0)).toSeq == Seq("v9", "v8", "v7", "v6", "v50"))
  }
}
