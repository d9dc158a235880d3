package graft.tools

import org.apache.spark.sql.SparkSession
import graft.engine.Graft
import graft.model.{Iri, Lit, RdfQuad}

/**
 * Head-to-head: the compat-union rewrite vs the theta join on the
 * OPTIONAL-chain shape (two blocks whose only shared variable is
 * OPTIONAL-introduced on both sides). The theta path plans a
 * BroadcastNestedLoopJoin — O(n·m) compat evaluations; the union rewrite
 * hash-joins the bound×bound slice and crosses only the null slices.
 * Run: sbt "runMain graft.tools.CompatUnionProbe [n]"   (n rows per side)
 *
 * Measured on a 4-core host (local[32] as below), one run each:
 *   n=5000  → union 6.6 s, theta 6.6 s (2.5M output rows, almost all from
 *             the null-slice crosses; the two plans tie)
 *   n=20000 → union 9.4 s, theta 86.6 s (9×; another run of the same theta
 *             plan took 59.7 s, the host's run-to-run spread. The gap grows
 *             with n², the union stays output-linear — at cluster scale the
 *             theta plan simply does not finish)
 * Neither size loses to theta, so the engine has no size gate between them.
 */
object CompatUnionProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(5000)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // n left entities + n right entities; 95% have the optional attribute,
    // values drawn from n/10 distinct keys (real join selectivity)
    val quads = (0 until n).flatMap { i =>
      val l = Seq(RdfQuad(None, Iri(s"urn:l$i"), Iri("urn:p0"), Iri(s"urn:ls$i"))) ++
        (if (i % 20 != 0) Seq(RdfQuad(None, Iri(s"urn:ls$i"), Iri("urn:p1"),
          Lit.simple(s"k${i % (n / 10)}"))) else Nil)
      val r = Seq(RdfQuad(None, Iri(s"urn:r$i"), Iri("urn:p2"), Iri(s"urn:rs$i"))) ++
        (if (i % 20 != 0) Seq(RdfQuad(None, Iri(s"urn:rs$i"), Iri("urn:p3"),
          Lit.simple(s"k${i % (n / 10)}"))) else Nil)
      l ++ r
    }
    val df = graft.sources.Turtle.quadsToDF(spark, quads).repartition(32).localCheckpoint()
    val q =
      """SELECT (COUNT(?a) AS ?n) WHERE {
        |  { ?a <urn:p0> ?s . OPTIONAL { ?s <urn:p1> ?x } }
        |  { ?b <urn:p2> ?t . OPTIONAL { ?t <urn:p3> ?x } }
        |}""".stripMargin

    def time(label: String, g: Graft): Long = {
      val t0 = System.nanoTime()
      val rows = g.select(q).collect()
      val secs = (System.nanoTime() - t0) / 1e9
      val cnt = rows(0).getStruct(0).getString(1).toLong
      println(f"[compat] $label: $secs%.2f s  (result count=$cnt)")
      cnt
    }
    val a = time("union rewrite", Graft(df))
    val b = time("theta (BNLJ) ", Graft.thetaCompat(df))
    assert(a == b, s"result mismatch: $a vs $b")
    spark.stop()
  }
}
