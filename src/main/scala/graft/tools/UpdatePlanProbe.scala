package graft.tools

import org.apache.spark.sql.SparkSession
import graft.QuadStore
import graft.sources.Turtle
import graft.model._

/**
 * Plan-growth probe for multi-op UPDATE requests (cited from
 * UpdateExec.apply's lineage-cut comment): builds a random 100-op request
 * and times `update()` + a terminal count across lineage-cut weights.
 *
 * Finding that shaped the engine default: each op embeds the previous
 * state's plan MULTIPLE times (a Modify ~6x: delete anti-join, insert
 * semi-join + union, WHERE solve), so plan size grows exponentially in the
 * ops BETWEEN cuts — the original fixed every-8-ops cut admitted ~6^8-leaf
 * plans whose Catalyst canonicalization alone burned 20+ minutes on a
 * 2,000-quad store. The weight-based cut (default 64) bounds every
 * compiled plan to ~64 store-plan leaves; the uncut leg below runs at a
 * REDUCED op count because an uncut 100-op fold effectively never finishes.
 *
 * Run: sbt --error "runMain graft.tools.UpdatePlanProbe [nOps]"
 */
object UpdatePlanProbe {
  def main(args: Array[String]): Unit = {
    val nOps = args.headOption.map(_.toInt).getOrElse(100)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val rnd = new scala.util.Random(7)
    def iri(p: String) = s"urn:upp:$p${rnd.nextInt(40)}"
    def op(): String = rnd.nextInt(4) match {
      case 0 => s"INSERT DATA { <${iri("s")}> <${iri("p")}> <${iri("o")}> }"
      case 1 => s"DELETE DATA { <${iri("s")}> <${iri("p")}> <${iri("o")}> }"
      case 2 => s"DELETE WHERE { ?s <${iri("p")}> ?o }"
      case _ => s"DELETE { ?s <${iri("p")}> ?o } INSERT { ?s <${iri("q")}> ?o } WHERE { ?s <${iri("p")}> ?o }"
    }
    val allOps = Seq.fill(nOps)(op())
    val base = (0 until 2000).map(i =>
      RdfQuad(None, Iri(s"urn:upp:s${i % 40}"), Iri(s"urn:upp:p${i % 40}"),
        Iri(s"urn:upp:o${i % 40}")))

    // weight 16 = aggressive cuts; 64 = engine default; the "uncut" leg
    // (huge weight) runs only 12 ops — beyond that the exponential plan
    // growth makes the fold effectively non-terminating.
    for ((weight, ops) <- Seq(("16", nOps), ("64", nOps), ("1000000000", math.min(nOps, 12)))) {
      sys.props("graft.update.cutWeight") = weight
      val reqN = allOps.take(ops).mkString(" ;\n")
      val store = QuadStore(Turtle.quadsToDF(spark, base))
      val t0 = System.nanoTime()
      val updated = store.update(reqN)
      val tPlan = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val n = updated.quads.count()
      val tRun = (System.nanoTime() - t1) / 1e9
      val line = f"[upp] nOps=$ops cutWeight=$weight%-10s fold=${tPlan}%7.2f s  count=${tRun}%7.2f s  ($n quads)"
      println(line)
      System.err.println(line) // visible even when stdout is piped/buffered
    }
    spark.stop()
  }
}
