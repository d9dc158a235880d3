package graft.tools

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import graft.engine.Graft
import graft.gen.{BsbmGen, BsbmTemplates, WindFarmGen, WindFarmQueries}

/** Standing per-round parity artifact: times the BSBM Explore and BI texts
  * (`perfbench/templates/{explore,bi}`, filled by `BsbmTemplates`) and the
  * Wind Farm suite (`WindFarmQueries`) over our generated datasets and prints
  * ONE JSON line, criterion-style (interleaved passes, min per query — same
  * decorrelation rationale as Bench.scala). Saved as `PARITY_r{N}.json` so
  * reference-workload drift has a recorded time series; the r5 bench
  * regression scare was visible only where gate queries happened to overlap.
  * Wind Farm texts the repository does not hold are skipped by name and
  * listed under `"skipped"`; a query that throws in any pass is left out of
  * the total and listed under `"failed"`. Run from the repository root.
  *
  * Usage: runMain graft.tools.ParityBench [bsbmProducts] [wfTurbines]
  * (defaults 1000 / 16 — the scales BASELINE.md's parity bands record; the
  * BSBM template parameters select rows at 1000 products). */
object ParityBench {
  def main(args: Array[String]): Unit = {
    val nBsbm = args.headOption.map(_.toInt).getOrElse(1000)
    val nWf = args.lift(1).map(_.toInt).getOrElse(16)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // one-time store builds (untimed, as in Bench's windfarm prebuild)
    var t0 = System.nanoTime()
    val bsbmPath = Files.createTempDirectory("graft_parity_bsbm").toString
    graft.QuadStore(BsbmGen.quads(spark, nBsbm)).saveByPredicate(bsbmPath)
    val bsbm = Graft(graft.QuadStore.load(spark, bsbmPath).quads)
    System.err.println(f"[parity] bsbm store n=$nBsbm: ${(System.nanoTime() - t0) / 1e9}%.1f s (untimed)")
    t0 = System.nanoTime()
    val wfPath = Files.createTempDirectory("graft_parity_wf").toString
    graft.QuadStore(WindFarmGen.quads(spark, nWf)).save(wfPath)
    val wf = Graft(graft.QuadStore.load(spark, wfPath).quads, WindFarmGen.kinds)
    System.err.println(f"[parity] wind-farm store n=$nWf: ${(System.nanoTime() - t0) / 1e9}%.1f s (untimed)")

    val bsbmWork = Seq("explore", "bi").flatMap(BsbmTemplates.files)
      .map(f => (BsbmTemplates.name(f), BsbmTemplates.fill(f), bsbm))
    val wfNames = Seq(
      "production-query1", "production-query2", "production-query3", "production-query4",
      "grouped-production-query1", "grouped-production-query2",
      "grouped-production-query3", "grouped-production-query4")
    val (wfHeld, skipped) = wfNames.partition(n => WindFarmQueries.texts.exists(_._1 == n))
    skipped.foreach(n => System.err.println(s"[parity] wind-farm-$n: text not in the repository, skipped"))
    val work = bsbmWork ++ wfHeld.map(n => (s"wind-farm-$n", WindFarmQueries(n), wf))

    val calibrations = scala.collection.mutable.ArrayBuffer[Double]()
    // a query that throws gets no time (None), so it cannot read as a fast one
    val passes = (1 to 2).map { _ =>
      calibrations += graft.Bench.calibrate(spark)
      work.map { case (q, text, g) =>
        val t1 = System.nanoTime()
        val ok = try { g.query(text).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable => System.err.println(s"[parity] $q: $e"); false }
        val dt = (System.nanoTime() - t1) / 1e9
        System.err.println(f"[parity] $q: $dt%.2f s")
        q -> Option.when(ok)(dt)
      }.toMap
    }
    val (timed, failed) = work.map(_._1).partition(q => passes.forall(_(q).isDefined))
    val results = timed.map(q => q -> passes.map(_(q).get).min)
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val calMin = calibrations.min
    val calAll = calibrations.mkString("[", ",", "]")
    def list(names: Seq[String]) = names.map(n => s""""$n"""").mkString("[", ",", "]")
    spark.stop()
    println(s"""{"metric":"parity_total","value":$total,"unit":"sec","n_queries":${results.size},"bsbm_products":$nBsbm,"wf_turbines":$nWf,"calibration":$calMin,"calibration_all":$calAll,"skipped":${list(skipped.map("wind-farm-" + _))},"failed":${list(failed)},"queries":$qs}""")
  }
}
