package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QuadStore
import graft.encoding.TermCols

/**
 * UPDATE at scale (verdict r7 #7): a DELETE-INSERT-WHERE over a 20M-quad
 * synthetic store, with PLAN assertions, not just timings:
 *   (a) the insert path stays scan-only — the set-semantics dedup is a
 *       broadcast semi-join against the result-sized additions, never a
 *       SortMergeJoin that shuffles the whole store;
 *   (b) the delete anti-join broadcasts the result-sized delete side;
 *   (c) wall-time is scan-bound — the updated store's count costs within a
 *       small factor of a plain full scan of the same store.
 *
 * Run: sbt --error "runMain graft.tools.UpdateScaleProbe [nPeople]"
 * (default 4,000,000 -> 20M quads).
 */
object UpdateScaleProbe {
  private val EX = "urn:sp:"

  /** n people with name/age/city/score and a follows edge chain, built from
    * `spark.range` (no file IO): 5n quads. */
  private def syntheticQuads(spark: SparkSession, n: Long): DataFrame = {
    val ids = spark.range(n)
    def subj = TermCols.iri(concat(lit(EX + "p"), col("id")))
    def quad(p: String, o: org.apache.spark.sql.Column) =
      ids.select(TermCols.nullTerm.as("graph"), subj.as("subject"),
        TermCols.iri(EX + p).as("predicate"), o.as("object"))
    quad("name", TermCols.str(concat(lit("person-"), col("id"))))
      .unionAll(quad("age", TermCols.fromLong(col("id") % 90 + 10)))
      .unionAll(quad("city", TermCols.iri(concat(lit(EX + "city"), col("id") % 1000))))
      .unionAll(quad("follows", TermCols.iri(concat(lit(EX + "p"), (col("id") + 1) % n))))
      .unionAll(quad("score", TermCols.fromDouble((col("id") % 10000).cast("double") / 100.0)))
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(4000000L)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .appName("graft-update-scale-probe")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val quads = syntheticQuads(spark, n).localCheckpoint()
    val store = QuadStore(quads)
    var t0 = System.nanoTime()
    val total = quads.count()
    val tScan = (System.nanoTime() - t0) / 1e9
    println(f"[upd-scale] store: $total rows, full scan ${tScan}%.2f s")

    // result-sized modify: ~4.4% of people match the filter
    val req =
      s"""DELETE { ?x <${EX}age> ?a }
         |INSERT { ?x <${EX}ageBand> ?a }
         |WHERE { ?x <${EX}age> ?a . FILTER(?a > 95) }""".stripMargin
    t0 = System.nanoTime()
    val updated = store.update(req)
    val after = updated.quads.count()
    val tUpd = (System.nanoTime() - t0) / 1e9
    println(f"[upd-scale] delete-insert-where + count: ${tUpd}%.2f s ($after rows)")

    // plan assertions on the FINAL adaptive plan (post-execution)
    val plan = updated.quads.queryExecution.executedPlan.toString
    val smj = "SortMergeJoin".r.findAllIn(plan).size
    val bAnti = "BroadcastHashJoin".r.findAllIn(plan).size
    val anti = plan.contains("LeftAnti")
    val semi = plan.contains("LeftSemi")
    println(s"[upd-scale] plan: SortMergeJoin=$smj BroadcastHashJoin=$bAnti leftAnti=$anti leftSemi=$semi")
    require(smj == 0, s"store-side SortMergeJoin in UPDATE plan:\n$plan")
    require(anti && semi, s"expected broadcast anti (delete) + semi (insert dedup) joins:\n$plan")
    // scan-bound: the updated count reads the store twice (delete anti-join
    // probe + final union scan) plus the result-sized sides; allow 6x a
    // bare scan before calling it non-scan-bound.
    require(tUpd < tScan * 6 + 5,
      f"UPDATE wall-time not scan-bound: ${tUpd}%.2f s vs scan ${tScan}%.2f s")
    println("[upd-scale] PASS: scan-only insert, broadcast delete, scan-bound wall-time")
    spark.stop()
  }
}
