package graft

import graft.engine.Graft
import graft.gen.{BsbmGen, BsbmTemplates}

/**
 * Executes every BSBM Explore + Business Intelligence query the reference
 * benches — the texts adapted to `BsbmGen`'s IRIs under
 * `perfbench/templates/{explore,bi}`, filled by `BsbmTemplates` —
 * end-to-end over the deterministic BSBM-shaped dataset. The reference's
 * snapshots come from the upstream BSBM generator's data (not available
 * offline), so result values differ; what this spec pins is that the
 * whole query set — DESCRIBE and CONSTRUCT included — runs through the
 * engine and selects non-trivial rows on schema-faithful data.
 */
// 126 s of the measured 1687 s full-suite runtime (r10 timing run):
// excluded from the driver's budgeted `sbt test` gate, still run in the
// builder's own loop (see build.sbt testOptions).
@graft.SlowTest
class BsbmSpec extends SparkSpec {

  private lazy val graft = Graft(BsbmGen.quads(spark, 1000).repartition(32).localCheckpoint())

  // every instance IRI the filled templates bind must exist
  test("referenced instance IRIs exist in the generated data") {
    import org.apache.spark.sql.functions._
    val subjects = graft.quads.select(col("subject").getField("v").as("s")).distinct()
    val needed = (BsbmTemplates.params.values.collect {
      case v if v.startsWith("<") => v.stripPrefix("<").stripSuffix(">")
    } ++ Seq(BsbmGen.Inst + "dataFromProducer6/Product272")).toSeq.distinct
    val present = subjects.where(
      needed.map(n => col("s") === n).reduce(_ || _)).count()
    assert(present == needed.size, s"only $present of ${needed.size} referenced IRIs exist")
  }

  private val mustReturnRows = Set(
    "explore-q1", "explore-q2-non-empty-optional", "explore-q3", "explore-q4",
    "explore-q5", "explore-q7", "explore-q8", "explore-q10", "explore-q11",
    "explore-q12", "bi-q1", "bi-q2", "bi-q3", "bi-q4", "bi-q5", "bi-q6", "bi-q7", "bi-q8")

  /** (name, text): `explore/q02.rq` is `explore-q2`; `explore-q2-non-empty-optional`
    * is Q2 bound to Product272, which has productPropertyNumeric4 and
    * productPropertyTextual4, so two of Q2's three OPTIONALs bind. */
  private val texts: Map[String, String] = Seq("explore", "bi").flatMap { g =>
    BsbmTemplates.files(g).flatMap { f =>
      val name = BsbmTemplates.name(f)
      (name -> BsbmTemplates.fill(f)) +: (if (name != "explore-q2") Nil else Seq(
        "explore-q2-non-empty-optional" ->
          BsbmTemplates.fill(f, Map("Product" -> s"<${BsbmGen.Inst}dataFromProducer6/Product272>"))))
    }
  }.toMap

  private val all = texts.keys.toSeq.sorted

  all.foreach { name =>
    test(s"$name executes over the generated dataset") {
      val rows = graft.query(texts(name)).collect()
      if (mustReturnRows(name)) assert(rows.nonEmpty, s"$name returned no rows")
    }
  }

  test("found the full explore + bi query set") {
    assert(all.size == 20, s"expected 20 queries, found ${all.size}: $all")
  }
}
