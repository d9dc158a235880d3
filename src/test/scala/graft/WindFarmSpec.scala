package graft

import org.apache.spark.sql.functions._
import graft.engine.Graft
import graft.gen.{WindFarmGen, WindFarmQueries}

/**
 * Runs the reference's Wind Farm benchmark queries end-to-end (the texts in
 * `graft.gen.WindFarmQueries`, keyed by the reference's wind-farm-*.sparql
 * file names) over our deterministic re-derivation of its generator at the
 * same scale as the reference's own snapshot test (4 turbines,
 * windfarm.rs: wind_farm_4_test_results). Values differ from the
 * reference's rand stream, so instead of its snapshots we verify the
 * engine against DIRECT DataFrame computation over the same generated
 * quads — plus structural facts that are scale-determined.
 */
class WindFarmSpec extends SparkSpec {

  private def queryText(name: String): String = WindFarmQueries(name)

  private val N = 4
  private lazy val quads = WindFarmGen.quads(spark, N).localCheckpoint()
  private lazy val graft = Graft(quads)

  // PlainTerm field accessors for direct cross-checks
  private def v(c: String) = col(c).getField("v")

  test("static structure: entity counts match the generator spec") {
    val subj = quads.select(v("subject").as("s"), v("predicate").as("p"), v("object").as("o"))
    assert(subj.where(col("p") === WindFarmGen.Rdf + "type" &&
      col("o") === WindFarmGen.Rds + "A").count() == N)
    assert(subj.where(col("p") === WindFarmGen.Rdf + "type" &&
      col("o") === WindFarmGen.Rds + "Site").count() == 4)
    // 25 920 timestamps per series; 3N non-production series + operating
    // production walks
    val dps = subj.where(col("p") === WindFarmGen.Ct + "hasDataPoint").count()
    assert(dps % WindFarmGen.Steps == 0)
    val nSeries = dps / WindFarmGen.Steps
    assert(nSeries >= 3L * N && nSeries <= 4L * N, s"series count $nSeries")
  }

  test("production query 1: A1 at Wind Mountain, first 10 points match the walk") {
    // decode lexicalises every column; give val a native type
    val res = Graft.decode(graft.select(queryText("production-query1")),
      Map("val" -> org.apache.spark.sql.types.DoubleType))
    val rows = res.collect()
    assert(rows.length == 10)
    assert(rows.forall(r => r.getAs[String]("site_label") == "Wind Mountain"))
    assert(rows.forall(r => r.getAs[String]("wtur_label") == "A1"))
    // ORDER BY ?t ascending from the grid start
    val ts = rows.map(_.getAs[String]("t")).toSeq
    assert(ts == ts.sorted)
    assert(ts.head == "2022-08-29T00:00:00")
    // cross-check values against the raw quads (series w1 = turbine 1's)
    val direct = quads
      .where(v("predicate") === WindFarmGen.Ct + "hasValue" &&
        v("subject").startsWith("dp_w1_"))
      .select(substring_index(v("subject"), "_", -1).cast("int").as("s"),
        col("object").getField("num").as("x"))
      .orderBy("s").limit(10).collect().map(_.getAs[Double]("x")).toSeq
    val got = rows.map(_.getAs[Double]("val")).toSeq
    assert(got.toSet == direct.toSet, s"vals $got vs $direct")
  }

  test("production queries 2-4 return the LIMIT rows, ordered") {
    for (q <- Seq("production-query2", "production-query3", "production-query4")) {
      val rows = graft.select(queryText(q)).collect()
      assert(rows.length == 10, s"$q returned ${rows.length}")
    }
  }

  test("grouped production query 1: 10-minute buckets match direct aggregation") {
    val res = Graft.decode(graft.select(queryText("grouped-production-query1")),
      Map("year" -> org.apache.spark.sql.types.LongType,
        "month" -> org.apache.spark.sql.types.LongType,
        "day" -> org.apache.spark.sql.types.LongType,
        "hour" -> org.apache.spark.sql.types.LongType,
        "minute_10" -> org.apache.spark.sql.types.LongType,
        "avg_val" -> org.apache.spark.sql.types.DoubleType))
    val rows = res.collect()
    assert(rows.length == 10)
    // first bucket after 2022-08-30T08:46:53 is (8, 40); all on day 30
    assert(rows.forall(r => r.getAs[Long]("year") == 2022 && r.getAs[Long]("month") == 8
      && r.getAs[Long]("day") == 30))
    assert(rows.head.getAs[Long]("hour") == 8 && rows.head.getAs[Long]("minute_10") == 40)
    // direct aggregation over the raw quads: series w1, day-30 window
    val dayStart = 1 * WindFarmGen.StepsPerDay // day index 1 = 2022-08-30
    val loSec = 8 * 3600 + 46 * 60 + 53
    val hiSec = 21 * 3600 + 46 * 60 + 53
    val direct = quads
      .where(v("predicate") === WindFarmGen.Ct + "hasValue" &&
        v("subject").startsWith("dp_w1_"))
      .select(substring_index(v("subject"), "_", -1).cast("int").as("s"),
        col("object").getField("num").as("x"))
      .withColumn("sec", (col("s") - dayStart) * 10)
      .where(col("s") >= dayStart && col("s") < dayStart + WindFarmGen.StepsPerDay &&
        col("sec") >= loSec && col("sec") <= hiSec)
      .groupBy((col("sec") / 3600).cast("int").as("hour"),
        (((col("sec") % 3600) / 60).cast("int") / 10).cast("int").multiply(10).as("minute_10"))
      .agg(avg("x").as("avg_val"))
      .orderBy("hour", "minute_10").limit(10).collect()
    val directMap = direct.map(r =>
      (r.getAs[Int]("hour").toLong, r.getAs[Int]("minute_10").toLong) -> r.getAs[Double]("avg_val")).toMap
    rows.foreach { r =>
      val k = (r.getAs[Long]("hour"), r.getAs[Long]("minute_10"))
      val exp = directMap(k)
      assert(math.abs(r.getAs[Double]("avg_val") - exp) < 1e-9, s"bucket $k")
    }
  }

  test("grouped production queries 2-4 run and group correctly") {
    for (q <- Seq("grouped-production-query2", "grouped-production-query3",
                  "grouped-production-query4")) {
      val rows = graft.select(queryText(q)).collect()
      assert(rows.length == 10, s"$q returned ${rows.length}")
    }
  }
}
