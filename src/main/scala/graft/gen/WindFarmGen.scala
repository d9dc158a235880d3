package graft.gen

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.encoding.TermCols
import graft.model.Xsd

/**
 * Deterministic generator for the Wind Farm (Chrontext) benchmark dataset —
 * a Spark-native re-derivation of the reference's generator
 * (/root/reference/bench/src/benchmarks/windfarm/generate/generate_static.rs,
 * generate_time_series.rs): same schema, same entity counts, same
 * timestamp grid (3 days × 24 h × 360 ten-second steps), same series
 * structure (Production / Operating / Windspeed / WindDirection per
 * turbine), same structural quirks (the production series of walk index i
 * lands on subject `w{(i+1) mod n}`; site assignment `i / (n/4)` attaches
 * the first turbines to an undeclared Site0; GeneratorSystem's label reads
 * "Weather Measuring System").
 *
 * Values differ from the reference (its rand::StdRng stream is not worth
 * replicating); ours are PORTABLE-DETERMINISTIC: uniforms are 40-bit
 * md5-hex prefixes (exactly representable doubles), random-walk deltas are
 * Irwin–Hall(3) normals rounded to INTEGERS (watts / centidegrees / mm·s⁻¹),
 * so running-sum values are exact under ANY summation order and any engine
 * with IEEE doubles + md5 (DuckDB included) reproduces them bit-for-bit —
 * which is what lets windfarm queries enter the DuckDB oracle gate.
 *
 * Scale posture: the time-series body is a `spark.range` cross the series
 * list with a per-series window cumsum — embarrassingly parallel across
 * series, sequential only within one series (inherent to a random walk);
 * at N turbines the widest shuffle is `4N` series × 25 920 rows.
 */
object WindFarmGen {

  val Rdf = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
  val Rdfs = "http://www.w3.org/2000/01/rdf-schema#"
  val Ct = "https://github.com/magbak/chrontext#"
  val Rds = "https://github.com/magbak/chrontext/rds_power#"
  val Wpex = "https://github.com/magbak/chrontext/windpower_example#"

  private val Sites = Seq("Wind Mountain", "Gale Valley", "Gusty Plains", "Breezy Field")
  private val MaxPower = Seq(5000000L, 10000000L, 15000000L)
  /** (month, day) grid; 24 h of 360 ten-second steps each. */
  private val Days = Seq((8, 29), (8, 30), (9, 1))
  val StepsPerDay = 24 * 360
  val Steps: Int = Days.size * StepsPerDay // 25 920 per series

  // ------------------------------------------------------------ static part

  /** Static quads (sites, turbines, generator systems, generators, weather
    * measuring systems) as a PlainTerm quads DataFrame. */
  def staticQuads(spark: SparkSession, n: Int): DataFrame = {
    require(n % Sites.size == 0, s"numTurbines must be a multiple of ${Sites.size}")
    val tps = n / Sites.size
    val b = Seq.newBuilder[(String, String, Either[String, (String, String)])]
    def iri(s: String, p: String, o: String): Unit = b += ((s, p, Left(o)))
    def litT(s: String, p: String, v: String, dt: String): Unit = b += ((s, p, Right((v, dt))))
    def label(s: String, v: String): Unit = litT(s, Rdfs + "label", v, null)

    Sites.zipWithIndex.foreach { case (name, i) =>
      iri(Wpex + s"Site${i + 1}", Rdf + "type", Rds + "Site")
      label(Wpex + s"Site${i + 1}", name)
    }
    for (i <- 1 to n) {
      val mp = MaxPower((i % MaxPower.size))
      val siteIdx = i / tps              // reference quirk: Site0 for i < tps
      val idxWithinSite = (i % tps) + 1
      val wt = Wpex + s"WindTurbine$i"
      iri(wt, Rdf + "type", Rds + "A")
      label(wt, s"Wind turbine $i")
      iri(wt, Ct + "hasTimeSeries", Wpex + s"oper$i") // capital-S quirk
      iri(wt, Ct + "hasStaticProperty", Wpex + s"WindTurbineMaximumPower$i")
      litT(Wpex + s"oper$i", Ct + "hasExternalId", s"oper$i", null)
      iri(Wpex + s"oper$i", Ct + "hasDatatype", Xsd.boolean)
      label(Wpex + s"oper$i", "Operating")
      label(Wpex + s"WindTurbineMaximumPower$i", "MaximumPower")
      litT(Wpex + s"WindTurbineMaximumPower$i", Ct + "hasStaticValue", mp.toString, Xsd.integer)
      iri(Wpex + s"Site$siteIdx", Rds + "hasFunctionalAspect", Wpex + s"WindTurbineFunctionalAspect$i")
      iri(wt, Rds + "hasFunctionalAspectNode", Wpex + s"WindTurbineFunctionalAspect$i")
      label(Wpex + s"WindTurbineFunctionalAspect$i", s"A$idxWithinSite")
      // generator system + generator (gensys label quirk preserved)
      iri(Wpex + s"GeneratorSystem$i", Rdf + "type", Rds + "RA")
      label(Wpex + s"GeneratorSystem$i", "Weather Measuring System")
      iri(Wpex + s"Generator$i", Rdf + "type", Rds + "GAA")
      label(Wpex + s"Generator$i", "Generator")
      iri(wt, Rds + "hasFunctionalAspect", Wpex + s"GeneratorSystemFunctionalAspect$i")
      iri(Wpex + s"GeneratorSystem$i", Rds + "hasFunctionalAspectNode", Wpex + s"GeneratorSystemFunctionalAspect$i")
      label(Wpex + s"GeneratorSystemFunctionalAspect$i", s"RA$i")
      iri(Wpex + s"GeneratorSystem$i", Rds + "hasFunctionalAspect", Wpex + s"GeneratorFunctionalAspect$i")
      iri(Wpex + s"Generator$i", Rds + "hasFunctionalAspectNode", Wpex + s"GeneratorFunctionalAspect$i")
      label(Wpex + s"GeneratorFunctionalAspect$i", s"GAA$i")
      iri(Wpex + s"Generator$i", Ct + "hasTimeseries", Wpex + s"w$i")
      litT(Wpex + s"w$i", Ct + "hasExternalId", s"w$i", null)
      iri(Wpex + s"w$i", Ct + "hasDatatype", Xsd.double)
      label(Wpex + s"w$i", "Production")
      // weather measuring system
      iri(Wpex + s"WeatherMeasuringSystem$i", Rdf + "type", Rds + "LE")
      label(Wpex + s"WeatherMeasuringSystem$i", "Weather Measuring System")
      iri(wt, Rds + "hasFunctionalAspect", Wpex + s"WMSFunctionalAspect$i")
      iri(Wpex + s"WeatherMeasuringSystem$i", Rds + "hasFunctionalAspectNode", Wpex + s"WMSFunctionalAspect$i")
      label(Wpex + s"WMSFunctionalAspect$i", s"LE$i")
      iri(Wpex + s"WeatherMeasuringSystem$i", Ct + "hasTimeseries", Wpex + s"wsp$i")
      litT(Wpex + s"wsp$i", Ct + "hasExternalId", s"wsp$i", null)
      iri(Wpex + s"wsp$i", Ct + "hasDatatype", Xsd.double)
      label(Wpex + s"wsp$i", "Windspeed")
      iri(Wpex + s"WeatherMeasuringSystem$i", Ct + "hasTimeseries", Wpex + s"wdir$i")
      litT(Wpex + s"wdir$i", Ct + "hasExternalId", s"wdir$i", null)
      iri(Wpex + s"wdir$i", Ct + "hasDatatype", Xsd.double)
      label(Wpex + s"wdir$i", "WindDirection")
    }
    import spark.implicits._
    val rows = b.result().map {
      case (s, p, Left(o)) => (s, p, o, null: String, true)
      case (s, p, Right((v, dt))) => (s, p, v, dt, false)
    }
    rows.toDF("s", "p", "o", "dt", "isIri").select(
      lit(null).cast(TermCols.schema).as("graph"),
      TermCols.iri(col("s")).as("subject"),
      TermCols.iri(col("p")).as("predicate"),
      when(col("isIri"), TermCols.iri(col("o")))
        .otherwise(TermCols.literal(col("o"), col("dt"), lit(null).cast(StringType)))
        .as("object"))
  }

  // ------------------------------------------------------- portable numerics

  /** 40-bit md5-prefix uniform in (0,1): `(k + 0.5) / 2^40` with k the first
    * ten hex digits — exactly representable, bit-identical in any engine. */
  private def u40(key: Column): Column =
    (conv(substring(md5(key), 1, 10), 16, 10).cast(DoubleType) + lit(0.5)) / lit(1099511627776.0)

  /** Walk index i (0-based) whose production data lands on subject w{tid}
    * (reference quirk: tid = (i+1) mod n ⇒ i = (tid+n-1) mod n). */
  def prodWalkIndex(tid: Int, n: Int): Int = (tid + n - 1) % n

  /** Whether walk index i's turbine is operating (99% are). */
  private def operatingCol(i: Column): Column = u40(concat(lit("wfoper|"), i)) > lit(0.01)

  // ------------------------------------------------------------- time series

  /**
   * Time-series quads: for each series, 25 920 data points
   * `series ct:hasDataPoint _:dp . _:dp ct:hasTimestamp t ; ct:hasValue v .`
   * Series values:
   *  - Production `w{(i+1)%n}` (operating walks only): watts, start
   *    `floor(maxPower[i%3] * u)`, integer deltas N(0, 1000).
   *  - Operating `oper{i+1}`: constant boolean.
   *  - WindDirection `wdir{i+1}`: centidegree walk N(0, 360 cd) mod 36000,
   *    emitted as degrees (value/100).
   *  - Windspeed `wsp{i+1}`: mm/s walk N(0, 1000), |·| once at the end
   *    (unlike the reference's per-step abs — documented deviation),
   *    emitted as m/s (value/1000).
   */
  def timeSeriesQuads(spark: SparkSession, n: Int): DataFrame = {
    import spark.implicits._
    // (series subject local name, kind, walk index i)
    val series =
      (0 until n).map(i => (s"w${(i + 1) % n}", "prod", i)) ++
      (0 until n).map(i => (s"oper${i + 1}", "oper", i)) ++
      (0 until n).map(i => (s"wdir${i + 1}", "wdir", i)) ++
      (0 until n).map(i => (s"wsp${i + 1}", "wsp", i))
    val sdf = series.toDF("sid", "kind", "i")
    val steps = spark.range(Steps.toLong).select(col("id").cast(IntegerType).as("s"))
    val rows = steps.crossJoin(broadcast(sdf))

    val mp = element_at(typedlit(MaxPower), (col("i") % 3) + 1).cast(DoubleType)
    val init = when(col("kind") === "prod", floor(mp * u40(concat(lit("wfinit|"), col("sid")))))
      .when(col("kind") === "wdir", floor(lit(36000.0) * u40(concat(lit("wfinit|"), col("sid")))))
      .when(col("kind") === "wsp", floor(lit(12000.0) * u40(concat(lit("wfinit|"), col("sid")))))
      .otherwise(lit(0.0)).cast(LongType)
    val sigma = when(col("kind") === "prod", lit(1000.0))
      .when(col("kind") === "wdir", lit(360.0))
      .when(col("kind") === "wsp", lit(1000.0)).otherwise(lit(0.0))
    val deltaKey = concat(col("sid"), lit("|"), col("s"), lit("|d"))
    val h = md5(deltaKey)
    def chunk(p: Int) =
      (conv(substring(h, p, 10), 16, 10).cast(DoubleType) + lit(0.5)) / lit(1099511627776.0)
    val delta = round(lit(2.0) * sigma * (chunk(1) + chunk(11) + chunk(21) - lit(1.5)))
      .cast(LongType)

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("sid").orderBy("s")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val walk = col("init") + sum(col("delta")).over(w)

    val withWalk = rows
      .withColumn("init", init).withColumn("delta", delta)
      .withColumn("walk", walk)
      .withColumn("operating", operatingCol(col("i")))
      // production data exists only for operating walks (reference skips them)
      .where(col("kind") =!= "prod" || col("operating"))

    // timestamp lexical from the flat step index (fixed kind-4 shape).
    // NB Spark's `/` on ints is DOUBLE division — use explicit int division
    def idiv(a: Column, b: Int): Column = floor(a / lit(b)).cast(IntegerType)
    val dayIdx = idiv(col("s"), StepsPerDay)
    val rem = col("s") % StepsPerDay
    val hh = idiv(rem, 360)
    val s10 = rem % 360
    val mm = idiv(s10, 6)
    val ss = (s10 % 6) * 10
    val month = when(dayIdx < 2, lit("08")).otherwise(lit("09"))
    val day = when(dayIdx === 0, lit("29")).when(dayIdx === 1, lit("30")).otherwise(lit("01"))
    val tsLex = concat(lit("2022-"), month, lit("-"), day, lit("T"),
      lpad(hh.cast(StringType), 2, "0"), lit(":"),
      lpad(mm.cast(StringType), 2, "0"), lit(":"),
      lpad(ss.cast(StringType), 2, "0"))

    val value = when(col("kind") === "prod", TermCols.fromDoubleRaw(col("walk").cast(DoubleType)))
      .when(col("kind") === "wdir",
        TermCols.fromDoubleRaw((pmod(col("walk"), lit(36000L))).cast(DoubleType) / lit(100.0)))
      .when(col("kind") === "wsp",
        TermCols.fromDoubleRaw(abs(col("walk")).cast(DoubleType) / lit(1000.0)))
      .otherwise(TermCols.fromBoolean(col("operating")))

    val dp = withWalk.select(
      col("sid"),
      concat(lit("dp_"), col("sid"), lit("_"), col("s")).as("dpId"),
      tsLex.as("ts"), value.as("valTerm"))
      .localCheckpoint() // feeds three projections below

    val g = lit(null).cast(TermCols.schema).as("graph")
    val dpTerm = TermCols.bnode(col("dpId"))
    dp.select(g, TermCols.iri(concat(lit(Wpex), col("sid"))).as("subject"),
        TermCols.iri(lit(Ct + "hasDataPoint")).as("predicate"), dpTerm.as("object"))
      .unionAll(dp.select(g, dpTerm.as("subject"),
        TermCols.iri(lit(Ct + "hasTimestamp")).as("predicate"),
        TermCols.typedLit(col("ts"), Xsd.dateTime).as("object")))
      .unionAll(dp.select(g, dpTerm.as("subject"),
        TermCols.iri(lit(Ct + "hasValue")).as("predicate"), col("valTerm").as("object")))
  }

  /** The full dataset: static + time series. */
  def quads(spark: SparkSession, n: Int): DataFrame =
    staticQuads(spark, n).unionAll(timeSeriesQuads(spark, n))

  /** Static kinds the generator vouches for: timestamps are uniformly
    * xsd:dateTime in the fixed lexical shape (kind 4), so date-part
    * accessors and range comparisons compile without the datatype CASE
    * ladder. hasValue stays dynamic — operating-series values are booleans. */
  val kinds: graft.engine.StarSource =
    graft.engine.StarSource.kindsOnly(Map(Ct + "hasTimestamp" -> 4))
}
