package graft.gen

/**
 * The Wind Farm (Chrontext) benchmark's SPARQL texts over `WindFarmGen`'s
 * farm, keyed by the reference benchmark's file names
 * (`wind-farm-<key>.sparql`). This is the one copy: the gate's `windfarm_*`
 * queries in `SparkEntry`, `WindFarmSpec` and `BenchQueryParseSpec` all read
 * it.
 *
 *  - `production-query2`, `grouped-production-query1` and
 *    `grouped-production-query2` are the reference texts verbatim.
 *  - The texts of `production-query1`/`3`/`4` and
 *    `grouped-production-query3`/`4` are not in this repository; asking for
 *    one fails naming the missing file.
 */
object WindFarmQueries {

  private val Prefixes: String = """PREFIX xsd:<http://www.w3.org/2001/XMLSchema#>
    |PREFIX ct:<https://github.com/magbak/chrontext#>
    |PREFIX rdfs:<http://www.w3.org/2000/01/rdf-schema#>
    |PREFIX rdf:<http://www.w3.org/1999/02/22-rdf-syntax-ns#>
    |PREFIX rds:<https://github.com/magbak/chrontext/rds_power#>
    |""".stripMargin

  /** The 17-pattern site → turbine → generator → production series BGP every
    * query shares. */
  private val Bgp = """?site a rds:Site .
    |    ?site rdfs:label ?site_label .
    |    ?site rds:hasFunctionalAspect ?wtur_asp .
    |    ?wtur_asp rdfs:label ?wtur_label .
    |    ?wtur rds:hasFunctionalAspectNode ?wtur_asp .
    |    ?wtur rds:hasFunctionalAspect ?gensys_asp .
    |    ?wtur a rds:A .
    |    ?gensys rds:hasFunctionalAspectNode ?gensys_asp .
    |    ?gensys a rds:RA .
    |    ?gensys rds:hasFunctionalAspect ?generator_asp .
    |    ?generator rds:hasFunctionalAspectNode ?generator_asp .
    |    ?generator a rds:GAA .
    |    ?generator ct:hasTimeseries ?ts .
    |    ?ts rdfs:label "Production" .
    |    ?ts ct:hasDataPoint ?dp .
    |    ?dp ct:hasValue ?val .
    |    ?dp ct:hasTimestamp ?t .
    |""".stripMargin

  private val TenTurbines = """("A1", "A2", "A3", "A4", "A5", "A6", "A7", "A8", "A9", "A10")"""

  private def production(filter: String): String =
    Prefixes + "SELECT ?site_label ?wtur_label ?t ?val WHERE {\n" + Bgp +
      s"""    FILTER($filter) .
        |} ORDER BY ?site_label ?wtur_label ?t ?val LIMIT 10""".stripMargin

  /** 10-minute AVG buckets over one 13-hour window of 2022-08-30. */
  private def grouped(turbines: String): String =
    Prefixes +
      "SELECT ?site_label ?wtur_label ?year ?month ?day ?hour ?minute_10 (AVG(?val) as ?avg_val) WHERE {\n" +
      Bgp +
      s"""    BIND(10 * FLOOR(minutes(?t) / 10.0) as ?minute_10)
        |    BIND(hours(?t) AS ?hour)
        |    BIND(day(?t) AS ?day)
        |    BIND(month(?t) AS ?month)
        |    BIND(year(?t) AS ?year)
        |    FILTER(?site_label = "Wind Mountain"
        |        && ?wtur_label $turbines
        |        && ?t >= "2022-08-30T08:46:53"^^xsd:dateTime
        |        && ?t <= "2022-08-30T21:46:53"^^xsd:dateTime) .
        |} GROUP BY ?site_label ?wtur_label ?year ?month ?day ?hour ?minute_10
        |ORDER BY ?site_label ?wtur_label ?year ?month ?day ?hour ?minute_10 LIMIT 10""".stripMargin

  /** The texts this repository holds, in file-name order. */
  val texts: Seq[(String, String)] = Seq(
    "grouped-production-query1" -> grouped("= \"A1\""),
    "grouped-production-query2" -> grouped(s"in $TenTurbines"),
    "production-query2" -> production(
      s"""?wtur_label in $TenTurbines && ?site_label = "Wind Mountain""""))

  def apply(key: String): String = texts.collectFirst { case (`key`, t) => t }.getOrElse(
    throw new NoSuchElementException(
      s"wind-farm-$key.sparql: the query text is not in this repository (see FIXTURES.md)"))
}
