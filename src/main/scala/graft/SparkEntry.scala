package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import graft.engine.Graft
import graft.ops.{Bpe, Dedup, Html, LinkGraph, Multimodal, Similarity, TemporalJoins, TextAnalysis, Urls}
import graft.sources.{RdbToRdf, Warc}

/**
 * Driver contract: one entry per implemented operator (SURVEY.md §2 + the
 * training-data pipeline ops), each with a DuckDB oracle where SQL can
 * express it. SPARQL queries run through the full engine over the
 * relational→RDF mapping, so the DuckDB result over the raw tables is an
 * end-to-end oracle for parser + rewriter + expression compiler + executor.
 */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Engine over the mapped quads. NB deliberately NOT cached: caching would
    * materialise the whole virtual quad union, destroying the per-predicate
    * branch pruning + column pruning that make pattern scans read only the
    * needed parquet columns (measured 3× slower cached). */
  private def graftOver(s: SparkSession, dir: String, tables: String*): Graft = {
    val m = RdbToRdf.mapping(s, dir, tables)
    Graft(m.quads, m) // star source: same-subject BGPs fuse to one table scan
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("sparql_region_nations")(spark, "/root/testdata/sf0.001")

  // ------------------------------------------------------------------ SPARQL

  private def sparqlRegionNations(s: SparkSession, dir: String): DataFrame = {
    val res = graftOver(s, dir, "region", "nation").select(
      """SELECT ?rname (COUNT(?n) AS ?nations) WHERE {
        |  ?n <urn:g:nation#ref_region> ?r .
        |  ?r <urn:g:region#r_name> ?rname .
        |} GROUP BY ?rname ORDER BY ?rname""".stripMargin)
    Graft.decode(res, Map("nations" -> LongType)).orderBy("rname")
  }

  private def sparqlFilterOrder(s: SparkSession, dir: String): DataFrame = {
    val res = graftOver(s, dir, "customer").select(
      """SELECT ?name ?bal WHERE {
        |  ?c <urn:g:customer#c_name> ?name .
        |  ?c <urn:g:customer#c_acctbal> ?bal .
        |  FILTER(?bal > 9000)
        |} ORDER BY ?name""".stripMargin)
    Graft.decode(res, Map("bal" -> DoubleType))
      .select(col("name"), round(col("bal"), 2).as("bal")).orderBy("name")
  }

  private def sparqlOptionalAgg(s: SparkSession, dir: String): DataFrame = {
    val res = graftOver(s, dir, "customer", "orders").select(
      """SELECT ?name (COUNT(?o) AS ?orders) WHERE {
        |  ?c <urn:g:customer#c_name> ?name .
        |  OPTIONAL { ?o <urn:g:orders#ref_customer> ?c }
        |} GROUP BY ?name ORDER BY ?name""".stripMargin)
    Graft.decode(res, Map("orders" -> LongType)).orderBy("name")
  }

  private def sparqlMinus(s: SparkSession, dir: String): DataFrame = {
    val res = graftOver(s, dir, "customer", "orders").select(
      """SELECT ?name WHERE {
        |  ?c <urn:g:customer#c_name> ?name .
        |  MINUS { ?o <urn:g:orders#ref_customer> ?c .
        |          ?o <urn:g:orders#o_orderstatus> "F" }
        |} ORDER BY ?name""".stripMargin)
    Graft.decode(res).orderBy("name")
  }

  /** MINUS whose only shared var (?nname) is OPTIONAL-introduced on the left
    * — exercises the nullable-shared-var MINUS rewrite (union of semi-join
    * branches in Rewriter.minus): a left row with ?nname unbound
    * shares NO binding with any right row (empty dom intersection), so the
    * SPARQL spec keeps it regardless of the right side. */
  private def sparqlMinusNullable(s: SparkSession, dir: String): DataFrame = {
    val res = graftOver(s, dir, "customer", "supplier", "nation").select(
      """SELECT ?name WHERE {
        |  ?c <urn:g:customer#c_name> ?name .
        |  ?c <urn:g:customer#ref_nation> ?cnat .
        |  OPTIONAL { ?cnat <urn:g:nation#n_name> ?nname . FILTER(CONTAINS(?nname, "1")) }
        |  MINUS { ?s <urn:g:supplier#s_name> ?sn .
        |          ?s <urn:g:supplier#ref_nation> ?snat .
        |          ?snat <urn:g:nation#n_name> ?nname .
        |          FILTER(CONTAINS(?nname, "2")) }
        |} ORDER BY ?name""".stripMargin)
    Graft.decode(res).orderBy("name")
  }

  /** NOT EXISTS over a nullable correlated var — substitution semantics: a
    * left row with ?nname unbound leaves ?nname free inside the pattern, so
    * the pattern matches whenever ANY qualifying supplier exists and the row
    * is dropped; bound rows drop only on an exact nation match (null-pattern
    * EXISTS rewrite, Rewriter.scala:970-1122). */
  private def sparqlExistsNullable(s: SparkSession, dir: String): DataFrame = {
    val res = graftOver(s, dir, "customer", "supplier", "nation").select(
      """SELECT ?name WHERE {
        |  ?c <urn:g:customer#c_name> ?name .
        |  ?c <urn:g:customer#ref_nation> ?cnat .
        |  OPTIONAL { ?cnat <urn:g:nation#n_name> ?nname . FILTER(CONTAINS(?nname, "1")) }
        |  FILTER NOT EXISTS { ?s <urn:g:supplier#ref_nation> ?snat .
        |                      ?snat <urn:g:nation#n_name> ?nname .
        |                      FILTER(CONTAINS(?nname, "2")) }
        |} ORDER BY ?name""".stripMargin)
    Graft.decode(res).orderBy("name")
  }

  private def sparqlUnion(s: SparkSession, dir: String): DataFrame = {
    val res = graftOver(s, dir, "customer", "supplier").select(
      """SELECT ?name WHERE {
        |  { ?x <urn:g:customer#c_name> ?name } UNION { ?x <urn:g:supplier#s_name> ?name }
        |} ORDER BY ?name""".stripMargin)
    Graft.decode(res).orderBy("name")
  }

  private def sparqlPathSeq(s: SparkSession, dir: String): DataFrame = {
    val res = graftOver(s, dir, "orders", "customer", "nation", "region").select(
      """SELECT ?rname (COUNT(?o) AS ?orders) WHERE {
        |  ?o (<urn:g:orders#ref_customer>/<urn:g:customer#ref_nation>/<urn:g:nation#ref_region>/<urn:g:region#r_name>) ?rname
        |} GROUP BY ?rname ORDER BY ?rname""".stripMargin)
    Graft.decode(res, Map("orders" -> LongType)).orderBy("rname")
  }

  private def sparqlExists(s: SparkSession, dir: String): DataFrame = {
    val res = graftOver(s, dir, "customer", "orders").select(
      """SELECT ?name WHERE {
        |  ?c <urn:g:customer#c_name> ?name .
        |  FILTER EXISTS { ?o <urn:g:orders#ref_customer> ?c .
        |                  ?o <urn:g:orders#o_totalprice> ?tp . FILTER(?tp > 300000) }
        |} ORDER BY ?name""".stripMargin)
    Graft.decode(res).orderBy("name")
  }

  private def sparqlBindSum(s: SparkSession, dir: String): DataFrame = {
    val res = graftOver(s, dir, "lineitem").select(
      """SELECT ?flag (SUM(?rev) AS ?revenue) WHERE {
        |  ?l <urn:g:lineitem#l_returnflag> ?flag .
        |  ?l <urn:g:lineitem#l_extendedprice> ?p .
        |  ?l <urn:g:lineitem#l_discount> ?d .
        |  BIND(?p * (1 - ?d) AS ?rev)
        |} GROUP BY ?flag ORDER BY ?flag""".stripMargin)
    Graft.decode(res, Map("revenue" -> DoubleType))
      .select(col("flag"), round(col("revenue"), 0).cast(LongType).as("revenue"))
      .orderBy("flag")
  }

  /** Windfarm-style time-series-over-RDF: aggregate sensor-ish values per
    * type through the SPARQL engine (reference bench/src/benchmarks/windfarm
    * shape — grouped production aggregation). */
  private def sparqlEventsAgg(s: SparkSession, dir: String): DataFrame = {
    val res = graftOver(s, dir, "events").select(
      """SELECT ?type (COUNT(?e) AS ?n) (SUM(?v) AS ?total) (MAX(?v) AS ?vmax) WHERE {
        |  ?e <urn:g:events#event_type> ?type .
        |  ?e <urn:g:events#value> ?v .
        |} GROUP BY ?type ORDER BY ?type""".stripMargin)
    Graft.decode(res, Map("n" -> LongType, "total" -> DoubleType, "vmax" -> DoubleType))
      .select(col("type"), col("n"), round(col("total"), 2).as("total"),
        round(col("vmax"), 2).as("vmax"))
      .orderBy("type")
  }

  /** DISTINCT aggregates + SAMPLE through the engine. */
  private def sparqlDistinctAgg(s: SparkSession, dir: String): DataFrame = {
    val res = graftOver(s, dir, "orders", "customer").select(
      """SELECT ?status (COUNT(DISTINCT ?c) AS ?custs) (COUNT(?o) AS ?orders) WHERE {
        |  ?o <urn:g:orders#o_orderstatus> ?status .
        |  ?o <urn:g:orders#ref_customer> ?c .
        |} GROUP BY ?status ORDER BY ?status""".stripMargin)
    Graft.decode(res, Map("custs" -> LongType, "orders" -> LongType)).orderBy("status")
  }

  /** Scalar string functions through the full engine (UCASE/SUBSTR/STRLEN/
    * CONTAINS/REPLACE), oracled against DuckDB's string functions. */
  private def sparqlStringFuncs(s: SparkSession, dir: String): DataFrame = {
    val res = graftOver(s, dir, "customer").select(
      """SELECT ?name ?up ?sub ?len ?repl WHERE {
        |  ?c <urn:g:customer#c_name> ?name .
        |  BIND(UCASE(?name) AS ?up)
        |  BIND(SUBSTR(?name, 10, 5) AS ?sub)
        |  BIND(STRLEN(?name) AS ?len)
        |  BIND(REPLACE(?name, "Customer", "C") AS ?repl)
        |  FILTER(CONTAINS(?name, "19") && STRSTARTS(?name, "Customer"))
        |} ORDER BY ?name""".stripMargin)
    Graft.decode(res, Map("len" -> LongType)).orderBy("name")
  }

  /** Date accessors over xsd:dateTime terms (YEAR/MONTH/DAY), grouped. */
  private def sparqlDateFuncs(s: SparkSession, dir: String): DataFrame = {
    val res = graftOver(s, dir, "orders").select(
      """SELECT ?y ?m (COUNT(?o) AS ?n) WHERE {
        |  ?o <urn:g:orders#o_orderdate> ?d .
        |  BIND(YEAR(?d) AS ?y) BIND(MONTH(?d) AS ?m)
        |  FILTER(?y >= 1995)
        |} GROUP BY ?y ?m ORDER BY ?y ?m""".stripMargin)
    Graft.decode(res, Map("y" -> LongType, "m" -> LongType, "n" -> LongType))
      .orderBy("y", "m")
  }

  /** Mapped quads + a derived `urn:g:orders#next` edge predicate linking
    * each customer's orders in (o_orderdate, o_orderkey) order — gives the
    * sf data a genuinely transitive relation (per-customer chains, ~10 hops
    * at sf0.1) so the Kleene-closure loop can be gate-oracled. */
  private def graftWithNextEdges(s: SparkSession, dir: String): Graft = {
    import graft.encoding.TermCols
    val m = RdbToRdf.mapping(s, dir, Seq("orders", "customer"))
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    val next = t(s, dir, "orders")
      .select(col("o_orderkey"), lead("o_orderkey", 1).over(w).as("nxt"))
      .filter(col("nxt").isNotNull)
      .select(TermCols.nullTerm.as("graph"),
        RdbToRdf.subjectIri("orders", col("o_orderkey")).as("subject"),
        TermCols.iri(lit("urn:g:orders#next")).as("predicate"),
        RdbToRdf.subjectIri("orders", col("nxt")).as("object"))
    Graft(m.quads.unionByName(next), m)
  }

  /** Kleene `p+` through the engine (the reference's one custom physical
    * operator — kleene_plus/physical.rs): transitive reachability over the
    * per-customer order chains, counted per customer. An n-order chain
    * contributes C(n,2) pairs; the DuckDB oracle recomputes the closure with
    * a recursive CTE. */
  private def sparqlPathClosure(s: SparkSession, dir: String): DataFrame = {
    val res = graftWithNextEdges(s, dir).select(
      """SELECT ?name (COUNT(?o2) AS ?reach) WHERE {
        |  ?c <urn:g:customer#c_name> ?name .
        |  ?o1 <urn:g:orders#ref_customer> ?c .
        |  ?o1 <urn:g:orders#next>+ ?o2 .
        |} GROUP BY ?name ORDER BY ?name""".stripMargin)
    Graft.decode(res, Map("reach" -> LongType)).orderBy("name")
  }

  /** Seeded `p*` (zero-or-more from a bound frontier): closure restricted to
    * one market segment's orders, so the engine's seeded frontier walk (not
    * the full-graph doubling) is the natural plan. Zero-length paths
    * contribute the (o,o) pairs — n + C(n,2) per n-order chain. */
  private def sparqlPathSeeded(s: SparkSession, dir: String): DataFrame = {
    val res = graftWithNextEdges(s, dir).select(
      """SELECT ?name (COUNT(?o2) AS ?n) WHERE {
        |  ?c <urn:g:customer#c_mktsegment> "MACHINERY" .
        |  ?c <urn:g:customer#c_name> ?name .
        |  ?o1 <urn:g:orders#ref_customer> ?c .
        |  ?o1 <urn:g:orders#next>* ?o2 .
        |} GROUP BY ?name ORDER BY ?name""".stripMargin)
    Graft.decode(res, Map("n" -> LongType)).orderBy("name")
  }

  /** GROUP_CONCAT with an explicit separator. Concatenation order is
    * implementation-defined in SPARQL (and nondeterministic under shuffle),
    * so both sides canonicalise: Spark sorts the parts after the fact, the
    * oracle aggregates with ORDER BY. */
  private def sparqlGroupConcat(s: SparkSession, dir: String): DataFrame = {
    val res = graftOver(s, dir, "nation", "region").select(
      """SELECT ?rname (GROUP_CONCAT(?nname; SEPARATOR=",") AS ?nations) WHERE {
        |  ?n <urn:g:nation#ref_region> ?r .
        |  ?n <urn:g:nation#n_name> ?nname .
        |  ?r <urn:g:region#r_name> ?rname .
        |} GROUP BY ?rname""".stripMargin)
    Graft.decode(res)
      .select(col("rname"),
        array_join(sort_array(split(col("nations"), ",")), ",").as("nations"))
      .orderBy("rname")
  }

  /** SAMPLE — deterministic here because ?nname is functionally determined
    * by the group key ?n (exactly one name per nation), so "any value" has
    * one possible answer and the oracle can reproduce it. */
  private def sparqlSample(s: SparkSession, dir: String): DataFrame = {
    val res = graftOver(s, dir, "customer", "nation").select(
      """SELECT (SAMPLE(?nname) AS ?nname) (COUNT(?c) AS ?custs) WHERE {
        |  ?c <urn:g:customer#ref_nation> ?n .
        |  ?n <urn:g:nation#n_name> ?nname .
        |} GROUP BY ?n""".stripMargin)
    Graft.decode(res, Map("custs" -> LongType)).orderBy("nname")
  }

  /** OPTIONAL-chain join whose only shared var (?nname) is OPTIONAL-introduced
    * on BOTH sides — the no-equi compat shape that used to plan a pure-theta
    * BroadcastNestedLoopJoin and now lowers to the compat-union equi rewrite
    * (Rewriter.compatUnionJoin). Every nation has a name, so the null-pattern
    * slices are empty at execution and every row comes from the hash join
    * of the bound slices. */
  private def sparqlOptionalChain(s: SparkSession, dir: String): DataFrame = {
    val res = graftOver(s, dir, "customer", "supplier", "nation").select(
      """SELECT ?nname (COUNT(?c) AS ?pairs) WHERE {
        |  { ?c <urn:g:customer#c_name> ?cn . ?c <urn:g:customer#ref_nation> ?cnat .
        |    OPTIONAL { ?cnat <urn:g:nation#n_name> ?nname } }
        |  { ?s <urn:g:supplier#s_name> ?sn . ?s <urn:g:supplier#ref_nation> ?snat .
        |    OPTIONAL { ?snat <urn:g:nation#n_name> ?nname } }
        |} GROUP BY ?nname ORDER BY ?nname""".stripMargin)
    Graft.decode(res, Map("pairs" -> LongType)).orderBy("nname")
  }

  /** Negated property set composed with reverse and sequence (reference
    * lowering lib/logical/src/paths/path_node/rewrite.rs:137-178): walk
    * region ← nation via the reversed fk edge, then the NPS leaves only
    * n_name among nation's predicates. */
  private def sparqlPathNps(s: SparkSession, dir: String): DataFrame = {
    val res = graftOver(s, dir, "nation").select(
      """SELECT ?x ?y WHERE {
        |  ?x (^<urn:g:nation#ref_region> /
        |      !(<urn:g:nation#n_nationkey>|<urn:g:nation#n_regionkey>|<urn:g:nation#ref_region>)) ?y
        |} ORDER BY ?x ?y""".stripMargin)
    Graft.decode(res).orderBy("x", "y")
  }

  /** Zero-or-one path `p?`: each nation yields itself (zero) plus its
    * region (one step). */
  private def sparqlPathZeroOrOne(s: SparkSession, dir: String): DataFrame = {
    val res = graftOver(s, dir, "nation").select(
      """SELECT ?s ?x WHERE {
        |  ?s <urn:g:nation#n_name> ?nm .
        |  ?s <urn:g:nation#ref_region>? ?x .
        |} ORDER BY ?s ?x""".stripMargin)
    Graft.decode(res).orderBy("s", "x")
  }

  /** VALUES as a join input: the inline table constrains the region scan. */
  private def sparqlValuesJoin(s: SparkSession, dir: String): DataFrame = {
    val res = graftOver(s, dir, "region", "nation").select(
      """SELECT ?rname ?nname WHERE {
        |  VALUES ?rname { "ASIA" "EUROPE" }
        |  ?r <urn:g:region#r_name> ?rname .
        |  ?n <urn:g:nation#ref_region> ?r .
        |  ?n <urn:g:nation#n_name> ?nname .
        |} ORDER BY ?rname ?nname""".stripMargin)
    Graft.decode(res).orderBy("rname", "nname")
  }

  /** CONSTRUCT, gate-oracled as sorted ground N-Triples lines (the W3C
    * slice graph-compares; the oracle compares the serialised graph). */
  private def sparqlConstruct(s: SparkSession, dir: String): DataFrame = {
    val triples = graftOver(s, dir, "nation").query(
      """CONSTRUCT { ?r <urn:ex:hasNation> ?n }
        |WHERE { ?n <urn:g:nation#ref_region> ?r }""".stripMargin)
    graft.sources.NTriples.toNQuadLines(triples)
      .select(col("value").as("line")).orderBy("line")
  }

  /** ASK entry point (boolean result form), oracled as a one-row boolean. */
  private def sparqlAsk(s: SparkSession, dir: String): DataFrame =
    graftOver(s, dir, "region").query(
      """ASK { ?r <urn:g:region#r_name> "ASIA" }""")

  /** DESCRIBE entry point (Concise Bounded Description), oracled as sorted
    * ground N-Triples lines — the mapping has no bnodes, so the CBD is the
    * described nodes' outgoing triples. */
  private def sparqlDescribe(s: SparkSession, dir: String): DataFrame = {
    val triples = graftOver(s, dir, "region").query(
      """DESCRIBE ?r WHERE { ?r <urn:g:region#r_name> ?n }""")
    graft.sources.NTriples.toNQuadLines(triples)
      .select(col("value").as("line")).orderBy("line")
  }

  /** LATERAL (SPARQL 1.2): per-outer-row correlated sub-select with its own
    * ORDER/LIMIT — oracled against DuckDB's LATERAL join. */
  private def sparqlLateral(s: SparkSession, dir: String): DataFrame = {
    val res = graftOver(s, dir, "region", "nation").select(
      """SELECT ?rname ?nname WHERE {
        |  ?r <urn:g:region#r_name> ?rname .
        |  LATERAL {
        |    SELECT ?r ?nname WHERE {
        |      ?n <urn:g:nation#ref_region> ?r . ?n <urn:g:nation#n_name> ?nname
        |    } ORDER BY ?nname LIMIT 2
        |  }
        |} ORDER BY ?rname ?nname""".stripMargin)
    Graft.decode(res).orderBy("rname", "nname")
  }

  /** GRAPH variable enumeration over the named-graphs mapping (one graph per
    * table): counts quads per graph through the engine's graph scoping. */
  private def sparqlGraph(s: SparkSession, dir: String): DataFrame = {
    val m = RdbToRdf.mapping(s, dir, Seq("region", "nation"), namedGraphs = true)
    val res = Graft(m.quads).select(
      """SELECT ?g (COUNT(?s) AS ?n) WHERE {
        |  GRAPH ?g { ?s ?p ?o }
        |} GROUP BY ?g ORDER BY ?g""".stripMargin)
    Graft.decode(res, Map("n" -> LongType)).orderBy("g")
  }

  /** GRAPH-variable enumeration over DOZENS of graphs (vs sparql_graph's 2):
    * customer quads re-homed into one named graph per nation (25 at any SF),
    * so graph scoping + enumeration is oracled over a real graph fan-out. */
  private def sparqlGraphMany(s: SparkSession, dir: String): DataFrame = {
    val quads = RdbToRdf.mapping(s, dir, Seq("customer")).quads
    val nk = quads.where(col("predicate.v") === "urn:g:customer#ref_nation")
      .select(col("subject.v").as("subj"), col("object.v").as("nat"))
    val graphed = quads.join(nk, col("subject.v") === col("subj"))
      .select(graft.encoding.TermCols.iri(concat(lit("urn:graph:"), col("nat"))).as("graph"),
        col("subject"), col("predicate"), col("object"))
    val res = Graft(graphed).select(
      """SELECT ?g (COUNT(?s) AS ?n) WHERE {
        |  GRAPH ?g { ?s <urn:g:customer#c_name> ?o }
        |} GROUP BY ?g ORDER BY ?g""".stripMargin)
    Graft.decode(res, Map("n" -> LongType)).orderBy("g")
  }

  /** Path alternative `p|q` (bag semantics, last spec-only path form):
    * customer-or-supplier nation membership degree. */
  private def sparqlPathAlt(s: SparkSession, dir: String): DataFrame = {
    val res = graftOver(s, dir, "customer", "supplier", "nation").select(
      """SELECT ?nname (COUNT(?x) AS ?deg) WHERE {
        |  ?x (<urn:g:customer#ref_nation>|<urn:g:supplier#ref_nation>) ?nat .
        |  ?nat <urn:g:nation#n_name> ?nname .
        |} GROUP BY ?nname ORDER BY ?nname""".stripMargin)
    Graft.decode(res, Map("deg" -> LongType)).orderBy("nname")
  }

  // -------------------------------------------------------- relational / OLAP

  private def q1LineitemAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-01 00:00:00")))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 0).cast(LongType).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 0).cast(LongType).as("sum_disc_price"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        round(avg("l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  private def q3TopRevenue(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val ord = t(s, dir, "orders")
    val li = t(s, dir, "lineitem")
    cust.join(ord, col("c_custkey") === col("o_custkey"))
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .groupBy("l_orderkey")
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
  }

  private def q5RegionRevenue(s: SparkSession, dir: String): DataFrame = {
    val region = t(s, dir, "region").filter(col("r_name") === "ASIA")
    val nation = t(s, dir, "nation")
    val cust = t(s, dir, "customer")
    val ord = t(s, dir, "orders")
    val li = t(s, dir, "lineitem")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 0).cast(LongType).as("revenue"))
      .orderBy("n_name")
  }

  /** events.ts has shipped as TIMESTAMP(NANOS) (Long nanos under
    * spark.sql.legacy.parquet.nanosAsLong), micros TIMESTAMP_NTZ, and plain
    * TIMESTAMP across testdata generations — normalise every encoding to
    * epoch millis (session timezone is UTC, so NTZ→TZ cast is identity). */
  private def eventsWithMs(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val ms = ev.schema("ts").dataType match {
      case LongType => col("ts") / lit(1000000L)
      case TimestampNTZType => unix_millis(col("ts").cast(TimestampType))
      case _ => unix_millis(col("ts"))
    }
    ev.withColumn("ts_ms", ms.cast(LongType))
  }

  private def eventsTopPerUser(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("value").desc, col("event_id").asc)
    eventsWithMs(s, dir)
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("user_id"), col("event_id"), round(col("value"), 2).as("value"))
      .orderBy("user_id")
  }

  private def eventsSessionize(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_ms")
    eventsWithMs(s, dir)
      .withColumn("prev_ms", lag(col("ts_ms"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ms").isNull || col("ts_ms") - col("prev_ms") > 1800000L, 1).otherwise(0))
      .groupBy("user_id")
      .agg(sum("new_session").cast(LongType).as("sessions"), count(lit(1)).as("events"))
      .orderBy("user_id")
  }

  /** Backward as-of join: each click picks up the user's most recent prior
    * view (inclusive at equal ts). Tagged-union + running-window carry — one
    * shuffle on user_id, no BNLJ; oracled against DuckDB's native ASOF JOIN. */
  private def eventsAsof(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val views = ev.where(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("value"))
    TemporalJoins.asofJoin(clicks, views, Seq("user_id"), "ts", "ts",
        Seq("value"), outPrefix = "view_")
      .select(col("event_id"), col("user_id"),
        unix_millis(col("ts").cast(TimestampType)).as("click_ts_ms"),
        col("view_matched_ts_ms"), col("view_value"))
      .orderBy("event_id")
  }

  /** Interval (range) join via time bucketization: every event falling in an
    * error-incident window [ts, ts+10min), aggregated per incident. The
    * range predicate becomes an equi-join on 10-minute bins + residual
    * filter; DuckDB runs the plain inequality join as the oracle. */
  private def eventsIntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val incidents = ev.where(col("event_type") === "error")
      .select(col("event_id").as("incident_id"), col("ts").as("inc_start"),
        (col("ts") + expr("INTERVAL 10 MINUTES")).as("inc_end"))
    val evs = ev.select(col("ts"), col("value"))
    TemporalJoins.intervalJoin(evs, "ts", incidents, "inc_start", "inc_end",
        binSeconds = 600L)
      .groupBy("incident_id")
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast(LongType)).as("value_cents"))
      .orderBy("incident_id")
  }

  // ------------------------------------------------------------ pipeline ops

  private def dedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(t(s, dir, "documents"), "doc_id", "text").orderBy("h")

  private def dedupJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text", threshold = 0.05, shingleK = 3)
      .orderBy("id_a", "id_b")

  /** Same exact-Jaccard relation through the AllPairs PREFIX-FILTERED path
    * (the web-scale candidate generator) at a threshold where the prefix
    * actually prunes — gate-verifies the scale path end-to-end, not just
    * the spec-level equivalence. */
  private def dedupJaccardPrefix(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairsPrefix(t(s, dir, "documents"), "doc_id", "text",
      threshold = 0.6, shingleK = 3)
      .orderBy("id_a", "id_b")

  /** Benchmark decontamination: training docs sharing any 3-shingle with a
    * deterministic "benchmark" slice of the corpus (doc_id % 37 == 0). The
    * eval side broadcasts; the training side never shuffles. */
  private def dedupDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Dedup.decontaminate(
      docs.where(col("doc_id") % 37 =!= 0), docs.where(col("doc_id") % 37 === 0),
      "doc_id", "text", k = 3)
      .orderBy("train_id")
  }

  private def dedupMinhash(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairs(t(s, dir, "documents"), "doc_id", "text",
      numHashes = 32, bands = 8, threshold = 0.3, shingleK = 3)
      .orderBy("id_a", "id_b")

  /** Near-dup clustering: MinHash-LSH pairs -> connected components ->
    * every document labelled with its cluster's canonical (min) doc id —
    * the decision relation a corpus-scale dedup pipeline keeps. */
  private def dedupClusters(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      numHashes = 32, bands = 8, threshold = 0.3, shingleK = 3)
    Dedup.clusters(docs, "doc_id", pairs).orderBy("doc_id")
  }

  /** The dedup DECISION relation: cluster near-dups (MinHash-LSH pairs ->
    * connected components), keep the longest document per cluster
    * (ties -> min id). */
  private def dedupKeep(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      numHashes = 32, bands = 8, threshold = 0.3, shingleK = 3)
    val cl = Dedup.clusters(docs, "doc_id", pairs)
    Dedup.keepBest(cl, docs.select(col("doc_id"), col("n_chars")), "doc_id", "n_chars")
      .select(col("cluster"), col("kept_id"), col("n_docs").cast(LongType),
        col("best_score").cast(LongType).as("best_chars"))
      .orderBy("cluster")
  }

  /** Deterministic stratified sample (data mixing): per-language keep rates
    * with the portable md5 40-bit uniform — same sample on any engine. */
  private def docSample(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.stratifiedSample(t(s, dir, "documents"), "doc_id", "lang",
      rates = Map("en" -> 0.5, "de" -> 0.2), salt = "mix1", defaultRate = 0.05)
      .select(col("doc_id"), col("lang")).localCheckpoint(eager = false).orderBy("doc_id")

  private def dedupSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text", maxDist = 16)
      .orderBy("id_a", "id_b")

  private def annCosine(s: SparkSession, dir: String): DataFrame =
    Similarity.cosineTopK(t(s, dir, "embeddings"), "vec_id", "embedding", queryId = 0L, k = 10)

  /** Batch brute force: the exact baseline of the batch ANN family — query
    * vectors broadcast, corpus read once. Same oracle shape as the exact
    * batch IVF (both are exact top-k). */
  private def annCosineBatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Similarity.cosineTopKAll(t(s, dir, "embeddings"), "vec_id", "embedding",
        Seq(3L, 4L, 5L).toDF("vec_id"), "vec_id", k = 10)
      .orderBy(col("query_id"), col("sim").desc, col("vec_id"))
  }

  private def annIvf(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
      queryId = 0L, k = 10, nClusters = 16, nProbe = 4)

  /** Batch IVF: top-k for a DataFrame of queries in ONE job (probe sets
    * join the cached assignment relation — no per-query driver loop). The
    * search is exact, so the brute-force per-query DuckDB top-k is its
    * oracle. */
  private def annIvfBatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Similarity.ivfTopKAll(t(s, dir, "embeddings"), "vec_id", "embedding",
        Seq(0L, 1L, 2L).toDF("vec_id"), "vec_id", k = 10, nClusters = 16, nProbe = 4)
      .orderBy(col("query_id"), col("sim").desc, col("vec_id"))
  }

  private def annLsh(s: SparkSession, dir: String): DataFrame =
    Similarity.annTopK(t(s, dir, "embeddings"), "vec_id", "embedding", queryId = 0L, k = 10,
      nPlanes = 6, probeHamming = 1)

  /** Batch LSH: one job for a whole query set — the probe-signature set is
    * broadcast and the signature relation streams, so the corpus is read
    * once regardless of |Q|. The oracle recomputes the identical plane
    * signs / signatures in SQL per query. */
  private def annLshBatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Similarity.annTopKAll(t(s, dir, "embeddings"), "vec_id", "embedding",
        Seq(0L, 1L, 2L).toDF("vec_id"), "vec_id", k = 10, nPlanes = 6, probeHamming = 1)
      .orderBy(col("query_id"), col("sim").desc, col("vec_id"))
  }

  /** Class centroids: element-wise mean embedding per label, exploded to
    * (label, dim, mean) rows so the oracle compares scalars. */
  /** Distributed Lloyd's k-means, deterministic seeds, 3 rounds. */
  private def embKmeans(s: SparkSession, dir: String): DataFrame =
    Similarity.kmeansAssign(t(s, dir, "embeddings"), "vec_id", "embedding",
      k = 8, iters = 3).orderBy("id")

  /** Int8 scalar-quantised brute-force cosine (the 4×-smaller scale path). */
  private def annQuantized(s: SparkSession, dir: String): DataFrame =
    Similarity.quantizedCosineTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
      queryId = 0L, k = 10)

  /** Temperature-weighted (τ=0.5) mixture sampling over sources. */
  private def docMixture(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.mixtureSample(t(s, dir, "documents"), "doc_id", "source",
      targetRows = 120, temperature = 0.5, salt = "mix2").orderBy("doc_id")

  /** Per-source top-5 bigram statistics (corpus-drift dashboard feed). */
  private def ngramStats(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.ngramStats(t(s, dir, "documents"), "source", "text", n = 2, topK = 5)
      .orderBy("source", "ngram")

  /** Per-(source, lang) dataset card: volumes + mean quality score. */
  private def corpusReport(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.corpusReport(t(s, dir, "documents"), "source", "lang", "text")
      .orderBy("source", "lang")

  /** Deterministic training shuffle: portable md5 permutation → (shard, pos). */
  private def docShuffle(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.shuffleShards(t(s, dir, "documents"), "doc_id",
      nShards = 16, salt = "shuf1").orderBy("id")

  /** PageRank over a deterministic link graph derived from doc ids (docs
    * with id%5==0 publish no links → dangling); 5 iterations, d=0.85,
    * dangling-mass redistribution. The oracle unrolls the identical
    * iterations in SQL (per-iteration 12-decimal rounding keeps both
    * engines in numeric lockstep — the k-means recipe). */
  private def linkPagerank(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val edges = d.select(col("doc_id").as("src"),
        explode(array(lit(1L), lit(2L), lit(3L))).as("j"))
      .where(col("src") % 5 =!= 0)
      .select(col("src"), ((col("src") * 7 + col("j") * 31) % 500).as("dst"))
      .where(col("dst") =!= col("src"))
    LinkGraph.pageRank(edges, "src", "dst", iters = 5, damping = 0.85,
      nodes = Some(d.select(col("doc_id").as("id")))).orderBy("id")
  }

  /** C4-style line dedup over synthesized multi-line docs: a newsletter
    * header (id%2==0), the doc's own text, a 7-way shared footer, and a
    * padded copyright line (id%3==0) — boilerplate survives once
    * globally, content survives per its own first occurrence. */
  private def docLineDedup(s: SparkSession, dir: String): DataFrame = {
    val lined = t(s, dir, "documents").select(col("doc_id"),
      concat_ws("\n",
        when(col("doc_id") % 2 === 0, lit("Subscribe to our newsletter today")),
        col("text"),
        concat(lit("shared footer "), (col("doc_id") % 7).cast("string")),
        when(col("doc_id") % 3 === 0, lit("  (c) example corp 2026  "))).as("text"))
    TextAnalysis.lineDedup(lined, "doc_id", "text").orderBy("id")
  }

  /** BPE: learn 4 merges from the corpus word histogram, encode every doc.
    * The oracle unrolls the identical 4 iterations in SQL (space-joined
    * symbol strings; `replace` has the same non-overlapping left-to-right
    * semantics in both engines). */
  private def bpeEncode(s: SparkSession, dir: String): DataFrame =
    Bpe.learnAndEncode(t(s, dir, "documents"), "doc_id", "text", nMerges = 4)
      .orderBy("id")

  /** fastText-style hashed linear classifier with the deterministic
    * pseudo-weight table (the oracle recomputes bucket + weight closed-form
    * in SQL). */
  private def docClassifier(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.linearScore(t(s, dir, "documents"), "doc_id", "text",
      weights = TextAnalysis.pseudoWeights(s, 512), nBuckets = 512,
      bias = 0.1, threshold = 0.5, salt = "lincls").orderBy("id")

  /** Per-host cap over synthesized messy URLs (9 hosts in www/scheme-less/
    * explicit-port spellings; cap 30 exercises both the under-cap bypass
    * and the over-cap ranked path). */
  private def urlHostCap(s: SparkSession, dir: String): DataFrame = {
    val k = (col("doc_id") % 9).cast("string")
    val url = when(col("doc_id") % 3 === 0,
        concat(lit("https://www.h"), k, lit(".example.org/a/"), col("doc_id").cast("string")))
      .when(col("doc_id") % 3 === 1,
        concat(lit("h"), k, lit(".example.org/b?x="), col("doc_id").cast("string")))
      .otherwise(concat(lit("HTTP://h"), k, lit(".example.org:80/c")))
    Urls.hostCap(t(s, dir, "documents").select(col("doc_id"), url.as("url")),
      "doc_id", "url", maxPerHost = 30).orderBy("id")
  }

  // Multi-script sample strings shared VERBATIM by the doc_scripts gate and
  // its oracle SQL (interpolated below), so both engines see identical
  // code points.
  private val CyrText = "привет мир and friends"
  private val CjkText = "你好世界 こんにちは 한국"
  private val ArText = "مرحبا بالعالم"

  /** Unicode-script ratios + dominant script over synthesized multi-script
    * strata (the raw corpus is pure ASCII). */
  private def docScripts(s: SparkSession, dir: String): DataFrame = {
    val acc = t(s, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 5 === 0, substring(col("text"), 1, 40))
        .when(col("doc_id") % 5 === 1, lit(CyrText))
        .when(col("doc_id") % 5 === 2, lit(CjkText))
        .when(col("doc_id") % 5 === 3, lit(ArText))
        .otherwise(lit("123 456 7890")).as("text"))
    TextAnalysis.scriptProfile(acc, "doc_id", "text").localCheckpoint(eager = false).orderBy("id")
  }

  /** Unicode NFC + accent stripping over synthesized accented text (the
    * corpus is plain ASCII): decomposed, precomposed, mixed-diacritic and
    * untouched strata, built identically in the oracle. */
  private def textNormalize(s: SparkSession, dir: String): DataFrame = {
    val acc = t(s, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 4 === 0, // decomposed: 'e' + combining acute U+0301
          concat(lit("cafe\u0301 creme "), substring(col("text"), 1, 20)))
        .when(col("doc_id") % 4 === 1, lit("caf\u00e9 d\u00e9j\u00e0 vu"))
        .when(col("doc_id") % 4 === 2,
          lit("ni\u00f1o \u00fcber fa\u00e7ade voil\u00e0 se\u00f1or"))
        .otherwise(substring(col("text"), 1, 30)).as("text"))
    val nfc = TextAnalysis.normalizeText(acc, "doc_id", "text", "NFC", stripAccents = false)
      .select(col("id"), col("norm_text").as("nfc_text"), col("changed"))
    val stripped = TextAnalysis.normalizeText(acc, "doc_id", "text", "NFC", stripAccents = true)
      .select(col("id"), col("norm_text").as("stripped"))
    nfc.join(stripped, Seq("id")).orderBy("id")
  }

  /** SemDeDup: k-means clusters, then intra-cluster cosine dominance drop. */
  private def embSemdedup(s: SparkSession, dir: String): DataFrame =
    Similarity.semDedup(t(s, dir, "embeddings"), "vec_id", "embedding",
      k = 8, iters = 3, minCosine = 0.3).orderBy("id")

  /** URL canonicalization + first-fetch-wins dedup. The corpus has no URL
    * column, so messy variants (case, www, default port, tracking params,
    * param order, fragment, trailing slash) are a deterministic function of
    * doc_id — built identically in the oracle SQL. */
  private def urlDedupQ(s: SparkSession, dir: String): DataFrame = {
    val h = (col("doc_id") % 7).cast("string")
    val p = (col("doc_id") % 13).cast("string")
    val base = concat(lit("example"), h, lit(".org/item/"), p)
    val raw = when(col("doc_id") % 5 === 0, concat(lit("https://"), base))
      .when(col("doc_id") % 5 === 1, concat(lit("HTTPS://www."), base, lit("/")))
      .when(col("doc_id") % 5 === 2,
        concat(lit("https://example"), h, lit(".org:443/item/"), p,
          lit("?utm_source=feed&utm_campaign=x")))
      .when(col("doc_id") % 5 === 3, concat(lit("https://"), base, lit("?b=2&a=1#frag")))
      .otherwise(concat(lit("https://"), base, lit("?a=1&b=2")))
    Urls.urlDedup(t(s, dir, "documents").select(col("doc_id"), raw.as("url")),
      "doc_id", "url").orderBy("id")
  }

  /** Gopher/C4 heuristic rules over deterministically-dirtied text (the raw
    * corpus is uniformly clean word-soup — each doc_id%6 stratum trips a
    * different rule; the oracle dirties identically). */
  private def docFilterRules(s: SparkSession, dir: String): DataFrame = {
    val m = col("doc_id") % 6
    val hashes = Seq.fill(20)("#").mkString(" ")
    val txt = when(m === 0, col("text"))
      .when(m === 1, concat(col("text"), lit(" " + hashes)))
      .when(m === 2, concat(lit("- one\n- two\n- three\n"), col("text").substr(1, 20)))
      .when(m === 3, concat(col("text"), lit("\nread more...\ncontinued…")))
      .when(m === 4, lit("12 34 56 78 90 11 22 33"))
      .otherwise(lit("a b"))
    TextAnalysis.heuristicFilter(
      t(s, dir, "documents").select(col("doc_id"), txt.as("text")), "doc_id", "text")
      .localCheckpoint(eager = false).orderBy("doc_id")
  }

  private def embCentroids(s: SparkSession, dir: String): DataFrame =
    Similarity.centroids(t(s, dir, "embeddings"), "label", "embedding")
      .select(col("label"), posexplode(col("centroid")))
      .select(col("label"), col("pos").cast(LongType).as("dim"),
        round(col("col"), 4).as("m"))
      .orderBy("label", "dim")

  /** Context-window chunking: 64-token chunks, 8-token overlap. */
  private def docChunks(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.chunk(t(s, dir, "documents"), "doc_id", "text", size = 64, overlap = 8)
      .select(col("id").as("doc_id"), col("chunk_index").cast(LongType),
        col("chunk_text"), col("n_tokens").cast(LongType))
      .localCheckpoint(eager = false).orderBy("doc_id", "chunk_index")

  private def textQuality(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.quality(t(s, dir, "documents"), "doc_id", "text").localCheckpoint(eager = false).orderBy("doc_id")

  private def langId(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.langId(t(s, dir, "documents"), "doc_id", "text").orderBy("id")

  private def tokenStats(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenStats(t(s, dir, "documents"), "source", "text").orderBy("source")

  private def fingerprint(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.fingerprint(t(s, dir, "documents"), "doc_id", "text").localCheckpoint(eager = false).orderBy("doc_id")

  private def embNearDup(s: SparkSession, dir: String): DataFrame =
    Similarity.nearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
      minCosine = 0.3, nPlanes = 8).orderBy("id_a", "id_b")

  private def rollingFp(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.rollingFingerprints(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("id", "band")

  /** PII redaction over documents carrying synthesized-but-realistic PII
    * (an email, an international phone and an IPv4 per doc, deterministic
    * in doc_id — the raw corpus is PII-free word soup, which would gate
    * nothing): counts + typed-placeholder redaction, oracled by the same
    * regex cascade in DuckDB RE2. */
  private def piiScrub(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"),
      concat(col("text"),
        lit(" reach user"), col("doc_id"), lit("@example.com or +1 555-01"),
        lpad(pmod(col("doc_id"), lit(100)).cast("string"), 2, "0"), lit(" 4321 from 10.0."),
        pmod(col("doc_id"), lit(256)).cast("string"), lit(".7 thanks")).as("text"))
    TextAnalysis.piiScrub(docs, "doc_id", "text").localCheckpoint(eager = false).orderBy("doc_id")
  }

  /** Repetition quality metrics — distinct-word / duplicate-bigram /
    * top-word-share ratios over the normalised token stream. */
  private def docRepetition(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetition(t(s, dir, "documents"), "doc_id", "text").orderBy("id")

  /** Top-5 TF-IDF terms per document (smooth idf, term-tie determinism). */
  private def docTfidf(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tfIdf(t(s, dir, "documents"), "doc_id", "text", topK = 5)
      .orderBy("id", "term")

  /** BM25 top-10 documents for a fixed keyword query. */
  private def bm25Search(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bm25(t(s, dir, "documents"), "doc_id", "text",
      Seq("spark", "vector", "merge"), topK = 10)

  /** Concat-then-cut sequence packing into 256-token bins over 8 shards. */
  private def docPacking(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.packSequences(t(s, dir, "documents"), "doc_id", "text",
      capacity = 256, nShards = 8).orderBy("id")

  /** Exact-substring dedup: 8-token spans, global first occurrence kept. */
  private def docSpanDedup(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.spanDedup(t(s, dir, "documents"), "doc_id", "text",
      spanTokens = 8).orderBy("id")

  /** Corpus-trained bigram-LM perplexity scores (CCNet-style filter). */
  private def docPerplexity(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.lmPerplexity(t(s, dir, "documents"), "doc_id", "text",
      alpha = 0.1).orderBy("id")

  private def qualityScore(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.qualityScore(t(s, dir, "documents"), "doc_id", "text")
      .select("doc_id", "score").localCheckpoint(eager = false).orderBy("doc_id")

  private def frameSample(s: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(
      Multimodal.syntheticMedia(t(s, dir, "documents"), "doc_id"), n = 4)
      .localCheckpoint(eager = false).orderBy("media_id", "frame_index")

  /** REAL WARC (ISO 28500) container walk end-to-end: two records per doc
    * (warcinfo + an HTTP response whose body is the document's own text),
    * every other doc's blob gzipped one-member-per-record; the oracle
    * reconstructs both rows closed-form from the documents table, so
    * framing, gzip, header fields, and HTTP payload parsing are all
    * verified against real payload bytes. */
  private def warcExtract(s: SparkSession, dir: String): DataFrame =
    Warc.records(
        Warc.syntheticWarc(t(s, dir, "documents"), "doc_id", "text"),
        "doc_id", "warc")
      .select(col("source"), col("record_ord"), col("warc_type"),
        col("record_id"), col("target_uri"), col("http_status"),
        col("http_content_type"), col("body"))
      .localCheckpoint(eager = false).orderBy("source", "record_ord")

  /** HTML → text extraction over deterministic tag soup wrapped around each
    * document's text (script/style blocks with hostile markup inside,
    * comments, entities, nav/footer boilerplate). The oracle builds the
    * IDENTICAL page in SQL and runs the IDENTICAL regex cascade through
    * DuckDB's RE2 — a differential test of the extraction, not a
    * self-confirmation. */
  private def htmlExtract(s: SparkSession, dir: String): DataFrame =
    Html.extract(
        Html.syntheticPage(t(s, dir, "documents"), "doc_id", "text"),
        "doc_id", "html")
      .localCheckpoint(eager = false).orderBy("doc_id")

  /** REAL WAV decode end-to-end: synthesize valid RIFF/PCM square waves from
    * doc ids, parse them back with the zero-dependency decoder; a square
    * wave's RMS equals its amplitude, so every feature is a closed-form
    * function of the id the oracle recomputes without parsing bytes. */
  private def wavFeatures(s: SparkSession, dir: String): DataFrame =
    Multimodal.extractWavFeatures(
        Multimodal.syntheticWav(t(s, dir, "documents"), "doc_id"))
      .select(col("media_id"), col("sample_rate"), col("n_samples"),
        col("duration_ms"), col("peak"), round(col("rms"), 4).as("rms"))
      .localCheckpoint(eager = false).orderBy("media_id")

  /** REAL AIFF decode end-to-end: the big-endian sibling of wav_features —
    * same square wave, same closed-form oracle, AIFF chunk framing with an
    * 80-bit extended sample rate. */
  private def aiffFeatures(s: SparkSession, dir: String): DataFrame =
    Multimodal.extractAiffFeatures(
        Multimodal.syntheticAiff(t(s, dir, "documents"), "doc_id"))
      .select(col("media_id"), col("sample_rate"), col("n_samples"),
        col("duration_ms"), col("peak"), round(col("rms"), 4).as("rms"))
      .localCheckpoint(eager = false).orderBy("media_id")

  /** REAL Sun AU µ-law decode end-to-end: the square wave is built in the
    * ENCODED domain so the decoded amplitude is closed-form in the id —
    * ((man·8+132)·2^exp)−132 with man = 1+(id%14), exp = id%4. */
  private def auFeatures(s: SparkSession, dir: String): DataFrame =
    Multimodal.extractAuFeatures(
        Multimodal.syntheticAu(t(s, dir, "documents"), "doc_id"))
      .select(col("media_id"), col("sample_rate"), col("n_samples"),
        col("duration_ms"), col("peak"), round(col("rms"), 4).as("rms"))
      .localCheckpoint(eager = false).orderBy("media_id")

  /** REAL G.711 A-law decode end-to-end (AU encoding 27): amplitude is the
    * closed form (man·16)+8 for segment 0, ((man·16)+264)·2^(seg−1)
    * otherwise, with man = id%16, seg = id%4. */
  private def alawFeatures(s: SparkSession, dir: String): DataFrame =
    Multimodal.extractAuFeatures(
        Multimodal.syntheticAuAlaw(t(s, dir, "documents"), "doc_id"))
      .select(col("media_id"), col("sample_rate"), col("n_samples"),
        col("duration_ms"), col("peak"), round(col("rms"), 4).as("rms"))
      .localCheckpoint(eager = false).orderBy("media_id")

  /** REAL compressed-audio decode end-to-end (WAV format tag 0x11, IMA
    * ADPCM): codes are synthesized in the ENCODED domain as sign-only
    * nibbles {0,8}, so the decoded stream is p0 + a signed window-cumsum of
    * stepTable[max(i0−j,0)] >> 3 — the oracle re-runs the published IMA
    * step table independently in SQL. */
  private def adpcmFeatures(s: SparkSession, dir: String): DataFrame =
    Multimodal.extractWavFeatures(
        Multimodal.syntheticAdpcmWav(t(s, dir, "documents"), "doc_id"))
      .select(col("media_id"), col("sample_rate"), col("n_samples"),
        col("duration_ms"), col("peak"), round(col("rms"), 4).as("rms"))
      .localCheckpoint(eager = false).orderBy("media_id")

  /** REAL video-container decode end-to-end: uncompressed AVI (RIFF LIST
    * tree, 24-bit DIB frames) fans out to one row per frame; frame means
    * are closed-form in (id, frame). */
  private def aviFrames(s: SparkSession, dir: String): DataFrame =
    Multimodal.extractAviFrames(
        Multimodal.syntheticAvi(t(s, dir, "documents"), "doc_id"))
      .select(col("media_id"), col("frame_index"), col("n_frames"),
        col("width"), col("height"), round(col("mean_lum"), 4).as("mean_lum"))
      .localCheckpoint(eager = false).orderBy("media_id", "frame_index")

  /** REAL ISO-BMFF container metadata probe end-to-end: minimal valid MP4s
    * (ftyp + moov/mvhd + video & audio traks) probed for brand, timescale,
    * duration, track census, and 16.16 fixed video dims — all closed-form. */
  private def mp4Meta(s: SparkSession, dir: String): DataFrame =
    Multimodal.extractMp4Meta(
        Multimodal.syntheticMp4(t(s, dir, "documents"), "doc_id"))
      .select(col("media_id"), col("major_brand"), col("timescale"),
        col("duration_ms"), col("n_tracks"), col("video_tracks"),
        col("audio_tracks"), col("width"), col("height"))
      .localCheckpoint(eager = false).orderBy("media_id")

  /** REAL Ogg Vorbis container probe end-to-end: RFC 3533 page walk with
    * mandatory CRC verification + Vorbis identification-header parse; rate,
    * channels, page census, and granule-derived duration are closed-form. */
  private def oggMeta(s: SparkSession, dir: String): DataFrame =
    Multimodal.extractOggMeta(
        Multimodal.syntheticOgg(t(s, dir, "documents"), "doc_id"))
      .select(col("media_id"), col("sample_rate"), col("channels"),
        col("n_pages"), col("granule"), col("duration_ms"))
      .localCheckpoint(eager = false).orderBy("media_id")

  /** REAL MPEG-1 Layer III stream probe end-to-end: ID3v2 syncsafe skip,
    * per-frame header walk (bitrate/sample-rate indices, padding-aware frame
    * lengths), ID3v1 trailer; frame census and duration are closed-form. */
  private def mp3Meta(s: SparkSession, dir: String): DataFrame =
    Multimodal.extractMp3Meta(
        Multimodal.syntheticMp3(t(s, dir, "documents"), "doc_id"))
      .select(col("media_id"), col("sample_rate"), col("channels"),
        col("bitrate_kbps"), col("n_frames"), col("duration_ms"), col("vbr"))
      .localCheckpoint(eager = false).orderBy("media_id")

  /** REAL H.264 Annex-B probe end-to-end: start-code NAL walk + Exp-Golomb
    * SPS parse (with emulation-prevention removal and frame cropping);
    * profile/level/width/height and the NAL census are closed-form. */
  private def h264Meta(s: SparkSession, dir: String): DataFrame =
    Multimodal.extractH264Meta(
        Multimodal.syntheticH264(t(s, dir, "documents"), "doc_id"))
      .select(col("media_id"), col("profile_idc"), col("level_idc"),
        col("width"), col("height"), col("n_nals"), col("n_idr"), col("n_frames"))
      .localCheckpoint(eager = false).orderBy("media_id")

  /** REAL multi-frame container decode end-to-end: animated GIFs (2–4
    * frames of constant gray, LZW + palette via javax.imageio) fan out to
    * one row per frame; frame means are closed-form in (id, frame). */
  private def gifFrames(s: SparkSession, dir: String): DataFrame =
    Multimodal.extractGifFrames(
        Multimodal.syntheticGif(t(s, dir, "documents"), "doc_id"))
      .select(col("media_id"), col("frame_index"), col("n_frames"),
        col("width"), col("height"), round(col("mean_lum"), 4).as("mean_lum"))
      .localCheckpoint(eager = false).orderBy("media_id", "frame_index")

  /** REAL BMP decode end-to-end: synthesize valid 8x8 24-bit grayscale BMPs,
    * parse headers + bottom-up padded pixel rows; channel means and the
    * average-hash (as a 64-char bit string) are closed-form in the id. */
  private def bmpFeatures(s: SparkSession, dir: String): DataFrame =
    Multimodal.extractBmpFeatures(
        Multimodal.syntheticBmp(t(s, dir, "documents"), "doc_id"))
      .select(col("media_id"), col("width"), col("height"),
        round(col("mean_r"), 4).as("mean_r"), round(col("mean_b"), 4).as("mean_b"),
        lpad(bin(col("ahash")), 64, "0").as("ahash_bits"))
      .localCheckpoint(eager = false).orderBy("media_id")

  /** REAL compressed-image decode end-to-end (PNG: DEFLATE inflate + filter
    * reversal via the JDK's javax.imageio — zero new dependencies): same
    * pixel grid as the BMP gate, PNG is lossless, so the oracle is the same
    * closed-form grid sum. */
  private def pngFeatures(s: SparkSession, dir: String): DataFrame =
    Multimodal.extractImageFeatures(
        Multimodal.syntheticPng(t(s, dir, "documents"), "doc_id"))
      .select(col("media_id"), col("format"), col("width"), col("height"),
        round(col("mean_r"), 4).as("mean_r"), round(col("mean_b"), 4).as("mean_b"),
        lpad(bin(col("ahash")), 64, "0").as("ahash_bits"))
      .localCheckpoint(eager = false).orderBy("media_id")

  /** REAL lossy-JPEG decode end-to-end (Huffman + IDCT via javax.imageio):
    * constant-gray 8×8 blocks at quality 1.0 round-trip exactly (flat block
    * = DC-only, quant step 1 — verified exhaustively in MultimodalSpec), so
    * the decoded mean is closed-form in the id despite the lossy codec. */
  private def jpegFeatures(s: SparkSession, dir: String): DataFrame =
    Multimodal.extractImageFeatures(
        Multimodal.syntheticJpeg(t(s, dir, "documents"), "doc_id"))
      .select(col("media_id"), col("format"), col("width"), col("height"),
        round(col("mean_r"), 4).as("mean_r"), round(col("mean_g"), 4).as("mean_g"),
        lpad(bin(col("ahash")), 64, "0").as("ahash_bits"))
      .localCheckpoint(eager = false).orderBy("media_id")

  private def multimodalFeatures(s: SparkSession, dir: String): DataFrame =
    Multimodal.extractFeatures(
      Multimodal.syntheticMedia(t(s, dir, "documents"), "doc_id"))
      .select(col("media_id"), col("n_bytes"), round(col("byte_mean"), 4).as("byte_mean"),
        round(col("byte_entropy"), 4).as("byte_entropy"))
      .localCheckpoint(eager = false).orderBy("media_id")

  // ------------------------------------------------- wind farm benchmark

  /** Generated wind farm dataset (16 turbines, BASELINE.md's scale),
    * memoised per session so Verify/Bench pay generation once, not per
    * query. Persisted through QuadStore.save — the (p,s,o)-sorted parquet
    * layout — instead of an in-memory checkpoint: a 17-pattern BGP issues
    * 17 predicate scans, and against parquet each one prunes to its own
    * row groups + pushes field filters, where an RDD checkpoint re-scans
    * all 4.9M quads per pattern (measured ~2× on the production queries).
    * Values are portable-deterministic (see WindFarmGen), which is what
    * makes the DuckDB oracles below possible. */
  @transient private var wfCache: (SparkSession, DataFrame) = null
  private def wfGraft(s: SparkSession): Graft = synchronized {
    if (wfCache == null || (wfCache._1 ne s)) {
      val path = java.nio.file.Files.createTempDirectory("graft_wf").toString
      // predicate-partitioned: the 17-pattern BGPs issue one directory-pruned
      // scan per predicate (measured ~25% faster than the range layout)
      QuadStore(graft.gen.WindFarmGen.quads(s, 16)).saveByPredicate(path)
      wfCache = (s, QuadStore.load(s, path).quads)
    }
    Graft(wfCache._2, graft.gen.WindFarmGen.kinds)
  }

  /** Wind Farm production-query2 (bench/tests/query_results/queries/
    * wind-farm-production-query2.sparql) verbatim over the generated farm. */
  private def windfarmProduction(s: SparkSession, dir: String): DataFrame = {
    val res = wfGraft(s).select(graft.gen.WindFarmQueries("production-query2"))
    Graft.decode(res, Map("val" -> DoubleType))
      .orderBy("site_label", "wtur_label", "t", "val")
  }

  /** Wind Farm grouped-production-query1 verbatim (10-minute AVG buckets). */
  private def windfarmGroupedProd(s: SparkSession, dir: String): DataFrame =
    windfarmGrouped(wfGraft(s).select(graft.gen.WindFarmQueries("grouped-production-query1")))

  /** Wind Farm grouped-production-query2 verbatim: same buckets as query1
    * but an IN-filter across ten turbines; ORDER BY puts A1 (lexicographic
    * minimum) first and A1 alone has >10 buckets in the window, so the
    * LIMIT-10 result provably equals query1's — a different plan (10-series
    * scan + IN pruning) against the same walk oracle. */
  private def windfarmGroupedMulti(s: SparkSession, dir: String): DataFrame =
    windfarmGrouped(wfGraft(s).select(graft.gen.WindFarmQueries("grouped-production-query2")))

  private def windfarmGrouped(res: DataFrame): DataFrame =
    Graft.decode(res, Map("year" -> LongType, "month" -> LongType, "day" -> LongType,
        "hour" -> LongType, "minute_10" -> LongType, "avg_val" -> DoubleType))
      .select(col("site_label"), col("wtur_label"), col("year"), col("month"), col("day"),
        col("hour"), col("minute_10"), round(col("avg_val"), 4).as("avg_val"))
      .orderBy("hour", "minute_10")

  /** REDUCED (spec-permitted dedup — the reference leaves it
    * `not_impl_err!`): oracle compares against DISTINCT, which is one of
    * REDUCED's legal answers and the one this engine produces. */
  private def sparqlReduced(s: SparkSession, dir: String): DataFrame = {
    val res = graftOver(s, dir, "customer").select(
      "SELECT REDUCED ?seg WHERE { ?c <urn:g:customer#c_mktsegment> ?seg } ORDER BY ?seg")
    Graft.decode(res).orderBy("seg")
  }

  // --------------------------------------------------------------- streaming

  private var asofStageCache: (SparkSession, String, String) = null
  private val asofStreamCounter = new java.util.concurrent.atomic.AtomicInteger()

  /** The streaming as-of enrich gated against the SAME DuckDB ASOF JOIN
    * oracle as the batch `events_asof`: click/view events staged as four
    * ts-quantile parquet chunks written in ascending event-time order, then
    * replayed through a rate-limited file-source stream
    * (maxFilesPerTrigger=1 → 4+ micro-batches) into
    * [[EventStreams.asofEnrichStream]]'s flatMapGroupsWithState operator.
    * bufferMs is effectively unbounded so no right-state trims — the stream
    * must reproduce the batch/backfill answer exactly. */
  private def eventsAsofStream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.streaming.EventStreams
    val stage = synchronized {
      if (asofStageCache != null && asofStageCache._1 == s && asofStageCache._2 == dir)
        asofStageCache._3
      else {
        val path = new java.io.File(System.getProperty("java.io.tmpdir"),
          s"graft_asof_stream_${dir.replaceAll("[^A-Za-z0-9]", "_")}_${System.identityHashCode(s)}")
          .getAbsolutePath
        val ev = t(s, dir, "events").where(col("event_type").isin("click", "view"))
          .select(col("event_id"), col("ts").cast(TimestampType).as("ts"),
            col("user_id"), col("event_type"), col("value"))
          .withColumn("__ms", unix_millis(col("ts")))
        val cuts = ev.stat.approxQuantile("__ms", Array(0.25, 0.5, 0.75), 0.001)
        val bounds = (Double.NegativeInfinity +: cuts) :+ Double.PositiveInfinity
        // sequential writes: each chunk's files carry a later modification
        // time, so the file source's (mtime, path) ordering replays the
        // chunks in ascending event-time order — a right event can never
        // land in a later micro-batch than a left it precedes
        bounds.toSeq.sliding(2).zipWithIndex.foreach { case (Seq(lo, hi), i) =>
          ev.where(col("__ms") >= lo && col("__ms") < hi).drop("__ms")
            .coalesce(1).write.mode(if (i == 0) "overwrite" else "append").parquet(path)
        }
        asofStageCache = (s, dir, path)
        path
      }
    }
    val name = s"asof_gate_${asofStreamCounter.incrementAndGet()}"
    // Scale-adaptive STATE partitioning (guide §2.3): the stateful operator's
    // partition count is frozen from spark.sql.shuffle.partitions at query
    // start and every micro-batch pays a fixed load/commit cost PER state
    // partition (measured: 32 partitions → 800 ms addBatch per ~100-row
    // batch; 4 → 195 ms). Size it from the staged input instead of the
    // session's core-count constant: one state partition per 16 MB of input,
    // capped at the cluster's default parallelism, floor 1.
    val stateParts = {
      val bytes = Option(new java.io.File(stage).listFiles())
        .map(_.filterNot(_.getName.startsWith(".")).map(_.length()).sum).getOrElse(0L)
      math.max(1L, math.min(s.sparkContext.defaultParallelism.toLong,
        bytes / (16L << 20) + 1)).toInt
    }
    // the stream runs in its own session: the partition count is a session
    // conf, and setting it on the shared session would leak into every query
    // the HTTP server plans on that session while the stream drains
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", stateParts)
    val src = ss.readStream
      .schema("event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE")
      .option("maxFilesPerTrigger", "1").parquet(stage).as[EventStreams.Event]
    val q = EventStreams.asofEnrichStream(src, "click", "view",
        bufferMs = Long.MaxValue / 4)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try { q.processAllAvailable() } finally q.stop()
    val res = ss.table(name).select(col("event_id"), col("user_id"),
        unix_millis(col("ts")).as("click_ts_ms"),
        unix_millis(col("matched_ts")).as("view_matched_ts_ms"),
        col("matched_value").as("view_value"))
      .orderBy("event_id").localCheckpoint()
    ss.catalog.dropTempView(name)
    res
  }

  // ----------------------------------------------------------------- updates

  /** SPARQL UPDATE end-to-end (the reference stubs Update — store.rs:409):
    * DELETE/INSERT WHERE retiers every supplier balance into a named graph
    * and removes the source quads; an INSERT DATA + DELETE DATA round-trip
    * must leave no residue. The result reads the post-update store: the tier
    * histogram plus a count of surviving s_acctbal quads (must be 0 — the
    * deletion is verified inside the oracled result, not by a side-check). */
  private def sparqlUpdate(s: SparkSession, dir: String): DataFrame = {
    val st1 = QuadStore(RdbToRdf.tpchQuads(s, dir, Seq("supplier"))).update("""
      DELETE { ?s <urn:g:supplier#s_acctbal> ?b }
      INSERT { GRAPH <urn:tiers> { ?s <urn:tier> ?tier } }
      WHERE  { ?s <urn:g:supplier#s_acctbal> ?b .
               BIND(IF(?b >= 5000e0, "high", "low") AS ?tier) } ;
      INSERT DATA { GRAPH <urn:tiers> { <urn:audit> <urn:tier> "audit" } } ;
      DELETE DATA { GRAPH <urn:tiers> { <urn:audit> <urn:tier> "audit" } }""")
    val res = st1.select("""
      SELECT ?tier (COUNT(?x) AS ?n) (COUNT(?bal) AS ?remaining) WHERE {
        GRAPH <urn:tiers> { ?x <urn:tier> ?tier }
        OPTIONAL { ?x <urn:g:supplier#s_acctbal> ?bal }
      } GROUP BY ?tier ORDER BY ?tier""")
    Graft.decode(res, Map("n" -> LongType, "remaining" -> LongType)).orderBy("tier")
  }

  /** Graph-management update ops (LOAD / CREATE / ADD / COPY / MOVE / CLEAR /
    * DROP) sequenced in one request over the nation+region mapping; result =
    * per-graph quad counts of the post-update store, DuckDB-oracled from the
    * source tables' row counts. */
  private def sparqlUpdateGraphs(s: SparkSession, dir: String): DataFrame = {
    // LOAD source: the region mapping dumped as N-Quads into the default
    // graph file (written once per (session, sf) under java.io.tmpdir)
    val loadDir = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_load_${dir.replaceAll("[^A-Za-z0-9]", "_")}")
    val marker = new java.io.File(loadDir, "_SUCCESS")
    if (!marker.exists())
      QuadStore(RdbToRdf.tpchQuads(s, dir, Seq("region"))).dumpNQuads(loadDir.getAbsolutePath)
    val st1 = QuadStore(RdbToRdf.tpchQuads(s, dir, Seq("nation"))).update(s"""
      LOAD <file://${loadDir.getAbsolutePath}> INTO GRAPH <urn:regions> ;
      CREATE GRAPH <urn:scratch> ;
      ADD DEFAULT TO <urn:scratch> ;
      COPY <urn:regions> TO <urn:backup> ;
      MOVE <urn:scratch> TO <urn:final> ;
      CLEAR DEFAULT ;
      DROP GRAPH <urn:backup>""")
    val res = st1.select("""
      SELECT ?g (COUNT(?s) AS ?n) WHERE { GRAPH ?g { ?s ?p ?o } }
      GROUP BY ?g ORDER BY ?g""")
    Graft.decode(res, Map("n" -> LongType)).orderBy("g")
  }

  // =========================================================== the contract

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sparql_update" -> sparqlUpdate,
    "sparql_update_graphs" -> sparqlUpdateGraphs,
    "sparql_reduced" -> sparqlReduced,
    "events_asof_stream" -> eventsAsofStream,
    "sparql_region_nations" -> sparqlRegionNations,
    "sparql_filter_order" -> sparqlFilterOrder,
    "sparql_optional_agg" -> sparqlOptionalAgg,
    "sparql_minus" -> sparqlMinus,
    "sparql_minus_nullable" -> sparqlMinusNullable,
    "sparql_exists_nullable" -> sparqlExistsNullable,
    "sparql_union" -> sparqlUnion,
    "sparql_path_seq" -> sparqlPathSeq,
    "sparql_path_closure" -> sparqlPathClosure,
    "sparql_path_seeded" -> sparqlPathSeeded,
    "sparql_group_concat" -> sparqlGroupConcat,
    "sparql_sample" -> sparqlSample,
    "sparql_exists" -> sparqlExists,
    "sparql_optional_chain" -> sparqlOptionalChain,
    "sparql_path_nps" -> sparqlPathNps,
    "sparql_path_zero_or_one" -> sparqlPathZeroOrOne,
    "sparql_values_join" -> sparqlValuesJoin,
    "sparql_construct" -> sparqlConstruct,
    "sparql_ask" -> sparqlAsk,
    "sparql_describe" -> sparqlDescribe,
    "sparql_lateral" -> sparqlLateral,
    "sparql_graph" -> sparqlGraph,
    "sparql_graph_many" -> sparqlGraphMany,
    "sparql_path_alt" -> sparqlPathAlt,
    "sparql_bind_sum" -> sparqlBindSum,
    "sparql_events_agg" -> sparqlEventsAgg,
    "sparql_distinct_agg" -> sparqlDistinctAgg,
    "sparql_string_funcs" -> sparqlStringFuncs,
    "sparql_date_funcs" -> sparqlDateFuncs,
    "q1_lineitem_agg" -> q1LineitemAgg,
    "q3_top_revenue" -> q3TopRevenue,
    "q5_region_revenue" -> q5RegionRevenue,
    "events_top_per_user" -> eventsTopPerUser,
    "events_sessionize" -> eventsSessionize,
    "events_asof" -> eventsAsof,
    "events_interval_join" -> eventsIntervalJoin,
    "dedup_exact" -> dedupExact,
    "dedup_jaccard" -> dedupJaccard,
    "dedup_jaccard_prefix" -> dedupJaccardPrefix,
    "dedup_minhash" -> dedupMinhash,
    "dedup_clusters" -> dedupClusters,
    "dedup_keep" -> dedupKeep,
    "doc_sample" -> docSample,
    "dedup_simhash" -> dedupSimhash,
    "dedup_decontaminate" -> dedupDecontaminate,
    "ann_cosine" -> annCosine,
    "ann_lsh" -> annLsh,
    "ann_ivf" -> annIvf,
    "ann_ivf_batch" -> annIvfBatch,
    "ann_lsh_batch" -> annLshBatch,
    "ann_cosine_batch" -> annCosineBatch,
    "text_quality" -> textQuality,
    "lang_id" -> langId,
    "token_stats" -> tokenStats,
    "fingerprint" -> fingerprint,
    "rolling_fp" -> rollingFp,
    "pii_scrub" -> piiScrub,
    "doc_repetition" -> docRepetition,
    "doc_tfidf" -> docTfidf,
    "bm25_search" -> bm25Search,
    "doc_packing" -> docPacking,
    "doc_span_dedup" -> docSpanDedup,
    "doc_perplexity" -> docPerplexity,
    "quality_score" -> qualityScore,
    "emb_near_dup" -> embNearDup,
    "emb_centroids" -> embCentroids,
    "emb_kmeans" -> embKmeans,
    "emb_semdedup" -> embSemdedup,
    "ann_quantized" -> annQuantized,
    "doc_mixture" -> docMixture,
    "url_dedup" -> urlDedupQ,
    "doc_filter_rules" -> docFilterRules,
    "doc_shuffle" -> docShuffle,
    "link_pagerank" -> linkPagerank,
    "bpe_encode" -> bpeEncode,
    "doc_line_dedup" -> docLineDedup,
    "doc_classifier" -> docClassifier,
    "text_normalize" -> textNormalize,
    "url_host_cap" -> urlHostCap,
    "doc_scripts" -> docScripts,
    "ngram_stats" -> ngramStats,
    "corpus_report" -> corpusReport,
    "doc_chunks" -> docChunks,
    "warc_extract" -> warcExtract,
    "html_extract" -> htmlExtract,
    "frame_sample" -> frameSample,
    "multimodal_features" -> multimodalFeatures,
    "wav_features" -> wavFeatures,
    "aiff_features" -> aiffFeatures,
    "au_features" -> auFeatures,
    "alaw_features" -> alawFeatures,
    "adpcm_features" -> adpcmFeatures,
    "avi_frames" -> aviFrames,
    "mp4_meta" -> mp4Meta,
    "ogg_meta" -> oggMeta,
    "mp3_meta" -> mp3Meta,
    "h264_meta" -> h264Meta,
    "gif_frames" -> gifFrames,
    "bmp_features" -> bmpFeatures,
    "png_features" -> pngFeatures,
    "jpeg_features" -> jpegFeatures,
    "windfarm_production" -> windfarmProduction,
    "windfarm_grouped_prod" -> windfarmGroupedProd,
    "windfarm_grouped_multi" -> windfarmGroupedMulti)

  /** Shared DuckDB CTE chain deriving the portable MinHash-LSH candidate
    * pairs (tokens -> 3-shingles -> 60-bit md5-prefix hashes -> 32 LCG
    * minhashes -> 8 banded buckets -> bucket self-join): the base of the
    * dedup_minhash AND dedup_clusters oracles. */
  private val MhPairCtes: String =
    """w AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
      |                                 x -> len(x) > 0) AS ws FROM documents),
      |sh AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, greatest(len(ws) - 1, 1)),
      |         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS tok
      |       FROM w WHERE len(ws) >= 3),
      |th AS (SELECT doc_id, CAST(list_sum(list_transform(range(1,16), j -> (strpos('0123456789abcdef', substr(md5(tok),j,1))-1)::BIGINT * ([72057594037927936,4503599627370496,281474976710656,17592186044416,1099511627776,68719476736,4294967296,268435456,16777216,1048576,65536,4096,256,16,1])[j])) AS BIGINT) % 1073741789 AS hm FROM sh),
      |mh AS (SELECT doc_id, i,
      |         min((hm * ((1103515245 * (i+1)) % 2147483629) + ((12345 * (i+1)) % 2147483647)) % 2147483647) AS m
      |       FROM th, range(0, 32) t(i) GROUP BY 1, 2),
      |sigs AS (SELECT doc_id, list(m ORDER BY i) AS sig FROM mh GROUP BY 1),
      |bd AS (SELECT doc_id, sig, b,
      |         md5(array_to_string(sig[b*4+1:b*4+4], ',') || '#' || b) AS bh
      |       FROM sigs, range(0, 8) t(b)),
      |cand AS (SELECT DISTINCT a.doc_id AS id_a, a.sig AS sig_a, c.doc_id AS id_b, c.sig AS sig_b
      |         FROM bd a JOIN bd c ON a.b = c.b AND a.bh = c.bh AND a.doc_id < c.doc_id)""".stripMargin

  /** DuckDB replica of WindFarmGen's portable series w4 (turbine A1 at
    * Wind Mountain with 16 turbines): 40-bit md5-prefix uniforms,
    * integer-rounded Irwin–Hall(3) deltas, exact integer running sum. */
  private val WfOracleWalk: String = {
    val pows = "[68719476736,4294967296,268435456,16777216,1048576,65536,4096,256,16,1]"
    def hex10(h: String, p: Int) =
      s"(list_sum(list_transform(range(0,10), j -> " +
      s"(strpos('0123456789abcdef', substr($h, $p+j, 1))-1)::BIGINT * ($pows)[j+1]))::DOUBLE + 0.5)/1099511627776.0"
    s"""steps AS (SELECT range::INT AS s FROM range(0, 25920)),
       |hx AS (SELECT s, md5('w4|' || s || '|d') AS h FROM steps),
       |dl AS (SELECT s, CAST(round(2000.0*((${hex10("h", 1)} + ${hex10("h", 11)} + ${hex10("h", 21)}) - 1.5)) AS BIGINT) AS delta FROM hx),
       |ini AS (SELECT CAST(floor(5000000.0 * ${hex10("md5('wfinit|w4')", 1)}) AS BIGINT) AS v0),
       |wk AS (SELECT s, (SELECT v0 FROM ini) + SUM(delta) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS val FROM dl)""".stripMargin
  }

  /** DuckDB oracle SQL (same column names/types as the Spark results).
    * Every query is oracled: approximate/hash-based ops use portable
    * (md5-derived) hashes the oracle recomputes in SQL, so even the LSH
    * bucketing machinery is verified end-to-end; ann_ivf/ann_lsh achieve
    * full recall on the gate corpus, so the exact result is their oracle. */
  /** Unrolled 5-iteration PageRank oracle — the k-means recipe: every
    * iteration re-derived in SQL, 12-decimal per-iteration rounding keeps
    * both engines in numeric lockstep, dangling mass re-summed per round. */
  private val PageRankOracleSql: String = {
    val head =
      """WITH n AS (SELECT doc_id AS id FROM documents),
        |e AS (SELECT DISTINCT doc_id AS src, (doc_id*7 + j*31) % 500 AS dst
        |      FROM documents, unnest([1,2,3]) t(j)
        |      WHERE doc_id % 5 <> 0 AND (doc_id*7 + j*31) % 500 <> doc_id),
        |deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM e GROUP BY src),
        |nc AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM n),
        |r0 AS (SELECT id, 1.0/nc.n AS r FROM n CROSS JOIN nc)""".stripMargin
    val its = (1 to 5).map { k =>
      val p = s"r${k - 1}"
      s"""d$k AS (SELECT coalesce(sum(r), 0) AS m FROM $p LEFT JOIN deg ON $p.id = deg.src WHERE deg.src IS NULL),
         |s$k AS (SELECT e.dst AS id, sum($p.r / deg.deg) AS c FROM e JOIN $p ON e.src = $p.id JOIN deg ON deg.src = e.src GROUP BY e.dst),
         |r$k AS (SELECT n.id, round((1-0.85)/nc.n + 0.85*(coalesce(s$k.c, 0) + d$k.m/nc.n), 12) AS r
         |        FROM n LEFT JOIN s$k ON n.id = s$k.id CROSS JOIN nc CROSS JOIN d$k)""".stripMargin
    }
    head + ",\n" + its.mkString(",\n") +
      "\nSELECT id, round(r, 9) AS rank FROM r5 ORDER BY id"
  }

  /** Unrolled 4-merge BPE oracle: pair counting over the vocabulary,
    * (count desc, pair asc) best-pair choice, replace-based merge apply —
    * the exact semantics `ops/Bpe` pins. */
  private val BpeOracleSql: String = {
    val head =
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |v AS (SELECT w, count(*) AS c FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w),
        |s0 AS (SELECT w, c, ' ' || array_to_string(string_split(w, ''), ' ') || ' ' AS seq FROM v)""".stripMargin
    val its = (1 to 4).map { k =>
      val p = s"s${k - 1}"
      s"""p$k AS (SELECT syms[i+1] AS l, syms[i+2] AS r, sum(c) AS cnt
         |  FROM (SELECT c, list_filter(string_split(trim(seq), ' '), x -> len(x) > 0) AS syms FROM $p),
         |       LATERAL (SELECT unnest(range(0, len(syms) - 1)) AS i)
         |  GROUP BY 1, 2),
         |m$k AS (SELECT l, r FROM p$k ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
         |s$k AS (SELECT w, c, replace(seq, ' ' || m.l || ' ' || m.r || ' ', ' ' || m.l || m.r || ' ') AS seq
         |        FROM $p CROSS JOIN m$k m)""".stripMargin
    }
    val tail =
      """f AS (SELECT w, list_filter(string_split(trim(seq), ' '), x -> len(x) > 0) AS syms FROM s4),
        |wp AS (SELECT t.doc_id, i AS wpos, t.toks[CAST(i+1 AS INT)] AS w
        |       FROM t, LATERAL (SELECT unnest(range(0, len(toks))) AS i)),
        |j AS (SELECT wp.doc_id, wp.wpos, f.syms FROM wp JOIN f USING (w)),
        |agg AS (SELECT doc_id, CAST(count(*) AS INT) AS n_words,
        |         CAST(sum(len(syms)) AS INT) AS n_tokens,
        |         string_agg(array_to_string(syms, ' '), ' ' ORDER BY wpos) AS bpe_text
        |        FROM j GROUP BY doc_id)
        |SELECT t.doc_id AS id, coalesce(agg.n_words, 0) AS n_words,
        |  coalesce(agg.n_tokens, 0) AS n_tokens, coalesce(agg.bpe_text, '') AS bpe_text
        |FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id ORDER BY id""".stripMargin
    head + ",\n" + its.mkString(",\n") + ",\n" + tail
  }

  /** Script-profile oracle: the regex classes are interpolated from the
    * SAME `TextAnalysis.scriptRanges` constants the operator compiles, and
    * the sample strings from the same vals as the gate query. */
  private val DocScriptsOracleSql: String = {
    val cls = TextAnalysis.scriptRanges.toMap
    val sel = TextAnalysis.scriptRanges.map { case (n, c) =>
      s"len(regexp_extract_all(t, '$c')) AS ${n}_c" }.mkString(",\n   ")
    val names = TextAnalysis.scriptRanges.map(_._1)
    val ladder = names.zipWithIndex.map { case (n, i) =>
      val rest = names.drop(i + 1).map(m => s"AND ${n}_c >= ${m}_c ").mkString
      s"WHEN ${n}_c > 0 $rest THEN '$n'"
    }.mkString("\n    ")
    s"""WITH d AS (SELECT doc_id AS id, CASE doc_id % 5
       |    WHEN 0 THEN substr(text, 1, 40)
       |    WHEN 1 THEN '$CyrText'
       |    WHEN 2 THEN '$CjkText'
       |    WHEN 3 THEN '$ArText'
       |    ELSE '123 456 7890' END AS t
       |  FROM documents),
       |c AS (SELECT id, len(regexp_extract_all(t, '\\S')) AS nw,
       |   $sel
       |  FROM d)
       |SELECT id, CAST(nw AS INT) AS n_chars,
       |  ${names.map(n => s"round(${n}_c / greatest(nw, 1)::DOUBLE, 6) AS ${n}_ratio").mkString(",\n  ")},
       |  CASE
       |    $ladder
       |    ELSE 'other' END AS main_script
       |FROM c ORDER BY id""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "sparql_reduced" ->
      "SELECT DISTINCT c_mktsegment AS seg FROM customer ORDER BY seg",
    "events_asof_stream" ->
      """SELECT l.event_id, l.user_id, epoch_ms(l.ts) AS click_ts_ms,
        |       epoch_ms(r.ts) AS view_matched_ts_ms, r.value AS view_value
        |FROM (SELECT * FROM events WHERE event_type = 'click') l
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin,
    "sparql_update" ->
      """SELECT CASE WHEN s_acctbal >= 5000.0 THEN 'high' ELSE 'low' END AS tier,
        |       count(*) AS n, 0 AS remaining
        |FROM supplier GROUP BY 1 ORDER BY 1""".stripMargin,
    "sparql_update_graphs" ->
      """SELECT g, n FROM (
        |  -- nation maps to 3 data quads (nationkey, name, regionkey) + 1 fk
        |  -- edge per row; region to 2 data quads per row (no fk)
        |  SELECT 'urn:final' AS g, 4 * count(*) AS n FROM nation
        |  UNION ALL
        |  SELECT 'urn:regions' AS g, 2 * count(*) AS n FROM region
        |) ORDER BY g""".stripMargin,
    "link_pagerank" -> PageRankOracleSql,
    "bpe_encode" -> BpeOracleSql,
    "url_host_cap" ->
      """WITH d AS (SELECT doc_id AS id,
        |    'h' || (doc_id % 9)::VARCHAR || '.example.org' AS host
        |  FROM documents),
        |r AS (SELECT id, host,
        |        row_number() OVER (PARTITION BY host ORDER BY id) AS rn FROM d)
        |SELECT id, host, rn <= 30 AS keep FROM r ORDER BY id""".stripMargin,
    "doc_scripts" -> DocScriptsOracleSql,
    "doc_line_dedup" ->
      """WITH d AS (SELECT doc_id, concat_ws(chr(10),
        |    CASE WHEN doc_id % 2 = 0 THEN 'Subscribe to our newsletter today' END,
        |    text,
        |    'shared footer ' || (doc_id % 7)::VARCHAR,
        |    CASE WHEN doc_id % 3 = 0 THEN '  (c) example corp 2026  ' END) AS text
        |  FROM documents),
        |l0 AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM d),
        |l AS (SELECT doc_id, i AS idx, trim(ls[CAST(i+1 AS INT)]) AS line
        |      FROM l0, LATERAL (SELECT unnest(range(0, len(ls))) AS i)),
        |nz AS (SELECT * FROM l WHERE len(line) > 0),
        |k AS (SELECT doc_id, idx, line,
        |        row_number() OVER (PARTITION BY line ORDER BY doc_id, idx) AS rn FROM nz),
        |cnt AS (SELECT doc_id, CAST(count(*) AS INT) AS n_lines FROM nz GROUP BY doc_id),
        |kept AS (SELECT doc_id, CAST(count(*) AS INT) AS n_kept,
        |         string_agg(line, chr(10) ORDER BY idx) AS clean_text
        |         FROM k WHERE rn = 1 GROUP BY doc_id)
        |SELECT d.doc_id AS id, coalesce(cnt.n_lines, 0) AS n_lines,
        |  coalesce(kept.n_kept, 0) AS n_kept, coalesce(kept.clean_text, '') AS clean_text
        |FROM d LEFT JOIN cnt ON d.doc_id = cnt.doc_id LEFT JOIN kept ON d.doc_id = kept.doc_id
        |ORDER BY id""".stripMargin,
    "doc_classifier" ->
      """WITH t AS (SELECT doc_id AS id,
        |    list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |w AS (SELECT id, unnest(toks) AS tok FROM t),
        |b AS (SELECT id, md5('lincls|' || tok) AS k FROM w),
        |bb AS (SELECT id,
        |   ((((strpos('0123456789abcdef', substr(k,1,1)) - 1) * 16 +
        |      (strpos('0123456789abcdef', substr(k,2,1)) - 1)) * 16 +
        |      (strpos('0123456789abcdef', substr(k,3,1)) - 1)) * 16 +
        |      (strpos('0123456789abcdef', substr(k,4,1)) - 1)) % 512 AS bkt
        |   FROM b),
        |sc AS (SELECT id, CAST(count(*) AS INT) AS n_tokens,
        |        avg((((bkt*2654435761) % 4001) - 2000) / 2000.0) AS m
        |       FROM bb GROUP BY id)
        |SELECT t.id AS id, coalesce(sc.n_tokens, 0) AS n_tokens,
        |  round(1.0/(1.0 + exp(-(0.1 + coalesce(sc.m, 0.0)))), 6) AS score,
        |  round(1.0/(1.0 + exp(-(0.1 + coalesce(sc.m, 0.0)))), 6) >= 0.5 AS keep
        |FROM t LEFT JOIN sc ON t.id = sc.id ORDER BY t.id""".stripMargin,
    "text_normalize" ->
      """WITH d AS (SELECT doc_id AS id, CASE doc_id % 4
        |    WHEN 0 THEN 'cafe' || chr(769) || ' creme ' || substr(text, 1, 20)
        |    WHEN 1 THEN 'caf' || chr(233) || ' d' || chr(233) || 'j' || chr(224) || ' vu'
        |    WHEN 2 THEN 'ni' || chr(241) || 'o ' || chr(252) || 'ber fa' || chr(231) || 'ade voil' || chr(224) || ' se' || chr(241) || 'or'
        |    ELSE substr(text, 1, 30) END AS t
        |  FROM documents)
        |SELECT id, nfc_normalize(t) AS nfc_text, nfc_normalize(t) <> t AS changed,
        |  strip_accents(t) AS stripped
        |FROM d ORDER BY id""".stripMargin,
    "sparql_region_nations" ->
      """SELECT r_name AS rname, count(*) AS nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "sparql_filter_order" ->
      """SELECT c_name AS name, round(c_acctbal, 2) AS bal
        |FROM customer WHERE c_acctbal > 9000 ORDER BY name""".stripMargin,
    "sparql_optional_agg" ->
      """SELECT c_name AS name, count(o_orderkey) AS orders
        |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "sparql_minus" ->
      """SELECT c_name AS name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY 1""".stripMargin,
    "sparql_minus_nullable" ->
      """SELECT c_name AS name
        |FROM customer c JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM supplier s JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        |  WHERE contains(sn.n_name, '2')
        |    AND contains(cn.n_name, '1') AND sn.n_name = cn.n_name)
        |ORDER BY 1""".stripMargin,
    "sparql_exists_nullable" ->
      """WITH l AS (
        |  SELECT c_name AS name,
        |         CASE WHEN contains(cn.n_name, '1') THEN cn.n_name END AS nname
        |  FROM customer c JOIN nation cn ON c.c_nationkey = cn.n_nationkey),
        |r AS (SELECT sn.n_name AS nname
        |      FROM supplier s JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        |      WHERE contains(sn.n_name, '2'))
        |SELECT name FROM l
        |WHERE NOT EXISTS (SELECT 1 FROM r WHERE l.nname IS NULL OR r.nname = l.nname)
        |ORDER BY 1""".stripMargin,
    "sparql_union" ->
      """SELECT name FROM (
        |  SELECT c_name AS name FROM customer
        |  UNION ALL SELECT s_name AS name FROM supplier) ORDER BY 1""".stripMargin,
    "sparql_path_seq" ->
      """SELECT r_name AS rname, count(*) AS orders
        |FROM orders, customer, nation, region
        |WHERE o_custkey = c_custkey AND c_nationkey = n_nationkey
        |  AND n_regionkey = r_regionkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "sparql_path_closure" ->
      """WITH RECURSIVE
        |e0 AS (SELECT o_orderkey AS src,
        |              lead(o_orderkey) OVER (PARTITION BY o_custkey
        |                                     ORDER BY o_orderdate, o_orderkey) AS dst
        |       FROM orders),
        |edges AS (SELECT src, dst FROM e0 WHERE dst IS NOT NULL),
        |cl AS (SELECT src, dst FROM edges
        |       UNION
        |       SELECT cl.src, e.dst FROM cl JOIN edges e ON cl.dst = e.src)
        |SELECT c_name AS name, count(*) AS reach
        |FROM cl JOIN orders o ON cl.src = o.o_orderkey
        |        JOIN customer ON o.o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "sparql_path_seeded" ->
      """WITH RECURSIVE
        |e0 AS (SELECT o_orderkey AS src,
        |              lead(o_orderkey) OVER (PARTITION BY o_custkey
        |                                     ORDER BY o_orderdate, o_orderkey) AS dst
        |       FROM orders),
        |edges AS (SELECT src, dst FROM e0 WHERE dst IS NOT NULL),
        |seeds AS (SELECT o_orderkey AS src FROM orders
        |          JOIN customer ON o_custkey = c_custkey
        |          WHERE c_mktsegment = 'MACHINERY'),
        |cl AS (SELECT src, src AS dst FROM seeds
        |       UNION
        |       SELECT cl.src, e.dst FROM cl JOIN edges e ON cl.dst = e.src)
        |SELECT c_name AS name, count(*) AS n
        |FROM cl JOIN orders o ON cl.src = o.o_orderkey
        |        JOIN customer ON o.o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "sparql_group_concat" ->
      """SELECT r_name AS rname, string_agg(n_name, ',' ORDER BY n_name) AS nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "sparql_sample" ->
      """SELECT n_name AS nname, count(*) AS custs
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_nationkey, n_name ORDER BY 1""".stripMargin,
    "sparql_exists" ->
      """SELECT c_name AS name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |ORDER BY 1""".stripMargin,
    "sparql_optional_chain" ->
      """SELECT nc.n_name AS nname, count(*) AS pairs
        |FROM customer c, nation nc, supplier s, nation ns
        |WHERE c.c_nationkey = nc.n_nationkey AND s.s_nationkey = ns.n_nationkey
        |  AND nc.n_name = ns.n_name
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "sparql_path_nps" ->
      """SELECT 'urn:g:region/' || n_regionkey AS x, n_name AS y
        |FROM nation ORDER BY 1, 2""".stripMargin,
    "sparql_path_zero_or_one" ->
      """SELECT s, x FROM (
        |  SELECT 'urn:g:nation/' || n_nationkey AS s,
        |         'urn:g:nation/' || n_nationkey AS x FROM nation
        |  UNION ALL
        |  SELECT 'urn:g:nation/' || n_nationkey,
        |         'urn:g:region/' || n_regionkey FROM nation
        |) ORDER BY 1, 2""".stripMargin,
    "sparql_values_join" ->
      """SELECT r_name AS rname, n_name AS nname
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name IN ('ASIA', 'EUROPE') ORDER BY 1, 2""".stripMargin,
    "sparql_construct" ->
      """SELECT '<urn:g:region/' || n_regionkey || '> <urn:ex:hasNation> <urn:g:nation/'
        |         || n_nationkey || '> .' AS line
        |FROM nation ORDER BY 1""".stripMargin,
    "sparql_ask" ->
      "SELECT CAST(count(*) > 0 AS BOOLEAN) AS ask FROM region WHERE r_name = 'ASIA'",
    "sparql_lateral" ->
      """SELECT r.r_name AS rname, l.nname
        |FROM region r, LATERAL (
        |  SELECT n_name AS nname FROM nation
        |  WHERE n_regionkey = r.r_regionkey ORDER BY n_name LIMIT 2) l
        |ORDER BY 1, 2""".stripMargin,
    "sparql_graph_many" ->
      """SELECT 'urn:graph:urn:g:nation/' || c_nationkey AS g, count(*) AS n
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin,
    "sparql_path_alt" ->
      """SELECT n_name AS nname, count(*) AS deg FROM (
        |  SELECT c_nationkey AS k FROM customer
        |  UNION ALL SELECT s_nationkey FROM supplier) x
        |JOIN nation ON k = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "sparql_graph" ->
      """SELECT g, n FROM (
        |  SELECT 'urn:g:graph/nation' AS g,
        |         count(n_nationkey) + count(n_name) + count(n_regionkey)
        |           + count(n_regionkey) AS n
        |  FROM nation
        |  UNION ALL
        |  SELECT 'urn:g:graph/region', count(r_regionkey) + count(r_name)
        |  FROM region
        |) ORDER BY 1""".stripMargin,
    "sparql_describe" ->
      """SELECT line FROM (
        |  SELECT '<urn:g:region/' || r_regionkey || '> <urn:g:region#r_name> "'
        |           || r_name || '" .' AS line FROM region
        |  UNION ALL
        |  SELECT '<urn:g:region/' || r_regionkey || '> <urn:g:region#r_regionkey> "'
        |           || r_regionkey
        |           || '"^^<http://www.w3.org/2001/XMLSchema#integer> .' FROM region
        |) ORDER BY 1""".stripMargin,
    "sparql_bind_sum" ->
      """SELECT l_returnflag AS flag,
        |       CAST(round(sum(l_extendedprice * (1 - l_discount)), 0) AS BIGINT) AS revenue
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "sparql_events_agg" ->
      """SELECT event_type AS type, count(*) AS n,
        |       round(sum(value), 2) AS total, round(max(value), 2) AS vmax
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "sparql_distinct_agg" ->
      """SELECT o_orderstatus AS status, count(DISTINCT o_custkey) AS custs,
        |       count(*) AS orders
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "sparql_string_funcs" ->
      """SELECT c_name AS name, upper(c_name) AS up, substr(c_name, 10, 5) AS sub,
        |       CAST(length(c_name) AS BIGINT) AS len,
        |       replace(c_name, 'Customer', 'C') AS repl
        |FROM customer
        |WHERE contains(c_name, '19') AND starts_with(c_name, 'Customer')
        |ORDER BY name""".stripMargin,
    "sparql_date_funcs" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
        |       CAST(month(o_orderdate) AS BIGINT) AS m, count(*) AS n
        |FROM orders WHERE year(o_orderdate) >= 1995
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q1_lineitem_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       CAST(round(sum(l_extendedprice), 0) AS BIGINT) AS sum_base_price,
        |       CAST(round(sum(l_extendedprice * (1 - l_discount)), 0) AS BIGINT) AS sum_disc_price,
        |       round(avg(l_quantity), 4) AS avg_qty,
        |       round(avg(l_discount), 4) AS avg_disc,
        |       count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q3_top_revenue" ->
      """SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND o_orderkey = l_orderkey
        |GROUP BY 1 ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q5_region_revenue" ->
      """SELECT n_name,
        |       CAST(round(sum(l_extendedprice * (1 - l_discount)), 0) AS BIGINT) AS revenue
        |FROM lineitem, orders, customer, nation, region
        |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        |  AND c_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "events_top_per_user" ->
      """SELECT user_id, event_id, round(value, 2) AS value FROM events
        |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) = 1
        |ORDER BY user_id""".stripMargin,
    "events_sessionize" ->
      """SELECT user_id, CAST(sum(new_session) AS BIGINT) AS sessions, count(*) AS events
        |FROM (SELECT user_id,
        |        CASE WHEN prev_ts IS NULL OR epoch_ms(ts) - epoch_ms(prev_ts) > 1800000 THEN 1 ELSE 0 END AS new_session
        |      FROM (SELECT user_id, ts,
        |              lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
        |            FROM events))
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "events_asof" ->
      """SELECT l.event_id, l.user_id, epoch_ms(l.ts) AS click_ts_ms,
        |       epoch_ms(r.ts) AS view_matched_ts_ms, r.value AS view_value
        |FROM (SELECT * FROM events WHERE event_type = 'click') l
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin,
    "events_interval_join" ->
      """SELECT i.incident_id, count(*) AS n_events,
        |       CAST(sum(CAST(round(e.value * 100, 0) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM (SELECT event_id AS incident_id, ts AS s, ts + INTERVAL 10 MINUTE AS t
        |      FROM events WHERE event_type = 'error') i
        |JOIN events e ON e.ts >= i.s AND e.ts < i.t
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "dedup_jaccard" ->
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                             x -> len(x) > 0) AS ws
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, unnest(list_transform(range(1, greatest(len(ws) - 1, 1)),
        |                                 i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS tok
        |  FROM w WHERE len(ws) >= 3),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        |  FROM sh a JOIN sh b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |       round(i / (sa.sz + sb.sz - i), 6) AS jaccard
        |FROM inter JOIN sizes sa ON sa.doc_id = id_a
        |           JOIN sizes sb ON sb.doc_id = id_b
        |WHERE round(i / (sa.sz + sb.sz - i), 6) >= 0.05
        |ORDER BY 1, 2""".stripMargin,
    "dedup_jaccard_prefix" ->
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                             x -> len(x) > 0) AS ws
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, unnest(list_transform(range(1, greatest(len(ws) - 1, 1)),
        |                                 i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS tok
        |  FROM w WHERE len(ws) >= 3),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        |  FROM sh a JOIN sh b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |       round(i / (sa.sz + sb.sz - i), 6) AS jaccard
        |FROM inter JOIN sizes sa ON sa.doc_id = id_a
        |           JOIN sizes sb ON sb.doc_id = id_b
        |WHERE round(i / (sa.sz + sb.sz - i), 6) >= 0.6
        |ORDER BY 1, 2""".stripMargin,
    "ann_cosine" ->
      """SELECT vec_id,
        |       round(list_cosine_similarity(embedding::DOUBLE[],
        |             (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)), 6) AS sim
        |FROM embeddings WHERE vec_id != 0
        |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,
    "text_quality" ->
      """SELECT doc_id,
        |  CAST(length(text) AS INT) AS n_chars,
        |  CAST(len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS INT) AS n_tokens,
        |  CAST(len(regexp_extract_all(text, '\p{L}{1,4}|\p{N}{1,3}|[^\p{L}\p{N}\s]')) AS INT) AS n_bpeish,
        |  round(len(regexp_extract_all(text, '[!-/:-@\[-`{-~]')) / greatest(length(text), 1), 6) AS punct_ratio,
        |  round(len(list_filter(string_split_regex(text, '\s+'),
        |        x -> lower(x) IN ('the','a','an','of','to','and','in','is','it','that')))
        |        / greatest(len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)), 1), 6) AS stopword_ratio,
        |  round(length(text) / greatest(len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)), 1), 6) AS avg_token_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "lang_id" ->
      """WITH markers(tok, cand) AS (VALUES
        |  ('the','en'),('a','en'),('of','en'),('and','en'),('is','en'),
        |  ('der','de'),('die','de'),('das','de'),('und','de'),('ist','de'),
        |  ('el','es'),('la','es'),('los','es'),('y','es'),('es','es'),
        |  ('le','fr'),('la','fr'),('les','fr'),('et','fr'),('est','fr'),
        |  ('的','zh'),('是','zh'),('在','zh'),('了','zh'),('和','zh')),
        |words AS (
        |  SELECT doc_id AS id, unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |                                          x -> len(x) > 0)) AS tok
        |  FROM documents),
        |scored AS (
        |  SELECT id, cand, count(*) AS hits FROM words JOIN markers USING (tok) GROUP BY 1, 2),
        |best AS (
        |  SELECT id, cand AS lang_pred, hits FROM scored
        |  QUALIFY row_number() OVER (PARTITION BY id ORDER BY hits DESC, cand) = 1)
        |SELECT d.doc_id AS id, coalesce(b.lang_pred, 'und') AS lang_pred,
        |       coalesce(b.hits, 0) AS hits
        |FROM documents d LEFT JOIN best b ON b.id = d.doc_id ORDER BY 1""".stripMargin,
    "token_stats" ->
      """SELECT source, count(*) AS docs,
        |  CAST(sum(len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0))) AS BIGINT) AS tokens,
        |  CAST(sum(len(regexp_extract_all(text, '\p{L}{1,4}|\p{N}{1,3}|[^\p{L}\p{N}\s]'))) AS BIGINT) AS bpeish_tokens,
        |  CAST(sum(length(text)) AS BIGINT) AS chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "fingerprint" ->
      """SELECT doc_id,
        |       md5(array_to_string(list_filter(string_split_regex(lower(text), '\s+'),
        |                                       x -> len(x) > 0), ' ')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "quality_score" ->
      """WITH q AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS INT) AS n_tokens,
        |    round(len(regexp_extract_all(text, '[!-/:-@\[-`{-~]')) / greatest(length(text), 1), 6) AS punct_ratio,
        |    round(len(list_filter(string_split_regex(text, '\s+'),
        |          x -> lower(x) IN ('the','a','an','of','to','and','in','is','it','that')))
        |          / greatest(len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)), 1), 6) AS stopword_ratio
        |  FROM documents)
        |SELECT doc_id, round(least(1.0,
        |         (least(n_tokens, 100) / 100.0) * 0.5
        |         + (1.0 - least(punct_ratio * 5, 1.0)) * 0.25
        |         + least(stopword_ratio * 4, 1.0) * 0.25), 6) AS score
        |FROM q ORDER BY doc_id""".stripMargin,
    "frame_sample" ->
      """SELECT doc_id AS media_id, CAST(i AS INT) AS frame_index,
        |       CAST(octet_length(unhex(repeat(sha256(CAST(doc_id AS VARCHAR)), 4))) * i / 4 AS BIGINT) AS byte_offset
        |FROM documents, range(0, 4) t(i) ORDER BY 1, 2""".stripMargin,
    "multimodal_features" ->
      """WITH hx AS (SELECT doc_id, repeat(sha256(CAST(doc_id AS VARCHAR)), 4) AS h FROM documents),
        |b AS (SELECT doc_id, unnest(list_transform(range(0, 128), i ->
        |        16 * (strpos('0123456789abcdef', substr(h, 2*i+1, 1)) - 1)
        |           + (strpos('0123456789abcdef', substr(h, 2*i+2, 1)) - 1))) AS v
        |      FROM hx),
        |cnt AS (SELECT doc_id, v, count(*) AS c FROM b GROUP BY 1, 2),
        |ent AS (SELECT doc_id,
        |          list_sum(list(-(c/128.0) * ln(c/128.0) / ln(2) ORDER BY v)) AS entropy,
        |          sum(v * c) AS tot
        |        FROM cnt GROUP BY 1)
        |SELECT doc_id AS media_id, CAST(128 AS BIGINT) AS n_bytes,
        |       round(tot / 128.0, 4) AS byte_mean, round(entropy, 4) AS byte_entropy
        |FROM ent ORDER BY media_id""".stripMargin,
    "wav_features" ->
      """SELECT doc_id AS media_id,
        |       CAST(8000 AS BIGINT) AS sample_rate,
        |       CAST(400 + (doc_id % 50) * 16 AS BIGINT) AS n_samples,
        |       CAST((400 + (doc_id % 50) * 16) / 8 AS BIGINT) AS duration_ms,
        |       CAST(1000 + (doc_id % 20) * 500 AS BIGINT) AS peak,
        |       round(CAST(1000 + (doc_id % 20) * 500 AS DOUBLE), 4) AS rms
        |FROM documents ORDER BY 1""".stripMargin,
    "aiff_features" ->
      """SELECT doc_id AS media_id,
        |       CAST(8000 AS BIGINT) AS sample_rate,
        |       CAST(400 + (doc_id % 50) * 16 AS BIGINT) AS n_samples,
        |       CAST((400 + (doc_id % 50) * 16) / 8 AS BIGINT) AS duration_ms,
        |       CAST(1000 + (doc_id % 20) * 500 AS BIGINT) AS peak,
        |       round(CAST(1000 + (doc_id % 20) * 500 AS DOUBLE), 4) AS rms
        |FROM documents ORDER BY 1""".stripMargin,
    "au_features" ->
      """SELECT doc_id AS media_id,
        |       CAST(8000 AS BIGINT) AS sample_rate,
        |       CAST(400 + (doc_id % 50) * 16 AS BIGINT) AS n_samples,
        |       CAST((400 + (doc_id % 50) * 16) / 8 AS BIGINT) AS duration_ms,
        |       CAST(((1 + doc_id % 14) * 8 + 132) * CAST(pow(2, doc_id % 4) AS BIGINT) - 132 AS BIGINT) AS peak,
        |       round(CAST(((1 + doc_id % 14) * 8 + 132) * CAST(pow(2, doc_id % 4) AS BIGINT) - 132 AS DOUBLE), 4) AS rms
        |FROM documents ORDER BY 1""".stripMargin,
    "alaw_features" ->
      """WITH a AS (SELECT doc_id,
        |  CASE WHEN doc_id % 4 = 0 THEN (doc_id % 16) * 16 + 8
        |       ELSE ((doc_id % 16) * 16 + 264) * CAST(pow(2, doc_id % 4 - 1) AS BIGINT)
        |  END AS amp FROM documents)
        |SELECT doc_id AS media_id,
        |       CAST(8000 AS BIGINT) AS sample_rate,
        |       CAST(400 + (doc_id % 50) * 16 AS BIGINT) AS n_samples,
        |       CAST((400 + (doc_id % 50) * 16) / 8 AS BIGINT) AS duration_ms,
        |       CAST(amp AS BIGINT) AS peak,
        |       round(CAST(amp AS DOUBLE), 4) AS rms
        |FROM a ORDER BY 1""".stripMargin,
    // IMA ADPCM: the oracle re-runs the published IMA step table in SQL —
    // sign-only nibbles step the index by −1 each sample, so sample j is
    // p0 + a signed running sum of stepTable[max(i0−j,0)] >> 3 (plus the
    // header-predictor sample 0). Integer-valued squares keep the RMS sum
    // exact under any addition order.
    "adpcm_features" ->
      """WITH st AS (
        |  SELECT gs AS i,
        |         ([7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,
        |           50,55,60,66,73,80,88,97,107,118,130,143,157,173,190,209,
        |           230,253,279,307,337,371,408,449,494,544,598,658,724,796,
        |           876,963,1060,1166,1282,1411,1552,1707,1878,2066,2272,2499,
        |           2749,3024,3327,3660,4026,4428,4871,5358,5894,6484,7132,
        |           7845,8630,9493,10442,11487,12635,13899,15289,16818,18500,
        |           20350,22385,24623,27086,29794,32767])[gs+1] AS s
        |  FROM generate_series(0, 88) t(gs)),
        |d AS (SELECT doc_id, 2 * (100 + (doc_id % 50) * 4) AS m,
        |             doc_id % 800 AS p0, doc_id % 64 AS i0 FROM documents),
        |delta AS (
        |  SELECT d.doc_id, j.gs AS j, d.p0,
        |         CASE WHEN (d.doc_id + j.gs) % 3 = 0 THEN -(st.s >> 3)
        |              ELSE st.s >> 3 END AS dv
        |  FROM d, generate_series(0, 591) j(gs), st
        |  WHERE j.gs < d.m AND st.i = greatest(d.i0 - j.gs, 0)),
        |samp AS (
        |  SELECT doc_id, 0 AS k, CAST(p0 AS BIGINT) AS v FROM d
        |  UNION ALL
        |  SELECT doc_id, j + 1 AS k,
        |         p0 + SUM(dv) OVER (PARTITION BY doc_id ORDER BY j) AS v
        |  FROM delta)
        |SELECT s2.doc_id AS media_id, CAST(8000 AS BIGINT) AS sample_rate,
        |       CAST(d.m + 1 AS BIGINT) AS n_samples,
        |       CAST((d.m + 1) * 1000 // 8000 AS BIGINT) AS duration_ms,
        |       CAST(max(abs(s2.v)) AS BIGINT) AS peak,
        |       round(sqrt(avg(CAST(s2.v AS DOUBLE) * s2.v)), 4) AS rms
        |FROM samp s2 JOIN d ON s2.doc_id = d.doc_id
        |GROUP BY s2.doc_id, d.m ORDER BY 1""".stripMargin,
    "avi_frames" ->
      """SELECT d.doc_id AS media_id, f.range AS frame_index,
        |       CAST(2 + d.doc_id % 3 AS BIGINT) AS n_frames,
        |       CAST(8 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height,
        |       round(CAST((11 * d.doc_id + 17 * f.range) % 256 AS DOUBLE), 4) AS mean_lum
        |FROM documents d, range(4) f
        |WHERE f.range < 2 + d.doc_id % 3
        |ORDER BY 1, 2""".stripMargin,
    "mp4_meta" ->
      """SELECT doc_id AS media_id, 'isom' AS major_brand,
        |       CAST(600 AS BIGINT) AS timescale,
        |       CAST((3000 + (doc_id % 100) * 150) * 1000 // 600 AS BIGINT) AS duration_ms,
        |       CAST(2 AS BIGINT) AS n_tracks, CAST(1 AS BIGINT) AS video_tracks,
        |       CAST(1 AS BIGINT) AS audio_tracks,
        |       CAST(64 + (doc_id % 32) * 16 AS BIGINT) AS width,
        |       CAST(48 + (doc_id % 24) * 16 AS BIGINT) AS height
        |FROM documents ORDER BY 1""".stripMargin,
    "ogg_meta" ->
      """SELECT doc_id AS media_id, CAST(8000 AS BIGINT) AS sample_rate,
        |       CAST(1 AS BIGINT) AS channels, CAST(3 AS BIGINT) AS n_pages,
        |       CAST(8000 * (1 + doc_id % 30) + (doc_id % 8) * 1000 AS BIGINT) AS granule,
        |       CAST((8000 * (1 + doc_id % 30) + (doc_id % 8) * 1000) // 8 AS BIGINT) AS duration_ms
        |FROM documents ORDER BY 1""".stripMargin,
    "mp3_meta" ->
      """SELECT doc_id AS media_id, CAST(32000 AS BIGINT) AS sample_rate,
        |       CAST(1 + doc_id % 2 AS BIGINT) AS channels,
        |       CAST(CASE doc_id % 4 WHEN 0 THEN 64 WHEN 1 THEN 96
        |                            WHEN 2 THEN 128 ELSE 160 END AS BIGINT) AS bitrate_kbps,
        |       CAST(8 + doc_id % 40 AS BIGINT) AS n_frames,
        |       CAST((8 + doc_id % 40) * 36 AS BIGINT) AS duration_ms,
        |       FALSE AS vbr
        |FROM documents ORDER BY 1""".stripMargin,
    "h264_meta" ->
      """SELECT doc_id AS media_id, CAST(66 AS BIGINT) AS profile_idc,
        |       CAST(30 AS BIGINT) AS level_idc,
        |       CAST(16 * (4 + doc_id % 32)
        |            - CASE WHEN doc_id % 3 = 0 THEN 2 * (1 + doc_id % 4) ELSE 0 END AS BIGINT) AS width,
        |       CAST(16 * (3 + doc_id % 24)
        |            - CASE WHEN doc_id % 3 = 0 THEN 2 * (doc_id % 2) ELSE 0 END AS BIGINT) AS height,
        |       CAST(3 + doc_id % 20 AS BIGINT) AS n_nals,
        |       CAST(1 AS BIGINT) AS n_idr,
        |       CAST(1 + doc_id % 20 AS BIGINT) AS n_frames
        |FROM documents ORDER BY 1""".stripMargin,
    "gif_frames" ->
      """SELECT d.doc_id AS media_id, f.range AS frame_index,
        |       CAST(2 + d.doc_id % 3 AS BIGINT) AS n_frames,
        |       CAST(8 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height,
        |       round(CAST((7 * d.doc_id + 13 * f.range) % 256 AS DOUBLE), 4) AS mean_lum
        |FROM documents d, range(4) f
        |WHERE f.range < 2 + d.doc_id % 3
        |ORDER BY 1, 2""".stripMargin,
    "bmp_features" ->
      """WITH px AS (
        |  SELECT d.doc_id, x.range AS x, y.range AS y,
        |         (d.doc_id + x.range * y.range) % 256 AS v
        |  FROM documents d, range(8) x, range(8) y),
        |m AS (SELECT doc_id, avg(v) AS mv FROM px GROUP BY 1)
        |SELECT p.doc_id AS media_id, CAST(8 AS BIGINT) AS width,
        |       CAST(8 AS BIGINT) AS height,
        |       round(avg(p.v), 4) AS mean_r, round(avg(p.v), 4) AS mean_b,
        |       string_agg(CASE WHEN p.v >= m.mv THEN '1' ELSE '0' END, ''
        |                  ORDER BY p.y * 8 + p.x DESC) AS ahash_bits
        |FROM px p JOIN m ON p.doc_id = m.doc_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "png_features" ->
      """WITH px AS (
        |  SELECT d.doc_id, x.range AS x, y.range AS y,
        |         (d.doc_id + x.range * y.range) % 256 AS v
        |  FROM documents d, range(8) x, range(8) y),
        |m AS (SELECT doc_id, avg(v) AS mv FROM px GROUP BY 1)
        |SELECT p.doc_id AS media_id, 'png' AS format, CAST(8 AS BIGINT) AS width,
        |       CAST(8 AS BIGINT) AS height,
        |       round(avg(p.v), 4) AS mean_r, round(avg(p.v), 4) AS mean_b,
        |       string_agg(CASE WHEN p.v >= m.mv THEN '1' ELSE '0' END, ''
        |                  ORDER BY p.y * 8 + p.x DESC) AS ahash_bits
        |FROM px p JOIN m ON p.doc_id = m.doc_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "jpeg_features" ->
      """SELECT doc_id AS media_id, 'jpeg' AS format,
        |       CAST(8 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height,
        |       round(CAST(doc_id % 256 AS DOUBLE), 4) AS mean_r,
        |       round(CAST(doc_id % 256 AS DOUBLE), 4) AS mean_g,
        |       repeat('1', 64) AS ahash_bits
        |FROM documents ORDER BY 1""".stripMargin,
    "rolling_fp" ->
      """WITH 
        |w AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
        |                                 x -> len(x) > 0) AS ws FROM documents),
        |sh AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, greatest(len(ws) - 3, 1)),
        |         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4])) AS shingle
        |       FROM w WHERE len(ws) >= 5),
        |h AS (SELECT doc_id AS id, md5(shingle) AS h FROM sh)
        |SELECT id, CAST(((16 * (strpos('0123456789abcdef', substr(h, 1, 1)) - 1)
        |             + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1)) % 8) AS INT) AS band, min(h) AS fp_hash
        |FROM h GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "pii_scrub" ->
      """WITH d AS (SELECT doc_id,
        |  text || ' reach user' || doc_id || '@example.com or +1 555-01' ||
        |  lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || ' 4321 from 10.0.' ||
        |  CAST(doc_id % 256 AS VARCHAR) || '.7 thanks' AS text FROM documents)
        |, st AS (SELECT doc_id, text,
        |    regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g') AS after_email
        |  FROM d)
        |, st2 AS (SELECT doc_id, text, after_email,
        |    regexp_replace(after_email, '\+\d{1,2}[ -]\d{3}[ -]\d{3,4}[ -]\d{4}', '[PHONE]', 'g') AS after_phone
        |  FROM st)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
        |  CAST(len(regexp_extract_all(after_email, '\+\d{1,2}[ -]\d{3}[ -]\d{3,4}[ -]\d{4}')) AS INT) AS n_phones,
        |  CAST(len(regexp_extract_all(after_phone, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INT) AS n_ips,
        |  regexp_replace(after_phone, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g') AS clean_text
        |FROM st2 ORDER BY doc_id""".stripMargin,
    "doc_repetition" ->
      """WITH w AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
        |                                      x -> len(x) > 0) AS words FROM documents),
        |base AS (SELECT doc_id, words, len(words) AS n,
        |  CASE WHEN len(words) >= 2
        |       THEN list_transform(range(1, len(words)), i -> words[i] || ' ' || words[i+1])
        |       ELSE []::VARCHAR[] END AS grams FROM w),
        |tc AS (SELECT doc_id, max(c) AS topc FROM (
        |         SELECT doc_id, wd, count(*) AS c
        |         FROM (SELECT doc_id, unnest(words) AS wd FROM w) GROUP BY doc_id, wd)
        |       GROUP BY doc_id)
        |SELECT b.doc_id AS id, CAST(b.n AS INT) AS n_words,
        |  CASE WHEN b.n > 0 THEN round(len(list_distinct(b.words)) / CAST(b.n AS DOUBLE), 6)
        |       ELSE 0.0 END AS uniq_word_ratio,
        |  CASE WHEN len(b.grams) > 0
        |       THEN round(1.0 - len(list_distinct(b.grams)) / CAST(len(b.grams) AS DOUBLE), 6)
        |       ELSE 0.0 END AS dup_bigram_ratio,
        |  CASE WHEN b.n > 0 THEN round(coalesce(tc.topc, 0) / CAST(b.n AS DOUBLE), 6)
        |       ELSE 0.0 END AS top_word_share
        |FROM base b LEFT JOIN tc ON b.doc_id = tc.doc_id
        |ORDER BY id""".stripMargin,
    "doc_tfidf" ->
      """WITH w AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
        |                                      x -> len(x) > 0) AS words FROM documents),
        |nn AS (SELECT count(*) AS n FROM documents),
        |tf AS (SELECT doc_id, wd AS term, count(*) AS tf
        |       FROM (SELECT doc_id, unnest(words) AS wd FROM w) GROUP BY doc_id, wd),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |s AS (SELECT tf.doc_id AS id, tf.term, tf.tf,
        |        round(tf.tf * (ln((nn.n + 1.0) / (dfq.df + 1.0)) + 1.0), 6) AS tfidf
        |      FROM tf JOIN dfq USING (term) CROSS JOIN nn),
        |r AS (SELECT *, row_number() OVER (PARTITION BY id ORDER BY tfidf DESC, term ASC) AS rn FROM s)
        |SELECT id, term, CAST(tf AS BIGINT) AS tf, tfidf FROM r WHERE rn <= 5
        |ORDER BY id, term""".stripMargin,
    "bm25_search" ->
      """WITH w AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
        |                                      x -> len(x) > 0) AS words FROM documents),
        |nn AS (SELECT count(*) AS n FROM documents),
        |al AS (SELECT avg(len(words)) AS avgl FROM w),
        |q(term) AS (VALUES ('spark'), ('vector'), ('merge')),
        |t AS (SELECT doc_id, len(words) AS len, unnest(words) AS wd FROM w),
        |tf AS (SELECT doc_id, len, wd AS term, count(*) AS tf
        |       FROM t JOIN q ON t.wd = q.term GROUP BY doc_id, len, wd),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |sc AS (SELECT tf.doc_id AS id,
        |         ln(1.0 + (nn.n - dfq.df + 0.5) / (dfq.df + 0.5)) * (tf.tf * (1.2 + 1.0)) /
        |           (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.len / al.avgl)) AS contrib
        |       FROM tf JOIN dfq USING (term) CROSS JOIN nn CROSS JOIN al)
        |SELECT id, round(sum(contrib), 6) AS score FROM sc GROUP BY id
        |ORDER BY score DESC, id LIMIT 10""".stripMargin,
    "doc_packing" ->
      """WITH w AS (SELECT doc_id,
        |    len(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> len(x) > 0)) AS n_tokens,
        |    (list_sum(list_transform(range(0,10), j ->
        |       (strpos('0123456789abcdef', substr(md5('pack|' || doc_id), 1+j, 1))-1)::BIGINT
        |         * ([68719476736,4294967296,268435456,16777216,1048576,65536,4096,256,16,1])[j+1])) % 8) AS shard
        |  FROM documents),
        |s AS (SELECT doc_id, n_tokens, shard,
        |        coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens, 0) AS st
        |      FROM w WHERE n_tokens > 0)
        |SELECT doc_id AS id, CAST(shard AS INT) AS shard,
        |  CAST(shard * 1099511627776 + floor(st / 256.0) AS BIGINT) AS bin,
        |  CAST(st % 256 AS BIGINT) AS bin_offset,
        |  CAST(n_tokens AS INT) AS n_tokens
        |FROM s ORDER BY id""".stripMargin,
    "doc_span_dedup" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |b AS (SELECT doc_id, toks, CAST(ceil(len(toks) / 8.0) AS INT) AS ns
        |      FROM t WHERE len(toks) > 0),
        |sp AS (SELECT doc_id, i AS idx, array_to_string(toks[i*8+1 : i*8+8], ' ') AS span
        |       FROM b, LATERAL (SELECT unnest(range(0, CAST(ns AS BIGINT))) AS i)),
        |k AS (SELECT doc_id, idx, span,
        |        row_number() OVER (PARTITION BY span ORDER BY doc_id, idx) AS rn
        |      FROM sp)
        |SELECT b.doc_id AS id, b.ns AS n_spans,
        |  CAST(count(k.idx) AS INT) AS n_kept,
        |  coalesce(string_agg(k.span, ' ' ORDER BY k.idx), '') AS clean_text
        |FROM b LEFT JOIN (SELECT * FROM k WHERE rn = 1) k ON b.doc_id = k.doc_id
        |GROUP BY b.doc_id, b.ns ORDER BY id""".stripMargin,
    "doc_perplexity" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |b AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
        |u AS (SELECT w, count(*) AS c1 FROM (SELECT unnest(toks) AS w FROM b) GROUP BY w),
        |tot AS (SELECT CAST(sum(c1) AS DOUBLE) AS t, CAST(count(*) AS DOUBLE) AS v FROM u),
        |bg AS (SELECT doc_id, toks[CAST(i AS INT)] AS w1, toks[CAST(i+1 AS INT)] AS w2
        |       FROM b, LATERAL (SELECT unnest(range(1, CAST(n AS BIGINT))) AS i)),
        |b2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2),
        |contrib AS (
        |  SELECT f.doc_id, ln((u.c1 + 0.1) / (tot.t + 0.1 * tot.v)) AS lp
        |  FROM (SELECT doc_id, toks[1] AS w FROM b) f JOIN u ON u.w = f.w CROSS JOIN tot
        |  UNION ALL
        |  SELECT bg.doc_id, ln((b2.c2 + 0.1) / (u.c1 + 0.1 * tot.v))
        |  FROM bg JOIN b2 USING (w1, w2) JOIN u ON u.w = bg.w1 CROSS JOIN tot)
        |SELECT b.doc_id AS id, CAST(b.n AS INT) AS n_tokens,
        |  round(exp(-sum(c.lp) / b.n), 6) AS ppl
        |FROM b JOIN contrib c ON b.doc_id = c.doc_id
        |GROUP BY b.doc_id, b.n ORDER BY id""".stripMargin,
    "emb_centroids" ->
      """WITH x AS (SELECT label, i, embedding[CAST(i+1 AS INT)]::DOUBLE AS v
        |           FROM embeddings, range(0, 64) t(i))
        |SELECT label, CAST(i AS BIGINT) AS dim, round(avg(v), 4) AS m
        |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "emb_kmeans" ->
      """WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
        |c1 AS (SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS INT) AS cid, v AS cv
        |       FROM e ORDER BY id LIMIT 8),
        |a1 AS (SELECT id, v, cl FROM (
        |  SELECT e.id, e.v, c.cid AS cl, row_number() OVER (PARTITION BY e.id ORDER BY
        |    list_sum(list_transform(range(1,65), i -> (e.v[i]-c.cv[i])*(e.v[i]-c.cv[i]))) ASC,
        |    c.cid ASC) AS rn FROM e CROSS JOIN c1 c) WHERE rn = 1),
        |m2 AS (SELECT cl AS cid, i, round(avg(v[CAST(i AS INT)]), 9) AS m
        |       FROM a1, range(1,65) t(i) GROUP BY 1, 2),
        |n2 AS (SELECT cid, list(m ORDER BY i) AS cv FROM m2 GROUP BY cid),
        |c2 AS (SELECT c1.cid, coalesce(n2.cv, c1.cv) AS cv FROM c1 LEFT JOIN n2 USING (cid)),
        |a2 AS (SELECT id, v, cl FROM (
        |  SELECT e.id, e.v, c.cid AS cl, row_number() OVER (PARTITION BY e.id ORDER BY
        |    list_sum(list_transform(range(1,65), i -> (e.v[i]-c.cv[i])*(e.v[i]-c.cv[i]))) ASC,
        |    c.cid ASC) AS rn FROM e CROSS JOIN c2 c) WHERE rn = 1),
        |m3 AS (SELECT cl AS cid, i, round(avg(v[CAST(i AS INT)]), 9) AS m
        |       FROM a2, range(1,65) t(i) GROUP BY 1, 2),
        |n3 AS (SELECT cid, list(m ORDER BY i) AS cv FROM m3 GROUP BY cid),
        |c3 AS (SELECT c2.cid, coalesce(n3.cv, c2.cv) AS cv FROM c2 LEFT JOIN n3 USING (cid)),
        |a3 AS (SELECT id, cl FROM (
        |  SELECT e.id, c.cid AS cl, row_number() OVER (PARTITION BY e.id ORDER BY
        |    list_sum(list_transform(range(1,65), i -> (e.v[i]-c.cv[i])*(e.v[i]-c.cv[i]))) ASC,
        |    c.cid ASC) AS rn FROM e CROSS JOIN c3 c) WHERE rn = 1)
        |SELECT id, CAST(cl AS INT) AS cluster FROM a3 ORDER BY id""".stripMargin,
    "emb_semdedup" ->
      """WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
        |c1 AS (SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS INT) AS cid, v AS cv
        |       FROM e ORDER BY id LIMIT 8),
        |a1 AS (SELECT id, v, cl FROM (
        |  SELECT e.id, e.v, c.cid AS cl, row_number() OVER (PARTITION BY e.id ORDER BY
        |    list_sum(list_transform(range(1,65), i -> (e.v[i]-c.cv[i])*(e.v[i]-c.cv[i]))) ASC,
        |    c.cid ASC) AS rn FROM e CROSS JOIN c1 c) WHERE rn = 1),
        |m2 AS (SELECT cl AS cid, i, round(avg(v[CAST(i AS INT)]), 9) AS m
        |       FROM a1, range(1,65) t(i) GROUP BY 1, 2),
        |n2 AS (SELECT cid, list(m ORDER BY i) AS cv FROM m2 GROUP BY cid),
        |c2 AS (SELECT c1.cid, coalesce(n2.cv, c1.cv) AS cv FROM c1 LEFT JOIN n2 USING (cid)),
        |a2 AS (SELECT id, v, cl FROM (
        |  SELECT e.id, e.v, c.cid AS cl, row_number() OVER (PARTITION BY e.id ORDER BY
        |    list_sum(list_transform(range(1,65), i -> (e.v[i]-c.cv[i])*(e.v[i]-c.cv[i]))) ASC,
        |    c.cid ASC) AS rn FROM e CROSS JOIN c2 c) WHERE rn = 1),
        |m3 AS (SELECT cl AS cid, i, round(avg(v[CAST(i AS INT)]), 9) AS m
        |       FROM a2, range(1,65) t(i) GROUP BY 1, 2),
        |n3 AS (SELECT cid, list(m ORDER BY i) AS cv FROM m3 GROUP BY cid),
        |c3 AS (SELECT c2.cid, coalesce(n3.cv, c2.cv) AS cv FROM c2 LEFT JOIN n3 USING (cid)),
        |a3 AS (SELECT id, v, cl FROM (
        |  SELECT e.id, e.v, c.cid AS cl, row_number() OVER (PARTITION BY e.id ORDER BY
        |    list_sum(list_transform(range(1,65), i -> (e.v[i]-c.cv[i])*(e.v[i]-c.cv[i]))) ASC,
        |    c.cid ASC) AS rn FROM e CROSS JOIN c3 c) WHERE rn = 1),
        |dr AS (SELECT DISTINCT b.id FROM a3 a JOIN a3 b ON a.cl = b.cl AND a.id < b.id
        |       WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.3)
        |SELECT a3.id, CAST(cl AS INT) AS cluster,
        |       a3.id NOT IN (SELECT id FROM dr) AS keep
        |FROM a3 ORDER BY a3.id""".stripMargin,
    "url_dedup" ->
      """WITH d AS (SELECT doc_id AS id, CASE doc_id % 5
        |    WHEN 0 THEN 'https://example' || (doc_id%7)::VARCHAR || '.org/item/' || (doc_id%13)::VARCHAR
        |    WHEN 1 THEN 'HTTPS://www.example' || (doc_id%7)::VARCHAR || '.org/item/' || (doc_id%13)::VARCHAR || '/'
        |    WHEN 2 THEN 'https://example' || (doc_id%7)::VARCHAR || '.org:443/item/' || (doc_id%13)::VARCHAR || '?utm_source=feed&utm_campaign=x'
        |    WHEN 3 THEN 'https://example' || (doc_id%7)::VARCHAR || '.org/item/' || (doc_id%13)::VARCHAR || '?b=2&a=1#frag'
        |    ELSE 'https://example' || (doc_id%7)::VARCHAR || '.org/item/' || (doc_id%13)::VARCHAR || '?a=1&b=2' END AS url
        |  FROM documents),
        |u AS (SELECT id, CASE WHEN starts_with(url, '//') THEN 'http:' || url
        |                      WHEN contains(url, '://') THEN url
        |                      ELSE 'http://' || url END AS u FROM d),
        |c AS (SELECT id,
        |   lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |   regexp_replace(lower(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)), '^www\.', '') AS host0,
        |   regexp_replace(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1), '/+$', '') AS path0,
        |   regexp_extract(u, '\?([^#]*)', 1) AS q FROM u),
        |c2 AS (SELECT id, scheme,
        |   CASE WHEN scheme = 'http' THEN regexp_replace(host0, ':80$', '')
        |        WHEN scheme = 'https' THEN regexp_replace(host0, ':443$', '')
        |        ELSE host0 END AS host,
        |   CASE WHEN path0 = '' THEN '/' ELSE path0 END AS path,
        |   array_to_string(list_sort(list_filter(string_split(q, '&'),
        |     p -> len(p) > 0 AND NOT regexp_matches(p, '^(utm_[A-Za-z0-9_]*|fbclid|gclid|ref)='))), '&') AS qs
        |   FROM c),
        |canon AS (SELECT id, scheme || '://' || host || path ||
        |            CASE WHEN len(qs) > 0 THEN '?' || qs ELSE '' END AS canon_url FROM c2)
        |SELECT id, canon_url,
        |       row_number() OVER (PARTITION BY canon_url ORDER BY id) = 1 AS keep
        |FROM canon ORDER BY id""".stripMargin,
    "ngram_stats" ->
      """WITH w AS (SELECT source, list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
        |                                      x -> len(x) > 0) AS ws FROM documents),
        |g AS (SELECT source, unnest(list_transform(range(1, len(ws)),
        |        i -> ws[i] || ' ' || ws[i+1])) AS ngram
        |      FROM w WHERE len(ws) >= 2),
        |c AS (SELECT source, ngram, count(*) AS cnt FROM g GROUP BY 1, 2),
        |r AS (SELECT source, ngram, cnt,
        |        row_number() OVER (PARTITION BY source ORDER BY cnt DESC, ngram ASC) AS rn
        |      FROM c)
        |SELECT source, ngram, cnt FROM r WHERE rn <= 5 ORDER BY source, ngram""".stripMargin,
    "corpus_report" ->
      """WITH q AS (
        |  SELECT source, lang, length(text) AS n_chars,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS INT) AS n_tokens,
        |    round(len(regexp_extract_all(text, '[!-/:-@\[-`{-~]')) / greatest(length(text), 1), 6) AS punct_ratio,
        |    round(len(list_filter(string_split_regex(text, '\s+'),
        |          x -> lower(x) IN ('the','a','an','of','to','and','in','is','it','that')))
        |          / greatest(len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)), 1), 6) AS stopword_ratio
        |  FROM documents),
        |s AS (SELECT source, lang, n_chars, n_tokens, round(least(1.0,
        |        (least(n_tokens, 100) / 100.0) * 0.5
        |        + (1.0 - least(punct_ratio * 5, 1.0)) * 0.25
        |        + least(stopword_ratio * 4, 1.0) * 0.25), 6) AS score
        |      FROM q)
        |SELECT source, lang, count(*) AS docs, CAST(sum(n_tokens) AS BIGINT) AS tokens,
        |       CAST(sum(n_chars) AS BIGINT) AS chars, round(avg(score), 6) AS avg_quality
        |FROM s GROUP BY 1, 2 ORDER BY source, lang""".stripMargin,
    "doc_shuffle" ->
      """WITH k AS (SELECT doc_id AS id, md5('shuf1|' || doc_id) AS k FROM documents),
        |s AS (SELECT id, k,
        |        ((((strpos('0123456789abcdef', substr(k, 1, 1)) - 1) * 16 +
        |           (strpos('0123456789abcdef', substr(k, 2, 1)) - 1)) * 16 +
        |           (strpos('0123456789abcdef', substr(k, 3, 1)) - 1)) * 16 +
        |           (strpos('0123456789abcdef', substr(k, 4, 1)) - 1)) % 16 AS shard
        |      FROM k)
        |SELECT id, CAST(shard AS INT) AS shard,
        |       CAST(row_number() OVER (PARTITION BY shard ORDER BY k, id) - 1 AS BIGINT) AS pos
        |FROM s ORDER BY id""".stripMargin,
    "doc_filter_rules" ->
      """WITH d AS (SELECT doc_id, CASE doc_id % 6
        |    WHEN 0 THEN text
        |    WHEN 1 THEN text || ' ' || trim(repeat('# ', 20))
        |    WHEN 2 THEN '- one' || chr(10) || '- two' || chr(10) || '- three' || chr(10) || substr(text, 1, 20)
        |    WHEN 3 THEN text || chr(10) || 'read more...' || chr(10) || 'continued' || chr(8230)
        |    WHEN 4 THEN '12 34 56 78 90 11 22 33'
        |    ELSE 'a b' END AS text FROM documents),
        |w AS (SELECT doc_id, text,
        |        list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS ws,
        |        list_filter(string_split(text, chr(10)), l -> len(l) > 0) AS ls FROM d),
        |m AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
        |   round(list_sum(list_transform(ws, x -> len(x)))::DOUBLE / greatest(len(ws), 1), 6) AS mean_word_len,
        |   round(len(regexp_extract_all(text, '#|\.\.\.|…'))::DOUBLE / greatest(len(ws), 1), 6) AS symbol_ratio,
        |   round(len(list_filter(ls, l -> regexp_matches(l, '^[-*•] ')))::DOUBLE / greatest(len(ls), 1), 6) AS bullet_ratio,
        |   round(len(list_filter(ls, l -> regexp_matches(l, '(\.\.\.|…)$')))::DOUBLE / greatest(len(ls), 1), 6) AS ellipsis_ratio,
        |   round(len(list_filter(ws, x -> regexp_matches(x, '\p{L}')))::DOUBLE / greatest(len(ws), 1), 6) AS alpha_ratio,
        |   CAST(len(list_filter(['the','a','an','of','to','and','in','is','it','that'],
        |     s -> list_contains(list_transform(ws, x -> lower(x)), s))) AS INT) AS stop_hits
        |   FROM w)
        |SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_ratio, ellipsis_ratio,
        |   alpha_ratio, stop_hits,
        |   (n_words BETWEEN 5 AND 100000) AND (mean_word_len BETWEEN 2.0 AND 12.0)
        |     AND symbol_ratio <= 0.1 AND bullet_ratio <= 0.5 AND ellipsis_ratio <= 0.3
        |     AND alpha_ratio >= 0.7 AND stop_hits >= 2 AS keep
        |FROM m ORDER BY doc_id""".stripMargin,
    "ann_quantized" ->
      """WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
        |r AS (SELECT i, min(v[CAST(i AS INT)]) AS lo, max(v[CAST(i AS INT)]) AS hi
        |      FROM e, range(1,65) t(i) GROUP BY i),
        |rl AS (SELECT list(struct_pack(lo := lo, hi := hi) ORDER BY i) AS rng FROM r),
        |d AS (SELECT id, list_transform(range(1,65), i ->
        |        CASE WHEN rng[i].hi = rng[i].lo THEN rng[i].lo
        |             ELSE rng[i].lo + round((v[i]-rng[i].lo)/(rng[i].hi-rng[i].lo)*255.0, 0)
        |                    * (rng[i].hi-rng[i].lo)/255.0 END) AS dv
        |      FROM e CROSS JOIN rl),
        |q AS (SELECT dv AS qv FROM d WHERE id = 0)
        |SELECT d.id, round(list_cosine_similarity(d.dv, q.qv), 6) AS sim
        |FROM d CROSS JOIN q WHERE d.id != 0
        |ORDER BY sim DESC, d.id LIMIT 10""".stripMargin,
    "doc_mixture" ->
      """WITH h AS (SELECT source AS s, count(*) AS n FROM documents GROUP BY 1),
        |w AS (SELECT s, n, pow(n::DOUBLE, 0.5) AS w FROM h),
        |tw AS (SELECT sum(w) AS tw FROM w),
        |r AS (SELECT s, round(least(1.0, 120.0 * w / tw / n), 9) AS rate FROM w CROSS JOIN tw)
        |SELECT doc_id, source, rate FROM documents d JOIN r ON d.source = r.s
        |WHERE ((list_sum(list_transform(range(0,10), j ->
        |         (strpos('0123456789abcdef', substr(md5('mix2|' || doc_id), 1+j, 1))-1)::BIGINT
        |           * ([68719476736,4294967296,268435456,16777216,1048576,65536,4096,256,16,1])[j+1]))::DOUBLE + 0.5)
        |       / 1099511627776.0) < rate
        |ORDER BY doc_id""".stripMargin,
    "doc_chunks" ->
      """WITH w AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
        |                                 x -> len(x) > 0) AS ws FROM documents),
        |n AS (SELECT doc_id, ws, len(ws) AS n FROM w WHERE len(ws) > 0),
        |c AS (SELECT doc_id, unnest(list_transform(
        |        range(0, greatest(CAST(ceil((n - 8)/56.0) AS BIGINT), 1)),
        |        i -> struct_pack(ci := i,
        |               t := array_to_string(list_slice(ws, i*56+1, i*56+64), ' '),
        |               nt := len(list_slice(ws, i*56+1, i*56+64))))) AS ch
        |      FROM n)
        |SELECT doc_id, CAST(ch.ci AS BIGINT) AS chunk_index, ch.t AS chunk_text,
        |       CAST(ch.nt AS BIGINT) AS n_tokens
        |FROM c WHERE ch.nt > 0 ORDER BY 1, 2""".stripMargin,
    "warc_extract" ->
      """SELECT CAST(doc_id AS VARCHAR) AS source, CAST(0 AS INT) AS record_ord,
        |       'warcinfo' AS warc_type,
        |       '<urn:uuid:00000000-0000-0000-0000-' || lpad(CAST(doc_id AS VARCHAR), 12, '0') || '>' AS record_id,
        |       CAST(NULL AS VARCHAR) AS target_uri, CAST(NULL AS INT) AS http_status,
        |       CAST(NULL AS VARCHAR) AS http_content_type,
        |       'software: graft/0.6' || chr(13) || chr(10) ||
        |         'hostname: crawler-' || CAST(doc_id % 7 AS VARCHAR) || chr(13) || chr(10) AS body
        |FROM documents
        |UNION ALL
        |SELECT CAST(doc_id AS VARCHAR), CAST(1 AS INT), 'response',
        |       '<urn:uuid:00000000-0000-0000-0001-' || lpad(CAST(doc_id AS VARCHAR), 12, '0') || '>',
        |       'http://example.org/doc/' || CAST(doc_id AS VARCHAR), CAST(200 AS INT),
        |       'text/html; charset=utf-8', text
        |FROM documents
        |ORDER BY 1, 2""".stripMargin,
    "html_extract" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    '<!DOCTYPE html>' || chr(10) || '<html>' || chr(10) || '<head>' || chr(10) ||
        |    '<title>Doc ' || CAST(doc_id AS VARCHAR) || ' &amp; friends</title>' || chr(10) ||
        |    '<style>body { color: #333; }</style>' || chr(10) ||
        |    '<script type="text/javascript">var x = "<p>not text</p>"; if (1 < 2) { x = x + "&amp;"; }</script>' || chr(10) ||
        |    '</head>' || chr(10) || '<body>' || chr(10) ||
        |    '<nav><a href="/home">Home</a> <a href="/about">About</a></nav>' || chr(10) ||
        |    '<!-- rendered by crawler ' || CAST(doc_id % 7 AS VARCHAR) || ' -->' || chr(10) ||
        |    '<h1>Document ' || CAST(doc_id AS VARCHAR) || '</h1>' || chr(10) ||
        |    '<p>' || text || '</p>' || chr(10) ||
        |    '<p>Tags: &lt;b&gt;bold&lt;/b&gt; &quot;quoted&quot; &#39;s &nbsp;end</p>' || chr(10) ||
        |    '<footer><a href="/tos">Terms</a></footer>' || chr(10) || '</body>' || chr(10) || '</html>' AS html
        |  FROM documents),
        |x AS (
        |  SELECT doc_id, html,
        |    trim(regexp_replace(
        |      replace(replace(replace(replace(replace(replace(
        |        regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
        |          '(?s)<!--.*?-->', ' ', 'g'),
        |          '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |          '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |          '(?s)<[^>]*>', ' ', 'g'),
        |        '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
        |      '[ \t\r\n]+', ' ', 'g')) AS txt
        |  FROM h)
        |SELECT doc_id,
        |  regexp_extract(html, '(?is)<title[^>]*>(.*?)</title>', 1) AS title,
        |  txt AS text,
        |  CAST(len(regexp_extract_all(html, '(?i)<a[ \t\r\n>]')) AS INT) AS n_links,
        |  round(CAST(length(txt) AS DOUBLE) / CAST(length(html) AS DOUBLE), 6) AS text_ratio
        |FROM x ORDER BY 1""".stripMargin,
    "dedup_keep" ->
      s"""WITH RECURSIVE $MhPairCtes,
        |prs AS (SELECT id_a, id_b FROM cand
        |        WHERE round(len(list_filter(range(1, 33), i -> sig_a[i] = sig_b[i])) / 32.0, 6) >= 0.3),
        |e AS (SELECT id_a AS u, id_b AS v FROM prs UNION ALL SELECT id_b, id_a FROM prs),
        |reach(a, b) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.a, e.v FROM reach r JOIN e ON e.u = r.b),
        |cl AS (SELECT a AS doc_id, min(b) AS cluster FROM reach GROUP BY a),
        |sel AS (SELECT cl.cluster, d.doc_id, d.n_chars,
        |          row_number() OVER (PARTITION BY cl.cluster ORDER BY d.n_chars DESC, d.doc_id) AS rn,
        |          count(*) OVER (PARTITION BY cl.cluster) AS nd
        |        FROM cl JOIN documents d USING (doc_id))
        |SELECT cluster, doc_id AS kept_id, CAST(nd AS BIGINT) AS n_docs,
        |       CAST(n_chars AS BIGINT) AS best_chars
        |FROM sel WHERE rn = 1 ORDER BY cluster""".stripMargin,
    "doc_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE ((list_sum(list_transform(range(0,10), j ->
        |         (strpos('0123456789abcdef', substr(md5('mix1|' || doc_id), 1+j, 1))-1)::BIGINT
        |           * ([68719476736,4294967296,268435456,16777216,1048576,65536,4096,256,16,1])[j+1]))::DOUBLE + 0.5)
        |       / 1099511627776.0)
        |      < (CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.2 ELSE 0.05 END)
        |ORDER BY doc_id""".stripMargin,
    "dedup_minhash" ->
      s"""WITH $MhPairCtes
        |SELECT id_a, id_b,
        |       round(len(list_filter(range(1, 33), i -> sig_a[i] = sig_b[i])) / 32.0, 6) AS est_jaccard
        |FROM cand
        |WHERE round(len(list_filter(range(1, 33), i -> sig_a[i] = sig_b[i])) / 32.0, 6) >= 0.3
        |ORDER BY 1, 2""".stripMargin,
    "dedup_clusters" ->
      s"""WITH RECURSIVE $MhPairCtes,
        |prs AS (SELECT id_a, id_b FROM cand
        |        WHERE round(len(list_filter(range(1, 33), i -> sig_a[i] = sig_b[i])) / 32.0, 6) >= 0.3),
        |e AS (SELECT id_a AS u, id_b AS v FROM prs UNION ALL SELECT id_b, id_a FROM prs),
        |reach(a, b) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.a, e.v FROM reach r JOIN e ON e.u = r.b)
        |SELECT a AS doc_id, min(b) AS cluster FROM reach GROUP BY a ORDER BY 1""".stripMargin,
    "dedup_simhash" ->
      """WITH tk AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
        |                                  x -> len(x) > 0)) AS tok FROM documents),
        |th AS (SELECT doc_id, CAST(list_sum(list_transform(range(1,16), j -> (strpos('0123456789abcdef', substr(md5(tok),j,1))-1)::BIGINT * ([72057594037927936,4503599627370496,281474976710656,17592186044416,1099511627776,68719476736,4294967296,268435456,16777216,1048576,65536,4096,256,16,1])[j])) AS BIGINT) AS h FROM tk),
        |votes AS (SELECT doc_id, i, sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |          FROM th, range(0, 60) t(i) GROUP BY 1, 2),
        |shh AS (SELECT doc_id, CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS s
        |        FROM votes GROUP BY 1),
        |ch AS (SELECT doc_id, s, c, (s >> CAST(c*15 AS INT)) & 32767 AS ck FROM shh, range(0, 4) t(c)),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, a.s AS sa, b.doc_id AS id_b, b.s AS sb
        |         FROM ch a JOIN ch b ON a.c = b.c AND a.ck = b.ck AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INT) AS dist
        |FROM cand WHERE bit_count(xor(sa, sb)) <= 16 ORDER BY 1, 2""".stripMargin,
    "dedup_decontaminate" ->
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
        |                             x -> len(x) > 0) AS ws
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, unnest(list_transform(range(1, greatest(len(ws) - 1, 1)),
        |                                 i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS tok
        |  FROM w WHERE len(ws) >= 3)
        |SELECT t.doc_id AS train_id,
        |       count(DISTINCT e.doc_id) AS n_eval_docs,
        |       count(DISTINCT t.tok) AS n_shared_shingles,
        |       min(e.doc_id) AS top_eval_id
        |FROM sh t JOIN sh e ON t.tok = e.tok
        |WHERE t.doc_id % 37 != 0 AND e.doc_id % 37 = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "ann_ivf" ->
      """SELECT vec_id,
        |       round(list_cosine_similarity(embedding::DOUBLE[],
        |             (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)), 6) AS sim
        |FROM embeddings WHERE vec_id != 0
        |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,
    "ann_ivf_batch" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id IN (0, 1, 2)),
        |s AS (SELECT q.query_id, e.vec_id,
        |        round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) AS sim,
        |        row_number() OVER (PARTITION BY q.query_id
        |          ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) DESC,
        |                   e.vec_id) AS rn
        |      FROM embeddings e JOIN q ON e.vec_id != q.query_id)
        |SELECT query_id, vec_id, sim FROM s WHERE rn <= 10
        |ORDER BY query_id, sim DESC, vec_id""".stripMargin,
    "ann_cosine_batch" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id IN (3, 4, 5)),
        |s AS (SELECT q.query_id, e.vec_id,
        |        round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) AS sim,
        |        row_number() OVER (PARTITION BY q.query_id
        |          ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) DESC,
        |                   e.vec_id) AS rn
        |      FROM embeddings e JOIN q ON e.vec_id != q.query_id)
        |SELECT query_id, vec_id, sim FROM s WHERE rn <= 10
        |ORDER BY query_id, sim DESC, vec_id""".stripMargin,
    "ann_lsh_batch" ->
      """WITH planes AS (SELECT p, list_transform(range(0, 64), i -> CASE WHEN ((strpos('0123456789abcdef', substr(md5(p || '_' || i), 32, 1))-1) % 2) = 0 THEN 1.0 ELSE -1.0 END) AS s FROM range(0, 6) t(p)),
        |projs AS (SELECT e.vec_id, pl.p,
        |            list_sum(list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * pl.s[i])) AS proj
        |          FROM embeddings e, planes pl),
        |sigs AS (SELECT vec_id, CAST(sum(CASE WHEN proj >= 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS sig
        |         FROM projs GROUP BY 1),
        |q AS (SELECT vec_id AS query_id, sig AS qsig FROM sigs WHERE vec_id IN (0, 1, 2)),
        |probes AS (SELECT DISTINCT q.query_id, xor(q.qsig, t.m) AS sig
        |           FROM q, (SELECT unnest([0,1,2,4,8,16,32]) AS m) t),
        |qv AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
        |       FROM embeddings WHERE vec_id IN (0, 1, 2)),
        |sc AS (SELECT p.query_id, e.vec_id,
        |         round(list_cosine_similarity(e.embedding::DOUBLE[], qv.qvec), 6) AS sim,
        |         row_number() OVER (PARTITION BY p.query_id
        |           ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], qv.qvec), 6) DESC,
        |                    e.vec_id) AS rn
        |       FROM embeddings e JOIN sigs s ON s.vec_id = e.vec_id
        |            JOIN probes p ON s.sig = p.sig
        |            JOIN qv ON qv.query_id = p.query_id
        |       WHERE e.vec_id != p.query_id)
        |SELECT query_id, vec_id, sim FROM sc WHERE rn <= 10
        |ORDER BY query_id, sim DESC, vec_id""".stripMargin,
    "ann_lsh" ->
      """WITH planes AS (SELECT p, list_transform(range(0, 64), i -> CASE WHEN ((strpos('0123456789abcdef', substr(md5(p || '_' || i), 32, 1))-1) % 2) = 0 THEN 1.0 ELSE -1.0 END) AS s FROM range(0, 6) t(p)),
        |projs AS (SELECT e.vec_id, pl.p,
        |            list_sum(list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * pl.s[i])) AS proj
        |          FROM embeddings e, planes pl),
        |sigs AS (SELECT vec_id, CAST(sum(CASE WHEN proj >= 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS sig
        |         FROM projs GROUP BY 1),
        |q AS (SELECT sig AS qsig FROM sigs WHERE vec_id = 0),
        |probes AS (SELECT DISTINCT xor(qsig, m) AS sig
        |           FROM q, (SELECT unnest([0,1,2,4,8,16,32]) AS m)),
        |qv AS (SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id, round(list_cosine_similarity(e.embedding::DOUBLE[], qv.qvec), 6) AS sim
        |FROM embeddings e JOIN sigs s ON s.vec_id = e.vec_id JOIN probes p ON s.sig = p.sig, qv
        |WHERE e.vec_id != 0
        |ORDER BY sim DESC, e.vec_id LIMIT 10""".stripMargin,
    "emb_near_dup" ->
      """WITH planes AS (SELECT p, list_transform(range(0, 64), i -> CASE WHEN ((strpos('0123456789abcdef', substr(md5(p || '_' || i), 32, 1))-1) % 2) = 0 THEN 1.0 ELSE -1.0 END) AS s FROM range(0, 8) t(p)),
        |projs AS (SELECT e.vec_id, pl.p,
        |            list_sum(list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * pl.s[i])) AS proj
        |          FROM embeddings e, planes pl),
        |sigs AS (SELECT vec_id, CAST(sum(CASE WHEN proj >= 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS sig
        |         FROM projs GROUP BY 1),
        |j AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |        round(list_cosine_similarity(
        |          (SELECT embedding::DOUBLE[] FROM embeddings x WHERE x.vec_id = a.vec_id),
        |          (SELECT embedding::DOUBLE[] FROM embeddings y WHERE y.vec_id = b.vec_id)), 6) AS sim
        |      FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.vec_id < b.vec_id)
        |SELECT id_a, id_b, sim FROM j WHERE sim >= 0.3 ORDER BY 1, 2""".stripMargin,
    // Wind farm: the oracle regenerates series w4 (A1 @ Wind Mountain, the
    // only series either query's FILTER selects) with the same portable
    // numerics as WindFarmGen, so the whole SPARQL pipeline — 17-pattern
    // BGP, dateTime range filter, date-part BINDs, grouping — verifies
    // against an independent reconstruction.
    "windfarm_production" ->
      s"""WITH $WfOracleWalk
         |SELECT 'Wind Mountain' AS site_label, 'A1' AS wtur_label,
         |  printf('2022-08-29T00:%02d:%02d', s // 6, (s % 6) * 10) AS t,
         |  CAST(val AS DOUBLE) AS val
         |FROM wk WHERE s < 10 ORDER BY t, val""".stripMargin,
    "windfarm_grouped_prod" ->
      s"""WITH $WfOracleWalk,
         |win AS (SELECT (s - 8640) * 10 AS sec, val FROM wk
         |        WHERE s >= 8640 AND s < 17280),  -- day index 1 = 2022-08-30
         |agg AS (SELECT CAST(sec // 3600 AS BIGINT) AS hour,
         |               CAST(((sec % 3600) // 60) // 10 * 10 AS BIGINT) AS minute_10,
         |               round(avg(val), 4) AS avg_val
         |        FROM win WHERE sec >= 31613 AND sec <= 78413 GROUP BY 1, 2)
         |SELECT 'Wind Mountain' AS site_label, 'A1' AS wtur_label,
         |  CAST(2022 AS BIGINT) AS year, CAST(8 AS BIGINT) AS month,
         |  CAST(30 AS BIGINT) AS day, hour, minute_10, avg_val
         |FROM agg ORDER BY hour, minute_10 LIMIT 10""".stripMargin,
    // gq2's LIMIT-10 result equals gq1's (A1 sorts first and fills the
    // limit) — same oracle, different engine plan under test
    "windfarm_grouped_multi" ->
      s"""WITH $WfOracleWalk,
         |win AS (SELECT (s - 8640) * 10 AS sec, val FROM wk
         |        WHERE s >= 8640 AND s < 17280),
         |agg AS (SELECT CAST(sec // 3600 AS BIGINT) AS hour,
         |               CAST(((sec % 3600) // 60) // 10 * 10 AS BIGINT) AS minute_10,
         |               round(avg(val), 4) AS avg_val
         |        FROM win WHERE sec >= 31613 AND sec <= 78413 GROUP BY 1, 2)
         |SELECT 'Wind Mountain' AS site_label, 'A1' AS wtur_label,
         |  CAST(2022 AS BIGINT) AS year, CAST(8 AS BIGINT) AS month,
         |  CAST(30 AS BIGINT) AS day, hour, minute_10, avg_val
         |FROM agg ORDER BY hour, minute_10 LIMIT 10""".stripMargin)
}
