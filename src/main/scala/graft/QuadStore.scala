package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.encoding.TermCols
import graft.engine.Graft
import graft.model._
import graft.sources.{NTriples, Turtle}

/**
 * Public store facade — the Spark counterpart of the reference's `Store`
 * (/root/reference/lib/rdf-fusion/src/store.rs): load RDF files, persist to
 * Parquet, run SPARQL, scan patterns, manage named graphs.
 *
 * Immutable-value style: mutating operations return a new QuadStore over the
 * updated quads DataFrame (Spark DataFrames are immutable; "snapshot
 * isolation" — mem_storage.rs:67-74 — falls out for free: each store value
 * is one immutable snapshot). A snapshot carries its registered graphs and
 * its plan-growth weight — how many times its uncut update lineage embeds
 * the last pinned plan — so chained [[update]] calls cut lineage by
 * accumulated weight whoever chains them (see [[graft.engine.UpdateExec]]).
 *
 * Persistence layout: Parquet sorted by (predicate, subject, object) lexical
 * values — the virtual analogue of the reference's GSPO/GPOS/GOSP permutation
 * indexes (lib/storage/src/memory/storage/quad_index.rs): one sorted copy
 * gives selective min/max row-group pruning for the dominant access path
 * (bound predicate), and the driver's column pruning handles the rest.
 */
final class QuadStore private (val quads: DataFrame,
                               registered: Set[RdfTerm] = Set.empty,
                               private[graft] val weight: Long = 1L) {

  private def spark: SparkSession = quads.sparkSession
  private lazy val engine = Graft(quads)

  // ----------------------------------------------------------------- queries

  /** Any SPARQL query form (reference store.rs:171-235). */
  def query(sparql: String): DataFrame = engine.query(sparql)
  def select(sparql: String): DataFrame = engine.select(sparql)
  def ask(sparql: String): Boolean = engine.askBoolean(sparql)

  /** Planner output for a query — the counterpart of the reference's
    * Store::explain_query_opt (store.rs:237-270), which returns the logical
    * and execution plans; here both come from Catalyst's explain modes
    * ("simple" | "extended" | "formatted" | "cost" | "codegen"). */
  def explain(sparql: String, mode: String = "formatted"): String =
    query(sparql).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString(mode))

  /** Build, plan and run a query once, and report where its time and Spark
    * work went (see [[graft.obs.QueryProfile]]). */
  def profile(sparql: String): graft.obs.QueryProfile =
    graft.obs.QueryProfile.of(spark)(query(sparql))

  /**
   * Programmatic pattern scan (reference Store::quads_for_pattern,
   * store.rs:272-307): None = wildcard. Field-level predicates keep parquet
   * pushdown effective.
   */
  def quadsForPattern(graph: Option[Option[RdfTerm]] = None, subject: Option[RdfTerm] = None,
                      predicate: Option[RdfTerm] = None, obj: Option[RdfTerm] = None): DataFrame = {
    var df = quads
    graph.foreach {
      case None => df = df.filter(col("graph").isNull)
      case Some(g) => df = df.filter(QuadStore.termEq(col("graph"), g))
    }
    subject.foreach(t => df = df.filter(QuadStore.termEq(col("subject"), t)))
    predicate.foreach(t => df = df.filter(QuadStore.termEq(col("predicate"), t)))
    obj.foreach(t => df = df.filter(QuadStore.termEq(col("object"), t)))
    df
  }

  def count(): Long = quads.count()
  def isEmpty: Boolean = quads.isEmpty

  /** Whether the store contains this exact quad (reference Store::contains,
    * store.rs:332-359). */
  def contains(q: RdfQuad): Boolean =
    !quadsForPattern(Some(q.graph), Some(q.subject), Some(q.predicate), Some(q.obj)).isEmpty

  /** Distinct named-graph terms, including graphs registered empty via
    * [[insertNamedGraph]]/[[clearGraph]] (reference Store::named_graphs). */
  def namedGraphs(): DataFrame = {
    val inData = quads.filter(col("graph").isNotNull).select(col("graph")).dropDuplicates()
    if (registered.isEmpty) inData
    else inData.unionAll(Turtle.quadsToDF(spark,
        registered.toSeq.map(g => RdfQuad(Some(g), g, Iri("urn:graft:reg"), g)))
      .select(col("graph"))).dropDuplicates()
  }

  /** Whether `g` exists as a named graph — non-empty or registered empty
    * (reference Store::contains_named_graph, store.rs:678-688). */
  def containsNamedGraph(g: RdfTerm): Boolean =
    registered.contains(g) ||
      !quads.filter(QuadStore.termEq(col("graph"), g)).isEmpty

  // ---------------------------------------------------------------- mutation

  /**
   * SPARQL 1.1 Update: INSERT/DELETE DATA, DELETE WHERE, DELETE-INSERT-WHERE
   * (incl. WITH/USING), LOAD, CLEAR, DROP, CREATE, ADD, MOVE, COPY —
   * ';'-separated operations applied in order. Returns the updated store
   * (immutable-value style; the previous snapshot stays queryable). The
   * reference stubs this surface entirely (store.rs:409-414,
   * `unimplemented!()` "TODO #7: Implement Update") — here it executes.
   */
  def update(sparql: String): QuadStore = graft.engine.UpdateExec(this, sparql)

  /** Update with the protocol's using-graph-uri / using-named-graph-uri
    * dataset (errors if the request also carries USING clauses). */
  def update(sparql: String, usingDefault: Seq[RdfTerm], usingNamed: Seq[RdfTerm]): QuadStore =
    graft.engine.UpdateExec(this, sparql,
      usingDefault.collect { case i: Iri => i }, usingNamed.collect { case i: Iri => i })

  private[graft] def reg: Set[RdfTerm] = registered
  /** The same snapshot over other quads; the plan-growth weight carries over. */
  private[graft] def withQuads(df: DataFrame, reg2: Set[RdfTerm] = registered): QuadStore =
    new QuadStore(df, reg2, weight)
  private[graft] def withWeight(w: Long): QuadStore = new QuadStore(quads, registered, w)

  /** Pin the quads (one job), cutting their lineage: the pinned plan is one
    * leaf again, so the plan-growth weight resets to 1. */
  private[graft] def cutLineage(): QuadStore =
    new QuadStore(quads.localCheckpoint(), registered, 1L)

  /** Add quads from another DataFrame (reference Store::extend). */
  def union(other: DataFrame): QuadStore = withQuads(quads.unionByName(other))

  def insert(qs: Seq[RdfQuad]): QuadStore =
    union(Turtle.quadsToDF(spark, qs))

  /** Register a (possibly empty) named graph (reference
    * Store::insert_named_graph, store.rs:710-738). Immutable-value style:
    * returns the new store; "was it new" = !containsNamedGraph before. */
  def insertNamedGraph(g: RdfTerm): QuadStore =
    withQuads(quads, registered + g)

  /** Empty a graph but keep it in [[namedGraphs]] (reference
    * Store::clear_graph, store.rs:740-766: after clear_graph the graph still
    * lists). `None` = default graph (which is never listed). */
  def clearGraph(g: Option[RdfTerm]): QuadStore = g match {
    case None => withQuads(quads.filter(col("graph").isNotNull))
    case Some(t) =>
      withQuads(
        quads.filter(!coalesce(QuadStore.termEq(col("graph"), t), lit(false))),
        registered + t)
  }

  /** Drop a named graph and its quads entirely (reference
    * Store::remove_named_graph, store.rs:769-796). */
  def removeNamedGraph(g: RdfTerm): QuadStore =
    withQuads(
      quads.filter(!coalesce(QuadStore.termEq(col("graph"), g), lit(false))),
      registered - g)

  /** Remove all quads matching the given components (reference Store::remove
    * / clear_graph / remove_named_graph). */
  def remove(graph: Option[Option[RdfTerm]] = None, subject: Option[RdfTerm] = None,
             predicate: Option[RdfTerm] = None, obj: Option[RdfTerm] = None): QuadStore = {
    var cond: Column = lit(true)
    graph.foreach {
      case None => cond = cond && col("graph").isNull
      case Some(g) => cond = cond && QuadStore.termEq(col("graph"), g)
    }
    subject.foreach(t => cond = cond && QuadStore.termEq(col("subject"), t))
    predicate.foreach(t => cond = cond && QuadStore.termEq(col("predicate"), t))
    obj.foreach(t => cond = cond && QuadStore.termEq(col("object"), t))
    // graph existence survives quad removal (oxigraph/reference semantics);
    // a graph-targeted remove registers the now-possibly-empty graph
    val reg2 = graph match {
      case Some(Some(g)) => registered + g
      case _ => registered
    }
    // null-safe negation: termEq on a NULL graph struct is NULL, and
    // filter(!NULL) would silently drop every default-graph quad
    withQuads(quads.filter(!coalesce(cond, lit(false))), reg2)
  }

  /** Remove everything, graphs included (reference Store::clear). */
  def clear(): QuadStore = withQuads(quads.limit(0), Set.empty)

  // ------------------------------------------------------------- persistence

  /** Persist as Parquet clustered for pattern scans (reference parquet
    * persistence: lib/storage/src/memory/persistence/parquet.rs:28-60 —
    * flat PlainTerm quads file).
    *
    * Layout = range-repartition by (predicate, subject) THEN sort within
    * partitions: the repartition gives FILE-level predicate locality (a
    * bound-predicate scan opens only the files whose range covers that
    * predicate — without it every file contains every predicate and each
    * scan opens all of them), the sort gives ROW-GROUP-level min/max
    * pruning inside each file plus subject clustering for the dominant
    * (p,s)-bound access. One shuffle at write time, paid once for a
    * read-many store — the virtual analogue of the reference's GSPO/GPOS
    * permutation indexes. Skew is handled by the range partitioner itself:
    * a hot predicate spans several partitions split by subject (the key
    * includes subject), so write parallelism survives Zipfian predicates. */
  def save(path: String, partitions: Int = 0): Unit = {
    val base =
      if (partitions > 0)
        quads.repartitionByRange(partitions, col("predicate.v"), col("subject.v"))
      else quads.repartitionByRange(col("predicate.v"), col("subject.v"))
    base
      .sortWithinPartitions(col("predicate.v"), col("subject.v"), col("object.v"))
      .write.mode("overwrite").parquet(path)
  }

  /**
   * Predicate-partitioned persistence: one parquet DIRECTORY per predicate
   * IRI (predicates are always IRIs), subjects range-clustered + sorted
   * inside. A bound-predicate scan then does directory-level PARTITION
   * pruning — on a 100 TB store, listing one directory instead of reading
   * row-group footers across the whole dataset; the dominant access path
   * (bound predicate) becomes O(that predicate's data). [[QuadStore.load]]
   * rebuilds the predicate struct from the partition column, and Catalyst's
   * SimplifyExtractValueOps folds the Rewriter's `predicate.v = iri` filters
   * straight onto the partition column, so pruning engages with no engine
   * changes. Use for stores with a bounded predicate vocabulary (the usual
   * RDF shape); [[save]] remains the layout for open-ended vocabularies.
   */
  def saveByPredicate(path: String): Unit = {
    // an empty partitioned write emits no files (schema unrecoverable on
    // load) — persist the empty store through the flat layout instead
    if (quads.isEmpty) return save(path)
    quads
      .withColumn("__pv", col("predicate.v"))
      .repartitionByRange(col("predicate.v"), col("subject.v"))
      .sortWithinPartitions(col("subject.v"), col("object.v"))
      .drop("predicate")
      .write.mode("overwrite").partitionBy("__pv").parquet(path)
  }

  /** Serialise to N-Quads text files (reference Store::dump_to_writer). */
  def dumpNQuads(path: String): Unit =
    NTriples.toNQuadLines(quads).write.mode("overwrite").text(path)

  /** Serialise ONE graph's triples to N-Triples text files (reference
    * Store::dump_graph_to_writer, store.rs:624-639: a pattern scan of the
    * graph serialised as triples). `None` = default graph. */
  def dumpGraph(path: String, graph: Option[RdfTerm]): Unit = {
    NTriples.toNQuadLines(quadsForPattern(graph = Some(graph)).drop("graph"))
      .write.mode("overwrite").text(path)
  }

  /** Serialise the default graph to Turtle (errors if named graphs exist —
    * Turtle is a triple format; same contract as the reference's dump). */
  def dumpTurtle(path: String): Unit = {
    require(quads.filter(col("graph").isNotNull).isEmpty,
      "dataset has named graphs; use dumpTriG or dumpNQuads")
    sources.RdfWriters.turtleLines(quads).write.mode("overwrite").text(path)
  }

  /** Serialise the full dataset to TriG. */
  def dumpTriG(path: String): Unit =
    sources.RdfWriters.trigLines(quads).write.mode("overwrite").text(path)

  /** Serialise the default graph to RDF/XML (each partition file is a
    * complete document with its own envelope). */
  def dumpRdfXml(path: String): Unit = {
    require(quads.filter(col("graph").isNotNull).isEmpty,
      "dataset has named graphs; use dumpTriG or dumpNQuads")
    sources.RdfWriters.rdfXmlLines(quads).write.mode("overwrite").text(path)
  }
}

object QuadStore {

  def apply(quads: DataFrame): QuadStore = new QuadStore(quads)

  def empty(spark: SparkSession): QuadStore =
    new QuadStore(Turtle.quadsToDF(spark, Nil))

  /** Restore from [[QuadStore#save]] or [[QuadStore#saveByPredicate]]
    * output (auto-detected by the presence of the partition column). */
  def load(spark: SparkSession, path: String): QuadStore = {
    val raw = spark.read.parquet(path)
    if (raw.columns.contains("__pv")) {
      val df = raw
        .withColumn("predicate", TermCols.iri(col("__pv")))
        .select("graph", "subject", "predicate", "object")
      new QuadStore(df)
    } else
      new QuadStore(spark.read.schema(NTriples.quadSchema).parquet(path))
  }

  /** Load RDF files by extension: .nt/.nq line-parallel, .ttl/.trig/.n3
    * driver-parsed (.n3: Turtle-compatible subset — no formulas), .rdf/.owl
    * RDF/XML via StAX (reference Store::load_from_reader, store.rs:477-514;
    * formats via oxrdfio, Cargo.toml:82-85). */
  def loadFile(spark: SparkSession, path: String): QuadStore = {
    val lower = path.toLowerCase
    val df =
      if (lower.endsWith(".ttl") || lower.endsWith(".trig") || lower.endsWith(".n3"))
        Turtle.read(spark, path)
      else if (lower.endsWith(".rdf") || lower.endsWith(".owl") || lower.endsWith(".xml"))
        graft.sources.RdfXml.read(spark, path)
      else NTriples.read(spark, path, quads = lower.endsWith(".nq"))
    new QuadStore(df)
  }

  private[graft] def termEq(c: Column, t: RdfTerm): Column = t match {
    case Iri(v) => c.getField("t") === TermType.Iri && c.getField("v") === v
    case BNode(v) => c.getField("t") === TermType.BlankNode && c.getField("v") === v
    case Lit(v, dt, lang) =>
      val dtCanon = if (lang.isEmpty && (dt == null || dt == Xsd.string)) null
                    else if (lang.isDefined) Rdf.langString else dt
      c.getField("t") === TermType.Literal && c.getField("v") === v &&
        c.getField("dt") <=> lit(dtCanon) && c.getField("lang") <=> lit(lang.orNull)
  }
}
