package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.encoding.TermCols
import graft.model._
import graft.sparql.{Algebra, SparqlParser}
import graft.sparql.Algebra._

/**
 * Public query facade over a quads DataFrame — the Spark counterpart of the
 * reference's `Store` (/root/reference/lib/rdf-fusion/src/store.rs:171-235)
 * with query evaluation per lib/execution/src/sparql/eval.rs:24-133.
 *
 * Construction is cheap; `Graft(quads)` wraps any DataFrame with the quad
 * schema (graph | subject | predicate | object as PlainTerm structs).
 */
final class Graft(val quads: DataFrame, val star: Option[StarSource] = None,
                  fuseStars: Boolean = true, compatUnion: Boolean = true) {
  graft.geo.GeoFunctions.register() // idempotent; `new Graft` must work too
  private val spark: SparkSession = quads.sparkSession

  /** SELECT → DataFrame of PlainTerm structs, one column per variable. */
  def select(text: String): DataFrame = SparqlParser.parse(text) match {
    case q: SelectQuery => selectQuery(q)
    case other => throw new IllegalArgumentException(s"not a SELECT query: ${other.getClass.getSimpleName}")
  }

  /** Any query form, dispatched. */
  def query(text: String): DataFrame = SparqlParser.parse(text) match {
    case q: SelectQuery => selectQuery(q)
    case q: AskQuery => ask(q)
    case q: ConstructQuery => construct(q)
    case q: DescribeQuery => describe(q)
  }

  /** Catalyst plans for a query (same contract as QuadStore.explain). */
  def explain(text: String, mode: String = "formatted"): String =
    query(text).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString(mode))

  def askBoolean(text: String): Boolean = SparqlParser.parse(text) match {
    case q: AskQuery =>
      val (rewriter, scope) = rewriterFor(q.fromDefault, q.fromNamed)
      !rewriter.pattern(q.where, scope).df.isEmpty
    case other => throw new IllegalArgumentException(s"not an ASK query: $other")
  }

  /** The rewriter for a query's dataset clause, with the scope of its
    * default graph. Spec §13.2 dataset construction: FROM merges listed
    * graphs into the default; FROM NAMED without FROM leaves the default
    * graph EMPTY (a dataset description replaces the store dataset, never
    * extends it). */
  private def rewriterFor(from: Seq[Iri], fromNamed: Seq[Iri]): (Rewriter, GraphScope) = {
    val scope =
      if (from.nonEmpty) GraphScope.UnionOf(from.map(_.value))
      else if (fromNamed.nonEmpty) GraphScope.UnionOf(Nil)
      else GraphScope.DefaultGraph
    (new Rewriter(spark, quads, fromNamed.map(_.value), star, fuseStars, compatUnion,
      hasDatasetClause = from.nonEmpty || fromNamed.nonEmpty), scope)
  }

  private def selectQuery(q: SelectQuery): DataFrame = {
    val (rewriter, scope) = rewriterFor(q.fromDefault, q.fromNamed)
    rewriter.select(q, scope).df
  }

  /** ASK → single row, single boolean column (reference eval.rs:73-86). */
  private def ask(q: AskQuery): DataFrame = {
    val (rewriter, scope) = rewriterFor(q.fromDefault, q.fromNamed)
    val p = rewriter.pattern(q.where, scope)
    p.df.limit(1).select(lit(1).as("one")).groupBy().count()
      .select((col("count") > 0).as("ask"))
  }

  /**
   * CONSTRUCT: instantiate the template per solution, union templates, drop
   * incomplete/illegal triples, dedup (reference QueryTripleStream,
   * lib/execution/src/results/triples.rs; template application eval.rs:54-72).
   * Template blank nodes are scoped per-solution via a row id.
   */
  private def construct(q: ConstructQuery): DataFrame = {
    val (rewriter, scope) = rewriterFor(q.fromDefault, q.fromNamed)
    val plan = rewriter.select(
      SelectQuery(Nil, distinct = false, reduced = false, q.where, Nil, None,
        q.orderBy, q.offset, q.limit, q.fromDefault, q.fromNamed, q.base, q.prefixes), scope)
    val hasBnodes = q.template.exists(t =>
      Seq(t.s, t.p, t.o).exists(_.isInstanceOf[BNodePat]))
    // Pin row ids when the template mints bnodes: the per-template selects
    // re-evaluate the solution plan, and monotonically_increasing_id is
    // partition-layout-dependent — without the pin two evaluations (or two
    // actions on the constructed graph) could deal different ids to the
    // same solution, breaking bnode co-reference across templates.
    val stamped = plan.df.withColumn("__row", monotonically_increasing_id())
    val df = if (hasBnodes) Deferred(stamped, "construct-rows") else stamped
    val inScope = plan.vars.toSet
    def slot(tp: TermPattern): Column = tp match {
      case VarPat(v) => if (inScope(v.name)) col(v.name) else TermCols.nullTerm
      case TermPat(t) => ExprCompiler.termLit(t)
      case BNodePat(l) =>
        TermCols.bnode(concat(lit(l + "_"), col("__row").cast(StringType)))
    }
    val parts = q.template.map { t =>
      df.select(slot(t.s).as("subject"), slot(t.p).as("predicate"), slot(t.o).as("object"))
    }
    val all = parts.reduce(_ unionAll _)
    all.filter(col("subject").isNotNull && col("predicate").isNotNull && col("object").isNotNull &&
        col("subject.t") =!= TermType.Literal && col("predicate.t") === TermType.Iri)
      .dropDuplicates()
  }

  /** DESCRIBE: Concise Bounded Description — outgoing triples of the matched
    * terms, recursively following blank-node objects to fixpoint
    * (reference eval.rs:87-131). The bnode frontier shrinks each round, so
    * the loop is bounded by the deepest bnode chain. The loop runs its jobs
    * when the description first executes ([[Deferred]]), not while the
    * query is built. */
  private def describe(q: DescribeQuery): DataFrame = {
    val (rewriter, scope) = rewriterFor(q.fromDefault, q.fromNamed)
    val targets0: DataFrame = q.where match {
      case Some(w) =>
        val p = rewriter.pattern(w, scope)
        // DESCRIBE * = all in-scope variables
        val wanted = if (q.targets.isEmpty) p.vars.map(Var(_)).map(VarPat(_)) else q.targets
        val cols = wanted.collect { case VarPat(v) if p.vars.contains(v.name) => col(v.name) }
        if (cols.isEmpty) throw new IllegalArgumentException("DESCRIBE vars not in WHERE")
        cols.map(c => p.df.select(c.as("node"))).reduce(_ unionAll _).dropDuplicates()
      case None =>
        val iris = q.targets.collect { case TermPat(t) => t }
        spark.createDataFrame(
          spark.sparkContext.parallelize(iris.map(t => org.apache.spark.sql.Row(graft.sources.NTriples.termRow(t))), 1),
          StructType(Seq(StructField("node", TermCols.schema))))
    }
    val dg = quads.filter(col("graph").isNull)
    def outgoing(nodes: DataFrame): DataFrame =
      dg.join(nodes.hint("broadcast"), col("subject") === col("node"))
        .select(col("subject"), col("predicate"), col("object"))
    def bnodes(triples: DataFrame): DataFrame =
      triples.filter(col("object.t") === TermType.BlankNode)
        .select(col("object").as("node")).dropDuplicates().localCheckpoint()
    val first = outgoing(targets0).dropDuplicates()
    Deferred.of(spark, first.schema, "describe") {
      var result = first.localCheckpoint()
      var frontier = bnodes(result)
      while (!frontier.isEmpty) {
        val next = outgoing(frontier).dropDuplicates().exceptAll(result).dropDuplicates().localCheckpoint()
        result = result.unionAll(next).localCheckpoint()
        frontier = bnodes(next)
      }
      result
    }
  }
}

object Graft {
  // extension functions ship registered (reference registers builtins at
  // engine construction, lib/execution/src/engine.rs)
  graft.geo.GeoFunctions.register()

  def apply(quads: DataFrame): Graft = new Graft(quads)
  def apply(quads: DataFrame, star: StarSource): Graft = new Graft(quads, Some(star))
  /** Test/diagnostic entry: star fusion disabled — the naive per-pattern
    * join plan, the semantic reference for the fused paths. */
  def unfused(quads: DataFrame): Graft = new Graft(quads, None, fuseStars = false)
  /** Test/diagnostic entry: compat-union join rewrite disabled — the theta
    * join fallback is the semantic reference for the union rewrite. */
  def thetaCompat(quads: DataFrame): Graft =
    new Graft(quads, None, compatUnion = false)

  /** Decode a PlainTerm-struct result to flat lexical columns (for display
    * and for DuckDB-oracle comparison): each column becomes its term's
    * lexical value as STRING, or a native type when `types` provides one. */
  def decode(df: DataFrame, types: Map[String, DataType] = Map.empty): DataFrame = {
    val cols = df.schema.fields.map { f =>
      val v = TermCols.value(col(f.name))
      types.get(f.name) match {
        case Some(dt) => v.cast(dt).as(f.name)
        case None => v.as(f.name)
      }
    }
    df.select(cols.toSeq: _*)
  }
}
