package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.encoding.TermCols
import graft.model._
import graft.sparql.Algebra._

/**
 * SPARQL algebra → DataFrame rewriter.
 *
 * Mirrors the walk of the reference's GraphPatternRewriter
 * (/root/reference/lib/execution/src/sparql/rewriting/graph_pattern_rewriter.rs:63-236)
 * but emits Catalyst plans *directly* in lowered form — the reference keeps
 * custom logical nodes only so DataFusion's rules can see schemas before
 * lowering (join/rewrite.rs:15-26); we track per-variable nullability in
 * [[SPlan]] during the walk instead, so the fast equi-join path fires without
 * a separate rule pass.
 *
 * Scale notes: every BGP join is a plain equi-join on term-struct columns
 * (hash-partitionable, broadcast-able, AQE-eligible); the compat fallback
 * (nullable shared vars) only triggers where SPARQL semantics require it.
 * Pattern filters are field-level predicates (`subject.v = …`) so parquet
 * row-group pruning and pushdown apply.
 */
final class Rewriter(spark: SparkSession, quads: DataFrame,
                     fromNamed: Seq[String] = Nil,
                     star: Option[StarSource] = None,
                     fuseStars: Boolean = true,
                     compatUnion: Boolean = true,
                     hasDatasetClause: Boolean = false) {

  import GraphScope._
  import Rewriter.termFilter

  /** Named graphs visible to GRAPH patterns (spec §13.2 dataset
    * construction): None = no dataset clause → the store's named graphs;
    * Some(list) = exactly the FROM NAMED list — which is EMPTY when the
    * query has FROM clauses but no FROM NAMED (a dataset description
    * replaces the store dataset wholesale, it does not extend it). */
  private val namedVisible: Option[Seq[String]] =
    if (fromNamed.nonEmpty) Some(fromNamed)
    else if (hasDatasetClause) Some(Nil)
    else None

  private var counter = 0
  private def fresh(p: String): String = { counter += 1; s"__${p}_$counter" }


  /** Project a compiled term expression as a column, materialising complex
    * sub-operands as intermediate columns first (see Env.bind) and dropping
    * them again. Returns the extended frame and the expression's static
    * kind, if derivable. */
  private def withTermColumn(df0: DataFrame, vars: Set[String], kinds: Map[String, Int],
                             name: String, e: Expr,
                             sol: Option[Column] = None): (DataFrame, Option[Int]) = {
    var bdf = df0
    var tmps = List.empty[String]
    val env = ExprCompiler.envOf(vars, kinds, { c =>
      val t = fresh("sub"); bdf = bdf.withColumn(t, c); tmps ::= t; col(t)
    }, sol)
    val compiled = ExprCompiler.term(e, env)
    (bdf.withColumn(name, compiled).drop(tmps: _*), ExprCompiler.bindKind(e, env))
  }

  /** One per-solution uuid column shared by a run of sequential BINDs /
    * select expressions / group-key+aggregate-arg sets, so labeled BNODEs
    * agree within a solution (spec §17.4.2.9). Scope is the RUN, not the
    * whole query: two BIND runs separated by a triple pattern (or a BIND vs
    * a select expression) get distinct nonces, so a labeled bnode is fresh
    * across solutions everywhere, but same-solution identity holds only
    * within one run — a documented approximation (tracking one nonce across
    * joins would force it through every operator's column bookkeeping).
    * Returns (df-with-column, Some(ref)) only when some expression in the
    * run uses the labeled form. */
  private def solNonce(df: DataFrame, exprs: Seq[Expr]): (DataFrame, Option[String]) =
    if (exprs.exists(ExprCompiler.usesLabeledBnode)) {
      val n = fresh("sol"); (df.withColumn(n, expr("uuid()")), Some(n))
    } else (df, None)

  // ================================================================ patterns

  /** `p` in `scope`. Under `corr` (the outer relation and its row-id
    * column) only the cases correlation does not change come here from
    * [[lateralPattern]]: they evaluate their sub-patterns correlated and
    * apply the same operator, a GROUP BY grouping per outer row and a
    * sub-select slicing per outer row. */
  def pattern(p: GraphPattern, scope: GraphScope,
              corr: Option[(SPlan, String)] = None): SPlan = p match {
    case BnodeScope(inner) => eval(inner, scope, corr) // validation marker only
    case Bgp(Nil) => unitPlan
    case Bgp(ps) =>
      // BGP self-joins over the quad relation: sides are similar-sized slices
      // of the same table, where Catalyst's static estimate (post-filter) is
      // unreliable and tends to broadcast half the table. Hint shuffle-hash;
      // genuinely small sides still end up broadcast via AQE when unhinted
      // joins surround this, and shuffle-hash on small data is near-free.
      // EXCEPT: a pattern whose scan partition- or branch-prunes to a
      // provably small relation (Rewriter.statSmall — predicate-partitioned
      // store directory, or one small mapped table) broadcasts instead:
      // the join then needs no exchange on EITHER side (r9, guide §3.1;
      // the 17-pattern wind-farm BGP had 25 exchanges for 14 16-KB
      // metadata predicates).
      bgpPlans(ps, scope).reduce { (a, b) =>
        // a structurally-tiny side broadcasts instead (see join) — don't
        // pre-commit it to a shuffle
        val b2 = if (a.tiny || b.tiny) b
                 else if (Rewriter.statSmall(b.df)) b.copy(df = broadcast(b.df))
                 else b.copy(df = b.df.hint("shuffle_hash"))
        join(a, b2, "inner", None, scope)
      }
    case PathPattern(s, path, o) => pathPattern(s, path, o, scope)
    case Join(l, r) => join(pattern(l, scope), pattern(r, scope), "inner", None, scope)
    case LeftJoin(l, r, f) => join(pattern(l, scope), pattern(r, scope), "left", f, scope)
    case Filter(e, i) => (if (corr.isEmpty) pushWholeExists(e, i) else None) match {
      case Some(rewritten) => pattern(rewritten, scope)
      case None => filterPlan(eval(i, scope, corr), e, scope)
    }
    case Union(l, r) => union(eval(l, scope, corr), eval(r, scope, corr))
    case ext: Extend =>
      // Fold the maximal run of nested BINDs at once: they extend ONE
      // solution mapping sequentially (see extendRun).
      @annotation.tailrec
      def peel(p: GraphPattern, acc: List[(Var, Expr)]): (GraphPattern, List[(Var, Expr)]) =
        p match {
          case Extend(i, v, e) => peel(i, (v, e) :: acc)
          case other => (other, acc)
        }
      val (base, binds) = peel(ext, Nil)
      extendRun(eval(base, scope, corr), binds, scope)
    case Minus(l, r) => minus(pattern(l, scope), pattern(r, scope))
    case ValuesPattern(vars, rows) => values(vars, rows)
    case GraphGraph(name, inner) => name match {
      case TermPat(Iri(iri)) => eval(inner, Named(iri), corr)
      case TermPat(t) => throw new IllegalArgumentException(s"GRAPH needs an IRI or variable, got $t")
      case VarPat(v) => eval(inner, NamedVar(v.name), corr)
      case BNodePat(l) => eval(inner, NamedVar("__bnode_" + l), corr)
    }
    case Group(inner, keys, aggs) =>
      val g = group(corr.map(_._2).toSeq, eval(inner, scope, corr), keys, aggs)
      corr.fold(g) { case (ctx, lid) =>
        // grouped per outer row: the outer vars the group does not bind
        // come back from the outer row, by one join on its id
        val restore = ctx.vars.filterNot(g.vars.contains)
        join(g, SPlan(ctx.df.select((lid +: restore).map(col): _*), lid +: restore,
            ctx.maybeUnbound, ctx.kinds.filter { case (v, _) => restore.contains(v) }),
          "inner", None, scope, idKeys = Seq(lid))
      }
    case SubSelect(q) => select(q, scope, corr)
    case Lateral(l, r) => lateral(eval(l, scope, corr), r, scope)
    case Service(ep, inner, silent) =>
      // Federation over the SPARQL protocol — beyond the reference (which
      // parses SERVICE but evaluates a lazily-erroring stream). BGP-bodied
      // blocks against a constant IRI endpoint execute remotely and land as
      // a broadcastable local relation (the VALUES shape); unsupported
      // bodies / variable endpoints keep the reference's observable
      // empty-relation behaviour; transport errors honour SILENT.
      def emptyService: SPlan = {
        val vars = inScopeVars(inner).map(_.name)
        SPlan(spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
          StructType(vars.map(v => StructField(v, graft.encoding.TermCols.schema)))),
          vars, vars.toSet)
      }
      (ep, ServiceExecutor.render(inner)) match {
        case (TermPat(Iri(endpoint)), Some(queryText)) =>
          try {
            val (vars0, rows) = ServiceExecutor.execute(endpoint, queryText)
            // bnode-pattern placeholders joined remotely but are not in
            // scope — drop exactly the names the renderer generated, so a
            // genuine user variable that merely looks like one survives
            val placeholders = ServiceExecutor.bnodePlaceholders(inner)
            val vars = vars0.filterNot(placeholders.contains)
            values(vars.map(Var(_)),
              rows.map(m => vars.map(m.get)))
          } catch {
            case e: Throwable if silent => emptyService
          }
        case (TermPat(Iri(_)), None) if !silent =>
          // non-SILENT + unserialisable body on a REAL endpoint: erroring
          // beats silently returning nothing — the user is actively
          // federating and would otherwise lose solutions invisibly
          throw new UnsupportedOperationException(
            "SERVICE body contains constructs that cannot be serialised for federation; " +
            "use SERVICE SILENT to degrade to the empty relation")
        case _ =>
          // variable / non-IRI endpoints: the reference's SERVICE stream is
          // lazily-erroring, so branches never consumed behave as empty
          // (oxigraph-tests ask_{union,join}_error_* pin this observable)
          emptyService
      }
  }

  /** `p` in `scope`, correlated under `corr`. */
  private def eval(p: GraphPattern, scope: GraphScope, corr: Option[(SPlan, String)]): SPlan =
    corr.fold(pattern(p, scope)) { case (ctx, lid) => lateralPattern(p, ctx, lid, scope) }

  /** `in` extended by each `(v, e)` in order, each seeing the ones before
    * (a BIND run, or a SELECT's expressions, spec 18.2.4.4). EXISTS
    * subexpressions become marker columns; labeled BNODEs across the run
    * share one per-solution nonce. */
  private def extendRun(in: SPlan, items: Seq[(Var, Expr)], scope: GraphScope): SPlan = {
    val (df0, solName) = solNonce(in.df, items.map(_._2))
    val out = items.foldLeft(in.copy(df = df0)) { case (cur, (v, e)) =>
      val (e2, p2) = rewriteExists(e, cur, scope)
      val (df, kind) = withTermColumn(p2.df, p2.vars.toSet, p2.kinds, v.name, e2, solName.map(col))
      SPlan(df, cur.vars :+ v.name, cur.maybeUnbound + v.name,
        p2.kinds ++ kind.map(v.name -> _), cur.tiny)
    }
    solName.fold(out)(n => out.copy(df = out.df.drop(n)))
  }

  /** Single-row zero-variable relation — the join identity
    * (reference lib/logical/src/logical_plan_builder_context.rs:161-170). */
  private def unitPlan: SPlan = SPlan(spark.range(1).select(), Nil, Set.empty, tiny = true)

  // ---------------------------------------------------------------- scanning

  /** Quads scoped to the active graph: returns (df, graphVar bound?). */
  private def scopedQuads(scope: GraphScope): (DataFrame, Option[String]) = scope match {
    case DefaultGraph => (quads.filter(col("graph").isNull), None)
    case Named(iri) =>
      // with a dataset clause, GRAPH <iri> only matches listed graphs
      val ok = namedVisible.forall(_.contains(iri))
      (quads.filter(lit(ok) && col("graph.t") === TermType.Iri && col("graph.v") === iri), None)
    case NamedVar(v) =>
      val base = quads.filter(col("graph").isNotNull)
      val df = namedVisible match {
        case None => base
        case Some(Nil) => base.filter(lit(false)) // FROM-only: no named graphs
        case Some(l) => base.filter(col("graph.v").isin(l: _*))
      }
      (df, Some(v))
    case UnionOf(iris) =>
      // FROM merge semantics: triples from any listed graph, deduplicated.
      // UnionOf(Nil) = the EMPTY default graph (FROM NAMED / USING NAMED
      // without FROM/USING — §13.2 dataset construction).
      val member =
        if (iris.isEmpty) lit(false)
        else col("graph.t") === TermType.Iri && col("graph.v").isin(iris: _*)
      (quads.filter(member)
        .select(col("subject"), col("predicate"), col("object")).dropDuplicates()
        .withColumn("graph", TermCols.nullTerm), None)
  }

  private def varName(tp: TermPattern): Option[String] = tp match {
    case VarPat(v) => Some(v.name)
    case BNodePat(l) => Some("__bnode_" + l)
    case TermPat(_) => None
  }

  /** One triple pattern → filters + projection
    * (reference lib/logical/src/patterns/rewrite.rs:29-196). */
  private def scanTriple(tp: TriplePattern, scope: GraphScope): SPlan = {
    val (df0, gvar) = scopedQuads(scope)
    val slots = Seq("subject" -> tp.s, "predicate" -> tp.p, "object" -> tp.o)
    var df = df0
    // bound terms → field-level filters
    slots.foreach { case (c, pat) =>
      pat match {
        case TermPat(t) => df = df.filter(termFilter(col(c), t))
        case _ =>
      }
    }
    // repeated variables (?a ?a ?b) → sameTerm filters
    val varSlots: Seq[(String, String)] =
      slots.flatMap { case (c, pat) => varName(pat).map(v => v -> c) } ++
        gvar.map(v => v -> "graph")
    varSlots.groupBy(_._1).foreach { case (_, occ) =>
      occ.map(_._2).sliding(2).foreach {
        case Seq(c1, c2) => df = df.filter(col(c1) === col(c2))
        case _ =>
      }
    }
    val outVars = varSlots.map(_._1).distinct
    val proj = varSlots.groupBy(_._1).view.mapValues(_.head._2).toMap
    // static numeric kind of the object var, when the source can vouch for
    // every object of a bound predicate (relational mapping column type)
    val kinds = (tp.p, varName(tp.o)) match {
      case (TermPat(Iri(p)), Some(ov)) if varName(tp.s) != varName(tp.o) =>
        star.flatMap(_.predKind(p)).map(k => Map(ov -> k)).getOrElse(Map.empty)
      case _ => Map.empty[String, Int]
    }
    // a bound subject structurally bounds the scan (one node's out-degree) —
    // joins may broadcast it at any data scale
    val boundSubject = tp.s match { case TermPat(_) => true; case _ => false }
    SPlan(df.select(outVars.map(v => col(proj(v)).as(v)): _*), outVars, Set.empty, kinds,
      tiny = boundSubject)
  }

  // ------------------------------------------------------------- star fusion

  /**
   * BGP → per-pattern plans, with same-subject star fusion: patterns that
   * share a subject variable, have a bound IRI predicate, and whose
   * predicates co-locate in one base relation of the [[StarSource]] compile
   * to ONE scan of that relation instead of N quad scans + N−1 subject
   * joins. Output order preserves each pattern/group's first occurrence so
   * the surrounding join fold keeps its shape.
   *
   * Semantics: the star scan is exactly the inner same-subject join of the
   * group's patterns (StarSource contract), so fusing is join-associativity,
   * nothing more. Fusion only applies in the default graph — named-graph
   * scopes fall back to quad scans.
   */
  private def bgpPlans(ps: Seq[TriplePattern], scope: GraphScope): Seq[SPlan] = {
    if (!fuseStars || star.isEmpty || scope != DefaultGraph) return ps.map(scanTriple(_, scope))
    def fusible(tp: TriplePattern): Option[(String, String)] = (tp.p, varName(tp.s)) match {
      case (TermPat(Iri(p)), Some(sv)) => Some((sv, p))
      case _ => None
    }
    // group key: subject variable; a group of ≥2 fusible patterns becomes
    // one scan when the StarSource answers the star through a mapped
    // property table. Over raw quads the patterns stay separate scans: a
    // generic star aggregation (one disjunction scan + groupBy(subject)) was
    // measured slower than the join plan on both a pruned columnar layout
    // and an RDD-backed store.
    val groups: Map[String, Seq[TriplePattern]] =
      ps.flatMap(tp => fusible(tp).map { case (sv, _) => sv -> tp })
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val fused = scala.collection.mutable.Map.empty[String, SPlan]
    for ((sv, group) <- groups if group.size >= 2) {
      val preds = group.map(tp => fusible(tp).get._2)
      star.flatMap(_.starScan(preds)).foreach { case (df, names) =>
        fused(sv) = starPlan(df, names, sv, group)
      }
    }
    // emit: fused plan at its group's first pattern, others individually
    val emitted = scala.collection.mutable.Set.empty[String]
    ps.flatMap { tp =>
      fusible(tp).map(_._1).filter(fused.contains) match {
        case Some(sv) =>
          if (emitted.add(sv)) Some(fused(sv)) else None
        case None => Some(scanTriple(tp, scope))
      }
    }
  }

  /** Build the SPlan for one fused star group over the star-scan DataFrame
    * (columns: subject + one term column per predicate). Bound objects become
    * filters; repeated variables (incl. subject-as-object) become equality
    * filters — same treatment as scanTriple. */
  private def starPlan(df0: DataFrame, predCol: Map[String, String],
                       subjVar: String, group: Seq[TriplePattern]): SPlan = {
    var df = df0
    val kinds = scala.collection.mutable.Map.empty[String, Int]
    val objSlots: Seq[(String, String)] = group.flatMap { tp =>
      val (ocol, pred) = tp.p match {
        case TermPat(Iri(p)) => (predCol(p), p)
        case other => throw new IllegalStateException(s"unfusible pattern $other")
      }
      tp.o match {
        case TermPat(t) => df = df.filter(termFilter(col(ocol), t)); None
        case other => varName(other).filter(_ != subjVar).foreach { v =>
            star.flatMap(_.predKind(pred)).foreach(kinds(v) = _)
          }
          varName(other).map(v => v -> ocol)
      }
    }
    val slots = (subjVar -> "subject") +: objSlots
    slots.groupBy(_._1).foreach { case (_, occ) =>
      occ.map(_._2).sliding(2).foreach {
        case Seq(c1, c2) => df = df.filter(col(c1) === col(c2))
        case _ =>
      }
    }
    val outVars = slots.map(_._1).distinct
    val proj = slots.groupBy(_._1).view.mapValues(_.head._2).toMap
    SPlan(df.select(outVars.map(v => col(proj(v)).as(v)): _*), outVars, Set.empty,
      kinds.toMap)
  }

  // ------------------------------------------------------------------- joins

  /** Static-kind merge across a join: a shared variable keeps its kind only
    * when both sides vouch for the same one (join compatibility makes the
    * values equal, so agreeing claims stay true); side-exclusive variables
    * keep their side's kind. */
  private def mergeKinds(l: SPlan, r: SPlan): Map[String, Int] = {
    val ks = (l.kinds.keySet ++ r.kinds.keySet).flatMap { v =>
      (l.kinds.get(v), r.kinds.get(v)) match {
        case (Some(a), Some(b)) => if (a == b) Some(v -> a) else None
        case (Some(a), None) => if (!r.vars.contains(v)) Some(v -> a) else None
        case (None, Some(b)) => if (!l.vars.contains(v)) Some(v -> b) else None
        case _ => None
      }
    }
    ks.toMap
  }

  /** SPARQL join (reference SparqlJoinLoweringRule,
    * lib/logical/src/join/rewrite.rs:23-361): equi-join when every shared
    * variable is definitely bound on both sides, compat join otherwise. */
  private def join(l: SPlan, r: SPlan, joinType: String, filter: Option[Expr],
                   scope: GraphScope, idKeys: Seq[String] = Nil): SPlan = {
    val shared = l.vars.filter(v => r.vars.contains(v) && !idKeys.contains(v))
    val rOnly = r.vars.filterNot(v => shared.contains(v) || idKeys.contains(v))
    val outVars = l.vars ++ rOnly

    val needCompat = shared.exists(v => l.isNullable(v) || r.isNullable(v))
    val outTiny = l.tiny && r.tiny
    // structurally-bounded sides broadcast: Catalyst can't see the bound
    // (post-filter estimates over the quad relation are unreliable), and for
    // variable-free joins this turns CartesianProduct — whose partition count
    // MULTIPLIES when BGP components chain — into a BroadcastNestedLoopJoin
    // that keeps the streamed side's partitioning. BuildLeft/left-outer is
    // an illegal combo, so a tiny left only broadcasts on inner joins.
    val rdf = if (r.tiny) broadcast(r.df) else r.df
    val ldf = if (l.tiny && !r.tiny && joinType == "inner") broadcast(l.df) else l.df

    if (idKeys.isEmpty) {
      if (shared.isEmpty && filter.isEmpty) {
        // Cartesian. A side Catalyst estimates small broadcasts by the
        // planner's own size rule (a global aggregate, as in BSBM BI-Q4, is
        // a one-row estimate), and adaptive execution re-plans the join from
        // the real size of a side that ends in a shuffle stage (BI-Q5's
        // grouped subqueries).
        val df = if (joinType == "inner") ldf.crossJoin(rdf)
                 else ldf.join(rdf, lit(true), "left")
        val mu = l.maybeUnbound ++ (if (joinType == "left") r.vars.toSet else r.maybeUnbound)
        return SPlan(df, outVars, mu, mergeKinds(l, r), outTiny)
      }
      if (!needCompat && filter.isEmpty) {
        // fast path: plain equi-join. A genuinely-small right side still
        // broadcasts (estimates for these shapes over-state, so a small
        // verdict is safe); anything else is hinted shuffle_hash — the
        // default preferSortMergeJoin would otherwise plan SMJ for the
        // mid-size checkpointed relations path/closure composition feeds
        // through here (same shuffle + two sorts; guide §3.1).
        val rdf2 = if (r.tiny) rdf else Rewriter.shuffleHashUnlessSmall(rdf)
        val df = ldf.join(rdf2, shared, joinType)
        val mu0 = l.maybeUnbound ++ r.maybeUnbound -- shared
        val mu = if (joinType == "left") mu0 ++ rOnly else mu0
        return SPlan(df, outVars, mu, mergeKinds(l, r), outTiny)
      }
      // No-equi compat join: when EVERY shared variable is nullable on some
      // side, the theta condition below is pure isCompatible(...) — Catalyst
      // extracts no equi keys and plans a BroadcastNestedLoopJoin, O(n·m)
      // work with two large sides (the OPTIONAL-chain shape). The reference
      // keeps the theta filter (lib/logical/src/join/rewrite.rs:183-221 +
      // is_compatible.rs:18-100); the null-pattern union is exceed-the-
      // reference work per SURVEY §2.3.
      if (shared.nonEmpty && shared.forall(v => l.isNullable(v) || r.isNullable(v)) &&
          unionRewrite(l, r, shared))
        return compatUnionJoin(l, r, joinType, filter, shared, rOnly, outVars, outTiny)
    }

    // general path: explicit condition (native-typed idKey equality + compat
    // per shared var + LeftJoin filter inside the condition, SPARQL
    // semantics), then coalesce shared columns
    val rr0 = r.df.select(r.vars.map(v => col(v).as("__r_" + v)): _*)
    val rr = if (r.tiny) broadcast(rr0) else rr0
    val idCond = idKeys.map(k => col(k) === col("__r_" + k))
    val compat = shared.map { v =>
      if (!l.isNullable(v) && !r.isNullable(v)) col(v) === col("__r_" + v)
      else TermCols.isCompatible(col(v), col("__r_" + v))
    }
    val cond = (idCond ++ compat ++ compatFilter(l, r, shared, filter))
      .reduceOption(_ && _).getOrElse(lit(true))
    compatOutput(l, r, joinType, shared, rOnly, outVars, outTiny, ldf.join(rr, cond, joinType))
  }

  /** A LeftJoin's FILTER over a compat join's columns (left vars by name,
    * right vars as `__r_<var>`, shared vars coalesced). */
  private def compatFilter(l: SPlan, r: SPlan, shared: Seq[String],
                           filter: Option[Expr]): Option[Column] = filter.map { f =>
    val env: ExprCompiler.Env = name =>
      if (shared.contains(name)) coalesce(col(name), col("__r_" + name))
      else if (l.vars.contains(name)) col(name)
      else if (r.vars.contains(name)) col("__r_" + name)
      else TermCols.nullTerm
    ExprCompiler.ebv(f, env)
  }

  /** A compat join's solutions from its joined columns: shared vars
    * coalesced, right-only vars renamed back. */
  private def compatOutput(l: SPlan, r: SPlan, joinType: String, shared: Seq[String],
                           rOnly: Seq[String], outVars: Seq[String], outTiny: Boolean,
                           joined: DataFrame): SPlan = {
    val out = outVars.map { v =>
      if (shared.contains(v)) coalesce(col(v), col("__r_" + v)).as(v)
      else if (l.vars.contains(v)) col(v)
      else col("__r_" + v).as(v)
    }
    val muShared = shared.filter(v =>
      if (joinType == "left") l.isNullable(v)
      else l.isNullable(v) && r.isNullable(v)).toSet
    val mu = (l.maybeUnbound -- shared) ++ muShared ++
      (if (joinType == "left") rOnly.toSet
       else r.maybeUnbound.filter(rOnly.contains))
    SPlan(joined.select(out: _*), outVars, mu, mergeKinds(l, r), outTiny)
  }

  /** Whether a join, MINUS or EXISTS whose `shared` vars are nullable on some
    * side takes the null-pattern union rewrite instead of the theta join.
    * Both sides tiny keep the theta join: a nested loop over structurally
    * bounded inputs needs no rewrite. Branches = 2^(nullable-left +
    * nullable-right); compare EXPONENTS, since a shift product would
    * overflow Long for ~63 nullable vars and bypass the cap. */
  private def unionRewrite(l: SPlan, r: SPlan, shared: Seq[String]): Boolean =
    compatUnion && !(l.tiny && r.tiny) &&
      shared.count(l.isNullable) + shared.count(r.isNullable) <= Rewriter.CompatUnionMaxBranchBits

  /** The null-pattern slice pairs of a compat join, MINUS or EXISTS over
    * `shared`: `ldf` split by which of `l`'s nullable shared vars are NULL,
    * `rdf` (shared vars named `__r_<var>`) split the same way for `r`. Each
    * pair comes with the equality of the shared vars bound in BOTH slices —
    * compatibility holds for free on the rest (NULL on at least one side) —
    * or None when there is no such var and every row pair is compatible.
    * Every pair is emitted; a keyed pair over an empty slice ends in an
    * empty shuffle stage, which adaptive execution drops. */
  private def slicePairs(ldf: DataFrame, rdf: DataFrame, shared: Seq[String],
                         l: SPlan, r: SPlan): Seq[Rewriter.SlicePair] = {
    def slices(df: DataFrame, vs: Seq[String], pre: String): Seq[(Set[String], DataFrame)] =
      vs.foldLeft(Seq(Set.empty[String]))((acc, v) => acc ++ acc.map(_ + v)).map { nulls =>
        nulls -> vs.foldLeft(df)((d, v) =>
          d.filter(if (nulls(v)) col(pre + v).isNull else col(pre + v).isNotNull))
      }
    for {
      (aNull, lslice) <- slices(ldf, shared.filter(l.isNullable), "")
      (bNull, rslice) <- slices(rdf, shared.filter(r.isNullable), "__r_")
    } yield Rewriter.SlicePair(lslice, aNull.nonEmpty, rslice, bNull.nonEmpty,
      shared.filterNot(v => aNull(v) || bNull(v)).map(k => col(k) === col("__r_" + k)).reduceOption(_ && _))
  }

  /** Compat join with no equi component, as a union of null-pattern equi-join
    * slices (see the call site in [[join]] for why): a slice pair with keys
    * hash-joins on them; a pair without is all-compatible, so its cross is
    * the operator's actual output for those slices. LeftJoin decomposes as
    * inner matches ∪ (unmatched left rows, null-padded), keyed by a per-row
    * id so bag semantics survive. Both sides are pinned ([[Deferred]]): each
    * is read once per slice pair, and the row id must not be recomputed
    * between the pairs and the unmatched-row anti join. */
  private def compatUnionJoin(l: SPlan, r: SPlan, joinType: String,
                              filter: Option[Expr], shared: Seq[String],
                              rOnly: Seq[String], outVars: Seq[String],
                              outTiny: Boolean): SPlan = {
    val left = joinType == "left"
    val rowId = fresh("lrow")
    val ldf = Deferred(
      if (left) l.df.withColumn(rowId, monotonically_increasing_id()) else l.df, "compat-left")
    val rdf = Deferred(r.df, "compat-right").select(r.vars.map(v => col(v).as("__r_" + v)): _*)
    val cond = compatFilter(l, r, shared, filter)
    // A key-less pair crosses its slices. A slice of unmatched OPTIONAL rows
    // (NULL on some shared var) first goes through a rebalance stage, so
    // adaptive execution sees its real size: an empty one drops the pair and
    // a small one is broadcast, instead of a cartesian over every partition
    // pair of the two sides.
    def staged(df: DataFrame, nulls: Boolean): DataFrame = if (nulls) df.hint("rebalance") else df
    val inner = slicePairs(ldf, rdf, shared, l, r).map { p =>
      p.keys match {
        case Some(k) =>
          val rslice = if (r.tiny) broadcast(p.r) else Rewriter.shuffleHashUnlessSmall(p.r)
          p.l.join(rslice, (k +: cond.toSeq).reduce(_ && _))
        case None =>
          val j = staged(p.l, p.lNull).crossJoin(if (r.tiny) broadcast(p.r) else staged(p.r, p.rNull))
          cond.map(j.filter).getOrElse(j)
      }
    }.reduce(_ unionAll _)
    val joined = if (!left) inner else {
      val matched = inner.select(col(rowId)).distinct()
      val unmatched = ldf.join(Rewriter.shuffleHashUnlessSmall(matched), Seq(rowId), "left_anti")
      inner.unionAll(unmatched.select(
        ldf.columns.map(col) ++ r.vars.map(v => TermCols.nullTerm.as("__r_" + v)): _*))
    }
    compatOutput(l, r, joinType, shared, rOnly, outVars, outTiny, joined)
  }

  /** MINUS (reference lib/logical/src/minus/rewrite.rs:51-136): anti join on
    * compat over shared vars, requiring ≥1 shared var bound on both sides;
    * no shared vars → left unchanged. */
  private def minus(l: SPlan, r: SPlan): SPlan = {
    val shared = l.vars.filter(r.vars.contains(_))
    if (shared.isEmpty) return l
    // fast path: every shared var definitely bound on both sides →
    // compat ≡ equality and the ≥1-bound-both condition is always true →
    // plain equi anti-join (hash join, not the O(n·m) non-equi fallback)
    if (shared.forall(v => !l.isNullable(v) && !r.isNullable(v)))
      return SPlan(l.df.join(
          Rewriter.shuffleHashUnlessSmall(r.df.select(shared.map(col): _*)),
          shared, "left_anti"),
        l.vars, l.maybeUnbound, l.kinds, l.tiny)
    // Null-pattern union rewrite (anti flavour of compatUnionJoin): ANY
    // nullable shared var makes the condition below pure theta, which Spark
    // plans as a BroadcastNestedLoopJoin. A slice pair can only drop left
    // rows when some var is bound on BOTH sides (the ≥1-bound-both rule) —
    // exactly the pairs that equi-join on those vars. Dropped = union of
    // per-pair semi-join row ids; result = left anti that id set (hash joins
    // throughout). Both sides are pinned: read once per pair, stable ids.
    if (unionRewrite(l, r, shared)) {
      val rowId = fresh("mrow")
      val ldf = Deferred(l.df.withColumn(rowId, monotonically_increasing_id()), "minus-left")
      val rdf = Deferred(r.df.select(shared.map(v => col(v).as("__r_" + v)): _*), "minus-right")
      val matched = slicePairs(ldf, rdf, shared, l, r).collect {
        case Rewriter.SlicePair(lslice, _, rslice, _, Some(k)) =>
          lslice.join(Rewriter.shuffleHashUnlessSmall(rslice), k, "left_semi").select(col(rowId))
      }.reduce(_ unionAll _)
      return SPlan(ldf.join(Rewriter.shuffleHashUnlessSmall(matched.distinct()),
          Seq(rowId), "left_anti").drop(rowId),
        l.vars, l.maybeUnbound, l.kinds, l.tiny)
    }
    val rr = r.df.select(shared.map(v => col(v).as("__r_" + v)): _*)
    val compat = shared.map(v => TermCols.isCompatible(col(v), col("__r_" + v)))
    val anyBoth = shared.map(v => col(v).isNotNull && col("__r_" + v).isNotNull)
    val cond = compat.reduce(_ && _) && anyBoth.reduce(_ || _)
    SPlan(l.df.join(rr, cond, "left_anti"), l.vars, l.maybeUnbound, l.kinds, l.tiny)
  }

  /** SPARQL UNION = bag union with null-padding of missing vars
    * (reference logical_plan_builder.rs:364-439). */
  private def union(l: SPlan, r: SPlan): SPlan = {
    val outVars = (l.vars ++ r.vars).distinct
    def pad(p: SPlan) = p.df.select(outVars.map(v =>
      if (p.vars.contains(v)) col(v) else TermCols.nullTerm.as(v)): _*)
    val mu = l.maybeUnbound ++ r.maybeUnbound ++
      outVars.filter(v => !l.vars.contains(v) || !r.vars.contains(v))
    val ks = outVars.flatMap { v =>
      (l.kinds.get(v), r.kinds.get(v)) match {
        case (Some(a), Some(b)) if a == b => Some(v -> a)
        case (Some(a), None) if !r.vars.contains(v) => Some(v -> a)
        case (None, Some(b)) if !l.vars.contains(v) => Some(v -> b)
        case _ => None
      }
    }.toMap
    SPlan(pad(l).unionAll(pad(r)), outVars, mu, ks, l.tiny && r.tiny)
  }

  private def values(vars: Seq[Var], rows: Seq[Seq[Option[RdfTerm]]]): SPlan = {
    val schema = StructType(vars.map(v => StructField(v.name, TermCols.schema, nullable = true)))
    val data = rows.map(r => Row(r.map(_.map(graft.sources.NTriples.termRow).orNull): _*))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(data, 1), schema)
    val mu = vars.zipWithIndex.filter { case (_, i) => rows.exists(r => r(i).isEmpty) }
      .map(_._1.name).toSet
    SPlan(df, vars.map(_.name), mu, tiny = true)
  }

  // ------------------------------------------------------------------ filter

  private def filterPlan(in: SPlan, e: Expr, scope: GraphScope): SPlan = {
    // whole-filter EXISTS / NOT EXISTS → semi/anti join (the decorrelated
    // form the reference gets from DecorrelatePredicateSubquery,
    // lib/execution/src/sparql/optimizer.rs:77-84)
    e match {
      case EExists(p, neg) => return existsJoin(in, p, neg, scope)
      case ENot(EExists(p, neg)) => return existsJoin(in, p, !neg, scope)
      case _ =>
    }
    val (e2, plan2) = rewriteExists(e, in, scope)
    // binding env: complex comparison/call operands materialise as columns
    // (computed once, referenced by name in the dispatch ladders)
    var bdf = plan2.df
    var bound = false
    val env = ExprCompiler.envOf(plan2.vars.toSet, plan2.kinds, { c =>
      val t = fresh("sub"); bdf = bdf.withColumn(t, c); bound = true; col(t)
    })
    val cond = ExprCompiler.ebv(e2, env)
    val filtered = bdf.filter(cond)
    // drop any EXISTS marker / bound-operand columns again
    val df = if (!bound && plan2.vars == in.vars) filtered
             else filtered.select(in.vars.map(col): _*)
    SPlan(df, in.vars, in.maybeUnbound, in.kinds, in.tiny)
  }

  // ----------------------------------------------------- correlated patterns

  /**
   * Correlated (substitution-semantics) evaluation, shared by LATERAL and
   * EXISTS: tag the outer solutions with a row id, evaluate the inner
   * pattern with the outer bindings in scope, keep the id so outer rows can
   * be matched back exactly (no cross-row compat leakage through unbound
   * outer vars).
   *
   * The reference gets EXISTS correlation from DataFusion's
   * DecorrelatePredicateSubquery (lib/execution/src/sparql/optimizer.rs:77-84)
   * and LATERAL from spargebra's Lateral algebra node; here both decorrelate
   * into plain joins keyed on the synthetic id (hash-join friendly).
   */
  private def withRowId(in: SPlan, lid: String): SPlan =
    // pinned: the id column must be stable across the multiple branches
    // that reference it (monotonically_increasing_id is deterministic only
    // for a fixed partition layout)
    SPlan(Deferred(in.df.withColumn(lid, monotonically_increasing_id()), "row-id"),
      in.vars :+ lid, in.maybeUnbound, in.kinds)

  private def lateral(l: SPlan, rp: GraphPattern, scope: GraphScope): SPlan = {
    val lid = fresh("lid")
    val ctx = withRowId(l, lid)
    val r = lateralPattern(rp, ctx, lid, scope)
    SPlan(r.df.drop(lid), r.vars.filterNot(_ == lid), r.maybeUnbound)
  }

  /** Evaluate `p` correlated with ctx (which carries the `lid` row id).
    * Contract: the result contains lid + all ctx vars + p's vars. Only the
    * cases where correlation changes the operator are here: a BGP seeded
    * from ctx, leaves joined to ctx, and Join, LeftJoin and MINUS keyed on
    * lid; every other case is [[pattern]]'s, over correlated children. */
  private def lateralPattern(p: GraphPattern, ctx: SPlan, lid: String,
                             scope: GraphScope): SPlan = p match {
    case Bgp(ps) =>
      bgpPlans(ps, scope).foldLeft(ctx)((acc, p) => join(acc, p, "inner", None, scope))
    case _: PathPattern | _: ValuesPattern => join(ctx, pattern(p, scope), "inner", None, scope)
    case Service(_, inner, _) => join(ctx, pattern(Service(null, inner, silent = true), scope), "inner", None, scope)
    case Join(a, b) =>
      join(lateralPattern(a, ctx, lid, scope),
        lateralPattern(b, ctx, lid, scope), "inner", None, scope, idKeys = Seq(lid))
    case LeftJoin(a, b, f) =>
      join(lateralPattern(a, ctx, lid, scope),
        lateralPattern(b, ctx, lid, scope), "left", f, scope, idKeys = Seq(lid))
    case Minus(a, b) =>
      val A = lateralPattern(a, ctx, lid, scope)
      val B = lateralPattern(b, ctx, lid, scope)
      // per-outer-row MINUS: substituted outer vars are constants, so only
      // inner-introduced shared vars count for the ≥1-bound-both rule
      val shared = A.vars.filter(v => B.vars.contains(v) && v != lid && !ctx.vars.contains(v))
      if (shared.isEmpty) A
      else {
        val rr = B.df.select((lid +: shared).map(v => col(v).as("__r_" + v)): _*)
        val compat = shared.map(v => TermCols.isCompatible(col(v), col("__r_" + v)))
        val anyBoth = shared.map(v => col(v).isNotNull && col("__r_" + v).isNotNull)
        val cond = (col(lid) === col("__r_" + lid)) && compat.reduce(_ && _) && anyBoth.reduce(_ || _)
        SPlan(A.df.join(Rewriter.shuffleHashUnlessSmall(rr), cond, "left_anti"),
          A.vars, A.maybeUnbound, A.kinds)
      }
    case other => pattern(other, scope, Some((ctx, lid)))
  }

  /**
   * Algebra-level pushdown for a whole-filter EXISTS / NOT EXISTS over a
   * join: apply the semi/anti join at the smallest sub-plan that binds the
   * correlation variables, so its input is the correlation-key domain
   * rather than the full joined relation.
   *
   * The motivating shape is BSBM BI-Q4: `features ⨯ (product, offer,
   * price)` filtered by `NOT EXISTS { ?product :productFeature ?feature }`
   * anti-joins |offers| × |features| rows; after the rewrite the anti join
   * runs on |products| × |features| and the offers join back on product —
   * measured 11.5 s → ~2 s at 2000 BSBM products.
   *
   * Rules (applied recursively through `pattern` on the rewritten tree):
   *   - correlation vars all on one join side → classic filter pushdown;
   *   - else if one side is a BGP, move a minimal var-covering subset of
   *     its triple patterns into the filtered side (join reassociation —
   *     exact under bag semantics since the filter only drops rows and
   *     references only the covered vars).
   * Only the decorrelated fast-path EXISTS shape (no outer-var expression
   * references) is moved; substitution-semantics EXISTS stays put.
   */
  private def pushWholeExists(e: Expr, inner: GraphPattern): Option[GraphPattern] = {
    val ep = e match {
      case EExists(p, _) => p
      case ENot(EExists(p, _)) => p
      case _ => return None
    }
    if (!exprRefVars(ep).map(_.name).subsetOf(inScopeVars(ep).map(_.name).toSet)) return None
    val need = inScopeVars(ep).map(_.name).toSet
    def scopeOf(g: GraphPattern): Set[String] = inScopeVars(g).map(_.name).toSet
    inner match {
      case Join(a, b) =>
        val sa = scopeOf(a); val sb = scopeOf(b)
        val v = need.intersect(sa ++ sb)
        if (v.isEmpty) None
        else if (v.subsetOf(sa)) Some(Join(Filter(e, a), b))
        else if (v.subsetOf(sb)) Some(Join(a, Filter(e, b)))
        else (a, b) match {
          case (_, Bgp(ps)) => splitCover(v -- sa, ps).map { case (cover, rest) =>
            Join(Filter(e, Join(a, Bgp(cover))), Bgp(rest)) }
          case (Bgp(ps), _) => splitCover(v -- sb, ps).map { case (cover, rest) =>
            Join(Filter(e, Join(Bgp(cover), b)), Bgp(rest)) }
          case _ => None
        }
      case _ => None
    }
  }

  /** Greedy minimal subset of `ps` whose variables cover `need`; None when
    * impossible or when nothing would be left behind (no point). */
  private def splitCover(need: Set[String], ps: Seq[TriplePattern])
      : Option[(Seq[TriplePattern], Seq[TriplePattern])] = {
    def vs(t: TriplePattern): Set[String] =
      Seq(t.s, t.p, t.o).collect { case VarPat(v) => v.name }.toSet
    var uncovered = need
    val cover = Seq.newBuilder[TriplePattern]
    val rest = scala.collection.mutable.ArrayBuffer(ps: _*)
    while (uncovered.nonEmpty) {
      val pick = rest.filter(t => vs(t).intersect(uncovered).nonEmpty)
        .sortBy(t => -vs(t).intersect(uncovered).size).headOption
      pick match {
        case None => return None
        case Some(t) => cover += t; rest -= t; uncovered --= vs(t)
      }
    }
    val c = cover.result()
    if (rest.isEmpty || c.isEmpty) None else Some((c, rest.toSeq))
  }

  private def existsJoin(in: SPlan, p: GraphPattern, negated: Boolean, scope: GraphScope): SPlan = {
    val jt = if (negated) "left_anti" else "left_semi"
    // fast path: the pattern's expressions only use its own in-scope vars →
    // no substitution needed beyond the shared pattern vars → direct
    // semi/anti join (no row-id materialisation)
    if (exprRefVars(p).map(_.name).subsetOf(inScopeVars(p).map(_.name).toSet)) {
      val inner = pattern(p, scope)
      val shared = in.vars.filter(inner.vars.contains(_))
      if (shared.isEmpty)
        return SPlan(in.df.join(inner.df.limit(1), lit(true), jt), in.vars, in.maybeUnbound, in.kinds)
      if (shared.forall(v => !in.isNullable(v) && !inner.isNullable(v)))
        return SPlan(in.df.join(
            Rewriter.shuffleHashUnlessSmall(inner.df.select(shared.map(col): _*)), shared, jt),
          in.vars, in.maybeUnbound, in.kinds)
      // Null-pattern union rewrite (semi/anti flavour of compatUnionJoin):
      // nullable shared vars make the condition below pure isCompatible —
      // a BroadcastNestedLoopJoin. Slice pairs semi-join on the vars bound
      // on both sides; a pair with NO such var is all-compatible, so its
      // whole left slice matches iff the right slice is non-empty (a semi
      // join against one right row). Both sides are pinned: read once per
      // pair, stable row ids.
      if (unionRewrite(in, inner, shared)) {
        val rowId = fresh("erow")
        val ldf = Deferred(in.df.withColumn(rowId, monotonically_increasing_id()), "exists-left")
        val rdf = Deferred(inner.df.select(shared.map(v => col(v).as("__r_" + v)): _*), "exists-right")
        val matched = slicePairs(ldf, rdf, shared, in, inner).map {
          case Rewriter.SlicePair(lslice, _, rslice, _, Some(k)) =>
            lslice.join(Rewriter.shuffleHashUnlessSmall(rslice), k, "left_semi").select(col(rowId))
          case Rewriter.SlicePair(lslice, _, rslice, _, None) =>
            lslice.join(rslice.limit(1), lit(true), "left_semi").select(col(rowId))
        }.reduce(_ unionAll _)
        return SPlan(ldf.join(Rewriter.shuffleHashUnlessSmall(matched.distinct()), Seq(rowId), jt)
          .drop(rowId), in.vars, in.maybeUnbound, in.kinds)
      }
      val rr = inner.df.select(shared.map(v => col(v).as("__r_" + v)): _*)
      val cond = shared.map(v => TermCols.isCompatible(col(v), col("__r_" + v))).reduce(_ && _)
      return SPlan(in.df.join(rr, cond, jt), in.vars, in.maybeUnbound, in.kinds)
    }
    val lid = fresh("lid")
    val ctx = withRowId(in, lid)
    val inner = lateralPattern(p, ctx, lid, scope)
    val lids = inner.df.select(col(lid).as("__x_" + lid)).dropDuplicates()
    SPlan(ctx.df.join(lids, col(lid) === col("__x_" + lid), jt).drop(lid),
      in.vars, in.maybeUnbound, in.kinds)
  }

  /** Replace nested EXISTS subexpressions with a boolean marker variable
    * computed via an outer join + group-back (exact under multi-matches). */
  private def rewriteExists(e: Expr, in: SPlan, scope: GraphScope): (Expr, SPlan) = {
    var plan = in
    def walk(x: Expr): Expr = x match {
      case EExists(p, neg) =>
        val m = fresh("exists")
        plan = existsMarker(plan, p, m, scope)
        if (neg) ENot(EVar(Var(m))) else EVar(Var(m))
      case EOr(l, r) => EOr(walk(l), walk(r))
      case EAnd(l, r) => EAnd(walk(l), walk(r))
      case ENot(i) => ENot(walk(i))
      case ECmp(op, l, r) => ECmp(op, walk(l), walk(r))
      case EIn(i, list, n) => EIn(walk(i), list.map(walk), n)
      case EArith(op, l, r) => EArith(op, walk(l), walk(r))
      case ENeg(i) => ENeg(walk(i))
      case EIf(c, t, f) => EIf(walk(c), walk(t), walk(f))
      case ECoalesce(args) => ECoalesce(args.map(walk))
      case ECall(n, args) => ECall(n, args.map(walk))
      case other => other
    }
    val e2 = walk(e)
    (e2, plan)
  }

  private def existsMarker(in: SPlan, p: GraphPattern, marker: String, scope: GraphScope): SPlan = {
    val lid = fresh("lid")
    val ctx = withRowId(in, lid)
    val inner = lateralPattern(p, ctx, lid, scope)
    val lids = inner.df.select(col(lid).as("__x_" + lid)).dropDuplicates()
      .withColumn("__m_" + lid, lit(true))
    val joined = ctx.df.join(lids, col(lid) === col("__x_" + lid), "left")
      .withColumn(marker, TermCols.fromBoolean(coalesce(col("__m_" + lid), lit(false))))
      .drop(lid, "__x_" + lid, "__m_" + lid)
    SPlan(joined, in.vars :+ marker, in.maybeUnbound, in.kinds)
  }

  // ------------------------------------------------------------- aggregation

  /** GROUP BY: keys grouped on PlainTerm structs (term identity — matching
    * the reference's forced PlainTerm/ObjectId key encoding,
    * lib/logical/src/logical_plan_builder.rs:235-263); aggregates follow the
    * reference's Accumulators (lib/functions/src/aggregates/). Partial
    * aggregation (map-side combine) applies — all are built-in aggregates.
    * `by` are leading partition columns grouped as they are (a correlated
    * body's outer row id), empty otherwise. */
  private def group(by: Seq[String], in: SPlan, keys: Seq[(Var, Option[Expr])],
                    aggs: Seq[(Var, Aggregate)]): SPlan = {
    var df = in.df
    val env = ExprCompiler.envOf(in.vars.toSet, in.kinds)
    // per-solution nonce shared by computed keys + aggregate args (labeled
    // BNODEs evaluate pre-grouping, once per input solution)
    val (dfG, solG) = solNonce(df,
      keys.flatMap(_._2) ++ aggs.collect { case (_, Aggregate(_, _, Some(a), _)) => a })
    df = dfG
    // computed keys; a plain key not bound by the pattern is legal SPARQL
    // (GROUP BY over an unbound var — one NULL-keyed group)
    keys.foreach {
      case (v, Some(e)) =>
        df = withTermColumn(df, in.vars.toSet, in.kinds, v.name, e, solG.map(col))._1
      case (v, None) if !in.vars.contains(v.name) =>
        df = df.withColumn(v.name, TermCols.nullTerm)
      case _ =>
    }
    // aggregate inputs; static kinds let SUM/AVG skip the dynamic type ladder
    val argKinds: Map[String, Int] = aggs.collect {
      case (v, Aggregate(_, _, Some(arg), _)) =>
        ExprCompiler.staticKind(arg, env).map(v.name -> _)
    }.flatten.toMap
    // kinds safe to RECORD in the output kinds map: a recorded 3 means
    // canonical xsd:double, a recorded 6 canonical xsd:float (group-key
    // rebuild and narrow MIN/MAX buffers depend on the claim), while
    // staticKind's 3 is the whole double FAMILY — see aggRecordKind
    val recordKinds: Map[String, Int] = aggs.collect {
      case (v, a @ Aggregate(_, _, Some(arg), _)) =>
        aggRecordKind(a, arg, env).map(v.name -> _)
    }.flatten.toMap
    val argCols: Map[String, String] = aggs.collect {
      case (v, Aggregate(_, _, Some(arg), _)) =>
        val c = fresh("aggin")
        df = withTermColumn(df, in.vars.toSet, in.kinds, c, arg, solG.map(col))._1
        v.name -> c
    }.toMap
    solG.foreach(n => df = df.drop(n))

    val keyNames = keys.map(_._1.name)
    val mu = keys.collect {
      case (v, Some(_)) => v.name                       // computed key may error → NULL
      case (v, None) if in.isNullable(v.name) || !in.vars.contains(v.name) => v.name
    }.toSet ++ aggs.collect { case (v, a) if a.name != "COUNT" => v.name }
    val keyKinds = in.kinds.filter { case (v, _) => keyNames.contains(v) } ++
      keys.collect { case (v, Some(e)) =>
        ExprCompiler.bindKind(e, env).map(v.name -> _) }.flatten
    val aggKinds = aggs.flatMap { case (v, a) =>
      aggResultKind(a, recordKinds.get(v.name), globalGroup = by.isEmpty && keyNames.isEmpty)
        .map(v.name -> _) }.toMap
    if (aggs.isEmpty)
      return SPlan(df.select((by ++ keyNames).map(col): _*).dropDuplicates(), by ++ keyNames, mu,
        keyKinds, in.tiny)
    val aggExprs: Seq[Column] = aggs.flatMap { case (v, a) =>
      aggCols(v.name, a, argCols.get(v.name), argKinds.get(v.name), in.vars) }
    // statically-kinded keys group on one narrow native value instead of the
    // 5-field term struct (hash input shrinks, shuffle rows narrow); the
    // term is rebuilt after aggregation — sound because the kinds-map
    // invariant guarantees canonical rendering (see ExprCompiler.Env docs)
    val gbCols = by.map(col) ++ keyNames.map { n =>
      keyKinds.get(n) match {
        case Some(k) => narrowKey(col(n), k).as(n)
        case None => col(n)
      }
    }
    val grouped = df.groupBy(gbCols: _*).agg(aggExprs.head, aggExprs.tail: _*)
    // final projection turns raw aggregate buffers / narrow keys into terms
    val finals = by.map(col) ++ keyNames.map { n =>
      keyKinds.get(n) match {
        case Some(k) => rebuildKey(col(n), k).as(n)
        case None => col(n)
      }
    } ++ aggs.map { case (v, a) =>
      aggFinal(v.name, a, argKinds.get(v.name)).as(v.name) }
    val out = grouped.select(finals: _*)
    SPlan(out, by ++ keyNames ++ aggs.map(_._1.name), mu, keyKinds ++ aggKinds, in.tiny)
  }

  /** Narrow native grouping value of a statically-kinded term column
    * (canonical-render invariant makes this a bijection on bound values). */
  private def narrowKey(c: Column, k: Int): Column = {
    import TermCols._
    k match {
      case 1 => value(c).cast(LongType) // canonical integer lexical: exact
      case 2 => numDecimal(c)
      case 3 | 6 => numDouble(c)        // 6: canonical float — double num bijects
      case _ => value(c)                // 4/5: fixed-shape temporal lexical
    }
  }

  /** Rebuild the PlainTerm from a narrow grouping value (inverse of
    * [[narrowKey]] under the canonical-render invariant). */
  private def rebuildKey(c: Column, k: Int): Column = {
    import TermCols._
    k match {
      case 1 => fromLong(c)
      case 2 => fromDecimal(c)
      case 3 => fromDouble(c)
      case 4 => when(c.isNull, nullTerm).otherwise(typedLit(c, graft.model.Xsd.dateTime))
      case 5 => when(c.isNull, nullTerm).otherwise(typedLit(c, graft.model.Xsd.date))
      case 6 => fromFloat(c)
    }
  }

  /** Kind to RECORD for an aggregate's input: bindKind's canonical claims
    * pass through (incl. kind 6 = canonical xsd:float, e.g. a float-family
    * aggregate var); additionally a float-CAST input — whose own render is
    * double-lexical, so not bindKind-recordable — guarantees an all-float
    * group for SUM/AVG, which re-render via fromFloat, the canonical kind-6
    * rendering. MIN/MAX/SAMPLE return an original input term, so the cast
    * exception does not apply to them. */
  private def aggRecordKind(a: Aggregate, arg: Expr, env: ExprCompiler.Env): Option[Int] =
    ExprCompiler.bindKind(arg, env).orElse(arg match {
      case ECall(n, _) if (a.name == "SUM" || a.name == "AVG") && n == Xsd.float =>
        Some(6)
      case _ => None
    })

  /** Static kind of an aggregate result, when derivable from its input kind
    * (mirrors the type ladder of the buffers below). */
  private def aggResultKind(a: Aggregate, argKind: Option[Int],
                            globalGroup: Boolean = false): Option[Int] = a.name match {
    case "COUNT" => Some(1)
    // SUM/AVG of a temporal input is always an error (never bound), so only
    // numeric kinds carry over to the result. Kind 6 (canonical xsd:float)
    // carries through: the double-family buffers render all-float groups via
    // fromFloat, which IS the canonical kind-6 rendering. The empty GLOBAL
    // group renders SUM({}) = AVG({}) = "0"^^xsd:integer, which would break
    // a recorded double/float claim — so numeric claims need explicit keys
    // (grouped evaluation never sees an empty group).
    case "SUM" if !globalGroup => argKind.filter(k => k <= 3 || k == 6)
    case "AVG" if !globalGroup =>
      argKind.filter(k => k <= 3 || k == 6).map(k => if (k >= 3) k else 2)
    case "MIN" | "MAX" | "SAMPLE" => argKind // result is one of the inputs
    case _ => None
  }

  /** Raw aggregate buffer columns for one SPARQL aggregate. `argKind` is the
    * statically-known numeric kind of the input (see ExprCompiler.staticKind):
    * a known all-double input needs just a running double sum + a seen flag —
    * the 6-buffer dynamic type ladder (with its per-row datatype dispatch)
    * collapses. */
  private def aggCols(out: String, a: Aggregate, argCol: Option[String],
                      argKind: Option[Int] = None,
                      rowCols: Seq[String] = Nil): Seq[Column] = {
    import TermCols._
    val in = argCol.map(col)
    a.name match {
      case "COUNT" =>
        val c = in match {
          // COUNT(DISTINCT *) counts distinct SOLUTIONS (spec 18.5.1 Distinct
          // before Card): dedup on the struct of every in-scope column — a
          // struct is never NULL, so rows with unbound vars still count
          case None if a.distinct => count_distinct(struct(rowCols.map(col): _*))
          case None => count(lit(1))
          case Some(x) => if (a.distinct) count_distinct(x) else count(x)
        }
        Seq(c.as(s"__${out}_cnt"))
      case "SUM" if argKind.contains(3) =>
        val x = in.get
        val dbl = if (a.distinct) sum_distinct(numDouble(x)) else sum(numDouble(x))
        Seq(dbl.as(s"__${out}_dbl"),
          // float vs double is a RUNTIME property under static kind 3 (the
          // double FAMILY): all-float inputs must yield an xsd:float result
          max(when(isStrictDoubleTyped(x), 1).otherwise(0)).as(s"__${out}_isd"),
          max(when(x.isNotNull, 1).otherwise(0)).as(s"__${out}_any"),
          // an unbound value in the group is an evaluation error → the whole
          // aggregate errs (ListEval, spec §18.5.1); empty implicit groups
          // stay 0 (max over zero rows is NULL, not 1)
          max(when(x.isNull, 1).otherwise(0)).as(s"__${out}_bad"))
      case "AVG" if argKind.contains(3) =>
        val x = in.get
        val dbl = if (a.distinct) sum_distinct(numDouble(x)) else sum(numDouble(x))
        val n = if (a.distinct) count_distinct(numDouble(x))
                else sum(when(x.isNotNull, 1L).otherwise(0L))
        Seq(dbl.as(s"__${out}_dbl"), n.as(s"__${out}_n"),
          max(when(isStrictDoubleTyped(x), 1).otherwise(0)).as(s"__${out}_isd"),
          max(when(x.isNull, 1).otherwise(0)).as(s"__${out}_bad"))
      case "SUM" | "AVG" =>
        val x = in.get
        // the exact-decimal sum is only consulted when the group contains NO
        // double/float values (type ladder), so guard the expensive
        // string→decimal parse to non-double rows — all-double groups never
        // pay it (they use the pre-decoded num field via numDouble)
        val decIn = when(!isDoubleTyped(x), numDecimal(x))
        val dec = if (a.distinct) sum_distinct(decIn) else sum(decIn)
        val dbl = if (a.distinct) sum_distinct(numDouble(x)) else sum(numDouble(x))
        // AVG(DISTINCT) divides by the DISTINCT value cardinality. The key's
        // equivalence classes must match the dedup the sums perform:
        // double-typed values dedup by their exact double (sum_distinct over
        // numDouble), so key them by the double rendering FIRST — the
        // decimal(36,16) canonicalisation would merge doubles that differ
        // only beyond 16 fraction digits, counting once what was summed
        // twice. Non-double numerics keep the exact-decimal key (falling
        // back to double only outside decimal(36,16) range), matching the
        // decimal sum's dedup.
        val cntNum =
          if (a.distinct) count_distinct(when(isNumeric(x),
            coalesce(when(isDoubleTyped(x), numDouble(x).cast(StringType)),
              numDecimal(x).cast(StringType), numDouble(x).cast(StringType))))
          else sum(when(isNumeric(x), 1L).otherwise(0L))
        Seq(dec.as(s"__${out}_dec"), dbl.as(s"__${out}_dbl"),
          // poison on non-numeric AND on unbound: both are evaluation errors
          // per ListEval (spec §18.5.1); empty implicit groups stay 0
          max(when(x.isNull || !isNumeric(x), 1).otherwise(0)).as(s"__${out}_bad"),
          max(when(isDoubleTyped(x), 1).otherwise(0)).as(s"__${out}_anydbl"),
          // float vs double within the double family is a render-time
          // distinction: all-float inputs must yield xsd:float
          max(when(isStrictDoubleTyped(x), 1).otherwise(0)).as(s"__${out}_isd"),
          max(when(isDecimalTyped(x), 1).otherwise(0)).as(s"__${out}_anydec"),
          cntNum.as(s"__${out}_n"))
      // INTENTIONAL divergence, pinned by the W3C-slice tests
      // agg_min_unbound_skips / agg_max_unbound_skips: MIN/MAX SKIP unbound
      // values (min/max over nulls), while the reference accumulators
      // (lib/functions/src/aggregates/min.rs on_new_value) poison the group
      // only when the FIRST decoded value errors — an order-dependent
      // behavior that is unreproducible on a distributed bag (partition
      // order is nondeterministic). Skipping is order-independent and
      // matches Jena/Virtuoso observable behavior.
      case "MIN" | "MAX" if argKind.isDefined =>
        // static kind: order by ONE narrow key instead of the sortable CASE
        // ladder — equal keys are the same value, hence (canonical-render
        // invariant) the same rendered term, so the tie-break can never
        // disagree with the sortable encoding. kind 3 keys on the
        // pre-decoded num; 1/2 on the exact lexical-derived numeric;
        // temporal kinds on the fixed-shape lexical (string order ≡
        // temporal order at equal lengths).
        val x = col(argCol.get)
        val key = argKind.get match {
          case 1 => value(x).cast(LongType)
          case 2 => numDecimal(x)
          case 3 => numDouble(x)
          case _ => value(x)
        }
        val buf = when(x.isNotNull, struct(key.as("k"), x.as("t")))
        Seq((if (a.name == "MIN") min(buf) else max(buf)).as(s"__${out}_mm"))
      case "MIN" =>
        Seq(min(when(col(argCol.get).isNotNull, struct(sortKey(col(argCol.get)).as("k"),
          col(argCol.get).as("t")))).as(s"__${out}_mm"))
      case "MAX" =>
        Seq(max(when(col(argCol.get).isNotNull, struct(sortKey(col(argCol.get)).as("k"),
          col(argCol.get).as("t")))).as(s"__${out}_mm"))
      case "SAMPLE" => Seq(first(col(argCol.get), ignoreNulls = true).as(s"__${out}_s"))
      case "GROUP_CONCAT" =>
        val x = col(argCol.get)
        // reference parity (lib/functions/src/aggregates/group_concat.rs:
        // 185-231): only STRING literals concatenate (simple / xsd:string /
        // lang-tagged); IRIs, bnodes, non-string literals AND unbound values
        // poison the aggregate (evaluation errors, ListEval §18.5.1 — same
        // rule SUM/AVG apply; the reference accumulator poisons on any
        // decode error). A language tag survives only when every value
        // carries the same one. DISTINCT dedups by TERM (value + tag):
        // "a"@en and "a"@fr are distinct RDF terms and both concatenate.
        val isStringLit = isLiteral(x) &&
          (datatypeRaw(x).isNull || datatypeRaw(x) === Xsd.string || langTag(x).isNotNull)
        val lang = when(isStringLit, coalesce(langTag(x), lit("")))
        val term = when(isStringLit, struct(value(x).as("v"), lang.as("l")))
        val lst = if (a.distinct) collect_set(term) else collect_list(term)
        Seq(lst.as(s"__${out}_lst"),
          max(when(x.isNull || !isStringLit, 1).otherwise(0)).as(s"__${out}_bad"),
          min(lang).as(s"__${out}_lmin"), max(lang).as(s"__${out}_lmax"))
      case other => throw new IllegalArgumentException(s"unknown aggregate $other")
    }
  }

  /** Buffer columns → final PlainTerm result (the reference's
    * evaluate + int64→term cast, graph_pattern_rewriter.rs:367-404). */
  private def aggFinal(out: String, a: Aggregate, argKind: Option[Int] = None): Column = {
    import TermCols._
    a.name match {
      case "COUNT" => fromLong(col(s"__${out}_cnt"))
      case "SUM" if argKind.contains(3) =>
        // double-family input: empty group → SUM({}) = 0; unbound poisons;
        // all-float inputs render xsd:float (promotion ladder)
        when(col(s"__${out}_bad") === 1, nullTerm)
          .when(col(s"__${out}_any") === 1,
            when(col(s"__${out}_isd") === 1, fromDouble(col(s"__${out}_dbl")))
              .otherwise(fromFloat(col(s"__${out}_dbl"))))
          .otherwise(fromLong(lit(0L)))
      case "AVG" if argKind.contains(3) =>
        // coalesce: sum() over an empty implicit group is NULL, and
        // Avg({}) = 0 per spec §18.5.1.5 (as SUM already handles)
        val n = coalesce(col(s"__${out}_n"), lit(0L))
        when(col(s"__${out}_bad") === 1, nullTerm)
          .when(n === 0, fromLong(lit(0L)))
          .otherwise(when(col(s"__${out}_isd") === 1, fromDouble(col(s"__${out}_dbl") / n))
            .otherwise(fromFloat(col(s"__${out}_dbl") / n)))
      case "SUM" =>
        when(col(s"__${out}_bad") === 1, nullTerm)
          .when(col(s"__${out}_anydbl") === 1,
            when(col(s"__${out}_isd") === 1, fromDouble(col(s"__${out}_dbl")))
              .otherwise(fromFloat(col(s"__${out}_dbl"))))
          .when(col(s"__${out}_anydec") === 1, fromDecimal(col(s"__${out}_dec")))
          // empty group → 0; an i64-overflowing integer sum poisons
          // (try_cast null → nullTerm) instead of throwing under ANSI
          .when(col(s"__${out}_dec").isNull, fromLong(lit(0L)))
          .otherwise(fromLong(col(s"__${out}_dec").try_cast(LongType)))
      case "AVG" =>
        val n = coalesce(col(s"__${out}_n"), lit(0L))
        when(col(s"__${out}_bad") === 1, nullTerm)
          .when(n === 0, fromLong(lit(0L)))
          .when(col(s"__${out}_anydbl") === 1,
            when(col(s"__${out}_isd") === 1, fromDouble(col(s"__${out}_dbl") / n))
              .otherwise(fromFloat(col(s"__${out}_dbl") / n)))
          .otherwise(fromDecimal((col(s"__${out}_dec") / n).cast(DecimalType(36, 16))))
      case "MIN" | "MAX" => col(s"__${out}_mm").getField("t")
      case "SAMPLE" => col(s"__${out}_s")
      case "GROUP_CONCAT" =>
        val cat = concat_ws(a.separator.getOrElse(" "),
          transform(col(s"__${out}_lst"), _.getField("v")))
        when(col(s"__${out}_bad") === 1, nullTerm)
          .when(col(s"__${out}_lmin") === col(s"__${out}_lmax") &&
            col(s"__${out}_lmin") =!= "", langStr(cat, col(s"__${out}_lmin")))
          .otherwise(str(cat))
    }
  }

  // ------------------------------------------------------------------- paths

  /** Property-path pattern → (src, tgt) endpoints bound like a triple scan
    * (reference PropertyPathLoweringRule, paths/path_node/rewrite.rs:57-371). */
  private def pathPattern(s: TermPattern, path: PropertyPath, o: TermPattern,
                          scope: GraphScope): SPlan = {
    val (df0, gvar) = scopedQuads(scope)
    // bound-endpoint closures grow from the seed instead of materialising the
    // full transitive closure — the difference between O(reachable-from-x)
    // and O(all-paths) work at scale. A bound object seeds the reversed walk.
    def reversed(df: DataFrame) = df.select(col("g"), col("tgt").as("src"), col("src").as("tgt"))
    def zero(t: RdfTerm) = seedDF(df0, t).select(col("g"), col("n").as("src"), col("n").as("tgt"))
    val paths = (path, s, o) match {
      case (PathOneOrMore(i), TermPat(t), _) => KleenePlus.of(pathDF(i, df0), Some(t))
      case (PathOneOrMore(i), _, TermPat(t)) =>
        reversed(KleenePlus.of(reversed(pathDF(i, df0)), Some(t)))
      case (PathZeroOrMore(i), TermPat(t), _) =>
        zero(t).unionAll(KleenePlus.of(pathDF(i, df0), Some(t))).dropDuplicates()
      case (PathZeroOrMore(i), _, TermPat(t)) =>
        zero(t).unionAll(reversed(KleenePlus.of(reversed(pathDF(i, df0)), Some(t)))).dropDuplicates()
      case _ => pathDF(path, df0)
    }
    var df = paths
    s match { case TermPat(t) => df = df.filter(termFilter(col("src"), t)); case _ => }
    o match { case TermPat(t) => df = df.filter(termFilter(col("tgt"), t)); case _ => }
    val slots = Seq(varName(s) -> "src", varName(o) -> "tgt").collect { case (Some(v), c) => v -> c } ++
      gvar.map(_ -> "g")
    slots.groupBy(_._1).foreach { case (_, occ) =>
      occ.map(_._2).sliding(2).foreach {
        case Seq(c1, c2) => df = df.filter(col(c1) === col(c2))
        case _ =>
      }
    }
    val outVars = slots.map(_._1).distinct
    val proj = slots.groupBy(_._1).view.mapValues(_.head._2).toMap
    SPlan(df.select(outVars.map(v => col(proj(v)).as(v)): _*), outVars, Set.empty)
  }

  /** Structural path forms over the scoped quads; returns cols (g, src, tgt).
    * g is the graph term (NULL in default graph) so closure stays per-graph
    * (reference disallow_cross_graph_paths, physical.rs:345-384). */
  private def pathDF(p: PropertyPath, q: DataFrame): DataFrame = p match {
    case PathLink(Iri(i)) =>
      q.filter(col("predicate.v") === i && col("predicate.t") === TermType.Iri)
        .select(col("graph").as("g"), col("subject").as("src"), col("object").as("tgt"))
    case PathNegated(fwd, rev) =>
      val f = if (fwd.nonEmpty)
        Some(q.filter(!col("predicate.v").isin(fwd.map(_.value): _*))
          .select(col("graph").as("g"), col("subject").as("src"), col("object").as("tgt")))
      else None
      val r = if (rev.nonEmpty)
        Some(q.filter(!col("predicate.v").isin(rev.map(_.value): _*))
          .select(col("graph").as("g"), col("object").as("src"), col("subject").as("tgt")))
      else None
      // bag semantics: !(…) is a predicate test on a single triple match
      (f, r) match {
        case (Some(a), Some(b)) => a.unionAll(b)
        case (Some(a), None) => a
        case (None, Some(b)) => b
        case _ => throw new IllegalArgumentException("empty negated property set")
      }
    case PathReverse(i) =>
      pathDF(i, q).select(col("g"), col("tgt").as("src"), col("src").as("tgt"))
    case PathSequence(a, b) =>
      // rename-based self-join (aliases are unreliable when both sides are
      // the same checkpointed DataFrame)
      val l = pathDF(a, q).select(col("g").as("lg"), col("src").as("lsrc"), col("tgt").as("ltgt"))
      val r = pathDF(b, q)
      // bag semantics: p1/p2 ≡ { ?s p1 ?mid . ?mid p2 ?o } (one row per
      // intermediate witness, SPARQL 18.4 path translation) — no dedup,
      // and one less shuffle per step
      l.join(r, col("ltgt") === col("src") && (col("lg") <=> col("g")))
        .select(col("lg").as("g"), col("lsrc").as("src"), col("tgt"))
    case PathAlternative(a, b) => // bag semantics (UNION translation)
      pathDF(a, q).unionAll(pathDF(b, q))
    case PathZeroOrOne(i) => zeroLength(q).unionAll(pathDF(i, q)).dropDuplicates()
    case PathZeroOrMore(i) => zeroLength(q).unionAll(KleenePlus.of(pathDF(i, q), None)).dropDuplicates()
    case PathOneOrMore(i) => KleenePlus.of(pathDF(i, q), None)
  }

  /** Zero-length paths: every subject/object node paired with itself
    * (reference paths/path_node/rewrite.rs:250-266). */
  private def zeroLength(q: DataFrame): DataFrame = {
    q.select(col("graph").as("g"), col("subject").as("n"))
      .unionAll(q.select(col("graph").as("g"), col("object").as("n")))
      .dropDuplicates()
      .select(col("g"), col("n").as("src"), col("n").as("tgt"))
  }

  /** Seed nodes (g, n) for a bound-endpoint closure walk. */
  private def seedDF(scoped: DataFrame, t: RdfTerm): DataFrame =
    scoped.select(col("graph").as("g"), col("subject").as("n"))
      .unionAll(scoped.select(col("graph").as("g"), col("object").as("n")))
      .filter(termFilter(col("n"), t)).dropDuplicates()

  // ===================================================================== query

  /** Compile a full SELECT (used for top level and sub-selects). Under
    * `corr` (a correlated sub-select, see [[lateralPattern]]) the result
    * keeps the outer row id and vars, and DISTINCT, OFFSET and LIMIT apply
    * per outer row. */
  def select(q: SelectQuery, outerScope: GraphScope,
             corr: Option[(SPlan, String)] = None): SPlan = {
    val scope =
      if (q.fromDefault.nonEmpty) GraphScope.UnionOf(q.fromDefault.map(_.value))
      else outerScope
    val plan = eval(q.where, scope, corr)

    // computed projection items become columns first (visible to ORDER BY),
    // evaluated SEQUENTIALLY: SELECT (1 AS ?a) (?a + 1 AS ?b) binds ?b = 2,
    // and SELECT (EXISTS {…} AS ?b) is legal SPARQL
    val projItems = if (q.projection.nonEmpty) q.projection
                    else inScopeVars(q.where).map(v => ProjItem(v, None))
    val cur = extendRun(plan, projItems.collect { case ProjItem(v, Some(e)) => (v, e) }, scope)
    val projNames = projItems.map(_.v.name)
    // projecting a variable that never occurs in the pattern is legal
    // SPARQL — it is simply unbound in every solution
    var df = projNames.filterNot(cur.vars.contains).distinct
      .foldLeft(cur.df)((d, v) => d.withColumn(v, TermCols.nullTerm))
    val keep = corr.fold(projNames) { case (ctx, lid) => ((lid +: ctx.vars) ++ projNames).distinct }
    // kinds survive projection — computed EARLY so ORDER BY compiles narrow
    // sort keys over them
    val ks = cur.kinds.filter { case (v, _) => keep.contains(v) }
    // ORDER BY with OFFSET/LIMIT: a global sort and slice, or per outer row
    // (where an order alone is lost in the join back to the outer rows)
    def ordered(d: DataFrame, env: ExprCompiler.Env): DataFrame = corr match {
      case None => if (q.orderBy.nonEmpty) orderDf(d, q.orderBy, env) else d
      case Some((_, lid)) =>
        if (q.offset.isEmpty && q.limit.isEmpty) d else slicePerRow(d, q, lid, env)
    }

    if (q.distinct || q.reduced) {
      // project → dedup → order → slice (ordering keys must be projected)
      df = ordered(df.select(keep.map(col): _*).dropDuplicates(), ExprCompiler.envOf(keep.toSet, ks))
    } else {
      df = ordered(df, ExprCompiler.envOf((plan.vars ++ projNames).toSet, plan.kinds ++ ks))
        .select(keep.map(col): _*)
    }
    if (corr.isEmpty) {
      q.offset.foreach(o => df = df.offset(o.toInt))
      q.limit.foreach(l => df = df.limit(l.toInt))
    }
    val mu = keep.filter(v => cur.isNullable(v) || !plan.vars.contains(v)).toSet
    // a LIMIT-k sub-select is structurally bounded no matter the input size
    // (per outer row, a correlated one is not)
    SPlan(df, keep, mu, ks, plan.tiny || (corr.isEmpty && q.limit.exists(_ <= 10000)))
  }

  /** OFFSET/LIMIT per outer row of a correlated sub-select: a row_number
    * window partitioned by the outer row id, ordered by the ORDER BY keys. */
  private def slicePerRow(df: DataFrame, q: SelectQuery, lid: String,
                          env: ExprCompiler.Env): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (d, keys, tmps) = sortKeys(df, q.orderBy, env)
    val w = Window.partitionBy(col(lid))
      .orderBy((if (keys.nonEmpty) keys else Seq(monotonically_increasing_id().asc)): _*)
    val rn = fresh("rn")
    val lo = q.offset.getOrElse(0L)
    d.withColumn(rn, row_number().over(w))
      .filter(col(rn) > lo && q.limit.fold(lit(true))(n => col(rn) <= lo + n))
      .drop(rn +: tmps: _*)
  }

  private def orderDf(df: DataFrame, conds: Seq[OrderCond], env: ExprCompiler.Env): DataFrame = {
    val (d, keys, tmps) = sortKeys(df, conds, env)
    d.orderBy(keys: _*).drop(tmps: _*)
  }

  /** `df` with the SPARQL sort keys of `conds` as columns where needed, the
    * keys, and the columns to drop after sorting. */
  private def sortKeys(df: DataFrame, conds: Seq[OrderCond],
                       env: ExprCompiler.Env): (DataFrame, Seq[Column], Seq[String]) = {
    // SPARQL total order via the sortable view; unbound sorts first on ASC
    // (reference graph_pattern_rewriter.rs:277-297 — nulls_first = true).
    // Statically-kinded keys collapse to one narrow native column.
    // A computed ORDER BY expression is materialised as a column FIRST: the
    // sortable-view CASE ladder references its operand ~50×, so inlining a
    // dynamic-kind expression tree multiplies its size (bi-q3's ORDER BY
    // DESC(float(?x)/?y) inlined to a 5.8M-char Sort node — megabytes of
    // codegen and minutes of driver CPU for a 10-row sort).
    var d = df
    var tmps = List.empty[String]
    val keys = conds.map { c =>
      val k = ExprCompiler.sortKeyStatic(c.expr, env).getOrElse {
        val operand = c.expr match {
          case EVar(v) => ExprCompiler.term(c.expr, env)
          case _ =>
            val tmp = fresh("ord")
            d = d.withColumn(tmp, ExprCompiler.term(c.expr, env))
            tmps ::= tmp
            col(tmp)
        }
        // ...and the LADDER is materialised too, so the Sort node orders by
        // a plain attribute: optimizer rules that walk sort expressions
        // (NestedColumnAliasing's pairwise semanticEquals over struct
        // extracts in particular) are superlinear in the ordering
        // expression's size, and the ladder inside Sort measurably took
        // bi-q8 from 1.6 s to minutes of pure driver plan time.
        val tmpK = fresh("ordk")
        d = d.withColumn(tmpK, TermCols.sortKey(operand))
        tmps ::= tmpK
        col(tmpK)
      }
      if (c.ascending) k.asc_nulls_first else k.desc_nulls_last
    }
    (d, keys, tmps)
  }
}

object Rewriter {
  /** Cap on null-pattern slice pairs in the compat-union join rewrite,
    * expressed as the EXPONENT sum (branches = 2^(|nullable-left| +
    * |nullable-right|)). 4 → ≤16 branches, covering up to two nullable
    * shared vars per side; beyond that the branch fan-out costs more than
    * the theta join it replaces, so the general path keeps such (rare,
    * deeply-OPTIONAL) shapes. Comparing exponents (not a shift product)
    * cannot overflow on hostile queries with ~63 nullable shared vars. */
  private[engine] val CompatUnionMaxBranchBits: Int = 4

  /** One null-pattern slice pair ([[Rewriter#slicePairs]]): the slices,
    * whether each is NULL on some shared var, and the equality of the shared
    * vars bound in both (None: every row pair is compatible). */
  private final case class SlicePair(l: DataFrame, lNull: Boolean, r: DataFrame, rNull: Boolean,
                                     keys: Option[Column])

  /** Drop all memoised closures, both the broadcast adjacencies and the
    * semi-naive loop's fixpoints (bench honesty: min-of-passes timing must
    * not report warm-artifact cost — see [[graft.ops.IndexCache.clearAll]]). */
  def clearClosureCache(): Unit = KleenePlus.clearCache()

  /** Field-level equality predicate for a bound term in a pattern slot —
    * stays pushdown-friendly (subject.v = '…' reaches the parquet scan). */
  private[engine] def termFilter(c: Column, t: RdfTerm): Column = t match {
    case Iri(v) => c.getField("t") === TermType.Iri && c.getField("v") === v
    case BNode(v) => c.getField("t") === TermType.BlankNode && c.getField("v") === v
    case Lit(v, dt, lang) =>
      c.getField("t") === TermType.Literal && c.getField("v") === v &&
        c.getField("dt") <=> lit(litDatatype(dt, lang)) && c.getField("lang") <=> lit(lang.orNull)
  }

  /** The stored datatype of a literal: null for simple literals (with or
    * without an explicit xsd:string), rdf:langString with a language tag. */
  private[engine] def litDatatype(dt: String, lang: Option[String]): String =
    if (lang.isEmpty && (dt == null || dt == Xsd.string)) null
    else if (lang.isDefined) Rdf.langString else dt

  /** Whether Catalyst's size estimate for this plan is both MEANINGFUL and
    * under the session's broadcast threshold (guide §3.1: pick the join
    * strategy deliberately; broadcast the side you KNOW is small).
    *
    * Meaningful: a pattern scan over a predicate-partitioned store
    * ([[graft.QuadStore#saveByPredicate]]) partition-prunes to one
    * directory, so `optimizedPlan.stats.sizeInBytes` is that directory's
    * real file size; a pattern over the relational mapping's union prunes
    * to the one per-column branch whose predicate matches, so the estimate
    * is that table scan's size. Both are trustworthy. NOT meaningful:
    * checkpointed RDD scans and filtered slices of a monolithic quad
    * relation — there sizeInBytes is the full-relation (or default ~8 EB)
    * figure, which simply fails the threshold, keeping today's behaviour.
    *
    * Estimates only ever OVER-state for these shapes (filters keep the
    * child's size when CBO can't refine), so a positive answer is safe at
    * any data scale; the threshold is [[StatSmallBytes]]. */
  private[engine] def statSmall(df: DataFrame): Boolean = {
    val plan = df.queryExecution.optimizedPlan
    val size = prunedScanSize(plan).getOrElse(plan.stats.sizeInBytes)
    size >= 0 && size <= StatSmallBytes
  }

  // Deliberately LOWER than spark.sql.autoBroadcastJoinThreshold: these
  // are columnar-compressed quad bytes, so 8 MB of parquet is ~2.4M term
  // rows — a hash relation that costs more to build + broadcast than the
  // shuffle it saves, and a broadcast chain keeps the streamed side's
  // (tiny) partitioning, so over-eager broadcasting collapses
  // parallelism (measured: wind-farm 5.9 s → 11.4 s with the 10 MB
  // threshold; metadata-only broadcasting is the win). 1 MB ≈ ≤300k
  // rows ≈ bounded-vocabulary metadata predicates.
  private val StatSmallBytes = 1L << 20

  /** See [[graft.ops.Joins.shuffleHashUnlessSmall]] — shared policy. */
  private[engine] def shuffleHashUnlessSmall(df: DataFrame): DataFrame =
    graft.ops.Joins.shuffleHashUnlessSmall(df)

  /** Partition-pruned byte size of a Project/Filter chain over ONE
    * partitioned parquet relation, or None when the shape doesn't match.
    * Spark only applies partition pruning to path-based reads at PHYSICAL
    * planning (FileSourceStrategy), so `optimizedPlan.stats` still reports
    * the FULL relation size for a `__pv = <iri>` slice of a
    * [[graft.QuadStore#saveByPredicate]] store; asking the relation's file
    * index with the plan's own partition-column predicates gives the real
    * post-pruning figure (the same one the scan node later reports as its
    * PartitionFilters size). In-memory listing — no Spark job, no I/O. */
  private def prunedScanSize(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Option[BigInt] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, Project => LProject}
    import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression => CExpr}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    def split(e: CExpr): Seq[CExpr] = e match {
      case And(l, r) => split(l) ++ split(r)
      case other => Seq(other)
    }
    @annotation.tailrec
    def walk(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
             conds: Seq[CExpr]): Option[(LogicalRelation, HadoopFsRelation, Seq[CExpr])] =
      p match {
        case LProject(_, child) => walk(child, conds)
        case LFilter(c, child) => walk(child, conds ++ split(c))
        case lr @ LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => Some((lr, fs, conds))
        case _ => None
      }
    try walk(plan, Nil).flatMap { case (lr, fs, conds) =>
      val partNames = fs.partitionSchema.fieldNames.toSet
      if (partNames.isEmpty) None
      else {
        val partAttrs = lr.output.filter(a => partNames.contains(a.name)).map(_.exprId).toSet
        val partConds = conds.filter(c =>
          c.references.nonEmpty && c.references.forall(a => partAttrs.contains(a.exprId)))
        // only a binding predicate actually prunes; anything else = full size
        if (!partConds.exists { case EqualTo(_, _) => true; case _ => false }) None
        else Some(BigInt(fs.location.listFiles(partConds, Nil)
          .iterator.flatMap(_.files).map(_.getLen).sum))
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }
}
