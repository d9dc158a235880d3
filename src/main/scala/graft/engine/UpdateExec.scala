package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QuadStore
import graft.encoding.TermCols
import graft.model._
import graft.sparql.{Algebra, SparqlParser}
import graft.sparql.Algebra._

/**
 * SPARQL 1.1 Update executor over the immutable [[QuadStore]].
 *
 * The reference stubs this whole surface (`Store::update`,
 * /root/reference/lib/rdf-fusion/src/store.rs:409-414 —
 * `unimplemented!()`, "TODO #7: Implement Update"); here every operation
 * executes. Each op is a DataFrame transformation of the previous state —
 * snapshot isolation falls out of immutability, and a whole request
 * composes lazily into one Catalyst plan that materialises only when the
 * resulting store is read or saved.
 *
 * Set semantics (RDF graphs are sets): every quad-adding op inserts only
 * the genuinely-new quads (see [[unionDistinct]] — a scan-only semi-join
 * against the additions, never a whole-store shuffle), so a re-inserted
 * quad is a no-op and bag-sensitive aggregates over later ops of the same
 * request stay correct. Deletion is an anti-join keyed on all four columns
 * (null-safe: the default graph is NULL), which removes every copy — the
 * scale path at 100 TB is the join, never a driver loop; the delete side
 * is result-sized and AQE broadcasts it when small.
 */
private[graft] object UpdateExec {

  /** `protoUsingDefault`/`protoUsingNamed`: the SPARQL 1.1 Protocol's
    * using-graph-uri / using-named-graph-uri parameters — a request-level
    * dataset each pattern-bearing operation evaluates against. Supplying
    * them alongside an operation's own USING clause — or an operation
    * using WITH — is an error (protocol §2.2.3: "it is an error to
    * supply [them] for a SPARQL 1.1 Update request that contains an
    * operation that uses the USING, USING NAMED, or WITH clause"). */
  def apply(store: QuadStore, text: String,
            protoUsingDefault: Seq[Iri] = Nil,
            protoUsingNamed: Seq[Iri] = Nil): QuadStore = {
    val req = SparqlParser.parseUpdate(text)
    if (protoUsingDefault.nonEmpty || protoUsingNamed.nonEmpty)
      req.ops.foreach {
        case m: Modify if m.usingDefault.nonEmpty || m.usingNamed.nonEmpty ||
            m.withGraph.nonEmpty =>
          throw new IllegalArgumentException(
            "protocol using-graph-uri parameters cannot be combined with a USING or WITH clause")
        case _ =>
      }
    // Lineage cut by PLAN-GROWTH WEIGHT, not op count: each op embeds the
    // previous state's plan k times (Modify ≈ 6× — the delete anti-join,
    // the insert semi-join + union, and the WHERE solve all reference it),
    // so plan size grows ~k^n BETWEEN cuts — a fixed every-8-ops cut still
    // admitted ~6^8 ≈ 1.7M-leaf plans that ground Catalyst for minutes
    // (measured by graft.tools.UpdatePlanProbe). Multiplying a per-op growth
    // factor and cutting when the product exceeds cutWeight bounds every
    // compiled plan to ~cutWeight leaves, making a 100-op request linear.
    // The checkpoint is store-snapshot-sized but amortised over the ops
    // between cuts. The weight starts from the input snapshot's and travels
    // with the returned one, so a run of requests (each below the cut on its
    // own — a single Modify is 8 < 64) still cuts: per-request accounting
    // let such a chain compound ~8^n leaves. The weight only advances when
    // the op actually grew the plan (`next.quads ne st.quads` — SILENT
    // no-ops and registry-only ops leave it untouched), and the product is
    // clamped so a long run of growth cannot overflow Long and silently
    // disable every later cut.
    req.ops.foldLeft(store) { (st, op) =>
      val next = exec(st, op, protoUsingDefault, protoUsingNamed)
      if (next.quads eq st.quads) next
      else {
        val w = math.min(st.weight * opGrowth(op), 1L << 40)
        if (w >= lineageCutWeight) next.cutLineage() else next.withWeight(w)
      }
    }
  }

  /** How many times an op's output plan embeds its input store plan. */
  private def opGrowth(op: UpdateOp): Long = op match {
    case _: Modify => 8      // anti-join + semi-join + union + WHERE solve
    case _: DeleteWhere => 4 // anti-join + pattern solve
    case _: AddOp | _: CopyOp | _: MoveOp => 3
    case _ => 2              // data ops / LOAD / CLEAR-family
  }

  /** Accumulated growth product that triggers a lineage cut (bounds every
    * compiled plan to about this many store-plan leaves); overridable for
    * probes/specs via -Dgraft.update.cutWeight. */
  private def lineageCutWeight: Long =
    sys.props.get("graft.update.cutWeight").map(_.toLong).getOrElse(64L)

  private def exec(store: QuadStore, op: UpdateOp,
                   protoDefault: Seq[Iri] = Nil, protoNamed: Seq[Iri] = Nil): QuadStore = op match {

    case InsertData(qs) =>
      // ground by construction (parser-validated); bnodes are fresh per op
      val nonce = freshNonce()
      val quads = qs.map(q => RdfQuad(
        q.graph.map(groundTerm(_, nonce)),
        groundTerm(q.s, nonce), groundPred(q.p, nonce), groundTerm(q.o, nonce)))
      validateGround(quads)
      unionDistinct(store, graft.sources.Turtle.quadsToDF(spark(store), quads))

    case DeleteData(qs) =>
      val quads = qs.map(q => RdfQuad(q.graph.map(groundTerm(_, "")),
        groundTerm(q.s, ""), groundPred(q.p, ""), groundTerm(q.o, "")))
      validateGround(quads)
      // parser-sized ground data: always broadcast the anti-join side
      minusQuads(store, graft.sources.Turtle.quadsToDF(spark(store), quads),
        broadcastDel = true)

    case DeleteWhere(qs) =>
      val (plan, small) = sizedSolutions(store,
        solve(store, quadsAsPattern(qs), protoDefault, protoNamed, None), qs.size)
      minusQuads(store, instantiate(plan, qs, None, insertBnodes = false),
        broadcastDel = small)

    case Modify(withGraph, del, ins, usingDefault, usingNamed, where) =>
      // the protocol dataset applies when the op carries no USING of its
      // own (combining both already rejected in apply())
      val (ud, un) =
        if (usingDefault.isEmpty && usingNamed.isEmpty) (protoDefault, protoNamed)
        else (usingDefault, usingNamed)
      val (plan, small) = sizedSolutions(store,
        solve(store, where, ud, un, withGraph), math.max(del.size, ins.size))
      // both template sides instantiate against the PRE-update state
      // (spec §3.1.3: DELETE and INSERT see the same solution multiset)
      val afterDel =
        if (del.isEmpty) store
        else minusQuads(store, instantiate(plan, del, withGraph, insertBnodes = false),
          broadcastDel = small)
      if (ins.isEmpty) afterDel
      else unionDistinct(afterDel, instantiate(plan, ins, withGraph, insertBnodes = true),
        broadcastAdds = small)

    case LoadOp(source, into, silent) =>
      try {
        val loaded0 =
          if (source.value.startsWith("http://") || source.value.startsWith("https://"))
            loadHttp(spark(store), source.value)
          else QuadStore.loadFile(spark(store), source.value.stripPrefix("file://")).quads
        // Force materialisation INSIDE the try: .nt/.nq line parsing runs
        // lazily on executors, so without this a malformed document would
        // escape the SILENT handler and crash a later, unrelated action on
        // the store — or, for a non-SILENT LOAD, escape the UPDATE REQUEST
        // entirely and poison a write-ahead log / protocol response whose
        // contract is "a failed request has no effect". The checkpoint is
        // document-sized.
        val loaded = loaded0.localCheckpoint()
        val retargeted = into match {
          case Some(g) => loaded.withColumn("graph", ExprCompiler.termLit(g))
          case None => loaded
        }
        unionDistinct(store, retargeted)
      } catch {
        // SILENT means ignore LOAD failures (transport, parse, missing
        // document) — not machine failures: fatal Throwables (OOM, linkage
        // errors) must still propagate.
        case scala.util.control.NonFatal(_) if silent => store
      }

    case ClearOp(target, silent) => clearOrDrop(store, target, silent, drop = false)
    case DropOp(target, silent) => clearOrDrop(store, target, silent, drop = true)

    case CreateOp(g, silent) =>
      if (store.containsNamedGraph(g)) {
        if (silent) store
        else throw new IllegalArgumentException(s"CREATE: graph $g already exists")
      } else store.insertNamedGraph(g)

    case AddOp(from, to, silent) =>
      if (from == to) store
      else graphQuads(store, from, silent, "ADD") match {
        // SILENT + missing named source: the failed operation leaves the
        // store UNCHANGED (spec §3.2.5 / W3C update-silent add07) — the
        // destination graph is NOT registered
        case None => store
        case Some(src) =>
          // ADD creates the destination graph if absent, even when the
          // source is empty — register a named destination
          val base = to.fold(store)(store.insertNamedGraph)
          unionDistinct(base, src.withColumn("graph", graphLit(to)))
      }

    case CopyOp(from, to, silent) =>
      if (from == to) store
      else graphQuads(store, from, silent, "COPY") match {
        // SILENT + missing source must NOT clear the destination
        // (W3C update-silent copy07)
        case None => store
        case Some(src) =>
          // COPY replaces the destination: clear it, then insert the source
          store.clearGraph(to).union(
            src.withColumn("graph", graphLit(to)).dropDuplicates())
      }

    case MoveOp(from, to, silent) =>
      if (from == to) store
      else graphQuads(store, from, silent, "MOVE") match {
        // SILENT + missing source must NOT clear the destination or drop
        // anything (W3C update-silent move07)
        case None => store
        case Some(src) =>
          val cleared = store.clearGraph(to)
          val dropped = from match {
            case Some(g) => cleared.removeNamedGraph(g)
            case None => cleared.clearGraph(None)
          }
          dropped.union(src.withColumn("graph", graphLit(to)).dropDuplicates())
      }
  }

  // ------------------------------------------------------------------ helpers

  private def spark(store: QuadStore): SparkSession = store.quads.sparkSession

  /** Set-semantics insert: RDF graphs are sets, so a re-inserted quad must
    * be a no-op. NOT a whole-store dropDuplicates (that reshuffles the
    * entire store per update — fatal at 100 TB): instead the store is
    * SCANNED once with a semi-join against the additions (the additions
    * side is the broadcast/build side — result-sized, usually tiny), and
    * only genuinely-new quads union in. The store itself is never
    * shuffled; the two small relations (deduped adds, their existing
    * copies) shuffle at additions-scale. */
  private def unionDistinct(store: QuadStore, adds: DataFrame,
                            broadcastAdds: Boolean = false): QuadStore = {
    val cols = Seq("graph", "subject", "predicate", "object")
    val a = adds.select(cols.map(col): _*).dropDuplicates(cols)
    val probe0 = a.select(col("graph").as("__ag"), col("subject").as("__as"),
      col("predicate").as("__ap"), col("object").as("__ao"))
    // Pin broadcast when the additions side is MEASURED small: AQE's static
    // byte threshold missed just-over-10MB instantiated sides and fell back
    // to a SortMergeJoin that sorts + shuffles the whole store
    // (tools/UpdateScaleProbe measured 3 of them over a 20M-quad store).
    val probe = if (broadcastAdds) probe0.hint("broadcast") else probe0
    val existing = store.quads.join(probe,
      col("graph") <=> col("__ag") && col("subject") <=> col("__as") &&
        col("predicate") <=> col("__ap") && col("object") <=> col("__ao"),
      "left_semi")
    store.withQuads(store.quads.unionByName(a.exceptAll(existing)))
  }

  /** Remove every store quad matching a delete-side quad — one anti-join on
    * all four columns, null-safe for the NULL default graph and nested
    * NULL dt/lang fields. `broadcastDel` pins the result-sized side as the
    * broadcast build side (see unionDistinct). */
  private def minusQuads(store: QuadStore, del: DataFrame,
                         broadcastDel: Boolean = false): QuadStore = {
    val d0 = del.select(col("graph").as("__dg"), col("subject").as("__ds"),
      col("predicate").as("__dp"), col("object").as("__do"))
    val d = if (broadcastDel) d0.hint("broadcast") else d0
    store.withQuads(store.quads.join(d,
      col("graph") <=> col("__dg") && col("subject") <=> col("__ds") &&
        col("predicate") <=> col("__dp") && col("object") <=> col("__do"),
      "left_anti"))
  }

  /** Materialize an op's WHERE solution relation ONCE (both template sides
    * instantiate from it, and each side is referenced 2-3 more times in the
    * anti/semi joins — without the checkpoint the solve re-runs per
    * reference) and measure it. A template side holds at most
    * solutions × templates quads, so when that bound is under
    * [[BroadcastRows]] (1M rows, a few hundred MB of term structs) the
    * caller pins the side as the broadcast build side and the store side of
    * the anti/semi joins never shuffles. Larger sides
    * fall back to the planner — at that size a shuffle join is the correct
    * plan and a pinned broadcast would OOM the driver. One eager
    * solution-sized job per op, shared by both sides. */
  private def sizedSolutions(store: QuadStore, plan: SPlan,
                             nTemplates: Int): (SPlan, Boolean) = {
    // The WHERE solutions are ALWAYS pinned (localCheckpoint): every quad
    // template embeds the solution relation into the post-update store's
    // lineage, so an un-pinned WHERE re-executes its full pattern join once
    // per template per LATER read of the store — measured on sparql_update,
    // whose earlier store-size-gated variant (only pin when the store
    // exceeded 512 MB) left the supplier scan + star pivot running 4x
    // inside the post-update SELECT's one plan, all of it driver/fixed-cost
    // bound (the r9 scaling block's ratio ≈ 1). The pin costs the same work
    // as a single re-execution, is solution-relation-sized (bounded by the
    // WHERE result — the thing an update must materialise anyway at any
    // scale), and makes the count on the cached blocks cheap; the count
    // drives the broadcast-vs-shuffle choice for the delete/insert
    // anti/semi joins exactly as before.
    val m = plan.df.localCheckpoint()
    val bound = m.count() * math.max(nTemplates, 1)
    (plan.copy(df = m), bound <= BroadcastRows)
  }

  private val BroadcastRows = 1000000L

  /** Evaluate an update WHERE clause. Dataset rules (spec §3.1.3): USING
    * clauses act like FROM/FROM NAMED; otherwise WITH sets the default
    * scope; otherwise the store's default graph. */
  private def solve(store: QuadStore, where: GraphPattern, usingDefault: Seq[Iri],
                    usingNamed: Seq[Iri], withGraph: Option[Iri]): SPlan = {
    val scope =
      if (usingDefault.nonEmpty) GraphScope.UnionOf(usingDefault.map(_.value))
      // USING NAMED without USING: the described dataset has an EMPTY
      // default graph, and WITH is ignored for the WHERE clause (§3.1.3)
      else if (usingNamed.nonEmpty) GraphScope.UnionOf(Nil)
      else withGraph match {
        case Some(g) => GraphScope.Named(g.value)
        case None => GraphScope.DefaultGraph
      }
    new Rewriter(spark(store), store.quads, usingNamed.map(_.value),
        hasDatasetClause = usingDefault.nonEmpty || usingNamed.nonEmpty)
      .pattern(where, scope)
  }

  /** DELETE WHERE: the quad templates double as the pattern — default-graph
    * quads form one BGP, each GRAPH group wraps its own. */
  private def quadsAsPattern(qs: Seq[QuadPattern]): GraphPattern = {
    val parts = Vector.newBuilder[GraphPattern]
    val defaults = qs.collect { case QuadPattern(None, s, p, o) => TriplePattern(s, p, o) }
    if (defaults.nonEmpty) parts += Bgp(defaults)
    // preserve first-appearance order of graph groups (groupBy is unordered)
    val named = qs.filter(_.graph.isDefined)
    named.map(_.graph.get).distinct.foreach { g =>
      parts += GraphGraph(g,
        Bgp(named.filter(_.graph.get == g).map(q => TriplePattern(q.s, q.p, q.o))))
    }
    parts.result() match {
      case Vector() => Bgp(Nil)
      case ps => ps.reduce(Join(_, _))
    }
  }

  /**
   * Instantiate quad templates against a solution relation → quads
   * DataFrame. Invalid instantiations are skipped per spec: unbound
   * variables, literal subjects, non-IRI predicates, literal graph names.
   * INSERT-template bnodes are fresh PER SOLUTION (scoped by a row id and a
   * per-op nonce).
   */
  private def instantiate(plan: SPlan, qs: Seq[QuadPattern],
                          defaultGraph: Option[Iri], insertBnodes: Boolean): DataFrame = {
    val nonce = freshNonce()
    val hasBnodes = insertBnodes && qs.exists(q =>
      Seq(q.s, q.p, q.o).exists(_.isInstanceOf[BNodePat]) ||
        q.graph.exists(_.isInstanceOf[BNodePat]))
    // When templates mint bnodes, PIN the row ids before fanning out to the
    // per-template selects: monotonically_increasing_id depends on partition
    // layout, and the union re-evaluates the solution plan once per
    // template — without the checkpoint a shuffle could re-deal ids between
    // evaluations and the "same" solution's bnode would not be co-referent
    // across templates (a subtly wrong, non-co-referent graph). The
    // checkpoint is solution-relation-sized.
    val stamped = plan.df.withColumn("__row", monotonically_increasing_id())
    val df = if (hasBnodes) stamped.localCheckpoint() else stamped
    val inScope = plan.vars.toSet
    def slot(tp: TermPattern): Column = tp match {
      case VarPat(v) => if (inScope(v.name)) col(v.name) else TermCols.nullTerm
      case TermPat(t) => ExprCompiler.termLit(t)
      case BNodePat(l) =>
        // only reachable on the INSERT side (parser rejects delete bnodes)
        TermCols.bnode(concat(lit(s"${l}_${nonce}_"),
          col("__row").cast(org.apache.spark.sql.types.StringType)))
    }
    val defaultG: Column =
      defaultGraph.map(g => ExprCompiler.termLit(g)).getOrElse(TermCols.nullTerm)
    val parts = qs.map { q =>
      val part = df.select(q.graph.map(slot).getOrElse(defaultG).as("graph"),
        slot(q.s).as("subject"), slot(q.p).as("predicate"), slot(q.o).as("object"))
      // an EXPLICIT graph slot that evaluates to NULL is an UNBOUND graph
      // variable — that instantiation is skipped (spec: invalid), and must
      // NOT be conflated with "no graph slot" (NULL = the default graph)
      q.graph match {
        case Some(VarPat(_)) => part.filter(col("graph").isNotNull)
        case _ => part
      }
    }
    parts.reduce(_ unionAll _)
      .filter(col("subject").isNotNull && col("subject.t") =!= TermType.Literal &&
        col("predicate").isNotNull && col("predicate.t") === TermType.Iri &&
        col("object").isNotNull &&
        (col("graph").isNull || col("graph.t") =!= TermType.Literal))
      .dropDuplicates()
  }

  private def clearOrDrop(store: QuadStore, target: GraphTarget, silent: Boolean,
                          drop: Boolean): QuadStore = target match {
    case GraphTarget.Default => store.clearGraph(None)
    case GraphTarget.Named(g) =>
      if (!store.containsNamedGraph(g)) {
        if (silent) store
        else throw new IllegalArgumentException(
          s"${if (drop) "DROP" else "CLEAR"}: graph $g does not exist")
      } else if (drop) store.removeNamedGraph(g)
      else store.clearGraph(Some(g))
    case GraphTarget.AllNamed =>
      if (drop) store.withQuads(store.quads.filter(col("graph").isNull), Set.empty)
      else {
        // keep every named graph listed as empty (oxigraph semantics)
        val graphs = namedGraphTerms(store)
        store.withQuads(store.quads.filter(col("graph").isNull), store.reg ++ graphs)
      }
    case GraphTarget.All =>
      if (drop) store.clear()
      else {
        val graphs = namedGraphTerms(store)
        store.withQuads(store.quads.limit(0), store.reg ++ graphs)
      }
  }

  /** Named-graph terms, collected. Bounded by the store's GRAPH vocabulary —
    * a metadata-scale set, not data-scale. */
  private def namedGraphTerms(store: QuadStore): Set[RdfTerm] =
    store.namedGraphs().collect().map { r =>
      val t = r.getStruct(0)
      if (t.getByte(0) == TermType.BlankNode) BNode(t.getString(1)) else Iri(t.getString(1))
    }.toSet

  /** Source-graph quads for ADD/MOVE/COPY. A missing NAMED source errors,
    * or under SILENT returns None — the caller must leave the store
    * UNCHANGED (spec §3.2.3-5: SILENT suppresses the error; the failed
    * operation has no effect). The default graph always exists. */
  private def graphQuads(store: QuadStore, from: Option[Iri], silent: Boolean,
                         opName: String): Option[DataFrame] = from match {
    case None => Some(store.quads.filter(col("graph").isNull))
    case Some(g) =>
      if (store.containsNamedGraph(g)) Some(store.quadsForPattern(graph = Some(Some(g))))
      else if (silent) None
      else throw new IllegalArgumentException(s"$opName: source graph $g does not exist")
  }

  /** LOAD from an http(s) IRI: dereference the document (following
    * redirects), dispatch the reader on Content-Type (falling back to the
    * URL's extension), and parallelise the parsed quads. A LOADed document
    * is driver-sized by nature — the scale path for bulk data is parquet /
    * file loads, not single-document dereference (spec §3.1.4). */
  private def loadHttp(spark: SparkSession, url: String): DataFrame = {
    import java.net.http.{HttpClient, HttpRequest, HttpResponse}
    val client = HttpClient.newBuilder()
      .followRedirects(HttpClient.Redirect.NORMAL)
      .connectTimeout(java.time.Duration.ofSeconds(10)).build()
    val req = HttpRequest.newBuilder(java.net.URI.create(url))
      .header("Accept",
        "text/turtle, application/n-triples, application/n-quads, application/trig, application/rdf+xml")
      .timeout(java.time.Duration.ofSeconds(60)).GET().build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() / 100 != 2)
      throw new RuntimeException(s"LOAD <$url> returned HTTP ${resp.statusCode()}")
    val ctype = resp.headers().firstValue("Content-Type").orElse("").toLowerCase
      .takeWhile(_ != ';').trim
    val lowerUrl = url.toLowerCase.takeWhile(c => c != '?' && c != '#')
    val body = resp.body()
    val quads: Seq[RdfQuad] =
      if (ctype == "application/rdf+xml" || lowerUrl.endsWith(".rdf") || lowerUrl.endsWith(".owl"))
        graft.sources.RdfXml.parse(body, docIri = url)
      else if (ctype == "application/n-triples" || ctype == "application/n-quads" ||
               lowerUrl.endsWith(".nt") || lowerUrl.endsWith(".nq"))
        body.linesIterator.flatMap(graft.sources.NTriples.parseLine(_)).toSeq
      else // turtle / trig / unknown → the Turtle-family parser (strict)
        graft.sources.Turtle.parse(body)
    graft.sources.Turtle.quadsToDF(spark, quads)
  }

  private def graphLit(to: Option[Iri]): Column =
    to.map(g => ExprCompiler.termLit(g)).getOrElse(TermCols.nullTerm)

  private def groundTerm(tp: TermPattern, nonce: String): RdfTerm = tp match {
    case TermPat(t) => t
    case BNodePat(l) => BNode(s"${l}_$nonce") // fresh per data op
    case VarPat(v) => throw new IllegalArgumentException(
      s"variable ?${v.name} in ground quad data") // unreachable: parser validates
  }

  private def groundPred(tp: TermPattern, nonce: String): Iri = groundTerm(tp, nonce) match {
    case i: Iri => i
    case other => throw new IllegalArgumentException(s"non-IRI predicate in quad data: $other")
  }

  /** Data-op validity: literal subjects/graph names are syntax errors in
    * ground data (TriplesTemplate accepts them syntactically). */
  private def validateGround(qs: Seq[RdfQuad]): Unit = qs.foreach { q =>
    if (q.subject.isInstanceOf[Lit])
      throw new IllegalArgumentException(s"literal subject in quad data: ${q.subject}")
    if (q.graph.exists(_.isInstanceOf[Lit]))
      throw new IllegalArgumentException(s"literal graph name in quad data")
  }

  private val opCounter = new java.util.concurrent.atomic.AtomicLong()
  /** Per-op bnode scope nonce: unique within and across requests. */
  private def freshNonce(): String =
    java.lang.Long.toHexString(opCounter.incrementAndGet()) + "u" +
      java.util.UUID.randomUUID().toString.take(8)
}
