package graft.engine

import java.net.{URI, URLEncoder}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Duration
import graft.model._
import graft.sparql.Algebra._

/**
 * SERVICE federation — executes a federated pattern against a remote
 * SPARQL-protocol endpoint and returns its solutions as a local relation.
 *
 * Beyond the reference: rdf-fusion parses SERVICE but evaluates it as a
 * lazily-erroring stream (its testsuite ignores federation). We execute
 * BGP-bodied SERVICE blocks for real over the SPARQL protocol (GET
 * `?query=`, `Accept: application/sparql-results+json`) — which includes
 * federating against [[graft.web.SparqlServer]] itself. Non-BGP bodies
 * keep the reference's observable empty-relation behaviour.
 *
 * Scale posture: federation is inherently endpoint-bound — the remote
 * endpoint computes the pattern; the driver receives the solution set and
 * ships it to executors as a (broadcastable) local relation, which is the
 * standard federated-SPARQL execution model (cf. SERVICE handling in Jena
 * ARQ / Virtuoso). Join ordering then treats it like a VALUES block.
 */
object ServiceExecutor {

  /** Transport, replaceable for tests: (endpointUrl, queryText) → response
    * body expected to be application/sparql-results+json. */
  @volatile var transport: (String, String) => String = httpGet

  private lazy val client = HttpClient.newBuilder()
    .connectTimeout(Duration.ofSeconds(10)).build()

  private def httpGet(endpoint: String, query: String): String = {
    val sep = if (endpoint.contains("?")) "&" else "?"
    val uri = URI.create(endpoint + sep + "query=" + URLEncoder.encode(query, UTF_8))
    val req = HttpRequest.newBuilder(uri)
      .header("Accept", "application/sparql-results+json")
      .timeout(Duration.ofSeconds(60)).GET().build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() != 200)
      throw new RuntimeException(s"SERVICE endpoint returned HTTP ${resp.statusCode()}: ${resp.body().take(200)}")
    resp.body()
  }

  /** Run `queryText` remotely; returns (vars, rows). */
  def execute(endpoint: String, queryText: String): (Seq[String], Seq[Map[String, RdfTerm]]) =
    Results.readJson(transport(endpoint, queryText)) match {
      case Results.ReadSolutions(vars, rows) => (vars, rows)
      case other => throw new RuntimeException(s"SERVICE endpoint returned a non-solutions result: $other")
    }

  /**
   * Serialise a SERVICE body back to SPARQL text. Supported: basic graph
   * patterns (incl. blank nodes as variables — standard SERVICE semantics),
   * property paths, conjunctions, UNION, OPTIONAL, MINUS, GRAPH, BIND,
   * VALUES, nested SERVICE, full sub-SELECTs (projection, DISTINCT,
   * GROUP BY/HAVING, ORDER BY, LIMIT/OFFSET), and FILTERs over the full
   * expression algebra incl. EXISTS / IF / COALESCE. Anything else returns
   * None and the caller decides (SILENT → empty relation, else error).
   */
  def render(p: GraphPattern): Option[String] =
    renderPattern(p).map(body => s"SELECT * WHERE {\n$body\n}")

  /** Exactly the non-selectable variable names this renderer generates for
    * blank-node slots in `p` — the caller drops these (and ONLY these) from
    * the remote solutions, so a genuine user variable that happens to be
    * named like a placeholder is never swallowed. */
  def bnodePlaceholders(p: GraphPattern): Set[String] = {
    val out = Set.newBuilder[String]
    def tp(t: TermPattern): Unit = t match {
      case BNodePat(l) => out += s"__bn_$l"
      case _ =>
    }
    def walkE(e: Expr): Unit = e match {
      case EExists(inner, _) => walk(inner)
      case EOr(l, r) => walkE(l); walkE(r)
      case EAnd(l, r) => walkE(l); walkE(r)
      case ENot(x) => walkE(x)
      case ECmp(_, l, r) => walkE(l); walkE(r)
      case EArith(_, l, r) => walkE(l); walkE(r)
      case ENeg(x) => walkE(x)
      case EIf(c, t, f) => walkE(c); walkE(t); walkE(f)
      case ECoalesce(args) => args.foreach(walkE)
      case EIn(x, list, _) => walkE(x); list.foreach(walkE)
      case ECall(_, args) => args.foreach(walkE)
      case EAgg(Aggregate(_, _, arg, _)) => arg.foreach(walkE)
      case _ =>
    }
    def walk(g: GraphPattern): Unit = g match {
      case Bgp(ps) => ps.foreach { t => tp(t.s); tp(t.p); tp(t.o) }
      case PathPattern(s, _, o) => tp(s); tp(o)
      case Join(l, r) => walk(l); walk(r)
      case LeftJoin(l, r, f) => walk(l); walk(r); f.foreach(walkE)
      case Filter(e, i) => walkE(e); walk(i)
      case Union(l, r) => walk(l); walk(r)
      case GraphGraph(n, i) => tp(n); walk(i)
      case Extend(i, _, e) => walk(i); walkE(e)
      case Minus(l, r) => walk(l); walk(r)
      case Lateral(l, r) => walk(l); walk(r)
      case Group(i, keys, aggs) =>
        walk(i); keys.foreach(_._2.foreach(walkE)); aggs.foreach(a => a._2.arg.foreach(walkE))
      case SubSelect(q) => walk(q.where); q.projection.foreach(_.expr.foreach(walkE))
      case Service(ep, i, _) => tp(ep); walk(i)
      case BnodeScope(i) => walk(i)
      case _: ValuesPattern =>
    }
    walk(p)
    out.result()
  }

  private def renderPattern(p: GraphPattern): Option[String] = p match {
    case BnodeScope(inner) => renderPattern(inner)
    case Bgp(ps) =>
      Some(ps.map(tp => s"  ${slot(tp.s)} ${slot(tp.p)} ${slot(tp.o)} .").mkString("\n"))
    case PathPattern(s, path, o) =>
      Some(s"  ${slot(s)} ${renderPath(path)} ${slot(o)} .")
    case Join(l, r) =>
      for (a <- renderPattern(l); b <- renderPattern(r)) yield s"$a\n$b"
    case Filter(e, inner) =>
      for (i <- renderPattern(inner); f <- renderExpr(e)) yield s"$i\n  FILTER($f)"
    case Union(l, r) =>
      for (a <- renderPattern(l); b <- renderPattern(r))
        yield s"  {\n$a\n  } UNION {\n$b\n  }"
    case LeftJoin(l, r, cond) =>
      val condStr = cond match {
        case None => Some("")
        case Some(e) => renderExpr(e).map(f => s"\n  FILTER($f)")
      }
      for (a <- renderPattern(l); b <- renderPattern(r); c <- condStr)
        yield s"$a\n  OPTIONAL {\n$b$c\n  }"
    case Minus(l, r) =>
      for (a <- renderPattern(l); b <- renderPattern(r))
        yield s"$a\n  MINUS {\n$b\n  }"
    case GraphGraph(name, inner) =>
      renderPattern(inner).map(i => s"  GRAPH ${slot(name)} {\n$i\n  }")
    case Extend(inner, v, expr) =>
      for (i <- renderPattern(inner); e <- renderExpr(expr))
        yield s"$i\n  BIND($e AS ?${v.name})"
    case ValuesPattern(vars, rows) =>
      val header = vars.map(v => s"?${v.name}").mkString(" ")
      val body = rows.map(r =>
        "(" + r.map { case Some(t) => renderTerm(t); case None => "UNDEF" }.mkString(" ") + ")")
        .mkString(" ")
      Some(s"  VALUES ($header) { $body }")
    case SubSelect(q) => renderSelect(q).map(s => s"  {\n$s\n  }")
    case Service(ep, inner, silent) =>
      for (i <- renderPattern(inner)) yield
        s"  SERVICE ${if (silent) "SILENT " else ""}${slot(ep)} {\n$i\n  }"
    case _ => None
  }

  /** Full sub-SELECT → text. FROM clauses don't nest in SPARQL, so their
    * presence makes the query non-serialisable. The parser hoists aggregate
    * call sites into a Group node with generated ?__agg_N vars; fold them
    * back into the projection / HAVING / ORDER BY expressions so the
    * rendered text is plain SPARQL again. */
  private def renderSelect(q: SelectQuery): Option[String] = {
    if (q.fromDefault.nonEmpty || q.fromNamed.nonEmpty) return None
    val (whereP, aggMap, groupKeys) = q.where match {
      case Group(inner, keys, aggs) =>
        (inner, aggs.map { case (v, a) => v.name -> a }.toMap, keys)
      case other => (other, Map.empty[String, Aggregate], q.groupBy)
    }
    def subst(e: Expr): Expr = substAggs(e, aggMap)
    val projOpt: Option[String] =
      if (q.projection.isEmpty) Some("*")
      else traverseOpt(q.projection.map {
        case ProjItem(v, None) => Some(s"?${v.name}")
        case ProjItem(v, Some(e)) => renderExpr(subst(e)).map(s => s"($s AS ?${v.name})")
      }).map(_.mkString(" "))
    val groupOpt: Option[String] =
      if (groupKeys.isEmpty) Some("")
      else traverseOpt(groupKeys.map {
        case (v, None) => Some(s"?${v.name}")
        case (v, Some(e)) => renderExpr(e).map(s => s"($s AS ?${v.name})")
      }).map(ks => s"\nGROUP BY ${ks.mkString(" ")}")
    val havingOpt: Option[String] = q.having match {
      case None => Some("")
      case Some(e) => renderExpr(subst(e)).map(s => s"\nHAVING($s)")
    }
    val orderOpt: Option[String] =
      if (q.orderBy.isEmpty) Some("")
      else traverseOpt(q.orderBy.map(oc =>
        renderExpr(subst(oc.expr)).map(s => if (oc.ascending) s"ASC($s)" else s"DESC($s)")))
        .map(os => s"\nORDER BY ${os.mkString(" ")}")
    for (proj <- projOpt; body <- renderPattern(whereP); g <- groupOpt;
         h <- havingOpt; o <- orderOpt) yield {
      val mod = if (q.distinct) "DISTINCT " else if (q.reduced) "REDUCED " else ""
      val lim = q.limit.map(n => s"\nLIMIT $n").getOrElse("")
      val off = q.offset.map(n => s"\nOFFSET $n").getOrElse("")
      s"SELECT $mod$proj WHERE {\n$body\n}$g$h$o$lim$off"
    }
  }

  /** Replace hoisted-aggregate variable references with their EAgg sites. */
  private def substAggs(e: Expr, m: Map[String, Aggregate]): Expr =
    if (m.isEmpty) e else e match {
      case EVar(v) if m.contains(v.name) => EAgg(m(v.name))
      case EOr(l, r) => EOr(substAggs(l, m), substAggs(r, m))
      case EAnd(l, r) => EAnd(substAggs(l, m), substAggs(r, m))
      case ENot(x) => ENot(substAggs(x, m))
      case ECmp(op, l, r) => ECmp(op, substAggs(l, m), substAggs(r, m))
      case EArith(op, l, r) => EArith(op, substAggs(l, m), substAggs(r, m))
      case ENeg(x) => ENeg(substAggs(x, m))
      case EIf(c, t, f) => EIf(substAggs(c, m), substAggs(t, m), substAggs(f, m))
      case ECoalesce(args) => ECoalesce(args.map(substAggs(_, m)))
      case EIn(x, list, n) => EIn(substAggs(x, m), list.map(substAggs(_, m)), n)
      case ECall(n, args) => ECall(n, args.map(substAggs(_, m)))
      case other => other
    }

  private def renderPath(p: PropertyPath): String = p match {
    case PathLink(iri) => s"<${iri.value}>"
    case PathReverse(x) => s"^(${renderPath(x)})"
    case PathSequence(a, b) => s"(${renderPath(a)}/${renderPath(b)})"
    case PathAlternative(a, b) => s"(${renderPath(a)}|${renderPath(b)})"
    case PathZeroOrMore(x) => s"(${renderPath(x)})*"
    case PathOneOrMore(x) => s"(${renderPath(x)})+"
    case PathZeroOrOne(x) => s"(${renderPath(x)})?"
    case PathNegated(fwd, rev) =>
      "!(" + (fwd.map(i => s"<${i.value}>") ++ rev.map(i => s"^<${i.value}>")).mkString("|") + ")"
  }

  /** Serialisable expression subset → SPARQL text (None = unsupported). */
  private def renderExpr(e: Expr): Option[String] = e match {
    case ETerm(t) => Some(renderTerm(t))
    case EVar(v) => Some(s"?${v.name}")
    case EOr(l, r) => bin(l, r, "||")
    case EAnd(l, r) => bin(l, r, "&&")
    case ENot(x) => renderExpr(x).map(s => s"(!($s))")
    case ECmp(op, l, r) => bin(l, r, op)
    case EArith(op, l, r) => bin(l, r, op)
    case ENeg(x) => renderExpr(x).map(s => s"(-($s))")
    case EBound(v) => Some(s"BOUND(?${v.name})")
    case EIf(c, t, f) =>
      for (a <- renderExpr(c); b <- renderExpr(t); d <- renderExpr(f))
        yield s"IF($a, $b, $d)"
    case ECoalesce(args) => traverse(args).map(as => s"COALESCE(${as.mkString(", ")})")
    case EExists(p, negated) =>
      renderPattern(p).map(body =>
        s"${if (negated) "NOT EXISTS" else "EXISTS"} {\n$body\n  }")
    case EIn(x, list, neg) =>
      for (s <- renderExpr(x); items <- traverse(list)) yield
        s"($s ${if (neg) "NOT IN" else "IN"} (${items.mkString(", ")}))"
    case EAgg(Aggregate(name, distinct, arg, sep)) =>
      val inner = arg match {
        case None => Some("*")
        case Some(x) => renderExpr(x)
      }
      inner.map { a =>
        val d = if (distinct) "DISTINCT " else ""
        val s = sep.map(v => s"; SEPARATOR=${renderTerm(Lit(v, null, None))}").getOrElse("")
        s"$name($d$a$s)"
      }
    case ECall(name, args) if !name.contains(":") || name.startsWith("http") =>
      // builtin (parser keyword) or full-IRI custom function
      traverse(args).map { as =>
        val fn = if (name.startsWith("http")) s"<$name>" else name
        s"$fn(${as.mkString(", ")})"
      }
    case _ => None
  }

  private def traverseOpt(os: Seq[Option[String]]): Option[Seq[String]] =
    if (os.forall(_.isDefined)) Some(os.map(_.get)) else None

  private def bin(l: Expr, r: Expr, op: String): Option[String] =
    for (a <- renderExpr(l); b <- renderExpr(r)) yield s"($a $op $b)"

  private def traverse(es: Seq[Expr]): Option[Seq[String]] = {
    val rs = es.map(renderExpr)
    if (rs.forall(_.isDefined)) Some(rs.map(_.get)) else None
  }

  private def slot(t: TermPattern): String = t match {
    case VarPat(v) => s"?${v.name}"
    case BNodePat(l) => s"?__bn_$l" // bnodes in patterns are non-selectable variables
    case TermPat(term) => renderTerm(term)
  }

  private def renderTerm(t: RdfTerm): String = {
    val sb = new java.lang.StringBuilder
    graft.sources.NTriples.appendTerm(sb, graft.sources.NTriples.termRow(t), escapeTab = true)
    sb.toString
  }
}
