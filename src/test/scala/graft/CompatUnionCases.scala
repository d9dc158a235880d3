package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.engine.Graft
import graft.model._
import graft.sources.Turtle

/** Random query shapes that take the compat-union rewrite (joins, MINUS and
  * EXISTS whose shared variables are OPTIONAL-introduced, so nullable), each
  * over a small random graph, and the bag comparison against the theta join
  * ([[Graft.thetaCompat]]), the rewrite's semantic reference. The cases of the
  * compat-union differentials. */
object CompatUnionCases {

  /** One generated case: the query, its quads and the variables compared. */
  final case class Case(query: String, quads: DataFrame, vars: Seq[String])

  /** (shape name, first seed, generator). */
  val shapes: Seq[(String, Int, (SparkSession, Int) => Case)] = Seq(
    ("inner OPTIONAL chain", 1, innerChain),
    ("chained-OPTIONAL left join", 100, leftChain),
    ("filtered OPTIONAL chain", 200, filteredChain),
    ("two-nullable-var join", 300, twoVar),
    ("nullable MINUS", 400, minusNullable),
    ("nullable EXISTS", 500, existsNullable))

  /** The sorted bag of `vars` over `df`'s rows, NULL as ∅. */
  def bag(df: DataFrame, vars: Seq[String]): Seq[String] =
    df.collect().toSeq.map { r =>
      vars.map { v =>
        val i = r.fieldIndex(v)
        if (r.isNullAt(i)) "∅" else {
          val st = r.getStruct(i)
          st.getByte(0) + "|" + st.getString(1)
        }
      }.mkString(" ")
    }.sorted

  /** (engine bag, theta-join bag) of a case. */
  def compare(c: Case): (Seq[String], Seq[String]) =
    (bag(Graft(c.quads).select(c.query), c.vars),
      bag(Graft.thetaCompat(c.quads).select(c.query), c.vars))

  private def randomQuads(spark: SparkSession, rnd: scala.util.Random, nPreds: Int): DataFrame = {
    val nodes = (0 until 7).map(i => Iri(s"urn:n$i"))
    val preds = (0 until nPreds).map(i => Iri(s"urn:p$i"))
    val triples = Seq.fill(16 + rnd.nextInt(14))(
      (nodes(rnd.nextInt(nodes.size)), preds(rnd.nextInt(preds.size)),
        nodes(rnd.nextInt(nodes.size)))).distinct
    Turtle.quadsToDF(spark, triples.map(t => RdfQuad(None, t._1, t._2, t._3)))
  }

  /** A random graph over `nPreds` predicates and a predicate picker over them. */
  private def setup(spark: SparkSession, seed: Int, nPreds: Int): (DataFrame, () => String) = {
    val rnd = new scala.util.Random(seed)
    (randomQuads(spark, rnd, nPreds), () => s"<urn:p${rnd.nextInt(nPreds)}>")
  }

  /** Inner join of two OPTIONAL blocks sharing only the nullable ?x:
    * the no-equi compat shape (nullable on BOTH sides). */
  def innerChain(spark: SparkSession, seed: Int): Case = {
    val (quads, p) = setup(spark, seed, 4)
    Case(s"""SELECT ?a ?b ?x WHERE {
            |  { ?a ${p()} ?s . OPTIONAL { ?s ${p()} ?x } }
            |  { ?b ${p()} ?t . OPTIONAL { ?t ${p()} ?x } }
            |}""".stripMargin, quads, Seq("a", "b", "x"))
  }

  /** Chained OPTIONALs: the second left join's shared ?x is nullable on the
    * left, definitely bound on the right — the left-join decomposition
    * (inner matches ∪ anti-keyed unmatched). */
  def leftChain(spark: SparkSession, seed: Int): Case = {
    val (quads, p) = setup(spark, seed, 4)
    Case(s"""SELECT ?a ?x ?y WHERE {
            |  ?a ${p()} ?s . OPTIONAL { ?s ${p()} ?x } OPTIONAL { ?x ${p()} ?y }
            |}""".stripMargin, quads, Seq("a", "x", "y"))
  }

  /** FILTER inside the OPTIONAL referencing an outer var — the filter rides
    * inside the join condition, so unmatched-by-filter rows must null-pad. */
  def filteredChain(spark: SparkSession, seed: Int): Case = {
    val (quads, p) = setup(spark, seed, 3)
    Case(s"""SELECT ?a ?x ?y WHERE {
            |  ?a ${p()} ?s . OPTIONAL { ?s ${p()} ?x }
            |  OPTIONAL { ?x ${p()} ?y FILTER(?y != ?a) }
            |}""".stripMargin, quads, Seq("a", "x", "y"))
  }

  /** Two nullable shared vars across the join (x from each side's OPTIONAL,
    * y bound-left/nullable-right) — exercises the multi-var pattern split. */
  def twoVar(spark: SparkSession, seed: Int): Case = {
    val (quads, p) = setup(spark, seed, 4)
    Case(s"""SELECT ?x ?y WHERE {
            |  { ?a ${p()} ?s . OPTIONAL { ?s ${p()} ?x . ?s ${p()} ?y } }
            |  { ?b ${p()} ?t . OPTIONAL { ?t ${p()} ?x } OPTIONAL { ?t ${p()} ?y } }
            |}""".stripMargin, quads, Seq("x", "y"))
  }

  /** MINUS whose shared var is OPTIONAL-introduced on one or both sides —
    * the anti-flavoured null-pattern rewrite (union of semi-join branches). */
  def minusNullable(spark: SparkSession, seed: Int): Case = {
    val rnd = new scala.util.Random(seed)
    val quads = randomQuads(spark, rnd, 4)
    def p() = s"<urn:p${rnd.nextInt(4)}>"
    val q =
      if (rnd.nextBoolean())
        s"""SELECT ?a ?x WHERE {
           |  ?a ${p()} ?s . OPTIONAL { ?s ${p()} ?x }
           |  MINUS { ?x ${p()} ?w }
           |}""".stripMargin
      else
        s"""SELECT ?a ?x WHERE {
           |  ?a ${p()} ?s . OPTIONAL { ?s ${p()} ?x }
           |  MINUS { ?b ${p()} ?t . OPTIONAL { ?t ${p()} ?x } . ?b ${p()} ?a }
           |}""".stripMargin
    Case(q, quads, Seq("a", "x"))
  }

  /** EXISTS / NOT EXISTS whose shared var with the outer pattern is
    * OPTIONAL-introduced — the semi/anti null-pattern rewrite, including the
    * no-bound-both branch where the whole left slice matches iff the body
    * relation is non-empty. */
  def existsNullable(spark: SparkSession, seed: Int): Case = {
    val rnd = new scala.util.Random(seed)
    val quads = randomQuads(spark, rnd, 4)
    def p() = s"<urn:p${rnd.nextInt(4)}>"
    val neg = if (rnd.nextBoolean()) "NOT " else ""
    Case(s"""SELECT ?a ?x WHERE {
            |  ?a ${p()} ?s . OPTIONAL { ?s ${p()} ?x }
            |  FILTER ${neg}EXISTS { ?x ${p()} ?w }
            |}""".stripMargin, quads, Seq("a", "x"))
  }
}
