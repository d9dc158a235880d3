package graft.engine

import java.util.concurrent.TimeoutException
import java.util.concurrent.atomic.AtomicBoolean
import scala.concurrent.Await
import scala.concurrent.duration._
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, GenericInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics}
import org.apache.spark.sql.classic.GraftExprBridge
import org.apache.spark.sql.execution.LeafExecNode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.unsafe.Platform
import graft.model._
import graft.ops.{IndexCache, SkewSalt}

/**
 * `p+` over an edge relation (g, src, tgt): every (g, x, y) joined by a path
 * of one or more edges inside graph g; with a seed, only the walks that start
 * at the seed term (reference KleenePlusClosureExec,
 * lib/physical/src/paths/kleene_plus/physical.rs:166-290).
 *
 * A leaf: the edge relation is kept as an inner plan and planned on its own
 * when [[KleenePlusExec]] runs, so building or explaining a path query runs no
 * Spark job, and the closure's size stays unknown to the join planner (it is
 * never chosen as a broadcast side).
 */
final case class KleenePlus(edges: LogicalPlan, seed: Option[RdfTerm], output: Seq[Attribute])
    extends LeafNode with MultiInstanceRelation {
  override def newInstance(): KleenePlus = copy(output = output.map(_.newInstance()))
  override def computeStats(): Statistics = Statistics(sizeInBytes = conf.defaultSizeInBytes)
  override def innerChildren: Seq[QueryPlan[_]] = Seq(edges)
  override def simpleString(maxFields: Int): String =
    s"KleenePlus${seed.fold("")(t => s" from $t")} ${output.mkString("[", ", ", "]")}"
  override protected def doCanonicalize(): LogicalPlan =
    super.doCanonicalize().asInstanceOf[KleenePlus].copy(edges = edges.canonicalized)
}

/**
 * Runs [[KleenePlus]]. One job collects the distinct edges, stopping as soon
 * as they exceed the byte budget ([[KleenePlus.budget]]). Under it, the
 * driver numbers every (graph, node), broadcasts a CSR adjacency and runs one
 * breadth-first search per source inside tasks partitioned by source; a
 * seeded walk starts only from the seed term's ids. Above it, the semi-naive
 * loop ([[KleenePlus.closureCompute]]) is the scale path. Both are memoised per
 * edge relation ([[Rewriter.clearClosureCache]] drops them). `edges` is used
 * on the driver only, and is transient: generated code ships this node to
 * tasks, and a file-backed relation holds a non-serialisable file index.
 */
final case class KleenePlusExec(@transient edges: LogicalPlan, seed: Option[RdfTerm],
                                output: Seq[Attribute])
    extends LeafExecNode {
  override def simpleString(maxFields: Int): String =
    s"KleenePlusExec${seed.fold("")(t => s" from $t")} ${output.mkString("[", ", ", "]")}"

  override protected def doExecute(): RDD[InternalRow] = {
    val edgeDF = GraftExprBridge.ofRows(session, edges)
    val key = IndexCache.key(edgeDF)
    // pinned by the first job that reads it: above the budget, the loop
    // starts from the edges the collect job already computed
    lazy val pinned = edgeDF.localCheckpoint(eager = false)
    val budget = KleenePlus.budget(conf)
    KleenePlus.adjacency(s"$key|$budget", pinned, budget) match {
      case Some(adj) =>
        KleenePlus.walk(sparkContext, adj, seed.map(adj.value.seeds), output.map(_.dataType))
      case None =>
        KleenePlus.semiNaive(s"$key|$seed", pinned, seed.map(KleenePlus.seedsOf(pinned, _)))
          .queryExecution.toRdd
    }
  }
}

/** Distinct edges as a compressed sparse row adjacency over dense
  * per-(graph, node) ids: node i's successors are
  * `targets(offsets(i) until offsets(i + 1))`. Node terms are packed as their
  * UnsafeRow bytes; `graphs(graphOf(i))` is node i's graph (null = default). */
private[engine] final class Adjacency(offsets: Array[Int], targets: Array[Int], graphOf: Array[Int],
                                      termBytes: Array[Byte], termOffsets: Array[Int],
                                      graphs: Array[UnsafeRow], termFields: Int) extends Serializable {
  def size: Int = graphOf.length
  def hasOut(i: Int): Boolean = offsets(i + 1) > offsets(i)
  def graph(i: Int): UnsafeRow = graphs(graphOf(i))

  def term(i: Int): UnsafeRow = {
    val r = new UnsafeRow(termFields)
    val from = termOffsets(i)
    r.pointTo(termBytes, Platform.BYTE_ARRAY_OFFSET + from, termOffsets(i + 1) - from)
    r
  }

  /** Ids of `t` (one per graph it occurs in) that start at least one edge. */
  def seeds(t: RdfTerm): Array[Int] =
    (0 until size).filter(i => hasOut(i) && KleenePlus.matches(term(i), t)).toArray

  /** Breadth-first search from `s`: fills `queue` with every node reachable by
    * one or more edges (`s` itself only through a cycle) and returns their
    * count. `seen(v) == stamp` marks the nodes already queued for this search. */
  def reach(s: Int, seen: Array[Int], stamp: Int, queue: Array[Int]): Int = {
    var n = 0
    def visit(from: Int): Unit = {
      var k = offsets(from)
      while (k < offsets(from + 1)) {
        val v = targets(k)
        if (seen(v) != stamp) { seen(v) = stamp; queue(n) = v; n += 1 }
        k += 1
      }
    }
    visit(s)
    var head = 0
    while (head < n) { visit(queue(head)); head += 1 }
    n
  }
}

object KleenePlus {
  /** `p+` over `edges` (g, src, tgt), optionally walking from `seed` only. */
  private[engine] def of(edges: DataFrame, seed: Option[RdfTerm]): DataFrame = {
    val plan = edges.queryExecution.analyzed
    GraftExprBridge.ofRows(edges.sparkSession, KleenePlus(plan, seed, plan.output.map(_.newInstance())))
  }

  /** Byte budget of the broadcast adjacency: the session's broadcast join
    * threshold, so whatever the planner may broadcast the closure may too
    * (≤ 0 disables the in-task walk, as it disables broadcast joins). */
  private[engine] def budget(conf: SQLConf): Long = conf.autoBroadcastJoinThreshold

  /** Whether term struct `r` is the term `t` ([[Rewriter.termFilter]] on one row). */
  private[engine] def matches(r: InternalRow, t: RdfTerm): Boolean = {
    def str(i: Int): String = if (r.isNullAt(i)) null else r.getUTF8String(i).toString
    t match {
      case Iri(v) => r.getByte(0) == TermType.Iri && str(1) == v
      case BNode(v) => r.getByte(0) == TermType.BlankNode && str(1) == v
      case Lit(v, dt, lang) =>
        r.getByte(0) == TermType.Literal && str(1) == v &&
          str(2) == Rewriter.litDatatype(dt, lang) && str(3) == lang.orNull
    }
  }

  /** Seed nodes (g, n) of the loop's seeded walk: the seed term wherever it
    * starts an edge. */
  private[engine] def seedsOf(edges: DataFrame, t: RdfTerm): DataFrame =
    edges.filter(Rewriter.termFilter(col("src"), t))
      .select(col("g"), col("src").as("n")).dropDuplicates()

  // ------------------------------------------------------------ memoisation

  /** Closures are build-once/query-many artifacts like the IVF index and
    * MinHash signatures: repeated `p+`/`p*` queries over the same edge
    * relation reuse the adjacency (or the loop's fixpoint). Keys hold the
    * FULL canonicalized plans, so new data is a miss by construction. */
  private val adjacencies = new IndexCache[Option[Broadcast[Adjacency]]](8)
  private val loops = new IndexCache[DataFrame](8)

  /** Drop every memoised adjacency and loop fixpoint. */
  private[engine] def clearCache(): Unit = { adjacencies.clear(); loops.clear() }

  // ------------------------------------------------------- under the budget

  /** The broadcast adjacency of `edges`' distinct rows, or None when they
    * exceed `budget` bytes (decided once per `key`). */
  private[engine] def adjacency(key: String, edges: => DataFrame,
                                budget: Long): Option[Broadcast[Adjacency]] =
    adjacencies.get(key, {
      if (budget <= 0) None
      else {
        val df = edges
        collectDistinct(df, budget).map(rows => df.sparkSession.sparkContext.broadcast(build(rows, df.schema)))
      }
    })

  /** The distinct rows of `df` in ONE job, or None once their UnsafeRow bytes
    * exceed `budget`: each task stops reading at the budget, and the driver
    * cancels the job as soon as the merged total crosses it. */
  private def collectDistinct(df: DataFrame, budget: Long): Option[java.util.HashSet[UnsafeRow]] = {
    val types: Array[DataType] = df.schema.fields.map(_.dataType)
    val rdd = df.queryExecution.toRdd
    val perTask = (it: Iterator[InternalRow]) => {
      val proj = UnsafeProjection.create(types)
      val seen = new java.util.HashSet[UnsafeRow]()
      var bytes = 0L
      while (bytes <= budget && it.hasNext) {
        val r = proj(it.next())
        if (!seen.contains(r)) { seen.add(r.copy()); bytes += r.getSizeInBytes }
      }
      if (bytes > budget) null else seen.toArray(new Array[UnsafeRow](0))
    }
    val all = new java.util.HashSet[UnsafeRow]()
    val over = new AtomicBoolean(false)
    var bytes = 0L
    val onResult = (_: Int, rows: Array[UnsafeRow]) =>
      if (!over.get) {
        if (rows == null) over.set(true)
        else rows.foreach(r => if (all.add(r)) bytes += r.getSizeInBytes)
        if (bytes > budget) over.set(true)
        if (over.get) all.clear()
      }
    val sc = df.sparkSession.sparkContext
    val job = sc.submitJob(rdd, perTask, 0 until rdd.getNumPartitions, onResult, ())
    while (!job.isCompleted && !over.get)
      try Await.ready(job, 20.millis) catch { case _: TimeoutException => }
    if (!job.isCompleted) { job.cancel(); Await.ready(job, Duration.Inf) }
    job.value.get.failed.foreach(e => if (!over.get) throw e)
    if (over.get) None else Some(all)
  }

  /** Number every (graph, node) of the distinct (g, src, tgt) `rows` and lay
    * the edges out as CSR. */
  private def build(rows: java.util.HashSet[UnsafeRow], schema: StructType): Adjacency = {
    val termFields = schema("src").dataType.asInstanceOf[StructType].length
    val graphFields = schema("g").dataType.asInstanceOf[StructType].length
    val graphIx = new java.util.HashMap[UnsafeRow, Integer]() // null key = default graph
    val graphs = scala.collection.mutable.ArrayBuffer.empty[UnsafeRow]
    val nodeIx = scala.collection.mutable.ArrayBuffer.empty[java.util.HashMap[UnsafeRow, Integer]]
    val graphOf = scala.collection.mutable.ArrayBuilder.make[Int]
    val termOffsets = scala.collection.mutable.ArrayBuilder.make[Int]
    termOffsets += 0
    val termBytes = new java.io.ByteArrayOutputStream()
    var nodes = 0
    def id(gi: Int, n: UnsafeRow): Int = {
      val got = nodeIx(gi).get(n)
      if (got != null) got
      else {
        nodeIx(gi).put(n, nodes)
        graphOf += gi
        termBytes.write(n.getBytes)
        termOffsets += termBytes.size()
        nodes += 1
        nodes - 1
      }
    }
    val src = new Array[Int](rows.size)
    val tgt = new Array[Int](rows.size)
    var e = 0
    rows.forEach { r =>
      val g = if (r.isNullAt(0)) null else r.getStruct(0, graphFields)
      var gi: Integer = graphIx.get(g)
      if (gi == null) {
        gi = graphs.size
        graphIx.put(g, gi)
        graphs += (if (g == null) null else g.copy())
        nodeIx += new java.util.HashMap[UnsafeRow, Integer]()
      }
      src(e) = id(gi, r.getStruct(1, termFields))
      tgt(e) = id(gi, r.getStruct(2, termFields))
      e += 1
    }
    val offsets = new Array[Int](nodes + 1)
    src.foreach(s => offsets(s + 1) += 1)
    (0 until nodes).foreach(i => offsets(i + 1) += offsets(i))
    val fill = offsets.clone()
    val targets = new Array[Int](src.length)
    (0 until src.length).foreach { k => targets(fill(src(k))) = tgt(k); fill(src(k)) += 1 }
    new Adjacency(offsets, targets, graphOf.result(), termBytes.toByteArray, termOffsets.result(),
      graphs.toArray, termFields)
  }

  /** (g, src, tgt) for every node reachable from each source — all nodes with
    * an out-edge, or `seeds` — with one breadth-first search per source,
    * sources spread over up to defaultParallelism tasks. */
  private[engine] def walk(sc: SparkContext, adj: Broadcast[Adjacency], seeds: Option[Array[Int]],
                           types: Seq[DataType]): RDD[InternalRow] = {
    val a = adj.value
    val sources = seeds.getOrElse((0 until a.size).filter(a.hasOut).toArray)
    val slices = math.max(1, math.min(sources.length, sc.defaultParallelism))
    val fieldTypes = types.toArray
    sc.parallelize(sources.toSeq, slices).mapPartitions { it =>
      val a = adj.value
      val seen = new Array[Int](a.size)
      val queue = new Array[Int](a.size)
      val proj = UnsafeProjection.create(fieldTypes)
      var stamp = 0
      it.flatMap { s =>
        stamp += 1
        val n = a.reach(s, seen, stamp, queue)
        val g = a.graph(s)
        val src = a.term(s)
        Iterator.range(0, n).map(k =>
          proj(new GenericInternalRow(Array[Any](g, src, a.term(queue(k))))))
      }
    }
  }

  // -------------------------------------------------------- above the budget

  /** [[closureCompute]] memoised per `key`. */
  private[engine] def semiNaive(key: String, edges: DataFrame, seeds: Option[DataFrame]): DataFrame =
    loops.get(key, closureCompute(edges, seeds))

  /** Measured UnsafeRow bytes of `df` (one job). */
  private def rowBytes(df: DataFrame): Long = {
    val types: Array[DataType] = df.schema.fields.map(_.dataType)
    df.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(types)
      Iterator(it.map(r => proj(r).getSizeInBytes.toLong).sum)
    }.fold(0L)(_ + _)
  }

  /** One composition step of the loop over long-encoded relations: front
    * (s, t[, d]) ∘ rel (s, t[, d]) joined on front.t = rel.s, giving
    * (s, t[, d]) with the two exact distances added when the front carries
    * them.
    *
    * A `small` front is broadcast and rel streams past it: no exchange on the
    * (big) rel side, and no per-key partition for a hub to collapse. Otherwise
    * both sides shuffle, hinted shuffle_hash with the front as the build side
    * (both are checkpointed, so no stats; the front shrinks round over round
    * while rel stays edge-sized), and the `hot` hub nodes — out-degree at the
    * salt threshold — are salted by [[SkewSalt.saltedSides]]: a hub's
    * front-in × edges-out pairs would otherwise all come out of one task,
    * which AQE's input-size skew splitting never sees. A hub with only
    * in-degree is plain input skew on the front side, which AQE does split. */
  private def compose(front: DataFrame, rel: DataFrame, small: Boolean,
                      hot: => Option[DataFrame]): DataFrame = {
    val dist = front.columns.contains("d")
    def cols(c: Column*)(d: => Column): Seq[Column] = if (dist) c :+ d else c
    val f = front.select(cols(col("s").as("fs"), col("t").as("k"))(col("d").as("fd")): _*)
    val r = rel.select(cols(col("s").as("k"), col("t"))(col("d")): _*)
    val joined =
      if (small) broadcast(f).join(r, Seq("k"))
      else hot.fold(f.hint("shuffle_hash").join(r, Seq("k"))) { h =>
        val (fs, rs) = SkewSalt.saltedSides(f, r, Seq("k"), h, col("fs"))
        fs.hint("shuffle_hash").join(rs, Seq("k", "__salt"))
      }
    joined.select(cols(col("fs").as("s"), col("t"))((col("fd") + col("d")).as("d")): _*)
  }

  /** Semi-naive transitive closure — the scale path of [[KleenePlusExec]],
    * taken when the distinct edges exceed the byte budget. A loop of
    * distributed DataFrame joins that runs its jobs from the driver while the
    * operator executes: (graph, node) pairs are encoded to longs, full
    * closures double path length per round, seeded walks extend one hop per
    * round, and localCheckpoint cuts each round's lineage so plans stay flat.
    * The same byte budget picks each round's joins: a front whose rows fit it
    * is broadcast, a larger one shuffles with its hub nodes salted
    * ([[compose]]). A seeded walk whose seeds are dense, or which is still
    * running after [[maxLinear]] hops, is answered by the full closure
    * restricted to the seed sources. */
  private[engine] def closureCompute(edges0: DataFrame, seeds: Option[DataFrame]): DataFrame = {
    val budget = KleenePlus.budget(SQLConf.get)
    // a relation of long columns fits the budget when its UnsafeRow bytes
    // do: one null-bit word and one word per long, so a front row is 24 or
    // 32 bytes
    def fits(df: DataFrame, rows: Long): Boolean = rows * 8L * (df.columns.length + 1) <= budget
    val edges = edges0.dropDuplicates().localCheckpoint()
    // The iteration below shuffles its working relation every round; on RDF
    // terms that is three 5-field structs per row. (graph, node) pairs are
    // dictionary-encoded to ONE long up front (ids are per-graph, so the
    // g <=> g same-graph constraint folds into plain id equality) and decoded
    // back to terms once at the end: O(|edges| + |closure|) encode/decode
    // replaces O(rounds × |closure|) struct-wide shuffles (fewer bytes,
    // narrower types).
    val dict0 = edges.select(col("g"), col("src").as("n"))
      .unionAll(edges.select(col("g"), col("tgt").as("n")))
      .dropDuplicates()
      // ids are frozen by the checkpoint (assigned once, never recomputed)
      .withColumn("__id", monotonically_increasing_id())
      .localCheckpoint()
    // the dictionary is node-count-bounded (≤ 2·|edges| entries, usually far
    // fewer) while the pair relation it translates grows toward |closure| —
    // broadcast it when its measured bytes fit the operator's budget so the
    // encode/decode joins never shuffle the big side; above the budget,
    // shuffled-hash
    val dict = if (rowBytes(dict0) <= budget) broadcast(dict0) else dict0.hint("shuffle_hash")
    val sDict = dict.select(col("g").as("__sg"), col("n").as("__sn"), col("__id").as("__sid"))
    val tDict = dict.select(col("g").as("__tg"), col("n").as("__tn"), col("__id").as("__tid"))
    val eL = edges
      .join(sDict, (col("g") <=> col("__sg")) && col("src") === col("__sn"))
      .join(tDict, (col("g") <=> col("__tg")) && col("tgt") === col("__tn"))
      .select(col("__sid").as("s"), col("__tid").as("t"))
      .localCheckpoint()
    def decode(pairs: DataFrame): DataFrame = pairs
      .join(sDict, col("s") === col("__sid"))
      .join(tDict, col("t") === col("__tid"))
      .select(col("__sg").as("g"), col("__sn").as("src"), col("__tn").as("tgt"))
    // subtract already-known pairs: next is distinct, so this anti join is
    // `except` minus except's redundant left-side re-dedup. The shuffle_hash
    // hint sits on the NEW-pairs side (bounded by one round's compositions),
    // never on the accumulated closure: a ShuffledHashJoin build side cannot
    // spill, and `all` grows toward |closure| — building on it would OOM at
    // scale exactly where except's SortMergeJoin spilled.
    def minusAll(next: DataFrame, all: DataFrame): DataFrame = next.hint("shuffle_hash").join(
      all.select(col("s").as("__as"), col("t").as("__at")),
      col("s") === col("__as") && col("t") === col("__at"), "left_anti")
    // The broadcast side of a round: after a small front's composition, the
    // history check first semi-filters `all` down to the broadcast candidate
    // keys before a broadcast anti join, so the big sides (rel, all) are
    // never shuffled. The shuffle path would otherwise pay two full exchanges
    // of the accumulated relation per round just to process a residual
    // front; tail rounds of the doubling loop and every round of a small
    // seeded walk take this side.
    def subtractBcast(next: DataFrame, all: DataFrame): DataFrame = {
      val known = all.join(
          broadcast(next.select(col("s").as("__ns"), col("t").as("__nt"))),
          col("s") === col("__ns") && col("t") === col("__nt"), "left_semi")
        .select(col("s").as("__as"), col("t").as("__at")).localCheckpoint()
      next.join(broadcast(known),
        col("s") === col("__as") && col("t") === col("__at"), "left_anti")
    }
    // checkpoint `next`, count it, and subtract history by whichever side
    // fits the budget
    def subtract(next0: DataFrame, all: DataFrame, small: Boolean): DataFrame =
      if (small) {
        val next = next0.localCheckpoint()
        val nCnt = next.count()
        if (nCnt == 0) next
        else if (fits(next, nCnt)) subtractBcast(next, all).localCheckpoint()
        else minusAll(next, all).localCheckpoint()
      } else minusAll(next0, all).localCheckpoint()
    val eCnt = eL.count()
    // hub out-degrees are static across rounds: detect once, on the BASE
    // edges, and lazily — only a round whose front exceeds the budget
    // consults them. Re-detecting on the evolving reachability relation
    // would cost O(|all|) per round (2× on a 16M-pair closure) for marginal
    // coverage: the base hub is the amplification epicenter, and a node
    // whose CLOSURE degree alone is huge spreads its output across its many
    // distinct front rows, which is ordinary input skew AQE does split.
    lazy val hot = SkewSalt.hotKeys(eL, Seq("s"), Some(eCnt))
    seeds match {
      case Some(sd) =>
        // seeded walk: the front only ever holds nodes reachable from the
        // seeds — rounds are linear in path depth but each round touches
        // O(front) data, not the whole graph
        val s = sd.select(col("g").as("sg"), col("n"))
        def fromFull: DataFrame = semiNaive(IndexCache.key(edges), edges, None)
          .join(s.hint("shuffle_hash"), col("src") === col("n") && (col("g") <=> col("sg")), "left_semi")
        val seedL = s.join(sDict,
            (col("sg") <=> col("__sg")) && col("n") === col("__sn"))
          .select(col("__sid").as("sn")).localCheckpoint()
        var all = eL.join(seedL.hint("shuffle_hash"), col("s") === col("sn"), "left_semi")
          .localCheckpoint()
        var delta = all
        var deltaCnt = all.count()
        // dense seed set: the walk would touch most of the graph anyway, and
        // linear rounds pay fixed job overhead per hop — log-round full
        // doubling restricted back to the seeds is strictly fewer rounds
        if (deltaCnt * 8 >= eCnt) return fromFull
        var rounds = 0
        while (deltaCnt > 0 && rounds < maxLinear) {
          rounds += 1
          val small = fits(delta, deltaCnt)
          delta = subtract(compose(delta, eL, small, hot).dropDuplicates(), all, small)
          deltaCnt = delta.count()
          // `all` stays a lazy union of CHECKPOINTED deltas: every piece is
          // already materialized, so consumers scan the block union without
          // re-persisting O(|closure|) blocks each round
          if (deltaCnt > 0) all = all.unionAll(delta)
        }
        if (deltaCnt == 0) decode(all).localCheckpoint() else fromFull
      case None =>
        // full closure: EXACT-DISTANCE path doubling, log(diameter) rounds
        // instead of the reference's single-partition linear loop
        // (lib/physical/src/paths/kleene_plus/physical.rs:246-290).
        // Every stored pair carries its exact shortest distance `d`. Round k
        // composes only the EXACT-2^k front (ex = delta filtered to d = 2^k)
        // against the full history: splitting a shortest path of length
        // d* ∈ (2^k, 2^k+1] at exactly 2^k steps shows this reaches double
        // the distance per round, and — unlike composing the whole band
        // delta, whose (2^k-1, 2^k] × (0, 2^k] splits emit every new pair
        // once per valid split point (8× duplicate multiplicity on a
        // 43M-pair closure, round output 70M rows) — the exact-front split
        // is unique per shortest path, so compose output ≈ the new pairs
        // themselves. min(d) aggregation replaces dropDuplicates (same
        // shuffle), keeping stored distances exact (induction: a produced d
        // is 2^k + an exact suffix distance, minimised over midpoints; the
        // true midpoint realises the true distance and the anti join
        // protects already-stored, strictly smaller values). Termination is
        // new-empty: if any pair beyond 2^k existed, its 2^k-prefix would be
        // an exact-2^k pair in the current delta.
        var all = eL.withColumn("d", lit(1L))
        var delta = all
        var deltaCnt = eCnt
        var span = 1L
        while (deltaCnt > 0) {
          val small = fits(delta, deltaCnt)
          val ex = delta.filter(col("d") === lit(span))
          delta = subtract(
            compose(ex, all, small, hot).groupBy(col("s"), col("t")).agg(min(col("d")).as("d")),
            all, small)
          deltaCnt = delta.count()
          if (deltaCnt > 0) all = all.unionAll(delta)
          span *= 2
        }
        decode(all).localCheckpoint()
    }
  }

  /** Hops a seeded walk takes before the full closure finishes it: linear
    * rounds are O(front) work but pay fixed driver/job overhead per hop,
    * right for shallow graphs; a deeper structure is cheaper to close with
    * log(diameter) doubling rounds. */
  private val maxLinear = 16
}
