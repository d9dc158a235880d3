package graft.engine

import java.util.concurrent.TimeoutException
import java.util.concurrent.atomic.AtomicBoolean
import scala.concurrent.Await
import scala.concurrent.duration._
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
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
    val key = graft.ops.IndexCache.key(edgeDF)
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
    GraftStrategy.register(edges.sparkSession)
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

  /** Small access-ordered LRU whose builds run outside its lock, so one
    * closure's jobs never hold up another query's lookups. Evicted entries
    * drop their references; Spark's ContextCleaner frees the blocks. */
  private final class Memo[V <: AnyRef](max: Int) {
    private val m = new java.util.LinkedHashMap[String, V](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, V]): Boolean = size() > max
    }
    def apply(key: String)(build: => V): V = {
      val hit = synchronized(m.get(key))
      if (hit != null) hit
      else { val v = build; synchronized(m.put(key, v)); v }
    }
    def clear(): Unit = synchronized(m.clear())
  }

  /** Closures are build-once/query-many artifacts like the IVF index and
    * MinHash caches (ops/IndexCache): repeated `p+`/`p*` queries over the same
    * edge relation reuse the adjacency (or the loop's fixpoint). Keys hold the
    * FULL canonicalized plans, so new data is a miss by construction. */
  private val adjacencies = new Memo[Option[Broadcast[Adjacency]]](8)
  private val loops = new Memo[DataFrame](8)

  /** Drop every memoised adjacency and loop fixpoint. */
  private[engine] def clearCache(): Unit = { adjacencies.clear(); loops.clear() }

  // ------------------------------------------------------- under the budget

  /** The broadcast adjacency of `edges`' distinct rows, or None when they
    * exceed `budget` bytes (decided once per `key`). */
  private[engine] def adjacency(key: String, edges: => DataFrame,
                                budget: Long): Option[Broadcast[Adjacency]] =
    adjacencies(key) {
      if (budget <= 0) None
      else {
        val df = edges
        collectDistinct(df, budget).map(rows => df.sparkSession.sparkContext.broadcast(build(rows, df.schema)))
      }
    }

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
    loops(key)(closureCompute(edges, seeds))

  /** Measured UnsafeRow bytes of `df` (one job). */
  private def rowBytes(df: DataFrame): Long = {
    val types: Array[DataType] = df.schema.fields.map(_.dataType)
    df.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(types)
      Iterator(it.map(r => proj(r).getSizeInBytes.toLong).sum)
    }.fold(0L)(_ + _)
  }

  /** Heavy (g, src) join keys of `rel` — nodes whose out-degree reaches
    * [[graft.ops.SkewSalt.hotThreshold]] — or None when `rel` is too small
    * for any key to qualify (gate/local scale pays zero extra jobs). A hub
    * key amplifies the closure step join's OUTPUT (frontier-in × edges-out
    * pairs in one task), which AQE's input-size-based skew splitting can
    * never see (measured: SkewProbe, deleted: see CHANGES.md); the converse case — a hub with
    * only IN-degree — is plain input skew on the delta side, which AQE does
    * split. */
  private def heavyKeys(rel: DataFrame, relCount: Long): Option[DataFrame] = {
    val hot = graft.ops.SkewSalt.hotThreshold
    val minRows = sys.props.get("graft.salt.minRows").map(_.toLong).getOrElse(100000L)
    if (relCount < math.max(hot.toLong, minRows)) None
    else {
      val h = rel.groupBy(col("g"), col("src")).agg(count(lit(1)).as("__n"))
        .where(col("__n") >= hot)
        .select(col("g").as("hg"), col("src").as("hk")).localCheckpoint()
      if (h.isEmpty) None else Some(h)
    }
  }

  /** One closure step: delta (dg, dsrc, dtgt) ∘ rel (g, src, tgt) →
    * (g, src, tgt). With `heavy` present the join is salted: delta rows
    * landing on a heavy key take a deterministic salt hashed from their
    * OTHER endpoint, heavy rel rows replicate once per salt — every
    * composed path still produced exactly once, but a hub's quadratic
    * output enumeration spreads across [[graft.ops.SkewSalt.salts]] tasks
    * instead of one. */
  private def stepJoin(delta: DataFrame, rel: DataFrame,
                       heavy: Option[DataFrame]): DataFrame = heavy match {
    case None =>
      // both sides are checkpointed (no stats) → hint shuffle_hash so the
      // per-round join skips SortMergeJoin's two sorts; the delta side is
      // hinted (= build side): the frontier shrinks round over round while
      // rel stays edge-sized
      delta.hint("shuffle_hash")
        .join(rel, col("dtgt") === col("src") && (col("dg") <=> col("g")))
        .select(col("dg").as("g"), col("dsrc").as("src"), col("tgt"))
    case Some(h) =>
      val s = graft.ops.SkewSalt.salts
      val hb = broadcast(h.withColumn("__hot", lit(1)))
      val d2 = delta
        .join(hb, col("dtgt") === col("hk") && (col("dg") <=> col("hg")), "left")
        .withColumn("__sa", when(col("__hot") === 1,
          pmod(xxhash64(col("dsrc")), lit(s)).cast("int")).otherwise(lit(0)))
        .select(col("dg"), col("dsrc"), col("dtgt"), col("__sa"))
      val r2 = rel
        .join(hb, col("src") === col("hk") && (col("g") <=> col("hg")), "left")
        .withColumn("__sb", explode(when(col("__hot") === 1,
          sequence(lit(0), lit(s - 1))).otherwise(array(lit(0)))))
        .select(col("g"), col("src"), col("tgt"), col("__sb"))
      d2.hint("shuffle_hash")
        .join(r2, col("dtgt") === col("src") && (col("dg") <=> col("g")) &&
          col("__sa") === col("__sb"))
        .select(col("dg").as("g"), col("dsrc").as("src"), col("tgt"))
  }

  /** [[heavyKeys]] over the long-encoded edge relation (s, t): hot source
    * ids whose out-degree reaches the salt threshold. */
  private def heavyIds(rel: DataFrame, relCount: Long): Option[DataFrame] = {
    val hot = graft.ops.SkewSalt.hotThreshold
    val minRows = sys.props.get("graft.salt.minRows").map(_.toLong).getOrElse(100000L)
    if (relCount < math.max(hot.toLong, minRows)) None
    else {
      val h = rel.groupBy(col("s")).agg(count(lit(1)).as("__n"))
        .where(col("__n") >= hot)
        .select(col("s").as("hk")).localCheckpoint()
      if (h.isEmpty) None else Some(h)
    }
  }

  /** [[stepJoin]] on the long-encoded relations: delta (s, t) ∘ rel (s, t)
    * joined on delta.t = rel.s → (s, t); salted identically when `heavy`
    * ids are present. `broadcastDelta` streams rel against the broadcast
    * delta instead — no exchange on the (big) rel side, no salting needed
    * (a broadcast join has no per-key partition to collapse; composition
    * output spreads across rel's existing blocks). */
  private def stepJoinL(delta: DataFrame, rel: DataFrame,
                        heavy: Option[DataFrame],
                        broadcastDelta: Boolean = false): DataFrame = {
    val d = delta.select(col("s").as("ds"), col("t").as("dt"))
    if (broadcastDelta)
      return broadcast(d).join(rel, col("dt") === col("s"))
        .select(col("ds").as("s"), col("t"))
    heavy match {
      case None =>
        d.hint("shuffle_hash").join(rel, col("dt") === col("s"))
          .select(col("ds").as("s"), col("t"))
      case Some(h) =>
        val ns = graft.ops.SkewSalt.salts
        val hb = broadcast(h.withColumn("__hot", lit(1)))
        val d2 = d.join(hb, col("dt") === col("hk"), "left")
          .withColumn("__sa", when(col("__hot") === 1,
            pmod(xxhash64(col("ds")), lit(ns)).cast("int")).otherwise(lit(0)))
          .select(col("ds"), col("dt"), col("__sa"))
        val r2 = rel.join(hb, col("s") === col("hk"), "left")
          .withColumn("__sb", explode(when(col("__hot") === 1,
            sequence(lit(0), lit(ns - 1))).otherwise(array(lit(0)))))
          .select(col("s"), col("t"), col("__sb"))
        d2.hint("shuffle_hash")
          .join(r2, col("dt") === col("s") && col("__sa") === col("__sb"))
          .select(col("ds").as("s"), col("t"))
    }
  }

  /** [[stepJoinL]] carrying the exact-distance column: `ex` (s, t, d) holds
    * pairs at ONE exact distance, `rel` (s, t, d) the full history with its
    * exact distances; output d = ex.d + rel.d (joined on ex.t = rel.s). */
  private def stepJoinD(ex: DataFrame, rel: DataFrame,
                        heavy: Option[DataFrame],
                        broadcastDelta: Boolean = false): DataFrame = {
    val d = ex.select(col("s").as("ds"), col("t").as("dt"), col("d").as("dd"))
    val out = Seq(col("ds").as("s"), col("t"), (col("dd") + col("d")).as("d"))
    if (broadcastDelta)
      return broadcast(d).join(rel, col("dt") === col("s")).select(out: _*)
    heavy match {
      case None =>
        d.hint("shuffle_hash").join(rel, col("dt") === col("s")).select(out: _*)
      case Some(h) =>
        val ns = graft.ops.SkewSalt.salts
        val hb = broadcast(h.withColumn("__hot", lit(1)))
        val d2 = d.join(hb, col("dt") === col("hk"), "left")
          .withColumn("__sa", when(col("__hot") === 1,
            pmod(xxhash64(col("ds")), lit(ns)).cast("int")).otherwise(lit(0)))
          .select(col("ds"), col("dt"), col("dd"), col("__sa"))
        val r2 = rel.join(hb, col("s") === col("hk"), "left")
          .withColumn("__sb", explode(when(col("__hot") === 1,
            sequence(lit(0), lit(ns - 1))).otherwise(array(lit(0)))))
          .select(col("s"), col("t"), col("d"), col("__sb"))
        d2.hint("shuffle_hash")
          .join(r2, col("dt") === col("s") && col("__sa") === col("__sb"))
          .select(out: _*)
    }
  }

  /** Semi-naive transitive closure — the scale path of [[KleenePlusExec]],
    * taken when the distinct edges exceed the byte budget. A loop of
    * distributed DataFrame joins that runs its jobs from the driver while the
    * operator executes: (graph, node) pairs are encoded to longs, full
    * closures double path length per round, seeded walks extend one hop per
    * round, and localCheckpoint cuts each round's lineage so plans stay flat. */
  private[engine] def closureCompute(edges0: DataFrame, seeds: Option[DataFrame]): DataFrame = {
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
    val dict =
      if (rowBytes(dict0) <= budget(SQLConf.get)) broadcast(dict0) else dict0.hint("shuffle_hash")
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
    // One semi-naive round: compose delta ∘ rel, keep pairs not already in
    // `all`. A small frontier takes the BROADCAST path: compose
    // streams rel against the broadcast delta, and the history check first
    // semi-filters `all` down to the broadcast candidate keys before a
    // broadcast anti join — the big sides (rel, all) are never shuffled.
    // The shuffle path otherwise pays two full exchanges of the accumulated
    // relation per round just to process a residual frontier; tail rounds
    // of the doubling loop and every round of a small seeded walk hit this.
    // (the frontier rows are two or three longs, so this row gate is a byte
    // gate: 250k rows ≈ 8 MB)
    val tailRows = 250000L
    def subtractBcast(next: DataFrame, all: DataFrame): DataFrame = {
      val known = all.join(
          broadcast(next.select(col("s").as("__ns"), col("t").as("__nt"))),
          col("s") === col("__ns") && col("t") === col("__nt"), "left_semi")
        .select(col("s").as("__as"), col("t").as("__at")).localCheckpoint()
      next.join(broadcast(known),
        col("s") === col("__as") && col("t") === col("__at"), "left_anti")
    }
    // checkpoint `next`, count it, and subtract history by whichever side is
    // provably small enough to broadcast
    def subtract(next0: DataFrame, all: DataFrame, tail: Boolean): DataFrame =
      if (tail) {
        val next = next0.localCheckpoint()
        val nCnt = next.count()
        if (nCnt == 0) next
        else if (nCnt <= tailRows) subtractBcast(next, all).localCheckpoint()
        else minusAll(next, all).localCheckpoint()
      } else minusAll(next0, all).localCheckpoint()
    def round(delta: DataFrame, deltaCnt: Long, rel: DataFrame, all: DataFrame,
              heavy: => Option[DataFrame]): DataFrame = {
      val tail = deltaCnt <= tailRows
      subtract(
        stepJoinL(delta, rel, if (tail) None else heavy, broadcastDelta = tail)
          .dropDuplicates(),
        all, tail)
    }
    seeds match {
      case Some(sd) =>
        // seeded walk: the frontier only ever holds nodes reachable from the
        // seeds — rounds are linear in path depth but each round touches
        // O(frontier) data, not the whole graph
        val s = sd.select(col("g").as("sg"), col("n"))
        val seedL = s.join(sDict,
            (col("sg") <=> col("__sg")) && col("n") === col("__sn"))
          .select(col("__sid").as("sn")).localCheckpoint()
        var all = eL.join(seedL.hint("shuffle_hash"), col("s") === col("sn"), "left_semi")
          .localCheckpoint()
        // dense seed set: the walk would touch most of the graph anyway, and
        // linear rounds pay fixed job overhead per hop — log-round full
        // doubling restricted back to the seeds is strictly fewer rounds
        val eCnt = eL.count()
        val aCnt = all.count()
        if (aCnt * 8 >= eCnt)
          return semiNaive(graft.ops.IndexCache.key(edges), edges, None)
            .join(s.hint("shuffle_hash"),
              col("src") === col("n") && (col("g") <=> col("sg")), "left_semi")
        // hub out-degrees are static across rounds: detect once — and
        // lazily: only a shuffle-path round (frontier above the broadcast
        // tail gate) consults it; all-broadcast walks never pay the
        // detection job
        lazy val eHeavy = heavyIds(eL, eCnt)
        var delta = all
        var deltaCnt = aCnt
        var rounds = 0
        // linear BFS rounds are O(frontier) work but pay fixed driver/job
        // overhead per hop — right for shallow graphs; past maxLinear hops a
        // deep structure is cheaper to finish with one path-doubled closure
        // composed onto the reach so far (log(diameter) further rounds)
        val maxLinear = 16
        while (deltaCnt > 0 && rounds < maxLinear) {
          rounds += 1
          delta = round(delta, deltaCnt, eL, all, eHeavy)
          deltaCnt = delta.count()
          // `all` stays a lazy union of CHECKPOINTED deltas: every piece is
          // already materialized, so consumers scan the block union without
          // re-persisting the whole accumulated set each round (the old
          // checkpoint-of-union rewrote O(|closure|) blocks per round)
          if (deltaCnt > 0) all = all.unionAll(delta)
        }
        if (deltaCnt == 0) decode(all).localCheckpoint()
        else {
          // deep-graph escape: one composition onto the (cached, term-level)
          // full closure finishes the walk in a single round
          val full = semiNaive(graft.ops.IndexCache.key(edges), edges, None)
          val allT = decode(all)
          val a = allT.select(col("g").as("dg"), col("src").as("dsrc"), col("tgt").as("dtgt"))
          stepJoin(a, full, heavyKeys(edges, eCnt))
            .unionAll(allT).dropDuplicates().localCheckpoint()
        }
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
        // once per valid split point (measured 8× duplicate multiplicity on
        // a 43M-pair closure, round output 70M rows) — the exact-front
        // split is unique per shortest path, so compose output ≈ the new
        // pairs themselves. min(d) aggregation replaces dropDuplicates
        // (same shuffle), keeping stored distances exact (induction: a
        // produced d is 2^k + an exact suffix distance, minimised over
        // midpoints; the true midpoint realises the true distance and the
        // anti join protects already-stored, strictly smaller values).
        // Termination is new-empty: if any pair beyond 2^k existed, its
        // 2^k-prefix would be an exact-2^k pair in the current delta.
        var size = eL.count()
        // hub keys come from the BASE edges, detected once: re-detecting on
        // the evolving reachability relation costs O(|all|) extra per round
        // (measured 2× on a 16M-pair closure) for marginal coverage — the
        // base hub is the amplification epicenter; a node whose CLOSURE
        // degree alone is huge spreads its output across its many distinct
        // frontier rows, which is ordinary input skew AQE does split
        lazy val eHeavy = heavyIds(eL, size)
        var all = eL.withColumn("d", lit(1L))
        var delta = all
        var deltaCnt = size
        var span = 1L
        while (deltaCnt > 0) {
          val tail = deltaCnt <= tailRows
          val ex = delta.filter(col("d") === lit(span))
          val composed = stepJoinD(ex, all, if (tail) None else eHeavy,
            broadcastDelta = tail)
          delta = subtract(
            composed.groupBy(col("s"), col("t")).agg(min(col("d")).as("d")),
            all, tail)
          deltaCnt = delta.count()
          // `all` stays a lazy union of CHECKPOINTED deltas: every piece is
          // already materialized, so consumers scan the block union without
          // re-persisting the whole accumulated set each round (the old
          // checkpoint-of-union rewrote O(|closure|) blocks per round)
          if (deltaCnt > 0) all = all.unionAll(delta)
          span *= 2
        }
        decode(all).localCheckpoint()
    }
  }
}
