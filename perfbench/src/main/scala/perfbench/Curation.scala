package perfbench

import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, TextAnalysis}

/**
 * A training-data curation pipeline over a seeded synthetic shard with planted exact
 * and near duplicates: `Dedup.exact` → `TextAnalysis.qualityScore` →
 * `Dedup.minhashLshPairs` → `Dedup.clusters` → `Dedup.keepBest`. Each stage's output
 * is pinned, so each stage is timed on its own; the kept documents are written out.
 */
object Curation {
  val Stages = Seq("exact", "quality", "minhash_lsh", "clusters", "keep_best")

  /** One shard: documents, and which ids were planted as copies of which. */
  final case class Shard(docs: Seq[(Long, String)], exactCopies: Seq[Long], nearPairs: Seq[(Long, Long)])

  /** 80% fresh documents, 10% exact copies, 10% near copies (three words replaced). */
  def shard(seed: Long, pass: Int, n: Int, words: Int): Shard = {
    val rng = new SplittableRandom(seed * 7919L + pass)
    val vocab = 20000
    // one word in ten is a stop word; runs of stop words repeat across documents,
    // and more of them would make MinHash buckets of unrelated documents
    def word(): String = {
      val u = rng.nextDouble()
      Curation.Stop.lift(rng.nextInt(100)).getOrElse(s"w${(u * u * vocab).toInt}")
    }
    val fresh = (n * 8) / 10
    val base = (0 until fresh).map(i => i.toLong -> Seq.fill(words)(word()))
    val copies = (0 until (n - fresh) / 2).map(i => (fresh + i).toLong -> base(rng.nextInt(fresh)))
    val near = (0 until n - fresh - copies.size).map { i =>
      val (orig, ws) = base(rng.nextInt(fresh))
      val changed = (1 to 3).foldLeft(ws.toVector)((v, _) => v.updated(rng.nextInt(words), word()))
      ((fresh + copies.size + i).toLong, orig, changed)
    }
    def text(ws: Seq[String]) = ws.mkString(" ") + "."
    Shard(
      base.map { case (id, ws) => id -> text(ws) } ++
        copies.map { case (id, (_, ws)) => id -> text(ws) } ++
        near.map { case (id, _, ws) => id -> text(ws) },
      copies.map(_._1), near.map { case (id, orig, _) => orig -> id })
  }

  /** Stop words, so the quality score sees text-like documents. */
  private val Stop = Vector("the", "a", "of", "and", "is", "to", "in", "it", "that", "was")

  def frame(spark: SparkSession, s: Shard): DataFrame = {
    import spark.implicits._
    s.docs.toDF("id", "text").repartition(spark.sparkContext.defaultParallelism)
  }

  /** Per-stage metrics from the stage spans of traced passes. */
  def report(t: Tracer, report: Report): Unit = {
    t.settle()
    Stages.foreach { st =>
      val (jobs, _, _, shuffle, _, _) = Tracer.meanWork(t, s"ops.$st")
      report.layer(s"ops.$st.ms", Tracer.medianMs(t, s"ops.$st"), "ms")
      report.layer(s"ops.$st.jobs", jobs, "count")
      report.layer(s"ops.$st.shuffle_bytes", shuffle, "B")
    }
  }

  /** Curate shard `i` and check the result; returns the curation time in ms (shard
    * generation and the checks are not timed). */
  def pass(ctx: Ctx, report: Report, i: Int, t: Option[Tracer], docs: Int): Double = {
    val spark = ctx.spark
    val s = shard(ctx.seed, i, docs, ctx.scale.wordsPerDoc)
    val corpus = frame(spark, s).localCheckpoint()
    def stage[A](name: String)(f: => A): A = t match {
      case Some(tr) => tr.span(s"ops.$name", i.toLong)(f)
      case None => f
    }
    val t0 = System.nanoTime()
    val kept = stage("exact") {
      val keep = Dedup.exact(corpus, "id", "text").select(col("keep_id").as("id"))
      corpus.join(keep, "id").localCheckpoint()
    }
    val quality = stage("quality")(TextAnalysis.qualityScore(kept, "id", "text").localCheckpoint())
    val pairs = stage("minhash_lsh")(Dedup.minhashLshPairs(kept, "id", "text").localCheckpoint())
    val clusters = stage("clusters")(Dedup.clusters(kept, "id", pairs).localCheckpoint())
    val best = stage("keep_best")(Dedup.keepBest(clusters, quality, "id", "score").localCheckpoint())
    kept.join(best.select(col("kept_id").as("id")), "id").write.mode("overwrite").parquet(ctx.sub("curated").toString)
    val ms = Clock.ms(t0)
    check(ctx, report, s, kept, clusters, best)
    ms
  }

  private def check(ctx: Ctx, report: Report, s: Shard, kept: DataFrame, clusters: DataFrame, best: DataFrame): Unit = {
    val keptIds = kept.select("id").collect().map(_.getLong(0)).toSet
    ctx.outcome.check("exact copies removed") {
      val left = s.exactCopies.count(keptIds.contains)
      if (left == 0) None else Some(s"$left of ${s.exactCopies.size} planted exact copies kept")
    }
    val cluster = clusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val found = s.nearPairs.count { case (a, b) => cluster.get(a).exists(c => cluster.get(b).contains(c)) }
    report.layer("ops.dup_recall", found.toDouble / math.max(1, s.nearPairs.size), "ratio")
    ctx.outcome.check("one kept document per cluster") {
      val nClusters = cluster.values.toSet.size
      val nBest = best.count()
      if (nBest == nClusters) None else Some(s"$nBest kept for $nClusters clusters")
    }
  }
}
