package perfbench

/**
 * Embedded batch work, one client, through the public Scala API: BSBM BI Q1–Q8 and two
 * `foaf:knows+` paths through `QuadStore.query` with every row collected, and one
 * curation shard per pass through `graft.ops`.
 */
object Analytic {
  /** The curation shard's place in a pass. */
  val Shard: Template = Template("curation", "shard", "")

  def run(ctx: Ctx, report: Report): Unit = {
    val env = new SparqlEnv(ctx, report)
    val (_, storeDir, store) = env.setup((b, _) => b.store)(_ => ())
    val queries = ctx.templates("bi") ++ ctx.templates("path")
    val docs = ctx.scale.docsPerShard
    var shard = 0

    // generated code does not depend on the shard size, so a small shard warms it
    val (_, warmMs) = Clock.timedMs(Curation.pass(ctx, report, -1, None, docs / 10))
    report.layer("bench.warmup_s", warmMs / 1e3, "s")
    val caps = new Captures(env.rotation(queries, ctx.scale.checksPerRun).map(_.id))
    // each pass starts without memoised closures, so the path plans are built every pass
    val coldPass = () => graft.engine.Rewriter.clearClosureCache()
    val (samples, elapsed) = Loop.passes(ctx, env, 1, ctx.seconds, env.params(0), queries :+ Shard, coldPass) { r =>
      if (r.template == Shard.id) { shard += 1; Some(Curation.pass(ctx, report, shard, None, docs)) }
      else {
        val df = store.query(r.text)
        val rows = df.collect()
        caps.offer(r)(Check.fromRows(df, rows))
        None
      }
    }
    Loop.reportLatency(report, samples, elapsed)
    env.checkCaptured(store.quads, caps)
    val shards = samples.filter(_.template == Shard.id).map(_.ms)
    report.layer("ops.docs_per_s", docs / (Stats.median(shards) / 1e3), "1/s")
    if (ctx.opts.trace) env.reportReopen(storeDir)

    if (ctx.opts.trace) {
      val t = new Tracer(ctx.spark)
      try {
        t.pause()
        val untraced = scala.collection.mutable.ArrayBuffer.empty[Double]
        val traced = scala.collection.mutable.ArrayBuffer.empty[Double]
        var req = 0L
        // every request twice, with the tracer off and on in alternating order and
        // each time from empty memoised closures, so that neither run gains from
        // going second; both make the same calls
        Loop.passes(ctx, env, 1, ctx.seconds, env.params(100), queries :+ Shard) { r =>
          req += 1
          if (r.template == Shard.id) shard += 1
          def once(on: Boolean): Unit = {
            val tr = if (on) Some(t) else None
            graft.engine.Rewriter.clearClosureCache()
            if (on) t.resume()
            val ms =
              if (r.template == Shard.id) Curation.pass(ctx, report, shard, tr, docs)
              else Clock.timedMs(Replay(tr, req, store.quads, r, serialize = false))._2
            if (on) t.pause()
            (if (on) traced else untraced) += ms
          }
          val order = if (req % 2 == 0) Seq(false, true) else Seq(true, false)
          order.foreach(once)
          None
        }
        SparqlLayers.overhead(report, untraced.toSeq, traced.toSeq)
        SparqlLayers.report(t, report)
        Curation.report(t, report)
        t.write(ctx.traceFile)
      } finally t.close()
    }
  }
}
