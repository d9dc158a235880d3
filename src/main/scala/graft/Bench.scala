package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** Fixed calibration probe, run once per pass: a trivial spark.range sum
    * whose cost is code-independent, in seconds. Its min across passes is a
    * host-speed fingerprint — later rounds divide by it to separate host
    * drift from code regression without a snapshot A/B (r6 lost ~half a
    * round's perf signal to an unexplained host-wide ~2x multiplier). */
  def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(200000000L).selectExpr("sum(id * 3 + 1)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm up codegen/JIT/file-listing so the first measured query isn't
    // charged for session startup
    try {
      spark.range(1000000).selectExpr("sum(id)").collect()
      spark.read.parquet(s"$sfDir/region.parquet").count()
    } catch { case _: Throwable => }
    // JIT-warm the prefix-Jaccard pipeline on a TINY synthetic corpus: its
    // whole-stage-codegen compile is ~6 s on the first run in a session
    // (measured; same phenomenon as BSBM BI-Q8). A different corpus means a
    // different cache key, so no signatures/arrays are shared with the
    // timed queries — only the generated classes and JIT state warm up.
    try {
      import spark.implicits._
      val tiny = (0 until 40).map(i => (i.toLong,
        s"warm doc $i " + (0 until 25).map(j => s"w${(i + j) % 30}").mkString(" ")))
        .toDF("doc_id", "text")
      graft.ops.Dedup.jaccardPairsPrefix(tiny, "doc_id", "text", 0.6, 3)
        .write.format("noop").mode("overwrite").save()
    } catch { case e: Throwable => System.err.println(s"[bench] jit warmup: $e") }
    // JIT/codegen-warm the WARC pipeline (blob synthesis incl. gzip +
    // record/HTTP parsing) the same way: warc_extract's history is bimodal
    // across rounds (r6 1.77 / r7 0.85 / r8 1.75 s) because its first pass
    // pays this compile+JIT cost wherever the host was busy; a tiny
    // different-schema corpus warms the generated classes without sharing
    // any plan with the timed query (the r4 windfarm-prebuild precedent).
    try {
      import spark.implicits._
      val tiny = (0 until 64).map(i => (i.toLong, s"warc warm doc $i body text"))
        .toDF("doc_id", "text")
      graft.sources.Warc.records(
          graft.sources.Warc.syntheticWarc(tiny, "doc_id", "text"), "doc_id", "warc")
        .write.format("noop").mode("overwrite").save()
    } catch { case e: Throwable => System.err.println(s"[bench] warc warmup: $e") }
    // Three INTERLEAVED full passes over the suite, min per query — not
    // back-to-back per-query samples. Rationale (measured by the r6 A/B
    // probe AbBench, deleted: see CHANGES.md): host-level load spikes on
    // this shared VM last seconds-to-minutes, so two back-to-back samples of one query are
    // CORRELATED and min-of-2 does not remove the spike (the r5-reported
    // "2.6-4.4x regression" on 9 queries reproduced at steady state as
    // 1.0x — pure noise). Interleaving decorrelates: a spike inflates one
    // pass's worth of each query, and the min across passes recovers.
    // Pass 1 additionally JIT/codegen-warms the whole suite for passes 2-3.
    // optional arg: comma-separated query subset (local iteration only —
    // the driver always runs the full suite)
    val only: Option[Set[String]] = args.headOption.map(_.split(",").toSet)
    val sorted = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // the wind-farm store (generate 4.9M quads + write predicate-partitioned
    // parquet, ~20 s) is a one-time per-session index build shared by the
    // three windfarm_* queries — force it here, when any of them runs, so it
    // isn't billed to whichever of them the loop reaches first (r3
    // misattributed it to windfarm_grouped_multi: 12.2 s reported vs ~2.9 s
    // real)
    if (sorted.exists(_._1.startsWith("windfarm_"))) {
      val tBuild = System.nanoTime()
      try SparkEntry.queries("windfarm_production")(spark, sfDir).limit(1).collect()
      catch { case e: Throwable => System.err.println(s"[bench] windfarm prebuild: $e") }
      System.err.println(f"[bench] windfarm store prebuild: ${(System.nanoTime() - tBuild) / 1e9}%.1f s (untimed)")
    }
    val calibrations = scala.collection.mutable.ArrayBuffer[Double]()
    // Honesty fix (r9 verdict item 6): graft-level build-once artifacts
    // (memoised transitive closures, LSH/IVF/MinHash-signature indexes) are
    // wiped before EVERY timed pass, so passes 2-3 rebuild them and the
    // min-of-passes time reflects cold-artifact cost instead of a warm-index
    // lookup for sparql_path_closure/path_seeded/ann_*/dedup_minhash.
    val passes = (1 to 3).map { _ =>
      graft.ops.IndexCache.clearAll()
      calibrations += calibrate(spark)
      sorted.map { case (name, fn) =>
        val t0 = System.nanoTime()
        // noop sink consumes every row + column (count() would let Catalyst
        // prune the computed columns — dishonest timing)
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable => System.err.println(s"[bench] $name: $e") }
        name -> (System.nanoTime() - t0) / 1e9
      }
    }
    val results = sorted.map { case (name, _) =>
      name -> passes.map(_.toMap.apply(name)).min
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // same map at millisecond precision for the STDOUT copy of the full
    // line: 108 full-precision doubles make the line 3.3 KB, of which the
    // driver's 2,000-char tail keeps only the last ~55%; at 1 ms precision
    // ~75% of the per-query entries stay recoverable from the tail. The
    // full-precision map still goes to target/bench_latest.json.
    val qsShort = results.map { case (k, v) => s"\"" + k + "\":" + math.rint(v * 1000) / 1000 }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // n_queries/per_query contextualise the total across rounds: the query
    // inventory grows round over round (r2: 33, r3: 41), so raw totals are
    // not comparable without normalisation
    val avg = if (results.nonEmpty) total / results.size else 0.0
    // calibration = min-of-passes trivial-query time (host-speed fingerprint;
    // see calibrate() above). calibration_all keeps the raw per-pass samples.
    val calMin = if (calibrations.nonEmpty) calibrations.min else 0.0
    val calAll = calibrations.mkString("[", ",", "]")
    val json = s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"per_query":$avg,"calibration":$calMin,"calibration_all":$calAll,"queries":$qs,"sf":"$sfDir"}"""
    val jsonShort = s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"per_query":$avg,"calibration":$calMin,"queries":$qsShort,"sf":"$sfDir"}"""
    // The FULL artifact (per-query map) goes to a file; stdout gets a
    // COMPACT summary. The driver captures only the last 2,000 chars of
    // stdout, and the full line (3.3 KB at 108 queries) truncated from the
    // FRONT three rounds running — BENCH_r{6,7,8}.json all "parsed": null.
    // The summary stays ~200 bytes no matter how the query inventory grows.
    val compact = s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"per_query":$avg,"calibration":$calMin,"sf":"$sfDir","full":"target/bench_latest.json"}"""
    try {
      val out = java.nio.file.Paths.get("target", "bench_latest.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out, json.getBytes("UTF-8"))
    } catch { case e: Throwable => System.err.println(s"[bench] artifact write: $e") }
    // stop Spark BEFORE printing, so the JSON is the process's very last
    // stdout line (r6's artifact was truncated by a JVM-exit summary
    // printing after it). The full per-query line stays on stdout (the
    // contract line, with the complete "queries" map); the compact summary
    // prints LAST so the driver's 2,000-char tail capture parses it.
    spark.stop()
    println(jsonShort)
    println(compact)
  }
}
