package graft

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import graft.model._
import graft.sources.Turtle
import graft.web.SparqlServer

/** Write-ahead update-log persistence: append is base-rewrite-free, load
  * replays lazily with the plan-growth weight carried ACROSS requests,
  * compact folds the log into a new base once — crash-safely (every
  * intermediate state a dying compact can leave recovers to the same
  * logical store, without double-applying non-idempotent requests) — and
  * preserves the registered-empty-graph registry that parquet alone cannot
  * record. */
class UpdateLogSpec extends SparkSpec {

  private def mkStore(quads: (String, String, String)*): QuadStore =
    QuadStore(Turtle.quadsToDF(spark,
      quads.map(q => RdfQuad(None, Iri(q._1), Iri(q._2), Iri(q._3)))))

  private def tuples(st: QuadStore): Set[(Option[String], String, String, String)] =
    st.quads.collect().toSet.map { (r: org.apache.spark.sql.Row) =>
      (Option(r.getStruct(0)).map(_.getString(1)),
        r.getStruct(1).getString(1), r.getStruct(2).getString(1), r.getStruct(3).getString(1))
    }

  private def graphs(st: QuadStore): Set[String] =
    st.namedGraphs().collect().map(_.getStruct(0).getString(1)).toSet

  private def copyDir(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.toSeq.foreach { p =>
      val t = to.resolve(from.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else { Files.createDirectories(t.getParent); Files.copy(p, t) }
    } finally s.close()
  }

  private def deleteDir(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  test("append + load replays the log; compact folds it and keeps the registry") {
    val dir = Files.createTempDirectory("graft_updlog").toString
    UpdateLog.init(mkStore(("urn:a", "urn:p", "urn:b"), ("urn:c", "urn:p", "urn:d")), dir)

    UpdateLog.append(dir, "INSERT DATA { <urn:e> <urn:p> <urn:f> }")
    UpdateLog.append(dir, "DELETE WHERE { <urn:a> ?p ?o }")
    UpdateLog.append(dir, "CREATE GRAPH <urn:g:empty>")
    UpdateLog.append(dir,
      "INSERT DATA { GRAPH <urn:g1> { <urn:x> <urn:q> <urn:y> } }")

    val expectedQuads = Set(
      (None: Option[String], "urn:c", "urn:p", "urn:d"),
      (None, "urn:e", "urn:p", "urn:f"),
      (Some("urn:g1"), "urn:x", "urn:q", "urn:y"))
    val replayed = UpdateLog.load(spark, dir)
    assert(tuples(replayed) == expectedQuads)
    assert(graphs(replayed) == Set("urn:g:empty", "urn:g1"))
    // nothing was folded: the base still holds the pre-log state
    assert(tuples(QuadStore.load(spark, Paths.get(dir).resolve("base").toString)) ==
      Set((None: Option[String], "urn:a", "urn:p", "urn:b"), (None, "urn:c", "urn:p", "urn:d")))

    val compacted = UpdateLog.compact(spark, dir)
    assert(tuples(compacted) == expectedQuads)
    assert(graphs(compacted) == Set("urn:g:empty", "urn:g1"),
      "compaction must persist the registered-empty graph via the registry sidecar")
    assert(Files.list(Paths.get(dir).resolve("log")).count() == 0, "log not truncated")

    // appends after compaction must continue ABOVE the compacted-through
    // watermark (a restarted sequence would be silently skipped by replay)
    UpdateLog.append(dir, "DROP GRAPH <urn:g:empty>")
    val after = UpdateLog.load(spark, dir)
    assert(graphs(after) == Set("urn:g1"))
    assert(tuples(after) == expectedQuads)
  }

  test("plan-growth weight carries across replayed requests") {
    // single-Modify requests, each below the cut on its own (weight 8 < 64):
    // an entry point that accounts per request compounds ~8^n plan leaves
    val reqs = (1 to 7).map(i => s"INSERT { ?s <urn:q$i> ?o } WHERE { ?s <urn:p> ?o }")
    val base = mkStore(("urn:s0", "urn:p", "urn:o0"))
    def chained(): QuadStore = reqs.foldLeft(base)(_ update _)
    def served(): QuadStore = {
      val server = SparqlServer.start(spark, base.quads, host = "127.0.0.1")
      try {
        reqs.foreach { r =>
          val conn = URI.create(s"http://127.0.0.1:${server.boundPort}/repositories/default/update")
            .toURL.openConnection().asInstanceOf[HttpURLConnection]
          conn.setRequestMethod("POST")
          conn.setRequestProperty("Content-Type", "application/sparql-update")
          conn.setDoOutput(true)
          conn.getOutputStream.write(r.getBytes(UTF_8))
          assert(conn.getResponseCode == 204)
        }
        QuadStore(server.storeQuads)
      } finally server.stop()
    }
    def replayed(): QuadStore = {
      val dir = Files.createTempDirectory("graft_updlog_weight").toString
      UpdateLog.init(base, dir)
      reqs.foreach(UpdateLog.append(dir, _))
      UpdateLog.load(spark, dir)
    }
    for ((entry, run) <- Seq("chained store.update" -> chained _,
        "POST /update" -> served _, "UpdateLog.load" -> replayed _)) {
      val st = run()
      assert(tuples(st).map(_._3) == (Set("urn:p") ++ reqs.indices.map(i => s"urn:q${i + 1}")), entry)
      val leaves = st.quads.queryExecution.optimizedPlan.collectLeaves().size
      assert(leaves < 64, s"$entry: plan has $leaves leaves — the weight cut did not fire across requests")
    }
  }

  test("compaction is crash-safe: every intermediate state recovers to the same logical store") {
    val dir = Files.createTempDirectory("graft_updlog_crash")
    UpdateLog.init(mkStore(("urn:a", "urn:p", "urn:b")), dir.toString)
    // deliberately NON-idempotent: applying it twice swaps the triple back
    UpdateLog.append(dir.toString,
      "DELETE { ?s <urn:p> ?o } INSERT { ?o <urn:p> ?s } WHERE { ?s <urn:p> ?o }")
    val expected = Set((None: Option[String], "urn:b", "urn:p", "urn:a"))
    assert(tuples(UpdateLog.load(spark, dir.toString)) == expected)

    // three pre-compact copies to manufacture the crash states in
    val Seq(c1, c2, c3) = (1 to 3).map { i =>
      val c = Files.createTempDirectory(s"graft_updlog_crash$i")
      copyDir(dir, c); c
    }
    val folded = UpdateLog.compact(spark, dir.toString)
    assert(tuples(folded) == expected)

    // state A — crash after staging, before the swap: complete base.next,
    // old base and log intact. Recovery must discard the staged base; the
    // old base + full log IS the pre-swap state.
    copyDir(dir.resolve("base"), c1.resolve("base.next"))
    Files.createDirectories(c1.resolve("base.tmp")) // plus a dead half-save
    assert(tuples(UpdateLog.load(spark, c1.toString)) == expected)
    assert(!Files.exists(c1.resolve("base.next")) && !Files.exists(c1.resolve("base.tmp")))

    // state B — crash mid-swap: base renamed away, base.next complete, log
    // entries not yet deleted. Recovery adopts base.next; its _compacted
    // watermark keeps the leftover entries from replaying.
    copyDir(dir.resolve("base"), c2.resolve("base.next"))
    Files.move(c2.resolve("base"), c2.resolve("base.old"))
    assert(tuples(UpdateLog.load(spark, c2.toString)) == expected,
      "mid-swap crash must not lose the store or double-apply the log")
    assert(Files.isDirectory(c2.resolve("base")) && !Files.exists(c2.resolve("base.old")))

    // state C — crash after the swap, before entry GC: folded base with
    // stale log entries. A double replay of the non-idempotent Modify would
    // swap the triple back — the watermark must skip it.
    deleteDir(c3.resolve("base"))
    copyDir(dir.resolve("base"), c3.resolve("base"))
    assert(Files.list(c3.resolve("log")).count() == 1, "crash state C needs the stale entry")
    assert(tuples(UpdateLog.load(spark, c3.toString)) == expected,
      "stale consumed entries must not double-apply onto the compacted base")
  }

  test("entry sequence numbers widen past 8 digits and keep replaying in order") {
    val dir = Files.createTempDirectory("graft_updlog_seq")
    UpdateLog.init(mkStore(("urn:a", "urn:p", "urn:b")), dir.toString)
    UpdateLog.append(dir.toString, "INSERT DATA { <urn:s1> <urn:p> <urn:o1> }")
    // a long-lived server's 100,000,000th entry: 9 digits
    Files.write(dir.resolve("log").resolve("100000000.ru"),
      "DELETE DATA { <urn:s1> <urn:p> <urn:o1> }".getBytes("UTF-8"))
    UpdateLog.append(dir.toString, "INSERT DATA { <urn:s2> <urn:p> <urn:o2> }")
    assert(Files.exists(dir.resolve("log").resolve("100000001.ru")),
      "append must continue numerically after a 9-digit entry")
    assert(tuples(UpdateLog.load(spark, dir.toString)) == Set(
      (None: Option[String], "urn:a", "urn:p", "urn:b"),
      (None, "urn:s2", "urn:p", "urn:o2")))
  }

  test("append rejects an unparseable request instead of poisoning every load") {
    val dir = Files.createTempDirectory("graft_updlog_bad").toString
    UpdateLog.init(mkStore(("urn:a", "urn:p", "urn:b")), dir)
    intercept[Exception](UpdateLog.append(dir, "INSERT GARBAGE { this is not sparql }"))
    assert(Files.list(Paths.get(dir).resolve("log")).count() == 0)
    assert(tuples(UpdateLog.load(spark, dir)).nonEmpty)
  }
}
