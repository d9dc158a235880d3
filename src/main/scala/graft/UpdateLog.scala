package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.model.{BNode, Iri, RdfTerm}

/**
 * Write-ahead update log: merge-on-read persistence for SPARQL UPDATE.
 *
 * At 100 TB, re-writing the whole store per update (`save` after every
 * `update`) makes the write the dominant cost of ANY mutation. A logged
 * store instead appends the UPDATE REQUEST TEXT itself — the smallest
 * faithful delta a SPARQL store has: quad-level deltas cannot represent
 * CLEAR/DROP/COPY/MOVE without materialising whole graphs, while the
 * request replays them for free — and re-applies the log lazily on load
 * through the same scale-audited executor (broadcast-pinned anti/semi
 * joins, weight-bounded lineage cuts). `compact` folds the log into a new
 * base in ONE materialisation.
 *
 * Layout under `dir`:
 *   base/          parquet in [[QuadStore.save]]'s (p,s)-clustered layout,
 *                  plus two `_`-prefixed sidecars Spark's reader ignores:
 *     _registry    one named-graph IRI per line — graphs that exist while
 *                  EMPTY (CREATE'd, CLEARed, ADD destinations), which
 *                  parquet alone cannot record
 *     _compacted   highest log sequence number already folded into this
 *                  base. Riding INSIDE base/ makes it atomic with the
 *                  directory swap: replay skips entries ≤ it even when a
 *                  crash left their files in log/, so compaction can never
 *                  double-apply a non-idempotent DELETE/INSERT WHERE.
 *   log/NNNNNNNN.ru   one UTF-8 SPARQL Update request per file, replayed
 *                  in numeric sequence order (zero-padded to 8 digits for
 *                  readability; wider numbers parse and sort fine)
 *
 * Crash safety: compact stages the new base in `base.tmp`, renames it to
 * `base.next` only once complete (so `base.next` existing ⇒ complete),
 * then swaps `base → base.old`, `base.next → base`, deletes `base.old`
 * and the folded entries. [[recover]] repairs every intermediate state on
 * the next open; consumed-entry deletion is pure garbage collection
 * because `_compacted` already excludes them from replay.
 *
 * Replay is a plain fold of [[QuadStore.update]] over the entries. Each
 * snapshot carries its plan-growth weight into the next request, so every
 * replayed plan stays ≤ `graft.update.cutWeight` (default 64) store-plan
 * leaves no matter how the log slices into requests — per-request
 * accounting never cut on a run of single-Modify entries (weight 8 < 64
 * each) and compounded ~8^n leaves over n entries. UpdateLogSpec's
 * "plan-growth weight carries across replayed requests" test checks the
 * bound.
 *
 * Semantics notes: replay re-executes requests, so INSERT-template blank
 * nodes receive fresh labels per load (bnode labels are not significant),
 * and a `LOAD <http://…>` replays against the document's CURRENT content —
 * compact if byte-stable history matters. Single writer assumed (sequence
 * numbers are allocated by directory listing); appends themselves are
 * atomic (tmp file + ATOMIC_MOVE).
 *
 * The reference stubs all of UPDATE (store.rs:409-414), so it has no
 * counterpart surface; this is the persistence half of exceeding it.
 */
object UpdateLog {

  /** Initialise a logged store directory from a snapshot. */
  def init(store: QuadStore, dir: String): Unit = {
    val d = Paths.get(dir)
    Files.createDirectories(d.resolve("log"))
    store.save(d.resolve("base").toString)
    writeRegistry(d.resolve("base"), store.reg)
  }

  /** Append one update request to the log — no Spark job, no base rewrite.
    * The mutation becomes visible to the next [[load]]. */
  def append(dir: String, updateText: String): Unit = {
    // validate eagerly: a request that cannot parse must fail the APPEND,
    // not every future load
    graft.sparql.SparqlParser.parseUpdate(updateText)
    val d = Paths.get(dir)
    recover(d)
    val log = d.resolve("log")
    Files.createDirectories(log)
    // the sequence NEVER resets: an entry numbered at-or-below the base's
    // _compacted watermark would be silently skipped by replay
    val n = math.max(
      entries(log, 0L).lastOption.map(seqOf).getOrElse(0L),
      compactedThrough(d)) + 1
    val name = f"$n%08d.ru"
    val tmp = log.resolve(s".$name.tmp")
    Files.write(tmp, updateText.getBytes("UTF-8"))
    Files.move(tmp, log.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Open the logged store: base parquet + registry, then the log replayed
    * in order (lazily — nothing materialises until the store is read).
    * Entries at-or-below the base's `_compacted` watermark are already
    * folded in and skip; the plan-growth weight carries across entries so
    * lineage cuts fire exactly as if the whole log were one request. */
  def load(spark: SparkSession, dir: String): QuadStore = {
    val d = Paths.get(dir)
    recover(d)
    replay(spark, d, entries(d.resolve("log"), compactedThrough(d)))
  }

  /** Fold the log into a new base — the ONE full materialisation — then
    * drop the replayed entries. Requests appended while the compaction
    * job runs survive: replay folds EXACTLY the entries listed at the
    * start (never a re-listing — a concurrent append between two listings
    * would otherwise be folded yet kept, and double-apply on every future
    * load), and only those are garbage-collected. */
  def compact(spark: SparkSession, dir: String): QuadStore = {
    val d = Paths.get(dir)
    recover(d)
    val before = compactedThrough(d)
    val consumed = entries(d.resolve("log"), before)
    val st = replay(spark, d, consumed)
    val through = consumed.lastOption.map(seqOf).getOrElse(before)
    val (tmp, next, old, base) =
      (d.resolve("base.tmp"), d.resolve("base.next"), d.resolve("base.old"), d.resolve("base"))
    val reg = st.reg
    st.save(tmp.toString)
    writeRegistry(tmp, reg)
    Files.write(tmp.resolve("_compacted"), through.toString.getBytes("UTF-8"))
    // base.tmp is complete — from here every crash state is repaired by
    // recover(): rename to base.next (existence ⇒ complete), swap, clean up
    Files.move(tmp, next)
    Files.move(base, old)
    Files.move(next, base)
    deleteRec(old)
    // pure GC: replay already skips these via the _compacted watermark
    consumed.foreach(Files.deleteIfExists(_))
    // uploaded documents (the server's logged data POSTs) whose LOAD entry
    // was just folded are garbage — keep only those a surviving entry
    // still references
    val docs = d.resolve("docs")
    if (Files.isDirectory(docs)) {
      val live = entries(d.resolve("log"), through)
        .map(p => new String(Files.readAllBytes(p), "UTF-8")).mkString("\n")
      listDir(docs)
        .filterNot(p => live.contains(p.getFileName.toString))
        .foreach(Files.delete)
    }
    withRegistry(QuadStore.load(spark, base.toString), d)
  }

  // ----------------------------------------------------------------- helpers

  /** base + registry, then the given entries replayed in order. */
  private def replay(spark: SparkSession, d: Path, es: Seq[Path]): QuadStore =
    es.foldLeft(withRegistry(QuadStore.load(spark, d.resolve("base").toString), d)) { (st, p) =>
      st.update(new String(Files.readAllBytes(p), "UTF-8"))
    }

  /** Repair the intermediate states a crashed [[compact]] can leave behind.
    * Idempotent; cheap (existence checks) when there is nothing to do. */
  private def recover(d: Path): Unit = {
    val (tmp, next, old, base) =
      (d.resolve("base.tmp"), d.resolve("base.next"), d.resolve("base.old"), d.resolve("base"))
    // base.tmp: either incomplete (crash mid-save) or already renamed away —
    // a leftover is always garbage
    deleteRec(tmp)
    if (!Files.isDirectory(base)) {
      // crash mid-swap: base.next is complete by construction — adopt it
      // (its _compacted watermark keeps the not-yet-deleted entries skipped)
      // and drop the superseded base.old
      if (Files.isDirectory(next)) { Files.move(next, base); deleteRec(old) }
      // defensive: with the documented ordering base.old can only coexist
      // with a missing base while base.next exists, but restore it if alone
      else if (Files.isDirectory(old)) Files.move(old, base)
    } else {
      // crash before the swap started: old base + full log IS the pre-swap
      // state (folded entries were not yet deleted) — discard the staged base
      deleteRec(next)
      deleteRec(old)
    }
  }

  /** Log entries with sequence number strictly above `skipThrough`, in
    * numeric order. Streams are closed (long-lived servers append per
    * request — a leaked descriptor per load adds up). */
  private def entries(log: Path, skipThrough: Long): Seq[Path] =
    if (!Files.isDirectory(log)) Nil
    else listDir(log)
      .filter(_.getFileName.toString.matches("\\d+\\.ru"))
      .filter(seqOf(_) > skipThrough)
      .sortBy(seqOf)

  private def seqOf(p: Path): Long =
    p.getFileName.toString.stripSuffix(".ru").toLong

  /** Highest sequence number already folded into base/ (0 = none). */
  private def compactedThrough(d: Path): Long = {
    val f = d.resolve("base").resolve("_compacted")
    if (Files.exists(f)) new String(Files.readAllBytes(f), "UTF-8").trim.toLong else 0L
  }

  private def listDir(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toSeq finally s.close()
  }

  private def withRegistry(st: QuadStore, d: Path): QuadStore =
    readRegistry(d).foldLeft(st)(_ insertNamedGraph _)

  private def writeRegistry(baseDir: Path, reg: Set[RdfTerm]): Unit = {
    val lines = reg.toSeq.collect { case Iri(v) => v; case BNode(v) => "_:" + v }.sorted
    Files.write(baseDir.resolve("_registry"), lines.mkString("\n").getBytes("UTF-8"))
  }

  private def readRegistry(d: Path): Seq[RdfTerm] = {
    // registry rides inside base/ so it swaps atomically with compaction;
    // fall back to the pre-r9 `dir/registry` location for existing dirs
    val f = Seq(d.resolve("base").resolve("_registry"), d.resolve("registry"))
      .find(Files.exists(_))
    f.toSeq.flatMap(p =>
      new String(Files.readAllBytes(p), "UTF-8").linesIterator.filter(_.nonEmpty).map {
        case s if s.startsWith("_:") => BNode(s.drop(2))
        case s => Iri(s)
      })
  }

  private def deleteRec(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    finally s.close()
  }
}
