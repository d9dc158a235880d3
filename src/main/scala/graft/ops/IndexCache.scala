package graft.ops

import org.apache.spark.sql.DataFrame

/**
 * Small LRU for build-once index artifacts (IVF indexes, MinHash
 * signatures, transitive-closure adjacencies and fixpoints). Bounded and
 * access-ordered: evicted entries drop their references so Spark's
 * ContextCleaner can free the localCheckpoint blocks, instead of leaking them
 * for the session lifetime. Keys embed the FULL canonicalized analyzed plan
 * of the source DataFrame (not its 32-bit semanticHash), so two different
 * corpora can never silently share an index via a hash collision.
 *
 * Builds are single-flight: the first caller of a key builds it outside the
 * cache's lock, later callers of that key wait for that one build, and
 * callers of other keys are served meanwhile (an IVF k-means build or a
 * closure's Spark jobs never hold up another lookup). A build that throws
 * drops its entry, and the next caller of the key builds again.
 *
 * Every instance registers itself with the companion so a measurement
 * harness can wipe all index artifacts between passes
 * ([[IndexCache.clearAll]]): min-of-passes timing otherwise reports
 * warm-index cost for the build-once/query-many operators.
 */
private[graft] final class IndexCache[V](maxEntries: Int = 16) {
  IndexCache.register(this)
  /** One key's value: the lazy val's lock is the entry's, not the cache's. */
  private final class Entry(build: => V) { lazy val value: V = build }
  private val m = new java.util.LinkedHashMap[String, Entry](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, Entry]): Boolean =
      size() > maxEntries
  }
  def get(key: String, build: => V): V = {
    val e = synchronized {
      val cur = m.get(key)
      if (cur != null) cur
      else { val fresh = new Entry(build); m.put(key, fresh); fresh }
    }
    try e.value
    catch { case t: Throwable => synchronized(m.remove(key, e)); throw t }
  }
  def clear(): Unit = synchronized { m.clear() }
}

private[graft] object IndexCache {
  private val instances = new java.util.concurrent.CopyOnWriteArrayList[IndexCache[_]]()
  private def register(c: IndexCache[_]): Unit = instances.add(c)

  /** Drop every cached index artifact in the process (all IndexCache
    * instances, the closure caches among them). Used by the bench between
    * timed passes so reported times are cold-artifact times. */
  def clearAll(): Unit = instances.forEach(_.clear())

  /** Collision-proof cache key: session identity + canonicalized plan +
    * caller params. The plan's toString alone is NOT enough: a LogicalRDD
    * (checkpointed / createDataFrame corpus) prints only its schema — two
    * different corpora with the same columns would collide — and a
    * LocalRelation prints without its data. The collected RDD ids pin the
    * former; the canonicalized plan's hashCode (case-class deep hash,
    * includes LocalRelation rows) pins the latter. */
  def key(df: DataFrame, params: Any*): String = {
    val plan = df.queryExecution.analyzed
    val canon = plan.canonicalized
    val rddIds = plan.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }
    System.identityHashCode(df.sparkSession).toString + "|" +
      canon.toString + "|" + canon.hashCode + "|" + rddIds.mkString(",") + "|" +
      params.mkString("|")
  }
}
