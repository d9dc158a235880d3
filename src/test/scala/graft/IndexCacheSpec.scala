package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.IndexCache

/** The build-once cache behind the index artifacts and the closure memos:
  * one build per key, run outside the cache's lock. */
class IndexCacheSpec extends AnyFunSuite {

  test("two callers of one key share one build; a build does not block another key") {
    val cache = new IndexCache[String]()
    val builds = new AtomicInteger()
    val building = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    def slow(): String = {
      builds.incrementAndGet()
      building.countDown()
      assert(release.await(30, TimeUnit.SECONDS))
      "built"
    }
    val pool = Executors.newFixedThreadPool(3)
    try {
      val first = pool.submit(() => cache.get("k", slow()))
      assert(building.await(30, TimeUnit.SECONDS))
      val second = pool.submit(() => cache.get("k", slow()))
      // while "k" builds, another key is served at once
      val other = pool.submit(() => cache.get("other", "quick"))
      assert(other.get(10, TimeUnit.SECONDS) == "quick")
      assert(!second.isDone, "the second caller of k must wait for the first build")
      release.countDown()
      assert(first.get(30, TimeUnit.SECONDS) == "built")
      assert(second.get(30, TimeUnit.SECONDS) == "built")
      assert(builds.get == 1)
      // a cached key is not rebuilt; a cleared one is
      assert(cache.get("k", "rebuilt") == "built")
      cache.clear()
      assert(cache.get("k", "rebuilt") == "rebuilt")
    } finally {
      release.countDown()
      pool.shutdownNow()
    }
  }

  test("a build that throws is retried by the next caller") {
    val cache = new IndexCache[Int]()
    assertThrows[IllegalStateException](cache.get("k", throw new IllegalStateException("boom")))
    assert(cache.get("k", 7) == 7)
  }
}
