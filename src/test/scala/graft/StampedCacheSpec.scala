package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

/** The cache contract every reuse point relies on, pinned without
  * Spark: per-owner stamp eviction, one build per key under racing
  * first calls, no entry left by a failed build, and nested builds. */
class StampedCacheSpec extends AnyFunSuite {

  test("a superseded stamp is evicted once through onEvict; other owners stay") {
    val evicted = scala.collection.mutable.ArrayBuffer.empty[String]
    val c = new StampedCache[Unit, String](v => evicted.synchronized(evicted += v))
    assert(c("a", 1L, ())("a1") === "a1")
    assert(c("b", 1L, ())("b1") === "b1")
    // owner a moves to stamp 2: a1 goes, b1 is untouched
    assert(c("a", 2L, ())("a2") === "a2")
    assert(evicted.toSeq === Seq("a1"))
    assert(c.values.toSet === Set("a2", "b1"))
    // further calls at the current stamp evict nothing more
    assert(c("a", 2L, ())(fail("current key rebuilt")) === "a2")
    assert(c("b", 1L, ())(fail("other owner rebuilt")) === "b1")
    assert(evicted.toSeq === Seq("a1"))
  }

  test("entries with different params under the current stamp both stay") {
    val builds = new AtomicInteger
    val c = new StampedCache[Int, String]
    def get(k: Int) = c("o", 7L, k) { builds.incrementAndGet(); s"v$k" }
    assert(get(1) === "v1")
    assert(get(2) === "v2")
    assert(get(1) === "v1" && get(2) === "v2")
    assert(builds.get === 2)
    assert(c.values.toSet === Set("v1", "v2"))
  }

  test("racing first calls on a cold key build once and share the value") {
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val builds = new AtomicInteger
      val c = new StampedCache[Unit, Object]
      val go = new CountDownLatch(1)
      val calls = Seq.fill(2)(Future {
        go.await()
        c("o", 1L, ()) {
          builds.incrementAndGet()
          Thread.sleep(200) // hold the build open so the other call arrives
          new Object
        }
      })
      go.countDown()
      val Seq(a, b) = Await.result(Future.sequence(calls), 30.seconds)
      assert(builds.get === 1)
      assert(a eq b)
    } finally {
      pool.shutdown()
      pool.awaitTermination(10, TimeUnit.SECONDS)
    }
  }

  test("a build that throws leaves the key empty; the next call builds") {
    val c = new StampedCache[Unit, String]
    intercept[IllegalStateException] {
      c("o", 1L, ())(throw new IllegalStateException("torn"))
    }
    assert(c.values.isEmpty)
    assert(c("o", 1L, ())("ok") === "ok")
    assert(c.values.toSeq === Seq("ok"))
  }

  test("a nested build on another key of the same cache does not deadlock") {
    val pool = Executors.newSingleThreadExecutor()
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val c = new StampedCache[String, String]
      val outer = Future {
        c("o", 1L, "outer")(c("o", 1L, "inner")("in") + "+out")
      }
      assert(Await.result(outer, 30.seconds) === "in+out")
      assert(c.values.toSet === Set("in", "in+out"))
    } finally {
      pool.shutdown()
      pool.awaitTermination(10, TimeUnit.SECONDS)
    }
  }
}
