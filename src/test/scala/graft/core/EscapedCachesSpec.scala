package graft.core

import java.util.concurrent.Executors

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark

/** The r12 verdict's cross-release soak: two CONCURRENT funnel-family
  * computations, each wrapped in its own [[EscapedCaches.scoped]]
  * block, must not evict each other's escaped caches when one
  * releases — the process-global registry did exactly that (one
  * query's release() drained every in-flight query's persists;
  * recompute-only, but a p99 cliff under server concurrency). */
class EscapedCachesSpec extends AnyFunSuite with GraftSpark {

  /** A small 3-step-funnel-shaped events relation; `salt` varies the
    * data so the two concurrent clients build DISTINCT plans (distinct
    * cache entries — a shared entry would mask cross-release). */
  private def events(salt: Long): DataFrame = {
    import spark.implicits._
    val types = Seq("signup", "view", "purchase")
    (1L to 60L).flatMap { u =>
      (0 until 6).map { i =>
        (u, salt * 1000000L + u * 1000L + i * 7L, types((i + salt.toInt) % 3))
      }
    }.toDF("user_id", "timestamp", "event_type")
  }

  test("concurrent scoped funnels: one scope's release leaves the sibling's caches intact") {
    val pool = Executors.newFixedThreadPool(2)
    try {
      def submit(salt: Long) = pool.submit(
        new java.util.concurrent.Callable[(DataFrame, EscapedCaches.Scope)] {
          def call() = EscapedCaches.scoped {
            graft.ops.Funnels.funnel(events(salt),
              Seq("signup", "view", "purchase"))
          }
        })
      val (fa, fb) = (submit(1L), submit(2L))
      val (dfA, scopeA) = fa.get()
      val (dfB, scopeB) = fb.get()
      // each scope collected ITS query's escaped persists (the funnel
      // stats relation), and both are live in the cache
      assert(scopeA.registered.nonEmpty && scopeB.registered.nonEmpty)
      assert(scopeA.registered.forall(_.storageLevel != StorageLevel.NONE))
      assert(scopeB.registered.forall(_.storageLevel != StorageLevel.NONE))
      val bRegistered = scopeB.registered
      val expectB = dfB.collect().toSeq

      // client A finishes and releases — B's caches must SURVIVE
      assert(scopeA.release() >= 1)
      assert(scopeA.registered.isEmpty)
      assert(bRegistered.forall(_.storageLevel != StorageLevel.NONE),
        "scope A's release evicted scope B's escaped caches (cross-release)")
      assert(dfB.collect().toSeq == expectB)

      // B releases its own — now its caches drop
      assert(scopeB.release() >= 1)
      assert(bRegistered.forall(_.storageLevel == StorageLevel.NONE))
    } finally pool.shutdownNow()
  }

  test("unscoped registrations land in the global scope; scoped ones never do") {
    import spark.implicits._
    EscapedCaches.release() // drain anything a prior test left
    val loose = EscapedCaches.persistTracked(
      (1 to 10).toDF("x").groupBy("x").count())
    val (scopedDf, scope) = EscapedCaches.scoped {
      EscapedCaches.persistTracked((1 to 5).toDF("y").groupBy("y").count())
    }
    scopedDf.count()
    loose.count()
    // global release drains ONLY the unscoped persist
    assert(EscapedCaches.release() == 1)
    assert(loose.storageLevel == StorageLevel.NONE)
    assert(scopedDf.storageLevel != StorageLevel.NONE)
    assert(scope.release() == 1)
    assert(scopedDf.storageLevel == StorageLevel.NONE)
  }

  test("a throwing scoped body releases its own scope (no orphaned caches)") {
    import spark.implicits._
    EscapedCaches.release()
    var inner: DataFrame = null
    val e = intercept[RuntimeException] {
      EscapedCaches.scoped {
        inner = EscapedCaches.persistTracked(
          (1 to 7).toDF("z").groupBy("z").count())
        inner.count() // materialize so the cache is live before the throw
        throw new RuntimeException("statement failed mid-execution")
      }
    }
    assert(e.getMessage.contains("statement failed"))
    // the scope reference was lost on the throwing path — scoped must
    // have drained it itself, or a failing server statement leaks a
    // cache block forever (ADVICE r13 medium)
    assert(inner.storageLevel == StorageLevel.NONE,
      "exception path orphaned the scope's escaped cache")
    // and nothing leaked into the global scope either
    assert(EscapedCaches.release() == 0)
  }
}
