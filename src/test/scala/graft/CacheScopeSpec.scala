package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}

import org.apache.spark.storage.StorageLevel

/** The cache lifecycle: operators register persisted intermediates, and
  * the scope that runs them (or, outside every scope, a drain) releases
  * them. */
class CacheScopeSpec extends SparkSpec {

  private def cached(ds: org.apache.spark.sql.Dataset[_]): Boolean =
    ds.storageLevel != StorageLevel.NONE

  test("persist registers at MEMORY_AND_DISK; drain releases; re-use recomputes safely") {
    val df = spark.range(1000).toDF("id")
    CacheScope.persist(df)
    assert(df.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(df.count() == 1000)
    CacheScope.drain()
    assert(df.storageLevel == StorageLevel.NONE)
    // a drained frame is still usable — it just recomputes from lineage
    assert(df.count() == 1000)
    // drain is idempotent and empty-safe
    CacheScope.drain()
  }

  test("drain releases every frame registered since the last drain") {
    val a = spark.range(10).toDF("a")
    val b = spark.range(20).toDF("b")
    CacheScope.persist(a)
    CacheScope.persist(b)
    CacheScope.drain()
    assert(a.storageLevel == StorageLevel.NONE)
    assert(b.storageLevel == StorageLevel.NONE)
  }

  test("within releases exactly the frames persisted in it when the body returns") {
    val outside = CacheScope.persist(spark.range(30).toDF("o"))
    val a = spark.range(10).toDF("a")
    val b = spark.range(20).toDF("b")
    val n = CacheScope.within {
      CacheScope.persist(a)
      CacheScope.persist(b)
      assert(cached(a) && cached(b))
      a.count() + b.count()
    }
    assert(n == 30)
    assert(!cached(a) && !cached(b))
    assert(cached(outside), "a frame persisted outside the scope was released by it")
    CacheScope.drain()
    assert(!cached(outside))
  }

  test("within releases its frames when the body throws, and rethrows") {
    val a = spark.range(10).toDF("a")
    val e = intercept[IllegalStateException] {
      CacheScope.within {
        CacheScope.persist(a).count()
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(!cached(a))
  }

  test("a nested scope's exit leaves the outer scope's frames cached") {
    val outer = spark.range(10).toDF("outer")
    val inner = spark.range(20).toDF("inner")
    val late = CacheScope.within {
      CacheScope.persist(outer)
      CacheScope.within(CacheScope.persist(inner))
      assert(!cached(inner))
      assert(cached(outer), "the inner scope released the outer scope's frame")
      // after the inner exit, persists register with the outer scope again
      CacheScope.persist(spark.range(5).toDF("late"))
    }
    assert(!cached(outer) && !cached(late))
  }

  test("scopes on two threads never release each other's frames") {
    val pool = Executors.newFixedThreadPool(2)
    try {
      val aPersisted, bDone = new CountDownLatch(1)
      val a = spark.range(10).toDF("a")
      val b = spark.range(20).toDF("b")
      // A holds its scope open while B opens, persists in and closes its own
      def task(body: => Boolean) = pool.submit(new Callable[Boolean] { def call() = body })
      val fa = task(CacheScope.within {
        CacheScope.persist(a)
        aPersisted.countDown()
        assert(bDone.await(60, TimeUnit.SECONDS))
        cached(a)
      })
      val fb = task {
        assert(aPersisted.await(60, TimeUnit.SECONDS))
        CacheScope.within(CacheScope.persist(b))
        bDone.countDown()
        cached(b)
      }
      assert(!fb.get(120, TimeUnit.SECONDS))
      assert(fa.get(120, TimeUnit.SECONDS), "B's scope released A's frame")
      assert(!cached(a))
    } finally pool.shutdown()
  }
}
