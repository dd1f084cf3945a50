package graft

import org.apache.spark.sql.GraftBridge

/** [[CacheScope]]'s contract: a scope releases what its body registered,
  * also on a throw; an inner scope releases only its own; outside a scope
  * registering does nothing. */
class CacheScopeSpec extends SparkSuite {

  private def cachedCount = GraftBridge.numCachedEntries(spark)

  test("run releases what its body cached and registered, also when the " +
    "body throws") {
    spark.catalog.clearCache()
    var released = 0
    val n = CacheScope.run {
      CacheScope.onRelease(released += 1)
      CacheScope.cached(spark.range(5).toDF()).count()
    }
    assert(n == 5 && released == 1 && cachedCount == 0)
    intercept[IllegalStateException](CacheScope.run {
      CacheScope.cached(spark.range(7).toDF()).count()
      CacheScope.onRelease(released += 1)
      throw new IllegalStateException("boom")
    })
    assert(released == 2 && cachedCount == 0)
  }

  test("an inner scope releases only its own tables; outside a scope " +
    "nothing is registered") {
    spark.catalog.clearCache()
    CacheScope.run {
      CacheScope.cached(spark.range(3).toDF()).count()
      CacheScope.run(CacheScope.cached(spark.range(4).toDF()).count())
      assert(cachedCount == 1)
    }
    assert(cachedCount == 0)
    val outside = CacheScope.cached(spark.range(6).toDF())
    CacheScope.run(outside.count())
    assert(cachedCount == 1) // kept: cached before the scope began
    outside.unpersist()
  }
}
