package graft

/** The harness releases cached data between tests: these two cases run
  * in order, the first leaving a cached frame behind for the second. */
class SparkSpecBaseSpec extends SparkSpecBase {

  test("a test may cache a frame and leave it cached") {
    spark.range(10).toDF("id").createOrReplaceTempView("spec_base_cached")
    spark.catalog.cacheTable("spec_base_cached")
    assert(spark.table("spec_base_cached").count() == 10L)
    assert(spark.catalog.isCached("spec_base_cached"))
  }

  test("the next test finds the cache released") {
    assert(!spark.catalog.isCached("spec_base_cached"),
      "the previous test's cached frame outlived it")
  }
}
