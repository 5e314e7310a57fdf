package graft.core

import org.apache.spark.metrics.source.CodegenMetrics

import graft.SparkSpec

/** The session's generated-code cache holds the engine's working set: a
  * query shape run again after more than Spark's default 100 other
  * shapes finds its compiled classes still cached.
  */
class CodegenCacheSpec extends SparkSpec {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** A distinct generated class per `i`: the literal is inlined into the
    * generated source, which is the cache key.
    */
  private def shape(i: Int): Unit =
    spark.range(4).selectExpr(s"id * ${i + 3}L + ${i * 7}L AS x").collect()

  test("a query shape stays compiled after 150 other shapes") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ===
      GraftSession.CodegenCacheEntries.toString)
    shape(0)
    shape(0)
    val warm = compiles
    shape(0)
    assert(compiles === warm, "a repeated shape compiled again")
    (1 to 150).foreach(shape)
    assert(compiles >= warm + 150, "the other shapes did not compile")
    val before = compiles
    shape(0)
    assert(compiles === before, "the first shape was evicted and recompiled")
  }
}
