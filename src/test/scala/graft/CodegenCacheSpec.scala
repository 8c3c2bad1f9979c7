package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** Spark's generated-class cache holds the engine's working set: a
  * query repeated after more than Spark's default 100 other classes is
  * not compiled again. */
class CodegenCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  // each literal is inlined into its own generated class
  private def query(i: Int): Unit = spark.range(10).selectExpr(s"id + $i").collect()

  test("a class compiled once is not compiled again after 150 others") {
    val first = compiles
    (0 until 151).foreach(query)
    assert(compiles - first > 100, "each query should compile a class of its own")
    val before = compiles
    query(0)
    assert(compiles == before)
  }

  test("a session built through configure carries the cache size") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
  }
}
