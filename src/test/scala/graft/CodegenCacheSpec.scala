package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** The codegen cache holds the registry's working set: a query's second
  * run reuses the classes its first run compiled. With Spark's default
  * capacity (100 entries) a pass over more than 100 distinct generated
  * classes evicts what the next query needs, so every pass compiles
  * (Janino) and JIT-warms its classes again — the dominant CPU cost of a
  * short-query sitting (GraftSession.CodegenCacheEntries has the census).
  */
class CodegenCacheSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  // a fixed slice of the registry (gmallbench's registry_slice minus
  // dedup_winnow, whose second run still generates a few new sources) of
  // about 155 distinct classes: warehouse, graph and corpus operators
  // whose repeat runs generate byte-identical sources
  private val names = Seq("visitor_fix", "uv_first_visits", "bounce_events",
    "sessionize", "cdc_route", "order_wide", "q3_segment_revenue",
    "pagerank_pages", "gopher_rules")

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Janino compiles of one pass over `names`, run as Bench times them. */
  private def pass(): Long = {
    val c0 = compiles
    names.foreach { n =>
      BenchAction.run(SparkEntry.queries(n)(spark, sf))
      spark.catalog.clearCache()
    }
    compiles - c0
  }

  test("a repeat pass over a working set above Spark's default compiles nothing") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
    // start from an empty cache, so earlier suites in this JVM neither
    // pre-load the working set nor crowd it: the first pass then compiles
    // every distinct class once. The cache is private to Spark, hence the
    // reflection; only its invalidateAll is called.
    val cacheOf = CodeGenerator.getClass.getDeclaredMethod("cache")
    cacheOf.setAccessible(true)
    val cache = cacheOf.invoke(CodeGenerator)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
    val first = pass()
    assert(first > 100, s"working set of $first classes must exceed Spark's default 100")
    val second = pass()
    assert(second == 0, s"the repeat pass recompiled $second of $first classes")
  }
}
