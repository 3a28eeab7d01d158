package graft.operators

import graft.{BenchAction, JobCount, SparkEntry, SparkSpec}

/** The fixed-round page-graph iterations run as one plan each, so their
  * job count is set by the plan's exchanges, not by a checkpoint job chain
  * per round. Each query runs once to warm the schema memo, then its
  * second build + `BenchAction.run` is counted on an empty cache. */
class GraphJobsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def jobsOf(q: String): JobCount = {
    def once(): Unit = BenchAction.run(SparkEntry.queries(q)(spark, dir))
    spark.catalog.clearCache()
    once()
    spark.catalog.clearCache()
    val (n, _) = jobsDuring(once())
    spark.catalog.clearCache()
    n
  }

  // measured 18 and 16 jobs; with a localCheckpoint per round the same
  // rows took 23 and 18
  test("pagerank_pages: three rounds in one plan") {
    val n = jobsOf("pagerank_pages")
    assert(n.jobs <= 18, s"pagerank_pages started ${n.jobs} jobs (${n.stages} stages)")
  }

  test("graph_communities: two rounds in one plan") {
    val n = jobsOf("graph_communities")
    assert(n.jobs <= 16, s"graph_communities started ${n.jobs} jobs (${n.stages} stages)")
  }
}
