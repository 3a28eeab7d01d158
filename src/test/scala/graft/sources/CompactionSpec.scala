package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Compaction: many small append files collapse into few size-targeted
  * files with every row preserved, the no-op path skips the rewrite, the
  * in-flight dirs are invisible to partition discovery, and a crashed
  * swap is healed on the next invocation. */
class CompactionSpec extends SparkSpec {
  import spark.implicits._

  private def smallFiles(dir: String, appends: Int): Unit =
    (1 to appends).foreach { i =>
      Seq((i.toLong, s"batch $i payload")).toDF("id", "payload")
        .coalesce(1).write.mode("append").parquet(dir)
    }

  test("compaction merges small appends, preserves all rows, and is idempotent") {
    val dir = s"${tmpDir("compact")}/dt=2024-01-01"
    smallFiles(dir, 12)
    val before = spark.read.parquet(dir)
    val wantRows = before.count()
    val wantHash = before.selectExpr("bit_xor(xxhash64(struct(*))) AS h").head().getLong(0)

    val (b, a) = Compaction.compactPartition(spark, dir)
    assert(b == 12 && a == 1, s"12 tiny appends collapse to one target file, got $b -> $a")

    val after = spark.read.parquet(dir)
    assert(after.count() == wantRows)
    assert(after.selectExpr("bit_xor(xxhash64(struct(*))) AS h").head().getLong(0) == wantHash,
      "compaction must preserve every row bit-identically")

    // second pass: already at/below target count -> no rewrite, same answer
    val (b2, a2) = Compaction.compactPartition(spark, dir)
    assert(b2 == 1 && a2 == 1, "no-op on an already-compacted partition")
  }

  test("a crashed swap (partition parked at backup) is healed on the next call") {
    val root = tmpDir("compactcrash")
    val dir = s"$root/dt=2024-01-03"
    smallFiles(dir, 6)
    val want = spark.read.parquet(dir)
      .selectExpr("bit_xor(xxhash64(struct(*))) AS h").head().getLong(0)
    // simulate the kill window between the two renames: dir moved to the
    // backup path, promotion never happened
    val bak = new java.io.File(s"$root/.dt=2024-01-03.compact-bak")
    assert(new java.io.File(dir).renameTo(bak))
    val (b, a) = Compaction.compactPartition(spark, dir)
    assert(b == 6 && a == 1, s"recovered then compacted, got $b -> $a")
    assert(spark.read.parquet(dir)
      .selectExpr("bit_xor(xxhash64(struct(*))) AS h").head().getLong(0) == want,
      "recovery + compaction preserves every row")
    assert(!bak.exists(), "backup cleaned up after promotion")
  }

  test("in-flight dirs are invisible to table-root partition discovery") {
    val root = tmpDir("compactvis")
    smallFiles(s"$root/dt=2024-01-04", 4)
    smallFiles(s"$root/dt=2024-01-05", 1)
    // park a stale backup and scratch beside the partitions (dot-prefixed)
    smallFiles(s"$root/.dt=2024-01-04.compact-bak", 1)
    smallFiles(s"$root/.dt=2024-01-04.compact-tmp", 1)
    val table = spark.read.option("basePath", root).parquet(root)
    assert(table.select("dt").distinct().count() == 2,
      "dot-prefixed in-flight dirs must not surface as partitions")
  }

  test("declines to rewrite when compaction would not reduce the file count") {
    val dir = s"${tmpDir("compactnoop")}/dt=2024-01-02"
    smallFiles(dir, 5)
    val wantRows = spark.read.parquet(dir).count()
    // targetBytes=1 makes the target file count exceed the current count,
    // so a rewrite would only fragment further — must be a no-op
    val (b, a) = Compaction.compactPartition(spark, dir, targetBytes = 1L)
    assert(b == 5 && a == 5, s"no rewrite when target count >= current, got $b -> $a")
    assert(spark.read.parquet(dir).count() == wantRows, "partition untouched and readable")
  }

  test("refuses a sink-logged layer output and the partitions under one, files untouched") {
    implicit val sq = spark.sqlContext
    val out = tmpDir("compactlogged")
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String]
    val q = graft.streaming.LogPipeline.run(spark, ms.toDF(), out)
    try {
      ms.addData(
        """{"common":{"mid":"m1"},"page":{"page_id":"home"},"ts":1704067200000}""")
      q.processAllAvailable()
      ms.addData(
        """{"common":{"mid":"m2"},"page":{"page_id":"list"},"ts":1704067201000}""")
      q.processAllAvailable()
    } finally q.stop()
    val pages = s"$out/dwd_page_log"
    def listing(dir: String) = org.apache.commons.io.FileUtils
      .listFiles(new java.io.File(dir), null, true).toArray.map(_.toString).sorted.toSeq
    val before = listing(pages)
    assert(before.count(_.endsWith(".parquet")) >= 2)
    val e = intercept[SinkLoggedException](Compaction.compactPartition(spark, pages))
    assert(e.getMessage.contains("dwd_page_log"))
    assert(listing(pages) == before, "the refused split is left as it was")
    assert(spark.read.parquet(pages).count() == 2)

    val cdcOut = tmpDir("compactloggedcdc")
    val config = Seq(("order_info", "insert", "kafka", "dwd_order_info", "id", "id", ""))
      .toDF("source_table", "operate_type", "sink_type", "sink_table",
        "sink_columns", "sink_pk", "sink_extend")
    val batch = Seq("""{"database":"g","table":"order_info","type":"insert","data":{"id":"1"}}""")
      .toDF("value")
    graft.streaming.CdcRouter.processBatch(
      graft.streaming.CdcRouter.parse(batch), config, cdcOut, 0L)
    val topic = s"$cdcOut/facts/sink_table=dwd_order_info"
    val topicBefore = listing(topic)
    intercept[SinkLoggedException](Compaction.compactPartition(spark, topic))
    assert(listing(topic) == topicBefore)
  }
}
