package graft.streaming

import graft.SparkSpec
import graft.streaming.LogSchema.LogEvent
import org.apache.spark.sql.streaming.StreamingQueryException

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicBoolean

/** One-shot executor-side fault: the reference's deliberate `4/0`
  * (RT/app/dwd/Test.java:52) as an armable map fault. While armed, any
  * line containing the marker kills its task — and, in local mode
  * (maxTaskFailures = 1), the whole streaming query — MID-batch, before
  * the micro-batch's sink commit and checkpoint commit. The spec disarms
  * it before restarting. */
object RestartFault {
  val armed = new AtomicBoolean(false)
  def boom(line: String): String = {
    if (armed.get && line.contains("boom"))
      throw new ArithmeticException("injected fault (Test.java's 4/0)")
    line
  }
}

/** Crash-restart recovery, the scenario the reference's fault harness
  * exists for (RT/app/dwd/Test.java:38-52; restart-strategy commentary at
  * RT/app/BaseDbTask.java:42-45): a live streaming query dies mid-batch —
  * via the deterministic injected fault above, and once via a literal
  * `stop()` with no await — then restarts against the SAME checkpoint
  * dir. Recovery must deliver exactly-once outputs (each layer output's
  * sink log skips a replayed batch) with keyed visitor state intact. Runs
  * under the RocksDB state-store provider like every streaming suite
  * (SparkSpec).
  */
class RestartRecoverySpec extends SparkSpec {
  import spark.implicits._

  private val day1 = 1704067200000L // 2024-01-01 00:00:00 UTC
  private val day2 = day1 + 86400000L

  private def writeFile(dir: String, name: String, lines: String*): Unit =
    Files.write(Paths.get(dir, name), lines.mkString("\n").getBytes)

  /** Spooled text stream with the armable fault in the map stage. */
  private def faultyRaw(src: String) =
    spark.readStream.text(src).as[String].map(RestartFault.boom).toDF("value")

  test("LogPipeline: mid-batch fault, restart from checkpoint is exactly-once") {
    val src = tmpDir("rrsrc"); val out = tmpDir("rrout")
    writeFile(src, "b1.jsonl",
      s"""{"common":{"mid":"m1","is_new":"1"},"page":{"page_id":"home"},"ts":$day1}""",
      s"""{"common":{"mid":"m2","is_new":"0"},"page":{"page_id":"list"},"ts":${day1 + 1000}}""")
    val q1 = LogPipeline.run(spark, faultyRaw(src), out)
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.read.parquet(s"$out/dwd_page_log").count() == 2)

    // batch 2 carries the fault marker; the armed map kills the query
    // during the FIRST sink write of the foreachBatch — before any of the
    // three parquet jobs commits and before the checkpoint commit
    writeFile(src, "b2.jsonl",
      s"""{"common":{"mid":"boom","is_new":"1"},"page":{"page_id":"cart"},"ts":$day2}""",
      s"""{"common":{"mid":"m2","is_new":"0"},"page":{"page_id":"pay"},"ts":${day2 + 1000}}""")
    RestartFault.armed.set(true)
    val q2 = LogPipeline.run(spark, faultyRaw(src), out)
    intercept[StreamingQueryException] { q2.awaitTermination(120000) }
    // the crashed attempt committed nothing: no partial rows, no offsets
    assert(spark.read.parquet(s"$out/dwd_page_log").count() == 2)

    RestartFault.armed.set(false)
    val q3 = LogPipeline.run(spark, faultyRaw(src), out)
    try q3.processAllAvailable() finally q3.stop()
    val pages = spark.read.parquet(s"$out/dwd_page_log")
    // batch 2 exactly once (no b1 reprocessing, no duplicate from the
    // crashed attempt), batch 1 untouched
    assert(pages.count() == 4)
    assert(pages.select("mid").as[String].collect().sorted.toSeq ==
      Seq("boom", "m1", "m2", "m2"))
  }

  test("visitor keyed state survives a mid-batch crash and restart") {
    val src = tmpDir("rvsrc"); val out = tmpDir("rvout"); val chk = tmpDir("rvchk")
    def fixQuery() = {
      val events = LogSchema.toEvents(LogSchema.parse(faultyRaw(src))).as[LogEvent]
      LogPipeline.fixVisitors(events)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .outputMode("append").start()
    }
    // batch 1 establishes m1's first-visit day in keyed state
    writeFile(src, "b1.jsonl",
      s"""{"common":{"mid":"m1","is_new":"1"},"page":{"page_id":"home"},"ts":$day1}""")
    val q1 = fixQuery()
    try q1.processAllAvailable() finally q1.stop()

    // batch 2: m1 claims is_new=1 again on day 2 — only surviving state
    // can rewrite it to 0 — and the fault kills the batch mid-flight
    writeFile(src, "b2.jsonl",
      s"""{"common":{"mid":"m1","is_new":"1"},"page":{"page_id":"boom"},"ts":$day2}""",
      s"""{"common":{"mid":"m4","is_new":"1"},"page":{"page_id":"home"},"ts":${day2 + 1000}}""")
    RestartFault.armed.set(true)
    val q2 = fixQuery()
    intercept[StreamingQueryException] { q2.awaitTermination(120000) }

    RestartFault.armed.set(false)
    val q3 = fixQuery()
    try q3.processAllAvailable() finally q3.stop()
    // the parquet STREAMING sink is exactly-once: reads resolve through
    // its _spark_metadata commit log, so files from uncommitted attempts
    // are invisible — no idempotent-consumer view needed on this path
    val rows = spark.read.parquet(out).as[LogEvent].collect().sortBy(_.ts)
    assert(rows.length == 3)
    assert(rows.filter(_.mid == "m1").map(_.isNew).toSeq == Seq("1", "0"),
      "m1's day-2 claim must be rewritten from surviving day-1 state")
    assert(rows.filter(_.mid == "m4").map(_.isNew).toSeq == Seq("1"))
  }

  test("CdcRouter: stop() without await, restart; facts exactly-once, dims last-write-wins") {
    val src = tmpDir("rcsrc"); val out = tmpDir("rcout")
    val cfg = s"${tmpDir("rccfg")}/table_process.csv"
    Files.write(Paths.get(cfg),
      ("source_table,operate_type,sink_type,sink_table,sink_columns,sink_pk,sink_extend\n" +
        "order_info,insert,kafka,dwd_order_info,\"id,user_id,total_amount\",id,\n" +
        "user_info,insert,hbase,dim_user_info,\"id,name\",id,\n" +
        "user_info,update,hbase,dim_user_info,\"id,name\",id,\n").getBytes)
    def cdc(table: String, tpe: String, data: String): String =
      s"""{"database":"gmall2021","table":"$table","type":"$tpe","data":$data}"""
    writeFile(src, "b1.jsonl",
      cdc("order_info", "insert", """{"id":"1","user_id":"u1","total_amount":"5.00"}"""),
      cdc("order_info", "insert", """{"id":"2","user_id":"u2","total_amount":"7.00"}"""),
      cdc("user_info", "insert", """{"id":"u1","name":"ann"}"""))

    // the literal kill: no processAllAvailable, no await — stop() lands
    // wherever the first micro-batch happens to be (not started, mid
    // foreachBatch between the facts and dims writes, or committed). The
    // recovery contract must hold at EVERY kill point.
    val q1 = CdcRouter.run(spark, spark.readStream.text(src), cfg, out)
    q1.stop()

    val q2 = CdcRouter.run(spark, spark.readStream.text(src), cfg, out)
    try q2.processAllAvailable() finally q2.stop()
    // facts: a kill between sink write and checkpoint commit replays the
    // batch, and the sink log skips its already-committed batch id
    val facts = CdcRouter.factsExactlyOnce(spark, out)
    assert(facts.count() == 2)
    assert(facts.selectExpr("get_json_object(data, '$.id')").as[String]
      .collect().sorted.toSeq == Seq("1", "2"))
    // dims: the same sink log; the snapshot is last-write-wins
    val snap1 = CdcRouter.dimSnapshot(spark, out)
    assert(snap1.count() == 1)
    assert(snap1.selectExpr("get_json_object(data, '$.name')")
      .as[String].collect().toSeq == Seq("ann"))

    // a later update must win in the snapshot after the restart chain
    writeFile(src, "b2.jsonl",
      cdc("user_info", "update", """{"id":"u1","name":"anne"}"""))
    val q3 = CdcRouter.run(spark, spark.readStream.text(src), cfg, out)
    try q3.processAllAvailable() finally q3.stop()
    val snap2 = CdcRouter.dimSnapshot(spark, out)
    assert(snap2.count() == 1)
    assert(snap2.selectExpr("get_json_object(data, '$.name')")
      .as[String].collect().toSeq == Seq("anne"))
  }
}
