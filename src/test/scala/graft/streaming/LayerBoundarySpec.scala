package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.StreamingQuery

import java.io.File
import java.nio.file.{Files, Paths}

/** Every streaming layer boundary writes exactly once: a micro-batch
  * replayed after its checkpoint commit was lost lands once in every
  * output, files a batch never committed stay invisible to the next
  * layer, and a query restarted on a reset checkpoint over kept outputs
  * fails before it starts. Sources are file streams, so a restart
  * re-reads the logged offsets. */
class LayerBoundarySpec extends SparkSpec {
  import spark.implicits._

  private def writeFile(dir: String, name: String, lines: String*): Unit =
    Files.write(Paths.get(dir, name), lines.mkString("\n").getBytes)

  /** One launchable pipeline: `start(src, out)` runs it over the inputs
    * `feed(src)` spooled, `outputs` are its layer dirs under `out` with
    * the row count one batch writes to each. */
  private case class Pipeline(name: String, feed: String => Unit,
      start: (String, String) => StreamingQuery, outputs: Seq[(String, Long)])

  private val day = 1704067200000L // 2024-01-01 00:00:00 UTC

  private val logPipeline = Pipeline("LogPipeline.run",
    src => writeFile(src, "b1.jsonl",
      s"""{"common":{"mid":"m1","is_new":"1"},"start":{"entry":"icon"},"ts":$day}""",
      s"""{"common":{"mid":"m1","is_new":"1"},"page":{"page_id":"home"},""" +
        s""""displays":[{"item":"sku_1","pos_id":1},{"item":"sku_2","pos_id":2}],"ts":${day + 1000}}""",
      s"""{"common":{"mid":"m2","is_new":"0"},"page":{"page_id":"list"},"ts":${day + 2000}}"""),
    (src, out) => LogPipeline.run(spark, spark.readStream.text(src), out),
    Seq("dwd_start_log" -> 1L, "dwd_page_log" -> 2L, "dwd_display_log" -> 2L))

  private def cdc(table: String, tpe: String, data: String): String =
    s"""{"database":"gmall2021","table":"$table","type":"$tpe","data":$data}"""

  private val cdcRouter = Pipeline("CdcRouter.run",
    src => {
      Files.write(Paths.get(s"$src.csv"),
        ("source_table,operate_type,sink_type,sink_table,sink_columns,sink_pk,sink_extend\n" +
          "order_info,insert,kafka,dwd_order_info,\"id,user_id\",id,\n" +
          "user_info,insert,hbase,dim_user_info,\"id,name\",id,\n").getBytes)
      writeFile(src, "b1.jsonl",
        cdc("order_info", "insert", """{"id":"1","user_id":"u1"}"""),
        cdc("order_info", "insert", """{"id":"2","user_id":"u2"}"""),
        cdc("user_info", "insert", """{"id":"u1","name":"ann"}"""))
    },
    (src, out) => CdcRouter.run(spark, spark.readStream.text(src), s"$src.csv", out),
    Seq("facts" -> 2L, "dims_log" -> 1L))

  private val orderWide = Pipeline("OrderWide.run",
    src => {
      Seq((11L, java.sql.Date.valueOf("1990-06-15"), "M")).toDF("uid", "birthday", "gender")
        .write.parquet(s"$src/dims/dim_user_info")
      Seq((3L, "Shandong", "CN-37", "370000", "CN-SD"))
        .toDF("pid", "province_name", "iso_code", "area_code", "iso_3166_2")
        .write.parquet(s"$src/dims/dim_base_province")
      Seq((5L, "iPhone", 7L, 9L, 13L))
        .toDF("skid", "dim_sku_name", "spu_id", "category3_id", "tm_id")
        .write.parquet(s"$src/dims/dim_sku_info")
      Seq((7L, "iPhone family")).toDF("spid", "spu_name").write.parquet(s"$src/dims/dim_spu_info")
      Seq((9L, "Phones")).toDF("c3id", "category3_name")
        .write.parquet(s"$src/dims/dim_base_category3")
      Seq((13L, "Apple")).toDF("tmid", "tm_name").write.parquet(s"$src/dims/dim_base_trademark")
      new File(s"$src/info").mkdirs(); new File(s"$src/detail").mkdirs()
      writeFile(s"$src/info", "b1.jsonl",
        """{"id":1,"province_id":3,"user_id":11,"total_amount":199.00,"create_time":"2021-11-13 11:10:00"}""")
      writeFile(s"$src/detail", "b1.jsonl",
        """{"id":101,"order_id":1,"sku_id":5,"order_price":99.00,"sku_num":1,"create_time":"2021-11-13 11:10:02"}""",
        """{"id":102,"order_id":1,"sku_id":5,"order_price":100.00,"sku_num":1,"create_time":"2021-11-13 11:10:03"}""")
    },
    (src, out) => OrderWide.run(spark, spark.readStream.text(s"$src/info"),
      spark.readStream.text(s"$src/detail"), s"$src/dims", out, asOfDate = "2024-01-01"),
    Seq("dwm_order_wide" -> 2L))

  private val curation = Pipeline("StreamingCuration.run",
    src => writeFile(src, "b1.jsonl",
      """{"doc_id":1,"text":"the quick brown fox jumps","lang":"en","ts":"2024-01-01T00:00:01"}""",
      """{"doc_id":2,"text":"an entirely different clean document","lang":"en","ts":"2024-01-01T00:00:02"}""",
      """{"doc_id":3,"text":"hi","lang":"en","ts":"2024-01-01T00:00:03"}"""),
    (src, out) => StreamingCuration.run(spark,
      spark.readStream.schema("doc_id LONG, text STRING, lang STRING, ts TIMESTAMP").json(src), out),
    Seq("kept" -> 2L, "rejected" -> 1L))

  private val pipelines = Seq(logPipeline, cdcRouter, orderWide, curation)

  /** Run `p` to completion over its spooled inputs; one batch per run, no
    * watermark-only batches, so the newest commit is the data batch. */
  private def runOnce(p: Pipeline, src: String, out: String): Unit = {
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try {
      val q = p.start(src, out)
      try q.processAllAvailable() finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.noDataMicroBatches.enabled")
  }

  /** The newest batch file in `dir` (an offsets or commits log). */
  private def newest(dir: String): String =
    new File(dir).list().filter(_.forall(_.isDigit)).maxBy(_.toLong)

  pipelines.foreach { p =>
    test(s"${p.name}: a batch replayed after a lost commit lands once in every output") {
      val src = tmpDir("lbsrc"); val out = tmpDir("lbout")
      p.feed(src)
      runOnce(p, src, out)
      val commits = s"$out/_chk/commits"
      assert(newest(commits) == "0" && newest(s"$out/_chk/offsets") == "0")
      // the crash window: every output written, the checkpoint commit lost
      Files.delete(Paths.get(commits, "0"))
      Files.deleteIfExists(Paths.get(commits, ".0.crc"))
      runOnce(p, src, out)
      assert(newest(commits) == "0", "the restart re-ran batch 0")
      p.outputs.foreach { case (name, want) =>
        val rows = spark.read.parquet(s"$out/$name").collect().map(_.toString).toSeq
        assert(rows.size == want, s"$name: ${rows.mkString("; ")}")
        assert(rows.distinct.size == rows.size, s"$name holds a row twice: ${rows.mkString("; ")}")
      }
    }
  }

  test("every run fails before start on a reset checkpoint over kept outputs") {
    pipelines.foreach { p =>
      val src = tmpDir("lbsrc"); val out = tmpDir("lbout")
      p.feed(src)
      runOnce(p, src, out)
      val kept = p.outputs.map { case (name, _) => spark.read.parquet(s"$out/$name").count() }
      org.apache.commons.io.FileUtils.deleteDirectory(new File(s"$out/_chk"))
      val e = intercept[CheckpointResetException](p.start(src, out))
      assert(e.getMessage.contains("no offsets"), s"${p.name}: ${e.getMessage}")
      assert(spark.streams.active.isEmpty, s"${p.name} started a query")
      assert(p.outputs.map { case (name, _) => spark.read.parquet(s"$out/$name").count() } == kept)
    }
  }

  test("a file the page split never committed is invisible to batch and stream readers") {
    val src = tmpDir("lbsrc"); val out = tmpDir("lbout")
    logPipeline.feed(src)
    runOnce(logPipeline, src, out)
    val pages = s"$out/dwd_page_log"
    val committed = spark.read.parquet(pages).collect().map(_.toString).toSet
    // a straggler from a crashed attempt: a parquet file with the split's
    // schema in the split's dir, and no entry in its sink log
    val stray = tmpDir("lbstray")
    spark.read.parquet(pages).limit(1).withColumn("mid", lit("stray"))
      .write.mode("overwrite").parquet(stray)
    val part = new File(stray).listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.copy(part.toPath, Paths.get(pages, "part-99999-stray.snappy.parquet"))

    assert(spark.read.parquet(pages).collect().map(_.toString).toSet == committed)
    assert(spark.read.parquet(pages).count() == committed.size)
    val q = spark.readStream.schema(spark.read.parquet(pages).schema).parquet(pages)
      .writeStream.format("memory").queryName("lb_pages").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("lb_pages").collect().map(_.toString).toSeq
      assert(streamed.size == committed.size && streamed.toSet == committed)
    } finally q.stop()
  }
}
