package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CdcRouterSpec extends SparkSpec {
  import spark.implicits._

  private def cdc(table: String, tpe: String, data: String): String =
    s"""{"database":"gmall2021","table":"$table","type":"$tpe","data":$data}"""

  private def configDf = Seq(
    ("order_info", "insert", "kafka", "dwd_order_info", "id,user_id,total_amount", "id", ""),
    ("user_info", "insert", "hbase", "dim_user_info", "id,name,birthday", "id", ""),
    ("user_info", "update", "hbase", "dim_user_info", "id,name,birthday", "id", ""))
    .toDF("source_table", "operate_type", "sink_type", "sink_table",
      "sink_columns", "sink_pk", "sink_extend")

  test("parse: ETL filter + bootstrap-insert normalization") {
    val raw = Seq(
      cdc("order_info", "insert", """{"id":"1","user_id":"7","total_amount":"9.90"}"""),
      cdc("order_info", "bootstrap-insert", """{"id":"2","user_id":"8","total_amount":"1.00"}"""),
      """{"database":"g","type":"insert","data":{"id":"3"}}""", // no table: dropped
      cdc("order_info", "insert", "{}")                         // len(data)<=3: dropped
    ).toDF("value")
    val parsed = CdcRouter.parse(raw)
    assert(parsed.count() == 2)
    assert(parsed.select("type").as[String].collect().toSet == Set("insert"))
  }

  test("route: config join, column pruning, unmatched rows dropped") {
    val raw = Seq(
      cdc("order_info", "insert", """{"id":"1","user_id":"7","total_amount":"9.90","secret":"x"}"""),
      cdc("unknown_table", "insert", """{"id":"9","a":"b"}""")).toDF("value")
    val routed = CdcRouter.route(CdcRouter.parse(raw), configDf)
    val rows = routed.collect()
    assert(rows.length == 1)
    val m = routed.select("data_pruned").as[Map[String, String]].collect().head
    assert(m.keySet == Set("id", "user_id", "total_amount")) // `secret` pruned
    assert(rows.head.getAs[String]("sink_table") == "dwd_order_info")
  }

  test("at-least-once replay: idempotent re-consumption restores exactly-once counts") {
    val out = tmpDir("cdcreplay")
    val b0 = CdcRouter.parse(Seq(
      cdc("order_info", "insert", """{"id":"1","user_id":"u1","total_amount":"5.00"}"""),
      cdc("order_info", "insert", """{"id":"2","user_id":"u2","total_amount":"7.00"}""")).toDF("value"))
    CdcRouter.processBatch(b0, configDf, out, 0L)
    // forced replay: the same micro-batch re-runs after a failure between
    // sink write and checkpoint commit
    CdcRouter.processBatch(b0, configDf, out, 0L)
    val b1 = CdcRouter.parse(Seq(
      cdc("order_info", "insert", """{"id":"3","user_id":"u3","total_amount":"9.00"}""")).toDF("value"))
    CdcRouter.processBatch(b1, configDf, out, 1L)

    val raw = spark.read.parquet(s"$out/facts")
    assert(raw.count() == 3, "the sink log skips the replayed batch id")
    val eo = CdcRouter.factsExactlyOnce(spark, out)
    assert(eo.count() == 3, "idempotent view should restore exactly-once counts")
    val ids = eo.select(get_json_object(col("data"), "$.id")).as[String].collect().toSet
    assert(ids == Set("1", "2", "3"))
  }

  test("replay dedup keeps legitimately identical records within one batch") {
    val out = tmpDir("cdctwin")
    // two REAL events with byte-identical payloads in the same micro-batch
    // (e.g. a double-applied upstream insert) — both must survive the
    // exactly-once view; only sink REPLAYS may collapse
    val twins = CdcRouter.parse(Seq(
      cdc("order_info", "insert", """{"id":"9","user_id":"u9","total_amount":"1.00"}"""),
      cdc("order_info", "insert", """{"id":"9","user_id":"u9","total_amount":"1.00"}""")).toDF("value"))
    CdcRouter.processBatch(twins, configDf, out, 0L)
    assert(CdcRouter.factsExactlyOnce(spark, out).count() == 2,
      "identical same-batch records are distinct events, not replays")
    // now force a replay of that same batch: counts must NOT grow
    CdcRouter.processBatch(twins, configDf, out, 0L)
    assert(CdcRouter.factsExactlyOnce(spark, out).count() == 2,
      "the sink log skips the replayed batch id")
  }

  test("dim-side replay: forced micro-batch re-runs leave the dim snapshot identical") {
    val out = tmpDir("cdcdimreplay")
    val b0 = CdcRouter.parse(Seq(
      cdc("user_info", "insert", """{"id":"u1","name":"alice","birthday":"1990-01-01"}"""),
      cdc("user_info", "insert", """{"id":"u2","name":"bob","birthday":"1991-01-01"}""")).toDF("value"))
    CdcRouter.processBatch(b0, configDf, out, 0L)
    val b1 = CdcRouter.parse(Seq(
      cdc("user_info", "update", """{"id":"u1","name":"alice2","birthday":"1990-01-01"}""")).toDF("value"))
    CdcRouter.processBatch(b1, configDf, out, 1L)
    def snapshot(): Seq[String] =
      CdcRouter.dimSnapshot(spark, out).collect().map(_.toString).toSeq.sorted
    val before = snapshot()

    // forced replay of the LATEST batch (failure between sink write and
    // checkpoint commit): the keyed last-write-wins view must not move
    CdcRouter.processBatch(b1, configDf, out, 1L)
    assert(snapshot() == before, "replaying the latest batch changed the snapshot")

    // forced replay of an OLDER batch (re-delivery after restart): its
    // rows rank below batch 1 for u1, so the snapshot still must not move
    CdcRouter.processBatch(b0, configDf, out, 0L)
    assert(snapshot() == before, "replaying an older batch changed the snapshot")
    assert(spark.read.parquet(s"$out/dims_log").count() == 3,
      "the sink log skips the replayed batch ids")
  }

  test("dim upsert: two upserts of one pk in one batch keep the greater payload, also after a replay") {
    val out = tmpDir("cdcdimtie")
    val b0 = CdcRouter.parse(Seq(
      cdc("user_info", "update", """{"id":"u1","name":"bob","birthday":"1990-01-01"}"""),
      cdc("user_info", "insert", """{"id":"u1","name":"alice","birthday":"1990-01-01"}""")).toDF("value"))
    def snapshot(): Seq[(String, String)] =
      CdcRouter.dimSnapshot(spark, out).select("pk", "data").as[(String, String)].collect().toSeq
    CdcRouter.processBatch(b0, configDf, out, 0L)
    val first = snapshot()
    assert(first.size == 1 && first.head._1 == "u1")
    assert(first.head._2.contains("bob"), s"the greater payload must win: $first")
    // forced replay of the batch: the snapshot must not move
    CdcRouter.processBatch(b0, configDf, out, 0L)
    assert(snapshot() == first, "replaying the batch changed the snapshot")
  }

  test("dim upsert: last write per primary key wins across batches") {
    val out = tmpDir("cdcrouter")
    val b0 = CdcRouter.parse(Seq(
      cdc("user_info", "insert", """{"id":"u1","name":"alice","birthday":"1990-01-01"}"""),
      cdc("user_info", "insert", """{"id":"u2","name":"bob","birthday":"1991-01-01"}"""),
      cdc("order_info", "insert", """{"id":"1","user_id":"u1","total_amount":"5.00"}""")).toDF("value"))
    CdcRouter.processBatch(b0, configDf, out, 0L)
    val b1 = CdcRouter.parse(Seq(
      cdc("user_info", "update", """{"id":"u1","name":"alice2","birthday":"1990-01-01"}""")).toDF("value"))
    CdcRouter.processBatch(b1, configDf, out, 1L)

    val facts = spark.read.parquet(s"$out/facts")
    assert(facts.count() == 1)
    assert(facts.select("sink_table").as[String].collect().head == "dwd_order_info")

    val snap = CdcRouter.dimSnapshot(spark, out)
    val byPk = snap.collect().map(r => r.getAs[String]("pk") -> r.getAs[String]("data")).toMap
    assert(byPk.keySet == Set("u1", "u2"))
    assert(byPk("u1").contains("alice2")) // updated value won
  }

  test("P3 -> P6: routed order facts keep typed ids, so the interval join matches") {
    val out = tmpDir("cdcorderwide")
    val cfg = Seq(
      ("order_info", "insert", "kafka", "dwd_order_info",
        "id,province_id,user_id,total_amount,create_time", "id", ""),
      ("order_detail", "insert", "kafka", "dwd_order_detail",
        "id,order_id,sku_id,sku_num,order_price,create_time", "id", ""))
      .toDF("source_table", "operate_type", "sink_type", "sink_table",
        "sink_columns", "sink_pk", "sink_extend")
    // Maxwell writes numeric columns as JSON numbers
    val batch = CdcRouter.parse(Seq(
      cdc("order_info", "insert", """{"id":1001,"province_id":3,"user_id":11,""" +
        """"total_amount":199.00,"create_time":"2021-11-13 11:10:00","secret":"x"}"""),
      cdc("order_detail", "insert", """{"id":5001,"order_id":1001,"sku_id":5,""" +
        """"sku_num":2,"order_price":99.50,"create_time":"2021-11-13 11:10:02"}""")).toDF("value"))
    CdcRouter.processBatch(batch, cfg, out, 0L)

    def topic(t: String) = CdcRouter.factsExactlyOnce(spark, out)
      .filter(col("sink_table") === t).select(col("data").as("value"))
    val info = OrderWide.parseInfo(topic("dwd_order_info"))
    val detail = OrderWide.parseDetail(topic("dwd_order_detail"))
    assert(info.select("id", "province_id", "user_id").as[(Long, Long, Long)].collect().toSeq ==
      Seq((1001L, 3L, 11L)))
    assert(detail.select("detail_id", "order_id", "sku_id", "sku_num")
      .as[(Long, Long, Long, Long)].collect().toSeq == Seq((5001L, 1001L, 5L, 2L)))
    assert(info.select(col("total_amount").cast("string")).as[String].collect().toSeq ==
      Seq("199.00"))
    val wide = OrderWide.intervalJoin(info, detail).select("id", "detail_id")
      .as[(Long, Long)].collect().toSeq
    assert(wide == Seq((1001L, 5001L)))
  }
}
