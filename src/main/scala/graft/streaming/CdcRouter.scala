package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType, VariantType}

/** P3 — CDC changelog routing driven by a live config table.
  *
  * Reference: RT/app/dwd/BaseDbTask.java:31-94 +
  * RT/app/func/TableProcessFunction.java:41-183 —
  *  - Maxwell envelope {database, table, type, data} parsed, ETL-filtered
  *    (BaseDbTask.java:57-59);
  *  - `bootstrap-insert` normalized to `insert` (TableProcessFunction:69-73);
  *  - routing config (source_table, operate_type -> sink_type, sink_table,
  *    sink_columns, sink_pk) joined as a broadcast; unmatched rows dropped
  *    (the reference logs "no this key" and skips);
  *  - per-row dynamic column pruning to `sink_columns`
  *    (TableProcessFunction.filterColumns:100-114) as a `map_filter`;
  *  - fact rows -> per-topic sink (topic = sink_table column), dim rows ->
  *    keyed upsert store. The 5 s config-refresh Timer becomes a re-read of
  *    the config every micro-batch inside foreachBatch.
  */
object CdcRouter {

  /** Parse + ETL-filter the Maxwell envelope from a raw JSON `value` col. */
  def parse(raw: DataFrame): DataFrame =
    raw.select(
        get_json_object(col("value"), "$.database").as("database"),
        get_json_object(col("value"), "$.table").as("table"),
        get_json_object(col("value"), "$.type").as("type"),
        get_json_object(col("value"), "$.data").as("data"))
      .withColumn("type",
        when(col("type") === "bootstrap-insert", "insert").otherwise(col("type")))
      .filter(col("table").isNotNull && col("data").isNotNull && length(col("data")) > 3)

  /** Join with the routing config and prune `data` to `sink_columns`.
    *
    * The envelope parses to `map<string, variant>`, so the pruned `data`
    * keeps each value's JSON type, as the reference's JSONObject key
    * removal does: a number stays a number and a string stays a string.
    * A `map<string,string>` parse turned `{"id":1001}` into
    * `{"id":"1001"}`, and P6's typed parse (OrderWide.infoSchema, LongType
    * ids) then read every id as null. `data_pruned` and `pk` are the
    * string renderings of the same values. */
  def route(cdc: DataFrame, config: DataFrame): DataFrame =
    cdc.join(broadcast(config),
        cdc("table") === config("source_table") && cdc("type") === config("operate_type"))
      .withColumn("data_map", from_json(col("data"), MapType(StringType, VariantType)))
      .withColumn("cols", split(col("sink_columns"), ","))
      .withColumn("data_kept",
        map_filter(col("data_map"), (k, _) => array_contains(col("cols"), k)))
      .select(col("database"), col("table"), col("type"),
        col("sink_type"), col("sink_table"), col("sink_pk"),
        to_json(col("data_kept")).as("data"),
        transform_values(col("data_kept"), (_, v) => v.cast(StringType)).as("data_pruned"),
        // pk from the UNPRUNED envelope: a config whose sink_columns list
        // omits the pk (DimDdl.ensureTable explicitly supports it by
        // prepending the column) leaves no pk key in data_pruned — under
        // ANSI mode element_at would kill the micro-batch, and with ANSI
        // off every dim row would collapse onto pk NULL. try_element_at
        // keeps a malformed envelope a null-pk row, not a query failure.
        expr("try_element_at(data_map, sink_pk)").cast(StringType).as("pk"))

  /** The two logs [[processBatch]] routes a batch to. */
  private val logs = Seq(
    LayerOutput("facts", _.filter(col("sink_type") === "kafka")
      .select(col("sink_table"), col("data"), col("batch_id")), "sink_table"),
    LayerOutput("dims_log", _.filter(col("sink_type") === "hbase")
      .select(col("sink_table"), col("pk"), col("data"), col("batch_id")), "sink_table"))

  /** One micro-batch of routing: facts appended per-topic (partitioned by
    * sink_table ≈ dynamic-topic Kafka sink), dims upserted by primary key
    * (last write wins ≈ Phoenix `upsert into`, DimSink.java:34-61; see
    * [[dimSnapshot]]). Both logs are written through [[LayerSink]] under
    * `batchId`, so a replayed batch id is skipped, facts and dims alike;
    * `batch_id` stays on the rows as lineage. */
  def processBatch(batch: DataFrame, config: DataFrame, outDir: String, batchId: Long): Unit =
    MicroBatch.fanOut(route(batch, config).withColumn("batch_id", lit(batchId)),
      outDir, batchId, logs)

  /** The facts log, per-topic. [[LayerSink]] keeps it exactly-once, the
    * role of the reference's transactional producer (MyKafkaUtil.java:43-49;
    * see COVERAGE.md, "Paper-parity gap: MyKafkaUtil"), so this is a plain
    * read of committed batches. */
  def factsExactlyOnce(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/facts")

  /** Read the current dim snapshot: last write per (sink_table, pk) from the
    * upsert log — the keyed-KV-store view the reference holds in HBase.
    * Within a batch (no Kafka offset order) the greater payload wins, the
    * same on every replay; rows that tie are byte-identical. */
  def dimSnapshot(spark: SparkSession, outDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("sink_table"), col("pk"))
      .orderBy(col("batch_id").desc, col("data").desc)
    spark.read.parquet(s"$outDir/dims_log")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn", "batch_id")
  }

  /** Launch the streaming router: config re-read from `configPath` (CSV with
    * a header, FIXTURES.md §B.4) every micro-batch. Throws
    * [[CheckpointResetException]] before start when `outDir/_chk` was
    * deleted but the logs were kept. */
  def run(spark: SparkSession, raw: DataFrame, configPath: String, outDir: String) =
    MicroBatch.start(raw, s"$outDir/_chk", stores = MicroBatch.stores(outDir, logs)) {
      (batch, batchId) =>
        val config = graft.SchemaMemo.read(spark, configPath, "csv", Map("header" -> "true"))
        processBatch(parse(batch), config, outDir, batchId)
    }
}
