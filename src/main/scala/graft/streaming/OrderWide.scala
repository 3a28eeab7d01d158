package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** P6 — order wide table: watermarked stream-stream interval join plus
  * chained dimension enrichments, at full reference-bean parity.
  *
  * Reference: RT/app/dwm/OrderWideApp.java:48-263 —
  *  - both order streams parsed with `create_ts` derived from the
  *    "yyyy-MM-dd HH:mm:ss" `create_time` string (lines 77-98);
  *  - 3 s bounded out-of-orderness watermarks (lines 105-124);
  *  - event-time interval join on order id (lines 127-141). The reference
  *    uses ±5 ms bounds — almost certainly a bug-as-written (SURVEY.md
  *    §7.4.6); the bound is a parameter here;
  *  - 6 async Redis/Phoenix dim lookups (lines 149-251) become broadcast
  *    stream-static joins — vectorized, no per-row RPC, dims re-read per
  *    micro-batch when driven through foreachBatch.
  *
  * Field surface mirrors `RT/bean/OrderInfo.java:13-29` (15 fields),
  * `RT/bean/OrderDetail.java:13-25` (11 fields) and the 34-field
  * `RT/bean/OrderWide.java:16-51`, populated exactly as
  * `mergeOrderInfo`/`mergeOrderDetail` (OrderWide.java:57-82) plus the six
  * dim joins (OrderWideApp.java:149-251). `split_feight_fee` exists on the
  * bean but is never populated by the reference either — it stays a typed
  * null column. Each stream is parsed with a single `from_json` against an
  * explicit schema (one parse per record, not one per field).
  */
object OrderWide {

  /** OrderInfo JSON schema — RT/bean/OrderInfo.java:13-29 (create_date /
    * create_hour / create_ts are derived, not parsed). */
  val infoSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("province_id", LongType),
    StructField("order_status", StringType),
    StructField("user_id", LongType),
    StructField("total_amount", DecimalType(16, 2)),
    StructField("activity_reduce_amount", DecimalType(16, 2)),
    StructField("coupon_reduce_amount", DecimalType(16, 2)),
    StructField("original_total_amount", DecimalType(16, 2)),
    StructField("feight_fee", DecimalType(16, 2)),
    StructField("expire_time", StringType),
    StructField("create_time", StringType),
    StructField("operate_time", StringType)))

  /** OrderDetail JSON schema — RT/bean/OrderDetail.java:13-25. */
  val detailSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("order_id", LongType),
    StructField("sku_id", LongType),
    StructField("order_price", DecimalType(16, 2)),
    StructField("sku_num", LongType),
    StructField("sku_name", StringType),
    StructField("create_time", StringType),
    StructField("split_total_amount", DecimalType(16, 2)),
    StructField("split_activity_amount", DecimalType(16, 2)),
    StructField("split_coupon_amount", DecimalType(16, 2))))

  /** Parse a raw order_info JSON stream: one `from_json` per record, then
    * the derived fields — event-time `create_ts` plus `create_date` /
    * `create_hour` (OrderWideApp.java:79-84; OrderInfo.java:27-28). */
  def parseInfo(raw: DataFrame): DataFrame =
    raw.select(from_json(col("value"), infoSchema).as("o"))
      .select(col("o.*"))
      // try_: one malformed record must not kill the stream (ANSI
      // to_timestamp throws); unparseable times become null event times
      .withColumn("create_ts", try_to_timestamp(col("create_time"), lit("yyyy-MM-dd HH:mm:ss")))
      .withColumn("create_date", substring(col("create_time"), 1, 10))
      .withColumn("create_hour", substring(col("create_time"), 12, 2))

  /** Parse a raw order_detail JSON stream (OrderWideApp.java:89-98);
    * `id` becomes `detail_id` as in OrderWide.mergeOrderDetail. */
  def parseDetail(raw: DataFrame): DataFrame =
    raw.select(from_json(col("value"), detailSchema).as("d"))
      .select(col("d.*"))
      .withColumnRenamed("id", "detail_id")
      .withColumn("d_create_ts", try_to_timestamp(col("create_time"), lit("yyyy-MM-dd HH:mm:ss")))
      .drop("create_time")

  /** Event-time interval join: detail.ts within ±`boundSeconds` of info.ts,
    * equi on order id, 3 s watermarks on both sides (reference semantics;
    * bound configurable — the reference's ±5 ms, OrderWideApp.java:135).
    * `joinType` "inner" (reference behavior) or "left_outer" — the outer
    * form emits an unmatched order with null detail columns once the
    * watermark passes its join bound (state is evicted either way; the
    * reference can only drop unmatched orders, this surfaces them). */
  def intervalJoin(info: DataFrame, detail: DataFrame, boundSeconds: Int = 5,
      watermark: String = "3 seconds", joinType: String = "inner"): DataFrame = {
    val i = info.withWatermark("create_ts", watermark)
    val d = detail.withWatermark("d_create_ts", watermark)
    i.join(d,
      col("order_id") === col("id") &&
        col("d_create_ts") >= col("create_ts") - expr(s"INTERVAL $boundSeconds SECONDS") &&
        col("d_create_ts") <= col("create_ts") + expr(s"INTERVAL $boundSeconds SECONDS"),
      joinType)
  }

  /** The six dimension enrichments as broadcast left joins + derived
    * columns, with the reference's field flow (OrderWideApp.java:149-251):
    *  - user: age from birthday (as-of a fixed date for determinism) and
    *    `user_gender` (lines 157-161);
    *  - province: name / area_code / iso_code / 3166-2 renames (175-182);
    *  - sku: dim SKU_NAME overrides the detail's sku_name when present, and
    *    the dim supplies `spu_id` / `category3_id` / `tm_id` for the three
    *    downstream joins (196-203) — they are NOT fact columns;
    *  - spu / category3 / trademark names (209-251).
    * Missing dim rows pass through as nulls (the async lookup's no-hit
    * behavior). Dims are the all-varchar shape of FIXTURES.md §B.6. */
  def enrich(wide: DataFrame, dims: Dims, asOfDate: String): DataFrame =
    enrichWith(wide, dims, asOfDate,
      // the fact key is cast to the DIM key's type explicitly — the same
      // key semantic lookupJoin uses (an external point-lookup store can
      // only match the dim pk's exact representation, so the broadcast
      // path must not be looser). A bare === would let Spark promote a
      // string-pk-vs-bigint-fact compare to double, matching '05' to 5 —
      // a pair the KV path could never produce (review find, round 7).
      (l, d, lk, dk, _) =>
        l.join(broadcast(d), col(lk).cast(d.schema(dk).dataType) === d(dk), "left").drop(dk))

  /** The enrichment flow parameterized over the dim-join primitive, so the
    * broadcast path and the point-lookup path share ONE copy of the
    * derived-column logic (age, renames, the sku_name override) and cannot
    * drift. `joiner(left, dimFrame, leftKey, dimKey, table)` must append
    * the dim's non-key columns, null-filled when the dim row is absent. */
  private def enrichWith(wide: DataFrame, dims: Dims, asOfDate: String,
      joiner: (DataFrame, DataFrame, String, String, String) => DataFrame): DataFrame = {
    val u = joiner(wide, dims.user, "user_id", "uid", "dim_user_info")
      .withColumn("user_age",
        floor(months_between(lit(asOfDate).cast("date"), col("birthday")) / 12).cast("int"))
      .withColumnRenamed("gender", "user_gender")
      .drop("birthday")
    val p = joiner(u, dims.province, "province_id", "pid", "dim_base_province")
      .withColumnRenamed("iso_code", "province_iso_code")
      .withColumnRenamed("area_code", "province_area_code")
      .withColumnRenamed("iso_3166_2", "province_3166_2_code")
    val skuJoined = joiner(p, dims.sku, "sku_id", "skid", "dim_sku_info")
    val sk = (if (p.columns.contains("sku_name"))
        // reference overwrites sku_name from DIM_SKU_INFO when the dim row
        // exists, keeps the detail's value otherwise
        skuJoined.withColumn("sku_name", coalesce(col("dim_sku_name"), col("sku_name")))
      else skuJoined.withColumnRenamed("dim_sku_name", "sku_name"))
      .drop("dim_sku_name")
    val s1 = joiner(sk, dims.spu, "spu_id", "spid", "dim_spu_info")
    val s2 = joiner(s1, dims.category3, "category3_id", "c3id", "dim_base_category3")
    joiner(s2, dims.trademark, "tm_id", "tmid", "dim_base_trademark")
  }

  /** External point-lookup dim client — the interface of the reference's
    * per-row dim fetch (DimUtil.java:31-87: Redis cache else Phoenix point
    * query). `get` returns the dim row's NON-KEY column values in the dim
    * schema's field order, or None for a missing key. Implementations wrap
    * an external KV/SQL store (HBase, JDBC) and may assume a fresh
    * instance per partition task (the reference's per-operator client). */
  trait DimClient extends Serializable {
    def get(table: String, key: Any): Option[Seq[Any]]
  }

  /** Per-row point-lookup LEFT join through a bounded per-partition LRU —
    * the documented fallback for dims too LARGE to broadcast (SCALE.md):
    * broadcast-per-batch is strictly better whenever the dim fits, but a
    * billion-row dim cannot ship to every executor, and this path touches
    * only the keys the batch actually contains, caching repeats (skewed
    * fact keys hit the LRU, the reference's Redis role). The dim FRAME
    * contributes only its schema (names/types — including the appended
    * columns' types and the key type the fact key is cast to); all rows
    * come from the client. Assumes unique dim keys (the primary-key
    * contract Phoenix enforces in the reference); a broadcast join over a
    * key-duplicated dim would instead multiply fact rows. */
  def lookupJoin(left: DataFrame, leftKey: String, dim: DataFrame, dimKey: String,
      table: String, client: DimClient, cacheSize: Int = 10000): DataFrame = {
    // appended columns are nullable regardless of the dim schema's flags:
    // a missing dim row null-fills them (exactly what a left join does to
    // the build side's nullability)
    val dimFields = dim.schema.fields.filter(_.name != dimKey)
      .map(_.copy(nullable = true))
    val outSchema = StructType(left.schema.fields ++ dimFields)
    val n = left.schema.size
    val misses = Seq.fill(dimFields.length)(null)
    // cast the fact key to the dim key's type ONCE, plan-side, so the
    // executor-side cache key equals what the store indexes (e.g. a string
    // pk dim looked up by a bigint fact column)
    val in = left.withColumn("__lk", col(leftKey).cast(dim.schema(dimKey).dataType))
    in.mapPartitions { rows =>
      // per-partition bounded LRU (access-ordered), one client per task —
      // the reference's 24 h Redis TTL collapses to "batch lifetime":
      // dims re-read per micro-batch means a cache never outlives a batch
      val cache = new java.util.LinkedHashMap[Any, Option[Seq[Any]]](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[Any, Option[Seq[Any]]]): Boolean = size() > cacheSize
      }
      rows.map { row =>
        val key = row.get(n)
        val hit =
          if (key == null) None // null fact key joins nothing (=== parity)
          else {
            val cached = cache.get(key)
            if (cached != null) cached
            else { val v = client.get(table, key); cache.put(key, v); v }
          }
        org.apache.spark.sql.Row.fromSeq(
          row.toSeq.take(n) ++ hit.getOrElse(misses))
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** [[enrich]] with every broadcast replaced by [[lookupJoin]] — identical
    * output by construction: same [[enrichWith]] column flow, and BOTH
    * join primitives key on the fact key cast to the dim key's type
    * (exact match, the only semantic an external point-lookup store can
    * implement). Proven equal-on-fixture in OrderWideSpec. Use when a dim
    * exceeds broadcast capacity; mix-and-match per dim if only one does. */
  def enrichPointLookup(wide: DataFrame, dims: Dims, client: DimClient,
      asOfDate: String, cacheSize: Int = 10000): DataFrame =
    enrichWith(wide, dims, asOfDate,
      (l, d, lk, dk, table) => lookupJoin(l, lk, d, dk, table, client, cacheSize))

  /** Final projection to the complete 34-field OrderWide surface
    * (RT/bean/OrderWide.java:16-51, field order preserved).
    * `split_feight_fee` is a typed null — the reference bean declares but
    * never populates it. Columns the upstream didn't provide (e.g. a test
    * fixture without every dim) surface as typed nulls too. */
  def toOrderWide(enriched: DataFrame): DataFrame = {
    val have = enriched.columns.toSet
    def c(name: String, t: DataType): Column =
      (if (have(name)) col(name) else lit(null).cast(t)).as(name)
    enriched.select(
      c("detail_id", LongType),
      c("order_id", LongType),
      c("sku_id", LongType),
      c("order_price", DecimalType(16, 2)),
      c("sku_num", LongType),
      c("sku_name", StringType),
      c("province_id", LongType),
      c("order_status", StringType),
      c("user_id", LongType),
      c("total_amount", DecimalType(16, 2)),
      c("activity_reduce_amount", DecimalType(16, 2)),
      c("coupon_reduce_amount", DecimalType(16, 2)),
      c("original_total_amount", DecimalType(16, 2)),
      c("feight_fee", DecimalType(16, 2)),
      c("split_feight_fee", DecimalType(16, 2)),
      c("split_activity_amount", DecimalType(16, 2)),
      c("split_coupon_amount", DecimalType(16, 2)),
      c("split_total_amount", DecimalType(16, 2)),
      c("expire_time", StringType),
      c("create_time", StringType),
      c("operate_time", StringType),
      c("create_date", StringType),
      c("create_hour", StringType),
      c("province_name", StringType),
      c("province_area_code", StringType),
      c("province_iso_code", StringType),
      c("province_3166_2_code", StringType),
      c("user_age", IntegerType),
      c("user_gender", StringType),
      c("spu_id", LongType),
      c("tm_id", LongType),
      c("category3_id", LongType),
      c("spu_name", StringType),
      c("tm_name", StringType),
      c("category3_name", StringType))
  }

  /** Two-sided firstNonNull merge of partially-populated wide rows — the
    * `mergeOtherOrderWide` semantics (RT/bean/OrderWide.java:84-109:
    * `this.x = firstNonNull(this.x, other.x)` per field, i.e. LEFT value
    * wins when both sides carry one). Full-outer join on the identity keys
    * so a row present on only one side passes through unchanged; every
    * other column coalesces left-over-right. Schemas must match (the bean
    * contract). */
  def mergePartial(a: DataFrame, b: DataFrame,
      keys: Seq[String] = Seq("order_id", "detail_id")): DataFrame = {
    val l = a.alias("l")
    val r = b.alias("r")
    val cond = keys.map(k => col(s"l.$k") === col(s"r.$k")).reduce(_ && _)
    l.join(r, cond, "full_outer")
      .select(a.columns.toIndexedSeq.map(c =>
        coalesce(col(s"l.$c"), col(s"r.$c")).as(c)): _*)
  }

  /** The one output of [[run]]. */
  private val wide = Seq(LayerOutput("dwm_order_wide", identity))

  /** Launchable P6 pipeline (the `env.execute("order wide task")` analog,
    * OrderWideApp.java:255-259): parse both raw JSON streams, interval-join
    * them, then per micro-batch re-read the dims (freshness = batch
    * cadence, replacing the reference's Redis-cached async lookups), enrich,
    * project the full 34-field surface, and append it through
    * [[LayerSink]] under the batch id (the `dwm_order_wide` topic analog;
    * a replayed batch is skipped). Throws [[CheckpointResetException]]
    * before start when `outDir/_chk` was deleted but the output was kept.
    * Returns the streaming query. */
  def run(spark: SparkSession, rawInfo: DataFrame, rawDetail: DataFrame,
      dimDir: String, outDir: String, asOfDate: String,
      boundSeconds: Int = 5): org.apache.spark.sql.streaming.StreamingQuery =
    MicroBatch.start(intervalJoin(parseInfo(rawInfo), parseDetail(rawDetail), boundSeconds),
        s"$outDir/_chk", stores = MicroBatch.stores(outDir, wide)) { (batch, batchId) =>
      val dims = dimsFromParquet(spark, dimDir) // re-read: config freshness
      MicroBatch.fanOut(toOrderWide(enrich(batch, dims, asOfDate)), outDir, batchId, wide)
    }

  /** Dimension table bundle (FIXTURES.md §B.6 columns). */
  case class Dims(
      user: DataFrame,      // uid, birthday, gender
      province: DataFrame,  // pid, province_name, iso_code, area_code, iso_3166_2
      sku: DataFrame,       // skid, dim_sku_name, spu_id, category3_id, tm_id
      spu: DataFrame,       // spid, spu_name
      category3: DataFrame, // c3id, category3_name
      trademark: DataFrame) // tmid, tm_name

  /** Build the dim bundle from parquet dirs (one per dim, reference's
    * DIM_* tables); used with per-micro-batch re-read for freshness. A
    * dim's schema is inferred again only when its files change. */
  def dimsFromParquet(spark: SparkSession, dir: String): Dims = {
    def dim(name: String) = graft.SchemaMemo.read(spark, s"$dir/$name")
    Dims(
      user = dim("dim_user_info"),
      province = dim("dim_base_province"),
      sku = dim("dim_sku_info"),
      spu = dim("dim_spu_info"),
      category3 = dim("dim_base_category3"),
      trademark = dim("dim_base_trademark"))
  }
}
