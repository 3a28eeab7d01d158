package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import scala.collection.immutable.ListMap

/** Remaining §2.8–2.9 surface: typed Dataset aggregation via a custom
  * `Aggregator`, registered Scala UDFs, pivot, and sketch-based distinct
  * (HLL++). */
object Extras {

  /** Typed row for the Dataset[T] surface. */
  case class Line(l_returnflag: String, l_quantity: Double)

  /** Custom typed Aggregator: average quantity. Buffer is (sum, count);
    * l_quantity is integral-valued so the double sum is exact and
    * merge-order-independent. */
  object AvgQty extends Aggregator[Line, (Double, Long), Double] {
    def zero: (Double, Long) = (0.0, 0L)
    def reduce(b: (Double, Long), a: Line): (Double, Long) = (b._1 + a.l_quantity, b._2 + 1)
    def merge(x: (Double, Long), y: (Double, Long)): (Double, Long) = (x._1 + y._1, x._2 + y._2)
    def finish(r: (Double, Long)): Double = r._1 / r._2
    def bufferEncoder: Encoder[(Double, Long)] = Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong)
    def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  val defs: ListMap[String, QueryDef] = ListMap(

    // ---- pairwise Pearson correlation matrix ------------------------------
    // The feature-screening read before any modeling (and the multivariate
    // sibling of ts_acf's autocorrelation): Pearson r for every pair of
    // measure columns, from ONE corpus pass. Scale shape: a single
    // partial+final aggregate computes n, Σx_i and Σx_i·x_j for all pairs
    // (k columns → k(k+3)/2 sums — column-count-bounded, never row-bound);
    // the correlations are a 1-row projection unpivoted by stack() — the
    // quality_funnel discipline: adding a column adds sums, not a pass.
    // Parity: sums are EXACT (per-row int64 products folded into
    // DECIMAL(38,0)/HUGEINT — price² sums pass 2^63 at ~1e5 rows), then
    // ONE double combination in fixed order (cast each exact sum once,
    // multiply/subtract/divide identically — the ts_features rule; sqrt
    // is IEEE-exact and allowed). Zero-variance columns read corr 0.0 by
    // guard, not NaN. Contract: per-row |x·y| must fit int64 (quantize
    // accordingly — the fixture uses cents/percent units). ------------------
    "corr_matrix" -> QueryDef(
      (s, dir) => corrMatrix(Tables.load(s, dir, "lineitem").selectExpr(
        "CAST(l_quantity AS BIGINT) AS qty",
        "CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS disc",
        "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_c")), {
        def corr(x: String, y: String) =
          s"""CASE WHEN n > 1
             |    AND CAST(n AS DOUBLE) * CAST(p_${x}_$x AS DOUBLE)
             |      - CAST(s_$x AS DOUBLE) * CAST(s_$x AS DOUBLE) > 0
             |    AND CAST(n AS DOUBLE) * CAST(p_${y}_$y AS DOUBLE)
             |      - CAST(s_$y AS DOUBLE) * CAST(s_$y AS DOUBLE) > 0
             |  THEN (CAST(n AS DOUBLE) * CAST(p_${x}_$y AS DOUBLE)
             |      - CAST(s_$x AS DOUBLE) * CAST(s_$y AS DOUBLE))
             |    / sqrt(CAST(n AS DOUBLE) * CAST(p_${x}_$x AS DOUBLE)
             |      - CAST(s_$x AS DOUBLE) * CAST(s_$x AS DOUBLE))
             |    / sqrt(CAST(n AS DOUBLE) * CAST(p_${y}_$y AS DOUBLE)
             |      - CAST(s_$y AS DOUBLE) * CAST(s_$y AS DOUBLE))
             |  ELSE 0.0 END""".stripMargin
        s"""WITH r AS (SELECT CAST(l_quantity AS BIGINT) AS qty,
           |    CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS disc,
           |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_c
           |  FROM lineitem),
           |a AS (SELECT COUNT(*)::BIGINT AS n,
           |    SUM(qty::HUGEINT) AS s_qty, SUM(disc::HUGEINT) AS s_disc,
           |    SUM(price_c::HUGEINT) AS s_price_c,
           |    SUM((qty * qty)::HUGEINT) AS p_qty_qty,
           |    SUM((qty * disc)::HUGEINT) AS p_qty_disc,
           |    SUM((qty * price_c)::HUGEINT) AS p_qty_price_c,
           |    SUM((disc * disc)::HUGEINT) AS p_disc_disc,
           |    SUM((disc * price_c)::HUGEINT) AS p_disc_price_c,
           |    SUM((price_c * price_c)::HUGEINT) AS p_price_c_price_c
           |  FROM r)
           |SELECT pair, n, corr FROM (
           |  SELECT 'qty~disc' AS pair, n, ${corr("qty", "disc")} AS corr FROM a
           |  UNION ALL
           |  SELECT 'qty~price_c', n, ${corr("qty", "price_c")} FROM a
           |  UNION ALL
           |  SELECT 'disc~price_c', n, ${corr("disc", "price_c")} FROM a)
           |ORDER BY pair""".stripMargin
      }),

    // ---- typed Dataset + custom Aggregator --------------------------------
    "typed_aggregator" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_quantity")).as[Line]
          .groupByKey(_.l_returnflag)
          .agg(AvgQty.toColumn.name("avg_qty"))
          .toDF("l_returnflag", "avg_qty")
          .orderBy("l_returnflag")
      },
      """SELECT l_returnflag,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // ---- registered Scala UDF surface (engine exposes udf(); the hot path
    // prefers native expressions — see HashExpressions) ---------------------
    "udf_surface" -> QueryDef(
      (s, dir) => {
        // null/empty-safe: unparseable priorities classify as "low", matching
        // the oracle's CASE fallthrough (NULL IN (...) is never TRUE in SQL).
        val urgency = udf((p: String) => Option(p).filter(_.nonEmpty).map(_.charAt(0)) match {
          case Some('1') | Some('2') => "high"
          case Some('3') => "medium"
          case _ => "low"
        })
        Tables.load(s, dir, "orders")
          .groupBy(urgency(col("o_orderpriority")).as("urgency"))
          .agg(count(lit(1)).as("n"))
          .orderBy("urgency")
      },
      """SELECT CASE WHEN substring(o_orderpriority, 1, 1) IN ('1', '2') THEN 'high'
        |            WHEN substring(o_orderpriority, 1, 1) = '3' THEN 'medium'
        |            ELSE 'low' END AS urgency, COUNT(*) AS n
        |FROM orders GROUP BY 1 ORDER BY urgency""".stripMargin),

    // ---- pivot ------------------------------------------------------------
    "pivot_events" -> QueryDef(
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        ev.groupBy(date_format(col("ts"), "yyyyMMdd").as("dt"))
          .pivot("event_type", Seq("view", "click", "purchase", "signup", "error"))
          .agg(count(lit(1)))
          .na.fill(0L)
          .orderBy("dt")
      },
      """SELECT strftime(ts, '%Y%m%d') AS dt,
        | COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view,
        | COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        | COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        | COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        | COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error
        |FROM events GROUP BY 1 ORDER BY dt""".stripMargin),

    // ---- unpivot (wide -> long), the inverse surface of pivot -------------
    "unpivot_measures" -> QueryDef(
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
        val wide = li.groupBy(col("l_returnflag"))
          .agg(
            sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
            sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base_price"))
        wide.unpivot(
            Array(col("l_returnflag")),
            Array(col("sum_qty"), col("sum_base_price")),
            "measure", "value")
          .orderBy("l_returnflag", "measure")
      },
      """WITH wide AS (
        |  SELECT l_returnflag,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM wide
        |UNION ALL
        |SELECT l_returnflag, 'sum_base_price', sum_base_price FROM wide
        |ORDER BY l_returnflag, measure""".stripMargin),

    // ---- sketch-based distinct (HLL++): the raw estimate is engine-specific
    // so it can't hash-match DuckDB; instead the output carries the exact
    // count plus a deterministic within-tolerance flag for the estimate
    // (HLL++ at default rsd 0.05 — 15% is 3 sigma). The oracle asserts the
    // flag is 1, so the sketch IS checked, not just row-counted. ------------
    "approx_distinct" -> QueryDef(
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        ev.groupBy(col("event_type"))
          .agg(approx_count_distinct(col("user_id")).as("approx_users"),
            countDistinct(col("user_id")).as("exact_users"))
          .selectExpr("event_type", "exact_users",
            "CAST(abs(approx_users - exact_users) <= 0.15 * exact_users AS INT) AS approx_ok")
          .orderBy("event_type")
      },
      """SELECT event_type, COUNT(DISTINCT user_id) AS exact_users, 1 AS approx_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // ---- sketch-based percentiles: approx_percentile (a mergeable
    // quantile sketch — partial+final, bounded memory, the only way to do
    // percentiles in one pass over 100 TB) checked against the EXACT
    // in-engine percentile at a value-rank tolerance: the approximation
    // must land between the exact p±0.02 quantiles. Same oracle style as
    // approx_distinct/bloom_membership — the sketch's guarantee is
    // asserted (flag = 1), not just row-counted, and the exact quantiles
    // hash-match DuckDB's quantile_cont. ------------------------------------
    "approx_percentiles" -> QueryDef(
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        ev.groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("n"),
            expr("approx_percentile(value, array(0.5D, 0.9D, 0.99D), 10000)").as("ap"),
            expr("percentile(value, 0.5)").as("x50"),
            expr("percentile(value, 0.48)").as("lo50"),
            expr("percentile(value, 0.52)").as("hi50"),
            expr("percentile(value, 0.88)").as("lo90"),
            expr("percentile(value, 0.92)").as("hi90"),
            expr("percentile(value, 0.97)").as("lo99"),
            expr("percentile(value, 1.0)").as("hi99"))
          .selectExpr("event_type", "n", "x50 AS exact_p50",
            "CAST(ap[0] >= lo50 AND ap[0] <= hi50 AS INT) AS ok_p50",
            "CAST(ap[1] >= lo90 AND ap[1] <= hi90 AS INT) AS ok_p90",
            "CAST(ap[2] >= lo99 AND ap[2] <= hi99 AS INT) AS ok_p99")
          .orderBy("event_type")
      },
      """SELECT event_type, COUNT(*) AS n,
        |  quantile_cont(value, 0.5) AS exact_p50,
        |  1 AS ok_p50, 1 AS ok_p90, 1 AS ok_p99
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // ---- two-phase salted aggregation for skewed keys (Salting.scala):
    // phase 1 groups by (key, salt) so a hot key's rows spread across
    // `salts` reducers instead of serializing on one; phase 2 merges the
    // partials per key. events has only 5 event_type values — exactly the
    // shape where an unsalted groupBy leaves all but 5 reducers idle at
    // 100 TB. The merged result is salt-independent, so DuckDB replays the
    // plain one-level aggregation; value is quantized to DECIMAL per row so
    // both engines sum exactly regardless of partial grouping/order. --------
    "salted_agg" -> QueryDef(
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        graft.functions.Salting
          .saltedSumCount(ev, col("event_type"), col("value").cast("decimal(18,6)"), salts = 8)
          .select(col("key").as("event_type"),
            col("sum_value").cast("double").as("sum_value"), col("cnt"))
          .orderBy("event_type")
      },
      """SELECT event_type, CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
        |  COUNT(*) AS cnt
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // ---- CDC upsert compaction: latest state per key ----------------------
    // The materialize-a-changelog shape (the batch twin of CdcRouter's
    // streaming upserts): one window-free argmax per key via
    // max(struct(ts, event_id, payload...)) — a single partial+final
    // aggregate with constant state per key, vs the row_number window that
    // shuffles EVERY version into one reducer per key. event_id breaks
    // same-microsecond ties deterministically on both engines. ------------
    "cdc_latest_state" -> QueryDef(
      (s, dir) => {
        Tables.load(s, dir, "events")
          .selectExpr("user_id", "unix_micros(ts) AS ts_us", "event_id",
            "event_type", "CAST(value AS DECIMAL(18,6)) AS v")
          .groupBy(col("user_id"))
          .agg(max(struct(col("ts_us"), col("event_id"), col("event_type"), col("v"))).as("m"),
            count(lit(1)).as("n_versions"))
          .selectExpr("user_id", "m.ts_us AS ts_us", "m.event_id AS event_id",
            "m.event_type AS event_type", "CAST(m.v AS DOUBLE) AS value",
            "n_versions")
          .orderBy("user_id")
      },
      """SELECT user_id,
        |  (MAX(struct_pack(ts_us := epoch_us(ts), event_id := event_id,
        |                   event_type := event_type,
        |                   v := CAST(value AS DECIMAL(18,6))))).ts_us AS ts_us,
        |  (MAX(struct_pack(ts_us := epoch_us(ts), event_id := event_id,
        |                   event_type := event_type,
        |                   v := CAST(value AS DECIMAL(18,6))))).event_id AS event_id,
        |  (MAX(struct_pack(ts_us := epoch_us(ts), event_id := event_id,
        |                   event_type := event_type,
        |                   v := CAST(value AS DECIMAL(18,6))))).event_type AS event_type,
        |  CAST((MAX(struct_pack(ts_us := epoch_us(ts), event_id := event_id,
        |                   event_type := event_type,
        |                   v := CAST(value AS DECIMAL(18,6))))).v AS DOUBLE) AS value,
        |  COUNT(*) AS n_versions
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),

    // ---- incremental aggregate maintenance (the materialized-view /
    // Lambda batch-layer shape): yesterday's per-(type, day) PARTIAL
    // aggregates merge with today's raw delta WITHOUT rescanning history —
    // re-aggregation over partials is sound because sum/count are
    // commutative monoids (the same algebra partial+final shuffles rely
    // on). The fixture derives "history" (all but the last day) and
    // "delta" (the last day) from events; in production history is a
    // stored table and this query is the nightly refresh. ------------------
    "incremental_agg_merge" -> QueryDef(
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
          .selectExpr("event_type", "CAST(to_date(ts) AS STRING) AS d",
            "CAST(value AS DECIMAL(18,6)) AS v")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val maxD = ev.agg(max(col("d")).as("mx"))
        val hist = ev.join(broadcast(maxD), expr("d < mx"))
          .groupBy(col("event_type"), col("d"))
          .agg(sum(col("v")).as("sv"), count(lit(1)).as("cnt"))
        val delta = ev.join(broadcast(maxD), expr("d = mx"))
          .groupBy(col("event_type"), col("d"))
          .agg(sum(col("v")).as("sv"), count(lit(1)).as("cnt"))
        // merge of partials: one union + re-agg over (type, day) partial rows
        hist.unionAll(delta)
          .groupBy(col("event_type"))
          .agg(expr("CAST(SUM(sv) AS DOUBLE)").as("sum_value"),
            sum(col("cnt")).as("n_events"),
            count(lit(1)).as("n_partials"),
            max(col("d")).as("latest_day"))
          .orderBy("event_type")
      },
      """WITH ev AS (SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS d,
        |    CAST(value AS DECIMAL(18,6)) AS v FROM events),
        |mx AS (SELECT MAX(d) AS mx FROM ev),
        |hist AS (SELECT event_type, d, SUM(v) AS sv, COUNT(*) AS cnt
        |  FROM ev, mx WHERE d < mx GROUP BY event_type, d),
        |delta AS (SELECT event_type, d, SUM(v) AS sv, COUNT(*) AS cnt
        |  FROM ev, mx WHERE d = mx GROUP BY event_type, d),
        |u AS (SELECT * FROM hist UNION ALL SELECT * FROM delta)
        |SELECT event_type, CAST(SUM(sv) AS DOUBLE) AS sum_value,
        |  CAST(SUM(cnt) AS BIGINT) AS n_events,
        |  COUNT(*) AS n_partials, MAX(d) AS latest_day
        |FROM u GROUP BY event_type ORDER BY event_type""".stripMargin),

    // ---- robust-stats winsorization: clip event values to the per-type
    // [p05, p95] band and report raw vs winsorized sums — the outlier
    // containment step before any mean-based feature. Scale shape: one
    // exact-percentile pass per type (at corpus scale swap in
    // approx_percentile — same plan shape), the tiny (type, lo, hi) frame
    // broadcasts back, clipping is map-side, and the clipped sum is exact
    // decimal quantization (salted_agg's parity rule) so the
    // order-dependent double-sum trap never appears. -----------------------
    "winsorize_values" -> QueryDef(
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val bounds = ev.groupBy(col("event_type"))
          .agg(expr("percentile(value, array(0.05D, 0.95D))").as("b"))
          .selectExpr("event_type", "b[0] AS lo", "b[1] AS hi")
        ev.join(broadcast(bounds), "event_type")
          .selectExpr("event_type", "value", "lo", "hi",
            "least(greatest(value, lo), hi) AS w")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(expr("CAST(value < lo AS BIGINT)")).as("n_clipped_low"),
            sum(expr("CAST(value > hi AS BIGINT)")).as("n_clipped_high"),
            expr("CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)").as("sum_raw"),
            expr("CAST(SUM(CAST(w AS DECIMAL(18,6))) AS DOUBLE)").as("sum_winsorized"),
            first(col("lo")).as("p05"), first(col("hi")).as("p95"))
          .orderBy("event_type")
      },
      """WITH b AS (SELECT event_type,
        |    quantile_cont(value, 0.05) AS lo, quantile_cont(value, 0.95) AS hi
        |  FROM events GROUP BY event_type)
        |SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN value < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_low,
        |  CAST(SUM(CASE WHEN value > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_high,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_raw,
        |  CAST(SUM(CAST(least(greatest(value, lo), hi) AS DECIMAL(18,6))) AS DOUBLE) AS sum_winsorized,
        |  ANY_VALUE(lo) AS p05, ANY_VALUE(hi) AS p95
        |FROM events JOIN b USING (event_type)
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    // ---- join-key skew diagnostic: the "do I need salting/AQE skew
    // handling?" report an operator team runs BEFORE a 100 TB join. One
    // combiner-friendly per-key count (the only corpus-linear shuffle),
    // then every statistic — mean, p50/p99, max, top-heaviest keys,
    // max/mean skew ratio — is computed on the KEY-DOMAIN-sized count
    // frame, which is orders of magnitude smaller than the input. Exact
    // percentiles are fine at key-domain size (the corpus-sized variant
    // is approx_percentiles' sketch). ------------------------------------
    "skew_profile" -> QueryDef(
      (s, dir) => {
        val counts = Tables.load(s, dir, "events")
          .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
        counts.agg(
            count(lit(1)).as("n_keys"),
            sum(col("cnt")).as("n_rows"),
            max(col("cnt")).as("max_cnt"),
            expr("percentile(cnt, array(0.5D, 0.99D))").as("pcts"),
            max(struct(col("cnt"), col("user_id"))).as("heaviest"))
          .selectExpr("n_keys", "n_rows", "max_cnt",
            "pcts[0] AS p50_cnt", "pcts[1] AS p99_cnt",
            "heaviest.user_id AS heaviest_key",
            "CAST(max_cnt AS DOUBLE) * n_keys / n_rows AS skew_ratio")
      },
      """WITH c AS (SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id)
        |SELECT COUNT(*) AS n_keys, CAST(SUM(cnt) AS BIGINT) AS n_rows,
        |  MAX(cnt) AS max_cnt,
        |  quantile_cont(cnt, 0.5) AS p50_cnt, quantile_cont(cnt, 0.99) AS p99_cnt,
        |  (MAX(struct_pack(cnt := cnt, u := user_id))).u AS heaviest_key,
        |  CAST(MAX(cnt) AS DOUBLE) * COUNT(*) / CAST(SUM(cnt) AS BIGINT) AS skew_ratio
        |FROM c""".stripMargin),

    // ---- leave-one-out target encoding (Micci-Barreca 2001, the LOO
    // variant): encode each order's priority category by the mean target
    // (totalprice) of the OTHER rows in its category — the standard
    // high-cardinality categorical feature for tree/GBM models, computed
    // leave-one-out so a row never sees its own target (the
    // target-leakage guard that plain mean encoding violates).
    // Singleton categories fall back to the global LOO mean; a 1-row
    // input encodes 0. Parity: per-category Σ and n are exact DECIMAL
    // sums; loo = (Σ − y)/(n − 1) evaluated in DOUBLE from the exact
    // sums in one fixed expression order (QueryDef rules). Scale shape:
    // one partial+final per-category agg (category domain is bounded) +
    // a 1-row global agg, both broadcast back; the encoding itself is
    // pure map-side projection — zero pair volume, no window. --------------
    "target_encode_loo" -> QueryDef(
      (s, dir) => targetEncodeLoo(Tables.load(s, dir, "orders")
        .selectExpr("o_orderkey AS id", "o_orderpriority AS cat",
          "CAST(o_totalprice AS DECIMAL(18,2)) AS y")),
      """WITH r AS (SELECT o_orderkey AS id, o_orderpriority AS cat,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS y FROM orders),
        |cats AS (SELECT cat, COUNT(*) AS n_cat, SUM(y) AS s_cat
        |  FROM r GROUP BY cat),
        |tot AS (SELECT COUNT(*) AS n_all, SUM(y) AS s_all FROM r)
        |SELECT id, cat, CAST(y AS DOUBLE) AS y,
        |  CASE WHEN n_cat > 1 THEN
        |      (CAST(s_cat AS DOUBLE) - CAST(y AS DOUBLE)) / (n_cat - 1)
        |    WHEN n_all > 1 THEN
        |      (CAST(s_all AS DOUBLE) - CAST(y AS DOUBLE)) / (n_all - 1)
        |    ELSE CAST(0 AS DOUBLE) END AS loo_enc
        |FROM r JOIN cats USING (cat) CROSS JOIN tot ORDER BY id""".stripMargin),

    // ---- SCD type-2 dimension history from a changelog --------------------
    // The auditable twin of the reference's HBase dim upserts (RT/app/func/
    // DimSink upsert path): instead of overwriting the latest attribute
    // value per key (cdc_latest_state), materialize the full version
    // history — consecutive identical values COLLAPSE into one validity
    // interval [valid_from, valid_to), the open interval is is_current.
    // Scale shape: every window partitions by the KEY ALONE, so the whole
    // operator runs off ONE hashpartitioning(user_id) exchange that
    // Catalyst reuses across the raw-ordering, change-collapse and
    // interval-closing windows (plan audit pins exchange count and no
    // SinglePartition). Per-task sort volume is bounded by per-key version
    // count — the changelog shape where this holds at 100 TB. -------------
    "scd2_history" -> QueryDef(
      (s, dir) => scd2History(Tables.load(s, dir, "events")
        .selectExpr("user_id AS key", "unix_micros(ts) AS ts_us",
          "event_id AS seq", "event_type AS attr")),
      """WITH r AS (SELECT user_id AS key, epoch_us(ts) AS ts_us,
        |    event_id AS seq, event_type AS attr FROM events),
        |o AS (SELECT key, ts_us, seq, attr,
        |    ROW_NUMBER() OVER w AS rn,
        |    LAG(attr) OVER w AS prev_attr,
        |    COUNT(*) OVER (PARTITION BY key) AS n_key
        |  FROM r WINDOW w AS (PARTITION BY key ORDER BY ts_us, seq)),
        |c AS (SELECT * FROM o
        |  WHERE rn = 1 OR attr IS DISTINCT FROM prev_attr),
        |v AS (SELECT key, attr, ts_us AS valid_from_us, rn, n_key,
        |    ROW_NUMBER() OVER w2 AS version,
        |    LEAD(ts_us) OVER w2 AS valid_to_us,
        |    LEAD(rn) OVER w2 AS next_rn
        |  FROM c WINDOW w2 AS (PARTITION BY key ORDER BY ts_us, seq))
        |SELECT key, version, valid_from_us, valid_to_us, attr,
        |  COALESCE(next_rn, n_key + 1) - rn AS n_rows,
        |  CAST(valid_to_us IS NULL AS INT) AS is_current
        |FROM v ORDER BY key, version""".stripMargin),

    // ---- market-basket association rules over the order baskets ----------
    // Agrawal-style support/confidence/lift mining of the (order, part)
    // baskets — the cross-sell report beside graph_kcore's density view
    // of the SAME co-purchase projection, and pmi_collocations' lift
    // statistic on commerce data (there the association is textual
    // adjacency; here it is basket co-membership). Scale shape: the
    // per-basket pair expansion is a bounded per-key quadratic (order
    // size is ~7 lines at ANY SF; the maxBasket knob broadcast-anti-drops
    // pathological mega-baskets BEFORE any pair exists — the df-cap
    // discipline), the min-support HAVING prunes the only pair-shaped
    // frame before any join, marginals stay shuffle-equi (the item
    // domain is the catalog — grows with the business, never broadcast
    // by design), the basket total broadcasts as one row, and
    // TakeOrderedAndProject bounds the tail at topK. lift_ppm folds in
    // DECIMAL(38,0): c12·nb·10⁶ ≈ 1e30 at a 10¹²-basket corpus — inside
    // 38 digits where int64 overflows; conf_pm = c12·1000 div c_ante is
    // plain int64. --------------------------------------------------------
    "basket_rules" -> QueryDef(
      (s, dir) => basketRules(Tables.load(s, dir, "lineitem")
        .selectExpr("l_orderkey AS basket", "l_partkey AS item")),
      """WITH lp0 AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
        |    FROM lineitem),
        |big AS (SELECT basket FROM lp0 GROUP BY basket HAVING COUNT(*) > 1000),
        |lp AS (SELECT * FROM lp0
        |  WHERE NOT EXISTS (SELECT 1 FROM big WHERE big.basket = lp0.basket)),
        |t AS (SELECT COUNT(DISTINCT basket) AS nb FROM lp),
        |pr AS (SELECT x.item AS a, y.item AS b, COUNT(*) AS c12
        |  FROM lp x JOIN lp y ON x.basket = y.basket AND x.item < y.item
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |m AS (SELECT item, COUNT(*) AS c FROM lp GROUP BY item),
        |d AS (SELECT a AS ante, b AS cons, c12 FROM pr
        |  UNION ALL SELECT b, a, c12 FROM pr)
        |SELECT ante, cons, c12,
        |  c12 * 1000 // ma.c AS conf_pm,
        |  (c12::HUGEINT * nb * 1000000 // (ma.c::HUGEINT * mc.c))::BIGINT AS lift_ppm
        |FROM d JOIN m ma ON ma.item = d.ante JOIN m mc ON mc.item = d.cons
        |CROSS JOIN t
        |ORDER BY lift_ppm DESC, ante, cons LIMIT 100""".stripMargin),

    // ---- RFM customer segmentation ----------------------------------------
    // The canonical CRM segmentation (Hughes): per-customer Recency /
    // Frequency / Monetary, each quintile-scored 1..5 (recency INVERTED —
    // most recent = 5), segment = r·100 + f·10 + m. Quintile cutoffs come
    // from the ccnet/curriculum distribution-cutoff trick: an integer
    // cumulative window over the (value, count) DISTRIBUTION, never an
    // NTILE over the customer corpus — recency (day domain) and
    // frequency (orders-per-customer domain) are bounded outright, and
    // monetary buckets on `monetary_cents div monetaryUnit` so ITS
    // distribution is domain-bounded too (the quantization knob; raw
    // cents stay in the output). Equal values share a bucket (the
    // deterministic tie rule both engines agree on). Scale shape: one
    // per-customer partial+final agg is the only corpus-volume shuffle;
    // the three cutoff frames are 1-row broadcasts; scoring is pure
    // map-side. ------------------------------------------------------------
    "rfm_segments" -> QueryDef(
      (s, dir) => rfmSegments(Tables.load(s, dir, "orders")
        .selectExpr("o_custkey AS cust",
          "unix_micros(CAST(o_orderdate AS TIMESTAMP)) AS ts_us",
          "CAST(o_totalprice AS DECIMAL(18,2)) AS price")),
      """WITH base AS (SELECT o_custkey AS cust,
        |    MAX(epoch_us(o_orderdate) // 86400000000) AS last_day,
        |    COUNT(*) AS frequency,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
        |      AS monetary_cents
        |  FROM orders GROUP BY 1),
        |g AS (SELECT MAX(last_day) AS max_day FROM base),
        |r AS (SELECT cust, max_day - last_day AS recency_days, frequency,
        |    monetary_cents, monetary_cents // 100 AS m_unit FROM base, g),
        |rc AS (SELECT MIN(CASE WHEN cum >= (1*n + 4) // 5 THEN v END) AS c1,
        |    MIN(CASE WHEN cum >= (2*n + 4) // 5 THEN v END) AS c2,
        |    MIN(CASE WHEN cum >= (3*n + 4) // 5 THEN v END) AS c3,
        |    MIN(CASE WHEN cum >= (4*n + 4) // 5 THEN v END) AS c4
        |  FROM (SELECT v, SUM(c) OVER (ORDER BY v) AS cum, SUM(c) OVER () AS n
        |    FROM (SELECT recency_days AS v, COUNT(*) AS c FROM r GROUP BY 1))),
        |fc AS (SELECT MIN(CASE WHEN cum >= (1*n + 4) // 5 THEN v END) AS c1,
        |    MIN(CASE WHEN cum >= (2*n + 4) // 5 THEN v END) AS c2,
        |    MIN(CASE WHEN cum >= (3*n + 4) // 5 THEN v END) AS c3,
        |    MIN(CASE WHEN cum >= (4*n + 4) // 5 THEN v END) AS c4
        |  FROM (SELECT v, SUM(c) OVER (ORDER BY v) AS cum, SUM(c) OVER () AS n
        |    FROM (SELECT frequency AS v, COUNT(*) AS c FROM r GROUP BY 1))),
        |mc AS (SELECT MIN(CASE WHEN cum >= (1*n + 4) // 5 THEN v END) AS c1,
        |    MIN(CASE WHEN cum >= (2*n + 4) // 5 THEN v END) AS c2,
        |    MIN(CASE WHEN cum >= (3*n + 4) // 5 THEN v END) AS c3,
        |    MIN(CASE WHEN cum >= (4*n + 4) // 5 THEN v END) AS c4
        |  FROM (SELECT v, SUM(c) OVER (ORDER BY v) AS cum, SUM(c) OVER () AS n
        |    FROM (SELECT m_unit AS v, COUNT(*) AS c FROM r GROUP BY 1)))
        |SELECT cust, recency_days, frequency, monetary_cents,
        |  6 - (1 + CAST(recency_days > rc.c1 AS INT) + CAST(recency_days > rc.c2 AS INT)
        |    + CAST(recency_days > rc.c3 AS INT) + CAST(recency_days > rc.c4 AS INT)) AS r_score,
        |  1 + CAST(frequency > fc.c1 AS INT) + CAST(frequency > fc.c2 AS INT)
        |    + CAST(frequency > fc.c3 AS INT) + CAST(frequency > fc.c4 AS INT) AS f_score,
        |  1 + CAST(m_unit > mc.c1 AS INT) + CAST(m_unit > mc.c2 AS INT)
        |    + CAST(m_unit > mc.c3 AS INT) + CAST(m_unit > mc.c4 AS INT) AS m_score,
        |  (6 - (1 + CAST(recency_days > rc.c1 AS INT) + CAST(recency_days > rc.c2 AS INT)
        |    + CAST(recency_days > rc.c3 AS INT) + CAST(recency_days > rc.c4 AS INT))) * 100
        |  + (1 + CAST(frequency > fc.c1 AS INT) + CAST(frequency > fc.c2 AS INT)
        |    + CAST(frequency > fc.c3 AS INT) + CAST(frequency > fc.c4 AS INT)) * 10
        |  + 1 + CAST(m_unit > mc.c1 AS INT) + CAST(m_unit > mc.c2 AS INT)
        |    + CAST(m_unit > mc.c3 AS INT) + CAST(m_unit > mc.c4 AS INT) AS segment
        |FROM r, rc, fc, mc ORDER BY cust""".stripMargin),

    // ---- cohort lifetime-value matrix --------------------------------------
    // The LTV report beside user_retention's presence matrix: customers
    // cohorted by FIRST-order month, revenue accumulated per (cohort,
    // month-offset) cell with the per-user cumulative — the curve a
    // payback model reads. All money exact int64 cents (DECIMAL-staged
    // sums, trunc division both engines share). Scale shape: first-order
    // month is one per-customer partial+final min; the revenue join back
    // is co-partitioned on the SAME customer key (one shuffle key
    // throughout — the funnel_conversion discipline); the (cohort,
    // offset) cell agg is calendar-bounded, so the cumulative window
    // runs over the model-sized GRID, never corpus rows (the
    // ts_features/changepoint argument); cohort sizes broadcast. --------
    "cohort_ltv" -> QueryDef(
      (s, dir) => cohortLtv(Tables.load(s, dir, "orders")
        .selectExpr("o_custkey AS cust",
          "CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS m",
          "CAST(o_totalprice AS DECIMAL(18,2)) AS price")),
      """WITH o AS (SELECT o_custkey AS cust,
        |    CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS m,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price FROM orders),
        |f AS (SELECT cust, MIN(m) AS cm FROM o GROUP BY 1),
        |sz AS (SELECT cm, COUNT(*) AS n_cohort FROM f GROUP BY 1),
        |r AS (SELECT cm, m - cm AS off,
        |    SUM(CAST(price * 100 AS HUGEINT)) AS rev
        |  FROM o JOIN f USING (cust) GROUP BY 1, 2),
        |c AS (SELECT cm, off, rev,
        |    SUM(rev) OVER (PARTITION BY cm ORDER BY off) AS cum FROM r)
        |SELECT cm AS cohort_m, off AS month_offset, n_cohort,
        |  CAST(rev AS BIGINT) AS revenue_cents,
        |  CAST(cum AS BIGINT) AS cum_revenue_cents,
        |  CAST(cum // n_cohort AS BIGINT) AS cum_per_user_cents
        |FROM c JOIN sz USING (cm)
        |ORDER BY cohort_m, month_offset""".stripMargin),

    // ---- ABC (Pareto) inventory classification -----------------------------
    // The supply-chain staple: items ranked by revenue, classed A/B/C at
    // the 80/95% cumulative-share boundaries — the "which 20% of the
    // catalog carries 80% of revenue" read. The boundary rule is the
    // textbook one: an item belongs to the class its cumulative share
    // STARTED in (computed from cum-before-this-item), so the item that
    // crosses a boundary stays in the richer class and an all-revenue
    // first item is A, never B. All money exact int64 cents; shares in
    // per-mille by shared trunc division. Scale shape: the per-item
    // revenue agg is the only corpus-volume shuffle (partial+final); the
    // global revenue cumsum is DECOMPOSED (rangeRankCum: range-partition
    // + local window + broadcast prefix offsets), so no single task ever
    // sorts the whole catalog — a 10⁸-item catalog windows in ≈ n/B-row
    // tasks. -----------------------------------------------------------------
    "inventory_abc" -> QueryDef(
      (s, dir) => inventoryAbc(Tables.load(s, dir, "lineitem")
        .selectExpr("l_partkey AS item",
          "CAST(l_extendedprice AS DECIMAL(18,2)) AS price")),
      """WITH r AS (SELECT l_partkey AS item,
        |    SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT))
        |      AS rev FROM lineitem GROUP BY 1),
        |c AS (SELECT item, rev,
        |    SUM(rev) OVER (ORDER BY rev DESC, item) AS cum,
        |    SUM(rev) OVER () AS tot FROM r)
        |SELECT item, CAST(rev AS BIGINT) AS revenue_cents,
        |  CAST(cum * 1000 // tot AS BIGINT) AS cum_share_pm,
        |  CASE WHEN (cum - rev) * 1000 // tot < 800 THEN 'A'
        |    WHEN (cum - rev) * 1000 // tot < 950 THEN 'B'
        |    ELSE 'C' END AS abc_class
        |FROM c ORDER BY item""".stripMargin),

    // ---- Gini revenue concentration ----------------------------------------
    // The single-number summary beside inventory_abc's per-item classes:
    // the Gini coefficient of revenue across the catalog (0 = uniform,
    // →1 = one item carries everything) — the concentration KPI a
    // category manager trends release over release. Exact integer ppm
    // via the rank formulation G = (2·Σ i·x_i − (n+1)·Σx)/(n·Σx) over
    // ascending revenues; num is non-negative and ≤ den by construction
    // so ONE trunc division suffices (headroom: den·10⁶ < 10³⁸ up to
    // n·total_cents ≈ 10³², far past any catalog). Scale shape: the
    // per-item agg is the only corpus-volume shuffle; the global rank is
    // DECOMPOSED (rangeRankCum — no single-task catalog sort) and the
    // final fold is one row. ------------------------------------------------
    "gini_concentration" -> QueryDef(
      (s, dir) => giniConcentration(Tables.load(s, dir, "lineitem")
        .selectExpr("l_partkey AS item",
          "CAST(l_extendedprice AS DECIMAL(18,2)) AS price")),
      """WITH r AS (SELECT l_partkey AS item,
        |    SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT))
        |      AS rev FROM lineitem GROUP BY 1),
        |k AS (SELECT rev, ROW_NUMBER() OVER (ORDER BY rev, item) AS i FROM r),
        |s AS (SELECT COUNT(*)::HUGEINT AS n, SUM(rev) AS sx,
        |    SUM(i::HUGEINT * rev) AS six FROM k)
        |SELECT CAST(n AS BIGINT) AS n_items, CAST(sx AS BIGINT) AS total_cents,
        |  CASE WHEN n * sx <= 0 THEN 0
        |    ELSE CAST((2 * six - (n + 1) * sx) * 1000000 // (n * sx) AS BIGINT)
        |    END AS gini_ppm
        |FROM s""".stripMargin),

    // ---- foreign-key integrity report ---------------------------------------
    // The relationship half of the data-quality family (table_profile
    // profiles one table; THIS checks the contract BETWEEN two — dbt's
    // `relationships` + `unique` tests as one scale-shaped operator):
    // how many fact rows carry a null FK, how many point at nothing
    // (orphans), and whether the dimension key is actually unique —
    // the three ways a star-schema join silently drops or duplicates
    // revenue. Scale shape: the dim side reduces to its key domain
    // (one distinct fold — single-column, so no Expand); orphan
    // detection is ONE left-anti equi-join of the fact keys against it
    // (broadcast when the key domain fits, the usual dim assumption);
    // everything else is three 1-row aggregates cross-joined. Output is
    // ONE row at any scale. Fixture: orders.o_custkey -> customer
    // .c_custkey reads fully healthy (0 orphans, unique PK) — the
    // healthy read IS the point of a gate; the spec pins orphans,
    // nulls and duplicate PKs firing on crafted data. ------------------------
    "fk_integrity" -> QueryDef(
      (s, dir) => fkIntegrity(
        Tables.load(s, dir, "orders"), "o_custkey",
        Tables.load(s, dir, "customer"), "c_custkey"),
      """WITH f AS (SELECT COUNT(*)::BIGINT AS n_fact,
        |    (COUNT(*) - COUNT(o_custkey))::BIGINT AS n_fk_null FROM orders),
        |d AS (SELECT COUNT(*)::BIGINT AS n_dim,
        |    COUNT(DISTINCT c_custkey)::BIGINT AS n_pk_distinct FROM customer),
        |o AS (SELECT COUNT(*)::BIGINT AS n_orphan FROM orders
        |  WHERE o_custkey IS NOT NULL
        |    AND o_custkey NOT IN (SELECT c_custkey FROM customer
        |                          WHERE c_custkey IS NOT NULL))
        |SELECT n_fact, n_fk_null, n_orphan,
        |  CASE WHEN n_fact = 0 THEN 0
        |       ELSE CAST(n_orphan::HUGEINT * 1000000 // n_fact AS BIGINT)
        |  END AS orphan_ppm,
        |  n_dim, n_pk_distinct,
        |  CAST(n_dim = n_pk_distinct AS INT) AS pk_is_unique
        |FROM f CROSS JOIN d CROSS JOIN o""".stripMargin),

    // ---- exact duplicate-row census ------------------------------------------
    // The third leg of the data-quality family: table_profile reads one
    // table, fk_integrity the contract between two, THIS the dedup
    // hygiene WITHIN one — ingestion replays and at-least-once sinks
    // manifest as exact duplicate rows, and a fact table with dup rows
    // double-counts every aggregate downstream. Row identity = md5 over
    // the type-canonicalized columns (the SAME colCanonStr contract as
    // table_profile — one definition of value equality across engines;
    // the contentDigest md5 discipline: 128 bits, no birthday term at
    // any scale) joined by chr(1), NULLs as chr(2) so ("a", NULL) and
    // (NULL, "a") stay distinct. One digest group-count is the only
    // corpus shuffle (combiner-perfect); the report folds the
    // distinct-digest domain to one row. Fixture: full orders rows read
    // ZERO dups — the healthy read is the point of a gate; the spec
    // fires replays and multiplicities on crafted data. ----------------------
    "row_dupes" -> QueryDef(
      (s, dir) => rowDupes(Tables.load(s, dir, "orders")),
      """WITH d AS (SELECT md5(concat_ws(chr(1),
        |    coalesce(CAST(o_orderkey AS VARCHAR), chr(2)),
        |    coalesce(CAST(o_custkey AS VARCHAR), chr(2)),
        |    coalesce(o_orderstatus, chr(2)),
        |    coalesce(CAST(CAST(floor(o_totalprice * 1000000) AS BIGINT)
        |      AS VARCHAR), chr(2)),
        |    coalesce(CAST(epoch_us(o_orderdate) AS VARCHAR), chr(2)),
        |    coalesce(o_orderpriority, chr(2)))) AS d
        |  FROM orders),
        |g AS (SELECT d, COUNT(*)::BIGINT AS c FROM d GROUP BY 1)
        |SELECT COALESCE(SUM(c), 0)::BIGINT AS n_rows,
        |  COUNT(*)::BIGINT AS n_distinct,
        |  (COALESCE(SUM(c), 0) - COUNT(*))::BIGINT AS dup_rows,
        |  CASE WHEN COALESCE(SUM(c), 0) = 0 THEN 0
        |       ELSE CAST((COALESCE(SUM(c), 0) - COUNT(*))::HUGEINT * 1000000
        |            // SUM(c) AS BIGINT) END AS dup_ppm,
        |  COALESCE(MAX(c), 0)::BIGINT AS max_multiplicity
        |FROM g""".stripMargin),

    // ---- table profile (the data card for relational tables) ---------------
    // corpus_stats is the data card for document corpora; THIS is the one
    // for tables — the first read on any new dataset: per column, null
    // rate, distinct cardinality, min/max. The distinct lane is
    // exact-or-sketch: a BOUNDED distinct aggregator (<= exactK + 1
    // int64 fingerprints per task buffer — the TopK discipline) answers
    // exactly for low-cardinality columns, where the raw HLL estimator
    // is bias-floored and the linear-counting correction would need ln
    // (transcendental, banned — the hll_distinct zero_registers note);
    // past exactK the parallel register sketch takes over. Values
    // canonicalize per type to parity-safe strings (int64 decimal
    // string; doubles as floor-micro units — floor of the same IEEE
    // double is engine-identical, where a 6-dp decimal cast would hang
    // on rounding-boundary ULPs; timestamps as epoch micros), then the
    // shared portable chain (graft_polyhash -> hllIdExprs -> hllVExpr)
    // makes the 60-bit fp and registers. Scale shape: one wide agg pass
    // (counts + typed min/max, combiner-perfect), one stacked
    // k-column-exploded pass feeding BOTH distinct lanes (register fold
    // <= |cols|*m rows; bounded buffers <= exactK + 1) — output =
    // |cols| rows at ANY table size. ------------------------------------------
    "table_profile" -> QueryDef(
      (s, dir) => tableProfile(Tables.load(s, dir, "orders")), {
        import graft.functions.Portable.{MIX, MIX2, P, P2, P61}
        val alphaPpm = graft.operators.CorpusOps.hllAlphaPpm(256)
        // (name, dtype, duck canon VARCHAR expr, duck min/max source expr)
        val cols = Seq(
          ("o_orderkey", "bigint", "CAST(o_orderkey AS VARCHAR)", "o_orderkey"),
          ("o_custkey", "bigint", "CAST(o_custkey AS VARCHAR)", "o_custkey"),
          ("o_orderstatus", "string", "o_orderstatus", ""),
          ("o_totalprice", "double",
            "CAST(CAST(floor(o_totalprice * 1000000) AS BIGINT) AS VARCHAR)",
            "CAST(floor(o_totalprice * 1000000) AS BIGINT)"),
          ("o_orderdate", "timestamp",
            "CAST(epoch_us(o_orderdate) AS VARCHAR)", "epoch_us(o_orderdate)"),
          ("o_orderpriority", "string", "o_orderpriority", ""))
        val branches = cols.zipWithIndex.map { case ((name, dt, canon, mmSrc), i) =>
          val (mn, mx) =
            if (mmSrc.isEmpty) (s"MIN($name)", s"MAX($name)")
            else (s"CAST(MIN($mmSrc) AS VARCHAR)", s"CAST(MAX($mmSrc) AS VARCHAR)")
          s"""g$i AS (SELECT h1 * 2147483648 + h2 AS fp, h2 FROM (
             |  SELECT ((((h % $P) * (h % $P)) % $P) * $MIX + (h % $P)) % $P AS h1,
             |         ((((h % $P2) * (h % $P2)) % $P2) * $MIX2 + (h % $P2)) % $P2 AS h2
             |  FROM (SELECT ${graft.functions.Portable.duckPolyHashSql("v")} AS h
             |        FROM (SELECT $canon AS v FROM orders WHERE $name IS NOT NULL)))),
             |r$i AS (SELECT h2 % 256 AS idx,
             |    MAX(CASE WHEN v2 // 256 = 0 THEN 54
             |        ELSE length(bin((v2 // 256) & (-(v2 // 256)))) END) AS mj
             |  FROM (SELECT h2, (((fp % 2147483648) * $MIX) % $P61
             |      + ((fp // 2147483648) * $MIX2) % $P61) % $P61 AS v2 FROM g$i)
             |  GROUP BY 1),
             |s$i AS (SELECT SUM(1::BIGINT << (54 - mj))
             |      + (256 - COUNT(*)) * (1::BIGINT << 54) AS s_scaled FROM r$i),
             |e$i AS (SELECT CASE WHEN (SELECT COUNT(DISTINCT fp) FROM g$i) <= 1024
             |    THEN (SELECT COUNT(DISTINCT fp) FROM g$i)
             |    ELSE (SELECT ($alphaPpm::HUGEINT * 65536 * (1::HUGEINT << 54)
             |          // (s_scaled::HUGEINT * 1000000))::BIGINT FROM s$i) END AS est,
             |  CAST((SELECT COUNT(DISTINCT fp) FROM g$i) <= 1024 AS INT) AS is_ex),
             |p$i AS (SELECT '$name' AS col, '$dt' AS dtype,
             |    COUNT(*)::BIGINT AS n_rows,
             |    (COUNT(*) - COUNT($name))::BIGINT AS n_null,
             |    CAST((COUNT(*) - COUNT($name))::HUGEINT * 1000000
             |      // COUNT(*) AS BIGINT) AS null_ppm,
             |    $mn AS min_val, $mx AS max_val
             |  FROM orders),
             |b$i AS (SELECT p$i.*, est::BIGINT AS est_distinct,
             |    is_ex AS distinct_is_exact FROM p$i CROSS JOIN e$i)""".stripMargin
        }
        val unions = cols.indices.map(i =>
          s"SELECT col, dtype, n_rows, n_null, null_ppm, est_distinct, " +
            s"distinct_is_exact, min_val, max_val FROM b$i").mkString("\nUNION ALL\n")
        s"WITH ${branches.mkString(",\n")}\n$unions\nORDER BY col"
      })
  )

  /** Global (rank, inclusive cumsum) over an ordered frame WITHOUT the
    * single-partition WindowExec a bare `Window.orderBy` plans: range-
    * repartition on the order keys (sampled balanced boundaries, so the
    * physical partition id is monotone in the order and sizes are skew-
    * proof ≈ n/B regardless of value clustering), rank + cumsum locally
    * per partition, then add per-partition prefix offsets from the
    * ≤ B-row partition census via a broadcast triangular self-join —
    * the q8_running_total decomposition generalized from calendar
    * partitions to sampled range partitions. Rank and decimal cumsum
    * are exact and associative, so the result is bit-identical to the
    * global window wherever the sampler drops the boundaries (which is
    * why the sampled, not-run-reproducible boundaries are safe under
    * the deterministic-output rule). B = the session shuffle-partition
    * count: per-task window volume is ≈ n/B rows, the same sizing rule
    * as every other shuffle in the engine. Adds `i` (1-based global
    * rank, long) and `cum` (inclusive running sum of `valueCol`). */
  private def rangeRankCum(df: org.apache.spark.sql.DataFrame,
      order: Seq[org.apache.spark.sql.Column], valueCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = df.sparkSession.sessionState.conf.numShufflePartitions
    // persisted: the ranked frame feeds the local window AND the
    // partition census (twice, via the triangular join) — without the
    // persist each consumer re-runs the upstream scan + aggregation
    // (the winnowPairs fps-persist pattern; also pins the sampled range
    // boundaries and spark_partition_id to ONE materialization)
    val parts = df.repartitionByRange(b, order: _*)
      .withColumn("_gp_pid", spark_partition_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wRank = Window.partitionBy(col("_gp_pid")).orderBy(order: _*)
    val wCum = wRank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = parts
      .withColumn("_gp_r", row_number().over(wRank).cast("long"))
      .withColumn("_gp_c", sum(col(valueCol)).over(wCum))
    val census = parts.groupBy(col("_gp_pid"))
      .agg(count(lit(1)).as("_gp_ct"), sum(col(valueCol)).as("_gp_vs"))
    val off = census.as("a")
      .join(broadcast(census.as("b")), col("b._gp_pid") < col("a._gp_pid"), "left")
      .groupBy(col("a._gp_pid").as("_gp_pid"))
      .agg(sum(col("b._gp_ct")).as("_gp_cof"), sum(col("b._gp_vs")).as("_gp_vof"))
    local.join(broadcast(off), "_gp_pid")
      .withColumn("i", coalesce(col("_gp_cof"), lit(0L)) + col("_gp_r"))
      .withColumn("cum", expr(s"coalesce(_gp_vof, 0) + _gp_c"))
      .drop("_gp_pid", "_gp_r", "_gp_c", "_gp_cof", "_gp_vof")
  }

  /** Gini concentration of any `(item, price DECIMAL)` sales frame —
    * see the `gini_concentration` registry comment. Exact integer ppm:
    * G = (2·Σ(i·x_i) − (n+1)·Σx) / (n·Σx) over ascending-sorted item
    * revenues (rank i = 1..n, ties broken by item id — a deterministic
    * total order both engines share; the ppm value is invariant to
    * which equal-revenue item takes which rank). The rank comes from
    * [[rangeRankCum]] — the item frame scales with the catalog, so a
    * bare global window would funnel it through one task. */
  def giniConcentration(sales: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val rev = sales
      .groupBy(col("item"))
      .agg(sum(expr("CAST(price * 100 AS DECIMAL(38,0))")).as("rev_dec"))
    rangeRankCum(rev, Seq(col("rev_dec").asc, col("item").asc), "rev_dec")
      .agg(count(lit(1)).as("n"),
        sum(col("rev_dec")).as("sx"),
        sum(expr("CAST(i AS DECIMAL(38,0)) * rev_dec")).as("six"))
      .selectExpr("n", "CAST(sx AS BIGINT) AS total_cents",
        "2 * six - (n + 1) * sx AS num", "CAST(n AS DECIMAL(38,0)) * sx AS den")
      .selectExpr("n AS n_items", "total_cents",
        // num >= 0 (sorted ascending) and num <= den, single exact division
        "CASE WHEN den <= 0 THEN 0L" +
          " ELSE CAST(num * 1000000 div den AS BIGINT) END AS gini_ppm")
  }

  /** ABC (Pareto) classification of any `(item, price DECIMAL)` sales
    * frame — see the `inventory_abc` registry comment for the boundary
    * and domain-window contracts. `aPm`/`bPm` are the cumulative-share
    * class boundaries in per-mille (defaults: the classic 80/95). */
  def inventoryAbc(sales: org.apache.spark.sql.DataFrame,
      aPm: Long = 800L, bPm: Long = 950L): org.apache.spark.sql.DataFrame = {
    require(aPm >= 1 && aPm < bPm && bPm <= 1000,
      s"need 1 <= aPm < bPm <= 1000, got ($aPm, $bPm)")
    val rev = sales
      .groupBy(col("item"))
      .agg(sum(expr("CAST(price * 100 AS DECIMAL(38,0))")).as("rev_dec"))
    // decomposed global cumsum ([[rangeRankCum]] — the item frame scales
    // with the catalog); the grand total is one aggregate row broadcast
    // back, replacing the SinglePartition `sum() OVER ()` frame
    val tot = rev.agg(sum(col("rev_dec")).as("tot_dec"))
    rangeRankCum(rev, Seq(col("rev_dec").desc, col("item").asc), "rev_dec")
      .crossJoin(broadcast(tot))
      // the class boundary reads the share BEFORE this item, so the item
      // that crosses a boundary belongs to the class it started in (the
      // textbook assignment; an all-revenue first item is A, never B)
      .selectExpr("item", "CAST(rev_dec AS BIGINT) AS revenue_cents",
        "CAST(cum * 1000 div tot_dec AS BIGINT) AS cum_share_pm",
        s"CASE WHEN (cum - rev_dec) * 1000 div tot_dec < ${aPm}L THEN 'A'" +
          s" WHEN (cum - rev_dec) * 1000 div tot_dec < ${bPm}L THEN 'B'" +
          " ELSE 'C' END AS abc_class")
      .transform(graft.Sorted.byNames(_, "item"))
  }

  /** Cohort LTV of any `(cust, m, price DECIMAL)` order frame (`m` a
    * month index) — see the `cohort_ltv` registry comment for the
    * cohorting, exact-cents and grid-window contracts. */
  def cohortLtv(orders: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val first = orders.groupBy(col("cust")).agg(min(col("m")).as("cm"))
    val sized = first.groupBy(col("cm")).agg(count(lit(1)).as("n_cohort"))
    orders.join(first, "cust")
      .selectExpr("cm", "m - cm AS off",
        "CAST(price * 100 AS DECIMAL(38,0)) AS cents")
      .groupBy(col("cm"), col("off"))
      .agg(sum(col("cents")).as("rev_dec"))
      .withColumn("cum_dec", sum(col("rev_dec")).over(
        Window.partitionBy(col("cm")).orderBy(col("off"))
          .rowsBetween(Long.MinValue, 0)))
      .join(broadcast(sized), "cm")
      .selectExpr("cm AS cohort_m", "off AS month_offset", "n_cohort",
        "CAST(rev_dec AS BIGINT) AS revenue_cents",
        "CAST(cum_dec AS BIGINT) AS cum_revenue_cents",
        "CAST(cum_dec div n_cohort AS BIGINT) AS cum_per_user_cents")
      .transform(graft.Sorted.byNames(_, "cohort_m", "month_offset"))
  }

  /** RFM segmentation of any `(cust, ts_us, price DECIMAL)` order frame —
    * see the `rfm_segments` registry comment for the cutoff, tie and
    * quantization contracts. `buckets` scores each dimension 1..buckets
    * (5 = the classic quintiles); `monetaryUnit` (in cents) bounds the
    * monetary distribution's value domain. */
  def rfmSegments(orders: org.apache.spark.sql.DataFrame, buckets: Int = 5,
      monetaryUnit: Long = 100L): org.apache.spark.sql.DataFrame = {
    require(buckets >= 2 && buckets <= 100, s"buckets must be in [2,100], got $buckets")
    require(monetaryUnit >= 1, s"monetaryUnit must be >= 1, got $monetaryUnit")
    import org.apache.spark.storage.StorageLevel
    val base = orders
      .groupBy(col("cust"))
      .agg(max(expr("ts_us div 86400000000L")).as("last_day"),
        count(lit(1)).as("frequency"),
        sum(col("price") * 100).cast("bigint").as("monetary_cents"))
    val g = base.agg(max(col("last_day")).as("max_day"))
    val r = base.crossJoin(broadcast(g))
      .selectExpr("cust", "max_day - last_day AS recency_days", "frequency",
        "monetary_cents", s"monetary_cents div ${monetaryUnit}L AS m_unit")
      .persist(StorageLevel.MEMORY_AND_DISK)
    // quintile cutoffs of one dimension: an integer cumulative window over
    // the (value, count) distribution — the ccnet/curriculum trick; the
    // 1-row result broadcasts back
    def cuts(vCol: String): org.apache.spark.sql.DataFrame = {
      val dist = r.groupBy(col(vCol).as("v")).agg(count(lit(1)).as("c"))
      val w = dist
        .withColumn("cum", sum(col("c")).over(org.apache.spark.sql.expressions
          .Window.orderBy(col("v")).rowsBetween(Long.MinValue, 0)))
        .withColumn("n", sum(col("c")).over())
      val cs = (1 until buckets).map(q =>
        min(when(expr(s"cum >= ($q * n + ${buckets - 1}) div $buckets"), col("v")))
          .as(s"${vCol.head}c$q"))
      w.agg(cs.head, cs.tail: _*)
    }
    def score(vCol: String): String =
      (1 until buckets).map(q => s"IF($vCol > ${vCol.head}c$q, 1, 0)")
        .mkString("1 + ", " + ", "")
    r.crossJoin(broadcast(cuts("recency_days")))
      .crossJoin(broadcast(cuts("frequency")))
      .crossJoin(broadcast(cuts("m_unit")))
      .selectExpr("cust", "recency_days", "frequency", "monetary_cents",
        s"${buckets + 1} - (${score("recency_days")}) AS r_score",
        s"${score("frequency")} AS f_score",
        s"${score("m_unit")} AS m_score",
        s"(${buckets + 1} - (${score("recency_days")})) * 100" +
          s" + (${score("frequency")}) * 10 + ${score("m_unit")} AS segment")
      .transform(graft.Sorted.byNames(_, "cust"))
  }

  /** Association rules of any `(basket, item)` frame — see the
    * `basket_rules` registry comment for the support/confidence/lift,
    * prune and bounded-quadratic contracts. Duplicate (basket, item)
    * rows collapse first (a basket holds an item once); baskets larger
    * than `maxBasket` are dropped whole before pairing. */
  def basketRules(baskets: org.apache.spark.sql.DataFrame, minSupport: Long = 2L,
      topK: Int = 100, maxBasket: Int = 1000): org.apache.spark.sql.DataFrame = {
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    require(topK >= 1 && maxBasket >= 2,
      s"topK and maxBasket must be sane, got ($topK, $maxBasket)")
    import org.apache.spark.storage.StorageLevel
    val lp0 = baskets.select(col("basket"), col("item")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val big = lp0.groupBy(col("basket")).agg(count(lit(1)).as("bn"))
      .filter(col("bn") > maxBasket).select(col("basket"))
    val lp = lp0.join(broadcast(big), Seq("basket"), "left_anti")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val tot = lp.agg(count_distinct(col("basket")).cast("decimal(38,0)").as("nb"))
    val pairs = lp.alias("x")
      .join(lp.alias("y"), expr("x.basket = y.basket AND x.item < y.item"))
      .select(col("x.item").as("a"), col("y.item").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= minSupport)
    val marg = lp.groupBy(col("item")).agg(count(lit(1)).as("c"))
    pairs.selectExpr("a AS ante", "b AS cons", "c12")
      .unionAll(pairs.selectExpr("b AS ante", "a AS cons", "c12"))
      .join(marg.selectExpr("item AS ante", "c AS c_ante"), "ante")
      .join(marg.selectExpr("item AS cons", "c AS c_cons"), "cons")
      .crossJoin(broadcast(tot))
      .selectExpr("ante", "cons", "c12",
        "c12 * 1000L div c_ante AS conf_pm",
        "CAST(CAST(c12 AS DECIMAL(38,0)) * nb * 1000000L" +
          " div (CAST(c_ante AS DECIMAL(38,0)) * c_cons) AS BIGINT) AS lift_ppm")
      .orderBy(col("lift_ppm").desc, col("ante").asc, col("cons").asc)
      .limit(topK)
  }

  /** SCD type-2 history of any `(key, ts_us, seq, attr)` changelog —
    * see the `scd2_history` registry comment for the collapse, interval
    * and single-exchange contracts. `seq` breaks same-timestamp ties
    * deterministically; a run of identical consecutive `attr` values
    * (null-safely compared) becomes ONE version row whose `n_rows`
    * counts the collapsed raw updates.
    */
  def scd2History(changelog: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byKey   = Window.partitionBy(col("key"))
    val ordered = byKey.orderBy(col("ts_us"), col("seq"))
    val o = changelog
      .withColumn("rn", row_number().over(ordered))
      .withColumn("prev_attr", lag(col("attr"), 1).over(ordered))
      .withColumn("n_key", count(lit(1)).over(byKey))
    val c = o.filter(col("rn") === 1 || !(col("attr") <=> col("prev_attr")))
    c.withColumn("version", row_number().over(ordered))
      .withColumn("valid_to_us", lead(col("ts_us"), 1).over(ordered))
      .withColumn("next_rn", lead(col("rn"), 1).over(ordered))
      .select(col("key"), col("version"), col("ts_us").as("valid_from_us"),
        col("valid_to_us"), col("attr"),
        (coalesce(col("next_rn"), col("n_key") + 1) - col("rn")).as("n_rows"),
        col("valid_to_us").isNull.cast("int").as("is_current"))
      .transform(graft.Sorted.byNames(_, "key", "version"))
  }

  /** Leave-one-out target encoding of any (id, cat, y) frame with `y`
    * an exact DECIMAL — see the `target_encode_loo` registry comment for
    * the leakage, fallback and parity contracts.
    */
  def targetEncodeLoo(rows: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val cats = rows.groupBy(col("cat"))
      .agg(count(lit(1)).as("n_cat"), sum(col("y")).as("s_cat"))
    val glob = rows.agg(count(lit(1)).as("n_all"), sum(col("y")).as("s_all"))
    rows.join(broadcast(cats), "cat")
      .crossJoin(broadcast(glob))
      .selectExpr("id", "cat", "CAST(y AS DOUBLE) AS y",
        """CASE WHEN n_cat > 1 THEN
          |    (CAST(s_cat AS DOUBLE) - CAST(y AS DOUBLE)) / (n_cat - 1)
          |  WHEN n_all > 1 THEN
          |    (CAST(s_all AS DOUBLE) - CAST(y AS DOUBLE)) / (n_all - 1)
          |  ELSE CAST(0 AS DOUBLE) END AS loo_enc""".stripMargin)
      .transform(graft.Sorted.byNames(_, "id"))
  }

  /** Pairwise Pearson correlation of EVERY column pair of an all-int64
    * frame — see the `corr_matrix` registry comment for the one-pass,
    * exact-sums and double-combination contracts. Output: (pair = "x~y"
    * in column order, n, corr), zero-variance pairs read 0.0. */
  def corrMatrix(rows: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val cs = rows.columns.toSeq
    require(cs.length >= 2, s"need at least two measure columns, got $cs")
    val selfAndCross = for { i <- cs.indices; j <- i until cs.length }
      yield (cs(i), cs(j))
    val aggs =
      Seq(expr("COUNT(*)").as("n")) ++
        cs.map(c => expr(s"SUM(CAST($c AS DECIMAL(38,0)))").as(s"s_$c")) ++
        selfAndCross.map { case (a, b) =>
          expr(s"SUM(CAST($a * $b AS DECIMAL(38,0)))").as(s"p_${a}_$b")
        }
    val a = rows.agg(aggs.head, aggs.tail: _*)
    def corr(x: String, y: String) =
      s"""CASE WHEN n > 1
         |    AND CAST(n AS DOUBLE) * CAST(p_${x}_$x AS DOUBLE)
         |      - CAST(s_$x AS DOUBLE) * CAST(s_$x AS DOUBLE) > 0
         |    AND CAST(n AS DOUBLE) * CAST(p_${y}_$y AS DOUBLE)
         |      - CAST(s_$y AS DOUBLE) * CAST(s_$y AS DOUBLE) > 0
         |  THEN (CAST(n AS DOUBLE) * CAST(p_${x}_$y AS DOUBLE)
         |      - CAST(s_$x AS DOUBLE) * CAST(s_$y AS DOUBLE))
         |    / sqrt(CAST(n AS DOUBLE) * CAST(p_${x}_$x AS DOUBLE)
         |      - CAST(s_$x AS DOUBLE) * CAST(s_$x AS DOUBLE))
         |    / sqrt(CAST(n AS DOUBLE) * CAST(p_${y}_$y AS DOUBLE)
         |      - CAST(s_$y AS DOUBLE) * CAST(s_$y AS DOUBLE))
         |  ELSE 0.0 END""".stripMargin
    val pairs = selfAndCross.filter { case (x, y) => x != y }
    val stackArgs = pairs
      .map { case (x, y) => s"'$x~$y', ${corr(x, y)}" }
      .mkString(", ")
    a.selectExpr("n", s"stack(${pairs.size}, $stackArgs) AS (pair, corr)")
      .selectExpr("pair", "n", "corr")
      .transform(graft.Sorted.byNames(_, "pair"))
  }

  /** Foreign-key integrity report between a fact frame and a dimension —
    * see the `fk_integrity` registry comment. NULL dim keys never match
    * anything (SQL join semantics), so a null-keyed dim row counts
    * toward n_dim but not n_pk_distinct. One row out at any scale. */
  def fkIntegrity(fact: org.apache.spark.sql.DataFrame, fkCol: String,
      dim: org.apache.spark.sql.DataFrame, pkCol: String): org.apache.spark.sql.DataFrame = {
    require(fact.columns.contains(fkCol),
      s"fact has no column $fkCol (has ${fact.columns.mkString(",")})")
    require(dim.columns.contains(pkCol),
      s"dim has no column $pkCol (has ${dim.columns.mkString(",")})")
    val fStats = fact.agg(count(lit(1)).as("n_fact"),
      expr(s"count(1) - count(`$fkCol`)").as("n_fk_null"))
    val dStats = dim.agg(count(lit(1)).as("n_dim"),
      countDistinct(col(pkCol)).as("n_pk_distinct")) // single-distinct: no Expand
    val pk = dim.select(col(pkCol).as("pk")).where(col("pk").isNotNull).distinct()
    val orphans = fact.select(col(fkCol).as("fk")).where(col("fk").isNotNull)
      .join(pk, col("fk") === col("pk"), "left_anti")
      .agg(count(lit(1)).as("n_orphan"))
    fStats.crossJoin(dStats).crossJoin(orphans)
      .selectExpr("n_fact", "n_fk_null", "n_orphan",
        """CASE WHEN n_fact = 0 THEN 0L
          |  ELSE (CAST(n_orphan AS DECIMAL(38,0)) * 1000000) div n_fact
          |END AS orphan_ppm""".stripMargin,
        "n_dim", "n_pk_distinct",
        "CAST(n_dim = n_pk_distinct AS INT) AS pk_is_unique")
  }

  /** Exact duplicate-row census of any profileable frame — see the
    * `row_dupes` registry comment. The row digest is md5 over the
    * type-canonicalized columns joined by chr(1) with chr(2) for NULLs
    * (the contentDigest discipline: 128 bits, collision-free in
    * practice; the separators keep ("a", NULL) and (NULL, "a")
    * distinct, and only values CONTAINING control chars could ever
    * merge — documented). One digest fold is the only corpus shuffle;
    * the report aggregates the distinct-digest domain. */
  def rowDupes(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val fields = df.schema.fields
    require(fields.nonEmpty, "nothing to census")
    val parts = fields.map(f => s"coalesce(${colCanonStr(f)}, char(2))")
    val g = df
      .selectExpr(s"md5(concat_ws(char(1), ${parts.mkString(", ")})) AS d")
      .groupBy(org.apache.spark.sql.functions.col("d"))
      .agg(count(lit(1)).as("c")) // the ONLY corpus shuffle
    g.agg(coalesce(sum(col("c")), lit(0L)).as("n_rows"),
        count(lit(1)).as("n_distinct"),
        coalesce(max(col("c")), lit(0L)).as("max_multiplicity"))
      .selectExpr("n_rows", "n_distinct", "n_rows - n_distinct AS dup_rows",
        """CASE WHEN n_rows = 0 THEN 0L
          |  ELSE (CAST(n_rows - n_distinct AS DECIMAL(38,0)) * 1000000)
          |       div n_rows
          |END AS dup_ppm""".stripMargin,
        "max_multiplicity")
  }

  /** Parity-safe int64 canon per type; None = string column (lexical
    * lane). Shared by table_profile and row_dupes — one definition of
    * what "the same value" means across engines. */
  private[graft] def colCanonInt(f: org.apache.spark.sql.types.StructField): Option[String] = {
    import org.apache.spark.sql.types._
    f.dataType match {
      case LongType | IntegerType | ShortType | ByteType =>
        Some(s"CAST(`${f.name}` AS BIGINT)")
      case DoubleType | FloatType =>
        // floor of the SAME IEEE double is engine-identical; a decimal
        // cast would hang on rounding-boundary ULPs. NaN/±Inf must be
        // fenced BEFORE the bigint cast (ANSI mode throws on them) —
        // they fall out of the int lane and surface as sentinel strings
        // in the string lane below. Finite |x| >= ~9.2e6 (micro-units
        // past int64) remains the documented canon bound.
        Some(s"CASE WHEN isnan(CAST(`${f.name}` AS DOUBLE)) " +
          s"OR abs(CAST(`${f.name}` AS DOUBLE)) = double('inf') THEN NULL " +
          s"ELSE CAST(floor(CAST(`${f.name}` AS DOUBLE) * 1000000D) AS BIGINT) END")
      case TimestampType => Some(s"unix_micros(`${f.name}`)")
      case TimestampNTZType =>
        // the session TZ is pinned UTC (GraftSession), so the cast
        // relabels the same microsecond instant — the Tables.load rule
        Some(s"unix_micros(CAST(`${f.name}` AS TIMESTAMP))")
      case DateType => Some(s"CAST(datediff(`${f.name}`, DATE'1970-01-01') AS BIGINT)")
      case StringType => None
      case other => throw new IllegalArgumentException(
        s"column ${f.name}: unprofileable type ${other.simpleString} — select profileable columns first")
    }
  }

  /** The string form of [[colCanonInt]] (non-finite doubles become
    * sentinel strings that keep their distinct identity). */
  private[graft] def colCanonStr(f: org.apache.spark.sql.types.StructField): String = {
    import org.apache.spark.sql.types._
    f.dataType match {
      case DoubleType | FloatType =>
        s"CASE WHEN isnan(CAST(`${f.name}` AS DOUBLE)) THEN 'nan' " +
          s"WHEN CAST(`${f.name}` AS DOUBLE) = double('inf') THEN 'inf' " +
          s"WHEN CAST(`${f.name}` AS DOUBLE) = double('-inf') THEN '-inf' " +
          s"ELSE CAST(${colCanonInt(f).get} AS STRING) END"
      case _ =>
        colCanonInt(f).map(i => s"CAST($i AS STRING)").getOrElse(s"`${f.name}`")
    }
  }

  /** Per-column data card of any frame of profileable columns (integral,
    * float, string, timestamp, date) — see the `table_profile` registry
    * comment for the canonicalization, the exact-or-sketch distinct lane
    * and the scale shape. `m` is the register knob, `exactK` the
    * exact-distinct bound; unsupported column types fail loudly (select
    * the profileable columns first). */
  def tableProfile(df: org.apache.spark.sql.DataFrame, m: Int = 256,
      exactK: Int = 1024): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types._
    import graft.operators.CorpusOps
    require(exactK >= 1, s"exactK must be positive, got $exactK")
    val fields = df.schema.fields
    require(fields.nonEmpty, "nothing to profile")
    def canonInt(f: StructField): Option[String] = colCanonInt(f)
    // NTZ profiles as plain timestamp (one label for one semantics)
    def dtypeLabel(f: StructField): String = f.dataType match {
      case TimestampNTZType => "timestamp"
      case t => t.simpleString
    }
    def canonStr(f: StructField): String = colCanonStr(f)
    // pass 1: one wide combiner-perfect agg — counts + typed min/max
    val aggCols = fields.zipWithIndex.flatMap { case (f, i) =>
      val (mn, mx) = canonInt(f) match {
        case Some(ci) => (s"CAST(min($ci) AS STRING)", s"CAST(max($ci) AS STRING)")
        case None => (s"min(`${f.name}`)", s"max(`${f.name}`)")
      }
      Seq(expr(s"count(`${f.name}`)").as(s"nn_$i"),
        expr(mn).as(s"mn_$i"), expr(mx).as(s"mx_$i"))
    }
    val wide = df.agg(expr("count(1)").as("n_rows"), aggCols: _*)
    val stackArgs = fields.zipWithIndex.map { case (f, i) =>
      s"'${f.name}', '${dtypeLabel(f)}', nn_$i, mn_$i, mx_$i"
    }.mkString(", ")
    val stats = wide.selectExpr("n_rows",
      s"stack(${fields.length}, $stackArgs) AS (col, dtype, n_nonnull, min_val, max_val)")
    // pass 2: stacked (col, canonical value) stream feeds BOTH distinct lanes
    val vArgs = fields.map(f => s"'${f.name}', ${canonStr(f)}").mkString(", ")
    val (h2E, fpE) = CorpusOps.hllIdExprs("h")
    val longf = df
      .selectExpr(s"stack(${fields.length}, $vArgs) AS (col, v)")
      .where("v IS NOT NULL")
      .selectExpr("col", "graft_polyhash(v) AS h")
      .selectExpr("col", s"$fpE AS fp", s"$h2E AS h2")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val regs = longf
      .selectExpr("col", s"h2 % ${m}L AS idx",
        s"${CorpusOps.hllRhoExpr(s"(${CorpusOps.hllVExpr("fp")})", m)} AS rho")
      .groupBy(col("col"), col("idx")).agg(max(col("rho")).as("mj"))
    val est = CorpusOps.hllEstimate(regs, m, Seq("col"))
      .selectExpr("col", "est_distinct")
    val bd = udaf(new graft.functions.BoundedDistinct(exactK), Encoders.scalaLong)
    val exact = longf.groupBy(col("col")).agg(bd(col("fp")).as("exact_cnt"))
    stats
      .join(exact, Seq("col"), "left")
      .join(est, Seq("col"), "left")
      .selectExpr("col", "dtype", "n_rows", "n_rows - n_nonnull AS n_null",
        """CASE WHEN n_rows = 0 THEN 0L
          |  ELSE (CAST(n_rows - n_nonnull AS DECIMAL(38,0)) * 1000000) div n_rows
          |END AS null_ppm""".stripMargin,
        """CASE WHEN exact_cnt IS NULL THEN 0L
          |     WHEN exact_cnt >= 0 THEN exact_cnt
          |     ELSE coalesce(est_distinct, 0L) END AS est_distinct""".stripMargin,
        "CAST(coalesce(exact_cnt, 0L) >= 0 AS INT) AS distinct_is_exact",
        "min_val", "max_val")
      .transform(graft.Sorted.byNames(_, "col"))
  }
}
