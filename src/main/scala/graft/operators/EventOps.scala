package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

import scala.collection.immutable.ListMap

/** Batch forms of the reference's DWD/DWM pipeline semantics (SURVEY.md §2.3,
  * §2.5–2.7), expressed over the `events` fixture (`user_id` plays the role of
  * the device id `mid`; `event_type` the role of the log-record type).
  *
  * The streaming jobs in `graft.streaming` implement the same semantics on
  * their own and call none of these transforms; StreamingAbMonitor shares
  * only the `chi2Readout` expressions.
  *
  * Reference semantics re-expressed (citations into /root/reference/):
  *  - daily unique-visit dedup: RT/app/dwm/UniqueVisitApp.java:57-95
  *  - new/old-visitor fix:      RT/app/dwd/BaseLogTask.java:65-99
  *  - bounce (jump) detection:  RT/app/dwm/UserJumpDetailApp.java:101-159
  *  - 3-way log split:          RT/app/dwd/BaseLogTask.java:109-148
  *  - CDC config routing:       RT/app/func/TableProcessFunction.java:64-97
  *  - order wide enrichment:    RT/app/dwm/OrderWideApp.java:127-251
  */
object EventOps {

  private val dtCol = date_format(col("ts"), "yyyyMMdd")

  /** Per-user event ordering used by all sessionized operators: total order
    * via (ts, event_id) so results are deterministic under ties. */
  private val userW = Window.partitionBy(col("user_id"))
    .orderBy(col("ts"), col("event_id"))

  val defs: ListMap[String, QueryDef] = ListMap(

    // ---- cohort retention matrix: users grouped by first-seen day, counted
    // once per (cohort, week-offset) they return in — the DWS-layer report
    // the reference's visitor pipeline feeds. Scale shape: first-seen is one
    // partial+final min per user; activity reduces to DISTINCT (user,
    // cohort, offset) before counting, so the count stage is combiner-
    // friendly and no per-cohort state exceeds the distinct-user count. ----
    "user_retention" -> QueryDef(
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
          .select(col("user_id"), to_date(col("ts")).as("d"))
        val first = ev.groupBy(col("user_id")).agg(min(col("d")).as("cohort_d"))
        ev.join(first, "user_id")
          .selectExpr("user_id",
            "date_format(cohort_d, 'yyyy-MM-dd') AS cohort_date",
            "datediff(d, cohort_d) div 7 AS week_offset")
          .distinct()
          .groupBy(col("cohort_date"), col("week_offset"))
          .agg(count(lit(1)).as("n_users"))
          .orderBy("cohort_date", "week_offset")
      },
      """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
        |first AS (SELECT user_id, MIN(d) AS cohort_d FROM ev GROUP BY user_id),
        |act AS (SELECT DISTINCT ev.user_id,
        |    strftime(cohort_d, '%Y-%m-%d') AS cohort_date,
        |    datediff('day', cohort_d, d) // 7 AS week_offset
        |  FROM ev JOIN first ON ev.user_id = first.user_id)
        |SELECT cohort_date, week_offset, COUNT(*) AS n_users
        |FROM act GROUP BY 1, 2 ORDER BY cohort_date, week_offset""".stripMargin),

    // ---- ordered funnel: view -> first click AFTER the view -> first
    // purchase AFTER that click, per user; one summary row with stage
    // counts and conversion rates. The ORDER constraint is the point — a
    // bare per-type count would credit a purchase that preceded the view.
    // Scale shape: three (user)-keyed partial+final min-aggs chained by
    // join on user_id (co-partitioned — one shuffle key throughout); the
    // final row is a single global agg. ----------------------------------
    "funnel_conversion" -> QueryDef(
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
          .select(col("user_id"), col("event_type"), col("ts"))
        val v = ev.filter(col("event_type") === "view")
          .groupBy(col("user_id")).agg(min(col("ts")).as("v_ts"))
        val c = ev.filter(col("event_type") === "click")
          .join(v, "user_id").filter(col("ts") > col("v_ts"))
          .groupBy(col("user_id")).agg(min(col("ts")).as("c_ts"))
        val p = ev.filter(col("event_type") === "purchase")
          .join(c, "user_id").filter(col("ts") > col("c_ts"))
          .groupBy(col("user_id")).agg(min(col("ts")).as("p_ts"))
        v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
          .agg(
            count(lit(1)).as("n_view"),
            count(col("c_ts")).as("n_click_after_view"),
            count(col("p_ts")).as("n_purchase_after_click"))
          .selectExpr("n_view", "n_click_after_view", "n_purchase_after_click",
            "CAST(n_click_after_view AS DOUBLE) / n_view AS click_rate",
            "CAST(n_purchase_after_click AS DOUBLE) / n_view AS purchase_rate")
      },
      """WITH v AS (SELECT user_id, MIN(ts) AS v_ts FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, MIN(e.ts) AS c_ts FROM events e
        |  JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.ts > v.v_ts GROUP BY e.user_id),
        |p AS (SELECT e.user_id, MIN(e.ts) AS p_ts FROM events e
        |  JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > c.c_ts GROUP BY e.user_id)
        |SELECT COUNT(*) AS n_view,
        |  COUNT(c_ts) AS n_click_after_view,
        |  COUNT(p_ts) AS n_purchase_after_click,
        |  CAST(COUNT(c_ts) AS DOUBLE) / COUNT(*) AS click_rate,
        |  CAST(COUNT(p_ts) AS DOUBLE) / COUNT(*) AS purchase_rate
        |FROM v LEFT JOIN c ON v.user_id = c.user_id
        |LEFT JOIN p ON v.user_id = p.user_id""".stripMargin),

    // ---- P4: daily UV counts (dedup'd first visits per user per day) ------
    "uv_daily" -> QueryDef(
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        ev.groupBy(dtCol.as("dt"))
          .agg(countDistinct(col("user_id")).as("uv"),
            count(lit(1)).as("pv"))
          .orderBy("dt")
      },
      """SELECT strftime(ts, '%Y%m%d') AS dt,
        | COUNT(DISTINCT user_id) AS uv, COUNT(*) AS pv
        |FROM events GROUP BY 1 ORDER BY dt""".stripMargin),

    // ---- P4: the dedup'd rows themselves (first event per user per day),
    // the exact output of the reference's keyed ValueState filter ------------
    "uv_first_visits" -> QueryDef(
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        ev.groupBy(col("user_id"), dtCol.as("dt"))
          .agg(min(unix_micros(col("ts"))).as("first_ts_us"))
          .orderBy("user_id", "dt")
      },
      """SELECT user_id, strftime(ts, '%Y%m%d') AS dt,
        | MIN(epoch_us(ts)) AS first_ts_us
        |FROM events GROUP BY 1, 2 ORDER BY user_id, dt""".stripMargin),

    // ---- P2: new/old-visitor fix — an event is "new" only on the user's
    // first active day (event-time variant of BaseLogTask's ValueState) -----
    "visitor_fix" -> QueryDef(
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val w = Window.partitionBy(col("user_id"))
        ev.select(col("event_id"), col("user_id"), dtCol.as("dt"))
          .withColumn("first_dt", min(col("dt")).over(w))
          .select(col("event_id"), col("user_id"), col("dt"),
            when(col("dt") === col("first_dt"), lit("1")).otherwise(lit("0")).as("is_new"))
          .orderBy("event_id")
      },
      """SELECT event_id, user_id, dt,
        | CASE WHEN dt = MIN(dt) OVER (PARTITION BY user_id) THEN '1' ELSE '0' END AS is_new
        |FROM (SELECT event_id, user_id, strftime(ts, '%Y%m%d') AS dt FROM events)
        |ORDER BY event_id""".stripMargin),

    // ---- P5: bounce detection — a session-entry event with no follow-up
    // within 10 s (timeout-as-answer, batch form via lead()) ----------------
    "bounce_events" -> QueryDef(
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        ev.withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(userW))
          .withColumn("next_us", lead(unix_micros(col("ts")), 1).over(userW))
          .withColumn("is_entry",
            col("prev_us").isNull || (unix_micros(col("ts")) - col("prev_us")) > 1800L * 1000000L)
          .filter(col("is_entry") &&
            (col("next_us").isNull || (col("next_us") - unix_micros(col("ts"))) > 10L * 1000000L))
          .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"))
          .orderBy("event_id")
      },
      """WITH seq AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |    LAG(epoch_us(ts)) OVER w AS prev_us,
        |    LEAD(epoch_us(ts)) OVER w AS next_us
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT event_id, user_id, ts_us FROM seq
        |WHERE (prev_us IS NULL OR ts_us - prev_us > 1800000000)
        |  AND (next_us IS NULL OR next_us - ts_us > 10000000)
        |ORDER BY event_id""".stripMargin),

    // ---- session windows: 30-min-gap sessionization (gaps-and-islands) ----
    "sessionize" -> QueryDef(
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val flagged = ev
          .withColumn("ts_us", unix_micros(col("ts")))
          .withColumn("prev_us", lag(col("ts_us"), 1).over(userW))
          .withColumn("new_sess",
            when(col("prev_us").isNull || (col("ts_us") - col("prev_us")) > 1800L * 1000000L, 1L)
              .otherwise(0L))
        val sessW = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        flagged.withColumn("session_no", sum(col("new_sess")).over(sessW))
          .groupBy(col("user_id"), col("session_no"))
          .agg(min(col("ts_us")).as("start_us"), max(col("ts_us")).as("end_us"),
            count(lit(1)).as("n_events"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchases"))
          .orderBy("user_id", "session_no")
      },
      """WITH flagged AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
        |    CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_no
        |  FROM flagged)
        |SELECT user_id, session_no, MIN(ts_us) AS start_us, MAX(ts_us) AS end_us,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases
        |FROM sess GROUP BY user_id, session_no ORDER BY user_id, session_no""".stripMargin),

    // ---- P2: 3-way split — per-type measures from a single pass -----------
    "log_split_counts" -> QueryDef(
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        ev.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"),
            countDistinct(col("user_id")).as("n_users"))
          .orderBy("event_type")
      },
      """SELECT event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        | COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // ---- P3: config-table-driven dynamic routing — broadcast the config,
    // join on (type), count rows bound for each sink --------------------------
    "cdc_route" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val ev = Tables.load(s, dir, "events")
        val cfg = Seq(
          ("view", "kafka", "dwd_page_view"),
          ("click", "kafka", "dwd_click"),
          ("purchase", "kafka", "dwd_purchase"),
          ("signup", "hbase", "dim_user_signup"),
          ("error", "hbase", "dim_error_log"))
          .toDF("event_type", "sink_type", "sink_table")
        ev.join(broadcast(cfg), Seq("event_type"))
          .groupBy(col("sink_type"), col("sink_table"))
          .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
          .orderBy("sink_type", "sink_table")
      },
      """SELECT sink_type, sink_table, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
        |FROM events JOIN (VALUES
        |  ('view','kafka','dwd_page_view'),
        |  ('click','kafka','dwd_click'),
        |  ('purchase','kafka','dwd_purchase'),
        |  ('signup','hbase','dim_user_signup'),
        |  ('error','hbase','dim_error_log')) AS cfg(event_type, sink_type, sink_table)
        |USING (event_type)
        |GROUP BY sink_type, sink_table ORDER BY sink_type, sink_table""".stripMargin),

    // ---- tumbling window aggregation (Spark window() operator) ------------
    "tumbling_window" -> QueryDef(
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        ev.groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(
            date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
            col("event_type"), col("n"))
          .orderBy("w_start", "event_type")
      },
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS w_start,
        | event_type, COUNT(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin),

    // ---- sliding window aggregation (1 h window, 30 min slide) ------------
    "sliding_window" -> QueryDef(
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        ev.groupBy(window(col("ts"), "1 hour", "30 minutes"))
          .agg(count(lit(1)).as("n"))
          .select(
            date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
            col("n"))
          .orderBy("w_start")
      },
      """WITH halves AS (
        |  SELECT to_timestamp(epoch_us(ts) // 1800000000 * 1800) AS b, ts FROM events),
        |expanded AS (
        |  SELECT b AS w_start FROM halves
        |  UNION ALL
        |  SELECT b - INTERVAL 30 MINUTE AS w_start FROM halves)
        |SELECT strftime(w_start, '%Y-%m-%d %H:%M:%S') AS w_start, COUNT(*) AS n
        |FROM expanded GROUP BY 1 ORDER BY w_start""".stripMargin),

    // ---- built-in session_window operator (30-min gap), equivalent to the
    // gaps-and-islands form in `sessionize` — the oracle IS that form ------
    "session_window_agg" -> QueryDef(
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        ev.groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("user_id"),
            unix_micros(col("session_window.start")).as("start_us"),
            col("n_events"))
          .orderBy("user_id", "start_us")
      },
      """WITH flagged AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |    CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w >= 1800000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
        |  FROM flagged)
        |SELECT user_id, MIN(ts_us) AS start_us, COUNT(*) AS n_events
        |FROM sess GROUP BY user_id, session_no ORDER BY user_id, start_us""".stripMargin),

    // ---- P6: order wide table — fact join + chained broadcast dim
    // enrichments (customer → nation → region), derived columns --------------
    "order_wide" -> QueryDef(
      (s, dir) => {
        val o = Tables.load(s, dir, "orders")
        val c = Tables.load(s, dir, "customer")
        val n = Tables.load(s, dir, "nation")
        val r = Tables.load(s, dir, "region")
        o.join(broadcast(c), col("o_custkey") === col("c_custkey"), "left")
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"), "left")
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"), "left")
          .select(
            col("o_orderkey"), col("o_custkey"),
            col("c_name"), col("c_mktsegment"),
            col("n_name").as("nation"), col("r_name").as("region"),
            col("o_totalprice"),
            when(col("c_acctbal") < 0, lit("overdrawn"))
              .when(col("c_acctbal") < 5000, lit("standard"))
              .otherwise(lit("premium")).as("acct_band"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_dt"))
          .transform(graft.Sorted.byNames(_, "o_orderkey"))
      },
      """SELECT o_orderkey, o_custkey, c_name, c_mktsegment,
        | n_name AS nation, r_name AS region, o_totalprice,
        | CASE WHEN c_acctbal < 0 THEN 'overdrawn'
        |      WHEN c_acctbal < 5000 THEN 'standard'
        |      ELSE 'premium' END AS acct_band,
        | strftime(o_orderdate, '%Y-%m-%d') AS order_dt
        |FROM orders
        |LEFT JOIN customer ON o_custkey = c_custkey
        |LEFT JOIN nation ON c_nationkey = n_nationkey
        |LEFT JOIN region ON n_regionkey = r_regionkey
        |ORDER BY o_orderkey""".stripMargin),

    // ---- transition-lift path mining: consecutive event-type pairs per
    // user, ranked by association lift (c12·T)/(c_from·c_to) — the
    // funnel-mining statistic behind "which step-pairs co-occur above
    // chance": raw transition counts surface the high-traffic edges,
    // lift surfaces the DEPENDENT ones (the pmi_collocations argument on
    // the clickstream). lift_ppm = c12·T·10⁶ div (c_from·c_to), exact
    // single-stage DECIMAL(38,0)/HUGEINT (T²·10⁶ ≈ 1e30 at a 10¹²-
    // transition clickstream — inside 38 digits, no staging needed).
    // Scale shape: transitions come from ONE lead() window partitioned
    // BY USER (the sessionize shape — user histories are bounded, never
    // a global funnel), persisted once to feed the pair counts, both
    // marginals and the total; the pair/marginal frames are bounded by
    // the event-type DOMAIN (not the corpus) so both marginals
    // broadcast; min-count prunes before the joins. ----------------------
    // ---- conversion latency distribution -------------------------------------
    // funnel_conversion counts WHO converts; this measures HOW LONG it
    // takes — first view to first subsequent purchase per user, reported
    // as the latency distribution (n, min, exact type-1 p50/p90, max in
    // whole seconds). The second-quantization is the scale contract: the
    // quantile windows run over the latency DISTRIBUTION (bounded by the
    // horizon in seconds — the ccnet coarsen-the-quantization rule
    // applied up front), never over converter rows. Scale shape: two
    // (user)-keyed min-aggs chained on one shuffle key (the funnel
    // shape), one distribution fold + cutoff windows, a 1-row report. ------
    "conversion_latency" -> QueryDef(
      (s, dir) => conversionLatency(Tables.load(s, dir, "events")),
      """WITH v AS (SELECT user_id, MIN(ts) AS v_ts FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |p AS (SELECT e.user_id, MIN(e.ts) AS p_ts FROM events e
        |  JOIN v USING (user_id)
        |  WHERE event_type = 'purchase' AND e.ts > v_ts GROUP BY 1),
        |l AS (SELECT (epoch_us(p_ts) - epoch_us(v.v_ts)) // 1000000 AS lat_s
        |  FROM p JOIN v USING (user_id)),
        |d AS (SELECT lat_s, COUNT(*)::BIGINT AS c FROM l GROUP BY 1),
        |dc AS (SELECT lat_s, SUM(c) OVER ()::BIGINT AS n,
        |    SUM(c) OVER (ORDER BY lat_s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum
        |  FROM d),
        |q AS (SELECT
        |    MIN(CASE WHEN cum >= (500 * n + 999) // 1000 THEN lat_s END) AS p50_s,
        |    MIN(CASE WHEN cum >= (900 * n + 999) // 1000 THEN lat_s END) AS p90_s
        |  FROM dc),
        |s AS (SELECT COUNT(*)::BIGINT AS n_converters,
        |    MIN(lat_s) AS min_s, MAX(lat_s) AS max_s FROM l)
        |SELECT n_converters, min_s, p50_s, p90_s, max_s
        |FROM s CROSS JOIN q""".stripMargin),

    // ---- top user journeys (path prefix census) ----------------------------
    // event_path_lift grades single TRANSITIONS; this one counts whole
    // JOURNEY PREFIXES — "what are users actually doing first": per user,
    // the first `depth` events in (ts, event_id) order joined into a
    // path string, counted, top-k with a deterministic tie-break (the
    // funnel product's Sankey source). Scale shape: the per-user first-k
    // is a rank window + rank <= depth filter, which Spark plans as
    // Partial/Final WindowGroupLimitExec AROUND the shuffle (the native
    // pushdown the q7 audit pins — each map task forwards at most
    // `depth` rows per user before anything shuffles); the ordered
    // collect is depth-bounded per user; the path census is a
    // combiner-perfect count; TakeOrderedAndProject bounds the tail.
    // Users with fewer than `depth` events keep their shorter real
    // journey — a prefix census, not an inner join against completeness.
    "path_topk" -> QueryDef(
      (s, dir) => pathTopK(Tables.load(s, dir, "events")),
      """WITH r AS (SELECT user_id, event_type,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS rn
        |  FROM events),
        |f AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
        |  FROM r WHERE rn <= 3 GROUP BY user_id),
        |t AS (SELECT COUNT(*)::BIGINT AS n_total FROM f),
        |p AS (SELECT path, COUNT(*)::BIGINT AS n_users FROM f GROUP BY 1)
        |SELECT path, n_users, n_users * 1000 // n_total AS share_pm
        |FROM p CROSS JOIN t ORDER BY n_users DESC, path LIMIT 10""".stripMargin),

    "event_path_lift" -> QueryDef(
      (s, dir) => transitionLift(Tables.load(s, dir, "events")),
      """WITH tr AS (SELECT event_type AS from_type,
        |    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS to_type
        |  FROM events),
        |t2 AS (SELECT from_type, to_type FROM tr WHERE to_type IS NOT NULL),
        |pc AS (SELECT from_type, to_type, COUNT(*) AS n_trans FROM t2
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 5),
        |fc AS (SELECT from_type, COUNT(*) AS c_from FROM t2 GROUP BY 1),
        |tc AS (SELECT to_type, COUNT(*) AS c_to FROM t2 GROUP BY 1),
        |tt AS (SELECT CAST(COUNT(*) AS HUGEINT) AS t FROM t2)
        |SELECT from_type, to_type, n_trans, c_from, c_to,
        |  CAST(CAST(n_trans AS HUGEINT) * t * 1000000
        |    // (CAST(c_from AS HUGEINT) * c_to) AS BIGINT) AS lift_ppm
        |FROM pc JOIN fc USING (from_type) JOIN tc USING (to_type)
        |CROSS JOIN tt ORDER BY from_type, to_type""".stripMargin),

    // ---- A/B experiment readout: 2x2 chi-square in staged integers -------
    // The experiment report read before shipping a variant: per-variant
    // unit and conversion counts, conversion per-mille, the signed lift,
    // and Pearson's chi-square for the 2x2 table — in EXACT staged
    // integer arithmetic: chi2 = N·(ad−bc)²/(r1·r2·c1·c2) staged as
    // (D² div (r1·r2)) · 1000 · N div (c1·c2), divisors COMBINED per
    // stage because Spark's IntegralDivide returns int64 and wraps
    // silently — each quotient is bounded (inner ≤ r1·r2, outer ≤
    // 1000·N) while the products stage in DECIMAL(38,0)/HUGEINT; D² ≤
    // N⁴/16 is the binding term, good to N ≈ 2e9 units (past that,
    // pre-scale D). Trunc-division staging is the deterministic
    // cross-engine contract (the pmi_collocations precedent).
    // significant = chi2_milli >= 3841,
    // the 95% critical value for 1 df, a pure integer comparison — no
    // p-value transcendentals. Fixture: variant = user_id % 2, conversion
    // = >= 14 purchase events. Scale shape: the per-unit reduction in the
    // registry wiring is the only corpus-volume shuffle (partial+final);
    // the operator itself folds the unit frame into ONE row map-side +
    // a single final agg. ---------------------------------------------------
    "ab_test_chi2" -> QueryDef(
      (s, dir) => abTestChi2(Tables.load(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("np"))
        .selectExpr("CAST(user_id % 2 AS INT) AS variant",
          "CAST(np >= 14 AS INT) AS converted")),
      """WITH u AS (SELECT CAST(user_id % 2 AS INT) AS variant,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14
        |      AS INT) AS converted
        |  FROM events GROUP BY user_id),
        |c AS (SELECT
        |    SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
        |    SUM(CASE WHEN variant = 0 THEN converted ELSE 0 END)::BIGINT AS conv_a,
        |    SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b,
        |    SUM(CASE WHEN variant = 1 THEN converted ELSE 0 END)::BIGINT AS conv_b
        |  FROM u),
        |d AS (SELECT *, CAST(conv_a AS HUGEINT) * (n_b - conv_b)
        |    - CAST(conv_b AS HUGEINT) * (n_a - conv_a) AS dd FROM c),
        |k AS (SELECT *, CASE WHEN n_a = 0 OR n_b = 0 OR conv_a + conv_b = 0
        |      OR n_a - conv_a + n_b - conv_b = 0 THEN 0
        |    ELSE CAST((((dd * dd) // (CAST(n_a AS HUGEINT) * n_b))
        |        * 1000 * (n_a + n_b))
        |      // (CAST(conv_a + conv_b AS HUGEINT)
        |        * (n_a - conv_a + n_b - conv_b)) AS BIGINT)
        |    END AS chi2_milli FROM d)
        |SELECT n_a, conv_a, n_b, conv_b,
        |  CASE WHEN n_a = 0 THEN 0 ELSE conv_a * 1000 // n_a END AS conv_a_pm,
        |  CASE WHEN n_b = 0 THEN 0 ELSE conv_b * 1000 // n_b END AS conv_b_pm,
        |  CASE WHEN n_b = 0 THEN 0 ELSE conv_b * 1000 // n_b END
        |    - CASE WHEN n_a = 0 THEN 0 ELSE conv_a * 1000 // n_a END AS lift_pm,
        |  chi2_milli, CAST(chi2_milli >= 3841 AS INT) AS significant
        |FROM k""".stripMargin),

    // ---- linear multi-touch attribution ------------------------------------
    // The marketing-analytics staple: each conversion's credit splits
    // EQUALLY across the user's touch events (view/click) inside the
    // lookback window before it; a conversion with no touch credits
    // '(direct)'. Credits are integer milli-units (1000 div k — trunc
    // both engines share; the ≤ k−1 milli remainder per conversion is
    // documented, not smeared). Scale shape: the touch join is the
    // interval-join family (q19/order_wide) — equi on USER with the
    // range as residual, so pair volume is bounded by per-user activity
    // inside the window, never a cross; the per-conversion k window
    // partitions by conversion id (bounded groups, the sessionize
    // discipline); the channel agg is domain-bounded. --------------------
    "attribution_linear" -> QueryDef(
      (s, dir) => attributionLinear(Tables.load(s, dir, "events")),
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        |  FROM events),
        |p AS (SELECT user_id, event_id AS conv_id, us AS p_us FROM e
        |  WHERE event_type = 'purchase'),
        |t AS (SELECT user_id, event_type AS channel, us AS t_us FROM e
        |  WHERE event_type IN ('view', 'click')),
        |j AS (SELECT p.conv_id, t.channel FROM p LEFT JOIN t
        |  ON p.user_id = t.user_id AND t.t_us < p.p_us
        |    AND t.t_us >= p.p_us - 172800000000),
        |k AS (SELECT conv_id, channel,
        |    COUNT(channel) OVER (PARTITION BY conv_id) AS k FROM j),
        |c AS (SELECT conv_id, COALESCE(channel, '(direct)') AS channel,
        |    CASE WHEN k = 0 THEN 1000 ELSE 1000 // k END AS credit FROM k)
        |SELECT channel, COUNT(DISTINCT conv_id) AS n_conversions,
        |  SUM(credit)::BIGINT AS credit_milli
        |FROM c GROUP BY 1 ORDER BY channel""".stripMargin)
  )

  /** Linear multi-touch attribution of any event frame — see the
    * `attribution_linear` registry comment for the window, credit and
    * bounded-join contracts. `touchTypes` are the creditable channels,
    * `convType` the conversion event, `lookbackHours` the window. */
  def attributionLinear(ev: DataFrame,
      touchTypes: Seq[String] = Seq("view", "click"),
      convType: String = "purchase",
      lookbackHours: Long = 48L): DataFrame = {
    require(touchTypes.nonEmpty && !touchTypes.contains(convType),
      s"touch types must be non-empty and exclude the conversion type")
    require(lookbackHours >= 1, s"lookbackHours must be >= 1, got $lookbackHours")
    val hUs = lookbackHours * 3600L * 1000000L
    val e = ev.selectExpr("user_id", "event_id", "event_type",
      "unix_micros(ts) AS us")
    val p = e.filter(col("event_type") === convType)
      .select(col("user_id"), col("event_id").as("conv_id"), col("us").as("p_us"))
    val inList = touchTypes.map(t => s"'$t'").mkString(", ")
    val t = e.filter(expr(s"event_type IN ($inList)"))
      .select(col("user_id").as("t_user"), col("event_type").as("channel"),
        col("us").as("t_us"))
    p.join(t, col("user_id") === col("t_user")
        && col("t_us") < col("p_us") && col("t_us") >= col("p_us") - lit(hUs),
        "left")
      .withColumn("k", count(col("channel")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("conv_id"))))
      .selectExpr("conv_id", "COALESCE(channel, '(direct)') AS channel",
        "IF(k = 0, 1000L, 1000L div k) AS credit")
      .groupBy(col("channel"))
      .agg(count_distinct(col("conv_id")).as("n_conversions"),
        sum(col("credit")).as("credit_milli"))
      .transform(graft.Sorted.byNames(_, "channel"))
  }

  /** 2x2 chi-square readout of any one-row-per-unit `(variant INT 0/1,
    * converted INT 0/1)` frame — see the `ab_test_chi2` registry comment
    * for the staging, headroom and significance contracts. */
  def abTestChi2(units: DataFrame, critMilli: Long = 3841L): DataFrame =
    chi2Readout(units
      .agg(
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("variant") === 0, col("converted").cast("long"))
          .otherwise(0L)).as("conv_a"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("variant") === 1, col("converted").cast("long"))
          .otherwise(0L)).as("conv_b")), critMilli)

  /** The readout stage alone, over an `(n_a, conv_a, n_b, conv_b)` counts
    * frame — ONE definition of the staged chi-square shared by the batch
    * operator above, `streaming/StreamingAbMonitor` and
    * `CorpusOps.featureChi2`, so the paths cannot drift. `keyCols` are
    * carried through untouched (empty for the 1-row A/B readout; the
    * bucket id for the per-feature screen, where every ROW is one 2×2
    * test against shared margins). */
  def chi2Readout(counts: DataFrame, critMilli: Long = 3841L,
      keyCols: Seq[String] = Nil): DataFrame = {
    require(critMilli >= 0, s"critMilli must be >= 0, got $critMilli")
    counts
      .selectExpr(keyCols ++ Seq("n_a", "conv_a", "n_b", "conv_b",
        "CAST(conv_a AS DECIMAL(38,0)) * (n_b - conv_b)" +
          " - CAST(conv_b AS DECIMAL(38,0)) * (n_a - conv_a) AS dd"): _*)
      .selectExpr(keyCols ++ Seq("n_a", "conv_a", "n_b", "conv_b",
        // every `div` RESULT must fit int64 (Spark's IntegralDivide on
        // decimals returns LONG and wraps silently past 2^63): the inner
        // quotient is bounded by n_a*n_b, the outer by 1000*N — both safe
        // to the documented N <= 2e9 headroom, each input staged in
        // DECIMAL(38,0)
        "CASE WHEN n_a = 0 OR n_b = 0 OR conv_a + conv_b = 0" +
          " OR n_a - conv_a + n_b - conv_b = 0 THEN 0L" +
          " ELSE CAST((CAST((dd * dd) div (CAST(n_a AS DECIMAL(38,0)) * n_b)" +
          " AS DECIMAL(38,0)) * 1000 * (n_a + n_b))" +
          " div (CAST(conv_a + conv_b AS DECIMAL(38,0))" +
          " * (n_a - conv_a + n_b - conv_b)) AS BIGINT)" +
          " END AS chi2_milli"): _*)
      .selectExpr(keyCols ++ Seq("n_a", "conv_a", "n_b", "conv_b",
        "IF(n_a = 0, 0L, conv_a * 1000L div n_a) AS conv_a_pm",
        "IF(n_b = 0, 0L, conv_b * 1000L div n_b) AS conv_b_pm",
        "IF(n_b = 0, 0L, conv_b * 1000L div n_b)" +
          " - IF(n_a = 0, 0L, conv_a * 1000L div n_a) AS lift_pm",
        "chi2_milli", s"CAST(chi2_milli >= ${critMilli}L AS INT) AS significant"): _*)
  }

  /** First-view-to-first-subsequent-purchase latency distribution — see
    * the `conversion_latency` registry comment. `fromType`/`toType` are
    * the funnel ends; latency quantizes to whole seconds BEFORE the
    * distribution fold (the scale contract). One row out. */
  def conversionLatency(ev: DataFrame, fromType: String = "view",
      toType: String = "purchase"): DataFrame = {
    require(fromType != toType, "funnel ends must differ")
    val v = ev.filter(col("event_type") === fromType)
      .groupBy(col("user_id")).agg(min(col("ts")).as("v_ts"))
    val p = ev.filter(col("event_type") === toType)
      .join(v, "user_id").filter(col("ts") > col("v_ts"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("p_ts"))
    val lat = p.join(v, "user_id")
      .selectExpr("(unix_micros(p_ts) - unix_micros(v_ts)) div 1000000L AS lat_s")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val qs = graft.operators.CorpusOps.exactQuantilesByGroup(
      lat.withColumn("g", lit(1)), "lat_s", Seq("g"), Seq(500, 900))
      .groupBy(col("g"))
      .agg(max(expr("IF(q_pm = 500, exact_q, NULL)")).as("p50_s"),
        max(expr("IF(q_pm = 900, exact_q, NULL)")).as("p90_s"))
      .drop("g")
    lat.agg(count(lit(1)).as("n_converters"),
        min(col("lat_s")).as("min_s"), max(col("lat_s")).as("max_s"))
      .crossJoin(broadcast(qs))
      .selectExpr("n_converters", "min_s", "p50_s", "p90_s", "max_s")
  }

  /** Top journey prefixes of an `(user_id, ts, event_id, event_type)`
    * stream — see the `path_topk` registry comment. `depth` is the
    * prefix length, `k` the report size; ties break (count DESC, path
    * ASC) deterministically. */
  def pathTopK(ev: DataFrame, depth: Int = 3, k: Int = 10): DataFrame = {
    require(depth >= 1 && depth <= 20, s"depth must be in [1, 20], got $depth")
    require(k >= 1, s"k must be positive, got $k")
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val paths = ev
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= depth) // plans Partial/Final WindowGroupLimit
      .groupBy(col("user_id"))
      .agg(expr("array_join(transform(array_sort(collect_list(" +
        "struct(rn, event_type))), x -> x.event_type), '>')").as("path"))
    val total = paths.agg(count(lit(1)).as("n_total"))
    paths.groupBy(col("path")).agg(count(lit(1)).as("n_users"))
      .crossJoin(broadcast(total))
      .selectExpr("path", "n_users", "n_users * 1000 div n_total AS share_pm")
      .orderBy(col("n_users").desc, col("path"))
      .limit(k)
  }

  /** Transition-lift mining of any (user_id, ts, event_id, event_type)
    * frame — see the `event_path_lift` registry comment for the lift
    * arithmetic and window-shape contracts. `minCount` prunes the pair
    * table before any join.
    */
  def transitionLift(ev: DataFrame, minCount: Long = 5L): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val trans = ev
      .withColumn("next_type", lead(col("event_type"), 1).over(userW))
      .filter(col("next_type").isNotNull)
      .selectExpr("event_type AS from_type", "next_type AS to_type")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairC = trans.groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_trans"))
      .filter(col("n_trans") >= minCount)
    val fromC = trans.groupBy(col("from_type")).agg(count(lit(1)).as("c_from"))
    val toC = trans.groupBy(col("to_type")).agg(count(lit(1)).as("c_to"))
    val tot = trans.agg(count(lit(1)).cast("decimal(38,0)").as("t"))
    pairC
      .join(broadcast(fromC), "from_type")
      .join(broadcast(toC), "to_type")
      .crossJoin(broadcast(tot))
      .selectExpr("from_type", "to_type", "n_trans", "c_from", "c_to",
        "CAST(CAST(n_trans AS DECIMAL(38,0)) * t * 1000000" +
          " div (CAST(c_from AS DECIMAL(38,0)) * c_to) AS BIGINT) AS lift_ppm")
      .transform(graft.Sorted.byNames(_, "from_type", "to_type"))
  }
}
