package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

import scala.collection.immutable.ListMap

/** Batch analytic core (SURVEY.md §2.8–2.9): scans, filters, joins of every
  * flavor, hash aggregation, rollup/cube/grouping sets, window functions,
  * top-k, set ops, scalar functions, JSON extraction.
  *
  * All queries are declarative DataFrame plans — Catalyst handles predicate
  * pushdown, column pruning and join-strategy selection; small dimensions are
  * explicitly `broadcast()` so the 100 TB plan has no shuffle on the dim side.
  */
object Analytics {

  /** Quantize a per-row double expression to an exact decimal so the SUM is
    * order-independent, then the caller casts the aggregate back to double. */
  private def dec2(c: Column): Column = c.cast(DecimalType(18, 2))
  private def dec6(c: Column): Column = c.cast(DecimalType(28, 6))
  private def dsum2(c: Column): Column = sum(dec2(c)).cast(DoubleType)
  private def dsum6(c: Column): Column = sum(dec6(c)).cast(DoubleType)

  val defs: ListMap[String, QueryDef] = ListMap(

    // ---- TPC-H Q1 style pricing summary: full-scan hash agg with partial
    // (map-side) aggregation; groups tiny => single reduce. -----------------
    "q1_pricing_summary" -> QueryDef(
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
        li.filter(col("l_shipdate") <= lit("2000-06-30").cast(TimestampType))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            dsum2(col("l_quantity")).as("sum_qty"),
            dsum2(col("l_extendedprice")).as("sum_base_price"),
            dsum6(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
            dsum6(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
            (dsum2(col("l_quantity")) / count(lit(1))).as("avg_qty"),
            (dsum2(col("l_extendedprice")) / count(lit(1))).as("avg_price"),
            (dsum6(col("l_discount")) / count(lit(1))).as("avg_disc"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS sum_disc_price,
        | CAST(SUM(CAST(l_extendedprice*(1.0-l_discount)*(1.0+l_tax) AS DECIMAL(28,6))) AS DOUBLE) AS sum_charge,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)/COUNT(*) AS avg_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)/COUNT(*) AS avg_price,
        | CAST(SUM(CAST(l_discount AS DECIMAL(28,6))) AS DOUBLE)/COUNT(*) AS avg_disc,
        | COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-06-30'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // ---- top-k: agg + TakeOrderedAndProject (no full sort at scale) --------
    "q2_revenue_topk" -> QueryDef(
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
        li.groupBy(col("l_orderkey"))
          .agg(dsum6(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey"))
          .limit(10)
      },
      """SELECT l_orderkey,
        | CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM lineitem GROUP BY l_orderkey
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin),

    // ---- 3-way join + agg. Pre-aggregate revenue PER ORDER first (600 k
    // lineitems -> 150 k order rows, combiner-friendly partial agg), then
    // join orders co-partitioned on orderkey: after the pre-agg every order
    // is one row, so n_orders is a plain count — the alternative
    // countDistinct(o_orderkey) keeps per-key distinct state over every
    // joined lineitem row through both aggregation phases. Decimal stays
    // decimal across both stages (exact, order-independent); only the
    // final aggregate casts to double, so the value is identical to the
    // flat per-row sum the oracle computes. ---------------------------------
    "q3_segment_revenue" -> QueryDef(
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
        val o = Tables.load(s, dir, "orders")
        val c = Tables.load(s, dir, "customer")
        val perOrder = li.groupBy(col("l_orderkey"))
          .agg(sum(dec6(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .as("order_rev"))
        perOrder.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(sum(col("order_rev")).cast(DoubleType).as("revenue"),
            count(lit(1)).as("n_orders"))
          .orderBy("c_mktsegment")
      },
      """SELECT c_mktsegment,
        | CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
        | COUNT(DISTINCT o_orderkey) AS n_orders
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    // ---- left-semi join (EXISTS) ------------------------------------------
    "q4_exists_semi" -> QueryDef(
      (s, dir) => {
        val o = Tables.load(s, dir, "orders")
        val li = Tables.load(s, dir, "lineitem")
        o.join(li,
            col("o_orderkey") === col("l_orderkey") && col("l_shipdate") > col("o_orderdate"),
            "left_semi")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("order_count"))
          .orderBy("o_orderpriority")
      },
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders WHERE EXISTS (
        |  SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // ---- left-anti join (NOT EXISTS) --------------------------------------
    "q5_anti_join" -> QueryDef(
      (s, dir) => {
        val c = Tables.load(s, dir, "customer")
        val o = Tables.load(s, dir, "orders")
        c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_customers_no_orders"))
          .orderBy("c_mktsegment")
      },
      """SELECT c_mktsegment, COUNT(*) AS n_customers_no_orders
        |FROM customer WHERE NOT EXISTS (
        |  SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    // ---- TPC-H Q6 style selective filter + scalar agg (predicate pushdown
    // to parquet scan) ------------------------------------------------------
    "q6_forecast_revenue" -> QueryDef(
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
        li.filter(
            col("l_shipdate") >= lit("1998-01-01").cast(TimestampType) &&
            col("l_shipdate") < lit("1999-01-01").cast(TimestampType) &&
            col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
          .agg(
            dsum6(col("l_extendedprice") * col("l_discount")).as("revenue"),
            count(lit(1)).as("n_rows"))
      },
      """SELECT
        | CAST(SUM(CAST(l_extendedprice*l_discount AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1999-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin),

    // ---- 5-way star join: li⋈supplier⋈customer-orders⋈nation⋈region, dims
    // broadcast --------------------------------------------------------------
    "q5_region_revenue" -> QueryDef(
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
        val o = Tables.load(s, dir, "orders")
        val sup = Tables.load(s, dir, "supplier")
        val n = Tables.load(s, dir, "nation")
        val r = Tables.load(s, dir, "region")
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(dsum6(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
          .orderBy("r_name", "n_name")
      },
      """SELECT r_name, n_name,
        | CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin),

    // ---- window: rank within partition, top-3 per group -------------------
    "q7_window_rank" -> QueryDef(
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
        val p = Tables.load(s, dir, "part")
        val rev = li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"), col("p_partkey"))
          .agg(dsum6(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        val w = Window.partitionBy(col("p_brand"))
          .orderBy(col("revenue").desc, col("p_partkey"))
        rev.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .transform(graft.Sorted.byNames(_, "p_brand", "rn"))
      },
      """WITH rev AS (
        |  SELECT p_brand, p_partkey,
        |   CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY p_brand, p_partkey)
        |SELECT * FROM (
        |  SELECT p_brand, p_partkey, revenue,
        |    ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY revenue DESC, p_partkey) AS rn
        |  FROM rev) WHERE rn <= 3 ORDER BY p_brand, rn""".stripMargin),

    // ---- window: running total over ordered frames ------------------------
    // Decomposed global cumsum: a partition-less Window.orderBy plans a
    // single-partition WindowExec (fine over a calendar-bounded daily frame,
    // but it logs the "No Partition Defined" warning and serializes the
    // stage). Instead: within-YEAR running total (partitions ≤366 rows at
    // any data scale) + a per-year prefix offset from a broadcast self-join
    // on the tiny year frame. Decimal addition is exact and associative, so
    // the split is bit-identical to the global window.
    "q8_running_total" -> QueryDef(
      (s, dir) => {
        val o = Tables.load(s, dir, "orders")
        val daily = o.groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("dt"))
          .agg(sum(dec2(col("o_totalprice"))).as("daily_dec"))
          .withColumn("yr", substring(col("dt"), 1, 4))
        val wy = Window.partitionBy(col("yr")).orderBy(col("dt"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val inYr = daily.withColumn("cum_yr", sum(col("daily_dec")).over(wy))
        val yrTot = daily.groupBy(col("yr")).agg(sum(col("daily_dec")).as("yt"))
        val off = yrTot.as("a")
          .join(broadcast(yrTot.as("b")), col("b.yr") < col("a.yr"), "left")
          .groupBy(col("a.yr").as("yr")).agg(sum(col("b.yt")).as("off"))
        inYr.join(broadcast(off), Seq("yr"))
          .select(col("dt"),
            col("daily_dec").cast(DoubleType).as("daily_total"),
            (coalesce(col("off"), lit(0)) + col("cum_yr")).cast(DoubleType).as("cum_total"))
          .orderBy("dt")
      },
      """WITH daily AS (
        |  SELECT strftime(o_orderdate, '%Y-%m-%d') AS dt,
        |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS daily_dec
        |  FROM orders GROUP BY 1)
        |SELECT dt, CAST(daily_dec AS DOUBLE) AS daily_total,
        |  CAST(SUM(daily_dec) OVER (ORDER BY dt ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_total
        |FROM daily ORDER BY dt""".stripMargin),

    // ---- window: lag/lead over customer order history ---------------------
    "q9_lag_lead" -> QueryDef(
      (s, dir) => {
        val o = Tables.load(s, dir, "orders")
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        o.select(
            col("o_custkey"), col("o_orderkey"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("dt"),
            col("o_totalprice"),
            lag(col("o_totalprice"), 1).over(w).as("prev_price"),
            lead(col("o_totalprice"), 1).over(w).as("next_price"),
            datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(w)).as("days_since_prev"))
          .orderBy("o_custkey", "o_orderkey")
      },
      """SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS dt, o_totalprice,
        | LAG(o_totalprice) OVER w AS prev_price,
        | LEAD(o_totalprice) OVER w AS next_price,
        | CAST(date_diff('day', LAG(o_orderdate) OVER w, o_orderdate) AS INT) AS days_since_prev
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),

    // ---- rollup ------------------------------------------------------------
    "q10_rollup" -> QueryDef(
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
        li.rollup(col("l_returnflag"), col("l_linestatus"))
          .agg(dsum2(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
          .select(
            coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
            coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
            col("sum_qty"), col("n"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      """SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag,
        |       COALESCE(l_linestatus, 'ALL') AS l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, COUNT(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // ---- cube --------------------------------------------------------------
    "q11_cube" -> QueryDef(
      (s, dir) => {
        val o = Tables.load(s, dir, "orders")
        o.cube(col("o_orderstatus"), col("o_orderpriority"))
          .agg(count(lit(1)).as("n"), dsum2(col("o_totalprice")).as("total"))
          .select(
            coalesce(col("o_orderstatus"), lit("ALL")).as("o_orderstatus"),
            coalesce(col("o_orderpriority"), lit("ALL")).as("o_orderpriority"),
            col("n"), col("total"))
          .orderBy("o_orderstatus", "o_orderpriority")
      },
      """SELECT COALESCE(o_orderstatus, 'ALL') AS o_orderstatus,
        |       COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
        | COUNT(*) AS n, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin),

    // ---- grouping sets (SQL surface) --------------------------------------
    "q12_grouping_sets" -> QueryDef(
      (s, dir) => {
        Tables.load(s, dir, "lineitem").createOrReplaceTempView("gs_lineitem")
        s.sql(
          """SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag,
            |       COALESCE(l_linestatus, 'ALL') AS l_linestatus,
            | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
            |FROM gs_lineitem
            |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
            |ORDER BY l_returnflag, l_linestatus""".stripMargin)
      },
      """SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag,
        |       COALESCE(l_linestatus, 'ALL') AS l_linestatus,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // ---- distinct aggregation ---------------------------------------------
    "q13_distinct_agg" -> QueryDef(
      (s, dir) => {
        val o = Tables.load(s, dir, "orders")
        o.groupBy(col("o_orderpriority"))
          .agg(
            count(lit(1)).as("n_orders"),
            countDistinct(col("o_custkey")).as("n_customers"),
            countDistinct(date_format(col("o_orderdate"), "yyyy").as("yr")).as("n_years"))
          .orderBy("o_orderpriority")
      },
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        | COUNT(DISTINCT o_custkey) AS n_customers,
        | COUNT(DISTINCT strftime(o_orderdate, '%Y')) AS n_years
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // ---- set operations ----------------------------------------------------
    "q14_set_ops" -> QueryDef(
      (s, dir) => {
        val o = Tables.load(s, dir, "orders")
        def custIn(year: String): DataFrame =
          o.filter(date_format(col("o_orderdate"), "yyyy") === year)
            .select(col("o_custkey")).distinct()
        val both = custIn("1997").intersect(custIn("1998")).withColumn("tag", lit("both"))
        val only97 = custIn("1997").except(custIn("1998")).withColumn("tag", lit("only_1997"))
        val only98 = custIn("1998").except(custIn("1997")).withColumn("tag", lit("only_1998"))
        both.union(only97).union(only98)
          .select(col("tag"), col("o_custkey"))
          .orderBy("tag", "o_custkey")
      },
      """WITH c97 AS (SELECT DISTINCT o_custkey FROM orders WHERE strftime(o_orderdate,'%Y')='1997'),
        |     c98 AS (SELECT DISTINCT o_custkey FROM orders WHERE strftime(o_orderdate,'%Y')='1998')
        |SELECT 'both' AS tag, o_custkey FROM (SELECT o_custkey FROM c97 INTERSECT SELECT o_custkey FROM c98)
        |UNION ALL
        |SELECT 'only_1997', o_custkey FROM (SELECT o_custkey FROM c97 EXCEPT SELECT o_custkey FROM c98)
        |UNION ALL
        |SELECT 'only_1998', o_custkey FROM (SELECT o_custkey FROM c98 EXCEPT SELECT o_custkey FROM c97)
        |ORDER BY tag, o_custkey""".stripMargin),

    // ---- conditional aggregation (CASE WHEN inside agg) -------------------
    "q15_conditional_agg" -> QueryDef(
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
        val p = Tables.load(s, dir, "part")
        li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .groupBy(col("l_returnflag"))
          .agg(
            dsum6(when(col("p_size") < 25, col("l_extendedprice") * (lit(1.0) - col("l_discount"))).otherwise(lit(0.0))).as("small_rev"),
            dsum6(when(col("p_size") >= 25, col("l_extendedprice") * (lit(1.0) - col("l_discount"))).otherwise(lit(0.0))).as("large_rev"),
            count(when(col("p_size") < 25, lit(1))).as("n_small"))
          .orderBy("l_returnflag")
      },
      """SELECT l_returnflag,
        | CAST(SUM(CAST(CASE WHEN p_size < 25 THEN l_extendedprice*(1.0-l_discount) ELSE 0.0 END AS DECIMAL(28,6))) AS DOUBLE) AS small_rev,
        | CAST(SUM(CAST(CASE WHEN p_size >= 25 THEN l_extendedprice*(1.0-l_discount) ELSE 0.0 END AS DECIMAL(28,6))) AS DOUBLE) AS large_rev,
        | COUNT(CASE WHEN p_size < 25 THEN 1 END) AS n_small
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // ---- scalar function surface (strings, math, dates) -------------------
    "q16_scalar_fns" -> QueryDef(
      (s, dir) => {
        val n = Tables.load(s, dir, "nation")
        n.select(
            col("n_nationkey"),
            upper(col("n_name")).as("up"),
            lower(col("n_name")).as("lo"),
            substring(col("n_name"), 1, 3).as("pfx"),
            length(col("n_name")).as("len"),
            concat_ws("-", col("n_name"), col("n_regionkey")).as("joined"),
            reverse(col("n_name")).as("rev"),
            lpad(col("n_name"), 12, "*").as("padded"),
            regexp_replace(col("n_name"), "[aeiou]", "_").as("devowel"),
            (col("n_nationkey") % 5).as("mod5"),
            abs(col("n_nationkey") - lit(12)).as("absdiff"),
            sqrt(col("n_nationkey").cast(DoubleType)).as("sq"),
            floor(col("n_nationkey") / 3.0).cast(LongType).as("flr"),
            ceil(col("n_nationkey") / 3.0).cast(LongType).as("cl"))
          .orderBy("n_nationkey")
      },
      """SELECT n_nationkey,
        | UPPER(n_name) AS up, LOWER(n_name) AS lo,
        | SUBSTRING(n_name, 1, 3) AS pfx, LENGTH(n_name) AS len,
        | CONCAT_WS('-', n_name, CAST(n_regionkey AS VARCHAR)) AS joined,
        | REVERSE(n_name) AS rev, LPAD(n_name, 12, '*') AS padded,
        | REGEXP_REPLACE(n_name, '[aeiou]', '_', 'g') AS devowel,
        | n_nationkey % 5 AS mod5, ABS(n_nationkey - 12) AS absdiff,
        | SQRT(CAST(n_nationkey AS DOUBLE)) AS sq,
        | CAST(FLOOR(n_nationkey / 3.0) AS BIGINT) AS flr,
        | CAST(CEIL(n_nationkey / 3.0) AS BIGINT) AS cl
        |FROM nation ORDER BY n_nationkey""".stripMargin),

    // ---- JSON extraction over events.props --------------------------------
    "q17_json_extract" -> QueryDef(
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        ev.select(col("event_type"),
            get_json_object(col("props"), "$.k").cast(LongType).as("k"))
          .groupBy(col("event_type"))
          .agg(sum(col("k")).as("sum_k"), max(col("k")).as("max_k"),
            count(col("k")).as("n_k"))
          .orderBy("event_type")
      },
      """SELECT event_type,
        | CAST(SUM(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
        | CAST(MAX(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)) AS BIGINT) AS max_k,
        | COUNT(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)) AS n_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // ---- explode / generator: token frequencies ---------------------------
    "q18_explode_tokens" -> QueryDef(
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        d.select(explode(expr(graft.functions.Portable.tokensSql("text"))).as("token"))
          .groupBy(col("token")).agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("token"))
          .limit(20)
      },
      """SELECT token, COUNT(*) AS n FROM (
        |  SELECT unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS token
        |  FROM documents)
        |WHERE LENGTH(token) > 0
        |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin),

    // ---- TPC-H Q13 style: outer join + distribution of counts ------------
    "q20_cust_distribution" -> QueryDef(
      (s, dir) => {
        val c = Tables.load(s, dir, "customer")
        val o = Tables.load(s, dir, "orders")
        val perCust = c.join(o, col("c_custkey") === col("o_custkey"), "left")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("c_count"))
        perCust.groupBy(col("c_count"))
          .agg(count(lit(1)).as("custdist"))
          .orderBy(col("custdist").desc, col("c_count").desc)
      },
      """SELECT c_count, COUNT(*) AS custdist FROM (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin),

    // ---- correlated scalar subquery (Catalyst decorrelation): parts whose
    // total shipped quantity exceeds 50% of a correlated average ------------
    "q21_correlated_subquery" -> QueryDef(
      (s, dir) => {
        Tables.load(s, dir, "lineitem").createOrReplaceTempView("cs_lineitem")
        Tables.load(s, dir, "part").createOrReplaceTempView("cs_part")
        s.sql(
          """SELECT p_partkey, p_brand
            |FROM cs_part
            |WHERE p_retailprice > (
            |  SELECT 2.0 * CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
            |  FROM cs_lineitem WHERE l_partkey = p_partkey)
            |ORDER BY p_partkey""".stripMargin)
      },
      """SELECT p_partkey, p_brand
        |FROM part
        |WHERE p_retailprice > (
        |  SELECT 2.0 * CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
        |  FROM lineitem WHERE l_partkey = p_partkey)
        |ORDER BY p_partkey""".stripMargin),

    // ---- TPC-H Q22 style: uncorrelated scalar subquery + anti join --------
    "q22_global_avg_anti" -> QueryDef(
      (s, dir) => {
        val c = Tables.load(s, dir, "customer")
        val o = Tables.load(s, dir, "orders")
        val globalAvg = c.filter(col("c_acctbal") > 0)
          .agg((sum(dec2(col("c_acctbal"))).cast(DoubleType) / count(lit(1))).as("a"))
        c.join(broadcast(globalAvg))
          .filter(col("c_acctbal") > col("a"))
          .join(o, col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_rich_inactive"),
            dsum2(col("c_acctbal")).as("total_bal"))
          .orderBy("c_mktsegment")
      },
      """WITH g AS (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS a
        |  FROM customer WHERE c_acctbal > 0)
        |SELECT c_mktsegment, COUNT(*) AS n_rich_inactive,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer, g
        |WHERE c_acctbal > g.a
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    // ---- IN-subquery with aggregate HAVING (semi-join after agg) ----------
    "q23_in_subquery" -> QueryDef(
      (s, dir) => {
        Tables.load(s, dir, "lineitem").createOrReplaceTempView("in_lineitem")
        Tables.load(s, dir, "orders").createOrReplaceTempView("in_orders")
        s.sql(
          """SELECT o_orderpriority, COUNT(*) AS n
            |FROM in_orders
            |WHERE o_orderkey IN (
            |  SELECT l_orderkey FROM in_lineitem
            |  GROUP BY l_orderkey HAVING COUNT(*) >= 5)
            |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
      },
      """SELECT o_orderpriority, COUNT(*) AS n
        |FROM orders
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem
        |  GROUP BY l_orderkey HAVING COUNT(*) >= 5)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // ---- full outer join: per-nation customer/supplier presence ----------
    "q24_full_outer" -> QueryDef(
      (s, dir) => {
        val c = Tables.load(s, dir, "customer")
          .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_cust"))
        val sup = Tables.load(s, dir, "supplier")
          .groupBy(col("s_nationkey")).agg(count(lit(1)).as("n_supp"))
        c.join(sup, col("c_nationkey") === col("s_nationkey"), "full_outer")
          .select(
            coalesce(col("c_nationkey"), col("s_nationkey")).as("nationkey"),
            coalesce(col("n_cust"), lit(0L)).as("n_cust"),
            coalesce(col("n_supp"), lit(0L)).as("n_supp"))
          .orderBy("nationkey")
      },
      """SELECT COALESCE(c.c_nationkey, s.s_nationkey) AS nationkey,
        | COALESCE(c.n_cust, 0) AS n_cust, COALESCE(s.n_supp, 0) AS n_supp
        |FROM (SELECT c_nationkey, COUNT(*) AS n_cust FROM customer GROUP BY 1) c
        |FULL OUTER JOIN (SELECT s_nationkey, COUNT(*) AS n_supp FROM supplier GROUP BY 1) s
        |  ON c.c_nationkey = s.s_nationkey
        |ORDER BY nationkey""".stripMargin),

    // ---- exact percentiles (interpolated), per group. Both fractions go
    // through ONE percentile(col, array(...)) call: the sort-based
    // aggregation buffers each group's values once instead of twice — at
    // 100 TB the buffered-values state is the whole cost of an exact
    // percentile, so halving it matters more than anything else here. ------
    "q25_percentiles" -> QueryDef(
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
        li.groupBy(col("l_returnflag"))
          .agg(
            expr("percentile(l_extendedprice, array(0.5D, 0.9D))").as("pcts"),
            min(col("l_extendedprice")).as("min_price"),
            max(col("l_extendedprice")).as("max_price"))
          .selectExpr("l_returnflag", "pcts[0] AS median_price",
            "pcts[1] AS p90_price", "min_price", "max_price")
          .orderBy("l_returnflag")
      },
      """SELECT l_returnflag,
        | quantile_cont(l_extendedprice, 0.5) AS median_price,
        | quantile_cont(l_extendedprice, 0.9) AS p90_price,
        | MIN(l_extendedprice) AS min_price, MAX(l_extendedprice) AS max_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // ---- string aggregation (sorted for determinism) ----------------------
    "q26_string_agg" -> QueryDef(
      (s, dir) => {
        val n = Tables.load(s, dir, "nation")
        val r = Tables.load(s, dir, "region")
        n.join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"))
          .agg(concat_ws(",", array_sort(collect_list(col("n_name")))).as("nations"),
            count(lit(1)).as("n_nations"))
          .orderBy("r_name")
      },
      """SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations,
        | COUNT(*) AS n_nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin),

    // ---- first_value / last_value window frames ---------------------------
    "q27_first_last" -> QueryDef(
      (s, dir) => {
        val o = Tables.load(s, dir, "orders")
        val w = Window
          .partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        o.select(col("o_custkey"), col("o_orderkey"),
            first(col("o_totalprice")).over(w).as("first_price"),
            last(col("o_totalprice")).over(w).as("last_price"),
            count(lit(1)).over(w).as("n_orders"))
          .orderBy("o_custkey", "o_orderkey")
      },
      """SELECT o_custkey, o_orderkey,
        | FIRST_VALUE(o_totalprice) OVER w AS first_price,
        | LAST_VALUE(o_totalprice) OVER w AS last_price,
        | COUNT(*) OVER w AS n_orders
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),

    // ---- time-RANGE window frame: trailing-7-day revenue per day (RANGE
    // BETWEEN frames over event-time seconds, vs q8's ROWS frame). The
    // range window is partitioned by YEAR (calendar-bounded partitions, no
    // single-partition WindowExec); the only rows a year partition clips are
    // the first six days of each year, whose missing prior-year tail is
    // restored by a broadcast join against the (tiny) daily frame. Decimal
    // sums are exact, so the decomposition is bit-identical to a global
    // range window. -------------------------------------------------------
    "q29_trailing_window" -> QueryDef(
      (s, dir) => {
        val o = Tables.load(s, dir, "orders")
        // persisted: the slim daily frame (calendar-bounded) feeds the
        // in-year window, the boundary-fix broadcast AND the year-head
        // probe — without the persist each broadcast build re-runs the
        // orders scan + aggregation (round 16; the Sorted/persist rule)
        val daily = o.groupBy(col("o_orderdate"))
          .agg(sum(dec2(col("o_totalprice"))).as("daily_dec"))
          .withColumn("t_sec", col("o_orderdate").cast("timestamp").cast("long"))
          .withColumn("y0_sec", trunc(col("o_orderdate"), "year").cast("timestamp").cast("long"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val wy = Window.partitionBy(col("y0_sec")).orderBy(col("t_sec"))
          .rangeBetween(-6L * 86400L, 0L) // trailing 7 calendar days inclusive
        val inYr = daily.withColumn("trail_yr", sum(col("daily_dec")).over(wy))
        // year-head rows (offsets 0..5 from Jan 1) reach back across the
        // boundary: pick up prior-year days in [t-6d, Jan 1) from a
        // broadcast of the slim daily frame
        val fix = inYr.filter(col("t_sec") - col("y0_sec") < 6L * 86400L)
          .select(col("o_orderdate"), col("t_sec"), col("y0_sec"))
          .as("a")
          .join(broadcast(daily.select(col("t_sec").as("b_sec"), col("daily_dec").as("b_dec"))),
            col("b_sec") >= col("t_sec") - lit(6L * 86400L) && col("b_sec") < col("y0_sec"))
          .groupBy(col("a.o_orderdate")).agg(sum(col("b_dec")).as("tail_dec"))
        inYr.join(broadcast(fix), Seq("o_orderdate"), "left")
          .select(
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("dt"),
            col("daily_dec").cast(DoubleType).as("daily_total"),
            (col("trail_yr") + coalesce(col("tail_dec"), lit(0))).cast(DoubleType).as("trailing_7d"))
          .orderBy("dt")
      },
      """WITH daily AS (
        |  SELECT o_orderdate, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS daily_dec
        |  FROM orders GROUP BY 1)
        |SELECT strftime(o_orderdate, '%Y-%m-%d') AS dt,
        |  CAST(daily_dec AS DOUBLE) AS daily_total,
        |  CAST(SUM(daily_dec) OVER (ORDER BY o_orderdate
        |    RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS trailing_7d
        |FROM daily ORDER BY dt""".stripMargin),

    // ---- range/interval join (batch analog of the stream interval join):
    // equi key + time-range predicate ---------------------------------------
    "q19_interval_join" -> QueryDef(
      (s, dir) => {
        val o = Tables.load(s, dir, "orders")
        val li = Tables.load(s, dir, "lineitem")
        o.join(li,
            col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") >= col("o_orderdate") &&
            col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 120 DAYS"))
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_shipped_120d"),
            dsum6(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
          .orderBy("o_orderstatus")
      },
      """SELECT o_orderstatus, COUNT(*) AS n_shipped_120d,
        | CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM orders JOIN lineitem
        |  ON o_orderkey = l_orderkey
        | AND l_shipdate >= o_orderdate
        | AND l_shipdate <= o_orderdate + INTERVAL 120 DAY
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // ---- correlated scalar subquery (TPC-H Q17 shape, adapted to the
    // fixture's part columns): small-order revenue for one brand, where
    // "small" is per-part — below 20% of that part's average quantity.
    // Catalyst DECORRELATES this into a per-part aggregate joined back
    // (asserted in PlanAuditSpec): the 100 TB plan is two scans + one join,
    // never a per-row subquery execution. avg(l_quantity) is an exact
    // integral sum over an exact count with one IEEE divide, so the 0.2 *
    // avg threshold is bit-identical across engines. ------------------------
    "q30_correlated_sub" -> QueryDef(
      (s, dir) => {
        Tables.load(s, dir, "lineitem").createOrReplaceTempView("cs_lineitem")
        Tables.load(s, dir, "part").createOrReplaceTempView("cs_part")
        s.sql(
          """SELECT COUNT(*) AS n_small_orders,
            |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0D AS avg_yearly
            |FROM cs_lineitem, cs_part
            |WHERE p_partkey = l_partkey AND p_brand = 'Brand#4'
            |  AND l_quantity < (SELECT 0.2D * avg(l_quantity)
            |                    FROM cs_lineitem l2 WHERE l2.l_partkey = cs_lineitem.l_partkey)
            |""".stripMargin)
      },
      """SELECT COUNT(*) AS n_small_orders,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
        |FROM lineitem, part
        |WHERE p_partkey = l_partkey AND p_brand = 'Brand#4'
        |  AND l_quantity < (SELECT 0.2 * avg(l_quantity)
        |                    FROM lineitem l2 WHERE l2.l_partkey = lineitem.l_partkey)""".stripMargin)
  )
}
