package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.collection.immutable.ListMap

/** Grouped time-series feature extraction — the batch feature-engineering
  * step behind `q6_forecast_revenue`'s single-series forecast, generalized
  * to one feature row PER GROUP (market segment) over its monthly revenue
  * series: length, total, mean, and least-squares trend slope.
  *
  * Scale shape: two partial+final aggregations — (seg, month) then seg —
  * and nothing else; the regression slope comes from the closed-form
  * normal equation over exact integer sums, so no per-group sort, no
  * window, no iteration. Group cardinality is bounded (segments), month
  * index is bounded by the calendar: the second aggregate is trivially
  * small at any corpus size.
  *
  * Cross-engine parity (QueryDef rules): revenue is quantized per month to
  * INT64 CENTS (exact, order-independent sums); Σx, Σx², Σ(x·y) are exact
  * BIGINT sums; the final mean/slope cast those exact sums to DOUBLE and
  * combine them in a fixed expression order — IEEE arithmetic on identical
  * inputs, bit-identical across engines. */
object TimeSeries {

  /** THE `(seg, m, rev_c)` monthly series every row here starts from:
    * orders joined to customer, month index m = year·12 + month, revenue
    * summed per (seg, m) in exact DECIMAL and quantized to int64 cents.
    * `withMoy` adds the calendar month of year as a third key
    * (ts_seasonality). One partial+final aggregation; callers that read
    * the frame twice persist it. */
  private def monthlyRevenue(s: SparkSession, dir: String,
      withMoy: Boolean = false): DataFrame = {
    val keys = Seq("seg", "m") ++ (if (withMoy) Seq("moy") else Nil)
    Tables.load(s, dir, "orders")
      .join(Tables.load(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .selectExpr(Seq("c_mktsegment AS seg",
        "CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS m") ++
        (if (withMoy) Seq("CAST(month(o_orderdate) AS BIGINT) AS moy") else Nil) :+
        "CAST(o_totalprice AS DECIMAL(18,2)) AS p": _*)
      .groupBy(keys.map(col): _*)
      .agg(expr("CAST(SUM(p) * 100 AS BIGINT)").as("rev_c"))
  }

  /** The DuckDB twin of [[monthlyRevenue]]: the `monthly` CTE. */
  private def duckMonthly(withMoy: Boolean = false): String =
    s"""monthly AS (
       |  SELECT c_mktsegment AS seg,
       |    CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS m,${
         if (withMoy) "\n    CAST(month(o_orderdate) AS BIGINT) AS moy," else ""}
       |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS rev_c
       |  FROM orders JOIN customer ON o_custkey = c_custkey
       |  GROUP BY ${if (withMoy) "1, 2, 3" else "1, 2"})""".stripMargin

  val defs: ListMap[String, QueryDef] = ListMap(

    // ---- per-segment monthly revenue features: n, total, mean, slope ------
    "ts_features" -> QueryDef(
      (s, dir) => {
        val monthly = monthlyRevenue(s, dir)
        monthly.groupBy("seg")
          .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_months"),
            expr("SUM(m)").as("sx"), expr("SUM(m * m)").as("sxx"),
            expr("SUM(rev_c)").as("sy"), expr("SUM(m * rev_c)").as("sxy"))
          .selectExpr("seg", "n_months",
            "CAST(sy AS DOUBLE) / 100.0 AS total_rev",
            "CAST(sy AS DOUBLE) / 100.0 / n_months AS mean_monthly_rev",
            // n_months == 1 makes the normal-equation denominator exactly
            // zero (m^2 - m^2): guard to slope 0 instead of NaN/engine-
            // dependent division-by-zero (review find)
            """CASE WHEN n_months > 1 THEN
              |  (CAST(n_months AS DOUBLE) * CAST(sxy AS DOUBLE)
              |   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              |  / (CAST(n_months AS DOUBLE) * CAST(sxx AS DOUBLE)
              |   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / 100.0
              |ELSE CAST(0 AS DOUBLE) END AS slope_per_month""".stripMargin)
          .orderBy("seg")
      },
      s"""WITH ${duckMonthly()}
        |SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_months,
        |  CAST(CAST(SUM(rev_c) AS BIGINT) AS DOUBLE) / 100.0 AS total_rev,
        |  CAST(CAST(SUM(rev_c) AS BIGINT) AS DOUBLE) / 100.0 / CAST(COUNT(*) AS BIGINT) AS mean_monthly_rev,
        |  CASE WHEN COUNT(*) > 1 THEN
        |    (CAST(COUNT(*) AS DOUBLE) * CAST(CAST(SUM(m * rev_c) AS BIGINT) AS DOUBLE)
        |      - CAST(CAST(SUM(m) AS BIGINT) AS DOUBLE) * CAST(CAST(SUM(rev_c) AS BIGINT) AS DOUBLE))
        |    / (CAST(COUNT(*) AS DOUBLE) * CAST(CAST(SUM(m * m) AS BIGINT) AS DOUBLE)
        |      - CAST(CAST(SUM(m) AS BIGINT) AS DOUBLE) * CAST(CAST(SUM(m) AS BIGINT) AS DOUBLE)) / 100.0
        |  ELSE 0.0 END AS slope_per_month
        |FROM monthly GROUP BY seg ORDER BY seg""".stripMargin),

    // ---- per-segment next-month OLS forecast ------------------------------
    // ŷ(t+1) = a + b·(max_month + 1) from the SAME closed-form sums as
    // ts_features — features→forecast with no second corpus pass beyond
    // the (seg, month) agg. Parity: b, a, ŷ are three double expressions
    // written identically on both engines over exact BIGINT sums; no
    // float accumulation anywhere. ----------------------------------------
    "ts_forecast_grouped" -> QueryDef(
      (s, dir) => {
        val monthly = monthlyRevenue(s, dir)
        monthly.groupBy("seg")
          .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n"),
            expr("SUM(m)").as("sx"), expr("SUM(m * m)").as("sxx"),
            expr("SUM(rev_c)").as("sy"), expr("SUM(m * rev_c)").as("sxy"),
            expr("MAX(m)").as("mx"))
          .selectExpr("seg", "n", "sx", "sy", "mx",
            // single-month segments get slope 0 (constant forecast), not a
            // 0/0 NaN — same guard as ts_features
            """CASE WHEN n > 1 THEN
              |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              |   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              |  / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              |   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              |ELSE CAST(0 AS DOUBLE) END AS b""".stripMargin)
          .selectExpr("seg", "mx + 1 AS target_month", "b",
            "(CAST(sy AS DOUBLE) - b * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS a")
          .selectExpr("seg", "target_month",
            "b / 100.0 AS slope_per_month",
            "(a + b * CAST(target_month AS DOUBLE)) / 100.0 AS forecast_rev")
          .orderBy("seg")
      },
      s"""WITH ${duckMonthly()},
        |sums AS (SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(m) AS BIGINT) AS sx, CAST(SUM(m * m) AS BIGINT) AS sxx,
        |    CAST(SUM(rev_c) AS BIGINT) AS sy, CAST(SUM(m * rev_c) AS BIGINT) AS sxy,
        |    MAX(m) AS mx
        |  FROM monthly GROUP BY seg),
        |bb AS (SELECT seg, n, sx, sy, mx,
        |    CASE WHEN n > 1 THEN
        |      (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |       / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |    ELSE 0.0 END AS b
        |  FROM sums),
        |aa AS (SELECT seg, mx + 1 AS target_month, b,
        |    (CAST(sy AS DOUBLE) - b * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS a
        |  FROM bb)
        |SELECT seg, target_month, b / 100.0 AS slope_per_month,
        |  (a + b * CAST(target_month AS DOUBLE)) / 100.0 AS forecast_rev
        |FROM aa ORDER BY seg""".stripMargin),

    // ---- per-segment month-of-year seasonality index ----------------------
    // idx(seg, moy) = avg revenue of calendar month moy across years
    //               / avg monthly revenue of the segment overall.
    // Scale shape: the same (seg, month) partial+final agg as ts_features,
    // one (seg, moy) fold (<= 12 rows/seg) and one seg fold (5 rows)
    // broadcast back. Parity: the index is computed as ONE double division
    // of two exact int64 products — (sum_m * n_all) / (n_m * sum_all) —
    // no intermediate float accumulation anywhere. Headroom: cent-sums
    // ~1e11 x 84 months stays far under 2^63. ------------------------------
    "ts_seasonality" -> QueryDef(
      (s, dir) => {
        val monthly = monthlyRevenue(s, dir, withMoy = true)
          .persist(StorageLevel.MEMORY_AND_DISK)
        val perMoy = monthly.groupBy("seg", "moy")
          .agg(sum(col("rev_c")).as("sum_m"), count(lit(1)).as("n_m"))
        val perSeg = monthly.groupBy("seg")
          .agg(sum(col("rev_c")).as("sum_all"), count(lit(1)).as("n_all"))
        // lazy result — monthly cache feeds both aggs (harness clears it)
        perMoy.join(broadcast(perSeg), "seg")
          .selectExpr("seg", "moy", "n_m AS n_months",
            "CAST(sum_m * n_all AS DOUBLE) / (n_m * sum_all) AS seasonal_idx")
          .orderBy("seg", "moy")
      },
      s"""WITH ${duckMonthly(withMoy = true)},
        |per_moy AS (SELECT seg, moy, CAST(SUM(rev_c) AS BIGINT) AS sum_m,
        |    COUNT(*) AS n_m FROM monthly GROUP BY seg, moy),
        |per_seg AS (SELECT seg, CAST(SUM(rev_c) AS BIGINT) AS sum_all,
        |    COUNT(*) AS n_all FROM monthly GROUP BY seg)
        |SELECT seg, moy, n_m AS n_months,
        |  CAST(sum_m * n_all AS DOUBLE) / (n_m * sum_all) AS seasonal_idx
        |FROM per_moy JOIN per_seg USING (seg)
        |ORDER BY seg, moy""".stripMargin),

    // ---- per-segment monthly anomaly flags: |y - mean| > 2 sigma ----------
    // Scale shape: the same (seg, month) partial+final agg as ts_features,
    // then per-seg stats (5 rows) BROADCAST back onto the monthly frame —
    // no window, no second corpus pass. Cross-engine parity: the z-test is
    // evaluated as the equivalent PURE-INTEGER inequality
    //   (n*y - S)^2 > 4 * (n*Q - S^2)      (z^2 > 4, scaled by n^2)
    // over exact cent sums, in DECIMAL(38,0) on Spark / HUGEINT in DuckDB —
    // (n*y)^2 exceeds int64 beyond sf0.01, so 128-bit integer headroom is
    // the at-scale design, not a convenience. No floats anywhere until the
    // presentation column.
    "ts_anomaly" -> QueryDef(
      (s, dir) => {
        val monthly = monthlyRevenue(s, dir)
          .persist(StorageLevel.MEMORY_AND_DISK)
        val stats = monthly.groupBy("seg")
          .agg(expr("CAST(COUNT(*) AS DECIMAL(38,0))").as("n"),
            expr("CAST(SUM(rev_c) AS DECIMAL(38,0))").as("s_sum"),
            expr("SUM(CAST(rev_c AS DECIMAL(38,0)) * rev_c)").as("q_sum"))
        // lazy result — keep the monthly cache alive for execution (the
        // harness clears cache per query)
        monthly.join(broadcast(stats), "seg")
          .filter("""(n * rev_c - s_sum) * (n * rev_c - s_sum)
                    | > 4 * (n * q_sum - s_sum * s_sum)""".stripMargin)
          .selectExpr("seg", "m",
            "CAST(rev_c AS DOUBLE) / 100.0 AS rev",
            "CAST(CASE WHEN n * rev_c > s_sum THEN 1 ELSE -1 END AS INT) AS direction")
          .orderBy("seg", "m")
      },
      s"""WITH ${duckMonthly()},
        |stats AS (
        |  SELECT seg, CAST(COUNT(*) AS HUGEINT) AS n,
        |    CAST(SUM(rev_c) AS HUGEINT) AS s_sum,
        |    SUM(CAST(rev_c AS HUGEINT) * rev_c) AS q_sum
        |  FROM monthly GROUP BY seg)
        |SELECT seg, m, CAST(rev_c AS DOUBLE) / 100.0 AS rev,
        |  CAST(CASE WHEN n * rev_c > s_sum THEN 1 ELSE -1 END AS INT) AS direction
        |FROM monthly JOIN stats USING (seg)
        |WHERE (n * rev_c - s_sum) * (n * rev_c - s_sum)
        |    > 4 * (n * q_sum - s_sum * s_sum)
        |ORDER BY seg, m""".stripMargin),

    // ---- CUSUM changepoint (Page 1954, the AMOC estimator): per
    // segment, the month where the cumulative deviation from the series
    // mean peaks — the single most likely mean-shift point. Exact
    // integer algebra, no means materialized: D_i = n·prefix_i − i·total
    // (DECIMAL(38,0)/HUGEINT — a 100 TB month grid at cent precision
    // needs ~10^18·n headroom), changepoint = argmax |D_i| with
    // earliest-month tie-break; shift_dir = +1 when the mean shifts UP
    // at the changepoint (D < 0: early months run below the overall
    // mean). Scale shape: the corpus-volume work is the monthly
    // pre-aggregation; every window partitions BY SEG over the
    // months-per-segment frame (model-sized — never a corpus funnel),
    // stats broadcast back. -----------------------------------------------
    "ts_changepoint" -> QueryDef(
      (s, dir) => {
        val monthly = monthlyRevenue(s, dir)
          .persist(StorageLevel.MEMORY_AND_DISK)
        cusumChangepoint(monthly)
      },
      s"""WITH ${duckMonthly()},
        |stats AS (SELECT seg, CAST(COUNT(*) AS HUGEINT) AS n,
        |    CAST(SUM(rev_c) AS HUGEINT) AS tot
        |  FROM monthly GROUP BY seg),
        |cum AS (SELECT seg, m, n,
        |    n * SUM(CAST(rev_c AS HUGEINT)) OVER (PARTITION BY seg
        |      ORDER BY m ROWS UNBOUNDED PRECEDING)
        |    - ROW_NUMBER() OVER (PARTITION BY seg ORDER BY m) * tot AS d
        |  FROM monthly JOIN stats USING (seg)),
        |pick AS (SELECT seg, m, n, d, ROW_NUMBER() OVER (PARTITION BY seg
        |    ORDER BY abs(d) DESC, m) AS rn FROM cum)
        |SELECT seg, m AS cp_month, CAST(n AS BIGINT) AS n_months,
        |  CAST(abs(d) // n AS BIGINT) AS cusum_c,
        |  CAST(CASE WHEN d < 0 THEN 1 ELSE -1 END AS INT) AS shift_dir
        |FROM pick WHERE rn = 1 ORDER BY seg""".stripMargin),

    // ---- per-segment autocorrelation at lags 1..3 (Box & Jenkins): the
    // seasonality/momentum diagnostic a forecasting pass reads before
    // picking a model — acf(l) = Σ dev_i·dev_{i+l} / Σ dev_i², with
    // dev_i = n·x_i − total so no fractional mean ever materializes
    // (ts_changepoint's trick); every product/sum is exact
    // DECIMAL(38,0)/HUGEINT. The per-mille-style quotient is emitted with
    // EXPLICIT toward-zero sign decomposition (sign · (|num|·10⁶ div
    // den)) because the numerator can be negative and Spark's `div`
    // truncates while DuckDB's `//` floors — decomposing keeps every
    // division non-negative where the two agree. Headroom: dev² at cent
    // precision bounds ~1e34·10⁶ inside DECIMAL(38,0) up to ~1e15-cent
    // monthly revenues; past that, quantize the series to dollars first.
    // Scale shape: corpus-volume work is the (seg, month) pre-agg only;
    // the lead() windows partition BY SEG over the calendar-bounded month
    // grid (model-sized — never a corpus funnel), stats broadcast. --------
    "ts_acf" -> QueryDef(
      (s, dir) => {
        val monthly = monthlyRevenue(s, dir)
          .persist(StorageLevel.MEMORY_AND_DISK)
        tsAutocorrelation(monthly)
      },
      s"""WITH ${duckMonthly()},
        |stats AS (SELECT seg, CAST(COUNT(*) AS HUGEINT) AS n,
        |    CAST(SUM(rev_c) AS HUGEINT) AS tot
        |  FROM monthly GROUP BY seg),
        |dev AS (SELECT seg, m, CAST(n AS BIGINT) AS n_months,
        |    n * rev_c - tot AS dev
        |  FROM monthly JOIN stats USING (seg)),
        |lagged AS (SELECT seg, n_months, dev,
        |    LEAD(dev, 1) OVER (PARTITION BY seg ORDER BY m) AS dev_1,
        |    LEAD(dev, 2) OVER (PARTITION BY seg ORDER BY m) AS dev_2,
        |    LEAD(dev, 3) OVER (PARTITION BY seg ORDER BY m) AS dev_3
        |  FROM dev),
        |agg AS (SELECT seg, MAX(n_months) AS n_months,
        |    SUM(dev * dev) AS d0, SUM(dev * dev_1) AS num_1,
        |    SUM(dev * dev_2) AS num_2, SUM(dev * dev_3) AS num_3
        |  FROM lagged GROUP BY seg),
        |st AS (
        |  SELECT seg, n_months, d0, 1 AS lag, num_1 AS num FROM agg
        |  UNION ALL
        |  SELECT seg, n_months, d0, 2, num_2 FROM agg
        |  UNION ALL
        |  SELECT seg, n_months, d0, 3, num_3 FROM agg)
        |SELECT seg, CAST(lag AS INT) AS lag, n_months,
        |  CAST(CASE WHEN d0 = 0 THEN 0
        |       WHEN num >= 0 THEN num * 1000000 // d0
        |       ELSE -((-num) * 1000000 // d0) END AS BIGINT) AS acf_ppm
        |FROM st WHERE num IS NOT NULL ORDER BY seg, lag""".stripMargin)
  )

  /** Autocorrelation at lags 1..`maxLag` of any (seg, m, rev_c) series
    * frame — see the `ts_acf` registry comment for the arithmetic,
    * sign-decomposition and window-shape contracts. Lags with fewer than
    * one overlapping pair (n ≤ lag) are absent from the output rather
    * than emitted as NULL.
    */
  def tsAutocorrelation(
      monthly: DataFrame,
      maxLag: Int = 3): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1, got $maxLag")
    val stats = monthly.groupBy("seg")
      .agg(expr("CAST(COUNT(*) AS DECIMAL(38,0))").as("n"),
        expr("CAST(SUM(rev_c) AS DECIMAL(38,0))").as("tot"))
    val wSeg = org.apache.spark.sql.expressions.Window
      .partitionBy(col("seg")).orderBy(col("m"))
    val dev = monthly.join(broadcast(stats), "seg")
      .selectExpr("seg", "m", "CAST(n AS BIGINT) AS n_months",
        "CAST(n * rev_c - tot AS DECIMAL(38,0)) AS dev")
    val lagged = dev.select(
      Seq(col("seg"), col("n_months"), col("dev")) ++
        (1 to maxLag).map(l => lead(col("dev"), l).over(wSeg).as(s"dev_$l")): _*)
    val agg = lagged.groupBy(col("seg")).agg(
      max(col("n_months")).as("n_months"),
      (sum(expr("dev * dev")).as("d0") +:
        (1 to maxLag).map(l => sum(expr(s"dev * dev_$l")).as(s"num_$l"))): _*)
    val stackArgs = (1 to maxLag)
      .map(l => s"CAST($l AS INT), num_$l").mkString(", ")
    agg
      .selectExpr("seg", "n_months", "d0",
        s"stack($maxLag, $stackArgs) AS (lag, num)")
      .filter("num IS NOT NULL")
      .selectExpr("seg", "lag", "n_months",
        """CAST(CASE WHEN d0 = 0 THEN 0
          |     WHEN num >= 0 THEN num * 1000000 div d0
          |     ELSE -((-num) * 1000000 div d0) END AS BIGINT) AS acf_ppm"""
          .stripMargin)
      .orderBy("seg", "lag")
  }

  /** AMOC CUSUM changepoint of any (seg, m, rev_c) series frame — see
    * the `ts_changepoint` registry comment for the arithmetic and the
    * per-segment window-shape contract.
    */
  def cusumChangepoint(
      monthly: DataFrame): DataFrame = {
    val stats = monthly.groupBy("seg")
      .agg(expr("CAST(COUNT(*) AS DECIMAL(38,0))").as("n"),
        expr("CAST(SUM(rev_c) AS DECIMAL(38,0))").as("tot"))
    val wSeg = org.apache.spark.sql.expressions.Window
      .partitionBy(col("seg")).orderBy(col("m"))
    val cum = monthly.join(broadcast(stats), "seg")
      .withColumn("i", row_number().over(wSeg).cast("long"))
      .withColumn("pre", sum(expr("CAST(rev_c AS DECIMAL(38,0))"))
        .over(wSeg.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
      .selectExpr("seg", "m", "n",
        "CAST(n * pre - i * tot AS DECIMAL(38,0)) AS d")
    val wPick = org.apache.spark.sql.expressions.Window
      .partitionBy(col("seg")).orderBy(abs(col("d")).desc, col("m").asc)
    cum.withColumn("rn", row_number().over(wPick))
      .filter("rn = 1")
      .selectExpr("seg", "m AS cp_month", "CAST(n AS BIGINT) AS n_months",
        "CAST(abs(d) div n AS BIGINT) AS cusum_c",
        "CAST(CASE WHEN d < 0 THEN 1 ELSE -1 END AS INT) AS shift_dir")
      .orderBy("seg")
  }
}
