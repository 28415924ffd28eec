package graft
package gates

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Fns._
import graft.sources.Tables

/** Window and time-series gates: window frames and rankings (`w_`,
  * `window_`), sessionization, funnels, cohorts, and the `ts_` series
  * operators. */
private[graft] object WindowGates {

  /** EWMA horizon and exact decimal weights: 0.7^j = ewmaWeightNum(j)/10^7
    * for j < [[EwmaK]] — integer numerators so both engines carry the
    * weighted sum exactly (see `w_ewma`). */
  private val EwmaK = 8

  private def ewmaWeightNum(j: Int): Long =
    (BigInt(7).pow(j) * BigInt(10).pow(EwmaK - 1 - j)).toLong

  val gates: Seq[Gate] = Seq(
    // ----- sliding-window aggregation (1h windows every 30min): each
    // event lands in exactly size/slide windows — bounded row expansion
    Gate("window_sliding", ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), sumExact(col("value")).as("total"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n"), col("total"))
        .orderBy(col("window_start"), col("event_type"))),
      // each event belongs to exactly (size/slide)=2 epoch-aligned windows:
      // the 30-min floor of ts and that minus 30 minutes
      """WITH expanded AS (
        |  SELECT CAST(to_timestamp(CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800
        |           - o.off * 1800) AS TIMESTAMP) AS window_start,
        |         event_type, value
        |  FROM events CROSS JOIN (VALUES (0), (1)) AS o(off)
        |)
        |SELECT window_start, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM expanded
        |GROUP BY window_start, event_type
        |ORDER BY window_start, event_type""".stripMargin),

    // ----- rolling aggregate with an explicit row frame: per-user moving
    // average of the last 3 events (decimal-exact carrier)
    Gate("w_rolling_avg", ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id")).rowsBetween(-2, 0)
      Tables.events(s, dir)
        .filter(col("ts").isNotNull) // NULLS FIRST/LAST parity guard
        .select(col("user_id"), col("event_id"), col("ts"),
          (sum(col("value").cast("decimal(18,6)")).over(w).cast("double") /
            count(lit(1)).over(w)).as("rolling_avg"))
        .orderBy(col("user_id"), col("ts"), col("event_id"))
    }),
      """SELECT user_id, event_id, ts,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
        |    / COUNT(*) OVER w AS rolling_avg
        |FROM events
        |WHERE ts IS NOT NULL
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, ts, event_id""".stripMargin),

    // ----- exact rolling median over a bounded row frame (the robust
    // central-tendency signal rolling_avg can't give on skewed values):
    // Spark has no exact windowed median, so the 7-row frame collects to a
    // sorted array and the median is the explicit middle-element formula —
    // bounded memory per row (frame size is a constant), and the SAME
    // formula restated in DuckDB keeps even-count interpolation
    // bit-identical (both engines compute (a+b)/2 in IEEE doubles)
    Gate("w_rolling_median", ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id")).rowsBetween(-6, 0)
      val arr = sort_array(collect_list(col("value")).over(w))
      val n = size(arr)
      val mid = ((n + lit(1)) / lit(2)).cast("int")
      val median = when(n % 2 === 1, element_at(arr, mid))
        .otherwise((element_at(arr, (n / lit(2)).cast("int")) +
          element_at(arr, (n / lit(2)).cast("int") + 1)) / 2.0)
      Tables.events(s, dir)
        .filter(col("ts").isNotNull && col("value").isNotNull)
        .select(col("user_id"), col("event_id"), col("ts"),
          median.as("rolling_median"))
        .orderBy(col("user_id"), col("ts"), col("event_id"))
    }),
      """WITH arrs AS (
        |  SELECT user_id, event_id, ts,
        |    list_sort(list(value) OVER w) AS arr
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |)
        |SELECT user_id, event_id, ts,
        |  CASE WHEN len(arr) % 2 = 1 THEN arr[(len(arr)+1)//2]
        |       ELSE (arr[len(arr)//2] + arr[len(arr)//2 + 1]) / 2
        |  END AS rolling_median
        |FROM arrs ORDER BY user_id, ts, event_id""".stripMargin),

    // ----- batch tumbling-window aggregation (streaming analog has tests)
    Gate("window_tumbling", ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), sumExact(col("value")).as("total"))
        .select(col("w.start").as("window_start"), col("event_type"),
          col("n"), col("total"))
        .orderBy(col("window_start"), col("event_type"))),
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM events
        |GROUP BY window_start, event_type
        |ORDER BY window_start, event_type""".stripMargin),

    // ----- batch sessionization: gap-break sessions INCLUDING the ones
    // still open at end-of-input (the flush a bounded streaming run never
    // delivers — see EventsStream.sessionizeBatch)
    Gate("sessionize_batch", ((s, dir) =>
      graft.streaming.EventsStream.sessionizeBatch(Tables.events(s, dir))
        .orderBy(col("user_id"), col("session_seq"))),
      // 30-min gap = 1_800_000_000 µs; ties broken by event_id on both sides
      """WITH e AS (
        |  SELECT user_id, event_id, ts, value FROM events WHERE ts IS NOT NULL
        |), marked AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), seqd AS (
        |  SELECT user_id, ts, value,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS session_seq
        |  FROM marked
        |)
        |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        |  COUNT(*) AS n_events,
        |  MIN(ts) AS session_start, MAX(ts) AS session_end,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM seqd
        |GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin),

    // ----- daily-series autocorrelation at lags 1..7 per event_type (the
    // seasonality/burst screen): calendar-joined lag pairs — missing days
    // drop pairs, never mis-align — with exact BIGINT count moments and
    // the spearman-style IEEE emission tree
    Gate("ts_acf", ((s, dir) =>
      graft.operators.TimeSeries.acfDaily(Tables.events(s, dir),
          group = col("event_type"), ts = col("ts"), maxLag = 7)
        .withColumnRenamed("g", "event_type")
        .orderBy(col("event_type"), col("lag"))),
      graft.operators.TimeSeries.acfOracleSql(maxLag = 7)),

    // ----- lagged cross-correlation between the click and purchase daily
    // series at signed lags -3..3 (ts_acf's two-series sibling — the
    // lead/lag screen: the argmax lag estimates purchase's delay behind
    // click); same calendar-join exactness story
    Gate("ts_cross_corr", ((s, dir) =>
      graft.operators.TimeSeries.crossCorrDaily(Tables.events(s, dir),
          group = col("event_type"), ts = col("ts"),
          keyA = "click", keyB = "purchase", maxLag = 3)
        .orderBy(col("lag"))),
      graft.operators.TimeSeries.crossCorrOracleSql(
      keyA = "click", keyB = "purchase", maxLag = 3)),

    // ----- ranking window family: NTILE quartiles + percent_rank +
    // cume_dist per event_type (deterministic: total order on
    // (value, event_id) within each partition)
    Gate("w_rank_family", ((s, dir) => {
      // explicit NULLS FIRST: Spark defaults ascending windows to NULLS
      // FIRST but DuckDB to NULLS LAST — the gate must not depend on the
      // fixture happening to contain no NULL values
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value").asc_nulls_first, col("event_id"))
      Tables.events(s, dir)
        .filter(col("event_id") % 20 === 0)
        .select(col("event_id"), col("event_type"), col("value"),
          ntile(4).over(w).as("quartile"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cume"))
        .orderBy(col("event_id"))
    }),
      """SELECT event_id, event_type, value,
        |  CAST(ntile(4) OVER w AS INTEGER) AS quartile,
        |  ROUND(percent_rank() OVER w, 6) AS pct_rank,
        |  ROUND(cume_dist() OVER w, 6) AS cume
        |FROM events
        |WHERE event_id % 20 = 0
        |WINDOW w AS (PARTITION BY event_type ORDER BY value NULLS FIRST, event_id)
        |ORDER BY event_id""".stripMargin),

    // ----- ordered funnel analysis: view -> click -> purchase, each step
    // strictly after the previous one for the same user. ONE scan and ONE
    // user_id exchange: the three stage timestamps are stacked window mins
    // over the same partitioning (each referencing the previous stage's
    // result), then a single global distinct-count — no per-stage joins or
    // re-scans at any scale
    Gate("funnel_steps", ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_type"))
        .withColumn("t_view",
          min(when(col("event_type") === "view", col("ts"))).over(w))
        .withColumn("t_click",
          min(when(col("event_type") === "click" && col("ts") > col("t_view"),
            col("ts"))).over(w))
        .withColumn("t_purchase",
          min(when(col("event_type") === "purchase" &&
            col("ts") > col("t_click"), col("ts"))).over(w))
        .agg(
          countDistinct(when(col("t_view").isNotNull, col("user_id"))).as("v"),
          countDistinct(when(col("t_click").isNotNull, col("user_id"))).as("c"),
          countDistinct(when(col("t_purchase").isNotNull, col("user_id")))
            .as("p"))
        .select(explode(array(
          struct(lit(1).as("step"), lit("view").as("stage"),
            col("v").as("users")),
          struct(lit(2).as("step"), lit("click").as("stage"),
            col("c").as("users")),
          struct(lit(3).as("step"), lit("purchase").as("stage"),
            col("p").as("users")))).as("r"))
        .select(col("r.step").as("step"), col("r.stage").as("stage"),
          col("r.users").as("users"))
        .orderBy(col("step"))
    }),
      // the same stacked-window restatement: each stage's first-timestamp is
      // a per-user window min over the previous stage's result
      """WITH w1 AS (
        |  SELECT user_id, ts, event_type,
        |    MIN(CASE WHEN event_type = 'view' THEN ts END)
        |      OVER (PARTITION BY user_id) AS t_view
        |  FROM events
        |), w2 AS (
        |  SELECT *, MIN(CASE WHEN event_type = 'click' AND ts > t_view
        |                     THEN ts END)
        |    OVER (PARTITION BY user_id) AS t_click
        |  FROM w1
        |), w3 AS (
        |  SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts > t_click
        |                     THEN ts END)
        |    OVER (PARTITION BY user_id) AS t_purchase
        |  FROM w2
        |), agg AS (
        |  SELECT
        |    COUNT(DISTINCT CASE WHEN t_view IS NOT NULL THEN user_id END) AS v,
        |    COUNT(DISTINCT CASE WHEN t_click IS NOT NULL THEN user_id END) AS c,
        |    COUNT(DISTINCT CASE WHEN t_purchase IS NOT NULL THEN user_id END) AS p
        |  FROM w3
        |)
        |SELECT 1 AS step, 'view' AS stage, v AS users FROM agg
        |UNION ALL
        |SELECT 2 AS step, 'click' AS stage, c AS users FROM agg
        |UNION ALL
        |SELECT 3 AS step, 'purchase' AS stage, p AS users FROM agg
        |ORDER BY step""".stripMargin),

    // ----- time-RANGE window frame (vs w_rolling_avg's ROWS frame): per
    // user, sum of activity in the trailing 10 minutes. Both engines frame
    // over the SAME integer epoch-microseconds order key, so peer-row and
    // boundary semantics are identical by construction
    Gate("w_range_frame", ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
        .rangeBetween(-600L * 1000 * 1000, Window.currentRow)
      Tables.events(s, dir)
        .withColumn("ts_us", unix_micros(col("ts")))
        .select(col("user_id"), col("event_id"), col("ts"),
          sum(col("value").cast("decimal(18,6)")).over(w)
            .cast("double").as("range_sum"),
          count(lit(1)).over(w).as("n_in_range"))
        .orderBy(col("user_id"), col("ts"), col("event_id"))
    }),
      """SELECT user_id, event_id, ts,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS range_sum,
        |  COUNT(*) OVER w AS n_in_range
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |             RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, ts, event_id""".stripMargin),

    // ----- gaps-and-islands: maximal runs of CONSECUTIVE active days per
    // user via the row_number offset trick (day - rank is constant within
    // a run) — one window shuffle on the user key, then a metadata-sized
    // island aggregate
    Gate("w_islands", ((s, dir) => {
      val days = Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      days
        .withColumn("__grp", datediff(col("day"), lit("2024-01-01").cast("date"))
          - row_number().over(w))
        .groupBy(col("user_id"), col("__grp"))
        .agg(min(col("day")).as("start_day"), max(col("day")).as("end_day"),
          count(lit(1)).as("n_days"))
        .select(col("user_id"), col("start_day"), col("end_day"), col("n_days"))
        .orderBy(col("user_id"), col("start_day"))
    }),
      """WITH days AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        |), marked AS (
        |  SELECT user_id, day,
        |    (day - DATE '2024-01-01')
        |      - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS grp
        |  FROM days
        |)
        |SELECT user_id, MIN(day) AS start_day, MAX(day) AS end_day,
        |  COUNT(*) AS n_days
        |FROM marked GROUP BY user_id, grp
        |ORDER BY user_id, start_day""".stripMargin),

    // ----- share-of-total window (ratio_to_report): each order's share of
    // its customer's total spend — an unbounded partition frame over the
    // decimal-exact denominator
    Gate("w_share_of_total", ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
      Tables.orders(s, dir)
        .filter(col("o_custkey") % 100 === 0)
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("o_totalprice").cast("decimal(18,6)")
            .cast("double") /
            sum(col("o_totalprice").cast("decimal(18,6)")).over(w)
              .cast("double"), 6).as("share"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),
      """SELECT o_custkey, o_orderkey,
        |  ROUND(CAST(CAST(o_totalprice AS DECIMAL(18,6)) AS DOUBLE) /
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
        |         OVER (PARTITION BY o_custkey) AS DOUBLE), 6) AS share
        |FROM orders
        |WHERE o_custkey % 100 = 0
        |ORDER BY o_custkey, o_orderkey""".stripMargin),

    // ----- cohort retention: users grouped by signup week, counted in each
    // later activity week. Both sides key on user_id (cohort assignment +
    // activity distinct + join), so one shuffle partitioning serves the
    // whole matrix; the final (cohort, offset) agg is metadata-cardinality
    Gate("cohort_retention", ((s, dir) => {
      val ev = Tables.events(s, dir)
      val cohorts = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id"))
        .agg(date_trunc("week", min(col("ts"))).cast("date").as("cohort_week"))
      val activity = ev.select(col("user_id"),
          date_trunc("week", col("ts")).cast("date").as("activity_week"))
        .distinct()
      cohorts.join(activity, Seq("user_id"))
        .filter(col("activity_week") >= col("cohort_week"))
        .groupBy(col("cohort_week"),
          (datediff(col("activity_week"), col("cohort_week")) / 7)
            .cast("int").as("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("cohort_week"), col("week_offset"))
    }),
      """WITH cohorts AS (
        |  SELECT user_id,
        |    CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
        |  FROM events WHERE event_type = 'signup' GROUP BY user_id
        |), activity AS (
        |  SELECT DISTINCT user_id,
        |    CAST(date_trunc('week', ts) AS DATE) AS activity_week
        |  FROM events
        |)
        |SELECT c.cohort_week,
        |  CAST((a.activity_week - c.cohort_week) // 7 AS INTEGER) AS week_offset,
        |  COUNT(DISTINCT c.user_id) AS n_users
        |FROM cohorts c JOIN activity a ON c.user_id = a.user_id
        |WHERE a.activity_week >= c.cohort_week
        |GROUP BY c.cohort_week, week_offset
        |ORDER BY cohort_week, week_offset""".stripMargin),

    // ----- bounded-horizon EWMA (α=0.3 over the last 8 observations): the
    // time-series smoother as ONE partitioned window with 8 stacked lags —
    // exact rational weights 7^j/10^j carried in decimals (no pow(), no
    // libm drift), final IEEE division only at emission
    Gate("w_ewma", ((s, dir) => {
      val wspec = Window.partitionBy(col("event_type")).orderBy(col("event_id"))
      val base = Tables.events(s, dir)
        .filter(col("event_id") % 20 === 0)
        .select(col("event_type"), col("event_id"),
          col("value").cast("decimal(18,6)").as("v"))
      val terms = (0 until EwmaK).map { j =>
        val lagV = if (j == 0) col("v") else lag(col("v"), j).over(wspec)
        (coalesce(lagV * lit(ewmaWeightNum(j)), lit(0).cast("decimal(18,6)")),
          when(lagV.isNotNull, lit(ewmaWeightNum(j))).otherwise(lit(0L)))
      }
      base.select(col("event_type"), col("event_id"),
          (terms.map(_._1).reduce(_ + _).cast("double") /
            terms.map(_._2).reduce(_ + _).cast("double")).as("ewma"))
        .orderBy(col("event_type"), col("event_id"))
    }),
      {
        val num = (0 until EwmaK).map { j =>
          val v = if (j == 0) "v" else s"LAG(v, $j) OVER w"
          s"COALESCE($v * ${ewmaWeightNum(j)}, 0)"
        }.mkString(" + ")
        val den = (0 until EwmaK).map { j =>
          val v = if (j == 0) "v" else s"LAG(v, $j) OVER w"
          s"(CASE WHEN $v IS NOT NULL THEN ${ewmaWeightNum(j)} ELSE 0 END)"
        }.mkString(" + ")
        s"""WITH base AS (
           |  SELECT event_type, event_id, CAST(value AS DECIMAL(18,6)) AS v
           |  FROM events WHERE event_id % 20 = 0
           |), lagged AS (
           |  SELECT event_type, event_id,
           |    $num AS num,
           |    $den AS den
           |  FROM base WINDOW w AS (PARTITION BY event_type ORDER BY event_id)
           |)
           |SELECT event_type, event_id,
           |  CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS ewma
           |FROM lagged ORDER BY event_type, event_id""".stripMargin
      }),

    // ----- date-spine resample + linear interpolation: regularize an
    // irregular daily series (planted sparsity: only days 1,4,...,28
    // observed) onto the dense per-type spine — the pre-processing that
    // makes rolling/EWMA spacing assumptions true on real feeds. Daily
    // means via the decimal carrier; interpolation is fixed-shape IEEE
    // arithmetic, bit-identical in DuckDB
    // ----- Holt linear-trend smoothing per event type over the daily
    // series: final level/trend + 3-step forecast; sequential in time,
    // parallel across keys. Fixed-point micro-unit state — exact integer
    // recurrence, engine-identical by construction (TimeSeries
    // .holtLinear scaladoc records the two float restatements that
    // measurably diverged cross-engine); oracle = recursive CTE
    Gate("ts_holt_linear", ((s, dir) => {
      val daily = Tables.events(s, dir)
        .filter(col("ts").isNotNull)
        .withColumn("day", to_date(col("ts")))
        .groupBy(col("event_type"), col("day"))
        .agg(sum((col("value").cast("decimal(18,6)") * 1000000)
            .cast("long")).as("__sm"),
          count(col("value")).as("__cnt"))
        // exact floor(micro_sum / count): the daily mean in micro-units
        .select(col("event_type"), col("day"),
          ((col("__sm") - pmod(col("__sm"), col("__cnt"))) / col("__cnt"))
            .cast("long").as("v"))
      graft.operators.TimeSeries.holtLinear(daily)
        .orderBy(col("event_type"))
    }),
      """WITH RECURSIVE daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    SUM(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS sm,
        |    COUNT(value) AS cnt
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
        |), dv AS (
        |  SELECT event_type, day,
        |    CAST((sm - (((sm % cnt) + cnt) % cnt)) / cnt AS BIGINT) AS v
        |  FROM daily
        |), seq AS (
        |  SELECT event_type, v,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS i
        |  FROM dv
        |), nn AS (
        |  SELECT event_type, MAX(i) AS n FROM seq GROUP BY 1
        |), rec AS (
        |  SELECT s2.event_type, CAST(2 AS BIGINT) AS i,
        |    s2.v AS l, s2.v - s1.v AS b
        |  FROM seq s1 JOIN seq s2
        |    ON s1.event_type = s2.event_type AND s1.i = 1 AND s2.i = 2
        |  UNION ALL
        |  SELECT event_type, i, l,
        |    CAST((l - lo + bo - ((((l - lo + bo) % 2) + 2) % 2)) / 2
        |      AS BIGINT) AS b
        |  FROM (
        |    SELECT r.event_type, r.i + 1 AS i,
        |      CAST((s.v + r.l + r.b
        |            - ((((s.v + r.l + r.b) % 2) + 2) % 2)) / 2 AS BIGINT) AS l,
        |      r.l AS lo, r.b AS bo
        |    FROM rec r JOIN seq s
        |      ON s.event_type = r.event_type AND s.i = r.i + 1)
        |)
        |SELECT r.event_type, CAST(nn.n AS INTEGER) AS n_obs,
        |  CAST(r.l AS DOUBLE) / CAST(1000000 AS DOUBLE) AS level,
        |  CAST(r.b AS DOUBLE) / CAST(1000000 AS DOUBLE) AS trend,
        |  CAST(r.l + 3 * r.b AS DOUBLE) / CAST(1000000 AS DOUBLE)
        |    AS forecast_3
        |FROM rec r JOIN nn ON r.event_type = nn.event_type AND r.i = nn.n
        |WHERE nn.n >= 2
        |ORDER BY r.event_type""".stripMargin),

    // ----- classical additive decomposition of the same daily series:
    // centered-7-day-MA trend + day-of-week seasonal + residual, all in
    // exact micro-unit integer arithmetic (ts_holt_linear's discipline)
    Gate("ts_seasonal_decompose", ((s, dir) => {
      val daily = Tables.events(s, dir)
        .filter(col("ts").isNotNull)
        .withColumn("day", to_date(col("ts")))
        .groupBy(col("event_type"), col("day"))
        .agg(sum((col("value").cast("decimal(18,6)") * 1000000)
            .cast("long")).as("__sm"),
          count(col("value")).as("__cnt"))
        .select(col("event_type"), col("day"),
          ((col("__sm") - pmod(col("__sm"), col("__cnt"))) / col("__cnt"))
            .cast("long").as("v"))
      graft.operators.TimeSeries.seasonalDecompose(daily)
        .orderBy(col("event_type"), col("day"))
    }),
      // same integer micro-unit pipeline: exact window sums (BIGINT), floor
      // division via the pmod identity, day-of-week as epoch-days mod 7
      // (dayofweek() anchors differ between engines); /1e6 only at emission
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    SUM(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS sm,
        |    COUNT(value) AS cnt
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
        |), dv AS (
        |  SELECT event_type, day,
        |    CAST((sm - (((sm % cnt) + cnt) % cnt)) / cnt AS BIGINT) AS v
        |  FROM daily
        |), win AS (
        |  SELECT event_type, day, v,
        |    SUM(v) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS s7,
        |    COUNT(v) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS c7
        |  FROM dv
        |), det AS (
        |  SELECT event_type, day, v,
        |    CAST((s7 - (((s7 % 7) + 7) % 7)) / 7 AS BIGINT) AS trend_m,
        |    v - CAST((s7 - (((s7 % 7) + 7) % 7)) / 7 AS BIGINT) AS detr,
        |    (((CAST(day - DATE '1970-01-01' AS BIGINT) % 7) + 7) % 7) AS dow
        |  FROM win WHERE c7 = 7
        |), sea AS (
        |  SELECT event_type, dow,
        |    CAST((SUM(detr) - (((SUM(detr) % COUNT(*)) + COUNT(*)) % COUNT(*)))
        |      / COUNT(*) AS BIGINT) AS seasonal_m
        |  FROM det GROUP BY 1, 2
        |)
        |SELECT d.event_type, d.day,
        |  CAST(d.v AS DOUBLE) / CAST(1000000 AS DOUBLE) AS value,
        |  CAST(d.trend_m AS DOUBLE) / CAST(1000000 AS DOUBLE) AS trend,
        |  CAST(s.seasonal_m AS DOUBLE) / CAST(1000000 AS DOUBLE) AS seasonal,
        |  CAST(d.detr - s.seasonal_m AS DOUBLE) / CAST(1000000 AS DOUBLE)
        |    AS residual
        |FROM det d JOIN sea s ON d.event_type = s.event_type AND d.dow = s.dow
        |ORDER BY d.event_type, d.day""".stripMargin),

    // ----- ABC / Pareto classification of brands by revenue share: rank
    // by revenue, cumulative share thresholds 80/95% split the catalog
    // into A/B/C — the inventory-policy classifier every warehouse runs.
    // The cumulative sum stays DECIMAL through the window (a double
    // cumsum's addition order is engine-internal — DuckDB's windowed SUM
    // uses segment trees); one IEEE division per row at emission. The
    // global window is |brands|-sized (25 here) — bounded key cardinality
    // by construction, never corpus-sized
    Gate("w_abc_classification", ((s, dir) => {
      val rev = Tables.lineitem(s, dir)
        .join(Tables.part(s, dir), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,6)")).as("__rev"))
      val w = Window.orderBy(col("__rev").desc, col("p_brand"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val share = col("__cum").cast("double") / col("__tot").cast("double")
      rev
        .withColumn("__cum", sum(col("__rev")).over(w))
        .crossJoin(broadcast(rev.agg(sum(col("__rev")).as("__tot"))))
        .select(col("p_brand"), col("__rev").cast("double").as("revenue"),
          share.as("cum_share"),
          when(share <= 0.8, "A").when(share <= 0.95, "B").otherwise("C")
            .as("abc_class"))
        .orderBy(col("revenue").desc, col("p_brand"))
    }),
      // decimal stays exact through the cumulative window on both engines;
      // the share division and threshold compares are the same IEEE ops
      """WITH rev AS (
        |  SELECT p_brand,
        |    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
        |      AS r
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1
        |), tot AS (SELECT SUM(r) AS t FROM rev),
        |c AS (
        |  SELECT p_brand, r,
        |    SUM(r) OVER (ORDER BY r DESC, p_brand
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM rev
        |)
        |SELECT p_brand, CAST(r AS DOUBLE) AS revenue,
        |  CAST(cum AS DOUBLE) / CAST(t AS DOUBLE) AS cum_share,
        |  CASE WHEN CAST(cum AS DOUBLE) / CAST(t AS DOUBLE) <= 0.8 THEN 'A'
        |       WHEN CAST(cum AS DOUBLE) / CAST(t AS DOUBLE) <= 0.95 THEN 'B'
        |       ELSE 'C' END AS abc_class
        |FROM c CROSS JOIN tot
        |ORDER BY revenue DESC, p_brand""".stripMargin),

    // ----- cumulative DISTINCT users per event type over time. A naive
    // COUNT(DISTINCT) OVER (ROWS UNBOUNDED PRECEDING) re-scans growing
    // state per row (and Spark refuses it outright); the scalable
    // restatement is the first-occurrence transform — each user
    // contributes exactly at MIN(day), so the running total of per-day
    // first-seen counts IS the cumulative distinct count. One (type,
    // user) aggregate + one tiny per-day window; no distinct state grows
    // with history at any scale
    Gate("w_cumulative_distinct", ((s, dir) => {
      val perDay = Tables.events(s, dir)
        .filter(col("ts").isNotNull && col("user_id").isNotNull)
        .groupBy(col("event_type"), col("user_id"))
        .agg(min(to_date(col("ts"))).as("day"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("new_users"))
      perDay
        .withColumn("cum_users",
          sum(col("new_users")).over(Window.partitionBy(col("event_type"))
            .orderBy(col("day"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .orderBy(col("event_type"), col("day"))
    }),
      // the same first-occurrence restatement; the window SUM is CAST to
      // BIGINT (DuckDB windowed SUM yields HUGEINT, which breaks the
      // driver's value hash — the round-4 lesson)
      """WITH firsts AS (
        |  SELECT event_type, user_id, MIN(CAST(ts AS DATE)) AS day
        |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
        |  GROUP BY 1, 2
        |), perday AS (
        |  SELECT event_type, day, COUNT(*) AS new_users
        |  FROM firsts GROUP BY 1, 2
        |)
        |SELECT event_type, day, new_users,
        |  CAST(SUM(new_users) OVER (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_users
        |FROM perday ORDER BY event_type, day""".stripMargin),

    // ----- Hampel/MAD robust anomaly flags over the decomposition
    // residuals: 50%-breakdown median/MAD threshold, exact micro-unit
    // residuals, IEEE-exact median interpolation on both engines
    Gate("ts_anomaly_mad", ((s, dir) => {
      val daily = Tables.events(s, dir)
        .filter(col("ts").isNotNull)
        .withColumn("day", to_date(col("ts")))
        .groupBy(col("event_type"), col("day"))
        .agg(sum((col("value").cast("decimal(18,6)") * 1000000)
            .cast("long")).as("__sm"),
          count(col("value")).as("__cnt"))
        .select(col("event_type"), col("day"),
          ((col("__sm") - pmod(col("__sm"), col("__cnt"))) / col("__cnt"))
            .cast("long").as("v"))
      graft.operators.TimeSeries.madAnomalies(daily)
        .orderBy(col("event_type"), col("day"))
    }),
      // decompose CTE chain + two medians; DuckDB and Spark both define
      // median as the midpoint-interpolated 0.5-percentile in DOUBLE, and
      // the inputs are exact integers/half-integers, so the threshold
      // comparison is bit-identical
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    SUM(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS sm,
        |    COUNT(value) AS cnt
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
        |), dv AS (
        |  SELECT event_type, day,
        |    CAST((sm - (((sm % cnt) + cnt) % cnt)) / cnt AS BIGINT) AS v
        |  FROM daily
        |), win AS (
        |  SELECT event_type, day, v,
        |    SUM(v) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS s7,
        |    COUNT(v) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS c7
        |  FROM dv
        |), det AS (
        |  SELECT event_type, day, v,
        |    v - CAST((s7 - (((s7 % 7) + 7) % 7)) / 7 AS BIGINT) AS detr,
        |    (((CAST(day - DATE '1970-01-01' AS BIGINT) % 7) + 7) % 7) AS dow
        |  FROM win WHERE c7 = 7
        |), sea AS (
        |  SELECT event_type, dow,
        |    CAST((SUM(detr) - (((SUM(detr) % COUNT(*)) + COUNT(*)) % COUNT(*)))
        |      / COUNT(*) AS BIGINT) AS seasonal_m
        |  FROM det GROUP BY 1, 2
        |), res AS (
        |  SELECT d.event_type, d.day, d.detr - s.seasonal_m AS resid
        |  FROM det d JOIN sea s ON d.event_type = s.event_type AND d.dow = s.dow
        |), med AS (
        |  SELECT event_type, median(resid) AS med FROM res GROUP BY 1
        |), dev AS (
        |  SELECT r.event_type, r.day, r.resid, r.resid - m.med AS dev
        |  FROM res r JOIN med m ON r.event_type = m.event_type
        |), mad AS (
        |  SELECT event_type, median(abs(dev)) AS mad FROM dev GROUP BY 1
        |)
        |SELECT d.event_type, d.day,
        |  CAST(d.resid AS DOUBLE) / CAST(1000000 AS DOUBLE) AS residual,
        |  d.dev / CAST(1000000 AS DOUBLE) AS deviation,
        |  m.mad / CAST(1000000 AS DOUBLE) AS mad,
        |  abs(d.dev) > CAST(3 AS DOUBLE) * m.mad AS is_anomaly
        |FROM dev d JOIN mad m ON d.event_type = m.event_type
        |ORDER BY d.event_type, d.day""".stripMargin),

    // ----- offline CUSUM change-point per type over the same daily
    // series: the max-|CUSUM| split restated over the common denominator
    // (D_k = n*P_k - k*T) so the detector is exact BIGINT end-to-end —
    // "when did this series shift" for a drift monitor, ties to the
    // earliest day
    Gate("ts_changepoint", ((s, dir) => {
      val daily = Tables.events(s, dir)
        .filter(col("ts").isNotNull)
        .withColumn("day", to_date(col("ts")))
        .groupBy(col("event_type"), col("day"))
        .agg(sum((col("value").cast("decimal(18,6)") * 1000000)
            .cast("long")).as("__sm"),
          count(col("value")).as("__cnt"))
        .select(col("event_type"), col("day"),
          ((col("__sm") - pmod(col("__sm"), col("__cnt"))) / col("__cnt"))
            .cast("long").as("v"))
      graft.operators.TimeSeries.cusumChangePoint(daily)
        .orderBy(col("event_type"))
    }),
      // last_value(... IGNORE NULLS) carries (day, value) structs exactly
      // like the Spark windows; the interpolation expression is the same
      // fixed-shape IEEE arithmetic on both engines
      // identical FIXED-POINT recurrence unrolled as a RECURSIVE CTE — NOT
      // list_reduce, whose struct-state lambdas measurably re-order float
      // arithmetic (TimeSeries.holtLinear scaladoc). State is integer
      // micro-units with floor-halving (pmod spelled `((x%2)+2)%2`), so
      // every recursive step is exact BIGINT arithmetic on both engines;
      // doubles appear only at the final /1e6 emission
      // the identical micro-mean daily CTE as ts_holt_linear; the detector
      // itself is integer window arithmetic (BIGINT casts on every window
      // aggregate — the a_ks_test HUGEINT rule)
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    SUM(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS sm,
        |    COUNT(value) AS cnt
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
        |), dv AS (
        |  SELECT event_type, day,
        |    CAST((sm - (((sm % cnt) + cnt) % cnt)) / cnt AS BIGINT) AS v
        |  FROM daily
        |), seq AS (
        |  SELECT event_type, day, v,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
        |      AS BIGINT) AS k,
        |    CAST(SUM(v) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS p,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
        |    CAST(SUM(v) OVER (PARTITION BY event_type) AS BIGINT) AS t
        |  FROM dv
        |), scored AS (
        |  SELECT event_type, day, k, p, n, t, abs(n * p - k * t) AS d
        |  FROM seq WHERE k < n
        |), top AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
        |    ORDER BY d DESC, k) AS rn
        |  FROM scored
        |)
        |SELECT event_type, n, k AS cp_idx, day AS cp_day, d AS d_max,
        |  CAST(p // k AS BIGINT) AS mean_before_micro,
        |  CAST((t - p) // (n - k) AS BIGINT) AS mean_after_micro
        |FROM top WHERE rn = 1 ORDER BY event_type""".stripMargin),

    Gate("ts_resample", ((s, dir) => {
      val daily = Tables.events(s, dir)
        .filter(col("ts").isNotNull)
        .withColumn("day", to_date(col("ts")))
        .filter(dayofmonth(col("day")) % 3 === 1)
        .groupBy(col("event_type"), col("day"))
        .agg(avgExact(col("value")).as("v"))
      graft.operators.TimeSeries.resampleLinear(daily)
        .orderBy(col("event_type"), col("day"))
    }),
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value) AS v
        |  FROM events WHERE ts IS NOT NULL
        |    AND day(CAST(ts AS DATE)) % 3 = 1
        |  GROUP BY 1, 2
        |), spine AS (
        |  SELECT event_type,
        |    CAST(unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM (SELECT event_type, MIN(day) AS mn, MAX(day) AS mx
        |        FROM daily GROUP BY 1)
        |), j AS (
        |  SELECT s.event_type, s.day, d.v
        |  FROM spine s LEFT JOIN daily d USING (event_type, day)
        |), w AS (
        |  SELECT event_type, day, v,
        |    last_value(CASE WHEN v IS NOT NULL
        |        THEN struct_pack(d := day, v := v) END IGNORE NULLS)
        |      OVER (PARTITION BY event_type ORDER BY day
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p,
        |    last_value(CASE WHEN v IS NOT NULL
        |        THEN struct_pack(d := day, v := v) END IGNORE NULLS)
        |      OVER (PARTITION BY event_type ORDER BY day DESC
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n
        |  FROM j
        |)
        |SELECT event_type, day,
        |  CASE WHEN v IS NOT NULL THEN v
        |    ELSE p.v + (n.v - p.v) *
        |      (CAST(day - p.d AS DOUBLE) / CAST(n.d - p.d AS DOUBLE))
        |  END AS filled,
        |  v IS NULL AS interpolated
        |FROM w ORDER BY event_type, day""".stripMargin),

    // ----- window value-function family: LEAD, running FIRST_VALUE,
    // forward LAST_VALUE, and NTH_VALUE over explicit row frames — pure
    // value picks on a unique order key, so cross-engine determinism needs
    // no carriers
    Gate("w_value_family", ((s, dir) => {
      val w = Window.partitionBy(col("event_type")).orderBy(col("event_id"))
      Tables.events(s, dir)
        .filter(col("event_id") % 20 === 0)
        .select(col("event_type"), col("event_id"), col("value"),
          lead(col("value"), 2).over(w).as("lead2"),
          first(col("value")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("first_cum"),
          last(col("value")).over(
            w.rowsBetween(Window.currentRow, Window.unboundedFollowing))
            .as("last_fwd"),
          nth_value(col("value"), 3).over(
            w.rowsBetween(Window.unboundedPreceding,
              Window.unboundedFollowing)).as("third_of_type"))
        .orderBy(col("event_type"), col("event_id"))
    }),
      """SELECT event_type, event_id, value,
        |  LEAD(value, 2) OVER w AS lead2,
        |  FIRST_VALUE(value) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND CURRENT ROW) AS first_cum,
        |  LAST_VALUE(value) OVER (w ROWS BETWEEN CURRENT ROW
        |    AND UNBOUNDED FOLLOWING) AS last_fwd,
        |  NTH_VALUE(value, 3) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND UNBOUNDED FOLLOWING) AS third_of_type
        |FROM events WHERE event_id % 20 = 0
        |WINDOW w AS (PARTITION BY event_type ORDER BY event_id)
        |ORDER BY event_type, event_id""".stripMargin),

    // ----- built-in session_window sessionization (the declarative twin
    // of the flatMapGroupsWithState path): one groupBy, Spark merges
    // gap-bounded windows internally; oracle is the gaps-and-islands
    // restatement with the >= break matching session_window's exclusive
    // end
    Gate("sessionize_builtin", ((s, dir) =>
      Tables.events(s, dir).filter(col("ts").isNotNull)
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("__sw"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"),
          sumExact(col("value")).as("total_value"))
        .select(col("user_id"), col("n_events"), col("session_start"),
          col("session_end"), col("total_value"))
        .orderBy(col("user_id"), col("session_start"))),
      """WITH e AS (
        |  SELECT user_id, event_id, ts, value FROM events WHERE ts IS NOT NULL
        |), marked AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), seqd AS (
        |  SELECT user_id, ts, value,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS session_seq
        |  FROM marked
        |)
        |SELECT user_id, COUNT(*) AS n_events,
        |  MIN(ts) AS session_start, MAX(ts) AS session_end,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM seqd
        |GROUP BY user_id, session_seq
        |ORDER BY user_id, session_start""".stripMargin),
  )
}
