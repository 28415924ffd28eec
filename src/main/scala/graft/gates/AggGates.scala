package graft
package gates

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Fns._
import graft.functions.TextFns
import graft.operators.Skew
import graft.sources.Tables

/** Aggregation gates (`a_`): grouping sets, approximate and exact
  * distinct counts, percentiles, histograms, and the statistical tests. */
private[graft] object AggGates {

  val gates: Seq[Gate] = Seq(
    // ----- hierarchical aggregation: ROLLUP with subtotals + grand total
    Gate("a_rollup", ((s, dir) =>
      Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sumExact(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("l_returnflag"),
          asc_nulls_first("l_linestatus"))),
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),

    // ----- CUBE: all grouping-set combinations
    Gate("a_cube", ((s, dir) =>
      Tables.orders(s, dir)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(sumExact(col("o_totalprice")).as("total"), count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("o_orderstatus"),
          asc_nulls_first("o_orderpriority"))),
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total,
        |  COUNT(*) AS n
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin),

    // ----- approximate distinct (HLL sketch) vs exact. The sketch value
    // itself is implementation-specific, so the oracle-checked output is
    // the exact count plus a tolerance flag the oracle pins TRUE — a real
    // bound check, not a rows-only pass. Band = 20% (4 sigma at rsd=0.05):
    // HLL++ is hash-deterministic, so for a FIXED dataset the check never
    // flakes run-to-run, but an unseen scale factor could land a tail
    // estimate; 4 sigma makes that a <1e-4-per-group event instead of the
    // ~1e-3 a 15% band allowed.
    Gate("a_approx_distinct", ((s, dir) =>
      Tables.events(s, dir).groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id")).as("approx_users"),
          countDistinct(col("user_id")).as("exact_users"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx_users") - col("exact_users")).cast("double")
            / col("exact_users") <= 0.20).as("approx_ok"))
        .orderBy(col("event_type"))),
      // the sketch estimate is engine-internal; the oracle pins the exact
      // count and asserts the estimate landed inside the tolerance band
      """SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
        |  TRUE AS approx_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // ----- equal-width histogram (profiling family): one stats row
    // broadcast back over the scan, bin arithmetic in IEEE doubles —
    // bit-identical across engines because min/max/width/floor are the
    // same ops in the same order on the same inputs
    Gate("a_histogram", ((s, dir) => {
      val li = Tables.lineitem(s, dir).select(col("l_extendedprice").as("x"))
      val mm = li.agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
      li.crossJoin(broadcast(mm))
        .withColumn("bin",
          least(floor((col("x") - col("lo")) / ((col("hi") - col("lo")) / 10d)),
            lit(9L)).cast("int"))
        .groupBy(col("bin")).agg(count(lit(1)).as("n"))
        .orderBy(col("bin"))
    }),
      """WITH mm AS (
        |  SELECT MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi
        |  FROM lineitem
        |)
        |SELECT CAST(LEAST(FLOOR((l_extendedprice - lo) / ((hi - lo) / 10)), 9)
        |            AS INTEGER) AS bin,
        |  COUNT(*) AS n
        |FROM lineitem, mm
        |GROUP BY bin ORDER BY bin""".stripMargin),

    // ----- approximate percentiles (GK sketch) next to the exact gate:
    // like a_approx_distinct, the sketch estimate is engine-internal, so
    // the gate pins the EXACT values plus a tolerance flag on the sketch.
    // approx_percentile(accuracy=1000) errors by at most 0.1% of rank —
    // the flag allows rank slack of 1% of rows, value-compared through
    // the exact quantile at the slacked ranks.
    Gate("a_approx_percentile", ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      // ONE exact-percentile aggregation for band + midpoint (each
      // percentile() call sorts its group's values independently)
      val grouped = li.groupBy(col("l_returnflag"))
        .agg(
          expr("percentile(l_extendedprice, array(0.49, 0.5, 0.51))").as("q"),
          expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("ap50"))
      grouped.select(col("l_returnflag"),
          element_at(col("q"), 2).as("exact_p50"),
          (col("ap50") >= element_at(col("q"), 1) &&
            col("ap50") <= element_at(col("q"), 3)).as("approx_ok"))
        .orderBy(col("l_returnflag"))
    }),
      // the sketch estimate is engine-internal (like the HLL gate): pin the
      // exact quantile, assert the sketch lands inside the ±1%-rank band
      """SELECT l_returnflag,
        |  quantile_cont(l_extendedprice, 0.5) AS exact_p50,
        |  TRUE AS approx_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // ----- Cohen's kappa: chance-corrected agreement between the langid
    // detector and the ground-truth lang column — the metric a labeling
    // pipeline reports where raw accuracy flatters skewed label
    // distributions (Cohen 1960). Same prediction chain as
    // text_langid_confusion (driver-green); the kappa identity is kept in
    // EXACT integers — kappa = (N·agree − Σ row_k·col_k) / (N² − Σ
    // row_k·col_k) — with ONE mirrored IEEE division at emission. The
    // |langs|-sized marginal frames broadcast; one corpus scan
    Gate("a_cohens_kappa", ((s, dir) => {
      val cells = Tables.documents(s, dir)
        .filter(col("text").isNotNull)
        .withColumn("__hits", TextFns.stopwordHits(col("text")))
        .select(col("lang"),
          TextFns.langIdFrom(col("text"), col("__hits")).as("lang_pred"))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint(true) // three tiny consumers, one corpus pass
      val tot = cells.agg(sum(col("n")).as("n_items"),
        sum(when(col("lang") === col("lang_pred"), col("n"))
          .otherwise(lit(0L))).as("n_agree"))
      val rows = cells.groupBy(col("lang").as("label"))
        .agg(sum(col("n")).as("r"))
      val cols = cells.groupBy(col("lang_pred").as("label"))
        .agg(sum(col("n")).as("c"))
      val pe = rows.join(cols, Seq("label"))
        .agg(coalesce(sum(col("r") * col("c")), lit(0L)).as("pe_num"))
      tot.crossJoin(broadcast(pe))
        .select(col("n_items"), col("n_agree"), col("pe_num"),
          ((col("n_items") * col("n_agree") - col("pe_num")).cast("double") /
            (col("n_items") * col("n_items") - col("pe_num")).cast("double"))
            .as("kappa"))
    }),
      {
        val scoreExprs = TextFns.stopwords.toSeq.sortBy(_._1).map { case (l, ws) =>
          s"len(regexp_extract_all(lower(text), '\\b(${ws.mkString("|")})\\b')) AS s_$l"
        }.mkString(",\n  ")
        """WITH scored AS (
          |SELECT lang, text,
          |  SCORES
          |FROM documents WHERE text IS NOT NULL
          |), pred AS (
          |SELECT lang,
          |  CASE WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
          |       WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
          |       WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
          |       WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
          |       WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
          |       ELSE 'es' END AS lang_pred
          |FROM scored
          |), cells AS (
          |SELECT lang, lang_pred, CAST(COUNT(*) AS BIGINT) AS n
          |FROM pred GROUP BY lang, lang_pred
          |), tot AS (
          |SELECT CAST(SUM(n) AS BIGINT) AS n_items,
          |  CAST(SUM(CASE WHEN lang = lang_pred THEN n ELSE 0 END) AS BIGINT)
          |    AS n_agree
          |FROM cells
          |), rows_ AS (
          |SELECT lang AS label, CAST(SUM(n) AS BIGINT) AS r
          |FROM cells GROUP BY lang
          |), cols_ AS (
          |SELECT lang_pred AS label, CAST(SUM(n) AS BIGINT) AS c
          |FROM cells GROUP BY lang_pred
          |), pe AS (
          |SELECT CAST(COALESCE(SUM(r * c), 0) AS BIGINT) AS pe_num
          |FROM rows_ JOIN cols_ USING (label)
          |)
          |SELECT n_items, n_agree, pe_num,
          |  CAST(n_items * n_agree - pe_num AS DOUBLE)
          |    / CAST(n_items * n_items - pe_num AS DOUBLE) AS kappa
          |FROM tot CROSS JOIN pe""".stripMargin
          .replace("SCORES", scoreExprs)
      }),

    // ----- exact percentiles (sort-based interpolation) per group
    Gate("a_percentile", ((s, dir) =>
      Tables.events(s, dir).groupBy(col("event_type"))
        .agg(expr("percentile(value, 0.5)").as("p50"),
          expr("percentile(value, 0.95)").as("p95"))
        .orderBy(col("event_type"))),
      """SELECT event_type,
        |  quantile_cont(value, 0.5) AS p50,
        |  quantile_cont(value, 0.95) AS p95
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // ----- skew toolkit: salted two-phase aggregation on the same hot
    // key. Partial sums go through the DECIMAL(18,6) carrier, so the
    // two-phase result is bit-identical to a one-phase aggregate — which
    // is exactly what the oracle computes.
    Gate("a_skewed_salted", ((s, dir) =>
      Skew.saltedAgg(
          Tables.lineitem(s, dir)
            .select(col("l_returnflag"), col("l_linestatus"),
              col("l_orderkey"), col("l_quantity")),
          key = Seq("l_returnflag", "l_linestatus"), n = 8,
          saltSource = col("l_orderkey"),
          aggs = Seq(
            ("sum_qty", dec(col("l_quantity")), (c: Column) => sum(c),
              (c: Column) => sum(c)),
            ("n", lit(1), (c: Column) => count(c), (c: Column) => sum(c))))
        .select(col("l_returnflag"), col("l_linestatus"),
          col("sum_qty").cast("double").as("sum_qty"),
          col("n").cast("bigint").as("n"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))),
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // ----- correlation/covariance from EXACT decimal sums: native corr()
    // accumulates doubles in partition order (non-deterministic across
    // cluster sizes and engines); the moment sums (Σx, Σy, Σxy, Σx², Σy²)
    // are exact in the decimal carrier, so the derived statistics are
    // bit-identical at any partition count — the same determinism contract
    // as every other aggregate here
    Gate("a_corr_stats", ((s, dir) => {
      val x = col("l_quantity")
      val y = col("l_extendedprice")
      val n = col("n").cast("double")
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sumExact(x).as("sx"), sumExact(y).as("sy"),
          sumExact(x * y).as("sxy"),
          sumExact(x * x).as("sxx"), sumExact(y * y).as("syy"))
        .select(col("l_returnflag"),
          col("n"),
          round((col("sxy") / n - col("sx") / n * (col("sy") / n)), 6)
            .as("covar_pop"),
          round((col("sxy") / n - col("sx") / n * (col("sy") / n)) /
            (sqrt(col("sxx") / n - (col("sx") / n) * (col("sx") / n)) *
             sqrt(col("syy") / n - (col("sy") / n) * (col("sy") / n))), 6)
            .as("corr"))
        .orderBy(col("l_returnflag"))
    }),
      """SELECT l_returnflag, n,
        |  ROUND(sxy / n - sx / n * (sy / n), 6) AS covar_pop,
        |  ROUND((sxy / n - sx / n * (sy / n)) /
        |        (sqrt(sxx / n - (sx / n) * (sx / n)) *
        |         sqrt(syy / n - (sy / n) * (sy / n))), 6) AS corr
        |FROM (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS syy
        |  FROM lineitem GROUP BY l_returnflag
        |)
        |ORDER BY l_returnflag""".stripMargin),

    // ----- Welch's unequal-variance t-test (Welch 1947) — the mean-shift
    // companion to a_ks_test's distribution-shape test: one conditional-
    // aggregation pass collects both groups' exact moments (counts +
    // decimal-carrier sums of x and x*x — the a_corr_stats discipline),
    // then t, the Welch-Satterthwaite dof, and the alpha=.05 decision are
    // a fixed IEEE op tree on bit-identical doubles, emitted RAW. One
    // scan, one 1-row reduce — trivially 100-TB-shaped
    // ----- Poisson bootstrap of the mean (Chamandy et al. 2012): all 32
    // deterministic resamples off ONE scan as stacked aggregates; weights
    // are Poisson(1) draws from pinned-integer hash thresholds (the DSIR
    // Gumbel discipline), value carrier is exact cents — the only float
    // op is the final BIGINT/BIGINT mean division (Drift scaladoc)
    Gate("a_bootstrap_poisson", ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("event_type") === "purchase" && col("value").isNotNull)
        .select(col("event_id"),
          floor(col("value") * 100 + lit(0.5)).cast("long").as("v_cents"))
      graft.operators.Drift.poissonBootstrapMeans(ev, "event_id", "v_cents",
        b = 32)
    }),
      // exact-integer moments in anchored cents (see the engine-side
      // comment: two float formulations measurably diverged); scale-0
      // sums cast to double are plain integer conversions — identical on
      graft.operators.Drift.poissonBootstrapOracleSql(b = 32)),

    Gate("a_welch_ttest", ((s, dir) => {
      // EXACT-INTEGER moments in anchored cents: prices are 2-decimal, so
      // xi = floor(x*100 + 0.5) - 5_000_000 is an exact BIGINT identical
      // on both engines (multiply/add correctly rounded on identical
      // doubles, floor exact). Two earlier float formulations MEASURABLY
      // diverged here: scale-6 decimal sums of raw squares exceed 2^53
      // unscaled (the a_linreg decimal->double rule), and a /2^10-scaled
      // variant mass-produced exact scale-6 ties (x/1024 has 6 fractional
      // bits) where Spark's string-based decimal cast and DuckDB's binary
      // rounding disagree. Integer moments dodge both: sums are BIGINT /
      // DECIMAL(,0) — scale-0 casts to double are plain integer
      // conversions, correctly rounded everywhere. t/dof are shift/scale
      // invariant; means map back at emission
      val xi = (floor(col("l_extendedprice") * lit(100.0) + lit(0.5))
        .cast("long") - lit(5000000L))
      val fA = col("l_returnflag") === "A"
      val fR = col("l_returnflag") === "R"
      val m = Tables.lineitem(s, dir)
        .filter(col("l_returnflag").isin("A", "R"))
        .agg(
          count(when(fA, lit(1))).cast("double").as("n1"),
          count(when(fR, lit(1))).cast("double").as("n2"),
          sum(when(fA, xi)).cast("double").as("sx1"),
          sum(when(fR, xi)).cast("double").as("sx2"),
          sum(when(fA, (xi * xi).cast("decimal(20,0)"))).cast("double")
            .as("sxx1"),
          sum(when(fR, (xi * xi).cast("decimal(20,0)"))).cast("double")
            .as("sxx2"))
      val mu1 = col("sx1") / col("n1"); val mu2 = col("sx2") / col("n2")
      val v1 = (col("sxx1") - col("sx1") * col("sx1") / col("n1")) /
        (col("n1") - lit(1.0))
      val v2 = (col("sxx2") - col("sx2") * col("sx2") / col("n2")) /
        (col("n2") - lit(1.0))
      val se1 = v1 / col("n1"); val se2 = v2 / col("n2")
      // t and dof computed entirely in the scaled units (both are
      // shift/scale invariant statistics); means mapped back at emission
      val t = (mu1 - mu2) / sqrt(se1 + se2)
      val dof = (se1 + se2) * (se1 + se2) /
        (se1 * se1 / (col("n1") - lit(1.0)) +
          se2 * se2 / (col("n2") - lit(1.0)))
      m.select(col("n1").cast("long").as("n1"),
        col("n2").cast("long").as("n2"),
        (mu1 / lit(100.0) + lit(50000.0)).as("mean1"),
        (mu2 / lit(100.0) + lit(50000.0)).as("mean2"),
        t.as("t_stat"), dof.as("dof"),
        (abs(t) > lit(1.96)).as("reject_h0"))
    }),
      // both engines — and the derived stats are a mirrored IEEE tree
      """WITH c AS (
        |  SELECT l_returnflag,
        |    CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) - 5000000
        |      AS xi
        |  FROM lineitem WHERE l_returnflag IN ('A', 'R')
        |), m AS (
        |  SELECT
        |    CAST(COUNT(CASE WHEN l_returnflag = 'A' THEN 1 END) AS DOUBLE)
        |      AS n1,
        |    CAST(COUNT(CASE WHEN l_returnflag = 'R' THEN 1 END) AS DOUBLE)
        |      AS n2,
        |    CAST(CAST(SUM(CASE WHEN l_returnflag = 'A' THEN xi END)
        |      AS BIGINT) AS DOUBLE) AS sx1,
        |    CAST(CAST(SUM(CASE WHEN l_returnflag = 'R' THEN xi END)
        |      AS BIGINT) AS DOUBLE) AS sx2,
        |    CAST(SUM(CASE WHEN l_returnflag = 'A'
        |      THEN CAST(xi * xi AS DECIMAL(20,0)) END) AS DOUBLE) AS sxx1,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R'
        |      THEN CAST(xi * xi AS DECIMAL(20,0)) END) AS DOUBLE) AS sxx2
        |  FROM c
        |), d AS (
        |  SELECT n1, n2, sx1 / n1 AS mu1, sx2 / n2 AS mu2,
        |    ((sxx1 - sx1 * sx1 / n1) / (n1 - 1.0)) / n1 AS se1,
        |    ((sxx2 - sx2 * sx2 / n2) / (n2 - 1.0)) / n2 AS se2
        |  FROM m
        |)
        |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        |  mu1 / 100.0 + 50000.0 AS mean1, mu2 / 100.0 + 50000.0 AS mean2,
        |  (mu1 - mu2) / sqrt(se1 + se2) AS t_stat,
        |  (se1 + se2) * (se1 + se2) /
        |    (se1 * se1 / (n1 - 1.0) + se2 * se2 / (n2 - 1.0)) AS dof,
        |  abs((mu1 - mu2) / sqrt(se1 + se2)) > 1.96 AS reject_h0
        |FROM d""".stripMargin),

    // ----- two-sample Kolmogorov-Smirnov drift test, EXACT: D =
    // max_x |F1(x) - F2(x)| restated over the common denominator n1*n2,
    // so the scan maximizes the INTEGER |c1*n2 - c2*n1| (c_i = cumulative
    // counts at each distinct value) and divides once at emission — IEEE
    // division of exact integers is correctly rounded, so ks_d is
    // bit-identical across engines with no carrier needed (all magnitudes
    // < 2^53 by construction: counts x counts). The decision bound is the
    // classic large-sample critical value c(.05)*sqrt((n1+n2)/(n1*n2)) —
    // sqrt is IEEE-exact on both engines. Shape: one value-keyed count
    // aggregate, one global cumsum window (at 100 TB: the two-pass
    // range-partitioned prefix-sum restatement, same note as
    // w_abc_classification), one 1-row broadcast of totals. Complements
    // quality_kl_drift (binned, distributional) with the exact
    // order-statistic test a feature-drift monitor actually runs
    Gate("a_ks_test", ((s, dir) =>
      graft.operators.Drift.ksTest(
        Tables.orders(s, dir)
          .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW")),
        value = col("o_totalprice"),
        isA = col("o_orderpriority") === "1-URGENT")),
      // window SUMs cast to BIGINT before arithmetic: DuckDB widens them to
      // HUGEINT, which reaches the driver's pandas as float and breaks the
      // value hash (the round-4 packing-oracle lesson)
      """WITH s AS (
        |  SELECT o_totalprice AS v, o_orderpriority = '1-URGENT' AS a
        |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
        |), per AS (
        |  SELECT v, SUM(CASE WHEN a THEN 1 ELSE 0 END) AS d1,
        |    SUM(CASE WHEN NOT a THEN 1 ELSE 0 END) AS d2
        |  FROM s GROUP BY v
        |), cum AS (
        |  SELECT
        |    CAST(SUM(d1) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c1,
        |    CAST(SUM(d2) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c2
        |  FROM per
        |), tot AS (
        |  SELECT CAST(SUM(d1) AS BIGINT) AS n1, CAST(SUM(d2) AS BIGINT) AS n2
        |  FROM per
        |), agg AS (
        |  SELECT n1, n2, CAST(MAX(ABS(c1 * n2 - c2 * n1)) AS BIGINT) AS ks_num
        |  FROM cum CROSS JOIN tot GROUP BY n1, n2
        |)
        |SELECT n1, n2, ks_num,
        |  CAST(ks_num AS DOUBLE) / CAST(n1 * n2 AS DOUBLE) AS ks_d,
        |  CAST(ks_num AS DOUBLE) / CAST(n1 * n2 AS DOUBLE) >
        |    1.358 * sqrt(CAST(n1 + n2 AS DOUBLE) / CAST(n1 * n2 AS DOUBLE))
        |    AS reject_h0
        |FROM agg""".stripMargin),

    // ----- Pearson chi-squared independence test, EXACT: each cell term
    // restated over the common denominator as (O*N - R*C)^2 * 10^6 div
    // (N*R*C) in integer arithmetic (Drift.contingency) — bit-identical on
    // any engine by construction (the a_ks_test/a_welch_ttest discipline
    // for CATEGORICAL drift). One corpus-wide count aggregate, then the
    // driver computes the category-bounded cell grid. Critical value is
    // chi2(.05, dof=8) for the 5x3 grid, in micro-units
    Gate("a_chi2_test", ((s, dir) =>
      graft.operators.Drift.chi2Test(
        Tables.events(s, dir)
          .filter(col("event_type").isNotNull && col("value").isNotNull),
        rowKey = col("event_type"),
        colKey = when(col("value") < 100.0, "low")
          .when(col("value") < 300.0, "mid").otherwise("high"),
        critMicro = 15507313L)
        .orderBy(col("rk"), col("ck"))),
      // all-integer micro-unit restatement: HUGEINT products, one `//`
      // integral division per cell, window SUMs cast back to BIGINT (the
      // a_ks_test HUGEINT rule) — identical to the engine kernel's
      // integer `div` arithmetic by construction
      """WITH base AS (
        |  SELECT event_type AS rk,
        |    CASE WHEN value < 100 THEN 'low'
        |         WHEN value < 300 THEN 'mid' ELSE 'high' END AS ck
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
        |), counts AS (
        |  SELECT rk, ck, COUNT(*) AS o FROM base GROUP BY rk, ck
        |), grid AS (
        |  SELECT r.rk, c.ck
        |  FROM (SELECT DISTINCT rk FROM counts) r
        |  CROSS JOIN (SELECT DISTINCT ck FROM counts) c
        |), cells AS (
        |  SELECT g.rk, g.ck, CAST(COALESCE(o, 0) AS BIGINT) AS o
        |  FROM grid g LEFT JOIN counts USING (rk, ck)
        |), dims AS (
        |  SELECT (SELECT COUNT(DISTINCT rk) FROM counts) AS nr,
        |         (SELECT COUNT(DISTINCT ck) FROM counts) AS nc
        |), tot AS (
        |  SELECT rk, ck, o,
        |    CAST(SUM(o) OVER (PARTITION BY rk) AS BIGINT) AS r,
        |    CAST(SUM(o) OVER (PARTITION BY ck) AS BIGINT) AS c,
        |    CAST(SUM(o) OVER () AS BIGINT) AS n
        |  FROM cells
        |), terms AS (
        |  SELECT rk, ck, o,
        |    CAST(CAST(r AS HUGEINT) * c * 1000000 // n AS BIGINT) AS e_micro,
        |    CASE WHEN r = 0 OR c = 0 THEN 0
        |      ELSE CAST(
        |        (CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c) *
        |        (CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c) * 1000000
        |        // (CAST(n AS HUGEINT) * r * c) AS BIGINT) END AS term_micro
        |  FROM tot
        |)
        |SELECT rk, ck, o, e_micro, term_micro,
        |  CAST(SUM(term_micro) OVER () AS BIGINT) AS chi2_micro,
        |  (SELECT (nr - 1) * (nc - 1) FROM dims) AS dof,
        |  CAST(SUM(term_micro) OVER () AS BIGINT) > 15507313 AS reject_h0
        |FROM terms ORDER BY rk, ck""".stripMargin),

    // ----- Cramér's V effect size over the same contingency grid: at
    // corpus scale ANY dependence is chi2-significant, so the monitor
    // thresholds association STRENGTH — v2 stays integer micro-units
    // (chi2_micro div (n*min(r-1,c-1))); the one emitted v is a single
    // IEEE sqrt of that exact integer
    Gate("a_cramers_v", ((s, dir) =>
      graft.operators.Drift.cramersV(
        Tables.events(s, dir)
          .filter(col("event_type").isNotNull && col("value").isNotNull),
        rowKey = col("event_type"),
        colKey = when(col("value") < 100.0, "low")
          .when(col("value") < 300.0, "mid").otherwise("high"))),
      // the chi2 grid aggregated to effect size: v2 integer micro-units,
      // one IEEE sqrt at emission
      """WITH base AS (
        |  SELECT event_type AS rk,
        |    CASE WHEN value < 100 THEN 'low'
        |         WHEN value < 300 THEN 'mid' ELSE 'high' END AS ck
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
        |), counts AS (
        |  SELECT rk, ck, COUNT(*) AS o FROM base GROUP BY rk, ck
        |), grid AS (
        |  SELECT r.rk, c.ck
        |  FROM (SELECT DISTINCT rk FROM counts) r
        |  CROSS JOIN (SELECT DISTINCT ck FROM counts) c
        |), cells AS (
        |  SELECT g.rk, g.ck, CAST(COALESCE(o, 0) AS BIGINT) AS o
        |  FROM grid g LEFT JOIN counts USING (rk, ck)
        |), tot AS (
        |  SELECT rk, ck, o,
        |    CAST(SUM(o) OVER (PARTITION BY rk) AS BIGINT) AS r,
        |    CAST(SUM(o) OVER (PARTITION BY ck) AS BIGINT) AS c,
        |    CAST(SUM(o) OVER () AS BIGINT) AS n
        |  FROM cells
        |), terms AS (
        |  SELECT o,
        |    CASE WHEN r = 0 OR c = 0 THEN 0
        |      ELSE CAST(
        |        (CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c) *
        |        (CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c) * 1000000
        |        // (CAST(n AS HUGEINT) * r * c) AS BIGINT) END AS term_micro
        |  FROM tot
        |), agg AS (
        |  SELECT CAST(SUM(o) AS BIGINT) AS n,
        |    (SELECT COUNT(DISTINCT rk) FROM counts) AS nr,
        |    (SELECT COUNT(DISTINCT ck) FROM counts) AS nc,
        |    CAST(SUM(term_micro) AS BIGINT) AS chi2_micro
        |  FROM terms
        |)
        |SELECT n, nr, nc, chi2_micro,
        |  CAST(chi2_micro // (n * (LEAST(nr, nc) - 1)) AS BIGINT)
        |    AS v2_micro,
        |  sqrt(CAST(chi2_micro // (n * (LEAST(nr, nc) - 1)) AS DOUBLE)
        |    / 1000000.0) AS v
        |FROM agg""".stripMargin),

    // ----- Mann-Whitney U rank-sum test with midrank ties, EXACT in
    // half-unit integers (2*midrank = 2*lt + eq + 1): the nonparametric
    // mean-shift companion to a_welch_ttest, same sample split as
    // a_ks_test; z is a mirrored IEEE tree over the exact integer
    // moments, 2^53-guarded inside the emitted column
    Gate("a_mannwhitney", ((s, dir) =>
      graft.operators.Drift.mannWhitneyU(
        Tables.orders(s, dir)
          .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW")),
        value = col("o_totalprice"),
        isA = col("o_orderpriority") === "1-URGENT")),
      // half-unit midranks keep every statistic integer (2*midrank =
      // 2*cumulative - cnt + 1); z is the identical IEEE op tree over the
      // exact moments cast to double
      """WITH s AS (
        |  SELECT o_totalprice AS v, o_orderpriority = '1-URGENT' AS a
        |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
        |), per AS (
        |  SELECT v, SUM(CASE WHEN a THEN 1 ELSE 0 END) AS d1, COUNT(*) AS cnt
        |  FROM s GROUP BY v
        |), rk AS (
        |  SELECT d1, cnt,
        |    CAST(SUM(cnt) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      * 2 - cnt + 1 AS rank2
        |  FROM per
        |), m AS (
        |  SELECT CAST(SUM(d1) AS BIGINT) AS n1,
        |    CAST(SUM(cnt - d1) AS BIGINT) AS n2,
        |    CAST(SUM(d1 * rank2) AS BIGINT) AS r1_2,
        |    CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS ties
        |  FROM rk
        |), d AS (
        |  SELECT n1, n2, r1_2 - n1 * (n1 + 1) AS u1_2, ties,
        |    CAST(n1 AS DOUBLE) AS n1d, CAST(n2 AS DOUBLE) AS n2d
        |  FROM m
        |), z AS (
        |  SELECT n1, n2, u1_2, n1 * n2 * 2 - u1_2 AS u2_2,
        |    (CAST(u1_2 AS DOUBLE) - n1d * n2d) / 2.0 /
        |      sqrt(n1d * n2d / 12.0 * (n1d + n2d + 1.0 -
        |        CAST(ties AS DOUBLE) /
        |          ((n1d + n2d) * (n1d + n2d - 1.0)))) AS z
        |  FROM d
        |)
        |SELECT n1, n2, u1_2, u2_2, z, abs(z) > 1.96 AS reject_h0
        |FROM z""".stripMargin),

    // ----- Spearman rank correlation per event_type (value vs time —
    // the monotone-trend drift screen): exact integer midrank moments
    // via the doubled-midrank trick, rho as a mirrored IEEE tree over
    // BIGINT→double casts (correctly-rounded int64 conversions on both
    // engines; no decimal-rescale risk)
    Gate("a_spearman", ((s, dir) =>
      graft.operators.Drift.spearman(Tables.events(s, dir),
          group = col("event_type"), x = col("ts"), y = col("value"))
        .withColumnRenamed("g", "event_type")
        .orderBy(col("event_type"))),
      graft.operators.Drift.spearmanOracleSql),

    // ----- Cohen's d effect size, URGENT vs LOW order values — the
    // "how big is the shift, in pooled standard deviations" companion to
    // a_mannwhitney's rejection decision: integer-unit quantized BIGINT
    // moments, one mirrored IEEE tree (int64->double casts are correctly
    // rounded at any magnitude — no decimal-rescale divergence)
    Gate("a_cohens_d", ((s, dir) =>
      graft.operators.Drift.cohensD(
        Tables.orders(s, dir)
          .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW")),
        value = col("o_totalprice"),
        isA = col("o_orderpriority") === "1-URGENT")),
      graft.operators.Drift.cohensDOracleSql),

    // ----- Wilcoxon signed-rank on the calendar-paired click/purchase
    // daily counts — the within-pair test completing the nonparametric
    // battery (MW two-sample, KW k-sample, this one paired): doubled
    // midranks over |diff|, zero diffs dropped, integer moments, the
    // tie-corrected normal z as one mirrored IEEE tree
    Gate("a_wilcoxon", ((s, dir) =>
      graft.operators.Drift.wilcoxonSignedRank(Tables.events(s, dir),
        group = col("event_type"), ts = col("ts"),
        keyA = "click", keyB = "purchase")),
      graft.operators.Drift.wilcoxonOracleSql(
      keyA = "click", keyB = "purchase")),

    // ----- Kruskal-Wallis H across the five event_type value
    // distributions — the k-group extension of a_mannwhitney, completing
    // the nonparametric family: exact doubled-midrank BIGINT moments off
    // the value-keyed aggregate, the per-group square term floor-divided
    // once in the decimal carrier (deterministic sub-ULP quantization —
    // never a partition-ordered float sum), H and tie-corrected H as
    // mirrored IEEE trees
    Gate("a_kruskal_wallis", ((s, dir) =>
      graft.operators.Drift.kruskalWallis(Tables.events(s, dir),
        group = col("event_type"), value = col("value"))),
      graft.operators.Drift.kruskalWallisOracleSql),

    // ----- Kendall tau-b per event_type between the daily count and the
    // daily value mass — a_spearman's pairwise-ordering sibling, computed
    // on the calendar-bounded daily frame so the quadratic pair stage is
    // |days|² per group at ANY corpus scale; pair counts exact BIGINT,
    // tau one mirrored IEEE tree at emission
    Gate("a_kendall_tau", ((s, dir) =>
      graft.operators.Drift.kendallDaily(Tables.events(s, dir),
          group = col("event_type"), ts = col("ts"), value = col("value"))
        .withColumnRenamed("g", "event_type")
        .orderBy(col("event_type"))),
      graft.operators.Drift.kendallOracleSql),

    // ----- Gini concentration of document length per lang (the corpus
    // report's "how concentrated are the bytes" line): rank-weighted
    // identity over the ascending sort, exact BIGINT moments, tie-order
    // invariant by construction; one rank window + one hash aggregate
    Gate("a_gini", ((s, dir) =>
      graft.operators.Drift.gini(Tables.documents(s, dir),
          group = col("lang"), x = col("n_chars"), tie = col("doc_id"))
        .withColumnRenamed("g", "lang")
        .orderBy(col("lang"))),
      graft.operators.Drift.giniOracleSql),

    // ----- exact OLS per group from moment sums (the a_corr_stats
    // discipline): slope/intercept/R^2 of value vs time computed from six
    // decimal-carrier moments — native regr_slope accumulates doubles in
    // partition order (non-deterministic); moment sums are exact decimals
    // cast ONCE to double, the derived stats are a fixed IEEE op tree,
    // and emission quantizes through the DECIMAL(18,6) carrier, never
    // round(). One hash-partial groupBy at any scale
    Gate("a_linreg", ((s, dir) => {
      // x = days since the dataset's FIRST day (integer, tens) — the
      // anchor keeps every moment's decimal sum under 2^53 unscaled,
      // where decimal->double casts are correctly rounded on BOTH
      // engines (measured: scale-12 / epoch-day moments exceed that and
      // DuckDB's unscaled-divide conversion drifts). Moments are exact:
      // integer sums, scale-6 decimal sums, and decimal*int products —
      // never a per-row decimal cast of a double product (also measured
      // diverging: the cast itself is a tie-rounding site). Derived
      // stats are a mirrored fixed IEEE op tree on bit-identical inputs,
      // emitted RAW (a DECIMAL(18,6) cast of an arbitrary quotient can
      // land a scale-7 tie where the engines' rounding styles disagree —
      // the third measured divergence on this query). r^2 is deliberately
      // absent: sum(y^2) needs scale-12 sums that break the 2^53 bound;
      // correlation is gated by a_corr_stats
      val base = Tables.events(s, dir)
        .filter(col("ts").isNotNull && col("value").isNotNull)
        .select(col("event_type"), to_date(col("ts")).as("day"),
          col("value").as("y"))
      val ev = base
        .crossJoin(broadcast(base.agg(min(col("day")).as("__d0"))))
        .select(col("event_type"),
          datediff(col("day"), col("__d0")).as("xi"), col("y"))
      val n = col("n").cast("double")
      val sNum = n * col("sxy") - col("sx") * col("sy")
      val sDen = n * col("sxx") - col("sx") * col("sx")
      val slope = sNum / sDen
      ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("xi")).cast("double").as("sx"),
          sumExact(col("y")).as("sy"),
          sum(dec(col("y")) * col("xi")).cast("double").as("sxy"),
          sum((col("xi") * col("xi")).cast("long")).cast("double").as("sxx"))
        .select(col("event_type"), col("n"),
          slope.as("slope"),
          ((col("sy") - slope * col("sx")) / n).as("intercept"))
        .orderBy(col("event_type"))
    }),
      // the same anchored integer/scale-6 exact moments and mirrored op
      // tree; every decimal->double cast stays under 2^53 unscaled
      """WITH d0 AS (
        |  SELECT MIN(CAST(ts AS DATE)) AS d0 FROM events
        |  WHERE ts IS NOT NULL AND value IS NOT NULL
        |), pts AS (
        |  SELECT event_type,
        |    CAST(CAST(ts AS DATE) - d0 AS INTEGER) AS xi, value AS y
        |  FROM events CROSS JOIN d0
        |  WHERE ts IS NOT NULL AND value IS NOT NULL
        |), m AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(xi) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(y AS DECIMAL(18,6)) * xi) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(xi * xi AS BIGINT)) AS DOUBLE) AS sxx
        |  FROM pts GROUP BY 1
        |), d AS (
        |  SELECT event_type, n, sx, sy,
        |    CAST(n AS DOUBLE) * sxy - sx * sy AS num,
        |    CAST(n AS DOUBLE) * sxx - sx * sx AS den
        |  FROM m
        |)
        |SELECT event_type, n,
        |  num / den AS slope,
        |  (sy - num / den * sx) / CAST(n AS DOUBLE) AS intercept
        |FROM d ORDER BY event_type""".stripMargin),

    // ----- non-hierarchical GROUPING SETS (rollup/cube cover the
    // hierarchical forms): two independent one-dimension aggregates in a
    // single pass, via the SQL front door — the DataFrame API deliberately
    // has no grouping-sets builder
    Gate("a_grouping_sets", ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("orders")
      s.sql("""SELECT o_orderstatus, o_orderpriority,
              |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total,
              |  COUNT(*) AS n
              |FROM orders
              |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
              |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"""
        .stripMargin)
    }),
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total,
        |  COUNT(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin),

    // ----- z-score outlier screen: per-type mean/std from EXACT moment
    // sums (the a_corr_stats determinism contract), outliers flagged at
    // |z| > 2 — group stats broadcast back, so the screen is one narrow
    // pass plus a metadata-sized join
    Gate("a_zscore_outliers", ((s, dir) => {
      val x = col("value")
      val n = col("n").cast("double")
      val stats = Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sumExact(x).as("sx"), sumExact(x * x).as("sxx"))
        .select(col("event_type"),
          (col("sx") / n).as("mean"),
          sqrt(col("sxx") / n - (col("sx") / n) * (col("sx") / n)).as("std"))
      Tables.events(s, dir)
        .join(broadcast(stats), Seq("event_type"))
        .select(col("event_type"), col("event_id"),
          round((x - col("mean")) / col("std"), 6).as("z"))
        .filter(abs((x - col("mean")) / col("std")) > 2.0)
        .orderBy(col("event_id"))
    }),
      """WITH stats AS (
        |  SELECT event_type,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mean,
        |    sqrt(CAST(SUM(CAST(value * value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
        |      - (CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*))
        |        * (CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)))
        |      AS std
        |  FROM events GROUP BY event_type
        |)
        |SELECT e.event_type, e.event_id,
        |  ROUND((e.value - s.mean) / s.std, 6) AS z
        |FROM events e JOIN stats s ON e.event_type = s.event_type
        |WHERE abs((e.value - s.mean) / s.std) > 2.0
        |ORDER BY e.event_id""".stripMargin),

    // ----- weighted mean (sum(x*w)/sum(w) per group), both sums through
    // the decimal carrier — one partial-aggregated shuffle
    Gate("a_weighted_avg", ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(sumExact(col("l_extendedprice") * col("l_quantity")).as("swx"),
          sumExact(col("l_quantity")).as("sw"))
        .select(col("l_returnflag"),
          round(col("swx") / col("sw"), 6).as("weighted_avg_price"))
        .orderBy(col("l_returnflag"))),
      """SELECT l_returnflag,
        |  ROUND(CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(18,6))) AS DOUBLE)
        |    / CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE), 6)
        |    AS weighted_avg_price
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin),

    // ----- equi-DEPTH histogram (a_histogram covers equi-width): quartile
    // buckets via ntile over a total (value, id) order, per-bucket
    // count/min/max — the sort is the one wide step, bucket stats
    // partial-aggregate
    Gate("a_histogram_eqdepth", ((s, dir) => {
      val w = Window.orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.orders(s, dir)
        .filter(col("o_orderkey") % 40 === 0)
        .select(col("o_orderkey"), col("o_totalprice"),
          ntile(4).over(w).as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("o_totalprice")).as("lo"),
          max(col("o_totalprice")).as("hi"))
        .orderBy(col("bucket"))
    }),
      """WITH bucketed AS (
        |  SELECT o_orderkey, o_totalprice,
        |    ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
        |  FROM orders WHERE o_orderkey % 40 = 0
        |)
        |SELECT bucket, COUNT(*) AS n, MIN(o_totalprice) AS lo,
        |  MAX(o_totalprice) AS hi
        |FROM bucketed GROUP BY bucket
        |ORDER BY bucket""".stripMargin),

    // ----- exact per-group mode with a deterministic tiebreak (smallest
    // value wins): count-per-(group,value) partial-aggregates map-side, so
    // the shuffle carries one row per distinct pair, then a k-row window
    // picks the winner — no sort of the raw table at any scale
    Gate("a_mode", ((s, dir) => {
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("n").desc, col("l_quantity").asc)
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_quantity"))
        .agg(count(lit(1)).as("n"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("l_returnflag"), col("l_quantity").as("mode_qty"),
          col("n").as("n_occurrences"))
        .orderBy(col("l_returnflag"))
    }),
      """WITH counts AS (
        |  SELECT l_returnflag, l_quantity, COUNT(*) AS n
        |  FROM lineitem GROUP BY l_returnflag, l_quantity
        |), ranked AS (
        |  SELECT l_returnflag, l_quantity, n,
        |    ROW_NUMBER() OVER (PARTITION BY l_returnflag
        |                       ORDER BY n DESC, l_quantity ASC) AS rn
        |  FROM counts
        |)
        |SELECT l_returnflag, l_quantity AS mode_qty, n AS n_occurrences
        |FROM ranked WHERE rn = 1
        |ORDER BY l_returnflag""".stripMargin),

    // ----- count-min-sketch heavy hitters: frequency estimates from a
    // bounded depth×width grid (fixed memory at ANY key cardinality), MIN
    // over a key's buckets; the gate pins the estimates exactly AND the
    // sketch's one-sided error guarantee (never undercounts)
    Gate("a_heavy_hitters", ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("user_id"))
      val grid = graft.operators.CountMin.sketch(ev, "user_id",
        depth = 3, width = 256)
      val top = ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("user_id")).limit(5)
      graft.operators.CountMin.estimate(top.select(col("user_id")),
          "user_id", grid, depth = 3, width = 256)
        .join(broadcast(top), Seq("user_id"))
        .select(col("user_id"), col("n_exact"), col("cms_estimate"),
          (col("cms_estimate") >= col("n_exact")).as("never_undercounts"))
        .orderBy(col("n_exact").desc, col("user_id"))
    }),
      {
        val bucket = graft.functions.SketchOracleSql.fnvFold(
          "'cms-' || CAST(j AS VARCHAR) || '|' || CAST(user_id AS VARCHAR)")
        s"""WITH lanes AS (
           |  SELECT user_id, j,
           |    CAST($bucket % 256 AS BIGINT) AS bucket
           |  FROM (SELECT DISTINCT user_id FROM events) u
           |  CROSS JOIN (SELECT UNNEST(range(0, 3)) AS j)
           |), grid AS (
           |  SELECT l.j, l.bucket, COUNT(*) AS n
           |  FROM events e JOIN lanes l ON e.user_id = l.user_id
           |  GROUP BY l.j, l.bucket
           |), top AS (
           |  SELECT user_id, COUNT(*) AS n_exact
           |  FROM events GROUP BY user_id
           |  ORDER BY n_exact DESC, user_id LIMIT 5
           |), est AS (
           |  SELECT t.user_id, t.n_exact, MIN(g.n) AS cms_estimate
           |  FROM top t
           |  JOIN lanes l ON l.user_id = t.user_id
           |  JOIN grid g ON g.j = l.j AND g.bucket = l.bucket
           |  GROUP BY t.user_id, t.n_exact
           |)
           |SELECT user_id, n_exact, cms_estimate,
           |  cms_estimate >= n_exact AS never_undercounts
           |FROM est ORDER BY n_exact DESC, user_id""".stripMargin
      }),

    // ----- conditional/selective aggregate family: count_if, bool_and,
    // bool_or, max_by/min_by (arg-max on the unique event_id key, so the
    // pick is deterministic) — one agg pass, no self-joins
    Gate("a_agg_family", ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(count_if(col("value") > 100).as("n_big"),
          bool_and(col("value").isNotNull).as("all_valued"),
          bool_or(col("value") > 900).as("any_huge"),
          max_by(unix_micros(col("ts")), col("event_id")).as("us_of_last"),
          min_by(unix_micros(col("ts")), col("event_id")).as("us_of_first"))
        .orderBy(col("event_type"))),
      """SELECT event_type,
        |  COUNT(*) FILTER (WHERE value > 100) AS n_big,
        |  BOOL_AND(value IS NOT NULL) AS all_valued,
        |  BOOL_OR(value > 900) AS any_huge,
        |  MAX_BY(epoch_us(ts), event_id) AS us_of_last,
        |  MIN_BY(epoch_us(ts), event_id) AS us_of_first
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin),

    // ----- re-aggregatable sketch partials (the warehouse rollup
    // discipline): per-(type, day) HLL sketches stored as binary state,
    // merged per type with hll_union_agg — distinct-count rollups without
    // re-reading the fact table. Estimate gated by a 5% band around the
    // exact count (same contract as a_approx_distinct: the sketch bytes
    // are engine-internal by design)
    Gate("a_hll_partials", ((s, dir) => {
      val partials = Tables.events(s, dir)
        .withColumn("day", to_date(col("ts")))
        .groupBy(col("event_type"), col("day"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"),
          countDistinct(col("user_id")).as("__d"))
      val exact = Tables.events(s, dir).groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_users"))
      partials.groupBy(col("event_type"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk")))
          .as("__approx"), count(lit(1)).as("n_partials"))
        .join(exact, Seq("event_type"))
        .select(col("event_type"), col("n_partials"), col("exact_users"),
          (abs(col("__approx") - col("exact_users")).cast("double") /
            col("exact_users") <= 0.05).as("merge_ok"))
        .orderBy(col("event_type"))
    }),
      """SELECT event_type,
        |  COUNT(DISTINCT CAST(ts AS DATE)) AS n_partials,
        |  COUNT(DISTINCT user_id) AS exact_users,
        |  TRUE AS merge_ok
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin),

    // ----- theta sketch set algebra (Apache DataSketches): distinct-user
    // union / intersection / difference across behavior segments computed
    // on SKETCH STATE, never re-reading raw keys — the set arithmetic HLL
    // cannot do (HLL unions but never intersects/differences). The
    // audience-overlap primitive at 100 TB: one sketch per segment, set
    // ops compose on the driver-sized state. Estimates gated by the 5%
    // band around the exact rollup (a_hll_partials contract; at gate
    // scale theta runs in exact mode, so the band is tight by design).
    Gate("a_theta_setops", ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("user_id").isNotNull &&
          col("event_type").isin("click", "purchase"))
      val sk = ev.groupBy(col("event_type"))
        .agg(theta_sketch_agg(col("user_id")).as("sk"),
          countDistinct(col("user_id")).as("exact"))
      val a = sk.filter(col("event_type") === "click")
        .select(col("sk").as("ska"), col("exact").as("n_click_users"))
      val b = sk.filter(col("event_type") === "purchase")
        .select(col("sk").as("skb"), col("exact").as("n_purchase_users"))
      val ex = ev.groupBy(col("user_id")).agg(
          max(when(col("event_type") === "click", 1).otherwise(0)).as("c"),
          max(when(col("event_type") === "purchase", 1).otherwise(0)).as("p"))
        .agg(count(lit(1)).as("exact_union"),
          sum(when(col("c") === 1 && col("p") === 1, 1L).otherwise(0L))
            .as("exact_inter"),
          sum(when(col("c") === 1 && col("p") === 0, 1L).otherwise(0L))
            .as("exact_click_only"))
      // empty-set edge: theta ops over no rows estimate NULL/0 and the
      // relative band is undefined — exact-zero demands estimate zero
      def ok(est: Column, exact: Column) = {
        val e = coalesce(est.cast("double"), lit(0.0))
        when(exact === 0, e === 0.0).otherwise(abs(e - exact) / exact <= 0.05)
      }
      a.crossJoin(b).crossJoin(broadcast(ex))
        .select(col("n_click_users"), col("n_purchase_users"),
          col("exact_union"), col("exact_inter"), col("exact_click_only"),
          ok(theta_sketch_estimate(theta_union(col("ska"), col("skb"))),
            col("exact_union")).as("union_ok"),
          ok(theta_sketch_estimate(theta_intersection(col("ska"), col("skb"))),
            col("exact_inter")).as("inter_ok"),
          ok(theta_sketch_estimate(theta_difference(col("ska"), col("skb"))),
            col("exact_click_only")).as("diff_ok"))
    }),
      // exact set cardinalities; the band flags are engine-side assertions
      """WITH seg AS (
        |  SELECT user_id,
        |    MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
        |  FROM events
        |  WHERE user_id IS NOT NULL AND event_type IN ('click', 'purchase')
        |  GROUP BY user_id
        |)
        |SELECT
        |  CAST((SELECT COUNT(DISTINCT user_id) FROM events
        |        WHERE user_id IS NOT NULL AND event_type = 'click')
        |    AS BIGINT) AS n_click_users,
        |  CAST((SELECT COUNT(DISTINCT user_id) FROM events
        |        WHERE user_id IS NOT NULL AND event_type = 'purchase')
        |    AS BIGINT) AS n_purchase_users,
        |  CAST(COUNT(*) AS BIGINT) AS exact_union,
        |  CAST(SUM(CASE WHEN c = 1 AND p = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS exact_inter,
        |  CAST(SUM(CASE WHEN c = 1 AND p = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS exact_click_only,
        |  TRUE AS union_ok, TRUE AS inter_ok, TRUE AS diff_ok
        |FROM seg""".stripMargin),
  )
}
