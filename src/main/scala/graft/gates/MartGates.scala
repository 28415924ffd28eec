package graft
package gates

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Fns._
import graft.operators.Reshape
import graft.plans.{IdaMart, IdaTransform, TaxaVariacao}
import graft.sources.{RawIngest, Tables}
import SparkEntry.{factLoadSql, quotedFixturePath, rawFixtures}

/** The IDA star-schema mart and TPC-H gates: the flagship
  * `vw_taxa_variacao` query, the S4-S8 ETL steps (raw ingest, dimension
  * builders, idempotent fact load), the TPC-H queries, and the early
  * reshape/union/profile operators gated over the same tables. */
private[graft] object MartGates {

  /** pt-BR month-name CASE for oracle SQL (mirrors Fns.ptBrMonthName). */
  private val mesNomeSql: String =
    "CASE mes " + Seq("Janeiro", "Fevereiro", "Março", "Abril", "Maio",
      "Junho", "Julho", "Agosto", "Setembro", "Outubro", "Novembro",
      "Dezembro").zipWithIndex
      .map { case (n, i) => s"WHEN ${i + 1} THEN '$n'" }
      .mkString(" ") + " END"

  private lazy val s7FactLoadSql: String = factLoadSql("")

  val gates: Seq[Gate] = Seq(
    // ----- flagship: SURVEY §3 E3 (J1-J4, P4-P5, A1-A3, W1-W2, F1-F6, O1)
    Gate("flagship_taxa_variacao", ((s, dir) => TaxaVariacao(s, dir)),
      TaxaVariacao.oracleSql),

    // ----- A1/A2-class aggregation (TPC-H Q1 shape) on lineitem
    Gate("q1_agg", ((s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-01"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sumExact(col("l_quantity")).as("sum_qty"),
          sumExact(col("l_extendedprice")).as("sum_base_price"),
          sumExact(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("sum_disc_price"),
          avgExact(col("l_quantity")).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))),
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // ----- J1/J2-class star join: orders |X| customer |X| nation |X| region
    Gate("j1_star_join", ((s, dir) => {
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir)
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"), year(col("o_orderdate")).as("ano"))
        .agg(sumExact(col("o_totalprice")).as("receita"),
             count(lit(1)).as("n_pedidos"))
        .orderBy(col("r_name"), col("n_name"), col("ano"))
    }),
      """SELECT r_name, n_name, CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS ano,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS receita,
        |  COUNT(*) AS n_pedidos
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name, ano
        |ORDER BY r_name, n_name, ano""".stripMargin),

    // ----- S8/A4: dim_tempo build (distinct + surrogate keys + F14/F15)
    Gate("s8_dim_tempo", ((s, dir) =>
      IdaMart.dimTempo(IdaMart.records(s, dir)).orderBy(col("tempo_key"))),
      s"""WITH months AS (
         |  SELECT DISTINCT date_trunc('month', o_orderdate) AS ano_mes FROM orders
         |), base AS (
         |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY ano_mes) AS INTEGER) AS tempo_key,
         |         CAST(ano_mes AS DATE) AS ano_mes,
         |         CAST(EXTRACT(year FROM ano_mes) AS INTEGER) AS ano,
         |         CAST(EXTRACT(month FROM ano_mes) AS INTEGER) AS mes,
         |         CAST(EXTRACT(quarter FROM ano_mes) AS INTEGER) AS trimestre,
         |         CAST(FLOOR((EXTRACT(month FROM ano_mes) - 1) / 6) + 1 AS INTEGER) AS semestre
         |  FROM months
         |)
         |SELECT tempo_key, ano_mes, ano, mes, $mesNomeSql AS mes_nome,
         |       trimestre, semestre
         |FROM base ORDER BY tempo_key""".stripMargin),

    // ----- S8/A4: the other three dimension builders, individually
    // oracle-gated (previously exercised only through s7_fact_load) —
    // same driver-ranked surrogate keys, same metadata-cardinality bound
    Gate("s8_dim_grupo", ((s, dir) =>
      IdaMart.dimGrupo(IdaMart.records(s, dir)).orderBy(col("grupo_key"))),
      """WITH ks AS (
        |  SELECT DISTINCT o_orderpriority AS k FROM orders
        |  WHERE o_orderpriority IS NOT NULL
        |)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY k) AS INTEGER) AS grupo_key,
        |  k AS grupo_codigo, k AS grupo_nome,
        |  upper(regexp_replace(k, '[^A-Za-z0-9]+', '_', 'g'))
        |    AS grupo_normalizado,
        |  TRUE AS ativo
        |FROM ks ORDER BY grupo_key""".stripMargin),

    Gate("s8_dim_servico", ((s, dir) =>
      IdaMart.dimServico(IdaMart.records(s, dir))
        .orderBy(col("servico_key"))),
      """WITH ks AS (
        |  SELECT DISTINCT o_orderstatus AS k FROM orders
        |  WHERE o_orderstatus IS NOT NULL
        |)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY k) AS INTEGER)
        |    AS servico_key,
        |  k AS servico_codigo, k AS servico_nome,
        |  'Servico ' || k AS servico_descricao,
        |  TRUE AS ativo
        |FROM ks ORDER BY servico_key""".stripMargin),

    Gate("s8_dim_variavel", ((s, dir) =>
      IdaMart.dimVariavel(IdaMart.records(s, dir))
        .orderBy(col("variavel_key"))),
      """WITH ks AS (SELECT DISTINCT 'TOTALPRICE' AS k FROM orders)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY k) AS INTEGER)
        |    AS variavel_key,
        |  k AS variavel_codigo, k AS variavel_nome,
        |  'Variavel ' || k AS variavel_descricao,
        |  TRUE AS ativo
        |FROM ks ORDER BY variavel_key""".stripMargin),

    // ----- R1: unpivot lineitem measures wide -> long
    Gate("r1_unpivot", ((s, dir) =>
      Reshape.unpivot(
        Tables.lineitem(s, dir).filter(col("l_orderkey") % 100 === 0)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
            col("l_extendedprice"), col("l_discount"), col("l_tax")),
        ids = Seq("l_orderkey", "l_linenumber"),
        values = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("variavel"))),
      """WITH src AS (
        |  SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
        |         l_discount, l_tax
        |  FROM lineitem WHERE l_orderkey % 100 = 0
        |)
        |SELECT l_orderkey, l_linenumber, variavel, valor FROM (
        |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS variavel, l_quantity AS valor FROM src
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM src
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM src
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM src
        |)
        |ORDER BY l_orderkey, l_linenumber, variavel""".stripMargin),

    // ----- W3: forward-fill (pandas ffill analog) over events
    Gate("w3_forward_fill", ((s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("value", when(col("event_id") % 7 === 0, lit(null))
          .otherwise(col("value")))
      Reshape.forwardFill(ev, orderCol = "event_id", fillCols = Seq("value"),
          partitionCols = Seq("user_id"))
        .select(col("event_id"), col("user_id"), col("value"))
        .orderBy(col("event_id"))
    }),
      """SELECT event_id, user_id,
        |  LAST_VALUE(CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
        |FROM events
        |ORDER BY event_id""".stripMargin),

    // ----- S7/J3/F8: idempotent fact load — loading the same batch twice
    // yields the single-load fact (ON CONFLICT DO NOTHING semantics)
    Gate("s7_fact_load", ((s, dir) => {
      val recs = IdaMart.records(s, dir)
      val doubled = recs.unionAll(recs)                     // U1 bag union
      IdaMart.fact(doubled)
        .select(col("tempo_key"), col("grupo_key"), col("servico_key"),
          col("variavel_key"), col("valor").cast("double").as("valor"),
          col("arquivo_origem"), col("linha_origem"), col("hash_registro"))
        .orderBy(col("hash_registro"))
    }),
      s7FactLoadSql),

    // ----- P1/F9: blank filter + whitespace-collapse clean on documents
    Gate("p1_clean_filter", ((s, dir) =>
      Tables.documents(s, dir)
        .filter(col("text").isNotNull && trim(col("text")) =!= "")
        .select(col("doc_id"), cleanText(col("text")).as("texto_limpo"),
          upper(col("lang")).as("lang"))
        .orderBy(col("doc_id"))),
      """SELECT doc_id,
        |  regexp_replace(trim(text), '\s+', ' ', 'g') AS texto_limpo,
        |  upper(lang) AS lang
        |FROM documents
        |WHERE text IS NOT NULL AND trim(text) <> ''
        |ORDER BY doc_id""".stripMargin),

    // ----- F12/P2: locale number parse on synthesized dirty strings
    Gate("f12_locale_parse", ((s, dir) =>
      Tables.events(s, dir)
        .withColumn("bruto",
          when(col("event_id") % 11 === 0, lit("-"))
            .when(col("event_id") % 13 === 0, lit(""))
            .otherwise(concat(
              regexp_replace(col("value").cast("string"), "\\.", ","),
              lit("%"))))
        .select(col("event_id"), col("bruto"),
          parseLocaleNumber(col("bruto")).as("valor"))
        .filter(col("valor").isNotNull)                      // P2
        .orderBy(col("event_id"))),
      """WITH dirty AS (
        |  SELECT event_id,
        |    CASE WHEN event_id % 11 = 0 THEN '-'
        |         WHEN event_id % 13 = 0 THEN ''
        |         ELSE replace(CAST(value AS VARCHAR), '.', ',') || '%'
        |    END AS bruto
        |  FROM events
        |)
        |SELECT event_id, bruto,
        |  TRY_CAST(replace(replace(trim(bruto), '%', ''), ',', '.') AS DOUBLE) AS valor
        |FROM dirty
        |WHERE TRY_CAST(replace(replace(trim(bruto), '%', ''), ',', '.') AS DOUBLE) IS NOT NULL
        |ORDER BY event_id""".stripMargin),

    // ----- quarantine routing (the scale-grade P1/P2: failing rows are
    // TAGGED with the first broken rule and side-channeled, not silently
    // dropped — Quarantine scaladoc). Same planted dirty cells as
    // f12_locale_parse plus an unparseable 'n/d' marker; the two gates
    // together cover both sides of the split from one rule set.
    Gate("p2_quarantine_split", ((s, dir) => {
      val planted = Tables.events(s, dir)
        .withColumn("bruto",
          when(col("event_id") % 11 === 0, lit("-"))
            .when(col("event_id") % 13 === 0, lit(""))
            .when(col("event_id") % 17 === 0, lit("n/d"))
            .otherwise(concat(
              regexp_replace(col("value").cast("string"), "\\.", ","),
              lit("%"))))
        .select(col("event_id"), col("bruto"))
      graft.operators.Quarantine.quarantined(planted, Seq(
          "blank_cell" -> (trim(col("bruto")).isin("", "-")),
          "unparseable_value" -> parseLocaleNumber(col("bruto")).isNull))
        .select(col("event_id"), col("bruto"), col("reason"))
        .orderBy(col("event_id"))
    }),
      // first-match rule order restated: blank before unparseable
      """WITH dirty AS (
        |  SELECT event_id,
        |    CASE WHEN event_id % 11 = 0 THEN '-'
        |         WHEN event_id % 13 = 0 THEN ''
        |         WHEN event_id % 17 = 0 THEN 'n/d'
        |         ELSE replace(CAST(value AS VARCHAR), '.', ',') || '%'
        |    END AS bruto
        |  FROM events
        |)
        |SELECT event_id, bruto,
        |  CASE WHEN trim(bruto) IN ('', '-') THEN 'blank_cell'
        |       WHEN TRY_CAST(replace(replace(trim(bruto), '%', ''), ',', '.')
        |            AS DOUBLE) IS NULL THEN 'unparseable_value'
        |  END AS reason
        |FROM dirty
        |WHERE trim(bruto) IN ('', '-')
        |  OR TRY_CAST(replace(replace(trim(bruto), '%', ''), ',', '.')
        |     AS DOUBLE) IS NULL
        |ORDER BY event_id""".stripMargin),

    // ----- S4/S5/S6 end-to-end: raw headerless export from disk -> header
    // probe -> re-read with detected header -> full transform. The oracle
    // reads the SAME file with DuckDB (skip = the probed header row).
    Gate("s4_raw_ingest", ((s, _) =>
      IdaTransform.rawWideToRecords(
          RawIngest.readIdaExport(s, SparkEntry.rawFixturePath))
        .orderBy(col("linha_origem"), col("ano_mes"))),
      {
        val (path, name, hdr, months) = rawFixtures(1)
        RawIngest.ingestOracleSql(path, name, hdr, months)
      }),

    // ----- the SAME ingest over a comma-delimited quoted-field export,
    // with the delimiter AUTODETECTED (RawIngest.detectDelim): the
    // tolerant-reader stage the reference gets from pandas, gated on a
    // second physical encoding end-to-end (probe -> quoted parse ->
    // transform); the oracle re-reads the quoted file with delim=','
    Gate("s4_raw_ingest_quoted", ((s, _) =>
      IdaTransform.rawWideToRecords(
          RawIngest.readIdaExport(s, SparkEntry.quotedFixturePath))
        .orderBy(col("linha_origem"), col("ano_mes"))),
      {
        val (_, _, hdr, months) = rawFixtures(1) // same preamble shape as smp
        RawIngest.ingestOracleSql(quotedFixturePath,
          "ida_raw_2023_smp_quoted.csv", hdr, months, delim = ",")
      }),

    // ----- deep join pipeline (TPC-H Q3 shape): segment filter + top-10
    Gate("q3_top_orders", ((s, dir) => {
      val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") < lit("1998-01-01"))
      val l = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") > lit("1998-01-01"))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(sumExact(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),
      """SELECT l_orderkey, o_orderdate,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin),

    // ----- 6-way star join (TPC-H Q5 shape): local supplier volume
    Gate("q5_region_supplier", ((s, dir) => {
      val r = Tables.region(s, dir).filter(col("r_name") === "ASIA")
      val n = Tables.nation(s, dir)
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      val l = Tables.lineitem(s, dir)
      val sup = Tables.supplier(s, dir)
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(sup, l("l_suppkey") === sup("s_suppkey") &&
          c("c_nationkey") === sup("s_nationkey"))
        .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sumExact(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin),

    // ----- INTERSECT: users that both clicked and purchased
    Gate("u2_intersect", ((s, dir) => {
      val ev = Tables.events(s, dir)
      ev.filter(col("event_type") === "click").select(col("user_id"))
        .intersect(ev.filter(col("event_type") === "purchase")
          .select(col("user_id")))
        .orderBy(col("user_id"))
    }),
      """SELECT user_id FROM events WHERE event_type = 'click'
        |INTERSECT
        |SELECT user_id FROM events WHERE event_type = 'purchase'
        |ORDER BY user_id""".stripMargin),

    // ----- EXCEPT: high-value purchasers who never high-value clicked
    Gate("u3_except", ((s, dir) => {
      val ev = Tables.events(s, dir)
      ev.filter(col("event_type") === "purchase" && col("value") > 150)
        .select(col("user_id"))
        .except(ev.filter(col("event_type") === "click" && col("value") > 150)
          .select(col("user_id")))
        .orderBy(col("user_id"))
    }),
      """SELECT user_id FROM events WHERE event_type = 'purchase' AND value > 150
        |EXCEPT
        |SELECT user_id FROM events WHERE event_type = 'click' AND value > 150
        |ORDER BY user_id""".stripMargin),

    // ----- O1-class top-k with deterministic tiebreak
    Gate("o1_topk", ((s, dir) =>
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)),
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin),

    // ----- U1: set union (distinct) across heterogeneous sources
    Gate("u1_union", ((s, dir) =>
      Tables.orders(s, dir).select(col("o_orderpriority").as("nome"))
        .unionByName(Tables.events(s, dir).select(col("event_type").as("nome")))
        .distinct()
        .orderBy(col("nome"))),
      """SELECT nome FROM (
        |  SELECT o_orderpriority AS nome FROM orders
        |  UNION
        |  SELECT event_type FROM events
        |) ORDER BY nome""".stripMargin),

    // ----- A4/A5: distinct-set extraction + run statistics counters
    Gate("a4_distinct_stats", ((s, dir) =>
      Tables.orders(s, dir).agg(
        count(lit(1)).as("n_records"),
        countDistinct(col("o_custkey")).as("n_customers"),
        countDistinct(monthKey(col("o_orderdate"))).as("n_months"),
        countDistinct(col("o_orderpriority")).as("n_groups"))),
      """SELECT COUNT(*) AS n_records,
        |  COUNT(DISTINCT o_custkey) AS n_customers,
        |  COUNT(DISTINCT strftime(o_orderdate, '%Y-%m')) AS n_months,
        |  COUNT(DISTINCT o_orderpriority) AS n_groups
        |FROM orders""".stripMargin),

    // ----- R2: manual pivot (MAX/AVG of CASE) — daily series per event type
    Gate("r2_pivot", ((s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val aggs = types.map { t =>
        (sum(when(col("event_type") === t, dec(col("value")))).cast("double") /
          count(when(col("event_type") === t, lit(1)))).as(t)
      }
      Tables.events(s, dir)
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("dia"))
        .agg(aggs.head, aggs.tail: _*)
        .orderBy(col("dia"))
    }),
      {
        val types = Seq("click", "error", "purchase", "signup", "view")
        val cols = types.map { t =>
          s"""  CAST(SUM(CASE WHEN event_type = '$t' THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE)
             |    / COUNT(CASE WHEN event_type = '$t' THEN 1 END) AS $t""".stripMargin
        }.mkString(",\n")
        s"""SELECT strftime(ts, '%Y-%m-%d') AS dia,
           |$cols
           |FROM events
           |GROUP BY dia
           |ORDER BY dia""".stripMargin
      }),

    // ----- SCD2 dimension historization: event_type runs per user become
    // [valid_from, valid_to) intervals with is_current (Kimball type-2)
    // null-ts guard on BOTH sides: Spark windows order NULLS FIRST,
    // DuckDB NULLS LAST — a regenerated fixture with a null timestamp
    // would otherwise diverge silently (same rule sessionize applies)
    Gate("scd2_history", ((s, dir) =>
      graft.operators.Scd2.fromChangeLog(
        Tables.events(s, dir)
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
          .filter(col("ts").isNotNull),
        keyCol = "user_id", orderCols = Seq("ts", "event_id"),
        attrCol = "event_type")
        .orderBy(col("user_id"), col("valid_from"), col("event_type"))),
      """WITH marked AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events WHERE ts IS NOT NULL
        |), changes AS (
        |  SELECT user_id, ts, event_id, event_type FROM marked
        |  WHERE rn = 1 OR event_type IS DISTINCT FROM prev
        |)
        |SELECT user_id, event_type, ts AS valid_from,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
        |FROM changes ORDER BY user_id, valid_from""".stripMargin),

    // ----- TPC-H q18 shape: HAVING-gated semi join (large-quantity
    // orders), broadcast of the small filtered aggregate side
    Gate("q18_large_orders", ((s, dir) => {
      val big = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(sumExact(col("l_quantity")).as("sum_qty"))
        .filter(col("sum_qty") > 250d)
      Tables.orders(s, dir)
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_name"))),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_totalprice"), col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(20)
    }),
      """SELECT c_name, c_custkey, o_orderkey, o_totalprice, sum_qty
        |FROM orders
        |JOIN (SELECT l_orderkey,
        |        CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
        |      FROM lineitem GROUP BY l_orderkey
        |      HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) > 250)
        |  ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin),

    // ----- TPC-H q17 shape: correlated scalar subquery, decorrelated to
    // a per-partkey threshold aggregate over the brand-pruned lineitem
    Gate("q17_small_qty", ((s, dir) => {
      val brandParts = Tables.part(s, dir)
        .filter(col("p_brand") === "Brand#4").select(col("p_partkey"))
      val brandLi = Tables.lineitem(s, dir)
        .join(broadcast(brandParts), col("l_partkey") === col("p_partkey"))
      val thr = brandLi.groupBy(col("l_partkey"))
        .agg((lit(0.2) * avgExact(col("l_quantity"))).as("qty_thr"))
      brandLi.join(thr, Seq("l_partkey"))
        .filter(col("l_quantity") < col("qty_thr"))
        .agg((sumExact(col("l_extendedprice")) / 7.0d).as("avg_yearly"))
    }),
      """WITH brand_li AS (
        |  SELECT l_partkey, l_quantity, l_extendedprice
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE p_brand = 'Brand#4'
        |), thr AS (
        |  SELECT l_partkey,
        |    0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
        |           / COUNT(l_quantity)) AS qty_thr
        |  FROM brand_li GROUP BY l_partkey
        |)
        |SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0
        |  AS avg_yearly
        |FROM brand_li l JOIN thr ON l.l_partkey = thr.l_partkey
        |WHERE l.l_quantity < qty_thr""".stripMargin),

    // ----- TPC-H q4 shape: EXISTS subquery decorrelated to a left-semi
    // join with a non-equi conjunct (any line shipped after order date)
    Gate("q4_order_priority", ((s, dir) => {
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1997-07-01") &&
          col("o_orderdate") < lit("1997-10-01"))
      val l = Tables.lineitem(s, dir)
      o.join(l, o("o_orderkey") === l("l_orderkey") &&
          l("l_shipdate") > o("o_orderdate"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    }),
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-10-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // ----- TPC-H q13 shape: left outer join preserved through a two-level
    // aggregation (order-count distribution incl. zero-order customers)
    Gate("q13_cust_dist", ((s, dir) => {
      val o = Tables.orders(s, dir)
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .select(col("o_custkey"), col("o_orderkey"))
      Tables.customer(s, dir).select(col("c_custkey"))
        .join(o, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),
      """SELECT c_count, COUNT(*) AS custdist FROM (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin),

    // ----- TPC-H q16 shape: NOT IN anti-join (suppkey is non-null, so
    // NOT IN == NOT EXISTS == left_anti) feeding a distinct-count rollup
    Gate("q16_supplier_parts", ((s, dir) => {
      val excluded = Tables.supplier(s, dir)
        .filter(col("s_acctbal") < 500d).select(col("s_suppkey"))
      val li = Tables.lineitem(s, dir)
        .join(broadcast(excluded), col("l_suppkey") === col("s_suppkey"),
          "left_anti")
      val p = Tables.part(s, dir).filter(col("p_brand") =!= "Brand#1")
      li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    }),
      """SELECT p_brand, p_type, p_size,
        |  COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#1'
        |  AND l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 500)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin),

    // ----- TPC-H q19 shape: disjunctive mixed-table predicate ANDed onto
    // the join — the part-side conjuncts push to the broadcast build side
    Gate("q19_disjunctive_rev", ((s, dir) => {
      val l = Tables.lineitem(s, dir)
      val p = Tables.part(s, dir)
      l.join(broadcast(p), col("l_partkey") === col("p_partkey") && (
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 5) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(1, 10) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
            col("l_quantity").between(20, 30))))
        .agg(sumExact(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
    }),
      """SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin),

    // ----- TPC-H q22 shape: scalar subquery (global exact average,
    // broadcast single row) + anti join against orders
    Gate("q22_idle_custs", ((s, dir) => {
      val c = Tables.customer(s, dir)
      val avgBal = c.filter(col("c_acctbal") > 0d)
        .agg(avgExact(col("c_acctbal")).as("avg_bal"))
      c.join(broadcast(avgBal), col("c_acctbal") > col("avg_bal"))
        .join(Tables.orders(s, dir).select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("numcust"),
          sumExact(col("c_acctbal")).as("totacctbal"))
        .orderBy(col("c_nationkey"))
    }),
      """SELECT c_nationkey, COUNT(*) AS numcust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS totacctbal
        |FROM customer
        |WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6)))
        |                            AS DOUBLE) / COUNT(c_acctbal)
        |                   FROM customer WHERE c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin),

    // ----- TPC-H q2 shape: groupwise-min (correlated MIN subquery
    // decorrelated to a per-key aggregate + equality join back)
    Gate("q2_min_cost_supp", ((s, dir) => {
      val p = Tables.part(s, dir).filter(col("p_size") === 10)
        .select(col("p_partkey"), col("p_name"))
      val li = Tables.lineitem(s, dir)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"),
          col("p_partkey"), col("p_name"))
      // groupwise-min as a window over l_partkey: one scan + one shuffle,
      // where the aggregate-then-join-back decorrelation executed the
      // scan+broadcast-join subtree twice (once per consumer)
      li.withColumn("min_price",
          min(col("l_extendedprice")).over(Window.partitionBy(col("l_partkey"))))
        .filter(col("l_extendedprice") === col("min_price"))
        .join(broadcast(Tables.supplier(s, dir)
          .select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("p_partkey"), col("p_name"), col("s_suppkey"),
          col("s_name"), col("min_price"))
        .distinct()
        .orderBy(col("p_partkey"), col("s_suppkey"))
    }),
      """WITH pli AS (
        |  SELECT l_partkey, l_suppkey, l_extendedprice, p_partkey, p_name
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE p_size = 10
        |)
        |SELECT DISTINCT p_partkey, p_name, s_suppkey, s_name,
        |  l_extendedprice AS min_price
        |FROM pli JOIN supplier ON s_suppkey = l_suppkey
        |WHERE l_extendedprice = (SELECT MIN(x.l_extendedprice) FROM pli x
        |                         WHERE x.l_partkey = pli.l_partkey)
        |ORDER BY p_partkey, s_suppkey""".stripMargin),

    // ----- one-scan exact table profile (per-column nulls/distincts/
    // min/max) over lineitem's int and string columns
    Gate("profile_table", ((s, dir) =>
      graft.operators.Profile.profile(Tables.lineitem(s, dir),
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
          "l_returnflag", "l_linestatus"))
        .orderBy(col("column"))),
      {
        val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
          "l_returnflag", "l_linestatus")
        cols.map { c =>
          s"""SELECT '$c' AS "column", COUNT(*) AS n_rows,
             |  COUNT(*) - COUNT($c) AS n_nulls,
             |  COUNT(DISTINCT $c) AS n_distinct,
             |  CAST(MIN($c) AS VARCHAR) AS min_val,
             |  CAST(MAX($c) AS VARCHAR) AS max_val
             |FROM lineitem""".stripMargin
        }.mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
      }),

    // ----- promo revenue share (TPC-H Q14 shape): part |X| lineitem with
    // conditional aggregation — the broadcast side is chosen by size, and
    // the month filter prunes the lineitem scan (PushedFilters)
    Gate("q14_promo", ((s, dir) => {
      val l = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1997-09-01") &&
          col("l_shipdate") < lit("1997-10-01"))
      val p = Tables.part(s, dir)
      l.join(p, l("l_partkey") === p("p_partkey"))
        .agg((lit(100.0) *
          sum(when(col("p_type").startsWith("PROMO"),
            dec(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .otherwise(dec(lit(0)))).cast("double") /
          sumExact(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("promo_revenue_pct"))
    }),
      """SELECT 100.0 * CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
        |    THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
        |    ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
        |  / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
        |  AS promo_revenue_pct
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'""".stripMargin),

    // ----- TPC-H Q6 shape: tight-range forecast-revenue scan — every
    // predicate pushes into the parquet scan, the agg is one decimal sum
    Gate("q6_forecast_revenue", ((s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(sumExact(col("l_extendedprice") * col("l_discount"))
          .as("revenue"))),
      """SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE)
        |  AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin),

    // ----- TPC-H Q7 shape: bilateral trade volume between two nations by
    // ship year — two broadcast nation lookups on opposite sides of the
    // fact, the big joins shuffle on their natural keys
    Gate("q7_nation_volume", ((s, dir) => {
      val n = Tables.nation(s, dir).select(col("n_nationkey"), col("n_name"))
      val pair = Seq("NATION_1", "NATION_2")
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n.select(col("n_nationkey").as("__snk"),
          col("n_name").as("supp_nation"))), col("s_nationkey") === col("__snk"))
        .join(broadcast(n.select(col("n_nationkey").as("__cnk"),
          col("n_name").as("cust_nation"))), col("c_nationkey") === col("__cnk"))
        .filter(col("supp_nation").isin(pair: _*) &&
          col("cust_nation").isin(pair: _*) &&
          col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(sumExact(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("volume"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    }),
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  CAST(EXTRACT(year FROM l.l_shipdate) AS INTEGER) AS l_year,
        |  CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE)
        |    AS volume
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        |JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        |WHERE sn.n_name IN ('NATION_1', 'NATION_2')
        |  AND cn.n_name IN ('NATION_1', 'NATION_2')
        |  AND sn.n_name <> cn.n_name
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin),

    // ----- TPC-H Q10 shape: returned-item revenue per customer, top 20 —
    // deterministic under the (revenue DESC, custkey) total order;
    // TakeOrdered carries only 20 rows per partition to the driver
    Gate("q10_returned_items", ((s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .filter(col("l_returnflag") === "R" &&
          col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(sumExact(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)),
      """SELECT c_custkey, c_name, n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
        |    AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin),

    // ----- TPC-H Q15 shape: the top supplier(s) by period revenue — the
    // max is a broadcast 1-row frame, not a second scan of lineitem
    Gate("q15_top_supplier", ((s, dir) => {
      // checkpointed: the per-supplier revenue frame (bounded by supplier
      // count) feeds BOTH the max probe and the join — without it the
      // lineitem scan+agg subtree would execute twice
      val revenue = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(sumExact(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("total_revenue"))
        .localCheckpoint(true)
      val top = revenue.agg(max(col("total_revenue")).as("__max"))
      Tables.supplier(s, dir)
        .join(revenue, col("s_suppkey") === col("l_suppkey"))
        .crossJoin(broadcast(top))
        .filter(col("total_revenue") === col("__max"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
        .orderBy(col("s_suppkey"))
    }),
      """WITH revenue AS (
        |  SELECT l_suppkey,
        |    CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
        |      AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY l_suppkey
        |)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM supplier JOIN revenue ON s_suppkey = l_suppkey
        |WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin),

    // ----- the data-profiling FRONT DOOR (r12 judge ask 7): the whole
    // audit family — Benford, chi2 + Cramér's V, histogram, heavy
    // hitters, global stats — off ONE scan of orders via a single
    // grouping-sets aggregation (Expand feeds partial aggs of bounded
    // cardinality, so map-side combine collapses it before the one
    // shuffle; scan IO paid once — the first call a curation user makes),
    // whose bounded cells the driver turns into every section
    Gate("profile_all", ((s, dir) =>
      graft.operators.Profile.profileAll(Tables.orders(s, dir),
        priceCol = "o_totalprice", catCol = "o_orderpriority",
        keyCol = "o_custkey")),
      """WITH base AS (
        |  SELECT TRY_CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT)
        |      AS VARCHAR), 1, 1) AS INTEGER) AS digit,
        |    COALESCE(CAST(o_orderpriority AS VARCHAR), 'unknown') AS rk,
        |    CASE WHEN o_totalprice < 100000 THEN 'low'
        |         WHEN o_totalprice < 300000 THEN 'mid' ELSE 'high' END AS ck,
        |    LEAST(CAST(floor(o_totalprice / 50000.0) AS BIGINT), 9) AS bin,
        |    COALESCE(CAST(o_custkey AS VARCHAR), 'unknown') AS ckey,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders WHERE o_totalprice IS NOT NULL
        |), gstat AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(cents) AS BIGINT) AS sum_cents,
        |    MIN(cents) AS min_cents, MAX(cents) AS max_cents FROM base
        |), stats AS (
        |  SELECT 'stats' AS section, 'count' AS key1,
        |    CAST(NULL AS VARCHAR) AS key2, n, n AS metric FROM gstat
        |  UNION ALL SELECT 'stats', 'sum_cents', NULL, n, sum_cents FROM gstat
        |  UNION ALL SELECT 'stats', 'min_cents', NULL, n, min_cents FROM gstat
        |  UNION ALL SELECT 'stats', 'max_cents', NULL, n, max_cents FROM gstat
        |), bcounts AS (
        |  SELECT digit, COUNT(*) AS o FROM base
        |  WHERE digit BETWEEN 1 AND 9 GROUP BY digit
        |), btot AS (
        |  SELECT CAST(COALESCE(SUM(o), 0) AS BIGINT) AS bn FROM bcounts
        |), probs AS (
        |  SELECT CAST(u.d AS INTEGER) AS digit,
        |    ([301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153,
        |      45757])[CAST(u.d AS INTEGER)] AS p_micro
        |  FROM UNNEST(range(1, 10)) u(d)
        |), bterm AS (
        |  SELECT p.digit, CAST(COALESCE(c.o, 0) AS BIGINT) AS o,
        |    (SELECT bn FROM btot) * CAST(p.p_micro AS BIGINT) AS e_micro
        |  FROM probs p LEFT JOIN bcounts c ON p.digit = c.digit
        |), bterm2 AS (
        |  SELECT digit, o,
        |    CAST((CAST(o AS HUGEINT) * 1000000 - e_micro) *
        |      (CAST(o AS HUGEINT) * 1000000 - e_micro)
        |      // CAST(e_micro AS HUGEINT) AS BIGINT) AS term_micro
        |  FROM bterm
        |), benford AS (
        |  SELECT 'benford' AS section, CAST(digit AS VARCHAR) AS key1,
        |    CAST(NULL AS VARCHAR) AS key2, o AS n, term_micro AS metric
        |  FROM bterm2
        |), benford_stat AS (
        |  SELECT 'benford_stat', 'chi2_micro', NULL, (SELECT bn FROM btot),
        |    CAST(SUM(term_micro) AS BIGINT)
        |  FROM bterm2
        |), ccounts AS (
        |  SELECT rk, ck, COUNT(*) AS o FROM base GROUP BY rk, ck
        |), cgrid AS (
        |  SELECT r.rk, c.ck
        |  FROM (SELECT DISTINCT rk FROM ccounts) r
        |  CROSS JOIN (SELECT DISTINCT ck FROM ccounts) c
        |), ccells AS (
        |  SELECT g.rk, g.ck, CAST(COALESCE(o, 0) AS BIGINT) AS o
        |  FROM cgrid g LEFT JOIN ccounts USING (rk, ck)
        |), ctot AS (
        |  SELECT rk, ck, o,
        |    CAST(SUM(o) OVER (PARTITION BY rk) AS BIGINT) AS r,
        |    CAST(SUM(o) OVER (PARTITION BY ck) AS BIGINT) AS c,
        |    CAST(SUM(o) OVER () AS BIGINT) AS nt
        |  FROM ccells
        |), cterm AS (
        |  SELECT rk, ck, o, nt,
        |    CASE WHEN r = 0 OR c = 0 THEN 0
        |      ELSE CAST(
        |        (CAST(o AS HUGEINT) * nt - CAST(r AS HUGEINT) * c) *
        |        (CAST(o AS HUGEINT) * nt - CAST(r AS HUGEINT) * c) * 1000000
        |        // (CAST(nt AS HUGEINT) * r * c) AS BIGINT) END AS term_micro
        |  FROM ctot
        |), chi2 AS (
        |  SELECT 'chi2' AS section, rk AS key1, ck AS key2, o AS n,
        |    term_micro AS metric
        |  FROM cterm
        |), cagg AS (
        |  SELECT CAST(MAX(nt) AS BIGINT) AS nt,
        |    (SELECT COUNT(DISTINCT rk) FROM ccounts) AS nr,
        |    (SELECT COUNT(DISTINCT ck) FROM ccounts) AS nc,
        |    CAST(SUM(term_micro) AS BIGINT) AS chi2_micro
        |  FROM cterm
        |), chi2_stat AS (
        |  SELECT 'chi2_stat', 'chi2_micro', NULL, nt, chi2_micro FROM cagg
        |  UNION ALL SELECT 'chi2_stat', 'dof', NULL, nt,
        |    CAST((nr - 1) * (nc - 1) AS BIGINT) FROM cagg
        |), cramers AS (
        |  SELECT 'cramers', 'v2_micro', NULL, nt,
        |    CAST(chi2_micro // (nt * (LEAST(nr, nc) - 1)) AS BIGINT)
        |  FROM cagg
        |), hist AS (
        |  SELECT 'hist' AS section, CAST(bin AS VARCHAR) AS key1,
        |    CAST(NULL AS VARCHAR) AS key2, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(bin * 5000000 AS BIGINT) AS metric
        |  FROM base GROUP BY bin
        |), hcounts AS (
        |  SELECT ckey, CAST(COUNT(*) AS BIGINT) AS n FROM base GROUP BY ckey
        |), heavy AS (
        |  SELECT 'heavy' AS section, ckey AS key1,
        |    CAST(NULL AS VARCHAR) AS key2, n, rnk AS metric
        |  FROM (SELECT ckey, n,
        |          CAST(ROW_NUMBER() OVER (ORDER BY n DESC, ckey) AS BIGINT)
        |            AS rnk
        |        FROM hcounts)
        |  WHERE rnk <= 5
        |), allrows AS (
        |  SELECT * FROM stats
        |  UNION ALL SELECT * FROM benford
        |  UNION ALL SELECT * FROM benford_stat
        |  UNION ALL SELECT * FROM chi2
        |  UNION ALL SELECT * FROM chi2_stat
        |  UNION ALL SELECT * FROM cramers
        |  UNION ALL SELECT * FROM hist
        |  UNION ALL SELECT * FROM heavy
        |)
        |SELECT section, key1, key2, n, metric FROM allrows
        |ORDER BY section, key1, key2""".stripMargin),

    // ----- dynamic pivot (r2 covers the fixed-column form): the pivot
    // columns are DISCOVERED from the data — a bounded driver-side
    // distinct (languages are metadata-cardinality by contract), then the
    // same one-shuffle pivot aggregate
    Gate("r3_pivot_dynamic", ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val langs = docs.select(col("lang")).distinct()
        .limit(100).collect().map(_.getString(0)).sorted.toSeq
      require(langs.length < 100, "pivot width must stay metadata-sized")
      docs.groupBy(col("source"))
        .pivot("lang", langs)
        .agg(count(lit(1)))
        .na.fill(0L, langs)
        .orderBy(col("source"))
    }),
      // the oracle enumerates the same columns the engine DISCOVERS — the
      // driver's sorted-column compare then proves the discovery found
      // exactly the fixture's languages
      """SELECT source,
        |  COUNT(*) FILTER (WHERE lang = 'de') AS de,
        |  COUNT(*) FILTER (WHERE lang = 'en') AS en,
        |  COUNT(*) FILTER (WHERE lang = 'es') AS es,
        |  COUNT(*) FILTER (WHERE lang = 'fr') AS fr,
        |  COUNT(*) FILTER (WHERE lang = 'zh') AS zh
        |FROM documents GROUP BY source
        |ORDER BY source""".stripMargin),

    // ----- bag-semantics EXCEPT ALL (u3 covers set semantics): per-row
    // multiplicity survives — one hash-partitioned count diff, no distinct
    Gate("u4_except_all", ((s, dir) => {
      val ev = Tables.events(s, dir)
      ev.filter(col("event_type").isin("view", "click"))
        .select(col("user_id"), col("event_type"))
        .exceptAll(ev
          .filter(col("event_type") === "click" && col("event_id") % 2 === 0)
          .select(col("user_id"), col("event_type")))
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("user_id"), col("event_type"))
    }),
      """WITH kept AS (
        |  SELECT user_id, event_type FROM events
        |  WHERE event_type IN ('view', 'click')
        |  EXCEPT ALL
        |  SELECT user_id, event_type FROM events
        |  WHERE event_type = 'click' AND event_id % 2 = 0
        |)
        |SELECT user_id, event_type, COUNT(*) AS n
        |FROM kept GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin),

    // ----- date-spine gap fill: daily per-type counts with missing days
    // materialized as zero rows. The spine is days x event types —
    // metadata cardinality, broadcast side of the left join; the fact side
    // partial-aggregates before its one shuffle
    Gate("r_gap_fill", ((s, dir) => {
      val ev = Tables.events(s, dir)
      val daily = ev.groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val spine = ev
        .agg(to_date(min(col("ts"))).as("d0"), to_date(max(col("ts"))).as("d1"))
        .select(explode(sequence(col("d0"), col("d1"))).as("day"))
      val types = ev.select(col("event_type")).distinct()
      broadcast(types.crossJoin(spine))
        .join(daily, Seq("event_type", "day"), "left")
        .select(col("event_type"), col("day"),
          coalesce(col("n"), lit(0L)).as("n"))
        .orderBy(col("event_type"), col("day"))
    }),
      """WITH span AS (
        |  SELECT CAST(MIN(ts) AS DATE) AS d0, CAST(MAX(ts) AS DATE) AS d1
        |  FROM events
        |), spine AS (
        |  SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
        |    AS day
        |  FROM span
        |), types AS (
        |  SELECT DISTINCT event_type FROM events
        |), daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
        |  FROM events GROUP BY event_type, day
        |)
        |SELECT t.event_type, s.day, COALESCE(d.n, 0) AS n
        |FROM types t CROSS JOIN spine s
        |LEFT JOIN daily d ON d.event_type = t.event_type AND d.day = s.day
        |ORDER BY t.event_type, s.day""".stripMargin),

    // ----- INTERSECT ALL (bag semantics): multiplicity-preserving
    // intersection — one shuffle on the row value, min(count) per side
    Gate("u5_intersect_all", ((s, dir) => {
      val ev = Tables.events(s, dir)
      ev.filter(col("event_type").isin("view", "click"))
        .select(col("user_id"), col("event_type"))
        .intersectAll(ev
          .filter(col("event_id") % 2 === 0)
          .select(col("user_id"), col("event_type")))
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("user_id"), col("event_type"))
    }),
      """WITH both_sides AS (
        |  SELECT user_id, event_type FROM events
        |  WHERE event_type IN ('view', 'click')
        |  INTERSECT ALL
        |  SELECT user_id, event_type FROM events
        |  WHERE event_id % 2 = 0
        |)
        |SELECT user_id, event_type, COUNT(*) AS n
        |FROM both_sides GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin),

    // ----- TPC-H Q8 shape: national market share — ratio of two
    // conditional decimal sums inside one 8-way star join (region-pruned
    // customers, type-pruned parts, broadcast dims); IEEE division only at
    // emission
    Gate("q8_market_share", ((s, dir) => {
      val nat = Tables.nation(s, dir)
      val volume = col("l_extendedprice") * (lit(1) - col("l_discount"))
      Tables.lineitem(s, dir)
        .join(Tables.part(s, dir).filter(col("p_type") === "STANDARD"),
          col("l_partkey") === col("p_partkey"))
        .join(Tables.orders(s, dir)
          .filter(year(col("o_orderdate")).between(1996, 1997)),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat.select(col("n_nationkey").as("__cnk"),
          col("n_regionkey"))), col("c_nationkey") === col("__cnk"))
        .join(broadcast(Tables.region(s, dir)
          .filter(col("r_name") === "AMERICA")),
          col("n_regionkey") === col("r_regionkey"))
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat.select(col("n_nationkey").as("__snk"),
          col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("__snk"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg((sum(when(col("supp_nation") === "NATION_3", dec(volume))
            .otherwise(lit(0))).cast("double") /
          sum(dec(volume)).cast("double")).as("mkt_share"))
        .orderBy(col("o_year"))
    }),
      """SELECT EXTRACT(year FROM o_orderdate) AS o_year,
        |  CAST(SUM(CASE WHEN n2.n_name = 'NATION_3'
        |      THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
        |      ELSE 0 END) AS DOUBLE) /
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
        |    AS DOUBLE) AS mkt_share
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_type = 'STANDARD'
        |JOIN orders ON l_orderkey = o_orderkey
        |  AND EXTRACT(year FROM o_orderdate) BETWEEN 1996 AND 1997
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |JOIN region ON n1.n_regionkey = r_regionkey AND r_name = 'AMERICA'
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |GROUP BY o_year
        |ORDER BY o_year""".stripMargin),

    // ----- TPC-H Q9 shape (adapted: profit margin vs part list price —
    // the fixture has no partsupp, so p_retailprice stands in for
    // ps_supplycost): per supplier-nation per year, exact decimal
    // difference-of-products sum
    Gate("q9_product_profit", ((s, dir) => {
      Tables.lineitem(s, dir)
        .join(Tables.part(s, dir).filter(col("p_name").contains("widget")),
          col("l_partkey") === col("p_partkey"))
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).as("o_year"))
        .agg(sum(dec(col("l_extendedprice") * (lit(1) - col("l_discount"))) -
            dec(col("p_retailprice") * col("l_quantity")))
          .cast("double").as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    }),
      """SELECT n_name AS nation, EXTRACT(year FROM o_orderdate) AS o_year,
        |  CAST(SUM(
        |    CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) -
        |    CAST(p_retailprice * l_quantity AS DECIMAL(18,6))
        |  ) AS DOUBLE) AS sum_profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_name LIKE '%widget%'
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name, o_year
        |ORDER BY nation, o_year DESC""".stripMargin),

    // ----- TPC-H Q11 shape (adapted to lineitem×part stock value): parts
    // whose aggregate value exceeds 1/10000 of the global total — the
    // scalar-subquery threshold carried as an EXACT decimal comparison
    // (value*10000 > total: no double rounding in the predicate)
    Gate("q11_important_stock", ((s, dir) => {
      val valued = Tables.lineitem(s, dir)
        .join(Tables.part(s, dir), col("l_partkey") === col("p_partkey"))
        .select(col("p_partkey"),
          dec(col("p_retailprice") * col("l_quantity")).as("__v"))
      val perPart = valued.groupBy(col("p_partkey"))
        .agg(sum(col("__v")).as("__value"))
      val total = valued.agg(sum(col("__v")).as("__total"))
      perPart.crossJoin(broadcast(total))
        .filter(col("__value") * 10000 > col("__total"))
        .select(col("p_partkey"), col("__value").cast("double")
          .as("stock_value"))
        .orderBy(col("stock_value").desc, col("p_partkey"))
    }),
      """WITH valued AS (
        |  SELECT p_partkey,
        |    CAST(p_retailprice * l_quantity AS DECIMAL(18,6)) AS v
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |)
        |SELECT p_partkey, CAST(SUM(v) AS DOUBLE) AS stock_value
        |FROM valued
        |GROUP BY p_partkey
        |HAVING SUM(v) * 10000 > (SELECT SUM(v) FROM valued)
        |ORDER BY stock_value DESC, p_partkey""".stripMargin),

    // ----- TPC-H Q12 shape (adapted: delay class from ship-vs-order date
    // — the fixture has no shipmode/receiptdate): priority mix per delay
    // class, one join + one agg
    Gate("q12_ship_delay", ((s, dir) => {
      val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      Tables.lineitem(s, dir)
        .filter(year(col("l_shipdate")) === 1996)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .withColumn("delay_class",
          when(datediff(col("l_shipdate"), col("o_orderdate")) > 60,
            lit("SLOW")).otherwise(lit("FAST")))
        .groupBy(col("delay_class"))
        .agg(count(when(high, lit(1))).as("high_line_count"),
          count(when(!high, lit(1))).as("low_line_count"))
        .orderBy(col("delay_class"))
    }),
      """SELECT CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
        |      CAST(l_shipdate AS DATE)) > 60 THEN 'SLOW' ELSE 'FAST' END
        |    AS delay_class,
        |  COUNT(*) FILTER (WHERE o_orderpriority IN ('1-URGENT', '2-HIGH'))
        |    AS high_line_count,
        |  COUNT(*) FILTER (WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
        |    AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE EXTRACT(year FROM l_shipdate) = 1996
        |GROUP BY delay_class
        |ORDER BY delay_class""".stripMargin),

    // ----- TPC-H Q20 shape (adapted): suppliers in NATION_5 whose 1996
    // STANDARD-part shipped quantity clears a threshold — HAVING-gated
    // aggregate subquery feeding a left-semi join
    Gate("q20_heavy_suppliers", ((s, dir) => {
      val heavy = Tables.lineitem(s, dir)
        .filter(year(col("l_shipdate")) === 1996)
        .join(Tables.part(s, dir).filter(col("p_type") === "STANDARD"),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_suppkey"))
        .agg(sum(dec(col("l_quantity"))).as("__qty"))
        .filter(col("__qty") > 100)
      Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)
          .filter(col("n_name") === "NATION_5")),
          col("s_nationkey") === col("n_nationkey"))
        .join(heavy, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_name"))
        .orderBy(col("s_name"))
    }),
      """SELECT s_name
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_5'
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_type = 'STANDARD' AND EXTRACT(year FROM l_shipdate) = 1996
        |  GROUP BY l_suppkey
        |  HAVING SUM(CAST(l_quantity AS DECIMAL(18,6))) > 100
        |)
        |ORDER BY s_name""".stripMargin),

    // ----- TPC-H Q21 shape (adapted lateness predicate): suppliers whose
    // line was the ONLY late one in a multi-supplier finished order —
    // EXISTS decorrelated to a conditioned left-semi, NOT EXISTS to a
    // conditioned left-anti, both on the order key
    Gate("q21_waiting_suppliers", ((s, dir) => {
      val late = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir).filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .filter(datediff(col("l_shipdate"), col("o_orderdate")) > 60)
        .select(col("l_orderkey"), col("l_suppkey")).distinct()
      val others = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("__o"), col("l_suppkey").as("__s"))
        .distinct()
      val lateOthers = late
        .select(col("l_orderkey").as("__o"), col("l_suppkey").as("__s"))
      val cand = late
        .join(others, col("l_orderkey") === col("__o") &&
          col("__s") =!= col("l_suppkey"), "left_semi")
        .join(lateOthers, col("l_orderkey") === col("__o") &&
          col("__s") =!= col("l_suppkey"), "left_anti")
      cand.join(Tables.supplier(s, dir),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(10)
    }),
      """WITH late AS (
        |  SELECT DISTINCT l_orderkey, l_suppkey
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'
        |    AND date_diff('day', CAST(o_orderdate AS DATE),
        |          CAST(l_shipdate AS DATE)) > 60
        |), cand AS (
        |  SELECT t.l_orderkey, t.l_suppkey FROM late t
        |  WHERE EXISTS (SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = t.l_orderkey
        |      AND l2.l_suppkey <> t.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM late l3
        |    WHERE l3.l_orderkey = t.l_orderkey
        |      AND l3.l_suppkey <> t.l_suppkey)
        |)
        |SELECT s_name, COUNT(*) AS numwait
        |FROM cand JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 10""".stripMargin),
  )
}
