package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Fns._
import graft.sources.Tables

/** Flagship analytic query — the reference's `vw_taxa_variacao`
  * (/root/reference/schema_star.sql:108-164; README.md:10,148-150) rebuilt as
  * a composed DataFrame plan over the fixture star schema.
  *
  * Reference semantics preserved exactly (SURVEY.md §3 E3):
  *  - metric filter *below* the aggregation (P4) — Catalyst pushes it into
  *    the parquet scan;
  *  - LAG over the month key (W1/W2), zero-padded 'yyyy-MM' so lexicographic
  *    order == chronological order;
  *  - first month dropped *after* LAG (P5);
  *  - pct change ((cur-prev)/NULLIF(prev,0))*100, ROUND(...,2) (F2/F3/F5);
  *  - inner join USING(mes) of market-mean vs per-group series (J4);
  *  - manual pivot over an explicit, fixed group list (A3/R2) — groups with
  *    no data in a month yield NULL columns;
  *  - final ORDER BY mes (O1).
  *
  * Fixture mapping (FIXTURES.md §B): `orders` plays the fact table —
  * o_orderdate -> month, o_orderpriority -> economic group,
  * o_orderstatus='F' -> the principal-metric filter, o_totalprice -> valor.
  *
  * Scale shape: one shuffle per aggregate (partial + final hash agg), the
  * per-month series are tiny after aggregation, so the windows and the final
  * join/pivot run on KBs regardless of input size. The only full-data pass is
  * the pruned parquet scan (3 columns).
  */
object TaxaVariacao {

  /** Fixed pivot list == the 5 TPC-H order priorities, like the view's
    * hardcoded 10 groups (schema_star.sql:151-160). */
  val groups: Seq[(String, String)] = Seq(
    "1-URGENT" -> "urgent", "2-HIGH" -> "high", "3-MEDIUM" -> "medium",
    "4-NOT SPECIFIED" -> "not_specified", "5-LOW" -> "low")

  def apply(spark: SparkSession, dir: String): DataFrame = {
    val fact = Tables.orders(spark, dir)
      .filter(col("o_orderstatus") === "F")                 // P4
      .select(monthKey(col("o_orderdate")).as("mes"),       // F1
              col("o_orderpriority").as("grupo"),
              col("o_totalprice").as("valor"))

    // CTE media_mensal + media_calc (schema_star.sql:109-126)
    val mediaMensal = fact.groupBy(col("mes"))
      .agg(avgExact(col("valor")).as("valor_medio"))        // A1
    // single-partition by design: post-aggregation month series, one row
    // per month (bounded by the calendar, not the input size)
    val wAll = Window.partitionBy(singlePartitionKey(col("mes")))
      .orderBy(col("mes"))
    val mediaCalc = mediaMensal
      .withColumn("valor_anterior", lag(col("valor_medio"), 1).over(wAll)) // W1
      .filter(col("valor_anterior").isNotNull)              // P5
      .select(col("mes"),
        round2(pctChange(col("valor_medio"), col("valor_anterior")))
          .as("taxa_variacao_media"))                       // F5+F2+F3

    // CTE grupo_mensal + grupo_calc (schema_star.sql:127-147)
    val grupoMensal = fact.groupBy(col("grupo"), col("mes"))
      .agg(avgExact(col("valor")).as("valor_medio"))        // A2
    val wGrp = Window.partitionBy(col("grupo")).orderBy(col("mes"))
    val grupoCalc = grupoMensal
      .withColumn("valor_anterior", lag(col("valor_medio"), 1).over(wGrp)) // W2
      .filter(col("valor_anterior").isNotNull)              // P5
      .select(col("mes"), col("grupo"),
        round2(pctChange(col("valor_medio"), col("valor_anterior")))
          .as("variacao"))

    // Final: J4 join USING(mes) -> A3 manual pivot with F6 delta -> O1 sort
    val pivotCols: Seq[Column] = groups.map { case (code, alias) =>
      max(when(col("grupo") === code,
        round2(deltaVsMean(col("variacao"), col("taxa_variacao_media")))))
        .as(alias)
    }
    // the month series is the build side: left to AQE, whichever side's
    // stage finished first was broadcast, so the plan (and the generated
    // code) varied from run to run
    broadcast(mediaCalc).join(grupoCalc, Seq("mes"))
      .groupBy(col("mes"), col("taxa_variacao_media"))
      .agg(pivotCols.head, pivotCols.tail: _*)
      .orderBy(col("mes"))
  }

  /** DuckDB-oracle translation of the same plan — literal mirror of
    * schema_star.sql:108-164 over the fixture tables. */
  val oracleSql: String = {
    // round via the DECIMAL(18,6) carrier on BOTH engines (see Fns.round2)
    def r2(expr: String) =
      s"CAST(ROUND(CAST($expr AS DECIMAL(18,6)), 2) AS DOUBLE)"
    val pivotSelects = groups.map { case (code, alias) =>
      s"MAX(CASE WHEN g.grupo = '$code' THEN ${r2("g.variacao - m.taxa_variacao_media")} END) AS $alias"
    }.mkString(",\n    ")
    s"""WITH fact AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS mes,
         o_orderpriority AS grupo,
         o_totalprice AS valor
  FROM orders WHERE o_orderstatus = 'F'
), media_mensal AS (
  SELECT mes,
         CAST(SUM(CAST(valor AS DECIMAL(18,6))) AS DOUBLE) / COUNT(valor) AS valor_medio
  FROM fact GROUP BY mes
), media_calc AS (
  SELECT mes,
         ${r2("(valor_medio - valor_anterior) / NULLIF(valor_anterior, 0) * 100")} AS taxa_variacao_media
  FROM (SELECT mes, valor_medio,
               LAG(valor_medio) OVER (ORDER BY mes) AS valor_anterior
        FROM media_mensal)
  WHERE valor_anterior IS NOT NULL
), grupo_mensal AS (
  SELECT grupo, mes,
         CAST(SUM(CAST(valor AS DECIMAL(18,6))) AS DOUBLE) / COUNT(valor) AS valor_medio
  FROM fact GROUP BY grupo, mes
), grupo_calc AS (
  SELECT mes, grupo,
         ${r2("(valor_medio - valor_anterior) / NULLIF(valor_anterior, 0) * 100")} AS variacao
  FROM (SELECT grupo, mes, valor_medio,
               LAG(valor_medio) OVER (PARTITION BY grupo ORDER BY mes) AS valor_anterior
        FROM grupo_mensal)
  WHERE valor_anterior IS NOT NULL
)
SELECT m.mes, m.taxa_variacao_media,
    $pivotSelects
FROM media_calc m JOIN grupo_calc g USING (mes)
GROUP BY m.mes, m.taxa_variacao_media
ORDER BY m.mes"""
  }

  /** The same query in Spark SQL dialect (runnable via `spark.sql` over an
    * `orders` temp view) — proves the engine's SQL front door produces the
    * identical result as the DataFrame plan (FlagshipSpec). */
  val sparkSql: String =
    oracleSql.replace("strftime(o_orderdate, '%Y-%m')",
      "date_format(o_orderdate, 'yyyy-MM')")
}
