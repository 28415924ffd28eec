package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Fns._
import graft.operators.Reshape
import graft.sources.Probe

/** The reference's Transform stage end-to-end
  * (/root/reference/etl/etl_ida.py:293-378): an ODS-shaped wide frame
  * (FIXTURES.md §A1) per sheet -> normalized DataRecords (§A2), in two
  * steps.
  *
  *  1. [[shapeSheet]], per sheet: check the sheet's id and month columns,
  *     then project it to one uniform shape whatever its months — the
  *     sheet ordinal, the id columns and an array of the sheet's own
  *     `(mes_col, valor_bruto)` cells. Narrow; a bad sheet throws here.
  *  2. [[records]], once over the union of the shaped sheets, in the
  *     reference's stage order:
  *     a. W3 forward-fill of merged-cell group names (etl_ida.py:249) —
  *        within the sheet, ordered by the explicit row index;
  *     b. R1 unpivot of the month cells (etl_ida.py:315-378) — the month
  *        columns were found by the P3 predicate on column names;
  *     c. P1 null/blank row filter on grupo/variavel (etl_ida.py:316-327);
  *     d. F9-F11 text clean + name standardization;
  *     e. F13 month-date normalization ('YYYY-MM' -> month-start date);
  *     f. F12 locale number parse; P2 drops unparseable cells ('-', '', NaN).
  *
  * The plan has one shuffle whatever the number of sheets: the fill window
  * partitions by sheet ordinal. Every other step is narrow, so at 100 TB
  * the pipeline parallelizes across sheets and across rows.
  */
object IdaTransform {

  /** Expected id columns of the wide frame (FIXTURES.md §A1). */
  val idCols: Seq[String] =
    Seq("row_idx", "GRUPO_ECONOMICO", "VARIAVEL", "SERVICO", "ARQUIVO_ORIGEM")

  /** Step 1: sheet number `sheet` of a load as `(sheet, idCols…, meses)`,
    * `meses` holding the sheet's own month cells. Throws if an id column
    * or every `YYYY-MM` month column is missing. */
  def shapeSheet(wide: DataFrame, sheet: Int): DataFrame = {
    val missing = idCols.filterNot(wide.columns.contains)
    require(missing.isEmpty, s"missing id columns: ${missing.mkString(", ")}")
    val months = Probe.monthColumns(wide)
    require(months.nonEmpty, "no YYYY-MM month columns found (P3)")
    val cells = months.map(m =>
      struct(lit(m).as("mes_col"), col(m).cast("string").as("valor_bruto")))
    wide.select(lit(sheet).as("sheet") +: idCols.map(col) :+
      array(cells: _*).as("meses"): _*)
  }

  /** Step 2: the union of [[shapeSheet]] frames -> records. */
  def records(sheets: DataFrame): DataFrame =
    Reshape.forwardFill(sheets, orderCol = "row_idx",
        fillCols = Seq("GRUPO_ECONOMICO"), partitionCols = Seq("sheet"))
      .select(idCols.map(col) :+ inline(col("meses")): _*)
      .withColumn("grupo_limpo", cleanText(col("GRUPO_ECONOMICO")))
      .withColumn("variavel_limpa", cleanText(col("VARIAVEL")))
      .filter(col("grupo_limpo").isNotNull && col("grupo_limpo") =!= "" &&
        lower(col("grupo_limpo")) =!= "nan" &&
        col("variavel_limpa").isNotNull && col("variavel_limpa") =!= "" &&
        lower(col("variavel_limpa")) =!= "nan")                    // P1
      .select(
        to_date(concat(substring(col("mes_col"), 1, 7), lit("-01")))
          .as("ano_mes"),                                          // F13
        standardizeGroup(col("grupo_limpo")).as("grupo_economico"), // F10
        cleanText(col("SERVICO")).as("servico"),
        standardizeVariable(col("variavel_limpa")).as("variavel"),  // F11
        parseLocaleNumber(col("valor_bruto")).as("valor"),          // F12
        col("ARQUIVO_ORIGEM").as("arquivo_origem"),
        col("row_idx").as("linha_origem"))
      .filter(col("valor").isNotNull && col("ano_mes").isNotNull)   // P2

  /** One sheet -> records: the two steps composed. */
  def rawWideToRecords(wide: DataFrame): DataFrame = records(shapeSheet(wide, 0))
}
