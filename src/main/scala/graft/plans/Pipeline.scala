package graft.plans

import scala.util.Try

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, count_if, lit}

/** The reference's end-to-end ETL lifecycle (SURVEY §3 E2,
  * /root/reference/etl/etl_ida.py:732-834) as one engine call:
  * raw wide sheets -> transform -> normalized records -> idempotent fact
  * load, returning the audit counters the reference logs per run
  * (resources processed / extracted / transformed / loaded / errors —
  * etl_ida.py:743-749,793-818).
  *
  * Differences from the reference, by design:
  *  - per-sheet sequential Python loops become one lazy records plan:
  *    each sheet is only checked and shaped ([[IdaTransform.shapeSheet]]:
  *    every id column present, at least one `YYYY-MM` month column, the
  *    sheet's own month cells in one array), the shaped sheets are a narrow
  *    bag-union (U1), and the fill, unpivot and cleaning run once over the
  *    union ([[IdaTransform.records]]). So the plan, and its one fill
  *    shuffle, do not grow with the number of sheets, and Spark
  *    parallelizes across sheets AND rows;
  *  - the reference re-reads every sheet to count its extracted rows; here
  *    every counter is an `observe` metric (CollectMetrics) of the work's
  *    own jobs, so each input is scanned exactly once, which at 100 TB
  *    halves input I/O vs the reference's audit re-scan. A missing metric
  *    is an input AQE proved empty ([[IdaMart.observedCount]]);
  *  - the fact store is written `ano`-partitioned ([[Sinks.writeFactPartitioned]])
  *    so year predicates prune directories — the Spark analog of the
  *    reference's covering indexes (schema_star.sql:96-101);
  *  - the memory-bounded flush every batch_size*5 records disappears —
  *    Spark's task model owns memory;
  *  - "loaded == 0 while transformed > 0" is an error in the reference
  *    (etl_ida.py:849-851); a re-run loading nothing is the idempotency
  *    contract here, so the error is "no transformed record has every
  *    natural key" (the fact drops them all), reported, not thrown.
  *
  * Fault isolation: a malformed sheet (a missing id column, no month
  * column) fails the per-sheet shape step at plan CONSTRUCTION —
  * driver-side, before any job — and is reported as `sheet i: …` and
  * skipped like the reference's per-resource try (etl_ida.py:793-818). A
  * data-plane failure mid-run (vanished/corrupt file) fails the single
  * load job and is reported as a run-level error; corruption tolerance
  * belongs to the source configuration (`spark.files.ignoreCorruptFiles`
  * for the delimited exports' text scan, `spark.sql.files.ignoreCorruptFiles`
  * for the ODS workbooks), not to a second audit scan.
  */
object Pipeline {

  case class RunStats(resources: Int, extracted: Long, transformed: Long,
                      loadedNew: Long, errors: Seq[String])

  /** The reference's FULL run — discovery -> download -> two-phase read ->
    * transform -> load (etl_ida.py:732-834) — as one call: catalog scan of
    * `resourcesDir` (S1-S3 file analog), header-probed raw read per
    * resource (S4-S6), then [[run]] (transform + idempotent partitioned
    * fact load). */
  def lifecycle(spark: SparkSession, resourcesDir: String,
                cfg: graft.model.EngineConfig, factPath: String): RunStats = {
    val resources = graft.sources.Catalog.discover(resourcesDir, cfg)
    // plain files read directly; WB workbook directories and real ODS zip
    // containers read only the service's mapped sheet (reference
    // SHEET_MAPPING semantics, etl_ida.py:171-176). Every row's lineage is
    // its resource's file name, as the reference records per downloaded
    // resource: a WB sheet is named by its workbook, not by the sheet file
    // two workbooks of one service share
    val wides = resources.map { r =>
      val wide = r.formato match {
        case "ODS" => graft.sources.Ods.readIdaExport(spark, r.url,
          graft.sources.Catalog.mappedSheet(r.servico))
        case _ => graft.sources.RawIngest.readIdaExport(spark,
          graft.sources.Catalog.resolveSheet(r))
      }
      wide.withColumn("ARQUIVO_ORIGEM", lit(r.id))
    }
    run(spark, wides, factPath)
  }

  /** DuckDB mirror of [[lifecycle]] over the same raw files: per-file
    * ingest records SQL ([[graft.sources.RawIngest.ingestRecordsSql]])
    * unioned, then the same dim/hash/first-wins-dedup fact build as the
    * `s7_fact_load` oracle, generalized to derived dims. `fixtures` is
    * (path, fileName, headerIdx, months) per discovered resource. */
  def lifecycleOracleSql(
      fixtures: Seq[(String, String, Int, Seq[String])]): String = {
    val recordCtes = fixtures.map { case (path, name, hdr, months) =>
      s"SELECT * FROM (\n${graft.sources.RawIngest.ingestRecordsSql(path, name, hdr, months)}\n)"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH records AS (
       |  $recordCtes
       |), dim_tempo AS (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY ano_mes) AS INTEGER) AS tempo_key, ano_mes
       |  FROM (SELECT DISTINCT ano_mes FROM records WHERE ano_mes IS NOT NULL)
       |), dim_grupo AS (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY grupo_economico) AS INTEGER) AS grupo_key,
       |         grupo_economico
       |  FROM (SELECT DISTINCT grupo_economico FROM records WHERE grupo_economico IS NOT NULL)
       |), dim_servico AS (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY servico) AS INTEGER) AS servico_key, servico
       |  FROM (SELECT DISTINCT servico FROM records WHERE servico IS NOT NULL)
       |), dim_variavel AS (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY variavel) AS INTEGER) AS variavel_key, variavel
       |  FROM (SELECT DISTINCT variavel FROM records WHERE variavel IS NOT NULL)
       |), hashed AS (
       |  SELECT *,
       |    md5(strftime(ano_mes, '%Y-%m-%d') || '|' || grupo_economico || '|' ||
       |        servico || '|' || variavel || '|' ||
       |        CAST(CAST(valor AS DECIMAL(18,2)) AS VARCHAR)) AS hash_registro
       |  FROM records
       |), deduped AS (
       |  SELECT * FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY hash_registro
       |                                 ORDER BY arquivo_origem, linha_origem) AS rn
       |    FROM hashed) WHERE rn = 1
       |)
       |SELECT t.tempo_key, g.grupo_key, s.servico_key, v.variavel_key,
       |       CAST(CAST(d.valor AS DECIMAL(15,6)) AS DOUBLE) AS valor,
       |       d.arquivo_origem, d.linha_origem, d.hash_registro,
       |       CAST(EXTRACT(year FROM d.ano_mes) AS INTEGER) AS ano
       |FROM deduped d
       |JOIN dim_tempo t USING (ano_mes)
       |JOIN dim_grupo g ON d.grupo_economico = g.grupo_economico
       |JOIN dim_servico s ON d.servico = s.servico
       |JOIN dim_variavel v ON d.variavel = v.variavel
       |ORDER BY d.hash_registro""".stripMargin
  }

  def run(spark: SparkSession, wides: Seq[DataFrame],
          factPath: String): RunStats = {
    val (errors, sheets) = wides.zipWithIndex.partitionMap { case (wide, i) =>
      // the observe node counts RAW wide rows (pre-filter, pre-unpivot):
      // the reference's "extracted" counter
      val obs = Observation()
      Try(IdaTransform.shapeSheet(
          wide.observe(obs, count(lit(1)).as("extracted")), i) -> obs)
        .toEither.left.map(e => s"sheet $i: ${e.getMessage}")
    }
    if (sheets.isEmpty)
      return RunStats(wides.size, 0L, 0L, 0L, errors)

    val recordsObs = Observation()
    // not persisted here: IdaMart.fact caches the frame it is given
    val records = IdaTransform.records(sheets.map(_._1).reduce(_ union _)) // U1
      .observe(recordsObs, count(lit(1)).as("transformed"),
        count_if(IdaMart.NaturalKeys.map(col(_).isNotNull).reduce(_ && _))
          .as("keyed"))
    try {
      // the fact build's dimension-key collect is the first action over the
      // cache: the one pass over the raw sources, which also fires every
      // observe metric; the append's write then reads the cached blocks
      val loaded = IdaMart.append(IdaMart.fact(records), factPath)
      val extracted =
        sheets.map(s => IdaMart.observedCount(s._2, "extracted")).sum
      val transformed = IdaMart.observedCount(recordsObs, "transformed")
      // extracted rows all legitimately filtered (transformed == 0) are clean
      val noneKeyed =
        if (transformed > 0 && IdaMart.observedCount(recordsObs, "keyed") == 0)
          Seq("transformed records but none carries every dimension key, " +
            "so the fact load keeps none")
        else Nil
      RunStats(wides.size, extracted, transformed, loaded, errors ++ noneKeyed)
    } catch {
      case scala.util.control.NonFatal(e) =>
        RunStats(wides.size, 0L, 0L, 0L, errors :+ s"run: ${e.getMessage}")
    } finally records.unpersist()
  }
}
