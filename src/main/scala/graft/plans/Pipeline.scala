package graft.plans

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.sources.Sinks

/** The reference's end-to-end ETL lifecycle (SURVEY §3 E2,
  * /root/reference/etl/etl_ida.py:732-834) as one engine call:
  * raw wide sheets -> transform -> normalized records -> idempotent fact
  * load, returning the audit counters the reference logs per run
  * (resources processed / extracted / transformed / loaded / errors —
  * etl_ida.py:743-749,793-818).
  *
  * Differences from the reference, by design:
  *  - per-sheet sequential Python loops become one unioned lazy plan; the
  *    union is a narrow bag-union (U1), so Spark parallelizes across
  *    sheets AND rows;
  *  - the reference re-reads every sheet to count its extracted rows; here
  *    the counter is an `observe` metric (CollectMetrics) collected DURING
  *    the single load pass — each input is scanned exactly once, which at
  *    100 TB halves input I/O vs the reference's audit re-scan;
  *  - the fact store is written `ano`-partitioned ([[Sinks.writeFactPartitioned]])
  *    so year predicates prune directories — the Spark analog of the
  *    reference's covering indexes (schema_star.sql:96-101);
  *  - the memory-bounded flush every batch_size*5 records disappears —
  *    Spark's task model owns memory;
  *  - "loaded == 0 while transformed > 0" is an error in the reference
  *    (etl_ida.py:849-851) only on a fresh store; on re-runs it is exactly
  *    the idempotency contract working, so it is reported, not thrown.
  *
  * Fault isolation: a malformed sheet (missing month columns, wrong schema)
  * throws at plan CONSTRUCTION/analysis — driver-side, before any job — and
  * is reported and skipped like the reference's per-resource try
  * (etl_ida.py:793-818). A data-plane failure mid-run (vanished/corrupt
  * file) fails the single load job and is reported as a run-level error;
  * per-row corruption tolerance belongs to the source configuration
  * (`spark.sql.files.ignoreCorruptFiles`), not to a second audit scan.
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
    // SHEET_MAPPING semantics, etl_ida.py:171-176)
    val wides = resources.map { r =>
      r.formato match {
        case "ODS" => graft.sources.Ods.readIdaExport(spark, r.url,
          graft.sources.Catalog.mappedSheet(r.servico))
        case _ => graft.sources.RawIngest.readIdaExport(spark,
          graft.sources.Catalog.resolveSheet(r))
      }
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
    val (sheets, errors) = wides.zipWithIndex.foldLeft(
      (Seq.empty[(DataFrame, Observation)], Seq.empty[String])) {
      case ((ok, errs), (wide, i)) =>
        try {
          // the observe node counts RAW wide rows (pre-filter, pre-unpivot):
          // the reference's "extracted" counter — collected as a metric of
          // the load job itself, not a separate scan
          val obs = Observation()
          val recs = IdaTransform.rawWideToRecords(
            wide.observe(obs, count(lit(1)).as("extracted")))
          (ok :+ (recs, obs), errs)
        } catch {
          case scala.util.control.NonFatal(e) =>
            (ok, errs :+ s"sheet $i: ${e.getMessage}")
        }
    }
    if (sheets.isEmpty)
      return RunStats(wides.size, 0L, 0L, 0L, errors)

    val records = sheets.map(_._1).reduce(_ unionByName _)      // U1
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // materialize the cache FIRST: this one job is the only pass over the
      // raw sources — it yields the transformed counter, fires the observe
      // metrics (extracted), and warms the cache so the fact build's one
      // dimension-key pass (IdaMart.dimKeys) and its main pass read blocks
      // instead of recomputing the cold source
      val transformed = records.count()
      val extracted =
        sheets.map(_._2.get("extracted").asInstanceOf[Long]).sum
      val fact = IdaMart.fact(records)
      val existing = IdaMart.readStoreIfExists(spark, factPath)
      val fresh = (existing match {
        case Some(ex) => IdaMart.load(ex, fact)
        case None     => fact
      }).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // persisted: counted once for stats, then appended — without the
      // persist the whole transform+fact DAG would execute twice
      val loaded = fresh.count()
      if (loaded > 0 || existing.isEmpty)
        Sinks.writeFactPartitioned(fresh, factPath, mode = "append")
      fresh.unpersist()
      // the reference's invariant tests TRANSFORMED rows (etl_ida.py:849-851)
      // — extracted rows that were all legitimately filtered are a clean run
      val freshStoreEmptyLoad =
        if (existing.isEmpty && loaded == 0 && transformed > 0)
          Seq("transformed records but loaded none into a fresh store")
        else Nil
      RunStats(wides.size, extracted, transformed, loaded,
        errors ++ freshStoreEmptyLoad)
    } catch {
      case scala.util.control.NonFatal(e) =>
        RunStats(wides.size, 0L, 0L, 0L, errors :+ s"run: ${e.getMessage}")
    } finally records.unpersist()
  }
}
