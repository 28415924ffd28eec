package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.EngineConfig
import graft.plans.Pipeline

/** End-to-end pipeline lifecycle (SURVEY §3 E2) + config parsing. */
class PipelineSpec extends SparkSpec {

  private val wideSchema = StructType(Seq(
    StructField("row_idx", LongType),
    StructField("GRUPO_ECONOMICO", StringType),
    StructField("VARIAVEL", StringType),
    StructField("2017-01", StringType),
    StructField("2017-02", StringType),
    StructField("SERVICO", StringType),
    StructField("ARQUIVO_ORIGEM", StringType)))

  private def wideRows(file: String, grupo: String) = Seq(
    Row(0L, grupo, "Taxa de Respondidas em 5 dias Úteis", "85,3", "90", "SMP", file),
    Row(1L, null, "Taxa de Reabertas", "12,5%", "-", "SMP", file))

  private def wideSheet(file: String, grupo: String) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(wideRows(file, grupo), 1), wideSchema)

  private def parquetFiles(dir: String): Set[String] = {
    val s = Files.walk(java.nio.file.Paths.get(dir))
    try s.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSet
    finally s.close()
  }

  test("run: transforms all sheets, loads once, re-run is a no-op (E2/A5)") {
    val factPath = Files.createTempDirectory("graft-pipe").toString + "/fact"
    val sheets = Seq(wideSheet("a.ods", "CLARO S.A."),
      wideSheet("b.ods", "TIM S.A."))
    val s1 = Pipeline.run(spark, sheets, factPath)
    assert(s1.resources == 2 && s1.extracted == 4 && s1.errors.isEmpty)
    // per sheet: 4 cells - 1 dirty '-' = 3 records
    assert(s1.transformed == 6 && s1.loadedNew == 6)
    assert(spark.read.parquet(factPath).count() == 6)

    val files = parquetFiles(factPath)
    val s2 = Pipeline.run(spark, sheets, factPath)
    assert(s2.loadedNew == 0, "idempotent re-run must load nothing")
    assert(s2.errors.isEmpty, "re-run zero-load is the contract, not an error")
    assert(spark.read.parquet(factPath).count() == 6)
    // the append always runs; an empty one must not add a parquet file
    assert(parquetFiles(factPath) == files)
  }

  test("run: a sheet with no data rows counts as empty, others load") {
    val dir = Files.createTempDirectory("graft-pipe-empty").toString
    val good = wideSheet("a.ods", "CLARO S.A.")
    val headerOnly = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq.empty[Row], 1), wideSchema)
    val alone = Pipeline.run(spark, Seq(good), s"$dir/alone")
    val both = Pipeline.run(spark, Seq(good, headerOnly), s"$dir/both")
    assert(both.errors.isEmpty, s"errors: ${both.errors}")
    assert((both.extracted, both.transformed, both.loadedNew) ==
      (alone.extracted, alone.transformed, alone.loadedNew))
    assert(alone.loadedNew == 3)
  }

  test("run: a first load that transforms to nothing does not break the store") {
    val factPath = Files.createTempDirectory("graft-pipe-void").toString + "/fact"
    val unparseable = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(0L, "CLARO S.A.", "Taxa de Reabertas", "-", "n/d", "SMP", "v.ods")), 1),
      wideSchema)
    val s1 = Pipeline.run(spark, Seq(unparseable), factPath)
    assert(s1.errors.isEmpty && s1.transformed == 0 && s1.loadedNew == 0)
    val s2 = Pipeline.run(spark, Seq(wideSheet("a.ods", "CLARO S.A.")), factPath)
    assert(s2.errors.isEmpty, s"errors: ${s2.errors}")
    assert(s2.loadedNew == 3 && spark.read.parquet(factPath).count() == 3)
  }

  test("run: each source is scanned exactly once (no audit re-scan)") {
    // the source RDD bumps an accumulator per partition computation, so the
    // accumulator value IS the number of passes over the input data
    val factPath = Files.createTempDirectory("graft-pipe-scan").toString + "/fact"
    val scans = spark.sparkContext.longAccumulator("source-scans")
    val rdd = spark.sparkContext
      .parallelize(wideRows("a.ods", "CLARO S.A."), 1)
      .mapPartitions { it => scans.add(1); it }
    val sheet = spark.createDataFrame(rdd, wideSchema)
    val stats = Pipeline.run(spark, Seq(sheet), factPath)
    assert(stats.errors.isEmpty && stats.extracted == 2 && stats.loadedNew == 3)
    assert(scans.value == 1,
      s"input scanned ${scans.value} times; the load pass must be the only one")
  }

  test("run: fact store is written ano-partitioned and prunes year filters") {
    val factPath = Files.createTempDirectory("graft-pipe-part").toString + "/fact"
    val s = Pipeline.run(spark, Seq(wideSheet("a.ods", "CLARO S.A.")), factPath)
    assert(s.errors.isEmpty && s.loadedNew == 3)
    val read = graft.sources.Sinks.readFact(spark, factPath)
      .filter(col("ano") === 2017)
    assert(read.queryExecution.executedPlan.toString.contains("PartitionFilters"))
    assert(read.count() == 3)
    assert(read.select(input_file_name()).distinct().collect()
      .forall(_.getString(0).contains("ano=2017")))
  }

  test("run: a sheet without month columns is reported, others proceed") {
    val factPath = Files.createTempDirectory("graft-pipe2").toString + "/fact"
    val bad = wideSheet("c.ods", "OI S.A.")
      .withColumnRenamed("2017-01", "notamonth")
      .withColumnRenamed("2017-02", "alsonot")
    val stats = Pipeline.run(spark, Seq(wideSheet("a.ods", "CLARO S.A."), bad),
      factPath)
    assert(stats.errors.exists(_.startsWith("sheet 1")))
    assert(stats.loadedNew == 3)
  }

  test("run: transformed records the fact load drops whole are an error") {
    val factPath = Files.createTempDirectory("graft-pipe-nokey").toString + "/fact"
    val noServico = wideSheet("n.ods", "CLARO S.A.")
      .withColumn("SERVICO", lit(null).cast(StringType))
    val s = Pipeline.run(spark, Seq(noServico), factPath)
    assert(s.transformed == 3 && s.loadedNew == 0)
    assert(s.errors.exists(_.contains("none carries every dimension key")))
  }

  test("lifecycle: discovery -> raw ingest -> partitioned load; re-run over " +
    "the same store is a no-op (full E2)") {
    val factPath = Files.createTempDirectory("graft-e2-spec").toString + "/fact"
    val cfg = EngineConfig(anosAlvo = Seq(2023), servicosAlvo = Seq("SMP", "SCM"))
    val s1 = Pipeline.lifecycle(spark, SparkEntry.fixturesDir, cfg, factPath)
    assert(s1.resources == 2 && s1.errors.isEmpty)
    assert(s1.extracted > 0 && s1.loadedNew > 0)
    assert(spark.read.parquet(factPath).count() == s1.loadedNew)
    val s2 = Pipeline.lifecycle(spark, SparkEntry.fixturesDir, cfg, factPath)
    assert(s2.loadedNew == 0 && s2.errors.isEmpty,
      "full-lifecycle replay must be idempotent")
    // a disjoint year filter discovers nothing and loads nothing
    val s3 = Pipeline.lifecycle(spark, SparkEntry.fixturesDir,
      cfg.copy(anosAlvo = Seq(1999)), factPath)
    assert(s3.resources == 0 && s3.loadedNew == 0)
  }

  test("lifecycle over a WB container reads only the mapped sheet (E2 sheets)") {
    val factPath = Files.createTempDirectory("graft-e2-wb").toString + "/fact"
    val cfg = EngineConfig(anosAlvo = Seq(2023), servicosAlvo = Seq("STFC"))
    val s1 = Pipeline.lifecycle(spark, SparkEntry.fixturesDir, cfg, factPath)
    assert(s1.resources == 1 && s1.errors.isEmpty, s"errors: ${s1.errors}")
    // the Telefonia_Fixa sheet: 10 raw data rows extracted (incl. the nan
    // footer), 25 clean records after transform (see RawIngestSpec)
    assert(s1.extracted == 10 && s1.transformed == 25 && s1.loadedNew == 25)
    val s2 = Pipeline.lifecycle(spark, SparkEntry.fixturesDir, cfg, factPath)
    assert(s2.loadedNew == 0 && s2.errors.isEmpty, "sheet replay idempotent")
  }

  test("Session.confFor maps maxRetries to spark.task.maxFailures " +
    "(attempts = retries + 1)") {
    val conf = graft.Session.confFor(32, Some(EngineConfig(maxRetries = 5)))
    assert(conf("spark.task.maxFailures") == "6")
    assert(conf("spark.sql.shuffle.partitions") == "32")
    // degenerate configs clamp to at least one attempt
    assert(graft.Session.confFor(4, Some(EngineConfig(maxRetries = -7)))(
      "spark.task.maxFailures") == "1")
    // without an engine config the Spark default is left alone
    assert(!graft.Session.confFor(4).contains("spark.task.maxFailures"))
  }

  test("EngineConfig.fromEnv: overrides parse, garbage falls back") {
    val cfg = EngineConfig.fromEnv(Map(
      "GRAFT_BATCH_SIZE" -> "500",
      "GRAFT_MAX_RETRIES" -> "junk",
      "GRAFT_ANOS_ALVO" -> "2020, 2021",
      "GRAFT_SERVICOS_ALVO" -> "SMP",
      "GRAFT_FACT_PATH" -> "/data/fact"))
    assert(cfg.batchSize == 500)
    assert(cfg.maxRetries == 3)
    assert(cfg.anosAlvo == Seq(2020, 2021))
    assert(cfg.servicosAlvo == Seq("SMP"))
    assert(cfg.factPath == "/data/fact")
    assert(EngineConfig.fromEnv(Map.empty) == EngineConfig())
  }
}
