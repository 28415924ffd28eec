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

  test("run: a sheet missing an id column is reported, not loaded as NULLs") {
    for (id <- Seq("VARIAVEL", "SERVICO")) {
      val factPath = Files.createTempDirectory("graft-pipe-noid").toString + "/fact"
      val bad = wideSheet("c.ods", "OI S.A.").drop(id)
      val stats = Pipeline.run(spark, Seq(wideSheet("a.ods", "CLARO S.A."), bad),
        factPath)
      assert(stats.errors.exists(_.startsWith("sheet 1")), s"$id: ${stats.errors}")
      assert(stats.transformed == 3 && stats.loadedNew == 3, s"$id: $stats")
    }
  }

  /** The stored fact's rows, sorted, without the load time and `drop`. */
  private def storedRows(factPath: String, drop: String*): Seq[String] =
    spark.read.parquet(factPath).drop("data_processamento" +: drop: _*)
      .collect().map(_.toString).sorted.toSeq

  test("run: sheets that share a file name fill within their own sheet") {
    // two years of one WB service both name their sheet Telefonia_Fixa.csv;
    // a fill over both by file name would give a's row 2 and b's row 0 the
    // other sheet's group, whatever the order of the tied row indexes
    def sheet(rows: (Long, String, String)*) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (i, grupo, v) =>
        Row(i, grupo, "Taxa de Reabertas", v, "-", "STFC", "Telefonia_Fixa.csv")
      }, 1), wideSchema)
    val a = sheet((0L, "CLARO S.A.", "1"), (1L, null, "2"), (2L, null, "3"))
    val b = sheet((0L, null, "4"), (1L, "TIM S.A.", "5"), (2L, null, "6"))
    val dir = Files.createTempDirectory("graft-pipe-samename").toString
    for ((name, sheets) <- Seq("a" -> Seq(a), "b" -> Seq(b), "ab" -> Seq(a, b)))
      assert(Pipeline.run(spark, sheets, s"$dir/$name").errors.isEmpty)
    // dimension keys are ranked per load, so rows compare by their hash
    def rows(name: String) = storedRows(s"$dir/$name",
      "tempo_key", "grupo_key", "servico_key", "variavel_key")
    assert(rows("a").size == 3 && rows("b").size == 2) // b's row 0 has no group
    assert(rows("ab") == (rows("a") ++ rows("b")).sorted)
  }

  test("run: the load's job count does not grow with the number of sheets") {
    val groups = Seq("CLARO S.A.", "TIM S.A.", "OI S.A.", "VIVO S.A.")
    def jobs(n: Int): Int = {
      val factPath = Files.createTempDirectory("graft-pipe-jobs").toString + "/fact"
      val sheets = groups.take(n).zipWithIndex.map { case (g, i) => wideSheet(s"s$i.ods", g) }
      val (stats, jobs) = JobCount(spark)(Pipeline.run(spark, sheets, factPath))
      assert(stats.errors.isEmpty && stats.loadedNew == 3 * n, s"$n sheets: $stats")
      jobs
    }
    val (two, four) = (jobs(2), jobs(4))
    assert(two == four, s"2 sheets: $two jobs, 4 sheets: $four jobs")
    // no surrogate-key lookup starts a broadcast job
    assert(two <= 7, s"the load ran $two jobs")
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

  test("lifecycle: each WB workbook's rows carry that workbook's name") {
    // two years of one service: both workbooks hold a Telefonia_Fixa.csv
    // sheet, each with its own month grid
    val dir = Files.createTempDirectory("graft-e2-wbs")
    for ((year, months) <- Seq(2023 -> Seq("01", "02", "03"), 2024 -> Seq("01", "02"))) {
      val wb = Files.createDirectories(dir.resolve(s"ida_raw_${year}_stfc.wb"))
      val cells = months.indices.map(i => s"${i + 1},5").mkString(";")
      Files.write(wb.resolve("Telefonia_Fixa.csv"), Seq(
        "Anatel - IDA;;;;;",
        "GRUPO ECONOMICO;VARIAVEL;SERVICO;" + months.map(m => s"$year-$m").mkString(";"),
        s"CLARO S.A.;Taxa de Reabertas;STFC;$cells",
        s";Taxa de Respondidas em 5 dias Úteis;STFC;$cells").asJava)
    }
    val factPath = dir.resolve("fact").toString
    val cfg = EngineConfig(anosAlvo = Seq(2023, 2024), servicosAlvo = Seq("STFC"))
    val stats = Pipeline.lifecycle(spark, dir.toString, cfg, factPath)
    assert(stats.resources == 2 && stats.errors.isEmpty, s"$stats")
    val byYear = spark.read.parquet(factPath).groupBy("ano", "arquivo_origem")
      .count().collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(byYear == Map((2023, "ida_raw_2023_stfc.wb") -> 6L,
      (2024, "ida_raw_2024_stfc.wb") -> 4L), s"$byYear")
  }

  test("lifecycle: the stored fact does not depend on shuffle partitions " +
    "or the advisory partition size (CSV, WB and ODS sheets)") {
    val cfg = EngineConfig(anosAlvo = Seq(2023, 2024),
      servicosAlvo = Seq("SMP", "SCM", "STFC"))
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    val facts = try {
      for (parts <- Seq("1", "32"); advisory <- Seq("1m", "64m")) yield {
        keys.zip(Seq(parts, advisory)).foreach { case (k, v) => spark.conf.set(k, v) }
        val factPath = Files.createTempDirectory("graft-e2-inv").toString + "/fact"
        val s = Pipeline.lifecycle(spark, SparkEntry.fixturesDir, cfg, factPath)
        assert(s.resources == 4 && s.errors.isEmpty, s"$parts/$advisory: $s")
        storedRows(factPath)
      }
    } finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    assert(facts.head.nonEmpty && facts.forall(_ == facts.head))
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
    // the codegen cache holds a warm session's working set, and no class
    // name carries the run-dependent stage id
    assert(conf("spark.sql.codegen.cache.maxEntries") == "350")
    assert(conf("spark.sql.codegen.useIdInClassName") == "false")
    // a static conf: the session this JVM built first carries it
    assert(spark.sparkContext.getConf.get("spark.sql.codegen.cache.maxEntries") == "350")
  }

  /** Janino compiles in this JVM so far (Spark's codegen-cache misses). */
  private def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a warm session compiles no new class for a second flagship query " +
    "or a second load and replay") {
    def flagship() = SparkEntry.queries("flagship_taxa_variacao")(spark, sf0001).collect()
    def loadAndReplay(): Seq[Pipeline.RunStats] = {
      val factPath = Files.createTempDirectory("graft-pipe-warm").toString + "/fact"
      val sheets = Seq(wideSheet("a.ods", "CLARO S.A."), wideSheet("b.ods", "TIM S.A."))
      Seq(Pipeline.run(spark, sheets, factPath), Pipeline.run(spark, sheets, factPath))
    }
    val first = flagship()
    val c0 = compiles
    assert(flagship().toSeq == first.toSeq)
    assert(compiles - c0 == 0, "the second flagship query compiled new classes")
    assert(loadAndReplay().map(_.loadedNew) == Seq(6, 0))
    val c1 = compiles
    assert(loadAndReplay().map(_.loadedNew) == Seq(6, 0))
    assert(compiles - c1 == 0, "the second load and replay compiled new classes")
  }

  test("append's declared store key is the key the store infers") {
    val factPath = Files.createTempDirectory("graft-pipe-key").toString + "/fact"
    val sheets = Seq(wideSheet("a.ods", "CLARO S.A."))
    assert(Pipeline.run(spark, sheets, factPath).loadedNew == 3)
    val key = graft.plans.IdaMart.StoreKey.head
    assert(spark.read.parquet(factPath).schema(key.name) == key)
    assert(Pipeline.run(spark, sheets, factPath).loadedNew == 0)
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
