package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.GraftGlue
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._

import graft.model.EngineConfig
import graft.plans.IdaTransform
import graft.sources.{Catalog, Ods, RawIngest}

/** S4/S5/S6 end-to-end from a real file on disk: header probe, re-read
  * with the detected header, full transform — plus S1-S3 catalog
  * discovery over the fixtures directory. */
class RawIngestSpec extends SparkSpec {

  private val fixturesDir = SparkEntry.fixturesDir
  private val smp = s"$fixturesDir/ida_raw_2023_smp.csv"
  private val scm = s"$fixturesDir/ida_raw_2023_scm.csv"

  test("S6: header probe finds the GRUPO/VARIAVEL row past the preamble") {
    assert(RawIngest.probeHeader(spark, smp).headerIdx == 5)
    assert(RawIngest.probeHeader(spark, scm).headerIdx == 4)
    val cols = RawIngest.probeHeader(spark, smp).columns
    assert(cols.take(3) == Seq("GRUPO ECONOMICO", "VARIAVEL", "SERVICO"))
    assert(cols.drop(3) ==
      Seq("2023-01", "2023-02", "2023-03", "2023-04", "2023-05", "2023-06"))
  }

  test("S4/S5: re-read with detected header yields data rows only, " +
    "0-based row_idx in file order, empty cells as NULL") {
    val wide = RawIngest.readIdaExport(spark, smp)
    val rows = wide.orderBy("row_idx").collect()
    assert(rows.length == 16) // 15 metric rows + 1 trailing note row
    assert(rows.head.getAs[Long]("row_idx") == 0L)
    assert(rows.head.getAs[String]("GRUPO_ECONOMICO") == "ALGAR TELECOM S/A")
    // continuation rows carry NULL group (merged cells in the export)
    assert(rows(1).getAs[String]("GRUPO_ECONOMICO") == null)
    assert(rows.last.getAs[String]("GRUPO_ECONOMICO") == "nan")
    assert(wide.columns.contains("ARQUIVO_ORIGEM"))
  }

  test("delimiter autodetection: semicolon export -> ';', comma/quoted " +
    "export -> ','") {
    assert(RawIngest.detectDelim(spark, smp) == ";")
    assert(RawIngest.detectDelim(spark, scm) == ";")
    assert(RawIngest.detectDelim(spark, SparkEntry.quotedFixturePath) == ",")
  }

  test("quoted comma-delimited export parses to records identical to the " +
    "semicolon export (same data, second physical encoding)") {
    def recs(path: String) = IdaTransform
      .rawWideToRecords(RawIngest.readIdaExport(spark, path))
      .drop("arquivo_origem") // only the file name differs
      .collect().map(_.toString).sorted.toSeq
    val semi = recs(smp)
    val quoted = recs(SparkEntry.quotedFixturePath)
    assert(quoted.nonEmpty && quoted == semi)
  }

  test("quoted cells: doubled quotes unescape and a quoted delimiter stays " +
    "in its cell, in the data rows as in the header probe") {
    val f = java.nio.file.Files.createTempFile("raw-quoted", ".csv")
    java.nio.file.Files.write(f, java.util.Arrays.asList(
      "GRUPO ECONOMICO,VARIAVEL,SERVICO,2023-01",
      "\"ACME \"\"X\"\" S.A.\",\"Var, with comma\",SMP,\"89,74\""))
    val row = RawIngest.readIdaExport(spark, f.toString).collect().head
    assert(row.getAs[String]("GRUPO_ECONOMICO") == "ACME \"X\" S.A.")
    assert(row.getAs[String]("VARIAVEL") == "Var, with comma")
    assert(row.getAs[String]("SERVICO") == "SMP")
    assert(row.getAs[String]("2023-01") == "89,74")
  }

  /** SQL executions started while `body` runs, counted like [[JobCount]]. */
  private def sqlExecutions[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val started = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => started.incrementAndGet()
        case _ =>
      }
    }
    GraftGlue.drainListeners(sc)
    sc.addSparkListener(listener)
    try {
      val result = body
      GraftGlue.drainListeners(sc)
      (result, started.get)
    } finally sc.removeSparkListener(listener)
  }

  test("building the wide frame starts no Spark job (CSV, quoted CSV, WB " +
    "sheet, ODS)") {
    // nor, for the delimited reads, a SQL execution
    val wbSheet = s"$fixturesDir/ida_raw_2023_stfc.wb/Telefonia_Fixa.csv"
    for (p <- Seq(smp, SparkEntry.quotedFixturePath, wbSheet)) {
      val ((_, jobs), execs) =
        sqlExecutions(JobCount(spark)(RawIngest.readIdaExport(spark, p)))
      assert(jobs == 0 && execs == 0, s"$p: $jobs jobs, $execs SQL executions")
    }
    val (_, odsJobs) = JobCount(spark)(
      Ods.readIdaExport(spark, SparkEntry.odsFixturePath, "Telefonia_Fixa"))
    assert(odsJobs == 0, s"ODS: $odsJobs jobs")
  }

  test("end-to-end: raw file -> records; forward-fill, standardization, " +
    "P1/P2 filters all applied") {
    val recs = IdaTransform.rawWideToRecords(
      RawIngest.readIdaExport(spark, smp))
    val out = recs.collect()
    // 15 metric rows x 6 months = 90 cells, minus one '-' and one blank
    // (TIM); the note row is P1-filtered (grupo 'nan')
    assert(out.length == 88)
    val groups = out.map(_.getAs[String]("grupo_economico")).toSet
    assert(groups == Set("ALGAR", "CLARO", "TIM", "VIVO", "OI"))
    val vars = out.map(_.getAs[String]("variavel")).toSet
    assert(vars == Set("IDA", "TAXA_RESP_5DIAS", "QTD_RECLAMACOES"))
    // percent strip + locale parse: ALGAR taxa Jan = "95,36%" -> 95.36
    val algarTaxa = out.find(r =>
      r.getAs[String]("grupo_economico") == "ALGAR" &&
        r.getAs[String]("variavel") == "TAXA_RESP_5DIAS" &&
        r.getAs[java.sql.Date]("ano_mes").toString == "2023-01-01").get
    assert(algarTaxa.getAs[Double]("valor") == 95.36)
  }

  test("multi-file union: SMP + SCM exports transform and union cleanly") {
    val recs = Seq(smp, scm)
      .map(p => IdaTransform.rawWideToRecords(RawIngest.readIdaExport(spark, p)))
      .reduce(_ unionByName _)
    val byFile = recs.groupBy("arquivo_origem").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byFile("ida_raw_2023_smp.csv") == 88)
    assert(byFile("ida_raw_2023_scm.csv") == 18) // 6 rows x 3 months
  }

  test("S1-S3: catalog discovery lists, parses, and filters resources") {
    val all = Catalog.listResources(fixturesDir)
    assert(all.map(_.servico).toSet == Set("SMP", "SCM", "STFC"))
    assert(all.map(_.ano).toSet == Set(2023, 2024)) // 2024 = the ODS fixture
    assert(all.map(_.formato).toSet == Set("CSV", "WB", "ODS"))
    val cfg = EngineConfig(anosAlvo = Seq(2023), servicosAlvo = Seq("SMP"))
    val hits = Catalog.discover(fixturesDir, cfg)
    assert(hits.map(_.id) == Seq("ida_raw_2023_smp.csv"))
    // year filter excludes everything when no target year matches
    assert(Catalog.discover(fixturesDir,
      EngineConfig(anosAlvo = Seq(2017))).isEmpty)
  }

  test("WB containers resolve to the service's mapped sheet only") {
    val wb = Catalog.discover(fixturesDir,
      EngineConfig(anosAlvo = Seq(2023), servicosAlvo = Seq("STFC")))
    assert(wb.map(_.formato) == Seq("WB"))
    val path = Catalog.resolveSheet(wb.head)
    assert(path.endsWith("ida_raw_2023_stfc.wb/Telefonia_Fixa.csv"),
      s"resolved $path")
    // plain files resolve to themselves
    val smpRes = Catalog.discover(fixturesDir,
      EngineConfig(anosAlvo = Seq(2023), servicosAlvo = Seq("SMP"))).head
    assert(Catalog.resolveSheet(smpRes) == smpRes.url)
    // an unmapped service fails loudly (reference: "não tem mapeamento")
    val e = intercept[IllegalArgumentException] {
      Catalog.resolveSheet(wb.head.copy(servico = "SEAC"))
    }
    assert(e.getMessage.contains("sheet mapping"))
  }

  test("WB sheet ingests end-to-end: probe, forward-fill, dirty-cell drops") {
    val wb = Catalog.discover(fixturesDir,
      EngineConfig(anosAlvo = Seq(2023), servicosAlvo = Seq("STFC"))).head
    val recs = IdaTransform.rawWideToRecords(
      RawIngest.readIdaExport(spark, Catalog.resolveSheet(wb)))
    // 3 groups x 3 variables x 3 months = 27 cells, minus OI's '-' IDA
    // (invalid) and OI's empty taxa month-3 cell; the nan footer drops
    assert(recs.count() == 25)
    val out = recs.collect()
    // merged-cell forward fill: the blank-GRUPO reclamações rows inherit
    // the group above (OI's count survives all three months)
    val oiQtd = out.filter(r =>
      r.getAs[String]("grupo_economico") == "OI" &&
        r.getAs[String]("variavel") == "QTD_RECLAMACOES")
    assert(oiQtd.length == 3)
    assert(oiQtd.map(_.getAs[Double]("valor")).sorted.toSeq ==
      Seq(60.876, 61.23, 62.005))
    // decoy sheet stays untouched: every origin is the mapped sheet
    assert(out.forall(
      _.getAs[String]("arquivo_origem") == "Telefonia_Fixa.csv"))
  }

  test("detected-header read refuses a directory of several exports") {
    val dir = java.nio.file.Files.createTempDirectory("raw-multi")
    Seq(smp, scm).foreach { p =>
      val f = java.nio.file.Paths.get(p)
      java.nio.file.Files.copy(f, dir.resolve(f.getFileName))
    }
    val e = intercept[IllegalArgumentException] {
      RawIngest.readIdaExport(spark, dir.toString)
    }
    assert(e.getMessage.contains("resolves to 2 files"), e.getMessage)
  }
}
