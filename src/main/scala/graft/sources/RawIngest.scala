package graft.sources

import java.io.{BufferedReader, InputStream, InputStreamReader}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S4/S5 end-to-end: read a raw headerless delimited export *from disk*,
  * autodetect its header row (S6, [[Probe.findHeaderRow]]), and read the
  * rows below it under the detected header — the reference's two-phase
  * spreadsheet ingestion (/root/reference/etl/etl_ida.py:171-176, 213-246,
  * 259-274: `pd.read_excel(header=None)` probe, then re-read with
  * `header=N`).
  *
  * Spark-first shape, shared with the ODS reader ([[Ods]]):
  *  - the file becomes the raw grid both readers produce,
  *    `(row_idx: long, cells: array<string>)`: each physical line of an
  *    RDD text scan (`SparkContext.textFile`, which posts no SQL execution
  *    while the frame is built), numbered by `zipWithIndex` (deterministic
  *    for file-backed partitions — fixed byte ranges) and split by
  *    [[splitQuoted]]. The line numbers drive the forward-fill order (W3)
  *    and the `linha_origem` lineage column;
  *  - the header probe reads the first [[Probe.MaxScan]] lines on the
  *    driver through the Hadoop `FileSystem` and splits them with the same
  *    [[splitQuoted]], so the probe and the data share one split rule and
  *    building the frame starts no Spark job;
  *  - [[wideFrame]] projects the grid under the detected header, blank
  *    cells as NULL, which is what the merged-cell forward-fill expects.
  *
  * At 100 TB this stays two passes over each file (`zipWithIndex`'s
  * per-partition line count, a job once the file spans several splits,
  * then the split), both embarrassingly parallel; the probe reads only the
  * file head.
  */
object RawIngest {

  /** Detected header: 0-based line index + raw header cell names. */
  case class DetectedHeader(headerIdx: Int, columns: Seq[String])

  /** RFC-4180-style cell split, the one rule for the header probe and the
    * data rows: a delimiter inside a double-quoted cell does not split,
    * `""` is an escaped quote, the enclosing quotes are dropped (so
    * `"ACME ""X"" S.A."` reads `ACME "X" S.A.`, as DuckDB's `read_csv`
    * reads it). Trailing empty cells are kept, like `String.split(_, -1)`. */
  private def splitQuoted(line: String, delim: Char): Seq[String] = {
    val out = Seq.newBuilder[String]
    val sb = new StringBuilder
    var inQ = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (c == '"') {
        if (inQ && i + 1 < line.length && line.charAt(i + 1) == '"') {
          sb.append('"'); i += 1
        } else inQ = !inQ
      } else if (c == delim && !inQ) { out += sb.result(); sb.clear() }
      else sb.append(c)
      i += 1
    }
    out += sb.result()
    out.result()
  }

  /** Delimiter autodetection over the file head: the candidate that both
    * exposes a recognizable header row ([[Probe.findHeaderRow]]) and
    * splits it into the most cells wins — a wrong delimiter leaves the
    * header as one cell. The reference gets this tolerance from pandas'
    * spreadsheet reader (/root/reference/etl/etl_ida.py:215-242); here it
    * is an explicit bounded probe (driver-side, [[Probe.MaxScan]] lines). */
  def detectDelim(spark: SparkSession, path: String): String =
    detectDelimFromHead(headLines(spark, path)).toString

  private def detectDelimFromHead(head: Seq[String]): Char =
    delimCandidates.maxBy { d =>
      val cells = head.map(splitQuoted(_, d))
      val idx = Probe.findHeaderRow(cells, default = -1)
      if (idx < 0) 0 else cells(idx).length
    }

  /** The delimiters [[detectDelim]] chooses from. */
  private val delimCandidates: Seq[Char] = Seq(';', ',', '\t')

  /** The first [[Probe.MaxScan]] lines of the one file `path` names, read
    * on the driver (no Spark job) the way the data read,
    * `SparkContext.textFile`, reads them: UTF-8, `\n`/`\r\n`/`\r` line
    * ends, decompressed by the codec the file's extension names. */
  private def headLines(spark: SparkSession, path: String): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val file = requireSingleFile(spark, path)
    val raw: InputStream = file.getFileSystem(conf).open(file)
    val in = Option(new CompressionCodecFactory(conf).getCodec(file))
      .fold(raw)(_.createInputStream(raw))
    val r = new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8))
    try Iterator.continually(r.readLine()).takeWhile(_ != null)
      .take(Probe.MaxScan).toList
    finally r.close()
  }

  /** S6 over a real file: probe the first [[Probe.MaxScan]] physical lines,
    * split with the delimiter [[detectDelim]] finds in the same head. */
  def probeHeader(spark: SparkSession, path: String): DetectedHeader = {
    val head = headLines(spark, path)
    val d = detectDelimFromHead(head)
    detectHeader(head.map(splitQuoted(_, d)), path)
  }

  private def detectHeader(head: Seq[Seq[String]], path: String): DetectedHeader = {
    val idx = Probe.findHeaderRow(head)
    require(idx < head.length, s"header probe found no header in $path")
    DetectedHeader(idx, dedupeNames(head(idx).map(_.trim)))
  }

  /** Blank/duplicate header cells get positional fallbacks, like the
    * reference's pandas rename of unnamed columns. */
  private def dedupeNames(names: Seq[String]): Seq[String] = {
    val seen = scala.collection.mutable.Map.empty[String, Int]
    names.zipWithIndex.map { case (n0, i) =>
      val n = if (n0.isEmpty) s"_c$i" else n0
      seen.get(n) match {
        case None    => seen(n) = 1; n
        case Some(k) => seen(n) = k + 1; s"${n}_$k"
      }
    }
  }

  /** Canonical id-header renames (matched upper-cased), so the delimited
    * and ODS readers feed [[graft.plans.IdaTransform]] identically. */
  private val idaHeaderRenames = Map(
    "GRUPO ECONOMICO" -> "GRUPO_ECONOMICO",
    "GRUPO ECONÔMICO" -> "GRUPO_ECONOMICO")

  /** The one projection from a raw grid `(row_idx, cells)` to the wide
    * frame [[graft.plans.IdaTransform]] consumes, shared by both raw
    * readers. `head` is the grid's first [[Probe.MaxScan]] rows, read on
    * the driver. Output columns: `row_idx` (0-based data-row index), the
    * detected header's columns (deduped, id headers renamed to their
    * canonical underscore form, month columns verbatim) as nullable
    * strings — blank cells and cells past a short row's end are NULL —
    * and `ARQUIVO_ORIGEM` (file basename). Typing happens in the
    * transform stage, like the reference's `dtype=str` re-read. */
  private[sources] def wideFrame(grid: DataFrame, head: Seq[Seq[String]],
                                 path: String): DataFrame = {
    val det = detectHeader(head, path)
    val cells = det.columns.zipWithIndex.map { case (n, i) =>
      val c = try_element_at(col("cells"), lit(i + 1))
      when(c === "", lit(null)).otherwise(c)
        .as(idaHeaderRenames.getOrElse(n.toUpperCase, n))
    }
    grid.filter(col("row_idx") > det.headerIdx)
      .select((col("row_idx") - lit(det.headerIdx + 1)).as("row_idx") +: cells: _*)
      .withColumn("ARQUIVO_ORIGEM", lit(new java.io.File(path).getName))
  }

  /** Raw IDA export -> the canonical wide frame [[graft.plans.IdaTransform]]
    * consumes ([[wideFrame]] over the file's line grid). `path` must name
    * exactly one file ([[requireSingleFile]]). */
  def readIdaExport(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val head = headLines(spark, path)
    val d = detectDelimFromHead(head)
    // an RDD text scan, not `spark.read.textFile(path).rdd`: that plans a
    // SQL execution on the driver while the frame is built. One split per
    // file below the file system's block size, so `zipWithIndex` runs no job
    val grid = spark.sparkContext.textFile(path, minPartitions = 1).zipWithIndex()
      .map { case (line, i) => (i, splitQuoted(line, d)) }
      .toDF("row_idx", "cells")
    wideFrame(grid, head.map(splitQuoted(_, d)), path)
  }

  /** Single-file contract of the raw readers, enforced with a file-system
    * listing (no Spark job); returns that file. Over a glob or directory
    * the header probe would read only the first file's head, per-file line
    * or grid-row numbers collide, so other files' preamble and header rows
    * would enter as data, and `ARQUIVO_ORIGEM` would name the glob for
    * every row. Multi-file ingest loops the reader per file. */
  private[sources] def requireSingleFile(spark: SparkSession, path: String): Path = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = Option(fs.globStatus(p)).getOrElse(Array.empty).flatMap {
      case d if d.isDirectory => fs.listStatus(d.getPath).filter(_.isFile)
      case f => Array(f)
    }
    require(files.length == 1,
      s"'$path' resolves to ${files.length} files — the detected-header " +
        "read is single-file (per-file row numbers would interleave); loop " +
        "per file for multi-file ingest")
    files.head.getPath
  }

  /** DuckDB mirror of `readIdaExport` + `IdaTransform.rawWideToRecords`
    * WITHOUT a final ORDER BY — composable as a records CTE (the full
    * lifecycle oracle unions two of these).
    *
    * Ordering dependency, documented: `row_number() OVER ()` numbers rows
    * in scan order, which equals the engine's zipWithIndex line numbers
    * because DuckDB's `preserve_insertion_order` setting defaults to true
    * (and the harness never disables it — it is only ever turned off in
    * memory-constrained configurations). Under `preserve_insertion_order
    * = false` the oracle's `linha_origem` and the forward-fill order would
    * be nondeterministic; the engine side needs no such assumption
    * (zipWithIndex over fixed file byte ranges is deterministic). */
  def ingestRecordsSql(path: String, fileName: String, headerIdx: Int,
                       months: Seq[String], delim: String = ";"): String = {
    import graft.functions.Fns
    def caseMap(col: String, m: Map[String, String]): String =
      s"CASE $col " + m.toSeq.sortBy(_._1).map {
        case (k, v) => s"WHEN '$k' THEN '$v'"
      }.mkString(" ") + s" ELSE $col END"
    val monthAliases = months.zipWithIndex
      .map { case (m, i) => s""""$m" AS m$i""" }.mkString(", ")
    val unions = months.zipWithIndex.map { case (m, i) =>
      s"""SELECT row_idx, grupo_raw, variavel_raw, servico_raw,
         |    '$m' AS mes_col, m$i AS valor_bruto FROM filled""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    val clean = (c: String) => s"regexp_replace(trim($c), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')"
    s"""WITH raw AS (
       |  SELECT *, row_number() OVER () - 1 AS row_idx
       |  FROM read_csv('$path', delim='$delim', header=true, skip=$headerIdx,
       |                all_varchar=true)
       |), filled AS (
       |  SELECT row_idx,
       |    last_value("GRUPO ECONOMICO" IGNORE NULLS) OVER (
       |      ORDER BY row_idx
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grupo_raw,
       |    "VARIAVEL" AS variavel_raw, "SERVICO" AS servico_raw,
       |    $monthAliases
       |  FROM raw
       |), longf AS (
       |  $unions
       |), cleaned AS (
       |  SELECT CAST(mes_col || '-01' AS DATE) AS ano_mes,
       |    ${clean("grupo_raw")} AS grupo_limpo,
       |    ${clean("variavel_raw")} AS variavel_limpa,
       |    ${clean("servico_raw")} AS servico,
       |    TRY_CAST(replace(replace(trim(valor_bruto), '%', ''), ',', '.')
       |      AS DOUBLE) AS valor,
       |    '$fileName' AS arquivo_origem,
       |    row_idx AS linha_origem
       |  FROM longf
       |  WHERE grupo_limpo IS NOT NULL AND grupo_limpo <> ''
       |    AND lower(grupo_limpo) <> 'nan'
       |    AND variavel_limpa IS NOT NULL AND variavel_limpa <> ''
       |    AND lower(variavel_limpa) <> 'nan'
       |)
       |SELECT ano_mes,
       |  ${caseMap("grupo_limpo", Fns.groupNameMap)} AS grupo_economico,
       |  servico,
       |  ${caseMap("variavel_limpa", Fns.variableNameMap)} AS variavel,
       |  valor, arquivo_origem, linha_origem
       |FROM cleaned
       |WHERE valor IS NOT NULL AND ano_mes IS NOT NULL""".stripMargin
  }

  /** [[ingestRecordsSql]] with the s4 query's deterministic total order. */
  def ingestOracleSql(path: String, fileName: String, headerIdx: Int,
                      months: Seq[String], delim: String = ";"): String =
    ingestRecordsSql(path, fileName, headerIdx, months, delim) +
      "\nORDER BY linha_origem, ano_mes"
}
