package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** S4/S5 end-to-end: read a raw headerless delimited export *from disk*,
  * autodetect its header row (S6, [[Probe.findHeaderRow]]), and re-read the
  * file with the detected header — the reference's two-phase spreadsheet
  * ingestion (/root/reference/etl/etl_ida.py:171-176, 213-246, 259-274:
  * `pd.read_excel(header=None)` probe, then re-read with `header=N`).
  *
  * Spark-first shape:
  *  - the probe touches only the file head (`limit(Probe.MaxScan)` on the
  *    text source — partition 0 of a file scan IS the file head, so this is
  *    a metadata-sized driver operation no matter how large the file);
  *  - the full read is a narrow text scan + `from_csv` parse. Line numbers
  *    come from `zipWithIndex`, which is deterministic for file-backed
  *    partitions (fixed byte ranges) — they drive the forward-fill order
  *    (W3) and the `linha_origem` lineage column;
  *  - empty cells parse to NULL (CSV `nullValue` default), which is what
  *    the merged-cell forward-fill expects.
  *
  * At 100 TB this stays two passes over each file (offset count + parse),
  * both embarrassingly parallel; only the 20-line probe is driver-side.
  */
object RawIngest {

  /** Detected header: 0-based line index + raw header cell names. */
  case class DetectedHeader(headerIdx: Int, columns: Seq[String])

  /** RFC-4180-style cell split for the PROBE only (the full read parses
    * with `from_csv`, which already honors quoting): a delimiter inside a
    * double-quoted cell does not split, `""` is an escaped quote. Without
    * this a quoted export (`"89,74"` in a comma-delimited file) would
    * miscount the header row's cells. Trailing empty cells are kept, like
    * `String.split(_, -1)`. */
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
    detectDelimFromHead(headLines(spark, path))

  private def headLines(spark: SparkSession, path: String): Seq[String] =
    spark.read.textFile(path).limit(Probe.MaxScan).collect().toSeq

  private def detectDelimFromHead(head: Seq[String]): String =
    delimCandidates.maxBy { d =>
      val cells: Seq[Seq[Any]] = head.map(splitQuoted(_, d.charAt(0)))
      val idx = Probe.findHeaderRow(cells, default = -1)
      if (idx < 0) 0 else cells(idx).length
    }

  /** The delimiters [[detectDelim]] chooses from. */
  private val delimCandidates: Seq[String] = Seq(";", ",", "\t")

  /** S6 over a real file: probe the first [[Probe.MaxScan]] physical lines,
    * split with the delimiter [[detectDelim]] finds in the SAME collected
    * head (one driver probe, not two). */
  def probeHeader(spark: SparkSession, path: String): DetectedHeader =
    probeHeaderFromHead(headLines(spark, path), path)._1

  /** Shared probe core: returns the detected header AND the detected
    * delimiter, so [[readWithDetectedHeader]] costs one head collect. */
  private def probeHeaderFromHead(head: Seq[String],
                                  path: String): (DetectedHeader, String) = {
    val d = detectDelimFromHead(head)
    val cells: Seq[Seq[Any]] = head.map(splitQuoted(_, d.charAt(0)))
    val idx = Probe.findHeaderRow(cells)
    require(idx < head.length, s"header probe found no header in $path")
    (DetectedHeader(idx, dedupeNames(cells(idx).map(_.toString.trim))), d)
  }

  /** Blank/duplicate header cells get positional fallbacks, like the
    * reference's pandas rename of unnamed columns. Shared with the ODS
    * container reader ([[Ods]]) — one naming rule for every raw source. */
  private[sources] def dedupeNames(names: Seq[String]): Seq[String] = {
    val seen = scala.collection.mutable.Map.empty[String, Int]
    names.zipWithIndex.map { case (n0, i) =>
      val n = if (n0.isEmpty) s"_c$i" else n0
      seen.get(n) match {
        case None    => seen(n) = 1; n
        case Some(k) => seen(n) = k + 1; s"${n}_$k"
      }
    }
  }

  /** S4+S5: text-scan the file, drop everything up to and including the
    * detected header line, and parse the rest with the detected column
    * names (all strings — typing happens in the transform stage, like the
    * reference's `dtype=str` re-read). Output columns:
    * `row_idx` (0-based data-row index), the detected columns, and
    * `ARQUIVO_ORIGEM` (file basename). `path` must name exactly one file
    * ([[requireSingleFile]]). */
  def readWithDetectedHeader(spark: SparkSession, path: String): DataFrame = {
    requireSingleFile(spark, path, "readWithDetectedHeader")
    val (det, d) = probeHeaderFromHead(headLines(spark, path), path)
    val parseSchema = StructType(
      det.columns.map(StructField(_, StringType, nullable = true)))
    val rowSchema = StructType(Seq(
      StructField("row_idx", LongType, nullable = false),
      StructField("line", StringType, nullable = true)))
    val hdr = det.headerIdx.toLong
    val indexed = spark.createDataFrame(
      spark.read.textFile(path).rdd.zipWithIndex()
        .filter(_._2 > hdr)
        .map { case (line, i) => Row(i - hdr - 1, line) },
      rowSchema)
    val fileName = new java.io.File(path).getName
    indexed
      .select(col("row_idx"),
        from_csv(col("line"), parseSchema, Map("sep" -> d)).as("r"))
      .select(col("row_idx") +: det.columns.map(c => col(s"r.`$c`").as(c)): _*)
      .withColumn("ARQUIVO_ORIGEM", lit(fileName))
  }

  /** Raw IDA export -> the canonical wide frame [[graft.plans.IdaTransform]]
    * consumes: id headers renamed to their canonical underscore form, month
    * columns kept verbatim. */
  def readIdaExport(spark: SparkSession, path: String): DataFrame =
    renameIdaHeaders(readWithDetectedHeader(spark, path))

  /** Single-file contract of the detected-header readers, enforced with a
    * file-system listing (no Spark job). Over a glob or directory the
    * header probe reads only the first file's head, per-file line or
    * grid-row numbers collide, so other files' preamble and header rows
    * would enter as data, and `ARQUIVO_ORIGEM` would name the glob for
    * every row. Multi-file ingest loops the reader per file. */
  private[sources] def requireSingleFile(spark: SparkSession, path: String,
                                         reader: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = Option(fs.globStatus(p)).getOrElse(Array.empty).flatMap {
      case d if d.isDirectory => fs.listStatus(d.getPath).filter(_.isFile)
      case f => Array(f)
    }
    require(files.length == 1,
      s"$reader: '$path' resolves to ${files.length} files — the " +
        "detected-header read is single-file (per-file row numbers would " +
        "interleave); loop per file for multi-file ingest")
  }

  /** Canonical id-header renames, shared by the delimited and ODS raw
    * readers so both feed [[graft.plans.IdaTransform]] identically. */
  private[sources] def renameIdaHeaders(raw: DataFrame): DataFrame = {
    val renames = Map(
      "GRUPO ECONOMICO" -> "GRUPO_ECONOMICO",
      "GRUPO ECONÔMICO" -> "GRUPO_ECONOMICO")
    raw.columns.foldLeft(raw) { (df, c) =>
      renames.get(c.toUpperCase) match {
        case Some(canon) => df.withColumnRenamed(c, canon)
        case None        => df
      }
    }
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
