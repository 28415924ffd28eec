package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Schema-fixed readers over the driver fixture tables (TESTDATA.md).
  *
  * Replaces the reference's network sources (REST catalog scan + in-memory
  * ODS fetch, /root/reference/etl/etl_ida.py:653-730) with columnar parquet
  * scans: at 100 TB the scan must support predicate pushdown, column pruning
  * and partition pruning, which parquet + Catalyst give for free and
  * row-wise spreadsheet ingestion cannot.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  /** The star-schema tables' column types, declared like the reference's
    * DDL (schema_star.sql) rather than inferred: a read with a given schema
    * starts no footer-sampling job, which on a short mart query is a
    * whole extra job per table touched. The `*date` columns are
    * TIMESTAMP_NTZ because the files hold INT64 TIMESTAMP(MICROS) with
    * isAdjustedToUTC=false. TablesSpec pins each schema to the one Spark
    * infers from every fixture scale, so a changed fixture fails there
    * instead of reading as nulls. `events` (three observed `ts`
    * encodings) reads with its file's [[footerSchema]]; `documents` and
    * `embeddings` keep the inferring read. */
  val declared: Map[String, StructType] = Map(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer" -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
      "c_acctbal DOUBLE, c_mktsegment STRING"),
    "supplier" -> ("s_suppkey BIGINT, s_name STRING, s_nationkey INT, " +
      "s_acctbal DOUBLE"),
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, " +
      "p_type STRING, p_size INT, p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
      "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
      "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, " +
      "l_linestatus STRING, l_shipdate TIMESTAMP_NTZ")
  ).map { case (n, ddl) => n -> StructType.fromDDL(ddl) }

  /** Generic reader: a declared table reads with its schema; `events`
    * reads with its footer's schema and gets its timestamp normalized. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val file = path(dir, name)
    val schema = if (name == "events") Some(footerSchema(spark, file))
      else declared.get(name)
    val raw = schema.fold(spark.read)(s => spark.read.schema(s)).parquet(file)
    if (name == "events") normalizeEventTs(raw) else raw
  }

  /** The schema Spark's parquet inference gives `path`, read on the driver
    * with no Spark job: the footer of the one file the inference reads (the
    * path itself, or a directory's first data file in path order), through
    * the Hadoop `FileSystem`, converted by Spark's own parquet schema
    * converter under the session's settings (`nanosAsLong`, NTZ inference).
    * A Spark-written file's stored row schema wins, as it does there.
    * TablesSpec pins it to the inferred schema at every fixture scale. */
  private[graft] def footerSchema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val file = if (!fs.getFileStatus(p).isDirectory) p
      else fs.listStatus(p).filter(_.isFile).map(_.getPath)
        .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
        .minBy(_.toString)
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromPath(file, conf), ParquetMetadataConverter.NO_FILTER)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = table(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** The fixture's `events.ts` encoding has changed across driver
    * generations; the reader absorbs all three observed parquet encodings and
    * always surfaces a (UTC-instant) TimestampType:
    *
    *  - INT64 TIMESTAMP(NANOS): with
    *    `spark.sql.legacy.parquet.nanosAsLong=true` Spark surfaces it as a
    *    LongType of nanoseconds. Convert with integer division (`div`) — a
    *    double round-trip would lose precision for epoch-nanos
    *    (~1.7e18 > 2^53) and could flip a microsecond vs DuckDB's own
    *    nanos->micros truncation.
    *  - TIMESTAMP(MICROS) isAdjustedToUTC=false: Spark reads TIMESTAMP_NTZ.
    *    The session timezone is pinned UTC ([[graft.Session.confFor]]), so
    *    casting to TimestampType reinterprets the wall-clock values as UTC
    *    instants value-exactly — the same thing DuckDB does when it reads
    *    the column as a naive timestamp.
    *  - TIMESTAMP(MICROS) isAdjustedToUTC=true: already TimestampType.
    */
  private[graft] def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                => df
    }
}
