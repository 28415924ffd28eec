package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Partitioned-parquet sink for the fact table — the physical layout that
  * makes the flagship query's time filters prune at 100 TB: partitioning by
  * `ano` turns a year predicate into directory pruning (zero I/O for other
  * years), and parquet min/max stats prune months within a year.
  *
  * The reference's sink is row-at-a-time JDBC inserts with an ON CONFLICT
  * hash guard (/root/reference/etl/etl_ida.py:502-554); its physical tuning
  * is covering indexes (schema_star.sql:96-101). Here idempotency is the
  * left-anti dedup in [[graft.plans.IdaMart.append]] and the tuning analog is
  * directory partitioning + parquet stats.
  */
object Sinks {

  /** The records' month column: the source of `ano` and the in-file
    * clustering order. */
  private val DateCol = "ano_mes"

  /** Write a fact frame partitioned by year.
    *
    * If the frame already carries an `ano` column it is used verbatim;
    * otherwise it is derived as `year(ano_mes)`.
    *
    * Layout shape at scale: a plain `partitionBy("ano")` write emits one
    * file per (task x year) — at 100 TB with thousands of tasks that is a
    * small-files explosion; a bare `repartition($"ano")` collapses each year
    * onto ONE task — a parallelism cliff. The middle path shuffles on
    * (ano, salt) so each year directory is written by up to `filesPerYear`
    * parallel tasks and contains at most that many files. The salt is
    * derived from the input partition id, so it costs no data-dependent
    * hashing and spreads rows evenly regardless of key skew.
    */
  def writeFactPartitioned(fact: DataFrame, path: String,
                           mode: String = "overwrite",
                           filesPerYear: Int = 8): Unit = {
    val withAno =
      if (fact.columns.contains("ano")) fact
      else fact.withColumn("ano", year(col(DateCol)))
    val shuffled = withAno.repartition(col("ano"),
      pmod(spark_partition_id(), lit(filesPerYear)).as("__salt"))
    // clustering rows by month WITHIN each file is what makes the "parquet
    // min/max stats prune months inside a year" claim true: unsorted files
    // carry year-wide month ranges and prune nothing. Only applicable when
    // the frame still carries the date column (the star fact carries keys).
    val clustered =
      if (withAno.columns.contains(DateCol))
        shuffled.sortWithinPartitions(col("ano"), col(DateCol))
      else shuffled
    clustered
      .write.mode(mode)
      .partitionBy("ano")
      .parquet(path)
  }

  /** Read back with partition pruning available on `ano`. */
  def readFact(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** The parquet store at `path`, or None when there is none: no such
    * path, or no data files in it (a zero-row first append leaves only
    * `_SUCCESS`). Any other read error propagates: taking it for an empty
    * store would skip the idempotency anti-join and append replayed
    * duplicates. The path is asked of the file system, not found by a failed
    * read, because Spark's observation listener re-analyzes and logs every
    * failed query, and `IdaMart.append`'s metric read waits behind it.
    *
    * Given the `schema` of the columns the caller reads, the read starts no
    * job: without it Spark runs one to infer the schema from a footer. A
    * store without data files then reads as an empty frame, not None. */
  def readStoreIfExists(spark: org.apache.spark.sql.SparkSession,
                        path: String,
                        schema: Option[StructType] = None): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(path)
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)) None
    else try Some(schema.fold(spark.read)(spark.read.schema).parquet(path)) catch {
      case e: org.apache.spark.sql.AnalysisException
          if e.getCondition == "UNABLE_TO_INFER_SCHEMA" => None
    }
  }

  /** Compact an append-heavy fact store back to at most `filesPerYear`
    * files per partition: every idempotent [[graft.plans.Pipeline.run]] /
    * streaming micro-batch append adds files, and a year's directory
    * eventually holds hundreds of small parquet files whose open/footer
    * cost dominates scans.
    *
    * Shape: one full rewrite into a staging directory (Spark refuses to
    * overwrite a path it is reading, correctly), then delete + rename —
    * data is written once and the store swap is two metadata operations.
    * Content is row-identical, so re-running after a failure is safe; if
    * the process dies between delete and rename, the full store survives
    * at `<path>__compacting` (the error message says so). NOT
    * concurrent-reader-safe — schedule like any maintenance job. */
  def compactFact(spark: org.apache.spark.sql.SparkSession, path: String,
                  filesPerYear: Int = 8): Unit = {
    val target = new org.apache.hadoop.fs.Path(path)
    val staging = new org.apache.hadoop.fs.Path(path + "__compacting")
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(staging)) fs.delete(staging, true) // stale prior attempt
    writeFactPartitioned(spark.read.parquet(path), staging.toString,
      mode = "overwrite", filesPerYear = filesPerYear)
    require(fs.delete(target, true), s"could not remove $target for swap")
    require(fs.rename(staging, target),
      s"swap rename failed — compacted store preserved at $staging")
  }
}
