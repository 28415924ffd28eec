package graft.plans

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Fns._
import graft.sources.{Sinks, Tables}

/** Star-schema mart build — the reference's load path (SURVEY.md §2.1
  * S7/S8/S10, §2.3 J3, §2.4 A4) rebuilt Spark-first over the `orders`
  * fixture: o_orderdate -> tempo, o_orderpriority -> grupo_economico,
  * o_orderstatus -> servico, o_totalprice -> the measure.
  *
  * Reference semantics:
  *  - dimensions are distinct natural keys + surrogate keys
  *    (/root/reference/etl/etl_ida.py:556-620); surrogate keys here are
  *    the 1-based rank in natural-key order — deterministic and stable,
  *    unlike `monotonically_increasing_id` which depends on partition layout;
  *  - the fact load is an INSERT..SELECT over 4 natural-key lookups where a
  *    record matching no dim row is silently dropped
  *    (/root/reference/etl/etl_ida.py:504-554) -> inner broadcast joins;
  *  - dedup via md5 record hash + ON CONFLICT DO NOTHING
  *    (schema_star.sql:93-94) -> [[firstWinsDedup]] on the hash for
  *    intra-batch, left-anti join vs the existing table for cross-batch
  *    idempotency.
  *
  * Scale shape: all four dims are tiny (derived from low-cardinality
  * attributes) -> broadcast hash joins, zero shuffle on the fact side; the
  * only wide operation is the dedup on the hash (one shuffle on an
  * already-narrow projection). The dim keys are ranked on the driver.
  */
object IdaMart {

  /** Normalized records (the reference's DataRecord,
    * /root/reference/etl/etl_ida.py:103-131) derived from `orders`. */
  def records(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).select(
      monthStart(col("o_orderdate")).as("ano_mes"),
      col("o_orderpriority").as("grupo_economico"),
      col("o_orderstatus").as("servico"),
      lit("TOTALPRICE").as("variavel"),
      col("o_totalprice").as("valor"),
      lit("orders.parquet").as("arquivo_origem"),
      col("o_orderkey").as("linha_origem"))

  /** Typed view of [[records]] — `Dataset[DataRecord]` for callers that
    * want compile-time row typing (SURVEY §1.1). */
  def recordsTyped(spark: SparkSession, dir: String): org.apache.spark.sql.Dataset[graft.model.DataRecord] = {
    import spark.implicits._
    records(spark, dir)
      .withColumn("valor", col("valor").cast("double"))
      .as[graft.model.DataRecord]
  }

  /** Fail-fast bound on the driver-side dim collect: dims larger than this
    * violate the metadata-cardinality contract (they would not be
    * broadcastable either) — a clear error beats a silent driver OOM at
    * 100 TB. The reference's largest dim is 36 rows. */
  val MaxDimCardinality = 100000

  /** The fact's natural keys, one per dimension: a record missing any of
    * them matches no dimension row, so [[fact]] drops it. */
  val NaturalKeys = Seq("ano_mes", "grupo_economico", "servico", "variavel")

  /** Surrogate-key column of each dimension, by natural-key column. */
  private val SurrogateKeys = Map("ano_mes" -> "tempo_key",
    "grupo_economico" -> "grupo_key", "servico" -> "servico_key",
    "variavel" -> "variavel_key")

  /** The ONE dimension-key collect: the distinct natural keys of every
    * requested dim, ranked into surrogate keys ON THE DRIVER, one local
    * `(x_key, natural)` frame per dim.
    *
    * Each record explodes to one (dim, key) row per dim, the key in a
    * string or a date field (no per-row formatting); one distinct shuffle
    * (partial aggregation collapses per-partition first) and one global
    * `limit(n·MaxDimCardinality + 1)` bound the transfer BEFORE the
    * collect, so the guard itself cannot blow the driver. The limit is
    * reached only when some dim holds more than [[MaxDimCardinality]]
    * keys, and then the per-dim check below fails on it.
    *
    * Dims are metadata-cardinality by contract (the reference seeds
    * 36/10/3/11 rows, schema_star.sql:198-268): the key set is a
    * driver-sized collect — the same size bound that already makes these
    * dims broadcast-join build sides. Ranking driver-side avoids a
    * `row_number` over a global window, which (a) forced an
    * all-rows-to-one-partition WindowExec, and (b) as a lazy subtree
    * inside the fact's multi-join got re-aliased by the analyzer's
    * self-join deduplication and re-scanned the raw source (PipelineSpec's
    * scan-count test pins this).
    *
    * Null natural keys are dropped: the fact's equi-join lookup never
    * matches null, and Spark (NULLS FIRST) vs DuckDB (NULLS LAST) disagree
    * on where a null would rank. Dates rank chronologically, everything
    * else in Scala String order (UTF-16 code units), which equals DuckDB's
    * UTF-8 byte order for all BMP text — the fixtures' pt-BR accents
    * included. */
  private def dimKeys(records: DataFrame,
                      naturals: Seq[String]): Map[String, DataFrame] = {
    val spark = records.sparkSession
    val isDate = naturals.map(n => n -> (records.schema(n).dataType == DateType)).toMap
    val collected = records.select(explode(array(naturals.map { n =>
        val (str, date) =
          if (isDate(n)) (lit(null).cast(StringType), col(n))
          else (col(n), lit(null).cast(DateType))
        struct(lit(n).as("d"), str.as("s"), date.as("t"))
      }: _*)).as("e"))
      .select(col("e.*"))
      .where(col("s").isNotNull || col("t").isNotNull)
      .distinct()
      .limit(naturals.size * MaxDimCardinality + 1)
      .collect().groupBy(_.getString(0)).map { case (d, rows) =>
        d -> rows.map(_.get(if (isDate(d)) 2 else 1)) }
    collected.maxByOption(_._2.length).foreach { case (largest, keys) =>
      require(keys.length <= MaxDimCardinality,
        s"dimension '$largest' exceeds $MaxDimCardinality distinct keys — " +
          "not a metadata-scale dimension; model it as a fact-side column " +
          "or raise MaxDimCardinality deliberately")
    }
    naturals.map { n =>
      val ranked = collected.getOrElse(n, Array.empty[Any]).sortWith {
        case (a: java.sql.Date, b: java.sql.Date) => a.getTime < b.getTime
        case (a, b) => String.valueOf(a) < String.valueOf(b)
      }
      n -> spark.createDataFrame(
        java.util.Arrays.asList(ranked.toSeq.zipWithIndex.map {
          case (v, i) => org.apache.spark.sql.Row(i + 1, v) }: _*),
        StructType(Seq(StructField(SurrogateKeys(n), IntegerType, nullable = false),
          StructField(n, records.schema(n).dataType))))
    }.toMap
  }

  private def dimKeys(records: DataFrame, natural: String): DataFrame =
    dimKeys(records, Seq(natural))(natural)

  /** S8/A4: dim_tempo — distinct months + calendar attributes
    * (schema_star.sql:19-27; /root/reference/etl/etl_ida.py:574-587). */
  def dimTempo(records: DataFrame): DataFrame =
    dimKeys(records, "ano_mes").select(
      col("tempo_key"),
      col("ano_mes"),
      year(col("ano_mes")).as("ano"),
      month(col("ano_mes")).as("mes"),
      ptBrMonthName(month(col("ano_mes"))).as("mes_nome"),
      trimestre(col("ano_mes")).as("trimestre"),
      semestre(col("ano_mes")).as("semestre"))

  /** S8/A4: dim_grupo_economico (schema_star.sql:35-41). */
  def dimGrupo(records: DataFrame): DataFrame =
    dimKeys(records, "grupo_economico").select(
      col("grupo_key"),
      col("grupo_economico").as("grupo_codigo"),
      col("grupo_economico").as("grupo_nome"),
      upper(regexp_replace(col("grupo_economico"), "[^A-Za-z0-9]+", "_"))
        .as("grupo_normalizado"),
      lit(true).as("ativo"))

  /** S8/A4: dim_servico (schema_star.sql:49-55). */
  def dimServico(records: DataFrame): DataFrame =
    dimKeys(records, "servico").select(
      col("servico_key"),
      col("servico").as("servico_codigo"),
      col("servico").as("servico_nome"),
      concat(lit("Servico "), col("servico")).as("servico_descricao"),
      lit(true).as("ativo"))

  /** S8/A4: dim_variavel — derived from the records batch like the other
    * dims (the reference also upserts variables it encounters,
    * /root/reference/etl/etl_ida.py:600-620; rich seeded metadata lives in
    * [[MartSchema.seedDimVariavel]]). */
  def dimVariavel(records: DataFrame): DataFrame =
    dimKeys(records, "variavel").select(
      col("variavel_key"),
      col("variavel").as("variavel_codigo"),
      col("variavel").as("variavel_nome"),
      concat(lit("Variavel "), col("variavel")).as("variavel_descricao"),
      lit(true).as("ativo"))

  /** F8: the canonical record hash — the ONE definition shared by the batch
    * fact build and the streaming ingest ([[graft.streaming.Ingest]]); any
    * drift between the two would break cross-path idempotency. */
  def hashRecords(recs: DataFrame): DataFrame =
    recs.withColumn("hash_registro",
      recordHash(
        date_format(col("ano_mes"), "yyyy-MM-dd"),
        col("grupo_economico"), col("servico"), col("variavel"),
        money2(col("valor"))))

  /** J3 + S7: fact build — 4-way natural-key lookup (inner: a record whose
    * key matches no dim row — e.g. a null natural key, which an equi-join
    * never matches — is silently dropped like the reference), F8 md5 hash,
    * intra-batch dedup.
    *
    * Scan discipline: recs is persisted, and ONE [[dimKeys]] pass over all
    * four dims both collects every dim's bounded key set and materializes
    * the cache; the fact joins the resulting local key frames, the same
    * frames the standalone dim builders project. So the raw source is
    * scanned exactly once and the cache exactly twice (key pass, and the
    * [[append]] write), independent of the dim count (PipelineSpec pins
    * source scans with an accumulator). Deriving the dims lazily inside
    * the join plan instead would re-scan the source per dim: the analyzer's
    * self-join de-duplication re-aliases those subtrees past the persist. */
  def fact(recs: DataFrame): DataFrame = {
    val cached = recs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val keys = dimKeys(cached, NaturalKeys)
    // F18 lineage: one processing time per fact build. Passed through a
    // UDF, which the optimizer cannot fold: `current_timestamp()` folds to
    // a literal inlined into the generated code, so every load compiled
    // its projection anew.
    val processedAt = java.time.Instant.now()
    NaturalKeys.foldLeft(hashRecords(cached)) { (df, n) =>
        df.join(broadcast(keys(n)), Seq(n)) }
      .select(col("tempo_key"), col("grupo_key"), col("servico_key"),
        col("variavel_key"), col("valor").cast(DecimalType(15, 6)).as("valor"),
        col("arquivo_origem"), col("linha_origem"),
        udf(() => processedAt).apply().as("data_processamento"),
        col("hash_registro"),
        // physical partition carrier: the reference tunes with covering
        // indexes (schema_star.sql:96-101); the Spark analog is writing the
        // fact partitioned by year (Sinks.writeFactPartitioned) so year
        // predicates prune directories instead of scanning the store
        year(col("ano_mes")).as("ano"))
      .transform(firstWinsDedup(_, Seq("hash_registro"),
        Seq("arquivo_origem", "linha_origem")))
  }

  /** Deterministic dedup: the reference's first-INSERT-wins ON CONFLICT
    * semantics (file order, then row order). `dropDuplicates` would keep an
    * arbitrary row per key (partition-layout dependent) — unacceptable for a
    * reproducible engine. `orderCols` must totally order rows within a key
    * (linha_origem alone ties across files — it restarts per sheet).
    * One shuffle on the key, same as dropDuplicates. */
  def firstWinsDedup(df: DataFrame, keys: Seq[String],
                     orderCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** S7 cross-batch idempotency: ON CONFLICT (hash_registro) DO NOTHING ->
    * left-anti join against the already-loaded fact. Appending the result of
    * `load(existing, batch)` is a no-op when the batch was already loaded.
    *
    * Precondition: `batch` is already unique on `hash_registro` (both
    * [[fact]] and the streaming ingest dedup it with [[firstWinsDedup]]);
    * intra-batch dedup is not repeated here, because `dropDuplicates` would
    * keep an arbitrary row per hash. */
  def load(existing: DataFrame, batch: DataFrame): DataFrame =
    batch.join(existing.select(col("hash_registro")), Seq("hash_registro"), "left_anti")

  /** The one store column [[load]] reads. */
  private[graft] val StoreKey = StructType(Seq(StructField("hash_registro", StringType)))

  /** S7 idempotent append, the one store write of [[Pipeline.run]] and
    * [[graft.streaming.Ingest.start]]: anti-join the batch against the
    * store if there is one ([[load]]), append the rest `ano`-partitioned,
    * and return the rows appended, an `observe` metric of the write. The
    * write always runs: an empty append writes no parquet file. [[load]]
    * reads only the store's key, so the store is read with that one column
    * declared, not a schema inferred by a job. */
  def append(batch: DataFrame, factPath: String): Long = {
    val fresh = Sinks.readStoreIfExists(batch.sparkSession, factPath, Some(StoreKey))
      .fold(batch)(load(_, batch))
    val obs = Observation()
    Sinks.writeFactPartitioned(fresh.observe(obs, count(lit(1)).as("n")),
      factPath, mode = "append")
    observedCount(obs, "n")
  }

  /** An `observe` counter after its action ran. Missing reads as 0: AQE
    * drops the `CollectMetrics` node of a subtree it proves empty. */
  private[plans] def observedCount(obs: Observation, name: String): Long =
    obs.get.get(name).fold(0L)(_.asInstanceOf[Long])
}
