package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import org.apache.hadoop.fs.Path
import graft.functions.{Fns, TextExprs, TextFns}
import graft.operators.Dedup

/** Streaming near-duplicate document dedup — the CONTINUOUS form of the
  * batch MinHash tier ([[graft.operators.Dedup.minhashNearDups]], Broder
  * SEQUENCES '97 / MMDS ch.3) and the production shape of the incremental
  * probe ([[graft.operators.Dedup.incrementalNearDupsFromArtifacts]]): a
  * document stream is deduped batch by batch against everything kept so
  * far, with the corpus side's artifacts STORED and APPENDED — never
  * rebuilt — per the band-index maintenance discipline.
  *
  * Per micro-batch, three tiers in production order (cheapest first):
  *
  *  1. EXACT vs store: a batch doc whose cleaned-content md5 already
  *     exists among kept docs is `dup_exact`. Then min-id per hash within
  *     the batch (the same first-wins rule as the S7 fact sink).
  *  2. WITHIN-batch near: banded-LSH candidates among the batch's exact
  *     survivors (bucket width capped — the viral-boilerplate guard,
  *     [[graft.operators.Dedup.capBuckets]]), exact-Jaccard verified;
  *     drop `b` of any verified pair `a < b` (the min-id pair rule the
  *     one-shot curate composites use; the greedy-vs-component delta is
  *     measured by `curate_survivor_rule_diag`).
  *  3. CROSS-batch near: the batch's within-cap band rows probe the
  *     STORED band index (kept docs only), candidates verified against
  *     the STORED hashed shingle sets — the asymmetric join of
  *     `incrementalNearDupsFromArtifacts`; the batch never touches kept
  *     TEXT, only sketches.
  *
  * Survivors append partition-per-batch stores under `storeDir`:
  * `docs/` — the ONE kept-doc artifact `(doc_id, h, sh, buckets)`: the
  * exact tier reads only `h`, the verify side only `sh`, and the
  * candidate probe explodes the UNCAPPED 16-int `buckets` band array
  * (parquet column pruning makes one store serve all three probes;
  * banding-as-a-column beats a second store of exploded band rows by a
  * write + a join per batch) — plus `log/` (one verdict row per
  * processed doc: `kept | dup_exact | dup_near` — the audit artifact)
  * and `capreport/` (the dropped-bucket report — over-cap families are
  * excluded from pair generation but NEVER silently; an absent batch
  * partition means the guard did not fire).
  *
  * Exactly-once without a transaction: every store is written as an
  * OVERWRITE of its own `batch=<id>` partition directory, and each
  * batch's computation reads only partitions `< id` (explicit schemas, so
  * a crashed attempt's partial files are partition-pruned without footer
  * reads). Re-running a batch after a crash recomputes byte-identical
  * content from the same inputs — the micro-batch file (pinned by the
  * checkpoint) and the prior partitions — and the overwrite replaces any
  * partial attempt. Replay ≡ first run is pinned by NearDupStreamSpec.
  *
  * Streaming-specific semantics, stated rather than hidden: the kept set
  * depends on ARRIVAL ORDER (the first near-copy to arrive survives),
  * which is true of any online dedup; a bounded replay of a sliced corpus
  * therefore equals the batch tiers applied batch-by-batch IN ORDER, and
  * that is exactly what the `stream_dedup_minhash` oracle restates (an
  * unrolled kept-chain over the fixed slicing), not a slicing-free batch
  * dedup.
  *
  * Scale: per batch, cost is the batch's own sketch plus three keyed
  * joins — (hash) against the kept-doc store, ONE (band, bucket)
  * candidate join against (stored index ∪ own within-cap bands), and ONE
  * Jaccard verify pass — never a corpus self-join; the store grows only by
  * kept docs, and a viral family cannot accumulate in it because every
  * copy after the first is dropped on arrival. At 100 TB the stores are
  * bucketed by their join keys so the probes co-locate
  * (`j_bucketed` discipline); the per-batch plan is unchanged. */
object NearDupStream {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private val docsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("h", StringType),
    StructField("sh", ArrayType(LongType)),
    StructField("buckets", ArrayType(IntegerType)),
    StructField("batch", IntegerType)))
  private val logSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("verdict", StringType),
    StructField("batch", IntegerType)))
  private val capSchema = StructType(Seq(
    StructField("band", IntegerType), StructField("bucket", IntegerType),
    StructField("width", LongType), StructField("pairs_dropped", LongType),
    StructField("batch", IntegerType)))

  private val tombSchema = StructType(Seq(StructField("doc_id", LongType)))

  /** File-replay source over a directory of `(doc_id, text)` parquet —
    * each file appended between AvailableNow drains is one micro-batch. */
  def readDocs(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(docSchema).parquet(dir)

  def start(docs: DataFrame, storeDir: String, checkpointDir: String,
            threshold: Double = 0.6, shingleLen: Int = 3, k: Int = 64,
            bands: Int = 16, maxBucketWidth: Int = 1024): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        applyBatch(batch, id, storeDir, threshold, shingleLen, k, bands,
          maxBucketWidth)
      }
      .trigger(Trigger.AvailableNow())
      .start()

  /** One micro-batch through the three tiers; idempotent per `batchId`
    * (partition overwrite + deterministic recompute — scaladoc above).
    *
    * `outFiles` sizes each per-batch artifact write (default 1: these
    * gates' batches are small and the partition-per-batch layout already
    * isolates batches; a deployment with large batches raises it to its
    * batch volume / target file size). */
  def applyBatch(batchRaw: DataFrame, batchId: Long, storeDir: String,
                 threshold: Double = 0.6, shingleLen: Int = 3, k: Int = 64,
                 bands: Int = 16, maxBucketWidth: Int = 1024,
                 outFiles: Int = 1): Unit = {
    val spark = batchRaw.sparkSession
    val id = batchId.toInt
    def part(name: String) = s"$storeDir/$name/batch=$id"
    // prior state = completed partitions only, minus tombstones — a
    // retracted doc must stop matching from the next batch on
    def prior(name: String, schema: StructType): Option[DataFrame] = {
      val p = new Path(s"$storeDir/$name")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p))
        Some(live(spark, storeDir,
          spark.read.schema(schema).parquet(p.toString)
            .filter(col("batch") < id)))
      else None
    }
    val priorDocs = prior("docs", docsSchema)
    // contract: (doc_id, text); null-text rows are not documents
    val docs = batchRaw.select(col("doc_id"), col("text"))
      .filter(col("text").isNotNull)
      .withColumn("__h", md5(Fns.cleanText(col("text"))))
    // tier 1 — exact: store hashes first, then min-id within the batch
    // (a batch sibling of a store-matched doc shares its hash, so the
    // residual window groups contain no store matches by construction).
    // The store read prunes to the `h` column alone.
    val vsStore = priorDocs.fold(docs) { kp =>
      docs.join(kp.select(col("h").as("__h")), Seq("__h"), "left_anti")
    }
    val wh = Window.partitionBy(col("__h")).orderBy(col("doc_id"))
    // survivors enriched with the batch's WHOLE sketch in one pass —
    // content hash, hashed shingle set, and the banded signature as a
    // 16-int array — then eagerly cut: this one frame feeds the candidate
    // join (exploded), the verify join, the kept anti-join, the verdict
    // join and the docs-store write. Keeping the bands as a column of the
    // doc artifact (instead of a second store of exploded rows) makes the
    // probe-side explode a narrow op over checkpointed data and drops a
    // store write + join per batch.
    val surv = Dedup.withBandBucketArray(
        vsStore.withColumn("__rn", row_number().over(wh))
          .filter(col("__rn") === 1)
          .select(col("doc_id"), col("__h"),
            TextFns.wordShingles(col("text"), shingleLen).as("__sh")),
        "__sh", "buckets", k, bands)
      .withColumn("sh", transform(col("__sh"), x => xxhash64(x)))
      .drop("__sh")
      .localCheckpoint(true)
    val banded = surv.select(col("doc_id"),
      posexplode(col("buckets")).as(Seq("band", "bucket")))
    // r18 NOTE — observe() fold measured and REVERTED: riding the "did any
    // bucket trip the cap?" probe on the nearDrops checkpoint job via
    // observe() (the kmeansLloyd discipline) was tried per the r17 verdict
    // and measured SLOWER, not faster (stream_dedup_compact 2.2 s → 3.2 s
    // isolated): Observation.get waits on the async ExecutionListenerBus,
    // whose backlog on these write-heavy gates exceeds the ~100 ms probe
    // job it replaces — and when a batch's subtree is empty, AQE's
    // empty-relation propagation drops the CollectMetrics node entirely
    // (the lifecycle gates' batch 3), forcing a fallback probe anyway.
    // The explicit one-job probe below is the cheaper and safer form.
    val (inCap, droppedRep) =
      Dedup.capBuckets(banded, Seq("band", "bucket"), maxBucketWidth)
    // tiers 2+3 in ONE candidate join + ONE verify join: the a-side is
    // the stored band index (cross tier — any prior kept doc) unioned
    // with the batch's own within-cap bands (within tier — min-id rule,
    // so only a < b pairs), then one pass of exact-Jaccard against the
    // a-side sketch store ∪ batch sketches. Semantically identical to
    // running the tiers separately; half the join jobs.
    val batchBands = inCap.select(col("doc_id"), col("band"), col("bucket"))
    val aBands = priorDocs.fold(
      batchBands.withColumn("__within", lit(true)))(pd =>
      pd.select(col("doc_id"),
          posexplode(col("buckets")).as(Seq("band", "bucket")))
        .withColumn("__within", lit(false))
        .unionByName(batchBands.withColumn("__within", lit(true))))
    val cand = batchBands.select(col("doc_id").as("b"), col("band"),
        col("bucket"))
      .join(aBands.select(col("doc_id").as("a"), col("band"), col("bucket"),
        col("__within")), Seq("band", "bucket"))
      .filter(!col("__within") || col("a") < col("b"))
      .select("a", "b").distinct()
    val aSketch = priorDocs.fold(
      surv.select(col("doc_id"), col("sh")))(pd =>
      pd.select(col("doc_id"), col("sh"))
        .unionByName(surv.select(col("doc_id"), col("sh"))))
    // eager cut: the drop set feeds the kept anti-join AND the verdict
    // join — without it the verify join runs twice
    val nearDrops = cand
      .join(aSketch.select(col("doc_id").as("a"), col("sh").as("sh_a")),
        Seq("a"))
      .join(surv.select(col("doc_id").as("b"), col("sh").as("sh_b")),
        Seq("b"))
      .withColumn("jaccard", TextExprs.jaccardSim(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("b").as("doc_id")).distinct()
      .localCheckpoint(true)
    val keptNow = surv.join(nearDrops, Seq("doc_id"), "left_anti")
    keptNow.select(col("doc_id"), col("__h").as("h"), col("sh"),
        col("buckets"))
      .coalesce(outFiles)
      .write.mode("overwrite").parquet(part("docs"))
    // absence of a batch's capreport partition MEANS "no over-cap
    // buckets" — the common case writes nothing, but a fired guard is
    // always persisted, never silently dropped
    if (!droppedRep.isEmpty)
      droppedRep.select(col("band"), col("bucket"), col("width"),
          col("pairs_dropped")).coalesce(outFiles)
        .write.mode("overwrite").parquet(part("capreport"))
    else {
      // idempotent replay hygiene: clear any partial attempt's partition
      // when this (deterministic) run decides the report is empty
      val p = new Path(part("capreport"))
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
    }
    docs.select("doc_id")
      .join(surv.select(col("doc_id"), lit(1).as("__e")),
        Seq("doc_id"), "left")
      .join(nearDrops.select(col("doc_id"), lit(1).as("__n")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("__e").isNull, lit("dup_exact"))
          .when(col("__n").isNotNull, lit("dup_near"))
          .otherwise(lit("kept")).as("verdict"))
      .coalesce(outFiles)
      .write.mode("overwrite").parquet(part("log"))
    ()
  }

  /** RETRACT documents from the dedup index — the right-to-be-forgotten
    * path. LSM-style: ids append to a `retracted/` tombstone store; every
    * probe (exact tier, band probe, shingle verify) and the [[kept]]
    * serving view anti-join it, so a retracted doc stops matching future
    * batches IMMEDIATELY, and a later copy of it re-enters the corpus on
    * arrival. Physical removal is [[compact]]'s job. Idempotent: retracting
    * an id twice (or an id never kept) is a no-op under the anti-join. The
    * `log/` audit store is deliberately NOT touched — verdicts are history,
    * not state. Admin ops serialize with the stream: retract/compact while
    * a drain is stopped (a retraction landing between a crashed attempt
    * and its replay would change the replayed batch's decisions — the one
    * interleaving the idempotency argument excludes). */
  def retract(ids: DataFrame, storeDir: String): Unit =
    ids.select(col("doc_id"))
      .write.mode("append").parquet(s"$storeDir/retracted")

  private def tombstones(spark: SparkSession,
                         storeDir: String): Option[DataFrame] = {
    val p = new Path(s"$storeDir/retracted")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p))
      Some(spark.read.schema(tombSchema).parquet(p.toString))
    else None
  }

  /** Anti-join a store frame against the tombstones, if any. */
  private def live(spark: SparkSession, storeDir: String,
                   df: DataFrame): DataFrame =
    tombstones(spark, storeDir).fold(df)(t =>
      df.join(t.select(col("doc_id")).distinct(), Seq("doc_id"), "left_anti"))

  /** COMPACT the index store: rewrite `docs/`
    * minus tombstoned docs (staged write + directory swap,
    * [[graft.sources.Sinks.swapStore]]), preserving the partition-per-batch
    * layout via `partitionBy("batch")` so post-compaction appends keep the
    * same directory shape, then clear the tombstone store. Also the
    * small-file merge for a long-running stream (one task's files per
    * batch value instead of one batch's task fan-out).
    *
    * Crash ordering: tombstones are deleted LAST, after all three swaps —
    * a crash mid-compaction leaves some stores rewritten and some not,
    * but every reader anti-joins the still-present tombstones, so the
    * served live set is unchanged; re-running compact finishes the job.
    * Value-neutrality (tombstone view ≡ compacted store) is pinned by
    * NearDupStreamSpec and by `stream_dedup_compact` reusing
    * `stream_dedup_retract`'s oracle verbatim. */
  def compact(spark: SparkSession, storeDir: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val stores = Seq("docs" -> docsSchema)
    stores.foreach { case (name, schema) =>
      val target = new Path(s"$storeDir/$name")
      if (target.getFileSystem(conf).exists(target))
        graft.sources.Sinks.swapStore(spark, target.toString, "__compact",
            "compacted") {
          live(spark, storeDir, spark.read.schema(schema).parquet(target.toString))
            .write.partitionBy("batch").parquet(_)
        }
    }
    val tomb = new Path(s"$storeDir/retracted")
    val fs = tomb.getFileSystem(conf)
    if (fs.exists(tomb)) fs.delete(tomb, true)
    ()
  }

  /** Serving view: every LIVE kept doc `(doc_id, h, batch)` (tombstoned
    * docs excluded; the `sh` artifact column is pruned away). */
  def kept(spark: SparkSession, storeDir: String): DataFrame =
    live(spark, storeDir,
      spark.read.schema(docsSchema).parquet(s"$storeDir/docs"))
      .select(col("doc_id"), col("h"), col("batch"))

  /** Audit view: one `(doc_id, verdict, batch)` row per processed doc. */
  def log(spark: SparkSession, storeDir: String): DataFrame =
    spark.read.schema(logSchema).parquet(s"$storeDir/log")

  /** Guard view: per-batch over-cap bucket report (empty on clean data —
    * the cap must never eat real pairs silently). */
  def capReport(spark: SparkSession, storeDir: String): DataFrame = {
    val p = new Path(s"$storeDir/capreport")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a store with no capreport partitions at all = the guard never fired
    if (fs.exists(p)) spark.read.schema(capSchema).parquet(p.toString)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], capSchema)
  }
}
