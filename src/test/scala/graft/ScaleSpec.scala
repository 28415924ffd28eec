package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{Reshape, Skew}
import graft.plans.IdaMart
import graft.sources.{Sinks, Tables}

/** Scale-mechanics suite: skew salting preserves results, partitioned
  * writes enable partition pruning, unpivot/pivot round-trip. */
class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("saltedJoin == plain join on a skewed key distribution") {
    // 90% of left rows share one key — the classic hot-key shape
    val left = spark.range(0, 2000)
      .select((when(col("id") % 10 === 0, col("id") % 7).otherwise(lit(42L)))
        .as("k"), col("id").as("v"))
    val right = Seq((42L, "hot"), (0L, "a"), (1L, "b"), (2L, "c"))
      .toDF("k", "name")
    val plain = left.join(right, "k").select("k", "v", "name")
    val salted = Skew.saltedJoin(left, right, "k", n = 8,
      leftSaltSource = col("v")).select("k", "v", "name")
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("saltedAgg == plain agg (sum + count merge correctly)") {
    val df = spark.range(0, 5000)
      .select((when(col("id") % 100 === 0, col("id") % 5).otherwise(lit(9L)))
        .as("k"), (col("id") * 2).cast("double").as("x"))
    val plain = df.groupBy("k")
      .agg(sum(col("x")).as("x"), count(lit(1)).as("n"))
      .orderBy("k").collect()
    val salted = Skew.saltedAgg(df, key = Seq("k"), n = 8,
        saltSource = col("x"),
        aggs = Seq(("x", col("x"), sum, sum), ("n", lit(1), count, sum)))
      .orderBy("k").collect()
    assert(plain.map(_.getDouble(1)).sameElements(salted.map(_.getDouble(1))))
    assert(plain.map(_.getLong(2)).sameElements(salted.map(_.getLong(2))))
  }

  test("lang-partitioned ORC write prunes partitions for a lang predicate") {
    val out = Files.createTempDirectory("graft-orc-part").toString
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"), col("lang"))
    docs.write.mode("overwrite").partitionBy("lang").orc(out)
    val read = spark.read.orc(out).filter(col("lang") === "en")
    val planText = read.queryExecution.executedPlan.toString
    assert(planText.contains("PartitionFilters"))
    assert(read.count() == docs.filter(col("lang") === "en").count())
    val scannedParts = read.select(input_file_name()).distinct().collect()
      .map(_.getString(0)).toSet
    assert(scannedParts.nonEmpty && scannedParts.forall(_.contains("lang=en")))
  }

  test("DSIR scoring joins the bucket model by BROADCAST and never " +
    "windows the corpus; collocations top-k is TakeOrdered, not a sort") {
    val docs = Tables.documents(spark, sf0001)
    val dsirPlan = graft.operators.Dsir.select(docs, "lang = 'en'", k = 50)
      .queryExecution.executedPlan.toString
    assert(dsirPlan.contains("BroadcastHashJoin") ||
      dsirPlan.contains("BroadcastNestedLoopJoin"),
      s"model join must broadcast:\n$dsirPlan")
    assert(!dsirPlan.contains("WindowExec"),
      "DSIR must not window the corpus")
    val colPlan = graft.operators.Retrieval
      .collocationsTopK(docs, "doc_id", "text", minCount = 5, k = 30)
      .queryExecution.executedPlan.toString
    assert(colPlan.contains("TakeOrderedAndProject"),
      s"top-k must be TakeOrdered (map-side partial top-k):\n$colPlan")
    assert(!colPlan.contains("WindowExec"),
      "collocations must not window the token stream")
  }

  test("partitioned fact write prunes partitions for a year predicate") {
    val out = Files.createTempDirectory("graft-fact-part").toString
    val fact = IdaMart.records(spark, sf0001)
    Sinks.writeFactPartitioned(fact, out)
    val read = Sinks.readFact(spark, out).filter(col("ano") === 1998)
    val planText = read.queryExecution.executedPlan.toString
    assert(planText.contains("PartitionFilters"))
    assert(read.count() ==
      fact.filter(year(col("ano_mes")) === 1998).count())
    // pruning actually reduced the scanned file set
    val allYears = Sinks.readFact(spark, out)
      .select("ano").distinct().count()
    assert(allYears > 1)
    val scannedParts = read.select(input_file_name()).distinct().collect()
      .map(_.getString(0)).toSet
    assert(scannedParts.forall(_.contains("ano=1998")))
  }

  test("swapStore: a stale staging dir left by a crashed attempt is " +
    "removed, and the swap completes") {
    val store = Files.createTempDirectory("graft-swap").toString + "/store"
    Seq(1L, 2L).toDF("v").write.parquet(store)
    // the crashed attempt's leftover: a partial rewrite in the staging dir
    Seq(99L).toDF("v").write.parquet(store + "__staging")
    Sinks.swapStore(spark, store, "__staging", "merged") { staging =>
      assert(!new java.io.File(staging).exists(), "stale staging dir kept")
      // the rewrite reads the store it replaces
      spark.read.parquet(store).select((col("v") * 10).as("v"))
        .write.parquet(staging)
    }
    assert(!new java.io.File(store + "__staging").exists())
    assert(spark.read.parquet(store).as[Long].collect().sorted.toSeq ==
      Seq(10L, 20L))
  }

  test("compactFact: repeated appends collapse to bounded files per year, " +
    "row set unchanged, files month-clustered") {
    val out = Files.createTempDirectory("graft-compact").toString + "/fact"
    val recs = IdaMart.records(spark, sf0001)
    // simulate an append-heavy store: 5 idempotent-load appends
    (1 to 5).foreach { i =>
      Sinks.writeFactPartitioned(
        recs.filter(col("linha_origem") % 5 === i % 5), out, mode = "append")
    }
    val before = spark.read.parquet(out)
    val beforeRows = before.orderBy("linha_origem", "ano_mes").collect()
    def parquetFiles(dir: String): Seq[java.io.File] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(new java.io.File(dir))
    }
    val nBefore = parquetFiles(out).size
    Sinks.compactFact(spark, out, filesPerYear = 2)
    val filesAfter = parquetFiles(out)
    val years = spark.read.parquet(out).select("ano").distinct().count()
    assert(filesAfter.size < nBefore, s"no compaction: $nBefore files stayed")
    assert(filesAfter.size <= 2 * years,
      s"${filesAfter.size} files for $years years exceeds 2/year")
    val afterRows = spark.read.parquet(out)
      .orderBy("linha_origem", "ano_mes").collect()
    assert(afterRows.length == beforeRows.length &&
      afterRows.map(_.getAs[Any]("ano_mes"))
        .sameElements(beforeRows.map(_.getAs[Any]("ano_mes"))))
    // month clustering: each file's ano_mes range must not span the year
    // (sortWithinPartitions makes parquet min/max stats selective)
    val spans = filesAfter.map { f =>
      val d = spark.read.parquet(f.getAbsolutePath)
        .agg(min("ano_mes"), max("ano_mes")).first()
      (d.getDate(0).toLocalDate, d.getDate(1).toLocalDate)
    }
    assert(spans.exists { case (lo, hi) =>
      java.time.temporal.ChronoUnit.MONTHS.between(lo, hi) < 11
    }, s"every file spans the whole year — no clustering: $spans")
  }

  test("sessionizeBatch plans exactly one exchange (windows + agg reuse " +
    "the user_id partitioning)") {
    val plan = graft.streaming.EventsStream
      .sessionizeBatch(graft.sources.Tables.events(spark, sf0001))
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 shuffle, got $exchanges:\n$plan")
  }

  test("CDC chunk dedup plans exactly two exchanges (digest window + " +
    "doc aggregate) and chunking itself is narrow") {
    val plan = graft.operators.CdcChunk.dedupStats(
        Tables.documents(spark, sf0001).select(col("doc_id"), col("text")))
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 2, s"expected 2 shuffles, got $exchanges:\n$plan")
  }

  test("range search joins candidates on ids only: no join in the plan " +
    "materializes a corpus x query product") {
    val embs = Tables.embeddings(spark, sf0001)
    val queries = embs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"),
        col("embedding").as("q_embedding"))
    val plan = graft.operators.Similarity.rangeSearch(embs, queries, 0.2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"range search must never plan a cross product:\n$plan")
  }

  test("asofJoinNearest plans ONE user_id exchange (both directional " +
    "window fills reuse the same partitioning; never a range join)") {
    val plan = SparkEntry.queries("j_asof_nearest")(spark, sf0001)
      .queryExecution.executedPlan.toString
    val userExchanges = "Exchange hashpartitioning\\(user_id".r
      .findAllIn(plan).length
    assert(userExchanges == 1,
      s"expected 1 user_id shuffle, got $userExchanges:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"nearest as-of must not plan a product join:\n$plan")
  }

  test("funnel plans ONE scan and ONE user_id exchange (stacked windows " +
    "share the partitioning; stages never re-derive the prefix)") {
    val plan = SparkEntry.queries("funnel_steps")(spark, sf0001)
      .queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected 1 events scan, got $scans:\n$plan")
    val userExchanges = "Exchange hashpartitioning\\(user_id".r
      .findAllIn(plan).length
    assert(userExchanges == 1,
      s"expected 1 user_id shuffle, got $userExchanges:\n$plan")
  }

  test("tfidf top-3 plans WindowGroupLimit (per-partition prune before " +
    "the rank shuffle) and broadcasts the corpus-stats frames") {
    val plan = SparkEntry.queries("text_tfidf_topk")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"top-k rank must prune map-side:\n$plan")
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"df/N stats must broadcast, not shuffle:\n$plan")
  }

  test("dedup_semantic broadcasts the centroids (corpus never self-joins " +
    "or shuffles its vectors for assignment)") {
    val plan = SparkEntry.queries("dedup_semantic")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"centroid assignment must be a broadcast cross join:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"no partitioned cartesian product allowed:\n$plan")
  }

  test("IVF index probe prunes to the probed cells' partitions and matches " +
    "the in-memory IVF result") {
    val out = Files.createTempDirectory("graft-ivf-index").toString + "/ivf"
    val embs = graft.sources.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"))
    val queries = embs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    val cents = graft.operators.Similarity.writeIvfIndex(embs, out)
    val nCells = spark.read.parquet(out)
      .select("centroid_id").distinct().count()

    val probe = graft.operators.Similarity
      .ivfTopKIndexed(out, cents, queries, k = 5)
    // the scan carries a centroid_id partition filter...
    assert(probe.queryExecution.executedPlan.toString
      .contains("PartitionFilters"), "probe scan lost its partition filter")
    val rows = probe.orderBy("query_id", "rank").collect()
    // ...and the same pruned scan physically reads only the probed cells'
    // directories (strictly fewer than all cells)
    val cells = graft.operators.Similarity
      .probeCells(queries, cents, 2, "query_id", "q_embedding")
      .select("centroid_id").distinct().collect().map(_.getLong(0))
    val scanned = spark.read.parquet(out)
      .where(col("centroid_id").isin(cells.toSeq: _*))
      .select(input_file_name()).distinct().collect().map(_.getString(0))
    val scannedCells = scanned.flatMap(
      "centroid_id=(\\d+)".r.findFirstMatchIn(_).map(_.group(1).toLong)).distinct
    assert(scannedCells.nonEmpty && scannedCells.length < nCells,
      s"probe read ${scannedCells.length} of $nCells cells — no pruning")
    assert(scannedCells.toSet == cells.toSet,
      "scan touched directories outside the probed cell set")

    // parity with the one-shot in-memory path (same codebook by construction)
    val inMem = graft.operators.Similarity.ivfTopK(embs, queries, k = 5)
      .orderBy("query_id", "rank").collect()
    assert(rows.length == inMem.length && rows.sameElements(inMem))
  }

  test("bucketed range join == naive range join, incl. boundary points") {
    val points = Seq((1L, 0.0), (2L, 29.999), (3L, 30.0), (4L, 30.001),
      (5L, 55.5), (6L, -3.0), (7L, 250.0))
      .toDF("event_id", "value")
    val bands = (0 until 12)
      .map(i => (i.toLong, i * 20.0, i * 20.0 + 30.0))
      .toDF("band_id", "lo", "hi")
    val naive = points.join(bands,
        col("value") >= col("lo") && col("value") <= col("hi"))
      .select("event_id", "band_id").orderBy("event_id", "band_id").collect()
    val bucketed = graft.operators.RangeJoin.pointInInterval(
        points, bands, "value", "lo", "hi", bucketWidth = 25.0)
      .select("event_id", "band_id").orderBy("event_id", "band_id").collect()
    assert(naive.nonEmpty && bucketed.sameElements(naive))
  }

  test("bucketed tables co-locate: the join plans without a shuffle exchange") {
    graft.sources.Tables.orders(spark, sf0001).write.mode("overwrite")
      .bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable("orders_b")
    graft.sources.Tables.customer(spark, sf0001).write.mode("overwrite")
      .bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable("customer_b")
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("orders_b").join(spark.table("customer_b"),
        col("o_custkey") === col("c_custkey"))
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n$plan")
      assert(j.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("range join: reversed intervals are dropped; over-wide intervals " +
    "fail fast with a clear error") {
    val points = Seq((1L, 10.0)).toDF("event_id", "value")
    val reversed = Seq((1L, 100.0, 10.0)).toDF("band_id", "lo", "hi")
    assert(graft.operators.RangeJoin.pointInInterval(
      points, reversed, "value", "lo", "hi", 25.0).count() == 0)
    val tooWide = Seq((1L, 0.0, 1e15)).toDF("band_id", "lo", "hi")
    val e = intercept[Exception] {
      graft.operators.RangeJoin.pointInInterval(
        points, tooWide, "value", "lo", "hi", 25.0).count()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("widen bucketWidth")), e.getMessage)
  }

  test("R1 unpivot then R2 pivot round-trips non-null cells") {
    val wide = Seq(
      (1L, 10.0, 20.0, 30.0),
      (2L, 40.0, 50.0, 60.0)
    ).toDF("id", "m_a", "m_b", "m_c")
    val long = Reshape.unpivot(wide, ids = Seq("id"),
      values = Seq("m_a", "m_b", "m_c"))
    val back = Reshape.pivot(long, groupCols = Seq("id"),
      pivotCol = "variavel", pivotValues = Seq("m_a", "m_b", "m_c"),
      valueCol = "valor")
    assert(back.orderBy("id").collect().map(_.toSeq).toSeq ==
      wide.orderBy("id").collect().map(_.toSeq).toSeq)
  }

  test("minhash band index materialized to parquet reproduces inline candidates") {
    import graft.functions.TextFns
    import graft.operators.Dedup
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river today"),
      (2L, "the quick brown fox jumps over the lazy cat near the river today"),
      (3L, "completely unrelated text about distributed query engines and joins")
    ).toDF("doc_id", "text")
    val sh = docs.select(col("doc_id"),
      TextFns.wordShingles(col("text"), 3).as("sh"))
    val inline = Dedup.minhashBandBuckets(sh, "doc_id", "sh")
    val out = Files.createTempDirectory("graft-mh-index").toString + "/bands"
    // the continuous-ingestion shape: corpus bands computed once, stored,
    // and re-read per batch instead of re-sketching the corpus
    inline.write.mode("overwrite").parquet(out)
    val stored = spark.read.parquet(out)
    val batch = Seq(
      (101L, "the quick brown fox jumps over the lazy dog near the river today")
    ).toDF("doc_id", "text")
    val bsh = batch.select(col("doc_id"),
      TextFns.wordShingles(col("text"), 3).as("sh"))
    def pairsAgainst(corpusBands: org.apache.spark.sql.DataFrame) =
      Dedup.minhashBandBuckets(bsh, "doc_id", "sh")
        .select(col("doc_id").as("b"), col("band"), col("bucket"))
        .join(corpusBands.select(col("doc_id").as("a"), col("band"), col("bucket")),
          Seq("band", "bucket"))
        .select("a", "b").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairsAgainst(stored) == pairsAgainst(inline))
    assert(pairsAgainst(stored).contains((1L, 101L)))
    // incremental MAINTENANCE: appending the batch's bands to the stored
    // index (never rebuilding) must equal a fresh rebuild over
    // corpus ∪ batch — band rows are pure functions of the text, so the
    // appended store is value-identical by construction, and this pins it
    Dedup.minhashBandBuckets(bsh, "doc_id", "sh")
      .write.mode("append").parquet(out)
    val appended = spark.read.parquet(out)
    val rebuilt = Dedup.minhashBandBuckets(
      docs.unionByName(batch).select(col("doc_id"),
        TextFns.wordShingles(col("text"), 3).as("sh")), "doc_id", "sh")
    def selfPairs(bands: org.apache.spark.sql.DataFrame) =
      bands.select(col("doc_id").as("a"), col("band"), col("bucket"))
        .join(bands.select(col("doc_id").as("b"), col("band"), col("bucket")),
          Seq("band", "bucket"))
        .filter(col("a") < col("b")).select("a", "b").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(selfPairs(appended) == selfPairs(rebuilt))
    assert(selfPairs(appended).contains((1L, 101L)))
  }

  test("dynamic partition overwrite rewrites ONLY the targeted partition's files") {
    val store = Files.createTempDirectory("graft-dynover-spec").toString + "/s"
    val ev = graft.sources.Tables.events(spark, sf0001)
      .withColumn("day", to_date(col("ts")))
    ev.write.partitionBy("day").mode("overwrite").parquet(store)
    def fileSet(exceptDay: String) = new java.io.File(store).listFiles()
      .filter(d => d.isDirectory && !d.getName.endsWith(exceptDay))
      .flatMap(_.listFiles()).map(f => (f.getPath, f.lastModified)).toSet
    val target = ev.agg(min(col("day"))).collect().head.getDate(0).toString
    val before = fileSet(target)
    ev.filter(col("day") === lit(java.sql.Date.valueOf(target)))
      .withColumn("value", col("value") * 2)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("day").parquet(store)
    // static overwrite semantics would have truncated the whole table;
    // dynamic must leave every non-target partition's files byte-identical
    assert(fileSet(target) === before)
    assert(spark.read.parquet(store).count() === ev.count())
  }
}
