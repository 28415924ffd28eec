package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Fns._
import graft.functions.TextFns
import graft.operators.Dedup
import graft.plans.IdaMart
import graft.sources.Tables
import SparkEntry.{Spool, factLoadSql, fixturesDir, odsOracleFixture,
  rawFixtures, recordsSql, scratchDir, wbSheetFixture}

/** Storage and streaming gates: table-format lifecycles (`s_`), the
  * JDBC load boundary, change-data capture (`cdc_`), the end-to-end
  * IDA lifecycles (`e2_`) and the structured-streaming gates (`stream_`). */
private[graft] object StoreGates {

  /** The events fixture rewritten as ONE parquet file for the streaming
    * gates (a single deterministic micro-batch under AvailableNow), after
    * `shape`. */
  private def eventsSpool(name: String)(shape: DataFrame => DataFrame)
      : Spool[String] =
    Spool(name)((s, dir, out) => {
      shape(Tables.events(s, dir)).coalesce(1).write.mode("overwrite")
        .parquet(out)
      out
    })

  private val eventsTumble = eventsSpool("events-tumble")(identity)

  private val eventsSess = eventsSpool("events-sess")(
    _.withColumn("ts", date_trunc("MILLISECOND", col("ts"))))

  private val eventsDedup = eventsSpool("events-dedup")(ev => ev.unionAll(ev))

  /** The 3-batch streaming near-dup replay
    * ([[graft.streaming.NearDupStream]]): one parquet file appended +
    * one AvailableNow drain per batch — deterministic micro-batch
    * boundaries by construction (the `stream_checkpoint_resume`
    * discipline), no reliance on file-listing order. The slicing is the
    * oracle's ([[graft.functions.SketchOracleSql.streamDedupOracleSql]]):
    * batch 0 = even organic docs, batch 1 = +100000 exact copies of all
    * docs, batch 2 = +200000 perturbed ∪ +300000 doubly-perturbed copies.
    * Returns the store dir. */
  private def streamDedupReplay(s: SparkSession, dir: String,
                                root: String): String = {
    val src = s"$root/src"
    val store = s"$root/store"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
    val slices = streamDedupSliceSpool(s, dir)
    (0 until 3).foreach { i =>
      stageSliceFile(slices, i, src)
      withStatePartitions(s, 8) {
        val q = graft.streaming.NearDupStream.start(
          graft.streaming.NearDupStream.readDocs(s, src), store, s"$root/ck")
        q.processAllAvailable(); q.stop()
      }
    }
    store
  }

  /** The arrival slices of [[streamDedupSlices]] staged as single-file
    * parquet — input staging, the [[eventsSpool]] discipline: deriving the
    * fixture's arrival files from the documents table is harness setup (a
    * production stream's input FILES simply exist), so bench iterations
    * re-run the replay — the operator under test — against identical
    * bytes instead of re-deriving and re-writing the slices per iteration.
    * One spool for the full corpus, one for the lifecycle gates' `% 3`
    * subset. */
  private def sliceSpool(name: String, baseMod: Option[Int]): Spool[String] =
    Spool(name)((s, dir, out) => {
      streamDedupSlices(s, dir, baseMod).zipWithIndex.foreach {
        case (slice, i) => slice.coalesce(1).write.parquet(s"$out/slice=$i")
      }
      out
    })

  private val streamDedupSliceSpool = sliceSpool("stream-dedup-slices", None)

  private val streamDedupSliceSpoolMod3 =
    sliceSpool("stream-dedup-slices-mod3", Some(3))

  /** Copy staged slice `i`'s parquet part file(s) into a stream source
    * dir under a unique name — the "one file appended per micro-batch"
    * arrival the AvailableNow replay drains. */
  private def stageSliceFile(sliceDir: String, i: Int, src: String): Unit = {
    val from = java.nio.file.Paths.get(s"$sliceDir/slice=$i")
    val files = java.nio.file.Files.list(from)
    try files.forEach { p =>
      val name = p.getFileName.toString
      if (name.endsWith(".parquet") && !name.startsWith("."))
        java.nio.file.Files.copy(p,
          java.nio.file.Paths.get(src, s"slice$i-$name"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally files.close()
  }

  /** The four arrival slices of the stream-dedup fixtures, in batch order
    * (the first three are [[streamDedupReplay]]'s; the fourth is the
    * post-retraction batch of the lifecycle gates). `baseMod = Some(m)`
    * restricts the base corpus to `doc_id % m == 0` — the lifecycle gates
    * run on the % 3 subset (oracle-memory rationale at
    * [[graft.functions.SketchOracleSql.streamDedupRetractOracleSql]]). */
  private def streamDedupSlices(s: SparkSession, dir: String,
                                baseMod: Option[Int]): Seq[DataFrame] = {
    val docs0 = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      .filter(col("text").isNotNull)
    val docs = baseMod.fold(docs0)(m =>
      docs0.filter(pmod(col("doc_id"), lit(m)) === 0))
    Seq(
      docs.filter(pmod(col("doc_id"), lit(2)) === 0),
      docs.select((col("doc_id") + 100000).as("doc_id"), col("text")),
      docs.select((col("doc_id") + 200000).as("doc_id"),
          regexp_replace(col("text"), "\\bdata\\b", "info").as("text"))
        .unionByName(docs.select((col("doc_id") + 300000).as("doc_id"),
          regexp_replace(regexp_replace(col("text"), "\\bdata\\b", "info"),
            "\\bthe\\b", "thee").as("text"))),
      docs.select((col("doc_id") + 400000).as("doc_id"), col("text")))
  }

  /** Recursive local-FS directory copy (the lifecycle gates clone the
    * staged prefix store before mutating it — retraction/compaction are
    * destructive, and a spool must stay pristine). */
  private def copyDir(src: String, dst: String): Unit = {
    val sp = java.nio.file.Paths.get(src)
    val dp = java.nio.file.Paths.get(dst)
    java.nio.file.Files.walk(sp).forEach { p =>
      val t = dp.resolve(sp.relativize(p))
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** PREFIX store of the lifecycle gates: batches 0-2 of the
    * `% 3`-subset slices applied via the SAME
    * [[graft.streaming.NearDupStream.applyBatch]] the stream runs — the
    * production posture (the curated index exists once; admin ops and new
    * batches run against it), so the gates measure their own tail, not a
    * rebuild of the prefix the stream gates already measure. */
  private val streamDedupLifecycleSpool =
    Spool("stream-dedup-prefix")((s, dir, store) => {
      val slices = streamDedupSliceSpoolMod3(s, dir)
      withStatePartitions(s, 8) {
        (0 until 3).foreach { i =>
          graft.streaming.NearDupStream.applyBatch(
            s.read.schema(graft.streaming.NearDupStream.docSchema)
              .parquet(s"$slices/slice=$i"), i.toLong, store)
        }
      }
      store
    })

  /** The store-LIFECYCLE tail of the retract/compact gates: clone the
    * staged prefix store, retract the `% 7` kept docs, optionally compact
    * physically, then run batch 3 against the live remainder. The
    * readStream/checkpoint machinery is proven by `stream_dedup_minhash`;
    * these gates prove the STORE semantics (tombstone anti-join,
    * compaction value-neutrality). */
  private def streamDedupLifecycle(s: SparkSession, dir: String,
                                   root: String,
                                   compactBeforeLast: Boolean): String = {
    val store = s"$root/store"
    copyDir(streamDedupLifecycleSpool(s, dir), store)
    withStatePartitions(s, 8) {
      graft.streaming.NearDupStream.retract(
        graft.streaming.NearDupStream.kept(s, store)
          .filter(pmod(col("doc_id"), lit(7)) === 0).select("doc_id"), store)
      if (compactBeforeLast) graft.streaming.NearDupStream.compact(s, store)
      graft.streaming.NearDupStream.applyBatch(
        s.read.schema(graft.streaming.NearDupStream.docSchema).parquet(
          s"${streamDedupSliceSpoolMod3(s, dir)}/slice=3"),
        3L, store)
    }
    store
  }

  /** [[streamDedupReplay]] store, for the gates that READ the stream's
    * artifacts (log view) without re-running the replay the main gate
    * measures. */
  private val streamDedupSpool = Spool("stream-dedup")(streamDedupReplay)

  /** Staged single-file parquet input for `stream_jdbc_exactly_once` —
    * the fact rows the streaming replay reads. */
  private val jdbcStreamFactSpool = Spool("jdbc-stream-fact")((s, dir, out) => {
    IdaMart.fact(
        IdaMart.records(s, dir).filter(col("linha_origem") % 4 === 0))
      .select(col("tempo_key"), col("grupo_key"), col("servico_key"),
        col("variavel_key"), col("valor"), col("arquivo_origem"),
        col("linha_origem"), col("hash_registro"))
      .coalesce(1).write.mode("overwrite").parquet(out)
    out
  })

  /** Staged single-file parquet input for `stream_ingest_exactly_once`. */
  private val ingestRecordsSpool = Spool("ingest-records")((s, dir, out) => {
    IdaMart.records(s, dir).coalesce(1).write.mode("overwrite").parquet(out)
    out
  })

  /** Staged two-batch store (batch B adds a column) for
    * `s_schema_evolution`. */
  private val schemaEvoSpool = Spool("schema-evo")((s, dir, out) => {
    val docs = Tables.documents(s, dir)
    docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("text"))
      .coalesce(1).write.mode("overwrite").parquet(s"$out/batch=a")
    docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("text"), col("lang"))
      .coalesce(1).write.mode("overwrite").parquet(s"$out/batch=b")
    out
  })

  /** Staged user_id-clustered event files for `s_bloom_file_skip`. */
  private val bloomSkipSpool = Spool("bloomskip")((s, dir, out) => {
    graft.sources.StatsManifest.writeClustered(
      Tables.events(s, dir).filter(col("event_id").isNotNull),
      out, "user_id", nFiles = 8)
    out
  })

  /** Embedded Derby database booted with `ensure`'s DDL for the JDBC gates.
    * Boot + DDL is harness setup; each gate call starts from the
    * fresh-table state via TRUNCATE, which is load-indistinguishable from
    * a new database. Returns the JDBC url. */
  private def derbySpool(name: String)(ensure: String => Unit): Spool[String] =
    Spool(name)((_, _, out) => {
      // derby.log + scratch under the session temp root, never the repo
      if (System.getProperty("derby.system.home") == null)
        System.setProperty("derby.system.home",
          System.getProperty("java.io.tmpdir"))
      val url = s"jdbc:derby:$out/ida;create=true"
      ensure(url)
      url
    })

  private val derbyFact =
    derbySpool("derby-fact")(graft.sources.JdbcSink.ensureFactTable(_))

  private val derbyDim =
    derbySpool("derby-dim")(graft.sources.JdbcSink.ensureDimGrupoTables(_))

  private val derbyStream =
    derbySpool("derby-stream")(graft.sources.JdbcSink.ensureFactTable(_))

  /** Stateful-streaming gates keep one state store per shuffle partition,
    * with per-micro-batch commit overhead each; a bounded replay should
    * size that to the replay, not to the continuous-serving default (the
    * count is baked into the query's checkpoint at start, so it is a
    * per-query knob). Measured at sf0.1: the stream-stream join gate
    * dropped 6.7 s → 2.5 s going 32 → 8 state partitions, and a further
    * 3.5 s → 2.2 s going 8 → 4 (per-partition store-commit overhead still
    * dominated the bounded replay). */
  private def withStatePartitions[A](s: SparkSession, n: Int)(body: => A): A = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Incrementally-MAINTAINED MinHash band index: the corpus bands written
    * once, the batch's bands APPENDED (never a rebuild) — the artifact
    * shape a continuously-fed 100-TB dedup tier maintains, where
    * re-sketching the corpus per batch is the cost you must not pay.
    * Deterministic (band rows are pure functions of the text), so the
    * appended store is value-identical to a fresh rebuild over corpus ∪
    * batch — which is exactly what the `s_minhash_index_append` gate
    * proves against the dedup_minhash oracle. */
  private val minhashIndexAppendSpool =
    Spool("mh-index-append")((s, dir, out) => {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val sh = docs.select(col("doc_id"),
      TextFns.wordShingles(col("text"), 3).as("sh"))
    Dedup.minhashBandBuckets(sh, "doc_id", "sh")
      .write.mode("overwrite").parquet(out)
    val batch = docs.select((col("doc_id") + 100000).as("doc_id"),
      regexp_replace(col("text"), "\\bdata\\b", "info").as("text"))
    val bsh = batch.select(col("doc_id"),
      TextFns.wordShingles(col("text"), 3).as("sh"))
    Dedup.minhashBandBuckets(bsh, "doc_id", "sh")
      .write.mode("append").parquet(out)
    out
  })

  val gates: Seq[Gate] = Seq(
    // ----- the reference's REAL load boundary, executed: the S7 fact
    // through an actual JDBC database (embedded Derby — shipped with
    // Spark) with a real PRIMARY KEY on hash_registro. The SAME batch
    // loads twice (crash-and-reprocess replay); the anti-join prefilter
    // must make the second write append ZERO rows or the PK aborts it.
    // Result read back THROUGH spark.read.jdbc — write.jdbc + read.jdbc
    // both genuinely executed (JdbcSink scaladoc for the knob mapping).
    Gate("s_jdbc_fact_load", ((s, dir) => {
      // database booted once per sf dir (derbySpool); each call starts
      // from the fresh-table state via TRUNCATE
      val url = derbyFact(s, dir)
      graft.sources.JdbcSink.truncateTables(url, "FACT_IDA")
      // bounded quarter-batch: the replay/PK semantics are identical at
      // any batch size; the gate should cost a DB load, not dominate the
      // sweep (the full-batch write is the same code path)
      val fact = IdaMart.fact(
          IdaMart.records(s, dir).filter(col("linha_origem") % 4 === 0))
        .select(col("tempo_key"), col("grupo_key"), col("servico_key"),
          col("variavel_key"), col("valor"), col("arquivo_origem"),
          col("linha_origem"), col("hash_registro"))
      graft.sources.JdbcSink.loadIdempotent(fact, url)
      graft.sources.JdbcSink.loadIdempotent(fact, url) // replay: +0 rows
      graft.sources.JdbcSink.readTable(s, url)
        // Derby folds unquoted identifiers to UPPERCASE; re-alias every
        // column so the driver's sorted-name compare sees the oracle's
        .select(col("tempo_key").as("tempo_key"),
          col("grupo_key").as("grupo_key"),
          col("servico_key").as("servico_key"),
          col("variavel_key").as("variavel_key"),
          col("valor").cast("double").as("valor"),
          col("arquivo_origem").as("arquivo_origem"),
          col("linha_origem").as("linha_origem"),
          col("hash_registro").as("hash_registro"))
        .orderBy(col("hash_registro"))
    }),
      // the JDBC round trip loads ONE batch twice (replay) instead of one
      // doubled batch — first-wins dedup makes both equal to a single
      // load, so the oracle is the s7 statement over the gate's bounded
      // quarter-batch
      factLoadSql("WHERE o_orderkey % 4 = 0")),

    // ----- S8's real boundary, executed: dimension upsert through a
    // server-side MERGE (the reference's ON CONFLICT DO UPDATE). Batch 1
    // inserts the dims; batch 2 carries UPDATED names for every existing
    // code plus one NEW code — the read-back must show all names updated
    // and the new row inserted, through genuine staging-write + MERGE
    // (JdbcSink.upsertDimGrupo scaladoc).
    Gate("s_jdbc_dim_upsert", ((s, dir) => {
      // spooled boot + per-call TRUNCATE of dim AND staging (see
      // s_jdbc_fact_load): the MERGE proof needs empty tables, not a new
      // database
      val url = derbyDim(s, dir)
      graft.sources.JdbcSink.truncateTables(url, "DIM_GRUPO", "STG_DIM_GRUPO")
      val dim1 = IdaMart.dimGrupo(IdaMart.records(s, dir)).drop("grupo_key")
      val dim2 = dim1
        .withColumn("grupo_nome", concat(col("grupo_nome"), lit(" v2")))
        .unionByName(IdaMart.dimGrupo(
            s.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](
              org.apache.spark.sql.Row("ZZ_NEW")),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("grupo_economico",
                org.apache.spark.sql.types.StringType))))
          ).drop("grupo_key")
          .withColumn("grupo_nome", concat(col("grupo_nome"), lit(" v2"))))
      graft.sources.JdbcSink.upsertDimGrupo(dim1, url)
      graft.sources.JdbcSink.upsertDimGrupo(dim2, url)
      graft.sources.JdbcSink.readTable(s, url, "DIM_GRUPO")
        .select(col("grupo_codigo").as("grupo_codigo"),
          col("grupo_nome").as("grupo_nome"),
          col("grupo_normalizado").as("grupo_normalizado"),
          col("ativo").as("ativo"))
        .orderBy(col("grupo_codigo"))
    }),
      // final state after batch 1 (insert) + batch 2 (updated names + one
      // new code): every code carries the v2 name, ZZ_NEW inserted
      """WITH codes AS (
        |  SELECT DISTINCT o_orderpriority AS grupo_codigo FROM orders
        |  WHERE o_orderpriority IS NOT NULL
        |  UNION ALL SELECT 'ZZ_NEW'
        |)
        |SELECT grupo_codigo,
        |  grupo_codigo || ' v2' AS grupo_nome,
        |  upper(regexp_replace(grupo_codigo, '[^A-Za-z0-9]+', '_', 'g'))
        |    AS grupo_normalizado,
        |  TRUE AS ativo
        |FROM codes ORDER BY grupo_codigo""".stripMargin),

    // ----- streaming → JDBC exactly-once: the stream_ingest_exactly_once
    // replay proof run against the DATABASE sink — two foreachBatch
    // replays (fresh checkpoints) of the same spooled fact batch through
    // Ingest.startJdbc's anti-join prefilter into the PK-keyed Derby
    // table; the read-back must equal a single load or the PK aborts
    Gate("stream_jdbc_exactly_once", ((s, dir) => {
      // spooled boot + per-call TRUNCATE (see s_jdbc_fact_load): the
      // replay proof needs an EMPTY fact table, not a new database
      val url = derbyStream(s, dir)
      graft.sources.JdbcSink.truncateTables(url, "FACT_IDA")
      val inDir = jdbcStreamFactSpool(s, dir)
      val inSchema = s.read.parquet(inDir).schema
      def replay(): Unit = {
        val cp = scratchDir("jdbcstream-cp")
        val q = graft.streaming.Ingest.startJdbc(
          s.readStream.schema(inSchema).parquet(inDir), url,
          "FACT_IDA", cp)
        q.processAllAvailable(); q.stop()
      }
      withStatePartitions(s, 8) { replay(); replay() }
      graft.sources.JdbcSink.readTable(s, url)
        .select(col("tempo_key").as("tempo_key"),
          col("grupo_key").as("grupo_key"),
          col("servico_key").as("servico_key"),
          col("variavel_key").as("variavel_key"),
          col("valor").cast("double").as("valor"),
          col("arquivo_origem").as("arquivo_origem"),
          col("linha_origem").as("linha_origem"),
          col("hash_registro").as("hash_registro"))
        .orderBy(col("hash_registro"))
    }),
      // double streaming replay == one load (the exactly-once contract)
      factLoadSql("WHERE o_orderkey % 4 = 0")),

    // ----- schema evolution: a store written by two pipeline versions
    // (batch B added a column) read back as ONE table via mergeSchema —
    // old-batch rows surface the new column as NULL. The staged layout is
    // what a long-lived ingest dir actually looks like after a schema
    // change; staging memoized like the other spools.
    Gate("s_schema_evolution", ((s, dir) => {
      val store = schemaEvoSpool(s, dir)
      s.read.option("mergeSchema", "true").parquet(store)
        .select(col("doc_id"), col("text"), col("lang"))
        .orderBy(col("doc_id"))
    }),
      // the merged read's semantic spec: old-batch rows carry NULL for the
      // later-added column, new-batch rows keep their values
      """SELECT doc_id, text, CAST(NULL AS VARCHAR) AS lang
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT doc_id, text, lang FROM documents WHERE doc_id % 2 = 1
        |ORDER BY doc_id""".stripMargin),

    // ----- incrementally-MAINTAINED band index: candidates from the
    // stored corpus-bands + APPENDED batch-bands (no rebuild), verified
    // with exact Jaccard — must equal dedup_minhash exactly (the append
    // path is value-identical to a fresh rebuild, proven by oracle, not
    // asserted). This is the artifact-maintenance discipline of a
    // continuously-fed dedup tier: per-batch cost is the batch's sketch
    // plus one co-partitioned join against the store.
    Gate("s_minhash_index_append", ((s, dir) => {
      val bands = s.read.parquet(minhashIndexAppendSpool(s, dir))
      val l = bands.select(col("doc_id").as("a"), col("band"), col("bucket"))
      val r = bands.select(col("doc_id").as("b"), col("band"), col("bucket"))
      val cands = l.join(r, Seq("band", "bucket")).filter(col("a") < col("b"))
        .select("a", "b").distinct()
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val corpus = docs.unionByName(
        docs.select((col("doc_id") + 100000).as("doc_id"),
          regexp_replace(col("text"), "\\bdata\\b", "info").as("text")))
      val hashed = corpus.select(col("doc_id"),
        transform(TextFns.wordShingles(col("text"), 3),
          x => xxhash64(x)).as("sh"))
      Dedup.ngramJaccardVerify(cands, hashed, "doc_id", threshold = 0.6)
        .orderBy(col("a"), col("b"))
    }),
      // the appended index is value-identical to a fresh rebuild over
      // corpus ∪ batch, so the oracle is dedup_minhash's, verbatim
      graft.functions.SketchOracleSql.minhashOracleSql()),

    // ----- E2 end-to-end: catalog discovery -> header-probed raw reads ->
    // transform -> idempotent partitioned fact load -> read the store back.
    // The oracle re-derives the identical fact from the SAME raw files.
    // data_processamento (F18 wall-clock lineage) is excluded like s7.
    Gate("e2_lifecycle", ((s, _) => {
      val factPath = scratchDir("e2") + "/fact"
      val cfg = graft.model.EngineConfig(
        anosAlvo = Seq(2023), servicosAlvo = Seq("SMP", "SCM"))
      val stats = graft.plans.Pipeline.lifecycle(s, fixturesDir, cfg, factPath)
      require(stats.errors.isEmpty, s"lifecycle errors: ${stats.errors}")
      require(stats.resources == rawFixtures.size, "discovery missed a fixture")
      graft.sources.Sinks.readFact(s, factPath)
        .select(col("tempo_key"), col("grupo_key"), col("servico_key"),
          col("variavel_key"), col("valor").cast("double").as("valor"),
          col("arquivo_origem"), col("linha_origem"), col("hash_registro"),
          col("ano"))
        .orderBy(col("hash_registro"))
    }),
      graft.plans.Pipeline.lifecycleOracleSql(rawFixtures)),

    // ----- E2 over a SHEET CONTAINER: the reference's actual input is a
    // multi-sheet ODS workbook read sheet-by-service
    // (the reference's etl/etl_ida.py:171-257); here the container is a
    // directory of named sheets and discovery -> sheet resolution ->
    // header-probed read -> ffill transform -> partitioned fact load runs
    // end-to-end over ONLY the mapped Telefonia_Fixa sheet. The decoy
    // Notas sheet in the same container would fail the header probe if the
    // selection logic ever regressed (errors surface via the require).
    Gate("e2_lifecycle_sheets", ((s, _) => {
      val factPath = scratchDir("e2-sheets") + "/fact"
      val cfg = graft.model.EngineConfig(
        anosAlvo = Seq(2023), servicosAlvo = Seq("STFC"))
      val stats = graft.plans.Pipeline.lifecycle(s, fixturesDir, cfg, factPath)
      require(stats.errors.isEmpty, s"lifecycle errors: ${stats.errors}")
      require(stats.resources == 1,
        s"expected exactly the workbook resource, saw ${stats.resources}")
      graft.sources.Sinks.readFact(s, factPath)
        .select(col("tempo_key"), col("grupo_key"), col("servico_key"),
          col("variavel_key"), col("valor").cast("double").as("valor"),
          col("arquivo_origem"), col("linha_origem"), col("hash_registro"),
          col("ano"))
        .orderBy(col("hash_registro"))
    }),
      // the oracle re-reads ONLY the mapped sheet inside the container —
      // exactly the file set the engine's sheet resolution must touch
      graft.plans.Pipeline.lifecycleOracleSql(Seq(wbSheetFixture))),

    // ----- E2 over a REAL ODS CONTAINER: the reference's literal input
    // format (a zip of XML parts, read sheet-by-service via pandas/odf —
    // etl_ida.py:171-257). Discovery finds the committed .ods resource,
    // the pure-JVM zip+StAX reader (sources/Ods.scala) parses ONLY the
    // mapped Telefonia_Fixa sheet (merged->covered cells to blanks for
    // the W3 ffill, run-length empties expanded lazily so the ~17G-cell
    // LibreOffice trailing padding costs O(1)), and the standard
    // probe->transform->partitioned-fact-load path runs unchanged. The
    // decoy Notas sheet would fail the header probe if sheet selection
    // ever regressed.
    Gate("e2_lifecycle_ods", ((s, _) => {
      val factPath = scratchDir("e2-ods") + "/fact"
      val cfg = graft.model.EngineConfig(
        anosAlvo = Seq(2024), servicosAlvo = Seq("STFC"))
      val stats = graft.plans.Pipeline.lifecycle(s, fixturesDir, cfg, factPath)
      require(stats.errors.isEmpty, s"lifecycle errors: ${stats.errors}")
      require(stats.resources == 1,
        s"expected exactly the ODS resource, saw ${stats.resources}")
      graft.sources.Sinks.readFact(s, factPath)
        .select(col("tempo_key"), col("grupo_key"), col("servico_key"),
          col("variavel_key"), col("valor").cast("double").as("valor"),
          col("arquivo_origem"), col("linha_origem"), col("hash_registro"),
          col("ano"))
        .orderBy(col("hash_registro"))
    }),
      // the oracle reads the committed CSV MIRROR of the ODS sheet's grid
      // (same generator, grid equality pinned in OdsSpec) under the ODS
      // file's name — DuckDB has no ODS reader
      graft.plans.Pipeline.lifecycleOracleSql(Seq(odsOracleFixture))),

    // ----- TRUE streaming path, driver-gated: the events fixture staged to
    // a one-file spool dir, consumed via readStream -> watermarked tumbling
    // agg -> memory sink under Trigger.AvailableNow. The oracle is the
    // batch analog's SQL — stream == batch on bounded input is exactly the
    // guarantee Structured Streaming makes, so the DuckDB gate now covers
    // the readStream plan itself, not only its batch twin.
    // ----- true-streaming SLIDING windows (the streaming form of
    // window_sliding): same spool/AvailableNow/memory-sink harness as
    // stream_tumbling, each event fanning into size/slide windows
    Gate("stream_sliding", ((s, dir) => {
      val spool = eventsTumble(s, dir)
      val qn = "graft_stream_sliding"
      withStatePartitions(s, 4) {
        val q = graft.streaming.EventsStream.slidingAgg(
            graft.streaming.EventsStream.readEvents(s, spool))
          .writeStream.outputMode("complete").format("memory").queryName(qn)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.processAllAvailable(); q.stop()
      }
      s.table(qn).orderBy(col("window_start"), col("event_type"))
    }),
      // identical to window_tumbling: bounded stream == batch is the gate
      // identical aggregate spec as window_sliding — the streaming run must
      // reproduce the batch sliding windows exactly
      """WITH expanded AS (
        |  SELECT CAST(to_timestamp(CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800
        |           - o.off * 1800) AS TIMESTAMP) AS window_start,
        |         event_type, value
        |  FROM events CROSS JOIN (VALUES (0), (1)) AS o(off)
        |)
        |SELECT window_start, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM expanded
        |GROUP BY window_start, event_type
        |ORDER BY window_start, event_type""".stripMargin),

    // ----- streaming trending top-k: the stream maintains per-(window,
    // user) counts and the top-3 cut ranks the MATERIALIZED aggregate at
    // serving time (no sorts mid-stream; EventsStream.trendingAgg
    // scaladoc). This gate replays in COMPLETE mode, which retains all
    // window state (watermark eviction applies only in update/append —
    // the production mode is update into an upserting sink); fine for the
    // bounded replay == batch equivalence the oracle states directly
    Gate("stream_topk", ((s, dir) => {
      val spool = eventsTumble(s, dir)
      val qn = "graft_stream_topk"
      withStatePartitions(s, 4) {
        val q = graft.streaming.EventsStream.trendingAgg(
            graft.streaming.EventsStream.readEvents(s, spool))
          .writeStream.outputMode("complete").format("memory").queryName(qn)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.processAllAvailable(); q.stop()
      }
      val w = Window.partitionBy(col("window_start"))
        .orderBy(col("n").desc, col("user_id"))
      s.table(qn).withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .orderBy(col("window_start"), col("rank"))
    }),
      """WITH counts AS (
        |  SELECT date_trunc('hour', ts) AS window_start, user_id,
        |    COUNT(*) AS n
        |  FROM events GROUP BY window_start, user_id
        |)
        |SELECT window_start, user_id, n, rank FROM (
        |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY window_start
        |    ORDER BY n DESC, user_id) AS INTEGER) AS rank
        |  FROM counts) WHERE rank <= 3
        |ORDER BY window_start, rank""".stripMargin),

    Gate("stream_tumbling", ((s, dir) => {
      val spool = eventsTumble(s, dir)
      val qn = "graft_stream_tumbling"
      withStatePartitions(s, 4) {
        val q = graft.streaming.EventsStream.tumblingAgg(
            graft.streaming.EventsStream.readEvents(s, spool))
          .writeStream.outputMode("complete").format("memory").queryName(qn)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.processAllAvailable(); q.stop()
      }
      s.table(qn).orderBy(col("window_start"), col("event_type"))
    }),
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM events
        |GROUP BY window_start, event_type
        |ORDER BY window_start, event_type""".stripMargin),

    // ----- APPEND-mode window finalization: with a watermark, append
    // mode emits a window exactly once, when the watermark passes its
    // end — the production emission contract (complete mode, which the
    // other window gates use for bounded replay, re-emits everything).
    // On a bounded run the final watermark is max(ts) - delay, so the
    // emitted set is precisely the windows with end <= that bound — a
    // DETERMINISTIC subset the oracle restates; the trailing windows
    // stay in state awaiting a watermark that never comes
    Gate("stream_append_finalize", ((s, dir) => {
      val spool = eventsTumble(s, dir)
      val qn = "graft_stream_append"
      withStatePartitions(s, 4) {
        val q = graft.streaming.EventsStream.tumblingAgg(
            graft.streaming.EventsStream.readEvents(s, spool))
          .writeStream.outputMode("append").format("memory").queryName(qn)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.processAllAvailable(); q.stop()
      }
      s.table(qn).orderBy(col("window_start"), col("event_type"))
    }),
      // the finalized subset: windows whose end the bounded run's final
      // watermark (max event time minus the 2h delay) has passed; the
      // boundary is window_end <= watermark, Spark's eviction predicate
      """WITH wm AS (
        |  SELECT MAX(ts) - INTERVAL 2 HOUR AS w FROM events
        |)
        |SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM events CROSS JOIN wm
        |WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= w
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // ----- checkpoint RESUME across a real stop/restart: run the
    // tumbling aggregation over HALF the events, stop the query, land
    // the second half in the source dir, and restart from the SAME
    // checkpoint. The file source's commit log skips the already-read
    // half, so the final table equals the batch aggregate over ALL
    // events only if the first run's window state was genuinely
    // recovered from the state store — the crash-recovery contract the
    // fresh-checkpoint replay gates (stream_ingest_exactly_once) do not
    // cover. Memory sink permits checkpoint recovery in complete mode
    // precisely because the table is recomputed from recovered state
    Gate("stream_checkpoint_resume", ((s, dir) => {
      val root = scratchDir("ckresume")
      val src = s"$root/src"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
      val ev = Tables.events(s, dir)
      val qn = "graft_stream_ckresume"
      def drainOnce(): Unit = withStatePartitions(s, 4) {
        val q = graft.streaming.EventsStream.tumblingAgg(
            graft.streaming.EventsStream.readEvents(s, src))
          .writeStream.outputMode("complete").format("memory").queryName(qn)
          .option("checkpointLocation", s"$root/ck")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.processAllAvailable(); q.stop()
      }
      ev.filter(pmod(col("event_id"), lit(2)) === 0)
        .coalesce(1).write.mode("append").parquet(src)
      drainOnce() // first incarnation: half the data, state checkpointed
      ev.filter(pmod(col("event_id"), lit(2)) === 1)
        .coalesce(1).write.mode("append").parquet(src)
      drainOnce() // restart: only the new file reads; state must resume
      s.table(qn).orderBy(col("window_start"), col("event_type"))
    }),
      // identical to the batch tumbling aggregate over ALL events — which
      // the restarted query only matches if its state survived the restart
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM events
        |GROUP BY window_start, event_type
        |ORDER BY window_start, event_type""".stripMargin),

    // ----- custom-state streaming (flatMapGroupsWithState sessionization),
    // driver-gated. A bounded AvailableNow run emits only sessions CLOSED
    // by a later event — each user's last session stays open in the state
    // store (EventsStream.sessionize scaladoc) — so the oracle states
    // "all sessions except each user's last". Input ts is pre-truncated to
    // ms in the spool (SessionState keeps ms), and the oracle truncates
    // identically, so gap-boundary arithmetic is bit-equal on both engines.
    // ----- streaming as-of enrichment, driver-gated: clicks + purchases
    // union-tagged into ONE spooled stream; per-user O(1) state carries
    // the latest click across micro-batches
    // (EventsStream.streamAsofEnrich). A bounded replay equals the batch
    // as-of join, which is exactly what the oracle states — the same
    // stream==batch-on-bounded-input guarantee the other stream gates use.
    Gate("stream_asof_join", ((s, dir) => {
      import s.implicits._
      val spool = eventsTumble(s, dir)
      val tagged = graft.streaming.EventsStream.readEvents(s, spool)
        .filter(col("ts").isNotNull &&
          col("event_type").isin("click", "purchase"))
        .select(col("user_id"), col("ts"),
          when(col("event_type") === "click", lit(0)).otherwise(lit(1))
            .as("side"),
          col("event_id").as("tie"), col("event_id").as("a"),
          col("value").as("v"))
        .as[graft.streaming.EventsStream.AsofEvent]
      val qn = "graft_stream_asof"
      withStatePartitions(s, 4) {
        val q = graft.streaming.EventsStream.streamAsofEnrich(tagged).toDF()
          .writeStream.outputMode("append").format("memory").queryName(qn)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.processAllAvailable(); q.stop()
      }
      s.table(qn)
        .select(col("event_id"), col("user_id"), col("value"),
          col("click_id"), col("click_value"))
        .orderBy(col("event_id"))
    }),
      graft.streaming.EventsStream.streamAsofOracleSql),

    // ----- streaming CDC apply, driver-gated: the event feed as a change
    // stream (error -> delete tombstone, else upsert) merged into a keyed
    // store per micro-batch, latest-(ts,event_id)-wins, tombstones
    // retained for batching-invariance (CdcUpsert scaladoc). The SAME
    // feed replays through TWO runs with fresh checkpoints — the
    // crash-and-reprocess case — and the store must equal a single apply,
    // which is exactly what the oracle computes (the batch cdc_merge
    // shape). Serving view filters tombstones.
    Gate("stream_cdc_upsert", ((s, dir) => {
      val spool = eventsTumble(s, dir)
      val storeDir = scratchDir("cdc-upsert") + "/store"
      def replay(): Unit = {
        val cp = scratchDir("cdc-upsert-cp")
        val changes = graft.streaming.EventsStream.readEvents(s, spool)
          .filter(col("user_id").isNotNull)
          .select(col("user_id").as("key"), col("ts"), col("event_id"),
            when(col("event_type") === "error", lit("delete"))
              .otherwise(lit("upsert")).as("op"),
            col("value"))
        val q = graft.streaming.CdcUpsert.start(changes, storeDir, cp)
        q.processAllAvailable(); q.stop()
      }
      withStatePartitions(s, 8) { replay(); replay() }
      graft.streaming.CdcUpsert.latest(s, storeDir)
        .select(col("key"), col("value").as("last_value"),
          col("ts").as("last_ts"), col("event_id").as("last_event_id"))
        .orderBy(col("key"))
    }),
      // sessionize_batch restated at ms precision (the stream state's own
      // granularity), keeping only sessions CLOSED within the bounded run —
      // i.e. every session except each user's last (that one stays open in
      // the state store until a timeout no bounded run delivers)
      // double replay must equal ONE apply of the change set: latest
      // (ts, event_id) per key, deletes (error events) absent from serving
      """WITH changes AS (
        |  SELECT user_id AS key, ts, event_id,
        |    CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END
        |      AS op,
        |    value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events WHERE user_id IS NOT NULL
        |)
        |SELECT key, value AS last_value, ts AS last_ts,
        |  event_id AS last_event_id
        |FROM changes WHERE rn = 1 AND op = 'upsert'
        |ORDER BY key""".stripMargin),

    Gate("stream_sessionize_closed", ((s, dir) => {
      import s.implicits._
      val spool = eventsSess(s, dir)
      val typed = graft.streaming.EventsStream.readEvents(s, spool)
        .filter(col("ts").isNotNull)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .as[graft.streaming.EventsStream.Event]
      val qn = "graft_stream_sessions"
      // timeoutOnIdle=false: a bounded AvailableNow replay must not leave a
      // ProcessingTimeTimeout armed (see EventsStream.sessionize scaladoc)
      withStatePartitions(s, 4) {
        val q = graft.streaming.EventsStream
          .sessionize(typed, timeoutOnIdle = false)
          .toDF()
          .writeStream.outputMode("append").format("memory").queryName(qn)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.processAllAvailable(); q.stop()
      }
      s.table(qn)
        .select(col("user_id"), col("n_events").cast("bigint").as("n_events"),
          col("start").as("session_start"), col("end").as("session_end"))
        .orderBy(col("user_id"), col("session_start"))
    }),
      """WITH e AS (
        |  SELECT user_id, event_id, date_trunc('milliseconds', ts) AS ts
        |  FROM events WHERE ts IS NOT NULL
        |), marked AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), seqd AS (
        |  SELECT user_id, ts,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS session_seq
        |  FROM marked
        |), sess AS (
        |  SELECT user_id, session_seq, COUNT(*) AS n_events,
        |    MIN(ts) AS session_start, MAX(ts) AS session_end
        |  FROM seqd GROUP BY user_id, session_seq
        |)
        |SELECT user_id, n_events, session_start, session_end
        |FROM (SELECT *, MAX(session_seq) OVER (PARTITION BY user_id) AS mx
        |      FROM sess)
        |WHERE session_seq < mx
        |ORDER BY user_id, session_start""".stripMargin),

    // ----- stream-stream interval join, driver-gated: both sides are the
    // SAME watermarked stream filtered to click/purchase; the time-range
    // condition bounds the join state (EventsStream.intervalJoin scaladoc).
    // Oracle = the batch interval join (j_stream_interval's SQL).
    Gate("stream_interval_join", ((s, dir) => {
      val spool = eventsTumble(s, dir)
      def side(t: String) = graft.streaming.EventsStream.readEvents(s, spool)
        .filter(col("event_type") === t)
      val qn = "graft_stream_interval"
      withStatePartitions(s, 4) {
        val q = graft.streaming.EventsStream
          .intervalJoin(side("click"), side("purchase"))
          .writeStream.outputMode("append").format("memory").queryName(qn)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.processAllAvailable(); q.stop()
      }
      s.table(qn).orderBy(col("user_id"), col("l_id"), col("r_id"))
    }),
      """SELECT l.user_id, l.event_id AS l_id, r.event_id AS r_id,
        |  l.ts AS l_ts, r.ts AS r_ts
        |FROM events l JOIN events r
        |  ON l.user_id = r.user_id
        |  AND r.ts > l.ts AND r.ts <= l.ts + INTERVAL 1 HOUR
        |WHERE l.event_type = 'click' AND r.event_type = 'purchase'
        |ORDER BY l.user_id, l_id, r_id""".stripMargin),

    // ----- streaming LEFT-OUTER interval join: matches emit immediately;
    // a click with NO purchase within the hour emits with null right
    // columns when its join window closes under the watermark (the null
    // row IS the state eviction). Bounded-run finalization contract as
    // stream_append_finalize: the final watermark is max(ts) - 2h, so
    // the emitted null set is exactly the unmatched clicks whose window
    // end falls below it — restated by the oracle
    Gate("stream_outer_join", ((s, dir) => {
      val spool = eventsTumble(s, dir)
      def side(t: String) = graft.streaming.EventsStream.readEvents(s, spool)
        .filter(col("event_type") === t)
      val qn = "graft_stream_outer"
      withStatePartitions(s, 4) {
        val q = graft.streaming.EventsStream
          .intervalJoinOuter(side("click"), side("purchase"))
          .writeStream.outputMode("append").format("memory").queryName(qn)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.processAllAvailable(); q.stop()
      }
      s.table(qn).orderBy(col("user_id"), col("l_id"), col("r_id"))
    }),
      // identical to j_stream_interval: bounded stream == batch is the gate
      // matched pairs = the plain interval join; the null-row set is the
      // state EVICTION under the run's final GLOBAL watermark, which is the
      // MIN across both watermarked inputs (clicks and purchases each carry
      // max(own ts) - 2h; Spark's multiple-watermark policy takes the min —
      // measured: using the global max over ALL event types overshoots the
      // boundary); a click is evicted (and emits its null row) when its
      // join window end l_ts + 1h falls below that watermark
      """WITH wm AS (
        |  SELECT LEAST(
        |    (SELECT max(ts) FROM events WHERE event_type = 'click'),
        |    (SELECT max(ts) FROM events WHERE event_type = 'purchase'))
        |    - INTERVAL 2 HOUR AS w
        |), l AS (
        |  SELECT user_id, event_id AS l_id, ts AS l_ts FROM events
        |  WHERE event_type = 'click'
        |), r AS (
        |  SELECT user_id AS ru, event_id AS r_id, ts AS r_ts FROM events
        |  WHERE event_type = 'purchase'
        |), matched AS (
        |  SELECT l.user_id, l_id, r_id, l_ts, r_ts
        |  FROM l JOIN r ON l.user_id = ru AND r_ts > l_ts
        |    AND r_ts <= l_ts + INTERVAL 1 HOUR
        |), unmatched AS (
        |  SELECT l.user_id, l_id, CAST(NULL AS BIGINT) AS r_id, l_ts,
        |    CAST(NULL AS TIMESTAMP) AS r_ts
        |  FROM l CROSS JOIN wm
        |  WHERE NOT EXISTS (
        |      SELECT 1 FROM r WHERE ru = l.user_id AND r_ts > l_ts
        |        AND r_ts <= l_ts + INTERVAL 1 HOUR)
        |    AND l_ts + INTERVAL 1 HOUR < w
        |)
        |SELECT * FROM matched
        |UNION ALL
        |SELECT * FROM unmatched
        |ORDER BY user_id, l_id, r_id""".stripMargin),

    // ----- streaming exact dedup, driver-gated: the spool holds the fixture
    // DOUBLED (two byte-identical file copies — the replayed-input case);
    // dropDuplicatesWithinWatermark must collapse it back to one row per
    // event_id. Oracle = the original events table.
    Gate("stream_dedup", ((s, dir) => {
      val spool = eventsDedup(s, dir)
      val qn = "graft_stream_dedup"
      withStatePartitions(s, 4) {
        val q = graft.streaming.EventsStream
          .dedupStream(graft.streaming.EventsStream.readEvents(s, spool))
          .writeStream.outputMode("append").format("memory").queryName(qn)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.processAllAvailable(); q.stop()
      }
      s.table(qn).select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"), col("props"))
        .orderBy(col("event_id"))
    }),
      // doubled input collapses back to the original table, row for row
      """SELECT event_id, ts, user_id, event_type, value, props
        |FROM events ORDER BY event_id""".stripMargin),

    // ----- streaming NEAR-dup dedup, driver-gated: the continuous form
    // of the MinHash tier — three deterministic arrival batches, each
    // exact-tier'd vs the kept store, within-batch LSH-deduped, and
    // probed against the STORED band + shingle-hash index, survivors
    // APPENDED to the index (never rebuilt). This gate runs the full
    // replay (measured); the log gate reads the memoized store.
    Gate("stream_dedup_minhash", ((s, dir) => {
      val store = streamDedupReplay(s, dir, scratchDir("streamdedup"))
      graft.streaming.NearDupStream.kept(s, store)
        .select(col("doc_id"), col("batch")).orderBy(col("doc_id"))
    }),
      // the streaming near-dup kept-chain, unrolled over the fixed 3-batch
      // slicing (SketchOracleSql.streamKeptChain scaladoc)
      graft.functions.SketchOracleSql.streamDedupOracleSql()),

    // the stream's audit artifact: one kept/dup_exact/dup_near verdict
    // row per processed doc (bisectable at birth: a red kept gate with a
    // green log isolates to the store writes; red verdicts point at the
    // tiers)
    Gate("stream_dedup_minhash_log", ((s, dir) => {
      val store = streamDedupSpool(s, dir)
      graft.streaming.NearDupStream.log(s, store)
        .select(col("doc_id"), col("batch"), col("verdict"))
        .orderBy(col("doc_id"))
    }),
      graft.functions.SketchOracleSql.streamDedupLogOracleSql()),

    // ----- index-lifecycle gates: RETRACTION (tombstones — the
    // right-to-be-forgotten path) and COMPACTION (physical purge +
    // small-file merge). Same chain, with/without the compact step before
    // the final batch; the oracle is shared VERBATIM — compaction must be
    // value-neutral, proven on every driver run, not argued.
    Gate("stream_dedup_retract", ((s, dir) => {
      val store = streamDedupLifecycle(s, dir,
        scratchDir("streamdedup-retract"), compactBeforeLast = false)
      graft.streaming.NearDupStream.kept(s, store)
        .select(col("doc_id"), col("batch")).orderBy(col("doc_id"))
    }),
      // retract and compact share ONE oracle verbatim: the tombstone view
      // and the physically-compacted store must serve the same live set
      graft.functions.SketchOracleSql.streamDedupRetractOracleSql()),

    Gate("stream_dedup_compact", ((s, dir) => {
      val store = streamDedupLifecycle(s, dir,
        scratchDir("streamdedup-compact"), compactBeforeLast = true)
      graft.streaming.NearDupStream.kept(s, store)
        .select(col("doc_id"), col("batch")).orderBy(col("doc_id"))
    }),
      graft.functions.SketchOracleSql.streamDedupRetractOracleSql()),

    // ----- stream-static enrichment join, driver-gated: the event stream
    // joins a BROADCAST batch dimension (per-user cohort) before a
    // complete-mode aggregate — the standard streaming enrichment shape
    // (dim re-broadcast per micro-batch, no state for the join itself).
    // Oracle = the batch analog; NULL user_ids drop via the inner join.
    Gate("stream_static_join", ((s, dir) => {
      val spool = eventsTumble(s, dir)
      val dim = Tables.events(s, dir).select(col("user_id")).distinct()
        .withColumn("cohort", (col("user_id") % 3).cast("int"))
      val qn = "graft_stream_static"
      withStatePartitions(s, 4) {
        val q = graft.streaming.EventsStream.readEvents(s, spool)
          .join(broadcast(dim), Seq("user_id"))
          .groupBy(col("cohort"))
          .agg(count(lit(1)).as("n"), sumExact(col("value")).as("total"))
          .writeStream.outputMode("complete").format("memory").queryName(qn)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.processAllAvailable(); q.stop()
      }
      s.table(qn).orderBy(col("cohort"))
    }),
      // bounded stream == batch: the enrichment join + aggregate restated
      """SELECT CAST(user_id % 3 AS INTEGER) AS cohort, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM events WHERE user_id IS NOT NULL
        |GROUP BY cohort ORDER BY cohort""".stripMargin),

    // ----- foreachBatch exactly-once ingest, driver-gated: the normalized
    // records spooled once, then the SAME input replayed through TWO
    // foreachBatch runs (fresh checkpoint each — the crash-and-reprocess
    // case) into one partitioned store. The anti-join in Ingest must make
    // the second run append NOTHING, so the store equals a single load —
    // which is exactly what the oracle computes (hash + first-wins dedup,
    // the s7_fact_load shape without the star-key joins).
    Gate("stream_ingest_exactly_once", ((s, dir) => {
      val recs = IdaMart.records(s, dir)
      // spool staging is harness setup (a Spool): built once per
      // sf dir, so bench iterations re-run the ingest, not the stage write
      val inDir = ingestRecordsSpool(s, dir)
      val factDir = scratchDir("ingest-store") + "/fact"
      def replay(): Unit = {
        val cp = scratchDir("ingest-cp")
        val q = graft.streaming.Ingest.start(
          s.readStream.schema(recs.schema).parquet(inDir), factDir, cp)
        q.processAllAvailable(); q.stop()
      }
      withStatePartitions(s, 8) { replay(); replay() }
      s.read.parquet(factDir)
        .select(col("ano_mes"), col("grupo_economico"), col("servico"),
          col("variavel"), col("valor").cast("double").as("valor"),
          col("arquivo_origem"), col("linha_origem"), col("hash_registro"))
        .orderBy(col("hash_registro"))
    }),
      // a replayed ingest appends nothing: the store equals ONE load — hash +
      // first-wins dedup over the normalized records (s7's shape, undoubled,
      // without the star-key joins the streaming ingest doesn't do)
      s"""WITH records AS ($recordsSql),
         |hashed AS (
         |  SELECT *,
         |    md5(strftime(ano_mes, '%Y-%m-%d') || '|' || grupo_economico || '|' ||
         |        servico || '|' || variavel || '|' ||
         |        CAST(CAST(valor AS DECIMAL(18,2)) AS VARCHAR)) AS hash_registro
         |  FROM records
         |), deduped AS (
         |  SELECT * FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY hash_registro
         |                                 ORDER BY arquivo_origem, linha_origem) AS rn
         |    FROM hashed) WHERE rn = 1
         |)
         |SELECT ano_mes, grupo_economico, servico, variavel,
         |       CAST(valor AS DOUBLE) AS valor,
         |       arquivo_origem, linha_origem, hash_registro
         |FROM deduped
         |ORDER BY hash_registro""".stripMargin),

    // ----- keyed-snapshot reconciliation (data diff): two per-user
    // latest-state snapshots built from disjoint halves of the event
    // window, diffed on the key — output bounded by the CHANGE set
    // (StoreDiff scaladoc). All three statuses populated by construction.
    Gate("s_store_diff", ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
      def latest(df: DataFrame) = df
        .withColumn("__rn", row_number().over(
          Window.partitionBy(col("user_id"))
            .orderBy(col("ts").desc, col("event_id").desc)))
        .filter(col("__rn") === 1)
        .select(col("user_id"), col("value"), col("event_id"))
      val cut = lit("2024-01-16").cast("timestamp")
      graft.operators.StoreDiff.diff(
          latest(ev.filter(col("ts") < cut)),
          latest(ev.filter(col("ts") >= cut)),
          keys = Seq("user_id"), valueCols = Seq("value", "event_id"))
        .orderBy(col("user_id"))
    }),
      // the merged-sketch estimate is engine-internal; the oracle pins the
      // partial count, the exact rollup, and asserts the merge landed in
      // the 5% band (TRUE column)
      // equal rows (both sides present, all values equal) never surface
      """WITH e AS (
        |  SELECT user_id, value, event_id, ts FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |), v1 AS (
        |  SELECT user_id, value, event_id FROM (
        |    SELECT user_id, value, event_id,
        |      ROW_NUMBER() OVER (PARTITION BY user_id
        |        ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM e WHERE ts < TIMESTAMP '2024-01-16') WHERE rn = 1
        |), v2 AS (
        |  SELECT user_id, value, event_id FROM (
        |    SELECT user_id, value, event_id,
        |      ROW_NUMBER() OVER (PARTITION BY user_id
        |        ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM e WHERE ts >= TIMESTAMP '2024-01-16') WHERE rn = 1
        |)
        |SELECT COALESCE(v1.user_id, v2.user_id) AS user_id,
        |  CASE WHEN v1.user_id IS NULL THEN 'only_right'
        |       WHEN v2.user_id IS NULL THEN 'only_left'
        |       ELSE 'changed' END AS status,
        |  v1.value AS l_value, v1.event_id AS l_event_id,
        |  v2.value AS r_value, v2.event_id AS r_event_id
        |FROM v1 FULL OUTER JOIN v2 ON v1.user_id = v2.user_id
        |WHERE v1.user_id IS NULL OR v2.user_id IS NULL
        |  OR v1.value IS DISTINCT FROM v2.value
        |  OR v1.event_id IS DISTINCT FROM v2.event_id
        |ORDER BY user_id""".stripMargin),

    // ----- small-file compaction (the OPTIMIZE maintenance op): the fact
    // store fragmented across two separate fan-out appends, then
    // compacted to one file per year partition with a staged
    // rewrite-and-swap (Sinks.compactFact). The gate is content identity
    // through the rewrite; ScaleSpec asserts the file-count collapse
    Gate("s_compaction", ((s, dir) => {
      val deduped = IdaMart.firstLoadWins(
        IdaMart.hashRecords(IdaMart.records(s, dir)))
      val factDir = scratchDir("compact-store") + "/fact"
      (0 until 2).foreach { i =>
        graft.sources.Sinks.writeFactPartitioned(
          deduped.filter(pmod(col("linha_origem"), lit(2)) === i),
          factDir, mode = "append")
      }
      graft.sources.Sinks.compactFact(s, factDir, filesPerYear = 1)
      graft.sources.Sinks.readFact(s, factDir)
        .select(col("ano_mes"), col("grupo_economico"), col("servico"),
          col("variavel"), col("valor").cast("double").as("valor"),
          col("arquivo_origem"), col("linha_origem"), col("hash_registro"))
        .orderBy(col("hash_registro"))
    }),
      // compaction preserves content exactly: the oracle is the same
      // undoubled deduped fact as stream_ingest_exactly_once — the two
      // disjoint slices reassemble to one load, and the rewrite changes
      // layout only
      s"""WITH records AS ($recordsSql),
         |hashed AS (
         |  SELECT *,
         |    md5(strftime(ano_mes, '%Y-%m-%d') || '|' || grupo_economico || '|' ||
         |        servico || '|' || variavel || '|' ||
         |        CAST(CAST(valor AS DECIMAL(18,2)) AS VARCHAR)) AS hash_registro
         |  FROM records
         |), deduped AS (
         |  SELECT * FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY hash_registro
         |                                 ORDER BY arquivo_origem, linha_origem) AS rn
         |    FROM hashed) WHERE rn = 1
         |)
         |SELECT ano_mes, grupo_economico, servico, variavel,
         |       CAST(valor AS DOUBLE) AS valor,
         |       arquivo_origem, linha_origem, hash_registro
         |FROM deduped
         |ORDER BY hash_registro""".stripMargin),

    // ----- out-of-orderness profile: how late each event arrives behind
    // the running event-time high-watermark of its type, in ARRIVAL
    // (event_id) order — the measurement that sizes a streaming
    // watermark. One window shuffle; everything else is arithmetic on
    // epoch-µs integers (identical frames in both engines)
    Gate("stream_lateness_profile", ((s, dir) => {
      val w = Window.partitionBy(col("event_type")).orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, dir)
        .withColumn("ts_us", unix_micros(col("ts")))
        .withColumn("late_us",
          greatest(coalesce(max(col("ts_us")).over(w) - col("ts_us"), lit(0L)),
            lit(0L)))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          count(when(col("late_us") > 30L * 60 * 1000 * 1000, lit(1)))
            .as("n_late_30m"),
          max(col("late_us")).as("max_late_us"))
        .orderBy(col("event_type"))
    }),
      """WITH marked AS (
        |  SELECT event_type,
        |    GREATEST(COALESCE(
        |      MAX(epoch_us(ts)) OVER (PARTITION BY event_type ORDER BY event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      - epoch_us(ts), 0), 0) AS late_us
        |  FROM events
        |)
        |SELECT event_type, COUNT(*) AS n,
        |  COUNT(*) FILTER (WHERE late_us > 1800000000) AS n_late_30m,
        |  MAX(late_us) AS max_late_us
        |FROM marked GROUP BY event_type
        |ORDER BY event_type""".stripMargin),

    // ----- incrementally-maintained aggregate view (MatView): the stream
    // replayed TWICE from fresh checkpoints over the same spool — the
    // batch-id anti-join must keep partials single-counted, and the
    // recombined view must equal the one-shot batch aggregate (oracle)
    Gate("stream_matview", ((s, dir) => {
      val spool = eventsTumble(s, dir)
      val storeDir = scratchDir("matview") + "/view"
      def replay(): Unit = {
        val cp = scratchDir("matview-cp")
        val q = graft.streaming.MatView.start(
          graft.streaming.EventsStream.readEvents(s, spool), storeDir, cp)
        q.processAllAvailable(); q.stop()
      }
      withStatePartitions(s, 4) { replay(); replay() }
      graft.streaming.MatView.readView(s, storeDir)
        .orderBy(col("event_type"), col("day"))
    }),
      // double-replay appends nothing: the view equals the one-shot batch
      // aggregate of the raw table
      """SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM events
        |GROUP BY event_type, day
        |ORDER BY event_type, day""".stripMargin),

    // ----- CDC apply (MERGE semantics): the events feed replayed as a
    // change log — error rows are deletes, everything else upserts; the
    // LATEST change per key wins and deleted keys leave the snapshot.
    // ONE shuffle on the merge key serves both window passes (rank and
    // change count share the partitioning); the full-partition count is
    // what rules out a WindowGroupLimit prune — drop n_changes and the
    // rank-only form would prune losers map-side
    Gate("cdc_merge", ((s, dir) => {
      val w = Window.partitionBy(col("key"))
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables.events(s, dir)
        .select(col("user_id").as("key"), col("ts"), col("event_id"),
          when(col("event_type") === "error", lit("delete"))
            .otherwise(lit("upsert")).as("op"),
          col("value"))
        .withColumn("__rn", row_number().over(w))
        .withColumn("n_changes",
          count(lit(1)).over(Window.partitionBy(col("key"))))
        .filter(col("__rn") === 1 && col("op") === "upsert")
        .select(col("key"), col("value").as("last_value"), col("n_changes"))
        .orderBy(col("key"))
    }),
      """WITH changes AS (
        |  SELECT user_id AS key, ts, event_id,
        |    CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
        |    value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |                       ORDER BY ts DESC, event_id DESC) AS rn,
        |    COUNT(*) OVER (PARTITION BY user_id) AS n_changes
        |  FROM events
        |)
        |SELECT key, value AS last_value, n_changes
        |FROM changes WHERE rn = 1 AND op = 'upsert'
        |ORDER BY key""".stripMargin),

    // ----- content-addressed chunk store round trip (the LBFS/backup
    // architecture CDC boundaries serve): recipes + deduplicated store
    // written to parquet, read back, every doc reassembled in recipe
    // order — a digest collision or lost chunk flips `match` false
    // (CdcChunk.storeRoundTrip scaladoc)
    Gate("s_cdc_store_roundtrip", ((s, dir) =>
      graft.operators.CdcChunk.storeRoundTrip(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        scratchDir("cdc-store"))),
      graft.operators.CdcChunk.storeRoundTripOracleSql()),

    // ----- file-stats manifest data skipping (Iceberg manifests / Delta
    // add-file stats): orders staged CLUSTERED on o_orderdate, a
    // |files|-row (min,max,rows) manifest built in one pass, and the 1996
    // range query opens only stat-overlapping files — stats prune FILES,
    // the exact predicate prunes rows. StatsManifestSpec asserts
    // files_read < files_total; the gate is semantic identity with the
    // plain scan (sources/StatsManifest scaladoc)
    Gate("s_manifest_prune", ((s, dir) => {
      val store = scratchDir("manifest-store")
      graft.sources.StatsManifest.writeClustered(
        Tables.orders(s, dir), store, "o_orderdate", nFiles = 8)
      val manifest = graft.sources.StatsManifest.build(s, store, "o_orderdate")
      val lo = to_timestamp(lit("1996-01-01"))
      val hi = to_timestamp(lit("1997-01-01"))
      val (scan, _, _) = graft.sources.StatsManifest.prunedScan(
        s, manifest, "o_orderdate", lo, hi)
      scan.groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double")
            .as("total"))
        .orderBy(col("month"))
    }),
      // the manifest changes WHICH FILES are opened, never the result: the
      // oracle is the plain range aggregate over the original table
      """SELECT strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m') AS month,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY month ORDER BY month""".stripMargin),

    // ----- Z-order (Morton) clustering key: the multi-dimensional layout
    // primitive — literal-shift bit interleave of two normalized dims, so
    // parquet min/max stats prune on EITHER column (see operators/ZOrder;
    // the layout win itself is asserted in ZOrderSpec's bounding-box test)
    Gate("s_zorder", ((s, dir) => {
      val day = datediff(col("o_orderdate"), to_date(lit("1995-01-01")))
      val z = graft.operators.ZOrder.zValue(
        Seq(pmod(col("o_custkey"), lit(1024)), pmod(day, lit(1024))),
        bits = 10)
      Tables.orders(s, dir)
        .filter(col("o_orderkey") % 97 === 0)
        .select(col("o_orderkey"), z.as("zval"))
        .orderBy(col("o_orderkey"))
    }),
      {
        val z = graft.operators.ZOrder.zValueSql(Seq("d0", "d1"), 10)
        s"""WITH norm AS (
           |  SELECT o_orderkey, o_custkey % 1024 AS d0,
           |    date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
           |      % 1024 AS d1
           |  FROM orders WHERE o_orderkey % 97 = 0
           |)
           |SELECT o_orderkey, $z AS zval
           |FROM norm ORDER BY o_orderkey""".stripMargin
      }),

    // ----- dynamic partition overwrite: correct ONE day's partition in a
    // day-partitioned store and leave every other partition's files
    // untouched (partitionOverwriteMode=dynamic — the lakehouse
    // backfill/correction op); gate = the re-read store equals the events
    // table with that day's values doubled
    // ----- snapshot isolation + TIME TRAVEL: three commits (append,
    // append, logical overwrite) into a transaction-logged store, then
    // each historical version read back AS OF its commit — the overwrite
    // must leave versions 1-2 readable (immutable files + log replay,
    // SnapshotStore scaladoc)
    // ----- WRITE-AUDIT-PUBLISH: stage each batch outside the log, audit
    // the staged bytes, publish (metadata-only commit) only on pass. The
    // clean batch publishes; the batch with planted NULL-text rows fails
    // its audit and is discarded — the final table must contain exactly
    // base + clean batch, proving staged data never leaked to readers
    Gate("s_write_audit_publish", ((s, dir) => {
      val store = scratchDir("wap") + "/tbl"
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
      graft.sources.SnapshotStore.commitAppend(
        docs.filter(col("doc_id") % 3 === 0), store)
      def audit(branch: String): Long =
        graft.sources.SnapshotStore.readBranch(s, store, branch)
          .filter(col("text").isNull).count()
      graft.sources.SnapshotStore.stageBranch(
        docs.filter(col("doc_id") % 3 === 1), store, "batch-a")
      require(audit("batch-a") == 0, "clean batch must pass its audit")
      graft.sources.SnapshotStore.publishBranch(store, "batch-a")
      graft.sources.SnapshotStore.stageBranch(
        docs.filter(col("doc_id") % 3 === 2)
          .withColumn("text",
            when(col("doc_id") % 7 === 0, lit(null: String))
              .otherwise(col("text"))),
        store, "batch-b")
      require(audit("batch-b") > 0, "the planted violations must be seen")
      graft.sources.SnapshotStore.discardBranch(store, "batch-b")
      graft.sources.SnapshotStore.snapshotAt(s, store,
          graft.sources.SnapshotStore.currentVersion(store))
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),
      // exactly base + the published clean batch; the discarded batch's
      // slice must be absent
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id % 3 IN (0, 1)
        |ORDER BY doc_id""".stripMargin),

    // ----- zero-copy SHALLOW CLONE: the clone's first commit references
    // the source's live files (no data movement — spec pins that no new
    // parquet appears); writes then diverge independently. The gate
    // appends only to the clone and reads both tables — the source must
    // be unaffected, the clone must see base + its own append
    Gate("s_clone_shallow", ((s, dir) => {
      val root = scratchDir("clone")
      val src = s"$root/src"
      val tgt = s"$root/tgt"
      val ev = Tables.events(s, dir).select(col("event_id"), col("value"))
      graft.sources.SnapshotStore.commitAppend(
        ev.filter(col("event_id") % 4 === 0), src)
      graft.sources.SnapshotStore.cloneShallow(src, tgt)
      graft.sources.SnapshotStore.commitAppend(
        ev.filter(col("event_id") % 4 === 1), tgt)
      def state(tag: String, store: String) =
        graft.sources.SnapshotStore.snapshotAt(s, store,
            graft.sources.SnapshotStore.currentVersion(store))
          .agg(count(lit(1)).as("n"), sumExact(col("value")).as("total"))
          .select(lit(tag).as("table_tag"), col("n"), col("total"))
      state("clone", tgt).unionByName(state("source", src))
        .orderBy(col("table_tag"))
    }),
      // clone = base + its own append; source = base only, untouched by
      // the clone's write
      """SELECT 'clone' AS table_tag, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM events WHERE event_id % 4 IN (0, 1)
        |UNION ALL
        |SELECT 'source' AS table_tag, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM events WHERE event_id % 4 = 0
        |ORDER BY table_tag""".stripMargin),

    Gate("s_time_travel", ((s, dir) => {
      val store = scratchDir("timetravel") + "/tbl"
      val ev = Tables.events(s, dir).select(col("event_id"), col("value"))
      graft.sources.SnapshotStore.commitAppend(
        ev.filter(col("event_id") % 3 === 0), store)
      graft.sources.SnapshotStore.commitAppend(
        ev.filter(col("event_id") % 3 === 1), store)
      graft.sources.SnapshotStore.commitOverwrite(
        ev.filter(col("event_id") % 3 === 2), store)
      (1 to 3).map(v =>
          graft.sources.SnapshotStore.snapshotAt(s, store, v)
            .agg(count(lit(1)).as("n"), sumExact(col("value")).as("total"))
            .select(lit(v).as("version"), col("n"), col("total")))
        .reduce(_ unionByName _)
        .orderBy(col("version"))
    }),
      // each version's state restated directly: v1 = the first slice,
      // v2 = first+second, v3 = the overwrite slice alone
      """SELECT 1 AS version, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM events WHERE event_id % 3 = 0
        |UNION ALL
        |SELECT 2, COUNT(*),
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |FROM events WHERE event_id % 3 IN (0, 1)
        |UNION ALL
        |SELECT 3, COUNT(*),
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |FROM events WHERE event_id % 3 = 2
        |ORDER BY version""".stripMargin),

    // ----- per-file BLOOM data skipping (sources/BloomSkip): the store
    // is clustered on user_id, so event_id — the point-lookup key — is
    // scattered and file [min,max] intervals cover most probes; the
    // bloom strictly beats min/max here (asserted in BloomSkipSpec,
    // along with zero false negatives). The per-file bloom
    // admits only the files that can contain the probed keys (false
    // positives cost I/O, never correctness); the gate requires that
    // files were actually skipped, and the oracle states the lookup
    // semantics directly
    Gate("s_bloom_file_skip", ((s, dir) => {
      val store = bloomSkipSpool(s, dir)
      val manifest = graft.sources.BloomSkip.build(s, store, "event_id")
      val (df, read, total) = graft.sources.BloomSkip.lookupScan(
        s, store, manifest, "event_id", Seq(7L, 123L, 876L))
      require(read < total, s"bloom pruned nothing ($read of $total files)")
      df.select(col("event_id"), col("event_type"),
          col("value").cast("double").as("value"))
        .orderBy(col("event_id"))
    }),
      // the bloom prunes files, never rows: the lookup's SEMANTICS are a
      // plain IN predicate
      """SELECT event_id, event_type, CAST(value AS DOUBLE) AS value
        |FROM events WHERE event_id IN (7, 123, 876)
        |ORDER BY event_id""".stripMargin),

    // ----- incremental consumption between snapshots (Iceberg
    // incremental append scan / Delta CDF appends): a consumer that last
    // saw version `from` catches up by reading ONLY the files added in
    // (from, to] and still live at `to` — resolved from the log, never by
    // diffing snapshots. The second window pins the net-changes rule: v3's
    // batch is added inside (2,4] but v4's overwrite removes it, so the
    // catch-up sees only v4's data
    Gate("s_incremental_read", ((s, dir) => {
      val store = scratchDir("increread") + "/tbl"
      val ev = Tables.events(s, dir).select(col("event_id"), col("value"))
      (0 to 2).foreach(m => graft.sources.SnapshotStore.commitAppend(
        ev.filter(col("event_id") % 4 === m), store))
      graft.sources.SnapshotStore.commitOverwrite(
        ev.filter(col("event_id") % 4 === 3), store)
      def window(tag: String, from: Int, to: Int) =
        graft.sources.SnapshotStore.readIncremental(s, store, from, to)
          .agg(count(lit(1)).as("n"), sumExact(col("value")).as("total"))
          .select(lit(tag).as("step"), col("n"), col("total"))
      window("v1->v3", 1, 3).unionByName(window("v2->v4", 2, 4))
        .orderBy(col("step"))
    }),
      // (1,3] = the v2+v3 appends; (2,4] = v4 only (v3's batch added in
      // window but logically removed by the v4 overwrite — net changes)
      """SELECT 'v1->v3' AS step, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM events WHERE event_id % 4 IN (1, 2)
        |UNION ALL
        |SELECT 'v2->v4', COUNT(*),
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |FROM events WHERE event_id % 4 = 3
        |ORDER BY step""".stripMargin),

    // ----- retention vacuum: after append/append/overwrite, physically
    // delete every file unreferenced past the horizon (require(dead
    // .nonEmpty) makes the deletion part of the gate), then the retained
    // head version must still read in full — the storage bound that makes
    // time travel affordable, and the step that makes an erasure FINAL
    Gate("s_vacuum_retention", ((s, dir) => {
      val store = scratchDir("vacuum") + "/tbl"
      val ev = Tables.events(s, dir).select(col("event_id"), col("value"))
      graft.sources.SnapshotStore.commitAppend(
        ev.filter(col("event_id") % 3 === 0), store)
      graft.sources.SnapshotStore.commitAppend(
        ev.filter(col("event_id") % 3 === 1), store)
      graft.sources.SnapshotStore.commitOverwrite(
        ev.filter(col("event_id") % 3 === 2), store)
      val dead = graft.sources.SnapshotStore.vacuum(store, retainFrom = 3)
      require(dead.nonEmpty,
        "vacuum found nothing to delete after an overwrite — broken replay")
      graft.sources.SnapshotStore.snapshotAt(s, store, 3)
        .agg(count(lit(1)).as("n"), sumExact(col("value")).as("total"))
    }),
      """SELECT COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM events WHERE event_id % 3 = 2""".stripMargin),

    // ----- GDPR/LGPD keyed erasure over a partitioned store: rewrite
    // ONLY the partitions that can contain the subjects' rows (partition
    // pruning on the same mod rule that laid the store out), keep
    // untouched partitions' files byte-identical, and null-safely keep
    // null-keyed rows (Erasure scaladoc — incl. the emptied-partition
    // edge dynamic overwrite misses)
    Gate("s_gdpr_delete", ((s, dir) => {
      val store = scratchDir("gdpr") + "/store"
      val victims = Seq(1L, 5L, 9L)
      Tables.events(s, dir)
        .withColumn("cohort", pmod(col("user_id"), lit(8)).cast("int"))
        .write.partitionBy("cohort").mode("overwrite").parquet(store)
      graft.sources.Erasure.eraseFromStore(s, store, "cohort",
        affectedPartitions = victims.map(_ % 8).distinct,
        keep = !coalesce(col("user_id").isin(victims: _*), lit(false)))
      s.read.parquet(store)
        .groupBy(col("cohort"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          sumExact(col("value")).as("total"))
        .orderBy(col("cohort"))
    }),
      // null cohort (null user_id) groups and survives; victims' rows gone
      """SELECT CAST(user_id % 8 AS INTEGER) AS cohort, COUNT(*) AS n,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM events
        |WHERE user_id IS NULL OR user_id NOT IN (1, 5, 9)
        |GROUP BY cohort ORDER BY cohort""".stripMargin),

    // ----- dynamic partition pruning: a day-partitioned fact joined to a
    // filtered on-disk dim whose qualifying keys are unknowable at plan
    // time — Spark inserts a dynamicpruning subquery into the fact scan's
    // PartitionFilters, so only the 3 qualifying day directories are read
    // (the plan feature that turns a 100-TB star-join scan into a
    // 3-partition scan; plan shape + scanned-partition count pinned in
    // DppSpec). The gate's value is the MECHANISM — the result itself is
    // an ordinary filtered aggregate the oracle restates directly
    Gate("s_dpp_prune", ((s, dir) => {
      val store = scratchDir("dpp")
      val ev = Tables.events(s, dir).withColumn("day", to_date(col("ts")))
      ev.write.partitionBy("day").mode("overwrite").parquet(store + "/fact")
      // the dim predicate must be a genuine comparison (tag = 'pick'): a
      // bare boolean column simplifies to an attribute reference, which
      // the DPP rule's isLikelySelective test rejects — no pruning
      ev.select(col("day")).filter(col("day").isNotNull).distinct()
        .orderBy(col("day")).limit(3)
        .withColumn("tag", lit("pick"))
        .write.mode("overwrite").parquet(store + "/dim")
      val fact = s.read.parquet(store + "/fact")
      val d = s.read.parquet(store + "/dim").filter(col("tag") === "pick")
      fact.join(d.select(col("day")), Seq("day"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n"), sumExact(col("value")).as("total"))
        .orderBy(col("day"))
    }),
      // the 3 earliest days' aggregate — what the pruned scan must equal
      """WITH days AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS day FROM events
        |  WHERE ts IS NOT NULL ORDER BY day LIMIT 3
        |)
        |SELECT e.day, COUNT(*) AS n,
        |  CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM (SELECT CAST(ts AS DATE) AS day, value FROM events) e
        |JOIN days ON e.day = days.day
        |GROUP BY e.day
        |ORDER BY e.day""".stripMargin),

    // ----- partition-spec EVOLUTION (Iceberg-style): legacy data stays
    // month-partitioned, new data is day-partitioned, and ONE read path
    // serves both by translating the predicate per layout — month
    // pruning + residual day filter on the legacy store, direct day
    // pruning on the current one (old data keeps its coarser pruning
    // granularity; nothing is rewritten). Pruned-directory sets are
    // pinned in PartitionEvolutionSpec
    Gate("s_partition_evolution", ((s, dir) => {
      val root = scratchDir("partevo")
      val ev = Tables.events(s, dir).filter(col("ts").isNotNull)
        .withColumn("day", to_date(col("ts")))
      val d0 = ev.agg(min(col("day"))).collect().head.getDate(0).toLocalDate
      val cut = java.sql.Date.valueOf(d0.plusDays(15))
      ev.filter(col("day") < lit(cut)).drop("day")
        .withColumn("month", date_format(to_date(col("ts")), "yyyy-MM"))
        .write.partitionBy("month").mode("overwrite").parquet(s"$root/legacy")
      ev.filter(col("day") >= lit(cut))
        .write.partitionBy("day").mode("overwrite").parquet(s"$root/current")
      val lo = java.sql.Date.valueOf(d0.plusDays(10))
      val hi = java.sql.Date.valueOf(d0.plusDays(20))
      val months = Iterator.iterate(d0.plusDays(10))(_.plusDays(1))
        .takeWhile(!_.isAfter(d0.plusDays(20)))
        .map(d => f"${d.getYear}%04d-${d.getMonthValue}%02d").toSeq.distinct
      val legacy = s.read.parquet(s"$root/legacy")
        .filter(col("month").isin(months: _*)) // partition prune (coarse)
        .filter(to_date(col("ts")).between(lit(lo), lit(hi))) // residual
        .select(col("event_id"), to_date(col("ts")).as("day"), col("value"))
      val current = s.read.parquet(s"$root/current")
        .filter(col("day").between(lit(lo), lit(hi))) // partition prune
        .select(col("event_id"), col("day"), col("value"))
      legacy.unionByName(current)
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n"), sumExact(col("value")).as("total"))
        .orderBy(col("day"))
    }),
      // the evolved-layout union read restated as one range aggregate
      """WITH d0 AS (
        |  SELECT MIN(CAST(ts AS DATE)) AS d0 FROM events WHERE ts IS NOT NULL
        |)
        |SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM events CROSS JOIN d0
        |WHERE ts IS NOT NULL
        |  AND CAST(ts AS DATE) BETWEEN d0 + 10 AND d0 + 20
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // ----- lakehouse: merge-on-read deletes via DELETION VECTORS — two
    // delete transactions write key sidecars (base files untouched, the
    // complement of s_gdpr_delete's copy-on-write rewrite); the read
    // subtracts the broadcast union of sidecars from the base scan.
    // No-rewrite + compaction-equivalence proven in DeletionVectorsSpec
    Gate("s_deletion_vectors", ((s, dir) => {
      val store = scratchDir("dv") + "/store"
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      graft.sources.DeletionVectors.writeBase(docs, store)
      graft.sources.DeletionVectors.deleteKeys(
        docs.filter(pmod(col("doc_id"), lit(7)) === 3), store, txnId = 1)
      graft.sources.DeletionVectors.deleteKeys(
        docs.filter(pmod(col("doc_id"), lit(11)) === 5), store, txnId = 2)
      graft.sources.DeletionVectors.readMerged(s, store)
        .orderBy(col("doc_id"))
    }),
      // survivors of both delete transactions, straight from the fixture
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id % 7 <> 3 AND doc_id % 11 <> 5
        |ORDER BY doc_id""".stripMargin),

    Gate("s_dynamic_overwrite", ((s, dir) => {
      val store = scratchDir("dynover") + "/store"
      val ev = Tables.events(s, dir)
        .withColumn("day", to_date(col("ts")))
      ev.write.partitionBy("day").mode("overwrite").parquet(store)
      val target = ev.agg(min(col("day"))).collect().head.getDate(0)
      ev.filter(col("day") === lit(target))
        .withColumn("value", col("value") * 2)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("day").parquet(store)
      s.read.parquet(store)
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n"), sumExact(col("value")).as("total"))
        .orderBy(col("day"))
    }),
      """SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n,
        |  CAST(SUM(CAST(CASE WHEN CAST(ts AS DATE) =
        |      (SELECT MIN(CAST(ts AS DATE)) FROM events)
        |    THEN value * 2 ELSE value END AS DECIMAL(18,6))) AS DOUBLE)
        |    AS total
        |FROM events GROUP BY day
        |ORDER BY day""".stripMargin),

    // ----- JSONL interchange round-trip: the de-facto training-corpus
    // wire format (one JSON object per line). Write the documents table as
    // JSONL, re-read with an EXPLICIT schema (schema-on-read without an
    // inference pass — an inference scan doubles the read at 100 TB), and
    // gate full row identity against the parquet original: text, ids and
    // counts must survive the serialization byte-for-byte
    Gate("s_jsonl_roundtrip", ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
      val out = scratchDir("jsonl") + "/docs"
      docs.write.mode("overwrite").json(out)
      s.read.schema(docs.schema).json(out).orderBy(col("doc_id"))
    }),
      // the JSONL round-trip must reproduce the parquet original exactly —
      // the oracle IS the original table
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ----- ORC round-trip (the second columnar format next to parquet —
    // a lakehouse ingests both): corpus written lang-PARTITIONED as ORC,
    // read back through a partition filter, so the gate covers the ORC
    // writer/reader path AND directory-level partition pruning on it
    // (only the en/de partitions are listed; ScaleSpec asserts the
    // pruned scan). String/int fidelity is row-for-row vs parquet truth.
    Gate("s_orc_roundtrip", ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
      val out = scratchDir("orc") + "/docs"
      docs.write.mode("overwrite").partitionBy("lang").orc(out)
      s.read.orc(out)
        .filter(col("lang").isin("en", "de"))
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
        .orderBy(col("doc_id"))
    }),
      // ORC round-trip fidelity == the parquet truth, partition-filtered
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents WHERE lang IN ('en', 'de')
        |ORDER BY doc_id""".stripMargin),
  )
}
