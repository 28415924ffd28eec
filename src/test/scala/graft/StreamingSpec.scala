package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.plans.IdaMart
import graft.sources.Tables
import graft.streaming.{CdcUpsert, EventsStream, Ingest}

/** Structured Streaming over the events fixture: a batch of parquet drives
  * the stream synchronously via the memory sink. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def stageEventsDir(): String = {
    val dir = Files.createTempDirectory("graft-stream-in").toString
    Tables.events(spark, sf0001).write.mode("overwrite").parquet(dir)
    dir
  }

  test("watermarked tumbling window agg matches the batch computation") {
    val dir = stageEventsDir()
    val agg = EventsStream.tumblingAgg(EventsStream.readEvents(spark, dir))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("tumbling_out")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("tumbling_out")
      .orderBy("window_start", "event_type").collect()
    val batch = Tables.events(spark, sf0001)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("total"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total"))
      .orderBy("window_start", "event_type").collect()
    assert(streamed.length == batch.length && streamed.sameElements(batch))
  }

  test("trending agg + serving rank == batch per-window top-k") {
    val dir = stageEventsDir()
    val q = EventsStream.trendingAgg(EventsStream.readEvents(spark, dir))
      .writeStream.outputMode("complete")
      .format("memory").queryName("trending_out")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("window_start"))
      .orderBy(col("n").desc, col("user_id"))
    val streamed = spark.table("trending_out")
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
      .orderBy("window_start", "rank").collect()
    val batch = Tables.events(spark, sf0001)
      .groupBy(window(col("ts"), "1 hour"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("user_id"), col("n"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
      .orderBy("window_start", "rank").collect()
    assert(streamed.length == batch.length && streamed.sameElements(batch))
    // every window surfaces at most 3 rows, ranked 1..k
    streamed.groupBy(_.getTimestamp(0)).foreach { case (_, rows) =>
      assert(rows.length <= 3)
      assert(rows.map(_.getInt(3)).sorted.sameElements(1 to rows.length))
    }
  }

  test("stream-stream interval join matches the batch interval join") {
    val dir = stageEventsDir()
    def side(df: org.apache.spark.sql.DataFrame, t: String) =
      df.filter(col("event_type") === t)
    val joined = EventsStream.intervalJoin(
      side(EventsStream.readEvents(spark, dir), "click"),
      side(EventsStream.readEvents(spark, dir), "purchase"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("interval_out")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("interval_out")
      .orderBy("user_id", "l_id", "r_id").collect()
    val ev = Tables.events(spark, sf0001)
    val batch = EventsStream.intervalJoin(side(ev, "click"), side(ev, "purchase"))
      .orderBy("user_id", "l_id", "r_id").collect()
    assert(batch.nonEmpty, "fixture produced no click->purchase pairs")
    assert(streamed.length == batch.length && streamed.sameElements(batch))
  }

  test("streaming dedup: doubled input collapses to distinct event_ids") {
    val dir = Files.createTempDirectory("graft-stream-dup").toString
    val ev = Tables.events(spark, sf0001).limit(500)
    ev.unionAll(ev).write.mode("overwrite").parquet(dir)
    val q = EventsStream.dedupStream(EventsStream.readEvents(spark, dir))
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val out = spark.table("dedup_out")
    assert(out.count() == 500)
    assert(out.select("event_id").distinct().count() == 500)
  }

  test("foreachBatch ingest is idempotent across duplicate input files") {
    val inDir = Files.createTempDirectory("graft-ingest-in").toString
    val factDir = Files.createTempDirectory("graft-ingest-fact").toString + "/fact"
    val cp = Files.createTempDirectory("graft-ingest-cp").toString
    val records = IdaMart.records(spark, sf0001).limit(1000)
    records.write.mode("overwrite").parquet(inDir)

    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema(records.schema).parquet(inDir)
      val q = Ingest.start(stream, factDir, cp)
      q.processAllAvailable(); q.stop()
    }
    runOnce()
    val n1 = spark.read.parquet(factDir).count()
    val expected = IdaMart.hashRecords(records)
      .select("hash_registro").distinct().count()
    assert(n1 == expected)

    // drop a byte-identical copy of the input as a NEW file -> replayed
    // content, fresh filename; the anti-join must append nothing
    val first = new java.io.File(inDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(first.toPath,
      new java.io.File(inDir, "copy-" + first.getName).toPath)
    runOnce()
    val n2 = spark.read.parquet(factDir).count()
    assert(n2 == expected, s"replay appended ${n2 - expected} duplicate rows")
  }

  test("CDC upsert merge: tombstones shadow OLDER upserts arriving in " +
    "later batches; result is invariant to batch slicing and idempotent") {
    def ch(rows: (Long, Long, Long, String, Double)*) =
      rows.toSeq.toDF("key", "ts", "event_id", "op", "value")
    // batch 1: k1 upserted then deleted; k2 upserted
    val b1 = ch((1L, 3L, 103L, "upsert", 3.0), (1L, 5L, 105L, "delete", 0.0),
      (2L, 1L, 201L, "upsert", 1.0))
    // batch 2 arrives LATER but carries OLDER changes (out-of-order feed)
    val b2 = ch((1L, 4L, 104L, "upsert", 4.0), (2L, 2L, 202L, "upsert", 2.0))
    val s2 = CdcUpsert.merge(Some(CdcUpsert.merge(None, b1)), b2)
    def live(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("op") =!= "delete")
        .select("key", "value").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // k1's t4 upsert must NOT resurrect the t5-deleted key
    assert(live(s2) == Map(2L -> 2.0),
      "retained tombstone must shadow the late older upsert")
    // batching invariance: one-shot apply == incremental apply
    val oneShot = CdcUpsert.merge(None, b1.unionByName(b2))
    assert(s2.collect().map(_.toSeq).toSet ==
      oneShot.collect().map(_.toSeq).toSet)
    // idempotency: replaying the full feed over the store changes nothing
    val replayed = CdcUpsert.merge(Some(s2), b1.unionByName(b2))
    assert(replayed.collect().map(_.toSeq).toSet ==
      s2.collect().map(_.toSeq).toSet)
  }

  test("stream-static join enriches streaming events with a dimension") {
    val dir = stageEventsDir()
    val dim = Tables.events(spark, sf0001)
      .select(col("user_id")).distinct()
      .withColumn("cohort", col("user_id") % 3)
    val joined = EventsStream.readEvents(spark, dir)
      .join(dim, Seq("user_id"))
      .groupBy(col("cohort")).agg(count(lit(1)).as("n"))
    val q = joined.writeStream.outputMode("complete")
      .format("memory").queryName("enriched_out")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("enriched_out").orderBy("cohort").collect()
    val batch = Tables.events(spark, sf0001).join(dim, Seq("user_id"))
      .groupBy(col("cohort")).agg(count(lit(1)).as("n"))
      .orderBy("cohort").collect()
    assert(streamed.sameElements(batch))
  }

  private def taggedAsof(df: org.apache.spark.sql.DataFrame) =
    df.filter(col("ts").isNotNull &&
        col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("ts"),
        when(col("event_type") === "click", lit(0)).otherwise(lit(1))
          .as("side"),
        col("event_id").as("tie"), col("event_id").as("a"),
        col("value").as("v"))
      .as[EventsStream.AsofEvent]

  test("streaming as-of enrichment == batch as-of join on bounded input") {
    val ev = Tables.events(spark, sf0001)
    val spool = Files.createTempDirectory("graft-asof-spool").toString
    ev.coalesce(1).write.mode("overwrite").parquet(spool)
    val qn = "spec_stream_asof"
    val q = EventsStream.streamAsofEnrich(
        taggedAsof(spark.readStream.schema(EventsStream.schema).parquet(spool)))
      .toDF()
      .writeStream.outputMode("append").format("memory").queryName(qn)
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val got = spark.table(qn)
      .select("event_id", "user_id", "value", "click_id", "click_value")
      .orderBy("event_id").collect().toSeq
    val purchases = ev.filter(col("ts").isNotNull)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("click_id"),
        col("value").as("click_value"))
    val want = graft.operators.AsofJoin.asofJoin(purchases, clicks,
        keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
        payload = Seq("click_id", "click_value"), tieBreak = "click_id")
      .select(col("event_id"), col("user_id"), col("value"),
        col("click_id"), col("click_value"))
      .orderBy("event_id").collect().toSeq
    assert(got.nonEmpty && got == want)
  }

  test("streaming as-of: state carries the latest click ACROSS micro-batches") {
    val t0 = 1700000000000L
    val dir = Files.createTempDirectory("graft-asof-batches").toString
    def rows(file: String, es: Seq[(Long, Long, String, Double)]): Unit =
      es.map { case (id, offMin, t, v) =>
          (id, new Timestamp(t0 + offMin * 60000), 7L, t, v, "{}")
        }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$file")
    // batch 1: one click; batch 2: a purchase AFTER it and a fresh pair
    rows("b1", Seq((1L, 0L, "click", 10.0)))
    rows("b2", Seq((2L, 5L, "purchase", 1.0), (3L, 6L, "click", 20.0),
      (4L, 7L, "purchase", 2.0)))
    val qn = "spec_stream_asof_xbatch"
    val q = EventsStream.streamAsofEnrich(
        taggedAsof(spark.readStream.schema(EventsStream.schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$dir/*")))
      .toDF()
      .writeStream.outputMode("append").format("memory").queryName(qn)
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val got = spark.table(qn)
      .select("event_id", "click_id", "click_value")
      .orderBy("event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // purchase 2 is enriched by batch-1's click (state crossed the batch
    // boundary); purchase 4 by the later in-batch click
    assert(got == Seq((2L, 1L, 10.0), (4L, 3L, 20.0)))
  }

  test("sessionization: a late event in a later batch cannot move the " +
    "session end backwards (regression on the state transition)") {
    val t0 = 1700000000000L
    def ev(id: Long, offsetMin: Long) =
      EventsStream.Event(id, new Timestamp(t0 + offsetMin * 60000), 7L, "click", 1.0)
    val gap = 30 * 60 * 1000L
    // batch 1: on-time event at +29min
    val (s1, out1) = EventsStream.mergeEvents(7L, Seq(ev(1, 29)), None, gap)
    // batch 2: LATE event at +0min — merges, end must STAY at +29
    val (s2, out2) = EventsStream.mergeEvents(7L, Seq(ev(2, 0)), s1, gap)
    assert(out1.isEmpty && out2.isEmpty)
    assert(s2.get.endMs == t0 + 29 * 60000, "late event moved the end backwards")
    assert(s2.get.startMs == t0)
    // batch 3: +31min is within gap of the TRUE end (+29); +90 breaks it
    val (s3, out3) = EventsStream.mergeEvents(7L, Seq(ev(3, 31), ev(4, 90)), s2, gap)
    assert(out3.length == 1, s"expected exactly one closed session, got $out3")
    val closed = out3.head
    assert(closed.n_events == 3 && closed.start.getTime == t0 &&
      closed.end.getTime == t0 + 31 * 60000 && closed.total_value == 3.0)
    assert(s3.get.nEvents == 1 && s3.get.startMs == t0 + 90 * 60000)
  }

  test("sessionization: a straggler older than the gap horizon becomes its " +
    "own session; null-ts events are dropped") {
    val t0 = 1700000000000L
    def ev(id: Long, offsetMin: Long) =
      EventsStream.Event(id, new Timestamp(t0 + offsetMin * 60000), 7L, "click", 1.0)
    val gap = 30 * 60 * 1000L
    val open = Some(EventsStream.SessionState(2, t0 + 360 * 60000,
      t0 + 370 * 60000, 2.0))                    // open session at +360..+370
    val nullTs = EventsStream.Event(9, null, 7L, "click", 99.0)
    val (cur, out) = EventsStream.mergeEvents(7L,
      Seq(ev(5, 0), nullTs), open, gap)          // +0 is hours before -gap
    assert(out.length == 1 && out.head.n_events == 1 &&
      out.head.start.getTime == t0, "straggler must close as its own session")
    assert(cur.get.startMs == t0 + 360 * 60000 && cur.get.nEvents == 2,
      "open session must be untouched by the straggler and the null-ts event")
  }

  test("sessionizeBatch: emits end-of-input open sessions and matches a " +
    "full replay through the state transition (batch == stream semantics)") {
    val events = Tables.events(spark, sf0001).limit(2000)
    val gap = 30 * 60 * 1000L
    val got = EventsStream.sessionizeBatch(events, gap)
      .orderBy("user_id", "session_seq")
      .collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getTimestamp(3),
        r.getTimestamp(4), r.getDouble(5)))

    // reference: replay each user's FULL sorted history through mergeEvents
    // in one batch, then flush the open session — what a continuous stream
    // would eventually emit via timeout
    import spark.implicits._
    val typed = events
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
      .as[EventsStream.Event].collect()
    val expected = typed.groupBy(_.user_id).toSeq.flatMap { case (uid, evs) =>
      val (open, closed) = EventsStream.mergeEvents(uid, evs.toSeq, None, gap)
      closed ++ open.map(s => EventsStream.Session(uid, s.nEvents,
        new Timestamp(s.startMs), new Timestamp(s.endMs), s.total))
    }.sortBy(s => (s.user_id, s.start.getTime))
      .map(s => (s.user_id, s.n_events.toLong, s.start, s.end, s.total_value))

    assert(got.length == expected.length,
      s"batch emitted ${got.length} sessions, replay+flush ${expected.length}")
    got.zip(expected).foreach { case (g, e) =>
      // stream state keeps ms (SessionState startMs/endMs); batch keeps µs
      // — compare at the stream's own ms granularity
      assert(g._1 == e._1 && g._2 == e._2 &&
        g._3.getTime == e._3.getTime && g._4.getTime == e._4.getTime,
        s"session mismatch: $g != $e")
      assert(math.abs(g._5 - e._5) < 1e-6, s"total drift: $g != $e")
    }
    // and the flush actually matters: at least one session is open at EOI
    val openCount = typed.groupBy(_.user_id).count { case (uid, evs) =>
      EventsStream.mergeEvents(uid, evs.toSeq, None, gap)._1.isDefined
    }
    assert(openCount > 0, "fixture should leave open sessions at end-of-input")
  }

  test("property: sessionizeBatch == mergeEvents replay+flush on random " +
    "event streams (ties, dup timestamps, gap edges)") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260812L)
    val gap = 10 * 60 * 1000L
    (1 to 3).foreach { trial =>
      val t0 = 1700000000000L
      val evs = (1 to 150).map { i =>
        // minute-quantized offsets force duplicate timestamps and exact
        // gap-boundary hits (t - end == gap must NOT split)
        val offMin = rnd.nextInt(600)
        EventsStream.Event(i.toLong, new Timestamp(t0 + offMin * 60000L),
          rnd.nextInt(4).toLong, "e", rnd.nextInt(10).toDouble)
      }
      val got = EventsStream.sessionizeBatch(evs.toDF(), gap)
        .orderBy("user_id", "session_seq").collect()
        .map(r => (r.getLong(0), r.getLong(2), r.getTimestamp(3).getTime,
          r.getTimestamp(4).getTime, r.getDouble(5)))
      val expected = evs.groupBy(_.user_id).toSeq.flatMap { case (uid, es) =>
        val (open, closed) = EventsStream.mergeEvents(uid, es, None, gap)
        closed ++ open.map(s => EventsStream.Session(uid, s.nEvents,
          new Timestamp(s.startMs), new Timestamp(s.endMs), s.total))
      }.sortBy(s => (s.user_id, s.start.getTime))
        .map(s => (s.user_id, s.n_events.toLong, s.start.getTime,
          s.end.getTime, s.total_value))
      assert(got.length == expected.length, s"trial $trial session count")
      got.zip(expected).foreach { case (g, e) =>
        assert(g._1 == e._1 && g._2 == e._2 && g._3 == e._3 && g._4 == e._4,
          s"trial $trial: $g != $e")
        assert(math.abs(g._5 - e._5) < 1e-6, s"trial $trial total: $g != $e")
      }
    }
  }

  test("sessionization: gap splits sessions, totals accumulate") {
    val t0 = 1700000000000L
    val events = Seq(
      EventsStream.Event(1, new Timestamp(t0), 7L, "click", 1.0),
      EventsStream.Event(2, new Timestamp(t0 + 60000), 7L, "view", 2.0),
      // > 30 min gap -> new session
      EventsStream.Event(3, new Timestamp(t0 + 45 * 60000), 7L, "click", 4.0),
      EventsStream.Event(4, new Timestamp(t0 + 46 * 60000), 8L, "click", 8.0)
    ).toDS()
    // run the same logic in batch shape by replaying through the state fn:
    // closed sessions are emitted when a newer event breaks the gap.
    val out = EventsStream.sessionize(events).collect()
    // only user 7's first session is closed within the batch (session 2 and
    // user 8's stay open in state until timeout)
    assert(out.length == 1)
    assert(out.head.user_id == 7L && out.head.n_events == 2 &&
      out.head.total_value == 3.0)
  }
}
