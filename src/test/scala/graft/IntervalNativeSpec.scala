package graft

import org.apache.spark.sql.functions._

import graft.operators.RangeJoin
import graft.plans.IntervalNative

/** Native keyed interval-overlap join: brute-force parity on
  * interleaved/nested/touching intervals, exactly-once pair emission
  * (including equal-`lo` ties), null/empty-interval semantics, and the
  * declared-distribution plan shape (one exchange per side, no
  * replication). The same checks cover the point form, a keyed
  * point-in-interval join with the point column as both left bounds. */
class IntervalNativeSpec extends SparkSpec {
  import spark.implicits._

  // interleaved + nested + touching + disjoint intervals on two keys —
  // active-set eviction and tie order both matter here
  private def lhs = Seq(
    ("a", 1L, 0.0, 10.0), ("a", 2L, 5.0, 6.0), ("a", 3L, 10.0, 20.0),
    ("a", 4L, 30.0, 40.0), ("a", 5L, 15.0, 15.0),
    ("b", 6L, 0.0, 100.0), ("b", 7L, 200.0, 300.0)
  ).toDF("k", "l_id", "l_lo", "l_hi")

  private def rhs = Seq(
    ("a", 10L, 6.0, 12.0), ("a", 11L, 0.0, 50.0), ("a", 12L, 20.0, 30.0),
    ("a", 13L, 41.0, 45.0), ("a", 14L, 15.0, 15.0),
    ("b", 15L, 90.0, 210.0), ("b", 16L, 301.0, 400.0)
  ).toDF("k", "r_id", "r_lo", "r_hi")

  private def run = IntervalNative.join(lhs, rhs, keys = Seq("k"),
    lLoCol = "l_lo", lHiCol = "l_hi", rLoCol = "r_lo", rHiCol = "r_hi",
    payload = Seq("r_id"))
    .select($"l_id", $"r_id").as[(Long, Long)].collect().toList

  test("matches a brute-force keyed overlap join, each pair exactly once") {
    val want = lhs.as("l").join(rhs.as("r"),
        $"l.k" === $"r.k" && $"l_lo" <= $"r_hi" && $"r_lo" <= $"l_hi")
      .select($"l_id", $"r_id").as[(Long, Long)].collect().toSet
    val gotList = run
    assert(gotList.toSet == want && want.nonEmpty)
    assert(gotList.size == want.size, s"duplicate pairs: $gotList")
    // spot checks: touching endpoints overlap (3-[10,20] vs 10-[6,12]);
    // the point-width pair at equal lo (5-[15,15] vs 14-[15,15]) emits
    // exactly once; cross-key never pairs; disjoint never pairs
    assert(gotList.toSet.contains((3L, 10L)))
    assert(gotList.count(_ == (5L, 14L)) == 1)
    assert(!gotList.toSet.contains((1L, 15L)), "'a' must not hit a 'b' row")
    assert(!gotList.toSet.contains((4L, 13L)), "[30,40] vs [41,45] disjoint")
  }

  test("parity with the encodable cell-replicated intervalOverlap on " +
    "per-key slices") {
    for (key <- Seq("a", "b")) {
      val enc = RangeJoin.intervalOverlap(
          lhs.filter($"k" === key), rhs.filter($"k" === key),
          "l_lo", "l_hi", "r_lo", "r_hi", bucketWidth = 17.0)
        .select($"l_id", $"r_id").as[(Long, Long)].collect().toSet
      val ids = lhs.filter($"k" === key).select($"l_id").as[Long]
        .collect().toSet
      val nat = run.toSet.filter(p => ids.contains(p._1))
      assert(nat == enc, s"key $key: native $nat vs encodable $enc")
    }
  }

  test("null bounds and EMPTY (lo > hi) intervals never match; null keys " +
    "group together") {
    val l = Seq((Option("a"), 1L, Option(0.0), Option(10.0)),
      (Option("a"), 2L, Option.empty[Double], Option(10.0)),
      (Option("a"), 3L, Option(9.0), Option(4.0)), // empty: never matches
      (Option.empty[String], 4L, Option(0.0), Option(10.0))
    ).toDF("k", "l_id", "l_lo", "l_hi")
    val r = Seq((Option("a"), 10L, Option(5.0), Option(15.0)),
      (Option("a"), 11L, Option(5.0), Option.empty[Double]),
      (Option.empty[String], 12L, Option(5.0), Option(15.0))
    ).toDF("k", "r_id", "r_lo", "r_hi")
    val got = IntervalNative.join(l, r, Seq("k"),
      "l_lo", "l_hi", "r_lo", "r_hi", Seq("r_id"))
      .select($"l_id", $"r_id").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 10L), (4L, 12L)),
      s"null/empty must drop, null keys must pair: $got")
  }

  test("plan: IntervalJoinExec with ONE hash exchange per side; a " +
    "pre-partitioned side adds no exchange; no replication operator") {
    val df = IntervalNative.join(lhs, rhs, Seq("k"),
      "l_lo", "l_hi", "r_lo", "r_hi", Seq("r_id"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("IntervalJoin "), plan) // IntervalJoinExec nodeName
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 2, plan)
    assert(!plan.toLowerCase.contains("explode"), plan)
    // a side already clustered on the key (aggregation output) reuses its
    // partitioning — only the other side exchanges for the join
    val pre = lhs.groupBy($"k").agg(min($"l_lo").as("l_lo"),
      max($"l_hi").as("l_hi"), max($"l_id").as("l_id"))
    val df2 = IntervalNative.join(pre, rhs, Seq("k"),
      "l_lo", "l_hi", "r_lo", "r_hi", Seq("r_id"))
    val plan2 = df2.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan2).size == 2,
      s"agg shuffle + right side only:\n$plan2")
    df2.collect() // and it executes
  }

  test("builder rejects mismatched bound types and payload collisions") {
    intercept[IllegalArgumentException] {
      IntervalNative.join(lhs,
        rhs.withColumn("r_lo", $"r_lo".cast("int")),
        Seq("k"), "l_lo", "l_hi", "r_lo", "r_hi", Seq("r_id"))
    }
    intercept[IllegalArgumentException] {
      IntervalNative.join(lhs, rhs.withColumnRenamed("r_id", "l_id"),
        Seq("k"), "l_lo", "l_hi", "r_lo", "r_hi", Seq("l_id"))
    }
  }

  test("randomized parity: 300x300 generated keyed intervals match the " +
    "brute-force join exactly, with no duplicate pairs") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val gen = Gen.listOfN(300, for {
      k <- Gen.oneOf("a", "b", "c")
      lo <- Gen.choose(0, 50)
      len <- Gen.choose(0, 10)
    } yield (k, lo.toDouble, (lo + len).toDouble))
    def df(seed: Long, idBase: Long, idName: String, loName: String,
           hiName: String) =
      gen.apply(Gen.Parameters.default, Seed(seed)).get.zipWithIndex
        .map { case ((k, lo, hi), i) => (k, idBase + i, lo, hi) }
        .toDF("k", idName, loName, hiName)
    val l = df(7L, 0L, "l_id", "l_lo", "l_hi")
    val r = df(11L, 1000L, "r_id", "r_lo", "r_hi")
    val gotList = IntervalNative.join(l, r, Seq("k"),
        "l_lo", "l_hi", "r_lo", "r_hi", Seq("r_id"))
      .select($"l_id", $"r_id").as[(Long, Long)].collect().toList
    val want = l.as("l").join(r.as("r"),
        $"l.k" === $"r.k" && $"l_lo" <= $"r_hi" && $"r_lo" <= $"l_hi")
      .select($"l_id", $"r_id").as[(Long, Long)].collect().toSet
    assert(gotList.toSet == want)
    assert(gotList.size == want.size,
      s"${gotList.size - want.size} duplicate pairs")
    assert(want.size > 1000, s"degenerate generator: ${want.size} pairs")
  }

  test("LEFT OUTER: brute-force parity on the fixture — matched pairs " +
    "identical to inner, unmatched left rows null-padded exactly once") {
    val got = IntervalNative.join(lhs, rhs, keys = Seq("k"),
        "l_lo", "l_hi", "r_lo", "r_hi", Seq("r_id"), outer = true)
      .select($"l_id", $"r_id").as[(Long, Option[Long])].collect().toList
    val want = lhs.as("l").join(rhs.as("r"),
        $"l.k" === $"r.k" && $"l_lo" <= $"r_hi" && $"r_lo" <= $"l_hi",
        "left_outer")
      .select($"l_id", $"r_id").as[(Long, Option[Long])].collect().toList
    assert(got.sorted == want.sorted)
    // l_id 7 ([200,300] on 'b') overlaps 15-[90,210]: matched, NOT padded;
    // every left id appears at least once
    assert(got.count(_._1 == 7L) == 1 && got.contains((7L, Some(15L))))
    assert(got.map(_._1).toSet == lhs.select($"l_id").as[Long].collect().toSet)
  }

  test("LEFT OUTER: degenerate left rows (null bound, empty interval) " +
    "and null keys are kept null-padded when unmatched") {
    val l = Seq((Option("a"), 1L, Option(0.0), Option(10.0)),
      (Option("a"), 2L, Option.empty[Double], Option(10.0)),
      (Option("a"), 3L, Option(9.0), Option(4.0)),
      (Option.empty[String], 4L, Option(20.0), Option(30.0))
    ).toDF("k", "l_id", "l_lo", "l_hi")
    val r = Seq((Option("a"), 10L, Option(5.0), Option(15.0))
    ).toDF("k", "r_id", "r_lo", "r_hi")
    val got = IntervalNative.join(l, r, Seq("k"),
        "l_lo", "l_hi", "r_lo", "r_hi", Seq("r_id"), outer = true)
      .select($"l_id", $"r_id").as[(Long, Option[Long])].collect().toSet
    assert(got == Set((1L, Some(10L)), (2L, None), (3L, None), (4L, None)),
      s"got $got")
  }

  test("LEFT OUTER randomized parity: 300x300 generated keyed intervals " +
    "match Spark's own left_outer join exactly") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val gen = Gen.listOfN(300, for {
      k <- Gen.oneOf("a", "b", "c")
      lo <- Gen.choose(0, 80) // sparser than the inner suite: more misses
      len <- Gen.choose(0, 6)
    } yield (k, lo.toDouble, (lo + len).toDouble))
    def df(seed: Long, idBase: Long, idName: String, loName: String,
           hiName: String) =
      gen.apply(Gen.Parameters.default, Seed(seed)).get.zipWithIndex
        .map { case ((k, lo, hi), i) => (k, idBase + i, lo, hi) }
        .toDF("k", idName, loName, hiName)
    val l = df(17L, 0L, "l_id", "l_lo", "l_hi")
    val r = df(23L, 1000L, "r_id", "r_lo", "r_hi")
      .filter($"r_id" % 3 === 0) // thin right side: dry-stream epochs
    val got = IntervalNative.join(l, r, Seq("k"),
        "l_lo", "l_hi", "r_lo", "r_hi", Seq("r_id"), outer = true)
      .select($"l_id", $"r_id").as[(Long, Option[Long])].collect().toList
    val want = l.as("l").join(r.as("r"),
        $"l.k" === $"r.k" && $"l_lo" <= $"r_hi" && $"r_lo" <= $"l_hi",
        "left_outer")
      .select($"l_id", $"r_id").as[(Long, Option[Long])].collect().toList
    assert(got.sorted == want.sorted)
    val padded = got.count(_._2.isEmpty)
    assert(padded > 10 && got.size > want.count(_._2.nonEmpty),
      s"degenerate generator: $padded padded of ${got.size}")
  }

  test("autoJoin: broadcast predicate plan for a small right side with " +
    "identical results (incl. empty-interval and null-key semantics), " +
    "native sweep under threshold -1") {
    val auto = IntervalNative.autoJoin(lhs, rhs, Seq("k"),
      "l_lo", "l_hi", "r_lo", "r_hi", Seq("r_id"))
    val plan = auto.queryExecution.executedPlan.toString
    assert(plan.contains("Broadcast") && !plan.contains("IntervalJoin "),
      plan)
    assert(auto.select($"l_id", $"r_id").as[(Long, Long)].collect().toSet
      == run.toSet)
    // degenerate/null semantics must match the sweep through the
    // predicate path (the l_lo <= l_hi conjunct is what enforces it)
    val l = Seq((Option("a"), 1L, Option(0.0), Option(10.0)),
      (Option("a"), 3L, Option(9.0), Option(4.0)), // inverted: never matches
      (Option.empty[String], 4L, Option(0.0), Option(10.0))
    ).toDF("k", "l_id", "l_lo", "l_hi")
    val r = Seq((Option("a"), 10L, Option(5.0), Option(15.0)),
      (Option.empty[String], 12L, Option(5.0), Option(15.0))
    ).toDF("k", "r_id", "r_lo", "r_hi")
    val gotNulls = IntervalNative.autoJoin(l, r, Seq("k"),
        "l_lo", "l_hi", "r_lo", "r_hi", Seq("r_id"))
      .select($"l_id", $"r_id").as[(Long, Long)].collect().toSet
    assert(gotNulls == Set((1L, 10L), (4L, 12L)), s"got $gotNulls")
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val native = IntervalNative.autoJoin(lhs, rhs, Seq("k"),
        "l_lo", "l_hi", "r_lo", "r_hi", Seq("r_id"))
      assert(native.queryExecution.executedPlan.toString
        .contains("IntervalJoin "))
      assert(native.select($"l_id", $"r_id").as[(Long, Long)].collect().toSet
        == run.toSet)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("autoJoin: SHARED bound names on both sides (the self-enrichment " +
    "shape) resolve in the broadcast arm — the crash was data-size-" +
    "dependent before every right column was renamed") {
    // both sides carry the SAME lo/hi names; small right side => the
    // broadcast predicate arm is selected, which used to leave col(\"lo\")
    // ambiguous between the join sides and throw only on SMALL inputs
    val l = Seq(("a", 1L, 0.0, 10.0), ("a", 2L, 20.0, 30.0))
      .toDF("k", "l_id", "lo", "hi")
    val r = Seq(("a", 10L, 5.0, 15.0)).toDF("k", "r_id", "lo", "hi")
    val got = IntervalNative.autoJoin(l, r, Seq("k"),
        "lo", "hi", "lo", "hi", Seq("r_id"))
      .select($"l_id", $"r_id").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 10L)), s"got $got")
    // and the point form with a left column named like a right bound
    val pts = Seq(("a", 1L, 7.0, 99.0), ("a", 2L, 50.0, 99.0))
      .toDF("k", "p_id", "v", "lo") // left 'lo' collides with right 'lo'
    val iv = Seq(("a", 20L, 5.0, 10.0)).toDF("k", "i_id", "lo", "hi")
    val gotR = IntervalNative.autoJoin(pts, iv, Seq("k"),
        "v", "v", "lo", "hi", Seq("i_id"))
      .select($"p_id", $"i_id").as[(Long, Long)].collect().toSet
    assert(gotR == Set((1L, 20L)), s"got $gotR")
  }

  test("long-typed bounds: exact comparison past 2^53") {
    val big = (1L << 53)
    val l = Seq(("a", 1L, big + 2L, big + 4L)).toDF("k", "l_id", "l_lo", "l_hi")
    // r10 touches exactly; r11's lo = big+5 would ROUND DOWN to big+4 as a
    // double (ties-to-even) and falsely touch — only exact long compare
    // keeps it out
    val r = Seq(("a", 10L, big + 4L, big + 8L), ("a", 11L, big + 5L, big + 9L))
      .toDF("k", "r_id", "r_lo", "r_hi")
    val got = IntervalNative.join(l, r, Seq("k"),
      "l_lo", "l_hi", "r_lo", "r_hi", Seq("r_id"))
      .select($"l_id", $"r_id").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 10L)),
      s"big+4 touches; big+5 must not (double would round it to big+4): $got")
  }

  // ----- point form: the point column as both left bounds -----

  private def points = Seq(
    ("a", 1L, 5.0), ("a", 2L, 12.0), ("a", 3L, 16.0), ("a", 4L, 25.0),
    ("a", 5L, 35.0), ("a", 6L, 95.0), ("a", 7L, 101.0),
    ("b", 8L, 12.0), ("b", 9L, 50.0)
  ).toDF("k", "pid", "p")

  // interleaved + nested + point-width intervals, plus a key with
  // different bands — the active-set eviction order matters here
  private def bands = Seq(
    ("a", 10L, 0.0, 100.0), ("a", 11L, 10.0, 20.0), ("a", 12L, 15.0, 90.0),
    ("a", 13L, 30.0, 40.0), ("a", 14L, 12.0, 12.0),
    ("b", 15L, 11.0, 13.0), ("b", 16L, 60.0, 70.0)
  ).toDF("k", "iid", "lo", "hi")

  private def pointPairs = IntervalNative.join(points, bands, keys = Seq("k"),
    lLoCol = "p", lHiCol = "p", rLoCol = "lo", rHiCol = "hi",
    payload = Seq("iid"))
    .select($"pid", $"iid").as[(Long, Long)].collect().toSet

  test("point form: matches a brute-force keyed inequality join") {
    val want = points.as("l").join(bands.as("r"),
        $"l.k" === $"r.k" && $"p" >= $"lo" && $"p" <= $"hi")
      .select($"pid", $"iid").as[(Long, Long)].collect().toSet
    val got = pointPairs
    assert(got == want && want.nonEmpty)
    // spot checks: nested interval matched, point-width interval matched,
    // cross-key band NOT matched
    assert(got.contains((2L, 14L)) && got.contains((3L, 11L)))
    assert(!got.contains((8L, 11L)), "'b' point must not hit an 'a' band")
  }

  test("point form: parity with the bucketed RangeJoin per key") {
    val got = pointPairs
    for (key <- Seq("a", "b")) {
      val enc = RangeJoin.pointInInterval(
          points.filter($"k" === key), bands.filter($"k" === key),
          pointCol = "p", loCol = "lo", hiCol = "hi", bucketWidth = 7.0)
        .select($"pid", $"iid").as[(Long, Long)].collect().toSet
      val ids = points.filter($"k" === key).select($"pid").as[Long]
        .collect().toSet
      val nat = got.filter(p => ids.contains(p._1))
      assert(nat == enc, s"key $key: native $nat vs encodable $enc")
    }
  }

  test("point form LEFT OUTER: unmatched and null points padded once") {
    val withNull = points.unionByName(
      Seq(("a", 20L)).toDF("k", "pid").withColumn("p", lit(null).cast("double")))
    val got = IntervalNative.join(withNull, bands, keys = Seq("k"),
        "p", "p", "lo", "hi", Seq("iid"), outer = true)
      .select($"pid", $"iid").as[(Long, Option[Long])].collect().toList
    val want = withNull.as("l").join(bands.as("r"),
        $"l.k" === $"r.k" && $"p" >= $"lo" && $"p" <= $"hi", "left_outer")
      .select($"pid", $"iid").as[(Long, Option[Long])].collect().toList
    assert(got.sorted == want.sorted)
    // pid 7 (101.0) is past every 'a' band: padded; null point padded
    assert(got.contains((7L, None)) && got.contains((20L, None)))
    assert(got.count(_._1 == 7L) == 1)
  }

  test("point form: a heavy key whose points all lie past every interval " +
    "pairs none (inner) and pads each point once (outer)") {
    val ivs = Seq(("h", 1L, 0.0, 10.0), ("h", 2L, 5.0, 20.0), ("g", 3L, 0.0, 1e9))
      .toDF("k", "iid", "lo", "hi")
    val pts = spark.range(5000).select(lit("h").as("k"), col("id").as("pid"),
      (col("id") + 100).cast("double").as("p"))
    def join(outer: Boolean) = IntervalNative.join(pts, ivs, keys = Seq("k"),
        "p", "p", "lo", "hi", Seq("iid"), outer = outer)
      .select($"pid", $"iid").as[(Long, Option[Long])].collect()
    assert(join(outer = false).isEmpty)
    val padded = join(outer = true)
    assert(padded.length == 5000 && padded.forall(_._2.isEmpty))
    assert(padded.map(_._1).toSet == (0L until 5000L).toSet)
  }

  test("point form autoJoin: broadcast when small, sweep at threshold -1") {
    val auto = IntervalNative.autoJoin(points, bands, Seq("k"),
      "p", "p", "lo", "hi", Seq("iid"))
    val planSmall = auto.queryExecution.executedPlan.toString
    assert(planSmall.contains("Broadcast") &&
      !planSmall.contains("IntervalJoin "), planSmall)
    val got = pointPairs
    assert(auto.select($"pid", $"iid").as[(Long, Long)].collect().toSet == got)
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val native = IntervalNative.autoJoin(points, bands, Seq("k"),
        "p", "p", "lo", "hi", Seq("iid"))
      assert(native.queryExecution.executedPlan.toString
        .contains("IntervalJoin "))
      assert(native.select($"pid", $"iid").as[(Long, Long)].collect().toSet
        == got)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    // outer parity through the broadcast path: null-padded rows match join()
    val autoOuter = IntervalNative.autoJoin(points, bands, Seq("k"),
        "p", "p", "lo", "hi", Seq("iid"), outer = true)
      .select($"pid", $"iid").as[(Long, Option[Long])].collect().toList
    val nativeOuter = IntervalNative.join(points, bands, Seq("k"),
        "p", "p", "lo", "hi", Seq("iid"), outer = true)
      .select($"pid", $"iid").as[(Long, Option[Long])].collect().toList
    assert(autoOuter.sorted == nativeOuter.sorted)
  }

  test("point form: null points and bounds never match; null keys pair") {
    val p = Seq((Option("a"), 1L, Option(12.0)), (Option("a"), 2L, None),
      (Option.empty[String], 3L, Option(12.0)))
      .toDF("k", "pid", "p")
    val i = Seq((Option("a"), 10L, Option(10.0), Option(20.0)),
      (Option("a"), 11L, Option.empty[Double], Option(20.0)),
      (Option.empty[String], 12L, Option(10.0), Option(20.0)))
      .toDF("k", "iid", "lo", "hi")
    val r = IntervalNative.join(p, i, Seq("k"), "p", "p", "lo", "hi",
        Seq("iid"))
      .select($"pid", $"iid").as[(Long, Long)].collect().toSet
    assert(r == Set((1L, 10L), (3L, 12L)),
      s"expected null-point and null-lo to drop, null keys to pair: $r")
  }

  test("point form plan: IntervalJoin, one hash exchange per side") {
    val df = IntervalNative.join(points, bands, Seq("k"),
      "p", "p", "lo", "hi", Seq("iid"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("IntervalJoin "), plan)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 2, plan)
    assert(!plan.toLowerCase.contains("explode"), plan)
    // an aggregation output already clustered on the key joins with only
    // the interval side exchanged
    val preParts = points.groupBy($"k").agg(max($"p").as("p"))
    val df2 = IntervalNative.join(preParts, bands, Seq("k"),
      "p", "p", "lo", "hi", Seq("iid"))
    val plan2 = df2.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan2).size == 2,
      s"agg shuffle + right side only — the left side must reuse the " +
        s"aggregation's partitioning:\n$plan2")
    df2.collect() // and it executes
  }

  test("point form: builder rejects mixed bound types, payload clashes") {
    intercept[IllegalArgumentException] {
      IntervalNative.join(points, bands.withColumn("lo", $"lo".cast("int")),
        Seq("k"), "p", "p", "lo", "hi", Seq("iid"))
    }
    intercept[IllegalArgumentException] {
      IntervalNative.join(points, bands.withColumnRenamed("iid", "pid"),
        Seq("k"), "p", "p", "lo", "hi", Seq("pid"))
    }
  }

  test("point form randomized parity with Spark's inequality join") {
    // null keys, points and bounds, and inverted (lo > hi) intervals
    val rnd = new scala.util.Random(42L)
    def maybe[T](v: T): Option[T] = if (rnd.nextInt(20) == 0) None else Some(v)
    val keys = Seq("a", "b", "c", "d")
    def key = maybe(keys(rnd.nextInt(keys.size)))
    val pts = (0 until 3000).map(i =>
      (key, i.toLong, maybe(rnd.nextInt(1000).toDouble)))
      .toDF("k", "pid", "p")
    val ivs = (0 until 400).map { i =>
      val lo = rnd.nextInt(1000)
      (key, 10000L + i, maybe(lo.toDouble),
        maybe((lo + rnd.nextInt(100) - 20).toDouble)) // len < 0: inverted
    }.toDF("k", "iid", "lo", "hi")
    for (tpe <- Seq("double", "long"); outer <- Seq(false, true);
         auto <- Seq(false, true)) {
      val l = pts.withColumn("p", $"p".cast(tpe))
      val r = ivs.withColumn("lo", $"lo".cast(tpe)).withColumn("hi", $"hi".cast(tpe))
      val build = if (auto) IntervalNative.autoJoin _ else IntervalNative.join _
      val got = build(l, r, Seq("k"), "p", "p", "lo", "hi", Seq("iid"), outer)
        .select($"pid", $"iid").as[(Long, Option[Long])].collect().toList
      val want = l.as("l").join(r.as("r"),
          $"l.k" <=> $"r.k" && $"p" >= $"lo" && $"p" <= $"hi",
          if (outer) "left_outer" else "inner")
        .select($"pid", $"iid").as[(Long, Option[Long])].collect().toList
      val tag = s"$tpe outer=$outer auto=$auto"
      assert(got.size == want.size, s"$tag: ${got.size} rows vs ${want.size}")
      assert(got.sorted == want.sorted, tag)
      assert(want.count(_._2.nonEmpty) > 5000, s"$tag: degenerate generator")
    }
  }
}
