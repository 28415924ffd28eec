package graft

import org.apache.spark.sql.functions._

import graft.operators.{Drift, Profile}

/** One-scan profile: exact nulls/distincts/min/max per column. */
class ProfileSpec extends SparkSpec {
  import spark.implicits._

  test("profile counts nulls and distincts exactly, min/max as strings") {
    val df = Seq(
      (Some(1L), "a"), (Some(1L), "b"), (None, "b"), (Some(3L), "c")
    ).toDF("k", "s")
    val got = Profile.profile(df, Seq("k", "s")).collect()
      .map(r => r.getString(0) -> r).toMap
    val k = got("k")
    assert(k.getLong(1) == 4 && k.getLong(2) == 1 && k.getLong(3) == 2)
    assert(k.getString(4) == "1" && k.getString(5) == "3")
    val s = got("s")
    assert(s.getLong(2) == 0 && s.getLong(3) == 3)
    assert(s.getString(4) == "a" && s.getString(5) == "c")
  }

  test("no Expand in the plan: per-column branches, not fused distinct-aggs") {
    val df = Seq((1L, "a")).toDF("k", "s")
    val plan = Profile.profile(df, Seq("k", "s")).queryExecution.executedPlan.toString
    // a fused multi-distinct aggregation would plan an Expand that
    // duplicates every row (cols+1)x before the shuffle — the measured
    // 6x slowdown this operator's shape exists to avoid
    assert(!plan.contains("Expand"), plan)
  }

  private def auditDf = Seq(
    // prices chosen so digits, bands, and bins all spread; cat × band
    // grid has an absent cell (B never 'high'); u3 is the heavy hitter
    ("1-U", 1L, 101300.70), ("1-U", 1L, 250000.25), ("2-B", 2L, 99999.99),
    ("2-B", 2L, 12345.67), ("1-U", 3L, 450000.00), ("1-U", 3L, 333333.33),
    ("2-B", 3L, 1013.70), ("1-U", 3L, 222222.22), ("1-U", 3L, 88888.88)
  ).toDF("cat", "cust", "price")

  test("profileAll: every section agrees with independently computed values") {
    val rows = Profile.profileAll(auditDf, "price", "cat", "cust")
      .collect()
      .map(r => (r.getString(0), Option(r.getString(1)).orNull,
        Option(r.getString(2)).orNull, r.getLong(3), r.getLong(4)))
    def sec(s: String) = rows.filter(_._1 == s).toList
    // stats: exact cents carrier
    val cents = auditDf.collect().map(r => math.floor(r.getDouble(2) * 100 + 0.5).toLong)
    val st = sec("stats").map(r => r._2 -> r._5).toMap
    assert(st("count") == 9L && st("sum_cents") == cents.sum)
    assert(st("min_cents") == cents.min && st("max_cents") == cents.max)
    // benford: all nine digits present in the grid, observed counts right
    val bf = sec("benford")
    assert(bf.size == 9 && bf.map(_._4).sum == 9L)
    val firstDigits = auditDf.collect()
      .map(r => math.floor(r.getDouble(2)).toLong.toString.take(1))
    assert(bf.filter(_._2 == "1").head._4 ==
      firstDigits.count(_ == "1").toLong)
    // benford_stat chi2 = sum of the per-digit terms
    assert(sec("benford_stat").head._5 == bf.map(_._5).sum)
    // chi2 grid completed: 2 cats x 3 bands = 6 cells incl. the zero cell
    val c2 = sec("chi2")
    assert(c2.size == 6 && c2.exists(r => r._4 == 0L))
    assert(c2.map(_._4).sum == 9L)
    assert(sec("chi2_stat").find(_._2 == "dof").get._5 == 2L)
    assert(sec("chi2_stat").find(_._2 == "chi2_micro").get._5 ==
      c2.map(_._5).sum)
    // cramers: v2 = chi2 div (n * (min(nr,nc)-1))
    assert(sec("cramers").head._5 == c2.map(_._5).sum / 9L)
    // hist: fixed-width bins, counts add up, metric = bin lo in cents
    val h = sec("hist")
    assert(h.map(_._4).sum == 9L)
    assert(h.forall(r => r._5 == r._2.toLong * 5000000L))
    assert(h.find(_._2 == "0").get._4 == 2L) // 12345.67, 1013.70
    // heavy: cust 3 (5 rows) ranks first, then 1 (2) vs 2 (2) by key
    assert(sec("heavy").sortBy(_._5) ==
      List(("heavy", "3", null, 5L, 1L), ("heavy", "1", null, 2L, 2L),
        ("heavy", "2", null, 2L, 3L)))
  }

  test("profileAll cells: ONE scan of the input feeds all five grouping " +
    "sets (Expand of bounded-cardinality partial aggs, single exchange)") {
    val tmp = java.nio.file.Files.createTempDirectory("profall").toString
    auditDf.write.mode("overwrite").parquet(tmp)
    val pq = spark.read.parquet(tmp)
    val plan = Profile.profileCells(pq, "price", "cat", "cust",
      100000.0, 300000.0, 50000.0).queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).size == 1, plan)
    assert(plan.contains("Expand"), plan) // the grouping-sets expansion
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
  }

  private def profileRows(df: org.apache.spark.sql.DataFrame, topK: Int = 5) =
    Profile.profileAll(df, "price", "cat", "cust", topK = topK).collect().toList
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        Option.unless(r.isNullAt(3))(r.getLong(3)),
        Option.unless(r.isNullAt(4))(r.getLong(4))))

  test("profileAll on an empty input gives the oracle's 17 rows, stats " +
    "included (count 0, null cents)") {
    val expected =
      (1 to 9).map(d => ("benford", d.toString, null, Some(0L), None)) ++ Seq(
        ("benford_stat", "chi2_micro", null, Some(0L), None),
        ("chi2_stat", "chi2_micro", null, None, None),
        ("chi2_stat", "dof", null, None, Some(1L)),
        ("cramers", "v2_micro", null, None, None),
        ("stats", "count", null, Some(0L), Some(0L)),
        ("stats", "max_cents", null, Some(0L), None),
        ("stats", "min_cents", null, Some(0L), None),
        ("stats", "sum_cents", null, Some(0L), None))
    assert(profileRows(auditDf.filter(lit(false))) == expected)
    // every price null: the same empty profile
    assert(profileRows(auditDf.withColumn("price",
      lit(null).cast("double"))) == expected)
  }

  test("profileAll: a Benford base of 0 has null terms; one value band " +
    "has no Cramér's V") {
    // every price < 1: no significant leading digit, and every row is 'low'
    val rows = profileRows(auditDf.withColumn("price", col("price") / 1e6))
    def sec(s: String) = rows.filter(_._1 == s)
    assert(sec("benford") ==
      (1 to 9).map(d => ("benford", d.toString, null, Some(0L), None)))
    assert(sec("benford_stat") ==
      List(("benford_stat", "chi2_micro", null, Some(0L), None)))
    assert(sec("chi2") == List(("chi2", "1-U", "low", Some(6L), Some(0L)),
      ("chi2", "2-B", "low", Some(3L), Some(0L))))
    assert(sec("chi2_stat") ==
      List(("chi2_stat", "chi2_micro", null, Some(9L), Some(0L)),
        ("chi2_stat", "dof", null, Some(9L), Some(0L))))
    assert(sec("cramers") == List(("cramers", "v2_micro", null, Some(9L), None)))
  }

  test("profileAll ranks heavy hitters in Spark's string order (UTF-8 " +
    "bytes), not UTF-16 code units") {
    // U+FB01 sorts before U+1F600 in UTF-8 bytes (EF.. < F0..), after it
    // in UTF-16 (FB01 > D83D)
    val df = Seq(("a", "\uFB01", 1.0), ("a", "\uD83D\uDE00", 2.0),
      ("b", "z", 3.0), ("b", "\uFB01", 5.0), ("a", "\uD83D\uDE00", 7.0))
      .toDF("cat", "cust", "price")
    def heavy(k: Int) = profileRows(df, k).filter(_._1 == "heavy")
      .map(r => (r._2, r._4.get, r._5.get)).sortBy(_._3)
    assert(heavy(5) == List(("\uFB01", 2L, 1L), ("\uD83D\uDE00", 2L, 2L),
      ("z", 1L, 3L)))
    assert(heavy(2) == heavy(5).take(2))
  }

  test("profileAll fails loudly past the contingency cell bound") {
    val wide = spark.range(Drift.MaxCells + 1)
      .select(col("id").cast("string").as("cat"), col("id").as("cust"),
        lit(5.0).as("price"))
    val e = intercept[Exception](profileRows(wide))
    assert(e.getMessage.contains(s"more than ${Drift.MaxCells}"), e.getMessage)
  }

  test("profile_all, a_chi2_test and a_cramers_v finish on the driver: " +
    "one aggregate each, so at most 3, 2 and 2 jobs") {
    // the two tests' one aggregate is all they run: reading `events`
    // starts no schema-inference job
    for ((gate, most) <- Seq("profile_all" -> 3, "a_chi2_test" -> 1,
        "a_cramers_v" -> 1)) {
      val q = SparkEntry.queries(gate)
      q(spark, sf0001).collect() // warm
      val (rows, jobs) = JobCount(spark)(q(spark, sf0001).collect())
      assert(rows.nonEmpty)
      assert(jobs <= most, s"$gate ran $jobs jobs")
    }
  }
}
