package graft

import org.apache.spark.sql.functions._

import graft.operators.Drift

/** Closed-form checks for the exact two-sample KS test. */
class DriftSpec extends SparkSpec {
  import spark.implicits._

  test("KS closed form: A={1,2,3} vs B={3,4,5} -> D = 2/3, not rejected " +
    "at these tiny n") {
    val df = Seq((1.0, true), (2.0, true), (3.0, true),
      (3.0, false), (4.0, false), (5.0, false)).toDF("v", "a")
    val r = Drift.ksTest(df, col("v"), col("a")).collect().head
    assert(r.getAs[Long]("n1") == 3 && r.getAs[Long]("n2") == 3)
    // max |c1*n2 - c2*n1|: at v=2 -> |2*3-0| = 6 (also 6 at v=3); den 9
    assert(r.getAs[Long]("ks_num") == 6)
    assert(r.getAs[Double]("ks_d") == 6.0 / 9.0)
    assert(!r.getAs[Boolean]("reject_h0"))
  }

  test("identical samples -> D = 0; disjoint samples -> D = 1 and " +
    "rejection at moderate n") {
    // pairs (2k, 2k+1) share a value with opposite flags -> the two
    // samples are literally the same multiset
    val same = Seq.tabulate(40)(i => ((i / 2 % 7).toDouble, i % 2 == 0))
      .toDF("v", "a")
    val r0 = Drift.ksTest(same, col("v"), col("a")).collect().head
    assert(r0.getAs[Long]("ks_num") == 0 && r0.getAs[Double]("ks_d") == 0.0)
    assert(!r0.getAs[Boolean]("reject_h0"))

    val disjoint = (Seq.tabulate(30)(i => (i.toDouble, true)) ++
      Seq.tabulate(30)(i => (100.0 + i, false))).toDF("v", "a")
    val r1 = Drift.ksTest(disjoint, col("v"), col("a")).collect().head
    assert(r1.getAs[Double]("ks_d") == 1.0)
    assert(r1.getAs[Boolean]("reject_h0"))
  }

  test("the 2^53 exactness guard actually fires — it rides the emitted " +
    "ks_num column, so Catalyst cannot prune it away") {
    // the guard expression itself, on counts too large to materialize as
    // real rows (n1*n2 = 4e16 > 2^53); below the bound it passes through
    val over = Seq((200000000L, 200000000L, 5L)).toDF("n1", "n2", "ks_num")
    val e = intercept[Exception] {
      over.select(Drift.guardedKsNum(col("n1"), col("n2"), col("ks_num"))
        .as("ks_num")).collect()
    }
    assert(e.getMessage.contains("2^53"), s"wrong error: ${e.getMessage}")
    val under = Seq((1000L, 1000L, 5L)).toDF("n1", "n2", "ks_num")
    assert(under.select(Drift.guardedKsNum(col("n1"), col("n2"),
      col("ks_num")).as("ks_num")).collect().head.getLong(0) == 5L)
  }

  test("chi2 closed form on a 2x2 table: O=[[10,20],[20,10]] -> per-cell " +
    "term 1666666 micro (floored), chi2 6666664, dof 1") {
    val rows = Seq.fill(10)(("r1", "a")) ++ Seq.fill(20)(("r1", "b")) ++
      Seq.fill(20)(("r2", "a")) ++ Seq.fill(10)(("r2", "b"))
    val df = rows.toDF("rk", "ck")
    val got = Drift.chi2Test(df, col("rk"), col("ck"), critMicro = 3841459L)
      .orderBy(col("rk"), col("ck")).collect()
    assert(got.length == 4)
    // every E = 30*30/60 = 15 -> 15000000 micro; every term
    // (O*60 - 900)^2 * 1e6 div (60*900) = 9e10 div 54000 = 1666666
    got.foreach { r =>
      assert(r.getAs[Long]("e_micro") == 15000000L)
      assert(r.getAs[Long]("term_micro") == 1666666L)
      assert(r.getAs[Long]("chi2_micro") == 6666664L)
      assert(r.getAs[Long]("dof") == 1L)
      assert(r.getAs[Boolean]("reject_h0")) // 6.67 > 3.84 = chi2(.05, 1)
    }
  }

  test("chi2: proportional table -> statistic exactly 0; absent grid " +
    "cells are completed as real zero observations") {
    val prop = (Seq.fill(10)(("r1", "a")) ++ Seq.fill(20)(("r1", "b")) ++
      Seq.fill(20)(("r2", "a")) ++ Seq.fill(40)(("r2", "b"))).toDF("rk", "ck")
    val g0 = Drift.chi2Test(prop, col("rk"), col("ck"), 3841459L).collect()
    assert(g0.forall(_.getAs[Long]("chi2_micro") == 0L))
    assert(g0.forall(!_.getAs[Boolean]("reject_h0")))
    // r2 never observed with b: the (r2, b) cell must exist with o=0
    val sparse = (Seq.fill(5)(("r1", "a")) ++ Seq.fill(5)(("r1", "b")) ++
      Seq.fill(5)(("r2", "a"))).toDF("rk", "ck")
    val g1 = Drift.chi2Test(sparse, col("rk"), col("ck"), 3841459L)
      .where(col("rk") === "r2" && col("ck") === "b").collect()
    assert(g1.length == 1 && g1.head.getAs[Long]("o") == 0L)
    assert(g1.head.getAs[Long]("term_micro") > 0L)
  }

  test("Cramér's V closed forms: perfect association -> exactly 1.0; the " +
    "2x2 example -> v2 = chi2_micro div n") {
    val perfect = (Seq.fill(10)(("r1", "a")) ++ Seq.fill(10)(("r2", "b")))
      .toDF("rk", "ck")
    val p = Drift.cramersV(perfect, col("rk"), col("ck")).collect().head
    assert(p.getAs[Long]("chi2_micro") == 20000000L) // chi2 = n = 20
    assert(p.getAs[Long]("v2_micro") == 1000000L)
    assert(p.getAs[Double]("v") == 1.0)
    val mixed = (Seq.fill(10)(("r1", "a")) ++ Seq.fill(20)(("r1", "b")) ++
      Seq.fill(20)(("r2", "a")) ++ Seq.fill(10)(("r2", "b"))).toDF("rk", "ck")
    val m = Drift.cramersV(mixed, col("rk"), col("ck")).collect().head
    assert(m.getAs[Long]("n") == 60L && m.getAs[Long]("nr") == 2L)
    // chi2_micro 6666664 (the chi2 spec's table), min(r,c)-1 = 1
    assert(m.getAs[Long]("v2_micro") == 6666664L / 60L)
    assert(m.getAs[Double]("v") ==
      math.sqrt((6666664L / 60L).toDouble / 1e6))
  }

  test("contingency kernel: grid completion, terms and totals equal the " +
    "engine's distributed chi2 on a 2x3 table with two absent cells") {
    val t = Drift.contingency(Seq(("1-U", 1L, 2L), ("1-U", 3L, 4L),
      ("2-B", 2L, 2L), ("2-B", 3L, 1L)), "test")
    assert(t.cells.map(c => (c.rk, c.ck, c.o, c.eMicro, c.termMicro)).toSet ==
      Set(("1-U", 1L, 2L, 1333333L, 333333L), ("1-U", 2L, 0L, 1333333L, 1333333L),
        ("1-U", 3L, 4L, 3333333L, 133333L), ("2-B", 1L, 0L, 666666L, 666666L),
        ("2-B", 2L, 2L, 666666L, 2666666L), ("2-B", 3L, 1L, 1666666L, 266666L)))
    assert((t.n, t.nr, t.nc, t.chi2Micro, t.dof) == (9L, 2L, 3L, 5399997L, 2L))
    assert(t.v2Micro == Some(599999L))
  }

  test("contingency kernel: an empty grid; chi2Test gives no row and " +
    "cramersV (null, 0, 0, null, null, null)") {
    val t = Drift.contingency(Nil, "test")
    assert(t.cells.isEmpty && (t.n, t.nr, t.nc, t.chi2Micro) == (0L, 0L, 0L, 0L))
    val empty = Seq(("r", "c")).toDF("rk", "ck").filter(lit(false))
    val chi2 = Drift.chi2Test(empty, col("rk"), col("ck"), 3841459L)
    assert(chi2.columns.toSeq == Seq("rk", "ck", "o", "e_micro", "term_micro",
      "chi2_micro", "dof", "reject_h0"))
    assert(chi2.collect().isEmpty)
    val v = Drift.cramersV(empty, col("rk"), col("ck")).collect().toSeq
    assert(v.map(_.toSeq) == Seq(Seq(null, 0L, 0L, null, null, null)))
  }

  test("contingency kernel: a single row category has chi2 0 and no " +
    "Cramér's V") {
    val t = Drift.contingency(Seq(("X", 1L, 2L), ("X", 2L, 2L), ("X", 3L, 5L)),
      "test")
    assert(t.cells.map(c => (c.eMicro, c.termMicro)) ==
      Seq((2000000L, 0L), (2000000L, 0L), (5000000L, 0L)))
    assert((t.chi2Micro, t.dof) == (0L, 0L))
    assert(t.v2Micro.isEmpty)
    val df = (Seq.fill(2)(("X", 1L)) ++ Seq.fill(2)(("X", 2L)) ++
      Seq.fill(5)(("X", 3L))).toDF("rk", "ck")
    assert(Drift.cramersV(df, col("rk"), col("ck")).collect().head.toSeq ==
      Seq(9L, 1L, 3L, 0L, null, null))
    // NaN keys are one category, as in Spark's grouping
    val nan = Seq((Double.NaN, 1L), (Double.NaN, 2L), (Double.NaN, 2L))
      .toDF("rk", "ck")
    assert(Drift.cramersV(nan, col("rk"), col("ck")).collect().head.toSeq ==
      Seq(3L, 1L, 2L, 0L, null, null))
  }

  test("contingency kernel: n past 10^7 and a table past the cell bound " +
    "both fail loudly") {
    val big = intercept[IllegalArgumentException](
      Drift.contingency(Seq(("a", "x", 10000001L)), "test"))
    assert(big.getMessage.contains("n exceeds 10^7"), big.getMessage)
    val wide = spark.range(Drift.MaxCells + 1)
      .select(col("id").as("rk"), lit("a").as("ck"))
    val e = intercept[Exception](
      Drift.chi2Test(wide, col("rk"), col("ck"), 0L))
    assert(e.getMessage.contains(s"more than ${Drift.MaxCells}"), e.getMessage)
  }

  test("Mann-Whitney closed forms: disjoint samples pin U to an extreme; " +
    "midrank ties land on the half-unit lattice") {
    // A={1,2,3} all below B={4,5,6}: U1 = 0, U2 = 9
    val dj = Seq((1.0, true), (2.0, true), (3.0, true),
      (4.0, false), (5.0, false), (6.0, false)).toDF("v", "a")
    val r = Drift.mannWhitneyU(dj, col("v"), col("a")).collect().head
    assert(r.getAs[Long]("n1") == 3 && r.getAs[Long]("n2") == 3)
    assert(r.getAs[Long]("u1_2") == 0L && r.getAs[Long]("u2_2") == 18L)
    // the completely separated extreme: z = -4.5/sqrt(5.25) = -1.9640...,
    // a hair past the 1.96 normal bound even at n=3+3
    assert(r.getAs[Boolean]("reject_h0"))
    // A={1,2}, B={2,3}: midranks 1, 2.5, 2.5, 4 -> R1 = 3.5, U1 = 0.5
    val tied = Seq((1.0, true), (2.0, true), (2.0, false), (3.0, false))
      .toDF("v", "a")
    val t = Drift.mannWhitneyU(tied, col("v"), col("a")).collect().head
    assert(t.getAs[Long]("u1_2") == 1L && t.getAs[Long]("u2_2") == 7L)
  }

  test("Mann-Whitney z rejects an obvious location shift at moderate n") {
    val shifted = (Seq.tabulate(50)(i => (i.toDouble, true)) ++
      Seq.tabulate(50)(i => (i + 40.0, false))).toDF("v", "a")
    val r = Drift.mannWhitneyU(shifted, col("v"), col("a")).collect().head
    assert(r.getAs[Boolean]("reject_h0"))
    assert(r.getAs[Double]("z") < -1.96) // A sits below B
  }

  test("ties across samples at the same value count into both ECDFs at " +
    "that value (no split-point double counting)") {
    // A = {1,1,2}, B = {1,2,2}: gaps at 1: |2*3-1*3|=3; at 2: 0
    val df = Seq((1.0, true), (1.0, true), (2.0, true),
      (1.0, false), (2.0, false), (2.0, false)).toDF("v", "a")
    val r = Drift.ksTest(df, col("v"), col("a")).collect().head
    assert(r.getAs[Long]("ks_num") == 3)
    assert(r.getAs[Double]("ks_d") == 3.0 / 9.0)
  }

  test("poisson bootstrap: one row per resample, exact mean arithmetic, " +
    "unit-mean weights, and layout invariance") {
    import spark.implicits._
    val rows = (1L to 2000L).map(i => (i, i % 100)).toDF("k", "v")
    val got = Drift.poissonBootstrapMeans(rows, "k", "v", b = 32).collect()
    assert(got.length == 32)
    assert(got.map(_.getAs[Long]("b")).toSeq == (0L until 32L))
    got.foreach { r =>
      val (n, sv, m) = (r.getAs[Long]("n_eff"), r.getAs[Long]("sum_v"),
        r.getAs[Double]("mean"))
      assert(m == sv.toDouble / n.toDouble) // the only float op
      // Poisson(1) weights: n_eff concentrates near n (sd ~ sqrt(n))
      assert(math.abs(n - 2000L) < 250, s"n_eff $n far from 2000")
      // resample means hug the true mean 49.5 (sd ~ 1)
      assert(math.abs(m - 49.5) < 6.0, s"mean $m")
    }
    val re = Drift.poissonBootstrapMeans(rows.repartition(7), "k", "v", 32)
      .collect().map(_.toSeq)
    assert(re.toSeq == got.map(_.toSeq).toSeq)
  }

  test("spearman closed forms: perfect monotone -> rho 1, reversed -> -1, " +
    "ties via exact doubled midranks, constant column -> NULL") {
    import spark.implicits._
    val up = Seq.tabulate(10)(i => ("a", i.toDouble, (i * 2 + 1).toDouble))
      .toDF("g", "x", "y")
    val r1 = Drift.spearman(up, col("g"), col("x"), col("y")).collect().head
    assert(r1.getAs[Double]("rho") == 1.0)
    val down = Seq.tabulate(10)(i => ("a", i.toDouble, (100 - i).toDouble))
      .toDF("g", "x", "y")
    val r2 = Drift.spearman(down, col("g"), col("x"), col("y")).collect().head
    assert(r2.getAs[Double]("rho") == -1.0)
    // ties: x = (1,2,2,3), y = (1,2,3,4). doubled midranks u = 2,5,5,8
    // (the tie class 2,2 gets 2*rank_min + cnt - 1 = 5 = twice midrank
    // 2.5); v = 2,4,6,8. suv = 4+20+30+64 = 118, suu = 4+25+25+64 = 118,
    // svv = 4+16+36+64 = 120
    val tied = Seq(("a", 1.0, 1.0), ("a", 2.0, 2.0), ("a", 2.0, 3.0),
      ("a", 3.0, 4.0)).toDF("g", "x", "y")
    val r3 = Drift.spearman(tied, col("g"), col("x"), col("y")).collect().head
    assert(r3.getAs[Long]("su") == 20 && r3.getAs[Long]("suv") == 118)
    assert(r3.getAs[Long]("suu") == 118 && r3.getAs[Long]("svv") == 120)
    val expect = (4.0 * 118 - 20.0 * 20) /
      (math.sqrt(4.0 * 118 - 400) * math.sqrt(4.0 * 120 - 400))
    assert(r3.getAs[Double]("rho") == expect)
    // constant y: den 0 -> NULL, never NaN
    val const = Seq(("a", 1.0, 5.0), ("a", 2.0, 5.0), ("a", 3.0, 5.0))
      .toDF("g", "x", "y")
    val r4 = Drift.spearman(const, col("g"), col("x"), col("y")).collect().head
    assert(r4.isNullAt(r4.fieldIndex("rho")))
  }

  test("spearman groups are independent and layout-invariant") {
    import spark.implicits._
    val two = (Seq.tabulate(20)(i => ("up", i.toDouble, i.toDouble)) ++
      Seq.tabulate(20)(i => ("dn", i.toDouble, -i.toDouble))).toDF("g", "x", "y")
    val got = Drift.spearman(two, col("g"), col("x"), col("y"))
      .orderBy(col("g")).collect()
    assert(got.map(r => r.getAs[String]("g") -> r.getAs[Double]("rho")).toSeq
      == Seq("dn" -> -1.0, "up" -> 1.0))
    val re = Drift.spearman(two.repartition(7), col("g"), col("x"), col("y"))
      .orderBy(col("g")).collect()
    assert(re.map(_.toSeq).toSeq == got.map(_.toSeq).toSeq)
  }

  test("spearman property: engine rho equals an independent double-midrank " +
    "Pearson reference within 1e-12 on random tied datasets") {
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    (1 to 5).foreach { trial =>
      // small value domains force heavy ties in both columns
      val rows = Seq.fill(300)(("g" + rnd.nextInt(3),
        rnd.nextInt(8).toDouble, rnd.nextInt(6).toDouble))
      val got = Drift.spearman(rows.toDF("g", "x", "y"),
          col("g"), col("x"), col("y"))
        .collect().map(r => r.getAs[String]("g") ->
          (r.getAs[Long]("n"), r.getAs[Double]("rho"))).toMap
      // reference: classic midranks as doubles, textbook Pearson
      def midranks(vs: Seq[Double]): Seq[Double] = {
        val sorted = vs.sorted
        val first = sorted.zipWithIndex.groupBy(_._1)
          .map { case (v, g) => v -> (g.map(_._2).min + 1) }
        val cnt = vs.groupBy(identity).map { case (v, g) => v -> g.size }
        vs.map(v => first(v) + (cnt(v) - 1) / 2.0)
      }
      rows.groupBy(_._1).foreach { case (g, grp) =>
        val (rx, ry) = (midranks(grp.map(_._2)), midranks(grp.map(_._3)))
        val n = grp.size.toDouble
        val (mx, my) = (rx.sum / n, ry.sum / n)
        val cov = rx.zip(ry).map { case (a, b) => (a - mx) * (b - my) }.sum
        val sdx = math.sqrt(rx.map(a => (a - mx) * (a - mx)).sum)
        val sdy = math.sqrt(ry.map(b => (b - my) * (b - my)).sum)
        val expect = cov / (sdx * sdy)
        val (gn, rho) = got(g)
        assert(gn == grp.size)
        assert(math.abs(rho - expect) < 1e-12,
          s"trial $trial group $g: engine $rho vs reference $expect")
      }
    }
  }

  /** Independent Kruskal-Wallis reference: doubled midranks by hand, the
    * SAME per-group floor quantization t_g = su² / n_g, the same IEEE
    * trees — what the engine must reproduce bit-for-bit. */
  private def kwReference(rows: Seq[(String, Double)])
      : (Long, Long, Double, Option[Double]) = {
    val n = rows.size.toLong
    val byV = rows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val sortedV = byV.keys.toSeq.sorted
    val cum = sortedV.scanLeft(0L)((a, v) => a + byV(v)).tail
    val rank2 = sortedV.zip(cum).map { case (v, c) =>
      v -> (2 * c - byV(v) + 1)
    }.toMap
    val perG = rows.groupBy(_._1).map { case (g, grp) =>
      val su = grp.map(r => rank2(r._2)).sum
      val ng = grp.size.toLong
      (g, ng, (BigInt(su) * BigInt(su) / ng).toLong)
    }
    val sumT = perG.map(_._3).sum
    val tie = byV.values.map(t => t * t * t - t).sum
    val h = 3.0 * sumT.toDouble / (n * (n + 1)).toDouble -
      3.0 * (n + 1).toDouble
    val n3n = n * n * n - n
    val hc = if (n > 1 && tie < n3n)
      Some(h / (1.0 - tie.toDouble / n3n.toDouble)) else None
    (n, perG.size.toLong, h, hc)
  }

  test("kruskal-wallis: identical groups score ~0, separated groups " +
    "score high; all-tied values NULL the corrected stat; the engine " +
    "matches the independent reference bit-for-bit") {
    def run(rows: Seq[(String, Double)]) =
      Drift.kruskalWallis(rows.toDF("g", "value"),
        col("g"), col("value")).collect().head
    // three cleanly separated groups: near the (k-1)-free maximum
    val sep = Seq("a" -> 1.0, "a" -> 2.0, "a" -> 3.0, "b" -> 4.0,
      "b" -> 5.0, "b" -> 6.0, "c" -> 7.0, "c" -> 8.0, "c" -> 9.0)
    val rSep = run(sep)
    val (n1, k1, h1, hc1) = kwReference(sep)
    assert(rSep.getAs[Long]("n") == n1 && rSep.getAs[Long]("k") == k1)
    assert(rSep.getAs[Double]("h") == h1)
    assert(rSep.getAs[Double]("h_corrected") == hc1.get)
    assert(h1 > 7.0) // 3 groups of 3, fully separated
    // identical distributions: h below any rejection threshold
    val same = (1 to 3).flatMap(i =>
      Seq("a" -> i.toDouble, "b" -> i.toDouble, "c" -> i.toDouble))
    val rSame = run(same)
    assert(rSame.getAs[Double]("h") == kwReference(same)._3)
    assert(math.abs(rSame.getAs[Double]("h")) < 1.0)
    // every value identical: C = 0, corrected stat NULL not NaN
    val allTied = Seq("a" -> 5.0, "a" -> 5.0, "b" -> 5.0, "b" -> 5.0)
    val rTied = run(allTied)
    assert(rTied.isNullAt(rTied.fieldIndex("h_corrected")))
  }

  test("kruskal-wallis matches the reference on seeded random data " +
    "with heavy ties, at any layout") {
    val rnd = new scala.util.Random(4242)
    (1 to 3).foreach { trial =>
      val rows = Seq.tabulate(300)(_ =>
        (s"g${rnd.nextInt(4)}", rnd.nextInt(12).toDouble))
      val (n, k, h, hc) = kwReference(rows)
      val df = rows.toDF("g", "value").repartition(1 + trial * 3)
      val got = Drift.kruskalWallis(df, col("g"), col("value"))
        .collect().head
      assert(got.getAs[Long]("n") == n && got.getAs[Long]("k") == k)
      assert(got.getAs[Double]("h") == h, s"trial $trial h")
      assert(got.getAs[Double]("h_corrected") == hc.get, s"trial $trial hc")
    }
  }

  test("cohens d closed form: groups {1,2,3} vs {4,5,6} -> means 2 and " +
    "5, pooled var 1, d = -3; degenerate group -> NULL") {
    val df = Seq((1.0, false), (2.0, false), (3.0, false),
      (4.0, true), (5.0, true), (6.0, true)).toDF("v", "a")
    // isA = a means group1 = {4,5,6}: d = (5 - 2)/1 = 3
    val r = Drift.cohensD(df, col("v"), col("a")).collect().head
    assert(r.getAs[Long]("n1") == 3 && r.getAs[Long]("s1") == 15
      && r.getAs[Long]("ss1") == 77)
    assert(r.getAs[Double]("d") == 3.0)
    // constant groups: pooled variance 0 -> NULL, never Infinity
    val const = Seq((5.0, true), (5.0, true), (2.0, false), (2.0, false))
      .toDF("v", "a")
    val rc = Drift.cohensD(const, col("v"), col("a")).collect().head
    assert(rc.isNullAt(rc.fieldIndex("d")))
    // quantization is floor(x + 1/2): 2.49 and 2.51 straddle
    val rq = Drift.cohensD(Seq((2.49, true), (2.51, false)).toDF("v", "a"),
      col("v"), col("a")).collect().head
    assert(rq.getAs[Long]("s1") == 2 && rq.getAs[Long]("s2") == 3)
  }

  test("cohens d raises loudly when the sum-of-squares moments would " +
    "exceed the exact int64 bound (silent non-ANSI wrap otherwise)") {
    // x ~ 4e9 -> x^2 ~ 1.6e19 > 9e18: a SINGLE row already over-bound
    val hot = Seq((4.0e9, true), (4.0e9, true), (1.0, false), (2.0, false))
      .toDF("v", "a")
    val e = intercept[Exception] {
      Drift.cohensD(hot, col("v"), col("a")).collect()
    }
    assert(e.getMessage.contains("exact int64 bound"), e.getMessage)
    // just inside the bound still computes: x = 1e6, 4 rows ->
    // rows*mx^2 = 4e12, far under
    val cool = Seq((1.0e6, true), (2.0e6, true), (1.0, false), (2.0, false))
      .toDF("v", "a")
    assert(!Drift.cohensD(cool, col("v"), col("a")).collect().head
      .isNullAt(6))
  }

  private def pairEv(key: String, counts: Seq[Int])
      : Seq[(String, String)] =
    counts.zipWithIndex.flatMap { case (n, i) =>
      Seq.fill(n)((key, f"2024-01-${i + 1}%02d 10:00:00"))
    }

  test("wilcoxon closed forms: all-positive diffs give W+ = full rank " +
    "mass and the exact z tree; symmetric tied pair gives z = 0 with " +
    "the tie correction; all-zero diffs give NULL") {
    def run(ac: Seq[Int], bc: Seq[Int]) = {
      val df = (pairEv("A", ac) ++ pairEv("B", bc)).toDF("g", "s")
        .withColumn("ts", col("s").cast("timestamp"))
      Drift.wilcoxonSignedRank(df, col("g"), col("ts"), "A", "B")
        .collect().head
    }
    // diffs +1, +2, +3 -> rank2 = 2,4,6; W+2 = 12; var = 3*4*7/6 = 14
    val pos = run(Seq(2, 4, 6), Seq(1, 2, 3))
    assert(pos.getAs[Long]("n") == 3 && pos.getAs[Long]("w_plus2") == 12
      && pos.getAs[Long]("w_minus2") == 0 && pos.getAs[Long]("tie_t") == 0)
    assert(pos.getAs[Double]("z") ==
      (12.0 - 3.0 * 4.0 / 2.0) / math.sqrt(3.0 * 4.0 * 7.0 / 6.0 - 0.0))
    // diffs +1, -1 (tied |d|): rank2 = 3 each; W+2 = W-2 = 3; z = 0
    val sym = run(Seq(2, 1), Seq(1, 2))
    assert(sym.getAs[Long]("w_plus2") == 3 &&
      sym.getAs[Long]("w_minus2") == 3 && sym.getAs[Long]("tie_t") == 6)
    assert(sym.getAs[Double]("z") == 0.0 && !sym.getAs[Boolean]("reject_h0"))
    // identical series: every diff is zero -> n = 0, z NULL
    val zero = run(Seq(3, 3), Seq(3, 3))
    assert(zero.getAs[Long]("n") == 0)
    assert(zero.isNullAt(zero.fieldIndex("z")))
  }

  private def ev(day: Int, n: Int, each: Double): Seq[(String, String, Double)] =
    Seq.fill(n)(("g", f"2024-01-$day%02d 10:00:00", each))

  test("kendall closed forms on the daily frame: concordant -> tau 1, " +
    "anti-concordant -> tau -1, count ties land in tx") {
    def run(rows: Seq[(String, String, Double)]) =
      Drift.kendallDaily(rows.toDF("g", "s", "value")
          .withColumn("ts", col("s").cast("timestamp")),
        col("g"), col("ts"), col("value")).collect().head
    // counts 1,2,3 ascending; day sums 10,20,30 ascending
    // tau is the FIXED IEEE tree (nc-nd)/(sqrt(n0-tx)*sqrt(n0-ty)) — an
    // ulp off the algebraic ±1 (sqrt(3)*sqrt(3) != 3), bit-identical
    // across engines; the test pins the tree, not the algebra
    def tree(nc: Long, nd: Long, n0: Long, tx: Long, ty: Long): Double =
      (nc - nd).toDouble / (math.sqrt((n0 - tx).toDouble) *
        math.sqrt((n0 - ty).toDouble))
    val up = run(ev(1, 1, 10.0) ++ ev(2, 2, 10.0) ++ ev(3, 3, 10.0))
    assert(up.getAs[Long]("n_pairs") == 3 && up.getAs[Long]("nc") == 3 &&
      up.getAs[Long]("nd") == 0 &&
      up.getAs[Double]("tau") == tree(3, 0, 3, 0, 0))
    // counts 1,2,3 ascending; day sums 100,80,60 descending
    val down = run(ev(1, 1, 100.0) ++ ev(2, 2, 40.0) ++ ev(3, 3, 20.0))
    assert(down.getAs[Long]("nd") == 3 &&
      down.getAs[Double]("tau") == tree(0, 3, 3, 0, 0))
    // days 1,2 share count 2 (one x-tied pair); sums 20,40,90 ascend
    val tied = run(ev(1, 2, 10.0) ++ ev(2, 2, 20.0) ++ ev(3, 3, 30.0))
    assert(tied.getAs[Long]("tx") == 1 && tied.getAs[Long]("ty") == 0)
    assert(tied.getAs[Long]("nc") == 2)
    // tau-b = (2-0)/(sqrt(3-1)*sqrt(3-0)) — the identical tree
    assert(tied.getAs[Double]("tau") == tree(2, 0, 3, 1, 0))
  }

  test("kendall matches a brute-force O(n²) pair reference on seeded " +
    "random daily data with heavy ties, at any layout") {
    val rnd = new scala.util.Random(777)
    (1 to 3).foreach { trial =>
      // random day counts and per-day integer value mass, ties likely
      val days = Seq.tabulate(14)(i =>
        (i + 1, 1 + rnd.nextInt(4), (1 + rnd.nextInt(3)) * 10.0))
      val rows = days.flatMap { case (d, n, each) => ev(d, n, each) }
      val daily = days.map { case (_, n, each) =>
        (n.toLong, (n * each * 1e6).round) }
      val pairs = for {
        i <- daily.indices; j <- daily.indices if i < j
      } yield (daily(i), daily(j))
      val nc = pairs.count { case ((xa, ya), (xb, yb)) =>
        (xb > xa && yb > ya) || (xb < xa && yb < ya) }
      val nd = pairs.count { case ((xa, ya), (xb, yb)) =>
        (xb > xa && yb < ya) || (xb < xa && yb > ya) }
      val tx = pairs.count { case ((xa, _), (xb, _)) => xa == xb }
      val ty = pairs.count { case ((_, ya), (_, yb)) => ya == yb }
      val df = rows.toDF("g", "s", "value")
        .withColumn("ts", col("s").cast("timestamp"))
        .repartition(1 + trial * 3)
      val got = Drift.kendallDaily(df, col("g"), col("ts"), col("value"))
        .collect().head
      assert(got.getAs[Long]("nc") == nc && got.getAs[Long]("nd") == nd &&
        got.getAs[Long]("tx") == tx && got.getAs[Long]("ty") == ty,
        s"trial $trial: engine (${got.getAs[Long]("nc")}," +
          s"${got.getAs[Long]("nd")},${got.getAs[Long]("tx")}," +
          s"${got.getAs[Long]("ty")}) vs reference ($nc,$nd,$tx,$ty)")
      val n0 = pairs.size.toLong
      if (n0 > tx && n0 > ty)
        assert(got.getAs[Double]("tau") == (nc - nd).toDouble /
          (math.sqrt((n0 - tx).toDouble) * math.sqrt((n0 - ty).toDouble)))
    }
  }

  test("wilcoxon matches an independent midrank reference on seeded " +
    "random paired counts, at any layout") {
    val rnd = new scala.util.Random(31337)
    (1 to 3).foreach { trial =>
      val days = Seq.tabulate(16)(i =>
        (i + 1, 1 + rnd.nextInt(5), 1 + rnd.nextInt(5)))
      val rows = days.flatMap { case (d, a, b) =>
        pairEvAt("A", d, a) ++ pairEvAt("B", d, b) }
      // reference: doubled midranks over |d| of the nonzero diffs
      val zs = days.map { case (_, a, b) => (a - b).toLong }
        .filter(_ != 0L)
      val byAz = zs.groupBy(math.abs).view.mapValues(_.size.toLong).toMap
      val sortedAz = byAz.keys.toSeq.sorted
      val cum = sortedAz.scanLeft(0L)((acc, az) => acc + byAz(az)).tail
      val rank2 = sortedAz.zip(cum).map { case (az, c) =>
        az -> (2 * c - byAz(az) + 1) }.toMap
      val wPlus2 = zs.filter(_ > 0).map(z => rank2(math.abs(z))).sum
      val tie = byAz.values.map(t => t * t * t - t).sum
      val df = rows.toDF("g", "s")
        .withColumn("ts", col("s").cast("timestamp"))
        .repartition(1 + trial * 2)
      val got = Drift.wilcoxonSignedRank(df, col("g"), col("ts"), "A", "B")
        .collect().head
      assert(got.getAs[Long]("n") == zs.size.toLong &&
        got.getAs[Long]("w_plus2") == wPlus2 &&
        got.getAs[Long]("tie_t") == tie,
        s"trial $trial: engine (${got.getAs[Long]("n")}," +
          s"${got.getAs[Long]("w_plus2")},${got.getAs[Long]("tie_t")}) " +
          s"vs reference (${zs.size},$wPlus2,$tie)")
    }
  }

  private def pairEvAt(key: String, day: Int, n: Int)
      : Seq[(String, String)] =
    Seq.fill(n)((key, f"2024-01-$day%02d 10:00:00"))

  test("kendall constant-axis guard: a constant y emits NULL tau, " +
    "never NaN") {
    val rows = ev(1, 1, 30.0) ++ ev(2, 2, 15.0) ++ ev(3, 3, 10.0)
    val r = Drift.kendallDaily(rows.toDF("g", "s", "value")
        .withColumn("ts", col("s").cast("timestamp")),
      col("g"), col("ts"), col("value")).collect().head
    assert(r.getAs[Long]("ty") == 3)
    assert(r.isNullAt(r.fieldIndex("tau")))
  }

  test("gini closed forms: uniform -> 0, maximal concentration -> " +
    "(n-1)/n, [1,2,3,4] -> 1/4; tie order cannot move the rank moment") {
    def run(xs: Seq[Long]) =
      Drift.gini(xs.zipWithIndex.map { case (x, i) => ("g", x, i.toLong) }
          .toDF("g", "x", "id"),
        col("g"), col("x"), col("id")).collect().head
    assert(run(Seq(7L, 7L, 7L, 7L)).getAs[Double]("gini") == 0.0)
    val conc = run(Seq(0L, 0L, 0L, 100L))
    assert(conc.getAs[Double]("gini") == 3.0 / 4.0)
    val r = run(Seq(4L, 2L, 1L, 3L))
    assert(r.getAs[Long]("six") == 30 && r.getAs[Double]("gini") == 0.25)
    // all-zero mass -> NULL, not 0/0
    assert(run(Seq(0L, 0L)).isNullAt(3 + 1))
  }
}
