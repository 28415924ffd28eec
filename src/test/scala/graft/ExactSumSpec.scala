package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences,
  BoundReference, Expression, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.aggregate.Sum
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.ExactSum.LongPairSum
import graft.functions.Fns

/** The DECIMAL sum kernel: [[GraftExtensions.LongDecimalSum]] puts every
  * non-DISTINCT, non-ANSI SUM over DECIMAL(p ≤ 18) with p > 8 on two longs.
  * The reference is Spark's own BigDecimal sum in the same session: the
  * same DECIMAL(18,6) value re-cast to DECIMAL(19,6), where the rule does
  * not fire. */
class ExactSumSpec extends SparkSpec {

  private val Dec19 = DecimalType(19, 6)

  private def kernelsIn(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case p => p }.flatMap(
      _.expressions.flatMap(_.collect { case k: LongPairSum => k })).size

  private def sums(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case p => p }.flatMap(
      _.expressions.flatMap(_.collect { case s: Sum => s })).size

  /** 400k rows in 7 groups of DECIMAL(18,6): the extremes +-(10^12 - 0.02)
    * (a carry on every row), an unscaled low word of 2^32 - 1, mixed signs,
    * a group of all nulls (4) and one with nulls in between (5). */
  private lazy val probe: DataFrame = {
    val g = col("id") % 7
    def dec(c: Column) = c.cast(Fns.Dec)
    spark.range(0, 400000, 1, 4).select(col("id"), g.as("g"),
      when(g === 0, dec(lit(BigDecimal("999999999999.98"))))
        .when(g === 1, dec(lit(BigDecimal("-999999999999.98"))))
        .when(g === 2, dec(lit(BigDecimal("4294.967295"))))
        .when(g === 3, dec((pmod(col("id") * 7919L, lit(2000003L)) - 1000000L)
          .cast(Dec19) * lit(BigDecimal("999999.123457"))))
        .when(g === 5 && col("id") % 2 === 0, dec(lit(BigDecimal("-0.000001"))))
        .when(g === 6, dec((col("id") - 200000L).cast(Dec19) / lit(BigDecimal("3"))))
        .as("x"))
  }

  /** Rows with each decimal at its shortest scale: the kernel's
    * DECIMAL(28,6) and the reference's DECIMAL(29,6) hold the same values. */
  private def norm(rows: Array[Row]): Seq[Seq[Any]] = rows.toSeq.map(_.toSeq.map {
    case d: java.math.BigDecimal => d.stripTrailingZeros
    case v => v
  })

  test("the probe's groups sum exactly as Spark's BigDecimal sum, and " +
    "the result type is Spark's DECIMAL(28,6)") {
    val k = probe.groupBy("g").agg(sum(col("x")).as("v"))
    val r = probe.groupBy("g").agg(sum(col("x").cast(Dec19)).as("v"))
    assert(kernelsIn(k) == 1 && kernelsIn(r) == 0)
    assert(norm(k.orderBy("g").collect()) == norm(r.orderBy("g").collect()))
    assert(k.schema("v").dataType == DecimalType(28, 6))
    val rows = k.collect().map(r => r.getLong(0) -> r.getDecimal(1)).toMap
    assert(rows(4L) == null, "an all-null group is null")
    // 57,143 rows of 999,999,999,999.98 each: exact, past one long
    assert(rows(0L) == new java.math.BigDecimal("999999999999.98")
      .multiply(new java.math.BigDecimal(57143)).setScale(6))
    assert(rows(1L) == rows(0L).negate)
  }

  test("an empty input and an all-null input give null, also globally") {
    for (df <- Seq(probe.filter(lit(false)), probe.filter(col("g") === 4))) {
      val k = df.agg(sum(col("x")).as("v"))
      assert(kernelsIn(k) == 1)
      assert(k.collect().toSeq == Seq(Row(null)))
      assert(df.agg(sum(col("x").cast(Dec19))).collect().toSeq == Seq(Row(null)))
    }
  }

  test("sumExact and avgExact over doubles equal the BigDecimal path") {
    val d = probe.select(col("g"), col("x").cast(DoubleType).as("d"))
    val k = d.groupBy("g").agg(Fns.sumExact(col("d")).as("s"),
      Fns.avgExact(col("d")).as("a"))
    val r = d.groupBy("g").agg(
      sum(Fns.dec(col("d")).cast(Dec19)).cast(DoubleType).as("s"),
      (sum(Fns.dec(col("d")).cast(Dec19)).cast(DoubleType) / count(col("d"))).as("a"))
    assert(kernelsIn(k) == 2 && kernelsIn(r) == 0)
    assert(k.orderBy("g").collect().toSeq == r.orderBy("g").collect().toSeq)
  }

  test("grouping sets, FILTER (WHERE ...) and SUM ... OVER equal the " +
    "BigDecimal path") {
    probe.withColumn("h", col("g") % 2).createOrReplaceTempView("__exact_probe")
    def both(sql: String): Unit = {
      val k = spark.sql(sql.replace("$X", "x"))
      val r = spark.sql(sql.replace("$X", "CAST(x AS DECIMAL(19,6))"))
      assert(kernelsIn(k) >= 1 && kernelsIn(r) == 0, sql)
      assert(norm(k.collect()) == norm(r.collect()), sql)
    }
    both("""SELECT g, h, SUM($X) AS s FROM __exact_probe
           |GROUP BY GROUPING SETS ((g), (h), ())
           |ORDER BY g NULLS FIRST, h NULLS FIRST""".stripMargin)
    both("""SELECT g, SUM($X) FILTER (WHERE h = 0) AS s,
           |  SUM($X) FILTER (WHERE x < 0) AS neg
           |FROM __exact_probe GROUP BY g ORDER BY g""".stripMargin)
    both("""SELECT DISTINCT g, SUM($X) OVER (PARTITION BY g) AS s
           |FROM __exact_probe ORDER BY g""".stripMargin)
    both("""SELECT id, g, SUM($X) OVER (PARTITION BY g ORDER BY id) AS s
           |FROM __exact_probe WHERE g IN (0, 4, 6) AND id < 3000
           |ORDER BY id""".stripMargin)
  }

  test("the rule fires for DECIMAL(9..18, s) only, never for DISTINCT or " +
    "ANSI sums") {
    val v = spark.range(0, 1000, 1, 2).select((col("id") % 10 - 5).as("v"))
    for (p <- 1 to 20) {
      val df = v.agg(sum(col("v").cast(DecimalType(p, 0))).as("s"))
      assert(kernelsIn(df) == (if (p >= 9 && p <= 18) 1 else 0), s"DECIMAL($p, 0)")
      // p <= 8 is Spark's own one-long rule, which leaves no Sum over a decimal
      assert(df.collect().head.getDecimal(0).longValue == -500, s"DECIMAL($p, 0)")
    }
    val distinct = v.agg(sum_distinct(col("v").cast(DecimalType(18, 2))))
    assert(kernelsIn(distinct) == 0 && sums(distinct) == 1)
    val ansi = try {
      spark.conf.set("spark.sql.ansi.enabled", "true")
      v.agg(sum(col("v").cast(DecimalType(18, 2))))
    } finally spark.conf.set("spark.sql.ansi.enabled", "false")
    assert(kernelsIn(ansi) == 0 && sums(ansi) == 1)
    val tried = v.agg(try_sum(col("v").cast(DecimalType(18, 2))))
    assert(kernelsIn(tried) == 0)
  }

  test("the generated update casts each row once: a null row adds 0 " +
    "instead of branching around the input") {
    val d = spark.range(1000).select((col("id") % 7).as("g"),
      (col("id") / 3.0).as("d")) // nullable, so the null path is planned
    assert(d.schema("d").nullable)
    val plan = try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      d.groupBy("g").agg(Fns.sumExact(col("d"))).queryExecution.executedPlan
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val code = org.apache.spark.sql.execution.debug.codegenString(plan)
    // one double -> DECIMAL(18,6) cast in the partial aggregate's code;
    // an `If(IsNull(x), ...)` update evaluated it once per buffer field
    assert("changePrecision\\(18, 6\\)".r.findAllIn(code).size == 1, code)
  }

  test("a 96-bit overflow turns the buffer null instead of wrapping, and " +
    "the evaluation returns null outside DECIMAL(28,6)") {
    val k = LongPairSum(BoundReference(0, LongType, nullable = true), DecimalType(28, 6))
    val buf: Seq[Attribute] = k.aggBufferAttributes
    val both: Seq[Attribute] = buf ++ k.inputAggBufferAttributes
    def interpreted(es: Seq[Expression], in: Seq[Attribute], row: InternalRow) =
      es.map(e => BindReferences.bindReference(e, in).eval(row))
    def generated(es: Seq[Expression], in: Seq[Attribute], row: InternalRow) = {
      val out = UnsafeProjection.create(es, in).apply(row)
      es.indices.map(i => if (out.isNullAt(i)) null else out.get(i, es(i).dataType))
    }
    for (eval <- Seq(interpreted _, generated _)) {
      def merge(l: (Any, Long), r: (Any, Long)) =
        eval(k.mergeExpressions, both, InternalRow(l._1, l._2, true, r._1, r._2, true))
      def value(hi: Any, lo: Long) =
        eval(Seq(k.evaluateExpression), buf, InternalRow(hi, lo, true)).head
      // the upper words overflow
      assert(merge((Long.MaxValue, 0L), (1L, 0L)).head == null)
      assert(merge((Long.MinValue, 0L), (-1L, 0L)).head == null)
      // only the carry out of the lower words overflows
      assert(merge((Long.MaxValue, 0xFFFFFFFFL), (0L, 1L)).head == null)
      assert(merge((Long.MaxValue - 1, 0xFFFFFFFFL), (0L, 1L)) ==
        Seq(Long.MaxValue, 0L, true))
      // a null (overflowed) side stays null
      assert(merge((null, 5L), (1L, 0L)).head == null)
      assert(value(null, 0L) == null)
      // the largest DECIMAL(28,6) and one past it
      val max = BigInt(10).pow(28) - 1
      val (hi, lo) = ((max >> 32).toLong, (max & 0xFFFFFFFFL).toLong)
      assert(value(hi, lo).asInstanceOf[Decimal].toJavaBigDecimal ==
        new java.math.BigDecimal(max.bigInteger, 6))
      assert(value(hi, lo + 1) == null)
      assert(value((-max >> 32).toLong, (-max & 0xFFFFFFFFL).toLong).asInstanceOf[Decimal]
        .toJavaBigDecimal == new java.math.BigDecimal(max.bigInteger.negate, 6))
      // the long fast path: -2^32 + 5
      assert(value(-1L, 5L).asInstanceOf[Decimal].toJavaBigDecimal ==
        new java.math.BigDecimal(java.math.BigInteger.valueOf(-4294967291L), 6))
    }
  }
}
