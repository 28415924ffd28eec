package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Sort}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{HashExprs, TextExprs, VectorFns}

/** SparkSessionExtensions registration: every injected SQL function must
  * plan the SAME native expression as its Column helper, and an ORDER BY
  * over a driver-side relation must sort there with the same result as
  * Spark's range sort. */
class GraftExtensionsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "pack my box with five dozen liquor jugs"),
    (3L, "ab")).toDF("doc_id", "text")

  test("fnv1a64 / simhash64 / char_shingles SQL == Column helpers") {
    docs.createOrReplaceTempView("__ext_docs")
    val viaSql = spark.sql(
      """SELECT doc_id, fnv1a64(text) AS h,
        |  simhash64(char_shingles(text, 3)) AS sh,
        |  char_shingles(text, 5) AS cs
        |FROM __ext_docs ORDER BY doc_id""".stripMargin).collect()
    val viaCol = docs.select(col("doc_id"),
        HashExprs.fnv1a64Col(col("text")).as("h"),
        HashExprs.simhash64(TextExprs.charShingles(col("text"), 3)).as("sh"),
        TextExprs.charShingles(col("text"), 5).as("cs"))
      .orderBy("doc_id").collect()
    viaSql.zip(viaCol).foreach { case (a, b) => assert(a.toSeq == b.toSeq) }
  }

  test("minhash_sig / word_shingles / jaccard_sim with literal params") {
    docs.createOrReplaceTempView("__ext_docs")
    val viaSql = spark.sql(
      """SELECT doc_id,
        |  minhash_sig(word_shingles(split(text, ' '), 2), 8) AS sig,
        |  jaccard_sim(word_shingles(split(text, ' '), 2),
        |              word_shingles(split(text, ' '), 2)) AS j
        |FROM __ext_docs ORDER BY doc_id""".stripMargin).collect()
    val toks = split(col("text"), " ")
    val viaCol = docs.select(col("doc_id"),
        HashExprs.minhashSig(TextExprs.wordShingles(toks, 2), 8).as("sig"),
        TextExprs.jaccardSim(TextExprs.wordShingles(toks, 2),
          TextExprs.wordShingles(toks, 2)).as("j"))
      .orderBy("doc_id").collect()
    viaSql.zip(viaCol).foreach { case (a, b) => assert(a.toSeq == b.toSeq) }
    // identical non-empty shingle sets => Jaccard exactly 1.0
    assert(viaSql.take(2).forall(_.getDouble(2) == 1.0))
  }

  test("dot_product / cosine_sim SQL == Column helpers on float arrays") {
    val vecs = Seq((1L, Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)))
      .toDF("id", "a", "b")
    vecs.createOrReplaceTempView("__ext_vecs")
    val viaSql = spark.sql(
      "SELECT dot_product(a, b) AS d, cosine_sim(a, b) AS c FROM __ext_vecs")
      .head
    val viaCol = vecs.select(
      VectorFns.dot(col("a"), col("b")).as("d"),
      VectorFns.cosine(col("a"), col("b")).as("c")).head
    assert(viaSql.getDouble(0) == viaCol.getDouble(0))
    assert(viaSql.getDouble(1) == viaCol.getDouble(1))
  }

  test("nfc / strip_accents / bpe_count SQL == Column helpers") {
    // decomposed input: 'e' + COMBINING ACUTE (U+0301)
    val t = Seq("cafe\u0301 data engineering").toDF("text")
    t.createOrReplaceTempView("__ext_uni")
    val viaSql = spark.sql(
      "SELECT nfc(text) AS n, strip_accents(text) AS s, bpe_count(text) AS b" +
        " FROM __ext_uni").head
    val viaCol = t.select(
      graft.functions.UnicodeFns.nfc(col("text")).as("n"),
      graft.functions.UnicodeFns.stripAccents(col("text")).as("s"),
      graft.functions.Bpe.tokenCount(col("text")).as("b")).head
    assert(viaSql.toSeq == viaCol.toSeq)
    assert(viaSql.getString(0) == "caf\u00e9 data engineering") // composed NFC
    assert(viaSql.getString(1) == "cafe data engineering")     // accent folded
  }

  private val sortSchema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("g", StringType), StructField("s", StringType),
    StructField("x", IntegerType), StructField("d", DoubleType)))

  // every single key below is unique, and (g, x) is too, so each ordering
  // is total and the two plans must agree row for row
  private val sortRows = Seq(
    Row(1, "b", "ação", 7, 1.5), Row(2, "a", "Zeta", null, -0.5),
    Row(3, "b", null, 3, Double.NaN), Row(4, "a", "zeta", -2, null),
    Row(5, "c", "acao", 11, 0.0), Row(6, null, "", 5, -3.25),
    Row(7, "a", "Ação", 0, 8.0), Row(8, "c", "b", 4, Double.NegativeInfinity))

  private def local: DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(sortRows: _*), sortSchema)

  private def distributed: DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(sortRows, 3), sortSchema)

  private def sorts(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case s: Sort => s }.size

  test("ORDER BY over a local relation sorts on the driver, equal to the " +
    "range sort: asc/desc, nulls first/last, multi-key, string keys") {
    val orders: Seq[Seq[Column]] = Seq(
      Seq(col("x")), Seq(col("x").desc), Seq(col("x").asc_nulls_last),
      Seq(col("x").desc_nulls_first), Seq(col("s")), Seq(col("s").desc),
      Seq(col("s").asc_nulls_last), Seq(col("d")), Seq(col("d").desc_nulls_first),
      Seq(col("g"), col("x").desc), Seq(col("g").desc_nulls_last, col("x")),
      Seq(length(col("s")).desc, col("id")))
    orders.foreach { o =>
      val driver = local.orderBy(o: _*)
      val ranged = distributed.orderBy(o: _*)
      assert(sorts(driver) == 0 &&
        driver.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
        s"$o: ${driver.queryExecution.optimizedPlan}")
      assert(sorts(ranged) == 1, s"$o: a non-local sort must stay a Sort")
      assert(driver.collect().toSeq == ranged.collect().toSeq, s"order by $o")
    }
  }

  test("a sort within partitions over a local relation keeps its Sort") {
    assert(sorts(local.sortWithinPartitions(col("x"))) == 1)
  }

  test("ORDER BY over a local relation, and a ranked dimension, start " +
    "only the jobs that compute the answer") {
    val (rows, jobs) = JobCount(spark)(
      local.select(col("id"), upper(col("g")).as("g"))
        .orderBy(col("g").desc, col("id")).collect())
    assert(jobs == 0, s"a local ORDER BY started $jobs jobs")
    assert(rows.map(_.getInt(0)).toSeq == Seq(5, 8, 1, 3, 2, 4, 7, 6))
    // the dimension's one key collect (its shuffle map stage, then the
    // bounded collect); the ORDER BY over the ranked keys starts none
    val (dim, dimJobs) = JobCount(spark)(
      SparkEntry.queries("s8_dim_grupo")(spark, sf0001).collect())
    assert(dimJobs == 2, s"s8_dim_grupo ran $dimJobs jobs")
    assert(dim.map(_.getInt(0)).toSeq == (1 to dim.length))
  }

  test("non-literal parameter and wrong arity fail analysis") {
    docs.createOrReplaceTempView("__ext_docs")
    intercept[Exception] {
      spark.sql("SELECT minhash_sig(text, doc_id) FROM __ext_docs").collect()
    }
    intercept[Exception] {
      spark.sql("SELECT fnv1a64(text, 2) FROM __ext_docs").collect()
    }
  }
}
