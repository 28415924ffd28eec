package graft

import org.apache.spark.sql.functions._

import graft.plans.IdaMart
import graft.sources.Probe

/** Load-path semantics: idempotency (ON CONFLICT DO NOTHING),
  * first-wins dedup determinism, unmatched-dimension drops (J3). */
class IdaMartSpec extends SparkSpec {
  import spark.implicits._

  test("fact load is idempotent: re-loading the same batch adds nothing (S7)") {
    val recs = IdaMart.records(spark, sf0001)
    val fact1 = IdaMart.fact(recs).cache()
    val delta = IdaMart.load(existing = fact1, batch = fact1)
    assert(delta.count() == 0)
    fact1.unpersist()
  }

  test("firstWinsDedup keeps the lowest-order row per key, deterministically") {
    val df = Seq(("k1", 3L, "c"), ("k1", 1L, "a"), ("k1", 2L, "b"), ("k2", 9L, "z"))
      .toDF("k", "ord", "payload")
    val got = IdaMart.firstWinsDedup(df, Seq("k"), Seq("ord"))
      .orderBy("k").collect().map(r => (r.getString(0), r.getString(2)))
    assert(got.toSeq == Seq(("k1", "a"), ("k2", "z")))
  }

  test("fact drops records with no matching dimension row (J3 inner semantics)") {
    val recs = IdaMart.records(spark, sf0001)
    // null out one record's variavel: distinct() carries the null into the
    // derived dim, but the equi-join lookup never matches null — the row is
    // silently dropped, like the reference's zero-rowcount INSERT..SELECT
    val poisoned = recs.withColumn("variavel",
      when(col("linha_origem") === recs.select(min("linha_origem")).first().getLong(0),
        lit(null)).otherwise(col("variavel")))
    val n = IdaMart.fact(poisoned).count()
    val full = IdaMart.fact(recs).count()
    assert(n == full - 1)
  }

  test("fact output conforms to the DDL mirror (factSchema minus fato_key)") {
    val out = IdaMart.fact(IdaMart.records(spark, sf0001)).schema
    val expected = graft.plans.MartSchema.factSchema
      .filterNot(_.name == "fato_key")
    expected.foreach { f =>
      val got = out.find(_.name == f.name)
      assert(got.isDefined, s"missing column ${f.name}")
      assert(got.get.dataType == f.dataType,
        s"${f.name}: ${got.get.dataType} != ${f.dataType}")
    }
    // + the physical partition carrier `ano` consumed by
    // Sinks.writeFactPartitioned (not part of the logical DDL mirror)
    assert(out.find(_.name == "ano").exists(
      _.dataType == org.apache.spark.sql.types.IntegerType))
    assert(out.length == expected.length + 1)
  }

  test("data_processamento: one non-null processing time per fact build (F18)") {
    val recs = IdaMart.records(spark, sf0001)
    val stamps = IdaMart.fact(recs).select("data_processamento").distinct().collect()
    assert(stamps.length == 1 && !stamps.head.isNullAt(0))
    val later = IdaMart.fact(recs).select("data_processamento").first().getTimestamp(0)
    assert(!later.before(stamps.head.getTimestamp(0)))
  }

  /** `n` records with `n` distinct grupo_economico values. */
  private def grupoRecords(n: Int) =
    spark.range(n).select(
      to_date(lit("2020-01-01")).as("ano_mes"),
      format_string("G%06d", col("id")).as("grupo_economico"),
      lit("SMP").as("servico"), lit("ACESSOS").as("variavel"),
      lit(1.0).as("valor"), lit("g.csv").as("arquivo_origem"),
      col("id").as("linha_origem"))

  test("a dim with MaxDimCardinality + 1 keys fails dimGrupo and fact, " +
    "naming the dim") {
    val recs = grupoRecords(IdaMart.MaxDimCardinality + 1)
    try {
      Seq(() => IdaMart.dimGrupo(recs), () => IdaMart.fact(recs)).foreach { build =>
        val e = intercept[IllegalArgumentException](build())
        assert(e.getMessage.contains("dimension 'grupo_economico' exceeds " +
          s"${IdaMart.MaxDimCardinality} distinct keys"), e.getMessage)
      }
    } finally recs.unpersist()
  }

  test("a dim with exactly MaxDimCardinality keys passes dimGrupo") {
    val dim = IdaMart.dimGrupo(grupoRecords(IdaMart.MaxDimCardinality))
    assert(dim.count() == IdaMart.MaxDimCardinality)
    assert(dim.agg(max("grupo_key")).first().getInt(0) == IdaMart.MaxDimCardinality)
  }

  test("fact surrogate keys equal the standalone dim builders' keys") {
    val recs = IdaMart.records(spark, sf0001)
    val fact = IdaMart.fact(recs).cache()
    try {
      Seq(
        ("ano_mes", "tempo_key", IdaMart.dimTempo(recs).select("ano_mes", "tempo_key")),
        ("grupo_economico", "grupo_key", IdaMart.dimGrupo(recs)
          .select(col("grupo_codigo").as("grupo_economico"), col("grupo_key"))),
        ("servico", "servico_key", IdaMart.dimServico(recs)
          .select(col("servico_codigo").as("servico"), col("servico_key"))),
        ("variavel", "variavel_key", IdaMart.dimVariavel(recs)
          .select(col("variavel_codigo").as("variavel"), col("variavel_key")))
      ).foreach { case (natural, key, dim) =>
        val fromFact = fact.join(recs, Seq("arquivo_origem", "linha_origem"))
          .select(col(natural), col(key)).distinct()
          .collect().map(r => r.get(0) -> r.getInt(1)).toSet
        val fromDim = dim.collect().map(r => r.get(0) -> r.getInt(1)).toSet
        assert(fromFact.nonEmpty)
        assert(fromFact == fromDim, s"$key differs between fact and dim")
      }
    } finally { fact.unpersist(); recs.unpersist() }
  }

  test("header probe: token row, month row, default (S6)") {
    assert(Probe.findHeaderRow(Seq(
      Seq("x", "y"), Seq("GRUPO ECONÔMICO", "VARIÁVEL"))) == 1)
    assert(Probe.findHeaderRow(Seq(
      Seq("a", "b"), Seq("foo", "2017-03"))) == 1)
    assert(Probe.findHeaderRow(Seq(Seq("a"), Seq("b"))) == 8)
  }

  test("month-column predicate bounds (P3)") {
    assert(Probe.isMonthColumn("2017-01"))
    assert(Probe.isMonthColumn("2017-12 00:00:00")) // timestamp-ish header
    assert(!Probe.isMonthColumn("1999-01"))
    assert(!Probe.isMonthColumn("2017-13"))
    assert(!Probe.isMonthColumn("GRUPO"))
  }
}
