package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Data profiling: exact per-column statistics — the engine-side
  * replacement for `DataFrame.summary` when results must be exact,
  * deterministic, and oracle-checkable.
  *
  * Scale shape: ONE AGGREGATION BRANCH PER COLUMN, unioned. Putting all
  * columns' exact `countDistinct`s into a single aggregation looks like
  * "one scan" but is a trap (measured here: 9.6 s vs 1.5 s at sf0.1):
  * Catalyst plans N distinct-aggs as an Expand that duplicates every
  * input row N+1 times before one giant shuffle. Per-column branches
  * instead each read ONLY their own column (parquet column pruning — the
  * union of branch scans reads the same bytes the fused scan would),
  * each branch's distinct is a two-phase partial aggregate with no
  * row-multiplication, and independent branches schedule in parallel
  * across the cluster. For a quick inexact profile swap `countDistinct`
  * for `approx_count_distinct` and fuse back to one pass (HLL sketches
  * don't need Expand).
  *
  * min/max are surfaced as strings for a uniform output schema; pass
  * pre-formatted columns (e.g. `date_format`ed dates) when the default
  * cast's engine-specific formatting matters (floating-point columns
  * format differently across engines — format them explicitly). */
object Profile {

  /** Benford first-digit expected shares, round(log10(1+1/d)*1e6) —
    * micro-literals shared with the DuckDB restatements; they telescope
    * to exactly 1e6. */
  val BenfordMicro: Seq[Long] = Seq(301030L, 176091L, 124939L, 96910L,
    79181L, 66947L, 57992L, 51153L, 45757L)

  /** The whole audit family — Benford first-digit conformance, chi2
    * independence + Cramér's V over a category × value-band grid, a
    * fixed-width histogram, exact top-k heavy hitters, and global
    * min/max/sum/count — off ONE scan of the fact table: one
    * grouping-sets aggregation ([[profileCells]]) computes every section's
    * counts in a single pass (scan → Expand(5 sets) → partial agg → one
    * shuffle of ALREADY-AGGREGATED partials). This is the opposite trade
    * from [[profile]]'s per-column branches: there the Expand feeds exact
    * DISTINCTs, multiplying the SHUFFLE; here every grouping is a
    * bounded-cardinality count, so map-side combine collapses the
    * expansion before the exchange and the scan IO — the dominant cost
    * at 100 TB — is paid once.
    *
    * Scale shape: one aggregate, then the driver. One collect fetches the
    * category-bounded cells (1 + digits + grid cells + 10 bins, at most
    * [[Drift.MaxCells]]) and the top-`topK` key cells, which Spark's sort +
    * limit picks; every section is computed from those rows on the driver
    * and the result is a local frame, so its ORDER BY starts no job.
    *
    * Determinism: every emitted metric is an exact integer — counts,
    * cents (floor(x*100+0.5), the exact BIGINT carrier for 2-decimal
    * data), chi2/Benford terms in micro-units by integral division (the
    * chi2 and Cramér sections are [[Drift.contingency]]'s, including its
    * loud n <= 10^7 exactness guard). An empty input still reports
    * `stats` (count 0, null cents), as SQL's global aggregate does.
    *
    * Output rows `(section, key1, key2, n, metric)`:
    *  - `('stats', count|sum_cents|min_cents|max_cents, null, N, value)`
    *  - `('benford', digit, null, observed, term_micro)` +
    *    `('benford_stat', 'chi2_micro', null, N, chi2_micro)`
    *  - `('chi2', category, band, observed, term_micro)` +
    *    `('chi2_stat', 'chi2_micro'|'dof', null, N, value)`
    *  - `('cramers', 'v2_micro', null, N, v2_micro)`
    *  - `('hist', bin, null, count, bin_lo_cents)`
    *  - `('heavy', key, null, count, rank)` for the top-`topK` keys, ranked
    *    by count, then key in Spark's string order (UTF-8 bytes). */
  def profileAll(df: DataFrame, priceCol: String, catCol: String,
                 keyCol: String, bandLo: Double = 100000.0,
                 bandHi: Double = 300000.0, binWidth: Double = 50000.0,
                 topK: Int = 5): DataFrame = {
    val who = "Profile.profileAll"
    val cells = profileCells(df, priceCol, catCol, keyCol,
      bandLo, bandHi, binWidth)
    val (top, bounded) = cells.filter(col("gid") =!= 30)
      .limit(Drift.MaxCells + 1)
      .unionByName(cells.filter(col("gid") === 30)
        .orderBy(col("n").desc, col("ckey")).limit(topK))
      .collect().partition(_.getLong(9) == 30)
    Drift.requireCells(bounded.length, who)
    val byGid = bounded.toSeq.groupBy(_.getLong(9)).withDefaultValue(Nil)

    // Spark's grouping-sets aggregate emits no global row for an empty
    // input, where SQL's global aggregate gives count 0 and null cents
    val global = byGid(31).headOption
    val n = global.fold(0L)(_.getLong(5))
    val stats = Row("stats", "count", null, n, n) +:
      Seq("sum_cents" -> 6, "min_cents" -> 7, "max_cents" -> 8).map {
        case (k, i) => Row("stats", k, null, n, global.map(_.get(i)).orNull) }

    // Benford over the nine significant digits. The expected-count base
    // is the number of rows with a leading digit 1-9 — Benford's law is
    // defined on those; rows whose digit is 0 (price < 1), null, or
    // unparsable (negative sign) are not part of the test, and using the
    // global n for the base would inflate every term whenever such rows
    // exist. A base of 0 has no expectation: every term is null.
    val digits = byGid(15).filter(r => !r.isNullAt(0) && r.getInt(0) >= 1)
      .map(r => r.getInt(0) -> r.getLong(5)).toMap
    val nb = digits.values.sum
    val bterms = BenfordMicro.zipWithIndex.map { case (p, i) =>
      val (o, e) = (digits.getOrElse(i + 1, 0L), BigInt(nb) * p)
      (i + 1, o, Option.when(e > 0)(((BigInt(o) * 1000000 - e).pow(2) / e).toLong))
    }
    val benford = bterms.map { case (d, o, term) =>
      Row("benford", d.toString, null, o, term.getOrElse(null)) } :+
      Row("benford_stat", "chi2_micro", null, nb,
        bterms.flatMap(_._3).reduceOption(_ + _).getOrElse(null))

    // chi2 + Cramér's V over the (category, band) cells
    val t = Drift.contingency(
      byGid(19).map(r => (r.get(1), r.get(2), r.getLong(5))), who)
    val nt = Option.when(t.cells.nonEmpty)(t.n)
    val chi2 = t.cells.map(c => Row("chi2", c.rk, c.ck, c.o, c.termMicro)) ++
      Seq(Row("chi2_stat", "chi2_micro", null, nt.getOrElse(null),
          nt.map(_ => t.chi2Micro).getOrElse(null)),
        Row("chi2_stat", "dof", null, nt.getOrElse(null), t.dof),
        Row("cramers", "v2_micro", null, nt.getOrElse(null),
          t.v2Micro.getOrElse(null)))

    // fixed-width histogram (bin lo in cents as the metric)
    val hist = byGid(29).map(r => Row("hist", r.getLong(3).toString, null,
      r.getLong(5), r.getLong(3) * math.round(binWidth * 100)))

    // exact heavy hitters, ranked as Spark ordered them: by count, then by
    // key in UTF-8 byte order (Scala's `<` compares UTF-16 code units,
    // which disagrees above the BMP)
    val heavy = top.sortWith { (a, b) =>
      if (a.getLong(5) != b.getLong(5)) a.getLong(5) > b.getLong(5)
      else UTF8String.fromString(a.getString(4))
        .compareTo(UTF8String.fromString(b.getString(4))) < 0
    }.zipWithIndex.map { case (r, i) =>
      Row("heavy", r.getString(4), null, r.getLong(5), i + 1L) }

    // a local relation: the ORDER BY sorts on the driver, with no job
    df.sparkSession.createDataFrame(java.util.List.of(
        stats ++ benford ++ chi2 ++ hist ++ heavy: _*), ProfileAllSchema)
      .orderBy(col("section"), col("key1"), col("key2"))
  }

  /** `(section, key1, key2, n, metric)`, the rows of [[profileAll]]. */
  private val ProfileAllSchema = StructType(Seq(
    StructField("section", StringType, nullable = false),
    StructField("key1", StringType), StructField("key2", StringType),
    StructField("n", LongType), StructField("metric", LongType)))

  /** The single-pass grouping-sets aggregate behind [[profileAll]], so
    * specs can assert the ONE-scan plan shape:
    * `(digit, rk, ck, bin, ckey, n, sum_cents, min_cents, max_cents,
    * gid)` with gid 31=global, 15=digit, 19=(rk,ck), 29=bin, 30=key. */
  private[graft] def profileCells(df: DataFrame, priceCol: String,
                                  catCol: String, keyCol: String,
                                  bandLo: Double, bandHi: Double,
                                  binWidth: Double): DataFrame = {
    val base = df.filter(col(priceCol).isNotNull)
      .select(
        substring(floor(col(priceCol)).cast("long").cast("string"), 1, 1)
          .cast("int").as("digit"),
        coalesce(col(catCol).cast("string"), lit("unknown")).as("rk"),
        when(col(priceCol) < bandLo, "low")
          .when(col(priceCol) < bandHi, "mid").otherwise("high").as("ck"),
        least(floor(col(priceCol) / binWidth).cast("long"), lit(9L))
          .as("bin"),
        coalesce(col(keyCol).cast("string"), lit("unknown")).as("ckey"),
        expr(s"CAST(floor($priceCol * 100 + 0.5) AS BIGINT)").as("cents"))
    base.groupingSets(
        Seq(Seq(), Seq(col("digit")), Seq(col("rk"), col("ck")),
          Seq(col("bin")), Seq(col("ckey"))),
        col("digit"), col("rk"), col("ck"), col("bin"), col("ckey"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
        min(col("cents")).as("min_cents"), max(col("cents")).as("max_cents"),
        grouping_id().as("gid"))
  }

  /** `(column, n_rows, n_nulls, n_distinct, min_val, max_val)` per
    * requested column. */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    cols.map { c =>
      df.select(col(c))
        .agg(
          count(lit(1)).as("n_rows"),
          (count(lit(1)) - count(col(c))).as("n_nulls"),
          countDistinct(col(c)).as("n_distinct"),
          min(col(c)).cast("string").as("min_val"),
          max(col(c)).cast("string").as("max_val"))
        .select(lit(c).as("column"), col("n_rows"), col("n_nulls"),
          col("n_distinct"), col("min_val"), col("max_val"))
    }.reduce(_ unionByName _)
  }
}
