package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Embedding-vector math over `array<float>` columns via codegen-friendly
  * higher-order functions — no UDFs, no vector-library dependency. All
  * arithmetic is promoted to double (deterministic, and avoids float
  * summation-order drift across partitions). */
object VectorFns {

  /** Elementwise dot product (native expression — single JVM loop/row). */
  def dot(a: Column, b: Column): Column = VectorExprs.dotProduct(a, b)

  /** Cosine similarity; NULL when either vector has zero norm. */
  def cosine(a: Column, b: Column): Column = VectorExprs.cosineSim(a, b)

  /** Squared L2 distance. */
  def l2DistSq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b,
        (x, y) => (x.cast(DoubleType) - y.cast(DoubleType)) *
                  (x.cast(DoubleType) - y.cast(DoubleType))),
      lit(0.0), (acc, x) => acc + x)

  /** Deterministic pseudo-random hyperplanes (seeded) for cosine LSH. */
  def randomPlanes(nPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-of-projection bit signature for cosine LSH: bit i = 1 iff
    * dot(v, plane_i) >= 0. Returns a Long (supports up to 64 planes). */
  def hyperplaneSig(v: Column, planes: Seq[Seq[Double]]): Column =
    VectorExprs.hyperplaneSig(v, planes)

  /** Split a Long signature into `bands` keys of `bitsPerBand` bits each,
    * tagged with the band index (for OR-amplified LSH bucketing). */
  def sigBands(sig: Column, bands: Int, bitsPerBand: Int): Column = {
    require(bands >= 1 && bitsPerBand >= 1 && bands * bitsPerBand <= 64,
      s"bands * bitsPerBand must fit in 64 bits, got $bands x $bitsPerBand")
    // JVM shifts are mod 64: 1L << 64 == 1L would make the mask 0 and
    // collapse every key to 0 (a full cross join)
    val mask = if (bitsPerBand == 64) -1L else (1L << bitsPerBand) - 1
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        shiftright(sig, b * bitsPerBand).bitwiseAND(lit(mask)).as("key"))
    }: _*)
  }

  /** One (band, key) bucket row per band per input row, carrying ONLY the
    * `keep` columns — the vector itself must NOT ride through the banded
    * explode and shuffle (bands x |vector| bytes per row); verified pairs
    * join the payload back by id instead. Shared by the embedding near-dup
    * and LSH ANN paths. */
  def lshBuckets(df: org.apache.spark.sql.DataFrame, keep: Seq[String],
                 vecCol: String, planes: Seq[Seq[Double]], bands: Int,
                 bitsPerBand: Int): org.apache.spark.sql.DataFrame = {
    require(planes.size % bands == 0,
      s"bands ($bands) must divide nPlanes (${planes.size})")
    df.select(keep.map(col) :+
        explode(sigBands(hyperplaneSig(col(vecCol), planes), bands,
          bitsPerBand)).as("__b"): _*)
      .select(keep.map(col) :+ col("__b.band").as("band") :+
        col("__b.key").as("key"): _*)
  }
}
