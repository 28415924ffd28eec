package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{Fns, HashExprs, TextExprs, TextFns, VectorFns}

/** Deduplication operators for training-data pipelines — exact and
  * near-duplicate, text and embedding based.
  *
  * Scale design: every variant is "sketch -> bucket -> verify":
  *  1. a per-row sketch (hash / minhash signature / simhash / LSH signature)
  *     — narrow, embarrassingly parallel;
  *  2. one shuffle on the bucket key (never an all-pairs cross join);
  *  3. exact verification only inside buckets (candidate pairs are a tiny
  *     fraction of N^2).
  * This is the only shape that survives 100 TB: the full pairwise matrix
  * never exists, and bucket skew is bounded by the band width.
  *
  * Techniques are the published classics: MinHash resemblance sketching
  * (Broder, "On the resemblance and containment of documents", 1997) with
  * banded LSH amplification (Leskovec/Rajaraman/Ullman, Mining of Massive
  * Datasets ch. 3), SimHash (Charikar, "Similarity estimation techniques
  * from rounding algorithms", STOC 2002) as deployed for web dedup
  * (Manku/Jain/Sarma, WWW 2007), and random-hyperplane cosine LSH
  * (Charikar 2002).
  */
object Dedup {

  /** Exact dedup: canonical row per distinct (cleaned) text. Output one row
    * per distinct content: (content_hash, doc_id kept = min, n_copies). */
  def exact(df: DataFrame, idCol: String = "doc_id",
            textCol: String = "text"): DataFrame =
    df.withColumn("content_hash", md5(Fns.cleanText(col(textCol))))
      .groupBy(col("content_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /** MinHash+LSH candidate pairs from a precomputed `(id, shingles)` frame.
    * Documents with an empty shingle set are excluded up front: they carry
    * the degenerate all-MaxValue signature, which would bucket every
    * too-short doc with every other one (O(n^2) pairs at scale) while never
    * passing exact Jaccard verification anyway. */
  /** Banded LSH buckets of a `(id, shingles)` frame: one row per (id,
    * band) keyed by the Murmur3 hash of the band's lane slice. The
    * self-join candidate path and the asymmetric batch-vs-corpus path
    * both build on this. */
  def minhashBandBuckets(shingles: DataFrame, idCol: String,
                         shingleCol: String, k: Int = 64,
                         bands: Int = 16): DataFrame = {
    require(k % bands == 0, "k must divide into equal bands")
    val rows = k / bands
    val sigs = shingles.filter(size(col(shingleCol)) > 0)
      .select(col(idCol), HashExprs.minhashSig(col(shingleCol), k).as("sig"))
    // band key: hash of the band's lane slice (posexplode -> one shuffle key)
    sigs.select(col(idCol),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => hash(lit("band"), b, slice(col("sig"), b * rows + 1, lit(rows)))))
        .as(Seq("band", "bucket")))
  }

  /** Adaptive per-bucket width cap for banded-LSH pair generation — the
    * viral-boilerplate guard. The empty-shingle/blank-signature exclusions
    * handle the DEGENERATE mega-bucket; this handles the REAL one: a
    * boilerplate template with millions of near-identical copies lands
    * every copy in the same band buckets, and the bucket self-join emits
    * O(w²) pairs from a single key — the one quadratic a sketch→bucket→
    * verify pipeline can still hit on crawl data. Buckets wider than
    * `maxBucketWidth` are excluded from pair generation and REPORTED
    * (never silently dropped): one row per over-wide (bucket keys, width,
    * pairs_dropped = w·(w−1)/2). A family that wide is better served by
    * the exact tier (identical copies) or by survivor selection over the
    * connected component one representative pair would already imply —
    * enumerating all w² links adds no information a consumer uses.
    * Width accounting is one map-side-combined aggregate on the bucket
    * key the self-join already shuffles on. */
  def capBuckets(banded: DataFrame, keyCols: Seq[String],
                 maxBucketWidth: Int): (DataFrame, DataFrame) = {
    require(maxBucketWidth >= 2,
      s"capBuckets: maxBucketWidth must be >= 2, got $maxBucketWidth")
    val widths = banded.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("width"))
    val kept = banded.join(
      widths.filter(col("width") <= maxBucketWidth).drop("width"), keyCols)
    val dropped = widths.filter(col("width") > maxBucketWidth)
      .select(keyCols.map(col) :+ col("width") :+
        expr("width * (width - 1) div 2").as("pairs_dropped"): _*)
    (kept, dropped)
  }

  /** [[minhashCandidatesFromShingles]] with the [[capBuckets]] guard:
    * returns `(candidate pairs from within-cap buckets, dropped-bucket
    * report (band, bucket, width, pairs_dropped))`. */
  def minhashCandidatesCapped(shingles: DataFrame, idCol: String,
                              shingleCol: String, k: Int = 64,
                              bands: Int = 16,
                              maxBucketWidth: Int = 1024)
      : (DataFrame, DataFrame) = {
    val banded = minhashBandBuckets(shingles, idCol, shingleCol, k, bands)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (kept, dropped) = capBuckets(banded, Seq("band", "bucket"),
      maxBucketWidth)
    val l = kept.select(col(idCol).as("a"), col("band"), col("bucket"))
    val r = kept.select(col(idCol).as("b"), col("band"), col("bucket"))
    val pairs = l.join(r, Seq("band", "bucket")).filter(col("a") < col("b"))
      .select("a", "b").distinct()
    (pairs, dropped)
  }

  /** [[simhashNearDups]] with the [[capBuckets]] guard on its 16-bit-band
    * buckets: `(verified pairs, dropped-bucket report)`. */
  def simhashNearDupsCapped(df: DataFrame, idCol: String = "doc_id",
                            textCol: String = "text", maxHamming: Int = 3,
                            maxBucketWidth: Int = 1024)
      : (DataFrame, DataFrame) = {
    val sigs = df
      .filter(col(textCol).isNotNull && trim(col(textCol)) =!= "")
      .select(col(idCol),
        HashExprs.simhash64(TextFns.tokens(Fns.cleanText(col(textCol)))).as("sig"))
    val banded = sigs.select(col(idCol), col("sig"),
      posexplode(array((0 until 4).map { b =>
        shiftright(col("sig"), b * 16).bitwiseAND(lit(0xffffL))
      }: _*)).as(Seq("band", "bucket")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (kept, dropped) = capBuckets(banded, Seq("band", "bucket"),
      maxBucketWidth)
    val l = kept.select(col(idCol).as("a"), col("sig").as("sig_a"),
      col("band"), col("bucket"))
    val r = kept.select(col(idCol).as("b"), col("sig").as("sig_b"),
      col("band"), col("bucket"))
    val pairs = l.join(r, Seq("band", "bucket")).filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        HashExprs.hamming64(col("sig_a"), col("sig_b")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
    (pairs, dropped)
  }

  /** [[minhashNearDups]] with the [[capBuckets]] mega-bucket guard wired
    * through the whole tier: capped candidates, then the same exact
    * Jaccard verify. Returns `(verified pairs (a, b, jaccard),
    * dropped-bucket report (band, bucket, width, pairs_dropped))`.
    *
    * Default `maxBucketWidth = 1024`: a TRUE near-dup family of width w
    * costs w·(w−1)/2 verified pairs regardless, so the cap only needs to
    * bound the bucket self-join's fan-out — 1024 bounds one bucket's
    * emission at ~524k pairs (one executor-task's worth), while the viral
    * boilerplate family the guard exists for (10^5–10^6 copies of a
    * template on crawl data) would emit 10^10+ pairs from a single key.
    * Families wider than the cap belong to the exact tier or to
    * component-wise survivor selection, and are REPORTED, never silently
    * dropped. */
  def minhashNearDupsCapped(df: DataFrame, idCol: String = "doc_id",
                            textCol: String = "text", threshold: Double = 0.8,
                            shingleLen: Int = 3, k: Int = 64,
                            bands: Int = 16, maxBucketWidth: Int = 1024)
      : (DataFrame, DataFrame) = {
    val sh = df.select(col(idCol),
        TextFns.wordShingles(col(textCol), shingleLen).as("__sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (cands, dropped) = minhashCandidatesCapped(sh, idCol, "__sh", k,
      bands, maxBucketWidth)
    val hashed = sh.select(col(idCol),
      transform(col("__sh"), s => xxhash64(s)).as("sh"))
    (ngramJaccardVerify(cands, hashed, idCol, threshold), dropped)
  }

  /** The per-document band-bucket ARRAY (band i's bucket at index i),
    * value-identical to [[minhashBandBuckets]]'s rows after a
    * `posexplode` (same Murmur3 band-slice key), for stores that keep
    * the banded signature as a COLUMN of the document artifact instead
    * of exploded rows (the streaming dedup index). Empty shingle set →
    * empty array — the same cannot-near-match exclusion as
    * `minhashBandBuckets`'s `size > 0` filter. The 64-lane signature is
    * materialized into its own column first so the 16 slice references
    * evaluate it once. */
  def withBandBucketArray(df: DataFrame, shingleCol: String, outCol: String,
                          k: Int = 64, bands: Int = 16): DataFrame = {
    require(k % bands == 0, "k must divide into equal bands")
    val rows = k / bands
    df.withColumn("__sig__", HashExprs.minhashSig(col(shingleCol), k))
      .withColumn(outCol,
        when(size(col(shingleCol)) > 0,
          transform(sequence(lit(0), lit(bands - 1)),
            b => hash(lit("band"), b, slice(col("__sig__"), b * rows + 1,
              lit(rows)))))
          .otherwise(typedLit(Array.empty[Int])))
      .drop("__sig__")
  }

  def minhashCandidatesFromShingles(shingles: DataFrame, idCol: String,
                                    shingleCol: String, k: Int = 64,
                                    bands: Int = 16): DataFrame = {
    // persisted: the bucket self-join scans `banded` twice, and without the
    // persist the analyzer's self-join de-duplication re-executes the
    // 64-lane MinHash signature on both sides — the single most expensive
    // narrow stage of the dedup family. Banded rows are (id, band, bucket)
    // ints, a fraction of the shingle frame's size.
    val banded = minhashBandBuckets(shingles, idCol, shingleCol, k, bands)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val l = banded.select(col(idCol).as("a"), col("band"), col("bucket"))
    val r = banded.select(col(idCol).as("b"), col("band"), col("bucket"))
    l.join(r, Seq("band", "bucket")).filter(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** MinHash+LSH candidate pairs: shingle -> minhash signature -> band ->
    * bucket self-join. Pairs (a < b) that share at least one band bucket. */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        shingleLen: Int = 3, k: Int = 64,
                        bands: Int = 16): DataFrame =
    minhashCandidatesFromShingles(
      df.select(col(idCol),
        TextFns.wordShingles(col(textCol), shingleLen).as("__sh")),
      idCol, "__sh", k, bands)

  /** MinHash near-duplicate pairs, verified with exact n-gram Jaccard.
    * Output: (a, b, jaccard) for pairs >= threshold.
    *
    * The shingle frame is computed ONCE and persisted — it feeds three
    * subtrees (banding plus both sides of the verify join), which would
    * otherwise re-tokenize the corpus three times. The verify join ships
    * pre-hashed shingle sets (`xxhash64` per shingle, Jaccard over the hash
    * sets) — same value as string-set Jaccard up to 64-bit collisions, at a
    * fraction of the shuffle bytes. */
  def minhashNearDups(df: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text", threshold: Double = 0.8,
                      shingleLen: Int = 3, k: Int = 64,
                      bands: Int = 16): DataFrame = {
    val sh = df.select(col(idCol),
        TextFns.wordShingles(col(textCol), shingleLen).as("__sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cands = minhashCandidatesFromShingles(sh, idCol, "__sh", k, bands)
    val hashed = sh.select(col(idCol),
      transform(col("__sh"), s => xxhash64(s)).as("sh"))
    ngramJaccardVerify(cands, hashed, idCol, threshold)
  }

  /** Incremental dedup: match a NEW batch against an EXISTING corpus
    * without any self-join — the production shape for continuous
    * ingestion, where the corpus side's shingles/band buckets are
    * precomputed once and reused per batch (materialize
    * [[minhashBandBuckets]] + the hashed shingle sets to storage; this
    * method accepts the raw frames and computes them inline).
    *
    * Returns the best corpus match per batch document:
    * `(batch_id, match_id, jaccard)` — batch docs absent from the result
    * are novel at `threshold`. Top-1 selection is a rank-1 window
    * (WindowGroupLimit: per-partition partial top-1 before the shuffle),
    * tie-broken by ascending corpus id for determinism. */
  def incrementalNearDups(batch: DataFrame, corpus: DataFrame,
                          idCol: String = "doc_id", textCol: String = "text",
                          threshold: Double = 0.6, shingleLen: Int = 3,
                          k: Int = 64, bands: Int = 16): DataFrame = {
    def shingled(df: DataFrame) = df.select(col(idCol),
      TextFns.wordShingles(col(textCol), shingleLen).as("__sh"))
    val bsh = shingled(batch)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val csh = shingled(corpus)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bBands = minhashBandBuckets(bsh, idCol, "__sh", k, bands)
      .select(col(idCol).as("b"), col("band"), col("bucket"))
    val cBands = minhashBandBuckets(csh, idCol, "__sh", k, bands)
      .select(col(idCol).as("a"), col("band"), col("bucket"))
    val cand = bBands.join(cBands, Seq("band", "bucket"))
      .select("a", "b").distinct()
    def hashed(sh: DataFrame, as: String) = sh.select(col(idCol).as(as),
      transform(col("__sh"), s => xxhash64(s)).as(s"sh_$as"))
    val verified = cand
      .join(hashed(csh, "a"), Seq("a"))
      .join(hashed(bsh, "b"), Seq("b"))
      .withColumn("jaccard", TextExprs.jaccardSim(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("b")).orderBy(col("jaccard").desc, col("a").asc)
    verified.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(col("b").as("batch_id"), col("a").as("match_id"), col("jaccard"))
  }

  /** [[incrementalNearDups]] from STORED corpus artifacts — the per-batch
    * production form the inline method's doc promises: the corpus side's
    * band buckets and hashed shingle sets are materialized ONCE (see the
    * band-index append discipline) and each batch pays only its own
    * sketch plus two joins against the stores.
    *
    * `corpusBands`: `(doc_id, band, bucket)` rows as written by
    * [[minhashBandBuckets]]; `corpusShingleHashes`: `(doc_id, sh)` with
    * `sh` = xxhash64-hashed distinct shingles (the verify-side artifact).
    * Returns the same `(batch_id, match_id, jaccard)` contract as the
    * inline form — value-identical on the same corpus, which the
    * `dedup_incremental_indexed` gate proves by reusing the inline
    * oracle verbatim. */
  def incrementalNearDupsFromArtifacts(batch: DataFrame,
                                       corpusBands: DataFrame,
                                       corpusShingleHashes: DataFrame,
                                       idCol: String = "doc_id",
                                       textCol: String = "text",
                                       threshold: Double = 0.6,
                                       shingleLen: Int = 3, k: Int = 64,
                                       bands: Int = 16): DataFrame = {
    val bsh = batch.select(col(idCol),
        TextFns.wordShingles(col(textCol), shingleLen).as("__sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bBands = minhashBandBuckets(bsh, idCol, "__sh", k, bands)
      .select(col(idCol).as("b"), col("band"), col("bucket"))
    val cand = bBands.join(
        corpusBands.select(col(idCol).as("a"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .select("a", "b").distinct()
    val bHashed = bsh.select(col(idCol).as("b"),
      transform(col("__sh"), s => xxhash64(s)).as("sh_b"))
    val verified = cand
      .join(corpusShingleHashes.select(col(idCol).as("a"),
        col("sh").as("sh_a")), Seq("a"))
      .join(bHashed, Seq("b"))
      .withColumn("jaccard", TextExprs.jaccardSim(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("b")).orderBy(col("jaccard").desc, col("a").asc)
    verified.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(col("b").as("batch_id"), col("a").as("match_id"), col("jaccard"))
  }

  /** Asymmetric containment verify — C(a,b) = |A∩B| / |A| over shingle
    * sets, the sub-document-duplication measure (Broder's containment,
    * SEQUENCES 1997): a chunk pasted inside a larger doc scores ~1 even
    * when symmetric Jaccard is low. Same join shape as
    * [[ngramJaccardVerify]]: candidate pairs × two set lookups, the
    * set arrays join-shuffled once each; `shingleSets` is persisted for
    * the same two-probe reason documented there. */
  def containmentVerify(pairs: DataFrame, shingleSets: DataFrame,
                        idCol: String, threshold: Double): DataFrame = {
    val sets = shingleSets
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pairs
      .join(sets.select(col(idCol).as("a"), col("sh").as("sh_a")), Seq("a"))
      .join(sets.select(col(idCol).as("b"), col("sh").as("sh_b")), Seq("b"))
      .withColumn("containment",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(col("sh_a")))
      .filter(col("containment") >= threshold)
      .select(col("a"), col("b"), col("containment"))
  }

  /** Exact n-gram Jaccard over candidate pairs: |A & B| / |A u B|
    * (native set-hash expression, not array_intersect/array_union).
    * `shingleSets` probes the join twice (a-side and b-side), so it is
    * persisted — otherwise the shingle computation runs twice. The cache
    * entry is released by Spark's ContextCleaner once the returned plan is
    * no longer referenced (no explicit unpersist is possible for a lazily
    * consumed result). */
  def ngramJaccardVerify(pairs: DataFrame, shingleSets: DataFrame,
                         idCol: String, threshold: Double): DataFrame = {
    val sets = shingleSets
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pairs
      .join(sets.select(col(idCol).as("a"), col("sh").as("sh_a")), Seq("a"))
      .join(sets.select(col(idCol).as("b"), col("sh").as("sh_b")), Seq("b"))
      .withColumn("jaccard", TextExprs.jaccardSim(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** SimHash near-duplicate pairs: 64-bit signature, bucketed by 16-bit
    * bands (a pair within Hamming distance 3 shares >= 1 of 4 bands by
    * pigeonhole), verified by exact Hamming distance. */
  def simhashNearDups(df: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text",
                      maxHamming: Int = 3): DataFrame = {
    // blank/whitespace-only docs all share one signature — exclude them or
    // every band bucket degenerates to the same O(n^2) pair set (the same
    // guard the MinHash path applies to empty shingle sets)
    val sigs = df
      .filter(col(textCol).isNotNull && trim(col(textCol)) =!= "")
      .select(col(idCol),
        HashExprs.simhash64(TextFns.tokens(Fns.cleanText(col(textCol)))).as("sig"))
    val banded = sigs.select(col(idCol), col("sig"),
      posexplode(array((0 until 4).map { b =>
        shiftright(col("sig"), b * 16).bitwiseAND(lit(0xffffL))
      }: _*)).as(Seq("band", "bucket")))
    val l = banded.select(col(idCol).as("a"), col("sig").as("sig_a"),
      col("band"), col("bucket"))
    val r = banded.select(col(idCol).as("b"), col("sig").as("sig_b"),
      col("band"), col("bucket"))
    l.join(r, Seq("band", "bucket")).filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        HashExprs.hamming64(col("sig_a"), col("sig_b")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Embedding near-duplicate pairs: hyperplane-LSH buckets, exact cosine
    * verification at `threshold`. Banded rows carry ids only; the vectors
    * join back per candidate pair (same shape as the DuckDB oracle). */
  def embeddingNearDups(df: DataFrame, idCol: String = "vec_id",
                        vecCol: String = "embedding",
                        threshold: Double = 0.95, nPlanes: Int = 32,
                        bands: Int = 4, dim: Int = 64): DataFrame = {
    // dim MUST cover the embedding length (HyperplaneSig truncates)
    val planes = VectorFns.randomPlanes(nPlanes, dim)
    val banded = VectorFns.lshBuckets(df, Seq(idCol), vecCol, planes,
      bands, nPlanes / bands)
    val l = banded.select(col(idCol).as("a"), col("band"), col("key"))
    val r = banded.select(col(idCol).as("b"), col("band"), col("key"))
    val cand = l.join(r, Seq("band", "key")).filter(col("a") < col("b"))
      .select("a", "b").distinct()
    cand
      .join(df.select(col(idCol).as("a"), col(vecCol).as("va")), Seq("a"))
      .join(df.select(col(idCol).as("b"), col(vecCol).as("vb")), Seq("b"))
      .withColumn("cosine", VectorFns.cosine(col("va"), col("vb")))
      .filter(col("cosine") >= threshold)
      .select(col("a"), col("b"), col("cosine"))
  }

  /** Incremental embedding dedup — the hyperplane-LSH twin of
    * [[incrementalNearDups]], completing the per-batch probe across all
    * three near-dup tiers (MinHash text, IVF vectors via
    * `Similarity.appendIvfIndex`, and this): a NEW vector batch matches
    * an EXISTING corpus through an asymmetric band join (batch
    * signatures × corpus signatures on `(band, key)` — never a corpus
    * self-join), exact-cosine verified, rank-1 per batch vector
    * (cosine DESC, corpus id ASC). Returns `(batch_id, match_id,
    * cosine)`; batch vectors absent from the result are novel at
    * `threshold`. At scale the corpus side's signatures are the stored
    * artifact (band key space is FIXED here — 256 values per band at
    * the defaults — so the store is also the natural bucket layout). */
  def incrementalEmbeddingNearDups(batch: DataFrame, corpus: DataFrame,
                                   idCol: String = "vec_id",
                                   vecCol: String = "embedding",
                                   threshold: Double = 0.95,
                                   nPlanes: Int = 32, bands: Int = 4,
                                   dim: Int = 64): DataFrame = {
    val planes = VectorFns.randomPlanes(nPlanes, dim)
    def bandsOf(df: DataFrame, as: String) =
      VectorFns.lshBuckets(df, Seq(idCol), vecCol, planes, bands,
          nPlanes / bands)
        .select(col(idCol).as(as), col("band"), col("key"))
    val cand = bandsOf(batch, "b")
      .join(bandsOf(corpus, "a"), Seq("band", "key"))
      .select("a", "b").distinct()
    val verified = cand
      .join(corpus.select(col(idCol).as("a"), col(vecCol).as("va")),
        Seq("a"))
      .join(batch.select(col(idCol).as("b"), col(vecCol).as("vb")),
        Seq("b"))
      .withColumn("cosine", VectorFns.cosine(col("va"), col("vb")))
      .filter(col("cosine") >= threshold)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("b")).orderBy(col("cosine").desc, col("a").asc)
    verified.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("b").as("batch_id"), col("a").as("match_id"),
        col("cosine"))
  }

  /** [[embeddingNearDups]] with the [[capBuckets]] guard on its
    * hyperplane band buckets: `(verified pairs (a, b, cosine),
    * dropped-bucket report (band, key, width, pairs_dropped))`. Like
    * SimHash — and unlike the MinHash tier's unbounded slice-value keys —
    * the hyperplane band key space is FIXED (2^(nPlanes/bands) values per
    * band; 256 at the defaults), so bucket width grows LINEARLY with
    * corpus size and the guard is load-bearing at scale, not just against
    * planted families. The band key is engine-equal (signature bits), so
    * the report restates raw. */
  def embeddingNearDupsCapped(df: DataFrame, idCol: String = "vec_id",
                              vecCol: String = "embedding",
                              threshold: Double = 0.95, nPlanes: Int = 32,
                              bands: Int = 4, dim: Int = 64,
                              maxBucketWidth: Int = 1024)
      : (DataFrame, DataFrame) = {
    val planes = VectorFns.randomPlanes(nPlanes, dim)
    val banded = VectorFns.lshBuckets(df, Seq(idCol), vecCol, planes,
        bands, nPlanes / bands)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (kept, dropped) = capBuckets(banded, Seq("band", "key"),
      maxBucketWidth)
    val l = kept.select(col(idCol).as("a"), col("band"), col("key"))
    val r = kept.select(col(idCol).as("b"), col("band"), col("key"))
    val cand = l.join(r, Seq("band", "key")).filter(col("a") < col("b"))
      .select("a", "b").distinct()
    val pairs = cand
      .join(df.select(col(idCol).as("a"), col(vecCol).as("va")), Seq("a"))
      .join(df.select(col(idCol).as("b"), col(vecCol).as("vb")), Seq("b"))
      .withColumn("cosine", VectorFns.cosine(col("va"), col("vb")))
      .filter(col("cosine") >= threshold)
      .select(col("a"), col("b"), col("cosine"))
    (pairs, dropped)
  }

  /** Line-level boilerplate removal (the CCNet/C4 paragraph-dedup
    * discipline — Wenzek et al., "CCNet", LREC 2020 dedups at paragraph
    * granularity; Raffel et al., "C4", JMLR 2020 strips boilerplate
    * lines): a line that occurs in at least `minDocFreq` DISTINCT
    * documents is corpus-level boilerplate (navigation chrome, cookie
    * banners, license footers) and is removed from every document; the
    * remaining lines are reassembled in original order.
    *
    * Output: one row per input document — `(idCol, clean_text,
    * n_removed)`, where documents whose every line was boilerplate
    * survive with an empty `clean_text` (removal must not silently drop
    * the document row — the caller decides whether empty docs die).
    *
    * Scale shape: explode to (doc, line_no, line) — bounded fan-out, one
    * row per line of input; document frequency is one map-side-combined
    * aggregate keyed on the line text; the keep/drop decision joins the
    * line frame to that df frame on the SAME key, so the exchange is
    * reused (co-partitioned); reassembly is one groupBy(doc) with an
    * in-memory array_sort over that document's own lines (bounded by
    * document size, never corpus-sized). No driver collect, no cross
    * join. For corpora with pathologically long lines, hash the line
    * (fnv1a64) as the df/join key and keep the raw text only in the
    * line frame — same plan, narrower shuffle. */
  def boilerplateLines(docs: DataFrame, minDocFreq: Long,
                       idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    val lines = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol),
        posexplode(split(col(textCol), "\n", -1)).as(Seq("line_no", "line")))
      .withColumn("__lh", xxhash64(col("line")))
    // doc frequency keyed on the 8-byte line HASH, not the line text (the
    // scaladoc's "hash the line" rule, now applied): the df aggregate and
    // the join's build side ship a long instead of the raw line — same
    // values up to 64-bit collisions, the contract every verify join in
    // this file already uses; the line text itself crosses the exchange
    // once, as the probe side's payload
    val lineDf = lines
      .groupBy(col("__lh"))
      .agg(countDistinct(col(idCol)).as("__df"))
    val kept = lines.join(lineDf, Seq("__lh"))
      .filter(col("__df") < minDocFreq)
      .groupBy(col(idCol))
      .agg(
        concat_ws("\n",
          transform(array_sort(collect_list(struct(col("line_no"), col("line")))),
            t => t.getField("line"))).as("clean_text"),
        count(lit(1)).as("__n_kept"))
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol),
        size(split(col(textCol), "\n", -1)).as("__n_lines"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        (col("__n_lines") - coalesce(col("__n_kept"), lit(0L)))
          .cast("long").as("n_removed"))
  }

  /** DuckDB mirror of the `dedup_embedding` gate:
    * `embeddingNearDups` (nPlanes=32, bands=4, threshold) over the
    * embeddings fixture unioned with planted perturbed copies
    * (+0.05f on element 0, ids +100000). Bit-exact — the hyperplane matrix
    * is embedded as literals and every fold replicates
    * [[graft.functions.VectorExprs]] (see [[graft.functions.VectorOracleSql]]). */
  def embeddingOracleSql(threshold: Double = 0.98, nPlanes: Int = 32,
                         bands: Int = 4): String =
    s"""WITH ${embeddingChainCtes(withFamily = false, cap = None, nPlanes, bands)}
       |${embeddingVerifySelect(threshold)}""".stripMargin

  /** Shared CTE chain of the embedding-LSH oracles: planted-perturbed
    * `corpus` (optionally + the 40-copy CONSTANT-vector family — identical
    * vectors ⇒ identical signatures ⇒ one width-40 bucket per band),
    * hyperplane signatures, `banded`, and — when `cap` is set — the
    * `ewidths`/`edropped` guard CTEs with a width-filtered `cand`
    * (mirror of [[embeddingNearDupsCapped]]). */
  private def embeddingChainCtes(withFamily: Boolean, cap: Option[Int],
                                 nPlanes: Int, bands: Int): String = {
    import graft.functions.{VectorOracleSql => V}
    val planes = VectorFns.randomPlanes(nPlanes, 64)
    val bitsPerBand = nPlanes / bands
    val mask = (1L << bitsPerBand) - 1
    val bandVals = (0 until bands).map(b => s"($b)").mkString("(VALUES ", ", ", ")")
    val family = if (!withFamily) "" else
      s"""
         |  UNION ALL
         |  SELECT 500000 + r AS vec_id,
         |         list_transform(range(1, 65), i -> CAST(0.5 AS FLOAT)) AS embedding
         |  FROM (SELECT unnest(range(0, 40)) AS r)""".stripMargin
    val capCtes = cap.fold("") { c =>
      s""", ewidths AS (
         |  SELECT band, key, CAST(COUNT(*) AS BIGINT) AS width
         |  FROM banded GROUP BY band, key
         |), edropped AS (
         |  SELECT band, key, width, width * (width - 1) // 2 AS pairs_dropped
         |  FROM ewidths WHERE width > $c
         |)""".stripMargin
    }
    val capJoin = cap.fold("") { c =>
      s"""
         |  JOIN ewidths w ON l.band = w.band AND l.key = w.key AND w.width <= $c""".stripMargin
    }
    s"""corpus AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 100000 AS vec_id,
       |         list_concat([CAST(embedding[1] + CAST(0.05 AS FLOAT) AS FLOAT)],
       |                     embedding[2:64]) AS embedding
       |  FROM embeddings$family
       |),
       |${V.sigCtes("corpus", "vec_id", "embedding", planes)},
       |banded AS (
       |  SELECT s.id AS vec_id, b.band, (sig >> (b.band * $bitsPerBand)) & $mask AS key
       |  FROM __sigs_corpus s CROSS JOIN $bandVals AS b(band)
       |)$capCtes, cand AS (
       |  SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
       |  FROM banded l JOIN banded r ON l.band = r.band AND l.key = r.key$capJoin
       |  WHERE l.vec_id < r.vec_id
       |)""".stripMargin
  }

  private def embeddingVerifySelect(threshold: Double): String = {
    import graft.functions.{VectorOracleSql => V}
    s"""SELECT a, b, cosine FROM (
       |  SELECT c.a, c.b, ${V.cosine("ca.embedding", "cb.embedding")} AS cosine
       |  FROM cand c JOIN corpus ca ON ca.vec_id = c.a JOIN corpus cb ON cb.vec_id = c.b
       |) WHERE cosine >= $threshold
       |ORDER BY a, b""".stripMargin
  }

  /** Full oracle for `dedup_embedding_incremental`
    * ([[incrementalEmbeddingNearDups]]: corpus = embeddings, batch = the
    * +100000 perturbed copies): the same chain as `dedup_embedding`,
    * with the symmetric `cand` restricted to corpus-side a < 100000 ≤
    * batch-side b (the [[incrementalNearCtes]] equivalence — restricted
    * symmetric candidates ARE the asymmetric band join's output), then
    * rank-1 per batch vector by (cosine DESC, corpus id ASC). */
  def embeddingIncrementalOracleSql(threshold: Double = 0.98,
                                    nPlanes: Int = 32,
                                    bands: Int = 4): String = {
    import graft.functions.{VectorOracleSql => V}
    s"""WITH ${embeddingChainCtes(withFamily = false, cap = None, nPlanes, bands)},
       |ivp AS (
       |  SELECT c.a, c.b, ${V.cosine("ca.embedding", "cb.embedding")} AS cosine
       |  FROM cand c JOIN corpus ca ON ca.vec_id = c.a JOIN corpus cb ON cb.vec_id = c.b
       |  WHERE c.a < 100000 AND c.b >= 100000
       |)
       |SELECT batch_id, match_id, cosine FROM (
       |  SELECT b AS batch_id, a AS match_id, cosine,
       |    ROW_NUMBER() OVER (PARTITION BY b ORDER BY cosine DESC, a) AS rn
       |  FROM ivp WHERE cosine >= $threshold
       |) WHERE rn = 1 ORDER BY batch_id""".stripMargin
  }

  /** Full oracle for `dedup_embedding_capped`
    * ([[embeddingNearDupsCapped]] over the planted corpus + constant-
    * vector mega-bucket family). */
  def embeddingCappedOracleSql(threshold: Double = 0.98, nPlanes: Int = 32,
                               bands: Int = 4,
                               maxBucketWidth: Int = 16): String =
    s"""WITH ${embeddingChainCtes(withFamily = true,
        cap = Some(maxBucketWidth), nPlanes, bands)}
       |${embeddingVerifySelect(threshold)}""".stripMargin

  /** Full oracle for `dedup_embedding_capped_report` — raw rows: the
    * hyperplane band key is the band's signature bits (engine-equal). */
  def embeddingCappedReportOracleSql(nPlanes: Int = 32, bands: Int = 4,
                                     maxBucketWidth: Int = 16): String =
    s"""WITH ${embeddingChainCtes(withFamily = true,
        cap = Some(maxBucketWidth), nPlanes, bands)}
       |SELECT CAST(band AS INTEGER) AS band, CAST(key AS BIGINT) AS key,
       |  width, pairs_dropped
       |FROM edropped ORDER BY band, key""".stripMargin
}
