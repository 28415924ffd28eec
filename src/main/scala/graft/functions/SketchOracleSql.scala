package graft.functions

import java.lang.Long.toUnsignedString

/** DuckDB-SQL generators that mirror the text-sketch expressions
  * ([[HashExprs]], [[TextExprs]]) bit-for-bit, so `dedup_minhash`,
  * `dedup_simhash` and `dedup_ngram_jaccard` get full oracle coverage
  * instead of rows-only checks (same pattern as [[VectorOracleSql]]).
  *
  * 64-bit wraparound arithmetic is restated in DuckDB HUGEINT (128-bit)
  * with explicit `% 2^64` reductions:
  *  - FNV-1a64 ([[HashExprs.fnv1a64]]): the per-byte `h ^= b; h *= prime`
  *    fold. `h * prime < 2^104` fits HUGEINT directly; the XOR only touches
  *    the low byte, so it is computed on BIGINT (`h % 256` vs `b < 256`).
  *    The byte fold walks genuine UTF-8 OCTETS (hex-pair extraction over
  *    `encode(s)`, r16) — byte-identical to the engine for any text.
  *    Tokenization parity is NOT free: Java's `\s` is `[ \t\n\x0B\f\r]`
  *    (six characters, vertical tab included) while RE2's `\s` is
  *    `[\t\n\f\r ]` (five -- NO vertical tab), so a raw `\s+` would
  *    tokenize a VT-bearing document differently per engine (r16 ADVICE).
  *    Every oracle whitespace regex therefore spells the JAVA class
  *    explicitly -- `[ \t\n\x0B\f\r]+` -- and `dedup_minhash_nonascii`
  *    pins the whole tier cross-engine on a corpus with planted
  *    multi-byte text AND a planted vertical-tab document
  *    (doc_id % 61 == 5).
  *  - MinHash lane `a*h + b mod 2^64` ([[HashExprs.MinHashSig]]): `a*h` can
  *    reach 2^128, overflowing HUGEINT, so the multiply is split at 32 bits:
  *    `(a_lo*h_lo + 2^32*((a_lo*h_hi + a_hi*h_lo) mod 2^32)) mod 2^64` —
  *    every partial product < 2^64. Lane mins compare SIGNED longs (the
  *    Scala code compares Long), so the unsigned value is reinterpreted
  *    (`u >= 2^63 -> u - 2^64`) before MIN.
  *  - LSH banding: Spark buckets by `hash("band", b, slice(sig, ...))`
  *    (Murmur3); two rows share a bucket iff their lane slices are equal
  *    (modulo Murmur3 collisions, ~2^-32 per pair and further gated by the
  *    exact-similarity verify), so the oracle joins on the slice VALUES
  *    (comma-joined) instead of restating Murmur3.
  *  - Jaccard verify: the engine hashes shingles with xxhash64 to shrink
  *    the candidate shuffle; |A&B|/|AuB| is identical on the raw string
  *    sets (modulo 64-bit hash collisions), so the oracle uses
  *    `list_intersect` on the strings.
  */
object SketchOracleSql {

  private val U64 = "CAST('18446744073709551616' AS HUGEINT)" // 2^64
  private val S63 = "CAST('9223372036854775808' AS HUGEINT)"  // 2^63

  /** FNV-1a64 of a string SQL expression as unsigned HUGEINT, folding the
    * UTF-8 BYTES — the engine's `HashExprs.fnv1a64` semantics for ANY
    * text, not just ASCII (r16; formerly `ascii` over `string_split`,
    * which reads CODE POINTS and required the ASCII guard). Bytes come
    * from hex-pair extraction over `encode(expr)`; the single-element
    * `list_transform` binds the hex string once so the encode doesn't
    * re-run per byte (the multimodal byte-view discipline, COVERAGE
    * checklist rule 8). Value-identical to the old fold on ASCII input. */
  def fnvFold(expr: String): String =
    s"""list_reduce(
       |    list_prepend(CAST('14695981039346656037' AS HUGEINT),
       |      list_transform([hex(encode($expr))], __hx ->
       |        list_transform(range(1, CAST(length(__hx) // 2 AS BIGINT) + 1),
       |          i -> CAST(CAST(('0x' || substr(__hx, CAST(2 * i - 1 AS INTEGER), 2))
       |            AS INTEGER) AS HUGEINT)))[1]),
       |    (h, b) -> ((h - (h % 256) + CAST(xor(CAST(h % 256 AS BIGINT), CAST(b AS BIGINT)) AS HUGEINT))
       |               * 1099511628211) % $U64)""".stripMargin

  /** Unsigned HUGEINT -> signed BIGINT reinterpretation. */
  private def signed(u: String): String =
    s"CAST(CASE WHEN $u >= $S63 THEN $u - $U64 ELSE $u END AS BIGINT)"

  /** [[fnvFold]] reinterpreted as the engine's signed BIGINT hash. */
  def fnvSigned(expr: String): String = signed(fnvFold(expr))

  /** The planted near-dup corpus every dedup_* query runs on: documents
    * plus copies with ids +100000 and `data` -> `info` ('g' = replace ALL,
    * matching Spark's regexp_replace).
    *
    * The r14 fail-loud `ascii_guard` CTE is GONE (r16): [[fnvFold]] now
    * folds genuine UTF-8 octets, so the restriction it guarded no longer
    * exists — and instead of trusting that silently, the
    * `dedup_minhash_nonascii` gate runs the full sketch→band→verify tier
    * over a corpus with PLANTED multi-byte documents on both engines. */
  val corpusCte: String =
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000 AS doc_id, regexp_replace(text, '\bdata\b', 'info', 'g') AS text
      |  FROM documents
      |)""".stripMargin

  /** The 40-word cycle behind the planted MEGA-BUCKET family (the
    * `dedup_*_capped` gates): each family document is a different ROTATION
    * of this cycle, repeated twice. A rotation repeated ≥ 2× has exactly
    * the cycle's 40 cyclic word-3-grams as its DISTINCT shingle set — the
    * same set for every rotation — so all 40 family docs carry an
    * IDENTICAL MinHash signature (and, the multiset of tokens being equal
    * too, an identical SimHash signature) and land in ONE bucket of width
    * 40 in every band: a guaranteed, deterministic over-cap bucket. The
    * texts themselves are pairwise DISTINCT (different rotations), so the
    * family deliberately survives the exact tier — it models the
    * viral-boilerplate family that only the bucket-width guard can bound.
    * Shared verbatim by the engine fixture (DedupGates) and the oracle
    * ([[rotationFamilyCte]]). */
  val RotationWords: Seq[String] = Seq(
    "the", "of", "and", "to", "in", "is", "it", "that", "for",
    "boilerplate", "template", "family", "viral", "banner", "cookie",
    "consent", "notice", "click", "here", "accept", "terms", "privacy",
    "policy", "rights", "reserved", "subscribe", "newsletter", "updates",
    "follow", "social", "media", "share", "like", "comment", "footer",
    "header", "navigation", "menu", "search", "contact")

  /** Id base for the planted rotation family (clear of the organic ids and
    * the +100000 perturbed-copy band). */
  val RotationFamilyBase: Long = 500000L

  /** `family(doc_id, text)` — the 40 rotation documents, built in SQL from
    * the same word cycle the engine fixture uses: rotation r is
    * `words[r+1:40] ++ words[1:r]`, joined on single spaces and repeated
    * twice with a space between. */
  def rotationFamilyCte: String = {
    val n = RotationWords.size
    val lit = RotationWords.map(w => s"'$w'").mkString("[", ", ", "]")
    // NOTE: no line here may BEGIN with "||" — this fragment nests inside
    // further stripMargin interpolations, which would eat leading pipes
    s"""family AS (
       |  SELECT $RotationFamilyBase + rr.r AS doc_id,
       |    array_to_string(list_concat(w.words[rr.r+1:$n], w.words[1:rr.r]), ' ') ||
       |      ' ' ||
       |    array_to_string(list_concat(w.words[rr.r+1:$n], w.words[1:rr.r]), ' ') AS text
       |  FROM (SELECT unnest(range(0, $n)) AS r) rr
       |  CROSS JOIN (SELECT $lit AS words) w
       |)""".stripMargin
  }

  /** The `dedup_*_capped` corpus: the standard planted near-dup corpus
    * ([[corpusCte]]) plus the rotation mega-bucket family. */
  def cappedCorpusCtes: String =
    s"""$rotationFamilyCte, corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 100000 AS doc_id, regexp_replace(text, '\\bdata\\b', 'info', 'g') AS text
       |  FROM documents
       |  UNION ALL
       |  SELECT doc_id, text FROM family
       |)""".stripMargin

  /** CTE chain corpus -> `sh(doc_id, sh)` (distinct word n-gram shingles,
    * [[TextExprs.WordShingles]]) -> `cand(a, b)` (MinHash banded LSH
    * candidate pairs, [[graft.operators.Dedup.minhashCandidatesFromShingles]]).
    * Lane constants replicate [[HashExprs.MinHashSig]]'s derivation. */
  def minhashCandCtes(shingleLen: Int = 3, k: Int = 64,
                      bands: Int = 16): String =
    minhashCandCtes(shingleLen, k, bands, None)

  /** [[minhashCandCtes]] with the mega-bucket cap restated
    * ([[graft.operators.Dedup.minhashCandidatesCapped]]): when
    * `maxBucketWidth` is set, `cand` keeps only pairs from buckets whose
    * width is within the cap, and two extra CTEs surface the guard —
    * `bwidths(band, key, width)` (every bucket's width) and
    * `bdropped(band, key, width, pairs_dropped)` (the over-cap report).
    * Bucket identity is the slice-VALUES key (the established
    * Murmur3-equivalence: same slice values ⇔ same engine bucket, modulo
    * ~2^-32 collisions, which cannot flip a width across the cap unless
    * the colliding partner is itself corpus-wide). */
  def minhashCandCtes(shingleLen: Int, k: Int, bands: Int,
                      maxBucketWidth: Option[Int]): String = {
    val rows = k / bands
    val coefA = Array.tabulate(k)(i =>
      HashExprs.fnv1a64(s"minhash-a-$i".getBytes("UTF-8")) | 1L)
    val coefB = Array.tabulate(k)(i =>
      HashExprs.fnv1a64(s"minhash-b-$i".getBytes("UTF-8")))
    val laneVals = (0 until k).map { l =>
      val aLo = toUnsignedString(coefA(l) & 0xffffffffL)
      val aHi = toUnsignedString(coefA(l) >>> 32)
      val b = toUnsignedString(coefB(l))
      s"($l, CAST('$aLo' AS HUGEINT), CAST('$aHi' AS HUGEINT), CAST('$b' AS HUGEINT))"
    }.mkString(", ")
    s"""toks AS (
       |  SELECT doc_id, string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS t FROM corpus WHERE text IS NOT NULL
       |), sh AS (
       |  SELECT doc_id, list_distinct(list_transform(range(1, len(t) - $shingleLen + 2),
       |           i -> array_to_string(t[i:i+${shingleLen - 1}], ' '))) AS sh
       |  FROM toks
       |), shx AS (
       |  SELECT doc_id, unnest(sh) AS s FROM sh WHERE len(sh) > 0
       |), hashed AS (
       |  SELECT doc_id, ${fnvFold("s")} AS h FROM shx
       |), hsplit AS (
       |  SELECT doc_id, h % 4294967296 AS h_lo, h // 4294967296 AS h_hi FROM hashed
       |), lanes AS (
       |  SELECT doc_id, lane, MIN(${signed("u")}) AS lane_min
       |  FROM (
       |    SELECT doc_id, lc.lane,
       |      ((a_lo * h_lo + ((a_lo * h_hi + a_hi * h_lo) % 4294967296) * 4294967296)
       |        % $U64 + b_add) % $U64 AS u
       |    FROM hsplit CROSS JOIN (VALUES $laneVals) AS lc(lane, a_lo, a_hi, b_add)
       |  ) GROUP BY doc_id, lane
       |), sigs AS (
       |  SELECT doc_id, list(lane_min ORDER BY lane) AS sig FROM lanes GROUP BY doc_id
       |), banded AS (
       |  SELECT doc_id, b.band,
       |         array_to_string(sig[b.band*$rows+1:b.band*$rows+$rows], ',') AS key
       |  FROM sigs CROSS JOIN (SELECT unnest(range(0, $bands)) AS band) b
       |)${maxBucketWidth.fold(", cand AS (" +
        """
       |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
       |  FROM banded l JOIN banded r ON l.band = r.band AND l.key = r.key
       |  WHERE l.doc_id < r.doc_id
       |)""".stripMargin) { cap =>
        s""", bwidths AS (
       |  SELECT band, key, CAST(COUNT(*) AS BIGINT) AS width
       |  FROM banded GROUP BY band, key
       |), bdropped AS (
       |  SELECT band, key, width, width * (width - 1) // 2 AS pairs_dropped
       |  FROM bwidths WHERE width > $cap
       |), cand AS (
       |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
       |  FROM banded l JOIN banded r ON l.band = r.band AND l.key = r.key
       |  JOIN bwidths w ON l.band = w.band AND l.key = w.key
       |  WHERE l.doc_id < r.doc_id AND w.width <= $cap
       |)""".stripMargin
      }}""".stripMargin
  }

  /** Exact Jaccard between the `ga`/`gb` sides of a pair join. Integer
    * |A&B| and |AuB| divide exactly like the engine's
    * `inter.toDouble / union`. */
  private def jaccardExpr(setCol: String): String = {
    val inter = s"len(list_intersect(ga.$setCol, gb.$setCol))"
    s"CAST($inter AS DOUBLE) / (len(ga.$setCol) + len(gb.$setCol) - $inter)"
  }

  /** Jaccard select over candidate pairs joined to a `(doc_id, <setCol>)`
    * relation (already-distinct lists). */
  private def jaccardSelect(setsRel: String, setCol: String,
                            threshold: Double): String = {
    val jac = jaccardExpr(setCol)
    s"""SELECT c.a, c.b, $jac AS jaccard
       |FROM cand c JOIN $setsRel ga ON ga.doc_id = c.a JOIN $setsRel gb ON gb.doc_id = c.b
       |WHERE $jac >= $threshold
       |ORDER BY a, b""".stripMargin
  }

  /** Full oracle for `dedup_minhash`: banded candidates verified with exact
    * word-3-shingle Jaccard at `threshold`. */
  def minhashOracleSql(threshold: Double = 0.6): String =
    s"""WITH $corpusCte,
       |${minhashCandCtes()}
       |${jaccardSelect("sh", "sh", threshold)}""".stripMargin

  /** `dedup_minhash_nonascii`: the identical tier over a corpus whose
    * doc_id % 61 == 3 documents carry the planted multi-byte suffix
    * (é ° 漢 as chr() calls) and whose doc_id % 61 == 5 documents carry a
    * planted VERTICAL TAB between two suffix words (chr(11)) — the
    * cross-engine proof that the byte-true [[fnvFold]] and the explicit
    * Java-whitespace-class tokenization agree on non-ASCII text and on
    * the one character where Java `\s` and RE2 `\s` differ. */
  def minhashNonAsciiOracleSql(threshold: Double = 0.6): String = {
    val planted = "CASE WHEN doc_id % 61 = 3 THEN text || chr(233) || " +
      "chr(176) || chr(28450) " +
      "WHEN doc_id % 61 = 5 THEN text || chr(10) || 'vt' || chr(11) || 'split marker' " +
      "ELSE text END"
    s"""WITH corpus AS (
       |  SELECT doc_id, $planted AS text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 100000 AS doc_id,
       |    regexp_replace($planted, '\\bdata\\b', 'info', 'g') AS text
       |  FROM documents
       |),
       |${minhashCandCtes()}
       |${jaccardSelect("sh", "sh", threshold)}""".stripMargin
  }

  /** Full oracle for `dedup_minhash_capped`
    * ([[graft.operators.Dedup.minhashNearDupsCapped]] over the planted
    * corpus + rotation mega-bucket family): the identical tier, with
    * pairs generated only from buckets within the width cap — the whole
    * 780-pair rotation family vanishes from the candidate set while the
    * organic perturbed-copy pairs still verify. */
  def minhashCappedOracleSql(threshold: Double = 0.6,
                             maxBucketWidth: Int = 16): String =
    s"""WITH $cappedCorpusCtes,
       |${minhashCandCtes(3, 64, 16, Some(maxBucketWidth))}
       |${jaccardSelect("sh", "sh", threshold)}""".stripMargin

  /** Full oracle for `dedup_minhash_capped_report`: the dropped-bucket
    * report aggregated per band — `(band, n_buckets, n_docs,
    * pairs_dropped)`. Aggregated because the engine's bucket id is a
    * Murmur3 hash the oracle deliberately does not restate (the slice-
    * values equivalence); the per-band totals are hash-free and pin the
    * guard's accounting exactly: every band must report the one
    * width-40 family bucket, 780 pairs dropped. */
  def minhashCappedReportOracleSql(maxBucketWidth: Int = 16): String =
    s"""WITH $cappedCorpusCtes,
       |${minhashCandCtes(3, 64, 16, Some(maxBucketWidth))}
       |SELECT CAST(band AS INTEGER) AS band,
       |  CAST(COUNT(*) AS BIGINT) AS n_buckets,
       |  CAST(SUM(width) AS BIGINT) AS n_docs,
       |  CAST(SUM(pairs_dropped) AS BIGINT) AS pairs_dropped
       |FROM bdropped GROUP BY band ORDER BY band""".stripMargin

  /** Full oracle for `dedup_cluster`
    * ([[graft.operators.Cluster.connectedComponents]] over the verified
    * MinHash pairs): min-reachable-id per node via a recursive reachability
    * CTE. `UNION` (distinct) makes the recursion a terminating fixpoint;
    * fixture components are small, so the transitive closure the oracle
    * materializes stays tiny even though the ENGINE never builds it (label
    * propagation carries only one label per node per round). */
  /** Shared CTE chain for the connected-components oracles: planted
    * corpus -> MinHash candidates -> verified pairs -> symmetric edges ->
    * recursive reachability -> `cc(doc_id, cluster_rep)`. */
  /** Planted corpus -> MinHash candidates -> verified pairs -> symmetric
    * `edges(src, dst)` — shared by the CC and PageRank oracles. */
  /** `vpairs(a, b)` — MinHash candidates verified at exact shingle Jaccard
    * >= `threshold`; must follow [[corpusCte]] + [[minhashCandCtes]] in the
    * WITH chain. Public so composite audits (split leakage) can restate the
    * verified-pair stage without duplicating the Jaccard arithmetic. */
  def vpairsCte(threshold: Double): String =
    s"""vpairs AS (
       |  SELECT c.a, c.b
       |  FROM cand c JOIN sh ga ON ga.doc_id = c.a JOIN sh gb ON gb.doc_id = c.b
       |  WHERE ${jaccardExpr("sh")} >= $threshold
       |)""".stripMargin

  private def edgeCtes(threshold: Double): String =
    s"""$corpusCte,
       |${minhashCandCtes()},
       |${vpairsCte(threshold)}, edges AS (
       |  SELECT a AS src, b AS dst FROM vpairs
       |  UNION
       |  SELECT b AS src, a AS dst FROM vpairs
       |)""".stripMargin

  private def ccCtes(threshold: Double): String =
    s"""WITH RECURSIVE ${edgeCtes(threshold)}, reach AS (
       |  SELECT src, src AS dst FROM (SELECT DISTINCT src FROM edges)
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
       |), cc AS (
       |  SELECT src AS doc_id, MIN(dst) AS cluster_rep FROM reach GROUP BY src
       |)""".stripMargin

  def clusterOracleSql(threshold: Double = 0.6): String =
    s"""${ccCtes(threshold)}
       |SELECT doc_id, cluster_rep FROM cc ORDER BY doc_id""".stripMargin

  /** The full `WITH RECURSIVE … cc(doc_id, cluster_rep)` chain, public so
    * composite gates (dedup-aware retrieval) can extend the WITH list
    * past `cc` instead of re-spelling the recursion. */
  def ccChain(threshold: Double = 0.6): String = ccCtes(threshold)

  /** Full oracle for `graph_pagerank` ([[graft.operators.Cluster.pagerank]]
    * over the verified MinHash pair graph): the same fixed rounds unrolled
    * as CTEs — `pr/deg` mass pushed along edges, decimal-carrier in-mass
    * sums, `(1.0 - damping)` teleport written as the IEEE subtraction on
    * both sides (a rounded 0.15 literal would differ in the last ulp). */
  def pagerankOracleSql(threshold: Double = 0.6, iters: Int = 3,
                        damping: Double = 0.85): String = {
    val rounds = (1 to iters).map { k =>
      s"""pr$k AS (
         |  SELECT m.node, d.deg, n.n_nodes,
         |    (CAST(1.0 AS DOUBLE) - CAST($damping AS DOUBLE)) / n.n_nodes
         |      + CAST($damping AS DOUBLE) * CAST(m.mass AS DOUBLE) AS pr
         |  FROM (
         |    SELECT e.dst AS node,
         |      SUM(CAST(p.pr / p.deg AS DECIMAL(28,14))) AS mass
         |    FROM edges e JOIN pr${k - 1} p ON e.src = p.node
         |    GROUP BY e.dst
         |  ) m JOIN deg d ON d.node = m.node CROSS JOIN nn n
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${edgeCtes(threshold)},
       |deg AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src),
       |nn AS (SELECT COUNT(*) AS n_nodes FROM deg),
       |pr0 AS (
       |  SELECT d.node, d.deg, n.n_nodes,
       |    CAST(1.0 AS DOUBLE) / n.n_nodes AS pr
       |  FROM deg d CROSS JOIN nn n
       |),
       |$rounds
       |SELECT node AS doc_id, deg, pr FROM pr$iters ORDER BY doc_id""".stripMargin
  }

  /** Full oracle for `graph_hits` ([[graft.operators.Cluster.hits]] over
    * the verified MinHash pair graph): the same unnormalized integer
    * rounds unrolled — a_r = A·h_(r-1), h_r = A·a_r, all BIGINT walk
    * counts. */
  def hitsOracleSql(threshold: Double = 0.6, iters: Int = 2): String = {
    val rounds = (1 to iters).map { r =>
      s"""a$r AS (
         |  SELECT e.dst AS node, CAST(SUM(h.hub) AS BIGINT) AS auth
         |  FROM edges e JOIN h${r - 1} h ON e.src = h.node
         |  GROUP BY e.dst
         |), h$r AS (
         |  SELECT e.src AS node, CAST(SUM(a.auth) AS BIGINT) AS hub
         |  FROM edges e JOIN a$r a ON e.dst = a.node
         |  GROUP BY e.src
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${edgeCtes(threshold)},
       |deg AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src),
       |h0 AS (SELECT node, CAST(1 AS BIGINT) AS hub FROM deg),
       |$rounds
       |SELECT d.node AS doc_id, d.deg, a$iters.auth, h$iters.hub
       |FROM deg d
       |JOIN a$iters ON a$iters.node = d.node
       |JOIN h$iters ON h$iters.node = d.node
       |ORDER BY doc_id""".stripMargin
  }

  /** Full oracle for `graph_bfs_hops` ([[graft.operators.Graph.bfsHops]]
    * over the planted 50-rank chain graph): the same synchronous frontier
    * rounds unrolled — push dist+1 along edges, MIN-merge with standing
    * distances. Integer-only. */
  def bfsOracleSql(rounds: Int = 4): String = {
    val rs = (1 to rounds).map { r =>
      s"""d$r AS (
         |  SELECT node, MIN(dist) AS dist FROM (
         |    SELECT node, dist FROM d${r - 1}
         |    UNION ALL
         |    SELECT e.dst AS node, d.dist + 1 AS dist
         |    FROM d${r - 1} d JOIN edges e ON e.src = d.node
         |  ) GROUP BY node
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH n AS (
       |  SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rn
       |  FROM documents
       |), pairs AS (
       |  SELECT a.doc_id AS a, b.doc_id AS b
       |  FROM n a JOIN n b ON b.rn = a.rn + 1
       |  WHERE a.rn % 50 <> 0
       |), edges AS (
       |  SELECT a AS src, b AS dst FROM pairs
       |  UNION
       |  SELECT b AS src, a AS dst FROM pairs
       |),
       |d0 AS (SELECT (SELECT MIN(src) FROM edges) AS node, 0 AS dist),
       |$rs
       |SELECT node AS doc_id, dist FROM d$rounds ORDER BY doc_id""".stripMargin
  }

  /** Full oracle for `text_textrank` ([[graft.operators.TextRank]]): the
    * word-adjacency edge set, then the SAME unrolled PageRank rounds as
    * [[pagerankOracleSql]] (decimal-carrier mass sums, identical
    * constants), top-k by rank. */
  def textrankOracleSql(k: Int = 50, iters: Int = 3, minLen: Int = 3,
                        damping: Double = 0.85): String = {
    val rounds = (1 to iters).map { r =>
      s"""pr$r AS (
         |  SELECT m.node, d.deg, n.n_nodes,
         |    (CAST(1.0 AS DOUBLE) - CAST($damping AS DOUBLE)) / n.n_nodes
         |      + CAST($damping AS DOUBLE) * CAST(m.mass AS DOUBLE) AS pr
         |  FROM (
         |    SELECT e.dst AS node,
         |      SUM(CAST(p.pr / p.deg AS DECIMAL(28,14))) AS mass
         |    FROM edges e JOIN pr${r - 1} p ON e.src = p.node
         |    GROUP BY e.dst
         |  ) m JOIN deg d ON d.node = m.node CROSS JOIN nn n
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH base AS (
       |  SELECT string_split_regex(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+') AS toks
       |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
       |), adj AS (
       |  SELECT toks[pos] AS a, toks[pos + 1] AS b
       |  FROM (
       |    SELECT toks, CAST(unnest(range(1, len(toks))) AS INTEGER) AS pos
       |    FROM base WHERE len(toks) >= 2)
       |), fil AS (
       |  SELECT a, b FROM adj
       |  WHERE length(a) >= $minLen AND length(b) >= $minLen AND a <> b
       |), edges AS (
       |  SELECT a AS src, b AS dst FROM fil
       |  UNION
       |  SELECT b AS src, a AS dst FROM fil
       |),
       |deg AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src),
       |nn AS (SELECT COUNT(*) AS n_nodes FROM deg),
       |pr0 AS (
       |  SELECT d.node, d.deg, n.n_nodes,
       |    CAST(1.0 AS DOUBLE) / n.n_nodes AS pr
       |  FROM deg d CROSS JOIN nn n
       |),
       |$rounds
       |SELECT node AS word, deg, pr FROM pr$iters
       |ORDER BY pr DESC, word LIMIT $k""".stripMargin
  }

  /** Full oracle for `graph_label_prop`
    * ([[graft.operators.Cluster.labelPropagation]] over the verified
    * MinHash pair graph): the same fixed synchronous rounds unrolled as
    * CTEs — neighbor-label counts per node, argmax with count-desc /
    * label-asc tie-break (`ROW_NUMBER` restates the engine's `min_by`
    * struct ordering exactly), integer-only throughout. */
  def labelPropOracleSql(threshold: Double = 0.6, iters: Int = 3): String = {
    val rounds = (1 to iters).map { k =>
      s"""lab$k AS (
         |  SELECT dst AS node, lab FROM (
         |    SELECT e.dst, l.lab, COUNT(*) AS c,
         |      ROW_NUMBER() OVER (PARTITION BY e.dst
         |        ORDER BY COUNT(*) DESC, l.lab) AS rn
         |    FROM edges e JOIN lab${k - 1} l ON e.src = l.node
         |    GROUP BY e.dst, l.lab) WHERE rn = 1
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${edgeCtes(threshold)},
       |lab0 AS (SELECT DISTINCT src AS node, src AS lab FROM edges),
       |$rounds,
       |sizes AS (
       |  SELECT lab, COUNT(*) AS community_size FROM lab$iters GROUP BY lab
       |)
       |SELECT l.node AS doc_id, l.lab AS community, s.community_size
       |FROM lab$iters l JOIN sizes s ON l.lab = s.lab
       |ORDER BY doc_id""".stripMargin
  }

  /** Full oracle for `graph_kcore` ([[graft.operators.Graph.kCore]] over
    * the verified MinHash pair graph): the same fixed peeling rounds
    * unrolled — per round a degree HAVING filter and two endpoint joins. */
  def kcoreOracleSql(threshold: Double = 0.6, k: Int = 2,
                     rounds: Int = 3): String = {
    val rs = (1 to rounds).map { r =>
      s"""keep$r AS MATERIALIZED (
         |  SELECT src AS node FROM e${r - 1} GROUP BY src
         |  HAVING COUNT(*) >= $k
         |), e$r AS MATERIALIZED (
         |  SELECT t.src, t.dst FROM e${r - 1} t
         |  JOIN keep$r a ON t.src = a.node
         |  JOIN keep$r b ON t.dst = b.node
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${edgeCtes(threshold)},
       |e0 AS MATERIALIZED (SELECT src, dst FROM edges),
       |$rs
       |SELECT src AS doc_id, COUNT(*) AS deg FROM e$rounds GROUP BY src
       |ORDER BY doc_id""".stripMargin
  }

  /** Full oracle for `graph_jaccard`
    * ([[graft.operators.Graph.jaccardSimilarity]] over the verified
    * MinHash pair graph): the symmetric edge CTE, a wedge self-join on
    * the shared neighbor grouped to common counts, degree lookups, one
    * IEEE division at emission. */
  def jaccardOracleSql(threshold: Double = 0.6, minCommon: Int = 2): String =
    s"""WITH ${edgeCtes(threshold)},
       |deg AS (SELECT src AS x, COUNT(*) AS deg FROM edges GROUP BY 1),
       |common AS (
       |  SELECT l.dst AS u, r.dst AS v, COUNT(*) AS common
       |  FROM edges l JOIN edges r ON l.src = r.src AND l.dst < r.dst
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $minCommon
       |)
       |SELECT c.u, c.v, c.common,
       |  CAST(c.common AS DOUBLE) / (du.deg + dv.deg - c.common) AS jaccard
       |FROM common c
       |JOIN deg du ON c.u = du.x
       |JOIN deg dv ON c.v = dv.x
       |ORDER BY c.u, c.v""".stripMargin

  /** Full oracle for `dedup_survivors`: the planted corpus minus every
    * cluster member that is not its cluster's representative — the final
    * keep/drop decision of the near-dup pipeline (singletons survive by
    * absence from the pair graph). */
  def survivorsOracleSql(threshold: Double = 0.6): String =
    s"""${ccCtes(threshold)}
       |SELECT doc_id FROM corpus
       |WHERE doc_id NOT IN (SELECT doc_id FROM cc WHERE doc_id <> cluster_rep)
       |ORDER BY doc_id""".stripMargin

  /** Full oracle for `dedup_cluster_survivors` — the composite that a real
    * pipeline runs: every corpus doc labeled with its cluster
    * representative (its own id when unpaired) and its keep/drop verdict,
    * derived from ONE pair derivation. */
  def clusterSurvivorsOracleSql(threshold: Double = 0.6): String =
    s"""${ccCtes(threshold)}
       |SELECT c.doc_id,
       |  COALESCE(cc.cluster_rep, c.doc_id) AS cluster_rep,
       |  (cc.doc_id IS NULL OR cc.doc_id = cc.cluster_rep) AS survives
       |FROM corpus c LEFT JOIN cc ON c.doc_id = cc.doc_id
       |ORDER BY c.doc_id""".stripMargin

  /** Full oracle for `decontaminate`
    * ([[graft.operators.Decontaminate.overlap]]): per-corpus-doc count of
    * distinct word n-grams shared with the `doc_id % benchMod = 0`
    * benchmark split. String-gram joins here vs xxhash64-gram joins in the
    * engine — identical results up to 64-bit collisions (the dedup verify
    * joins carry the same caveat). No FNV restatement, so no ASCII guard
    * is needed. */
  def decontamOracleSql(n: Int = 3, benchMod: Int = 97): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS t
       |  FROM documents WHERE text IS NOT NULL
       |), sh AS (
       |  SELECT doc_id, list_distinct(list_transform(range(1, len(t) - $n + 2),
       |           i -> array_to_string(t[i:i+${n - 1}], ' '))) AS sh
       |  FROM toks
       |), benchg AS (
       |  SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % $benchMod = 0
       |), corp AS (
       |  SELECT doc_id, unnest(sh) AS g FROM sh WHERE doc_id % $benchMod <> 0
       |)
       |SELECT c.doc_id, COUNT(*) AS n_hits
       |FROM corp c JOIN benchg b ON c.g = b.g
       |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin

  /** Full oracle for `dedup_incremental`
    * ([[graft.operators.Dedup.incrementalNearDups]]): the symmetric cand
    * pairs restricted to corpus-side a (< 100000, the planted-corpus id
    * convention) vs batch-side b (>= 100000) are EXACTLY the asymmetric
    * band join's output, then rank-1 per batch doc by (jaccard DESC, a). */
  def incrementalOracleSql(threshold: Double = 0.6): String =
    s"""WITH $corpusCte,
       |${minhashCandCtes()},
       |vpairs AS (
       |  SELECT c.a, c.b, ${jaccardExpr("sh")} AS jaccard
       |  FROM cand c JOIN sh ga ON ga.doc_id = c.a JOIN sh gb ON gb.doc_id = c.b
       |  WHERE ${jaccardExpr("sh")} >= $threshold AND c.a < 100000 AND c.b >= 100000
       |), ranked AS (
       |  SELECT b AS batch_id, a AS match_id, jaccard,
       |    row_number() OVER (PARTITION BY b ORDER BY jaccard DESC, a) AS rn
       |  FROM vpairs
       |)
       |SELECT batch_id, match_id, jaccard FROM ranked WHERE rn = 1
       |ORDER BY batch_id""".stripMargin

  /** `ivpairs` + `near(batch_id, match_id, jaccard)` — the asymmetric
    * batch-vs-corpus rank-1 near-match over an OFFSET-combined `corpus`
    * CTE (corpus side keeps its ids, batch side is shifted by `offset`):
    * the [[incrementalOracleSql]] equivalence (symmetric banded candidates
    * restricted to a < offset ≤ b ARE the asymmetric band join's output),
    * factored out so composite oracles (curate_incremental) can reuse it.
    * Must follow [[minhashCandCtes]] in the WITH chain. */
  def incrementalNearCtes(threshold: Double, offset: Long): String =
    s"""ivpairs AS (
       |  SELECT c.a, c.b, ${jaccardExpr("sh")} AS jaccard
       |  FROM cand c JOIN sh ga ON ga.doc_id = c.a JOIN sh gb ON gb.doc_id = c.b
       |  WHERE ${jaccardExpr("sh")} >= $threshold AND c.a < $offset AND c.b >= $offset
       |), near AS (
       |  SELECT b - $offset AS batch_id, a AS match_id, jaccard FROM (
       |    SELECT a, b, jaccard,
       |      row_number() OVER (PARTITION BY b ORDER BY jaccard DESC, a) AS rn
       |    FROM ivpairs
       |  ) WHERE rn = 1
       |)""".stripMargin

  /** The `stream_dedup_minhash` fixture corpus: three deterministic
    * arrival batches over ASCENDING id ranges (so every kept-before-batch
    * pair has kept id < batch id, and `batch` is recoverable from the id
    * range alone) — batch 0 = the even organic docs, batch 1 = full-corpus
    * exact copies (+100000: the even halves are exact-tier victims, the
    * odd halves arrive NOVEL), batch 2 = word-perturbed copies (+200000)
    * plus DOUBLY-perturbed copies (+300000), so the within-batch near tier
    * is decisive for the odd +300000 docs whose only over-threshold match
    * can be their +200000 twin in the SAME batch. Mirrored verbatim by the
    * engine's replay (StoreGates.streamDedupReplay). */
  private def streamCorpusCte(extraWhere: String = ""): String = {
    val w = if (extraWhere.isEmpty) "" else s" AND $extraWhere"
    s"""corpus AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE text IS NOT NULL AND doc_id % 2 = 0$w
       |  UNION ALL
       |  SELECT doc_id + 100000 AS doc_id, text FROM documents
       |  WHERE text IS NOT NULL$w
       |  UNION ALL
       |  SELECT doc_id + 200000 AS doc_id,
       |    regexp_replace(text, '\\bdata\\b', 'info', 'g') AS text
       |  FROM documents WHERE text IS NOT NULL$w
       |  UNION ALL
       |  SELECT doc_id + 300000 AS doc_id,
       |    regexp_replace(regexp_replace(text, '\\bdata\\b', 'info', 'g'),
       |      '\\bthe\\b', 'thee', 'g') AS text
       |  FROM documents WHERE text IS NOT NULL$w
       |)""".stripMargin
  }

  /** [[streamCorpusCte]] + a 5th arm: +400000 exact copies, arriving as
    * batch 3 AFTER the `% 7 == 0` retraction — the
    * `stream_dedup_retract`/`_compact` fixture. A retracted doc's copy
    * re-enters (no store match left) unless some OTHER live kept doc
    * still matches it. The lifecycle gates run on the `doc_id % 3 = 0`
    * BASE SUBSET: the full-corpus chain is already pinned by the two
    * stream gates, and at full width the 5-arm restatement hit the
    * oracle engine's per-process memory ceiling under default CTE
    * inlining (measured r17: 6.8 GB / 250 s, OOM) — the MATERIALIZED
    * pins in [[streamKeptChain]] fix the re-evaluation, and the subset
    * additionally keeps this fifth restatement of the chain a ~3 s
    * citizen of the sweep without weakening the retraction semantics it
    * exists to restate. */
  private val streamRetractCorpusCte: String =
    streamCorpusCte("doc_id % 3 = 0").dropRight(1) +
      """  UNION ALL
        |  SELECT doc_id + 400000 AS doc_id, text FROM documents
        |  WHERE text IS NOT NULL AND doc_id % 3 = 0
        |)""".stripMargin

  /** The unrolled kept-chain of [[graft.streaming.NearDupStream]] over
    * [[streamCorpusCte]]: per batch i, `e{i}` = exact-tier survivors
    * (cleaned-content md5 not among previously KEPT docs, then min-id per
    * hash within the batch) and `k{i}` = `e{i}` minus min-id within-batch
    * verified pairs minus docs with a verified pair into the kept set —
    * exactly the engine's tier order. All near checks read the ONE global
    * `verified` pair set: a pair's banded-candidacy and Jaccard are
    * properties of the two documents alone, so computing them corpus-wide
    * and filtering by batch membership equals the engine's per-batch
    * sketch + stored-index probe. The bucket-width cap is NOT restated:
    * at the shipped default (1024) no fixture bucket is over-cap on
    * either engine (NearDupStreamSpec pins the empty cap report), so
    * capped ≡ uncapped here — same neutrality argument as the sf1
    * organic dropped-mass-ZERO pin. Must follow [[minhashCandCtes]].
    *
    * `retractMod = Some(m)`: after batch 2, every kept doc with
    * `doc_id % m == 0` is RETRACTED (the tombstone path), and batch 3
    * (the [[streamRetractCorpusCte]] +400000 arm) is deduped against the
    * LIVE remainder only — the engine's tombstone anti-join restated as
    * `keptr`. */
  private def streamKeptChain(threshold: Double,
                              retractMod: Option[Int] = None): String = {
    val cleanMd5 =
      "md5(regexp_replace(trim(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))"
    def eCte(batch: Int, keptRel: Option[String]): String = {
      val storeFilter = keptRel.fold("")(kr =>
        s"""
           |    AND NOT EXISTS (SELECT 1 FROM $kr JOIN cln kc
           |      ON kc.doc_id = $kr.doc_id WHERE kc.h = c.h)""".stripMargin)
      s"""e$batch AS (
         |  SELECT doc_id FROM (
         |    SELECT c.doc_id, row_number() OVER (PARTITION BY c.h
         |      ORDER BY c.doc_id) AS rn
         |    FROM cln c WHERE c.batch = $batch$storeFilter
         |  ) WHERE rn = 1
         |)""".stripMargin
    }
    def kCte(batch: Int, keptRel: Option[String]): String = {
      val crossFilter = keptRel.fold("")(kr =>
        s"""
           |  AND NOT EXISTS (SELECT 1 FROM verified v JOIN $kr a
           |    ON v.a = a.doc_id WHERE v.b = e.doc_id)""".stripMargin)
      s"""k$batch AS (
         |  SELECT e.doc_id FROM e$batch e
         |  WHERE NOT EXISTS (SELECT 1 FROM verified v JOIN e$batch a
         |    ON v.a = a.doc_id WHERE v.b = e.doc_id)$crossFilter
         |)""".stripMargin
    }
    val tail = retractMod.fold(
      "kept AS (SELECT doc_id FROM k01 UNION ALL SELECT doc_id FROM k2)") {
      m =>
        s"""k012 AS (SELECT doc_id FROM k01 UNION ALL SELECT doc_id FROM k2),
           |keptr AS (SELECT doc_id FROM k012 WHERE doc_id % $m <> 0),
           |${eCte(3, Some("keptr"))},
           |${kCte(3, Some("keptr"))},
           |kept AS (SELECT doc_id FROM keptr UNION ALL SELECT doc_id FROM k3)""".stripMargin
    }
    // MATERIALIZED is load-bearing, not a style choice: the kept-chain
    // references `verified`/`cln` from up to eight EXISTS subqueries, and
    // DuckDB's default CTE inlining re-evaluates the ENTIRE 64-lane
    // MinHash chain per reference — measured r17: the retract oracle went
    // 115 s / 6.8 GB (OOM at full width) -> 3 s once these two pin
    s"""verified AS MATERIALIZED (
       |  SELECT c.a, c.b
       |  FROM cand c JOIN sh ga ON ga.doc_id = c.a JOIN sh gb ON gb.doc_id = c.b
       |  WHERE ${jaccardExpr("sh")} >= $threshold
       |), cln AS MATERIALIZED (
       |  SELECT doc_id, $cleanMd5 AS h,
       |    CASE WHEN doc_id < 100000 THEN 0
       |         WHEN doc_id < 200000 THEN 1
       |         WHEN doc_id < 400000 THEN 2 ELSE 3 END AS batch
       |  FROM corpus
       |),
       |${eCte(0, None)},
       |${kCte(0, None)},
       |${eCte(1, Some("k0"))},
       |${kCte(1, Some("k0"))},
       |k01 AS (SELECT doc_id FROM k0 UNION ALL SELECT doc_id FROM k1),
       |${eCte(2, Some("k01"))},
       |${kCte(2, Some("k01"))},
       |$tail""".stripMargin
  }

  /** Full oracle for `stream_dedup_minhash`: every kept doc with its
    * arrival batch. */
  def streamDedupOracleSql(threshold: Double = 0.6): String =
    s"""WITH ${streamCorpusCte()},
       |${minhashCandCtes()},
       |${streamKeptChain(threshold)}
       |SELECT c.doc_id, CAST(c.batch AS INTEGER) AS batch
       |FROM cln c JOIN kept USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Full oracle for `stream_dedup_minhash_log`: one verdict row per
    * processed doc — `kept` / `dup_exact` (not an exact-tier survivor) /
    * `dup_near` (exact survivor dropped by a near tier). */
  def streamDedupLogOracleSql(threshold: Double = 0.6): String =
    s"""WITH ${streamCorpusCte()},
       |${minhashCandCtes()},
       |${streamKeptChain(threshold)},
       |eall AS (SELECT doc_id FROM e0 UNION ALL SELECT doc_id FROM e1
       |         UNION ALL SELECT doc_id FROM e2)
       |SELECT c.doc_id, CAST(c.batch AS INTEGER) AS batch,
       |  CASE WHEN c.doc_id IN (SELECT doc_id FROM kept) THEN 'kept'
       |       WHEN c.doc_id IN (SELECT doc_id FROM eall) THEN 'dup_near'
       |       ELSE 'dup_exact' END AS verdict
       |FROM cln c ORDER BY doc_id""".stripMargin

  /** Full oracle for `stream_dedup_retract` AND (verbatim — compaction is
    * value-neutral) `stream_dedup_compact`: the 3-batch chain, then the
    * `% 7` retraction, then batch 3 against the live remainder. Output =
    * every LIVE kept doc with its arrival batch. */
  def streamDedupRetractOracleSql(threshold: Double = 0.6,
                                  retractMod: Int = 7): String =
    s"""WITH $streamRetractCorpusCte,
       |${minhashCandCtes()},
       |${streamKeptChain(threshold, Some(retractMod))}
       |SELECT c.doc_id, CAST(c.batch AS INTEGER) AS batch
       |FROM cln c JOIN kept USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Full oracle for `decontaminate_fuzzy`
    * ([[graft.operators.Decontaminate.fuzzyVerdict]]): the planted corpus
    * here is documents + PERTURBED copies of the `doc_id % benchMod = 0`
    * subset (ids >= 100000) standing in for a paraphrased eval benchmark.
    * Both detectors run off the ONE shingle CTE: exact distinct-3-gram
    * overlap against the bench gram set, and the banded MinHash best
    * bench match per corpus doc (rank-1 by jaccard DESC, bench id ASC —
    * [[incrementalOracleSql]]'s tie-break, sides flipped). */
  def decontamFuzzyOracleSql(threshold: Double = 0.6,
                             benchMod: Int = 97): String =
    s"""WITH corpus_raw AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 100000 AS doc_id, regexp_replace(text, '\\bdata\\b', 'info', 'g') AS text
       |  FROM documents WHERE doc_id % $benchMod = 0
       |), ascii_guard AS (
       |  SELECT CASE WHEN EXISTS (SELECT 1 FROM corpus_raw
       |      WHERE text IS NOT NULL AND octet_length(encode(text)) <> length(text))
       |    THEN error('non-ASCII document: the FNV byte-fold oracle restatement is ASCII-only (SketchOracleSql.fnvFold)')
       |    ELSE NULL END AS chk
       |), corpus AS (
       |  SELECT corpus_raw.* FROM corpus_raw CROSS JOIN ascii_guard
       |  WHERE ascii_guard.chk IS NULL
       |),
       |${minhashCandCtes()},
       |vpairs AS (
       |  SELECT c.a, c.b, ${jaccardExpr("sh")} AS jaccard
       |  FROM cand c JOIN sh ga ON ga.doc_id = c.a JOIN sh gb ON gb.doc_id = c.b
       |  WHERE ${jaccardExpr("sh")} >= $threshold AND c.a < 100000 AND c.b >= 100000
       |), fuzzy AS (
       |  SELECT a AS doc_id, b AS bench_id, jaccard FROM (
       |    SELECT a, b, jaccard,
       |      row_number() OVER (PARTITION BY a ORDER BY jaccard DESC, b) AS rn
       |    FROM vpairs
       |  ) WHERE rn = 1
       |), benchg AS (
       |  SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id >= 100000
       |), corp AS (
       |  SELECT doc_id, unnest(sh) AS g FROM sh WHERE doc_id < 100000
       |), exact_hits AS (
       |  SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_exact_hits
       |  FROM corp c JOIN benchg b ON c.g = b.g
       |  GROUP BY c.doc_id
       |)
       |SELECT COALESCE(e.doc_id, f.doc_id) AS doc_id,
       |  CAST(COALESCE(e.n_exact_hits, 0) AS BIGINT) AS n_exact_hits,
       |  f.bench_id, f.jaccard,
       |  CASE WHEN e.doc_id IS NOT NULL AND f.doc_id IS NOT NULL THEN 'both'
       |       WHEN e.doc_id IS NOT NULL THEN 'exact'
       |       ELSE 'fuzzy' END AS verdict
       |FROM exact_hits e FULL OUTER JOIN fuzzy f ON e.doc_id = f.doc_id
       |ORDER BY doc_id""".stripMargin

  /** Full oracle for `dedup_lsh_recall_report`: planted ground-truth pairs
    * (id, id+100000) exactly verified at `threshold`, intersected with the
    * banded LSH candidate set — the recall evaluation restricted to the
    * planted pairs so ground truth stays O(n), never all-pairs. String-set
    * Jaccard stands in for the engine's xxhash64-set Jaccard (the
    * established [[minhashOracleSql]] equivalence). */
  def lshRecallOracleSql(threshold: Double = 0.6): String = {
    def jac(rel: String) =
      s"CAST(len(list_intersect($rel.a_sh, $rel.b_sh)) AS DOUBLE) / " +
        s"(len($rel.a_sh) + len($rel.b_sh) - len(list_intersect($rel.a_sh, $rel.b_sh)))"
    s"""WITH $corpusCte,
       |${minhashCandCtes()},
       |planted AS (
       |  SELECT doc_id AS a, doc_id + 100000 AS b FROM documents
       |), pairsets AS (
       |  SELECT p.a, p.b, ga.sh AS a_sh, gb.sh AS b_sh
       |  FROM planted p
       |  JOIN sh ga ON ga.doc_id = p.a JOIN sh gb ON gb.doc_id = p.b
       |  WHERE len(ga.sh) > 0 AND len(gb.sh) > 0
       |), truth AS (
       |  SELECT a, b FROM pairsets WHERE ${jac("pairsets")} >= $threshold
       |)
       |SELECT
       |  CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_true,
       |  CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_candidates,
       |  CAST((SELECT count(*) FROM truth t
       |        JOIN cand c ON t.a = c.a AND t.b = c.b) AS BIGINT) AS n_hit,
       |  ROUND(CAST((SELECT count(*) FROM truth t
       |        JOIN cand c ON t.a = c.a AND t.b = c.b) AS DOUBLE) /
       |    (SELECT count(*) FROM truth), 6) AS recall""".stripMargin
  }

  /** Full oracle for `dedup_ngram_jaccard`: same candidates, verified with
    * character-5-gram Jaccard ([[TextExprs.CharShingles]]: a string shorter
    * than n yields itself). */
  def ngramJaccardOracleSql(threshold: Double = 0.5, n: Int = 5): String =
    s"""WITH $corpusCte,
       |${minhashCandCtes()},
       |cgrams AS (
       |  SELECT doc_id, CASE WHEN length(text) < $n THEN [text]
       |    ELSE list_distinct(list_transform(range(1, length(text) - ${n - 2}),
       |           i -> substring(text, i, $n))) END AS cg
       |  FROM corpus
       |)
       |${jaccardSelect("cgrams", "cg", threshold)}""".stripMargin

  /** Full oracle for `dedup_simhash` ([[HashExprs.SimHash64]] + 16-bit band
    * bucketing + exact Hamming verify). Tokens vote per OCCURRENCE (no
    * distinct); `votes > 0` strictly (tie -> bit 0); band bucket
    * `(sig >> 16b) & 0xffff` becomes unsigned `(sig // 2^16b) % 2^16`. */
  def simhashOracleSql(maxHamming: Int = 3): String =
    s"""WITH $corpusCte,
       |${simhashPairCtes(None)}
       |SELECT a, b, hamming FROM pairs WHERE hamming <= $maxHamming ORDER BY a, b""".stripMargin

  /** The corpus→signature→band→pair CTE chain of [[simhashOracleSql]],
    * reusable under any `corpus` CTE. With `maxBucketWidth` set, the
    * width-cap guard is restated on the 16-bit band buckets
    * ([[graft.operators.Dedup.simhashNearDupsCapped]]): `swidths` /
    * `sdropped` CTEs appear and `pairs` keeps within-cap buckets only.
    * Unlike the MinHash banding, the SimHash bucket VALUE is engine-equal
    * (`(sig >> 16·band) & 0xffff`), so the dropped report can be emitted
    * raw, bucket ids included. */
  def simhashPairCtes(maxBucketWidth: Option[Int]): String = {
    val pow2Vals = (0 until 64)
      .map(b => s"($b, CAST('${java.math.BigInteger.ONE.shiftLeft(b)}' AS HUGEINT))")
      .mkString(", ")
    val capCtes = maxBucketWidth.fold("") { cap =>
      s"""swidths AS (
         |  SELECT band, bucket, CAST(COUNT(*) AS BIGINT) AS width
         |  FROM bandedsig GROUP BY band, bucket
         |), sdropped AS (
         |  SELECT band, bucket, width, width * (width - 1) // 2 AS pairs_dropped
         |  FROM swidths WHERE width > $cap
         |), """.stripMargin
    }
    val capJoin = maxBucketWidth.fold("") { cap =>
      s"""
         |  JOIN swidths w ON l.band = w.band AND l.bucket = w.bucket AND w.width <= $cap""".stripMargin
    }
    s"""toks AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(regexp_replace(trim(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')), '[ \\t\\n\\x0B\\f\\r]+')) AS tok
       |  FROM corpus WHERE text IS NOT NULL AND trim(text) <> ''
       |), tokh AS (
       |  SELECT doc_id, ${fnvFold("tok")} AS h FROM toks
       |), votes AS (
       |  SELECT doc_id, p.b AS b,
       |    SUM(CASE WHEN (h // p.pw) % 2 = 1 THEN 1 ELSE -1 END) AS v
       |  FROM tokh CROSS JOIN (VALUES $pow2Vals) AS p(b, pw)
       |  GROUP BY doc_id, p.b
       |), usig AS (
       |  SELECT doc_id, SUM(CASE WHEN v > 0 THEN p.pw ELSE CAST(0 AS HUGEINT) END) AS sig
       |  FROM votes JOIN (VALUES $pow2Vals) AS p(b, pw) ON votes.b = p.b
       |  GROUP BY doc_id
       |), ssig AS (
       |  SELECT doc_id, sig, ${signed("sig")} AS ssig FROM usig
       |), bandedsig AS (
       |  SELECT doc_id, ssig, b.band,
       |    (sig // (CASE b.band WHEN 0 THEN 1 WHEN 1 THEN 65536
       |             WHEN 2 THEN 4294967296 ELSE 281474976710656 END)) % 65536 AS bucket
       |  FROM ssig CROSS JOIN (SELECT unnest(range(0, 4)) AS band) b
       |), ${capCtes}pairs AS (
       |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
       |    CAST(bit_count(xor(l.ssig, r.ssig)) AS INTEGER) AS hamming
       |  FROM bandedsig l JOIN bandedsig r ON l.band = r.band AND l.bucket = r.bucket$capJoin
       |  WHERE l.doc_id < r.doc_id
       |)""".stripMargin
  }

  /** Full oracle for `dedup_simhash_capped`
    * ([[graft.operators.Dedup.simhashNearDupsCapped]] over the planted
    * corpus + rotation family — identical token MULTISETS per rotation,
    * so one width-40 bucket per band, dropped by the cap). */
  def simhashCappedOracleSql(maxHamming: Int = 3,
                             maxBucketWidth: Int = 16): String =
    s"""WITH $cappedCorpusCtes,
       |${simhashPairCtes(Some(maxBucketWidth))}
       |SELECT a, b, hamming FROM pairs WHERE hamming <= $maxHamming ORDER BY a, b""".stripMargin

  /** Full oracle for `dedup_simhash_capped_report`: the RAW dropped-bucket
    * rows `(band, bucket, width, pairs_dropped)` — restatable verbatim
    * because the SimHash bucket id is the band's 16 signature bits, not a
    * hash of them. */
  def simhashCappedReportOracleSql(maxBucketWidth: Int = 16): String =
    s"""WITH $cappedCorpusCtes,
       |${simhashPairCtes(Some(maxBucketWidth))}
       |SELECT CAST(band AS INTEGER) AS band, CAST(bucket AS BIGINT) AS bucket,
       |  width, pairs_dropped
       |FROM sdropped ORDER BY band, bucket""".stripMargin

  /** Shared directed-graph fixture CTE text for the `graph_scc` truth
    * table: rank the first 500 docs into 50 blocks of 10 — every block is
    * a forward chain, EVEN blocks additionally close the 10-cycle (one
    * 10-node SCC each), odd blocks stay chains (10 singleton SCCs), and
    * each even block's head points at the next block's head (condensation
    * DAG edges that must NOT merge components). Mirrored verbatim by the
    * engine fixture in GraphGates. */
  private def sccCtes: String =
    """m AS (
      |  SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rn
      |  FROM documents
      |), sel AS (
      |  SELECT doc_id, rn FROM m WHERE rn <= 500
      |), er AS (
      |  SELECT rn AS s, rn + 1 AS t FROM sel WHERE (rn - 1) % 10 < 9
      |  UNION ALL
      |  SELECT rn AS s, rn - 9 AS t FROM sel
      |  WHERE ((rn - 1) // 10) % 2 = 0 AND (rn - 1) % 10 = 9
      |  UNION ALL
      |  SELECT rn AS s, rn + 10 AS t FROM sel
      |  WHERE ((rn - 1) // 10) % 2 = 0 AND (rn - 1) % 10 = 0
      |    AND rn + 10 <= 500
      |), e AS (
      |  SELECT a.doc_id AS src, b.doc_id AS dst
      |  FROM er JOIN sel a ON er.s = a.rn JOIN sel b ON er.t = b.rn
      |)""".stripMargin

  /** Truth-table stage 1: the planted directed edge list itself. */
  def sccEdgesOracleSql: String =
    s"""WITH $sccCtes
       |SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst
       |FROM e ORDER BY src, dst""".stripMargin

  /** Mutual-reachability CTE stack shared by the scc id and size-histogram
    * oracles: directed transitive closure (recursive CTE, set-union dedup
    * like [[ccChain]]), mutual pairs, canonical id = min of {self} ∪
    * {mutually reachable}. */
  private def sccIdsCtes: String =
    s"""$sccCtes, reach AS (
       |  SELECT src AS s, dst AS t FROM e
       |  UNION
       |  SELECT r.s, e2.dst FROM reach r JOIN e e2 ON r.t = e2.src
       |), mutual AS (
       |  SELECT r1.s AS v, r1.t AS w
       |  FROM reach r1 JOIN reach r2 ON r1.s = r2.t AND r1.t = r2.s
       |), ids AS (
       |  SELECT sel.doc_id AS doc_id,
       |    CAST(LEAST(sel.doc_id, COALESCE(MIN(mu.w), sel.doc_id))
       |      AS BIGINT) AS scc_id
       |  FROM sel LEFT JOIN mutual mu ON mu.v = sel.doc_id
       |  GROUP BY sel.doc_id
       |)""".stripMargin

  /** Full oracle for `graph_scc`: per node, the canonical (min-member)
    * strongly-connected-component id and the component size. */
  def sccOracleSql: String =
    s"""WITH RECURSIVE $sccIdsCtes
       |SELECT doc_id, scc_id,
       |  CAST(COUNT(*) OVER (PARTITION BY scc_id) AS BIGINT) AS scc_size
       |FROM ids ORDER BY doc_id""".stripMargin

  /** Truth-table stage 2: the SCC size histogram — isolates the
    * size-count fold from the per-node id fold. */
  def sccSizesOracleSql: String =
    s"""WITH RECURSIVE $sccIdsCtes
       |SELECT CAST(scc_size AS BIGINT) AS scc_size,
       |  CAST(COUNT(*) AS BIGINT) AS n_sccs
       |FROM (SELECT scc_id, COUNT(*) AS scc_size FROM ids GROUP BY scc_id)
       |GROUP BY scc_size ORDER BY scc_size""".stripMargin

  /** Oracle for `graph_scc_condensation`: the component-level DAG —
    * distinct (scc(src), scc(dst)) over the edge list, self-pairs
    * (intra-component edges) dropped. */
  def sccCondensationOracleSql: String =
    s"""WITH RECURSIVE $sccIdsCtes
       |SELECT DISTINCT CAST(i1.scc_id AS BIGINT) AS scc_src,
       |  CAST(i2.scc_id AS BIGINT) AS scc_dst
       |FROM e JOIN ids i1 ON e.src = i1.doc_id
       |       JOIN ids i2 ON e.dst = i2.doc_id
       |WHERE i1.scc_id <> i2.scc_id
       |ORDER BY scc_src, scc_dst""".stripMargin

  /** Oracle for `graph_topo_levels`: longest-path level per component of
    * the condensation DAG — every component starts the recursion at 0,
    * each step walks one condensation edge, MAX per component at the
    * end. (Every SCC of this fixture touches at least one condensation
    * edge, so the engine's edge-endpoint node set equals the full
    * component set — revisit if the fixture gains isolated components.) */
  def sccTopoLevelsOracleSql: String =
    s"""WITH RECURSIVE $sccIdsCtes, cond AS (
       |  SELECT DISTINCT i1.scc_id AS s, i2.scc_id AS t
       |  FROM e JOIN ids i1 ON e.src = i1.doc_id
       |         JOIN ids i2 ON e.dst = i2.doc_id
       |  WHERE i1.scc_id <> i2.scc_id
       |), lvl AS (
       |  SELECT DISTINCT scc_id AS c, 0 AS l FROM ids
       |  UNION
       |  SELECT cond.t, lvl.l + 1 FROM lvl JOIN cond ON lvl.c = cond.s
       |)
       |SELECT c AS scc_id, CAST(MAX(l) AS BIGINT) AS level
       |FROM lvl GROUP BY c ORDER BY scc_id""".stripMargin
}
