package graft

/** Scale-gate oracle restatements.
  *
  * Each entry is an INDEPENDENT sub-quadratic DuckDB restatement of a
  * registered oracle whose shape cannot hold 64× replica volumes —
  * doc-level posting/band/cell self-joins that are quadratic in
  * DUPLICATION (the one thing a replicated gate corpus maximizes), and
  * the exploded k-means pipeline whose per-round join is
  * |corpus|×|cells|×dim.
  *
  * Two semantic identities carry every restatement:
  *
  *  1. DUP-COLLAPSE: signatures, gram sets, band hashes, prefixes and
  *     cosines are pure functions of CONTENT, so the expensive middle
  *     runs over DISTINCT contents with group multiplicities (m), and
  *     doc-level answers come back either by expansion joins
  *     (output-sized, never intermediate-sized) or by mass arithmetic
  *     (Σ m_a·m_b across qualifying content pairs + Σ C(m,2) within
  *     groups). For ranked top-k faces, expansion is PRUNED first: a
  *     content level can reach the top k only if the member mass at
  *     strictly better scores is < k (ties at a level interleave by
  *     id, so whole levels are kept or dropped — no false drops).
  *  2. WEIGHTED K-MEANS: Lloyd rounds over N points with duplicate
  *     embeddings equal Lloyd rounds over distinct embeddings with
  *     multiplicity weights — assignment is content-pure, and each
  *     centroid update is an exact integer sum that factors through
  *     group masses (Σ_docs ⌊xᵢ·10⁷+½⌋ = Σ_groups m·⌊xᵢ·10⁷+½⌋),
  *     followed by the registered oracle's own two IEEE divisions on
  *     the identical exact values.
  *
  * The restatements bind dim = 64 (the corpus family's embedding
  * width) so the fixed-point dots unroll as 64 explicit terms instead
  * of a |corpus|×|cells|×64-row explode-join.
  *
  * NOT part of the driver's correctness gate: `tools/oracle_equiv.py`
  * first proves each restatement bit-identical to its registered
  * oracle at the driver SFs (where both run), and only then does
  * `tools/oracle_check.py --scale-oracles` use it to value-adjudicate
  * the 64× gate. The registered oracles in [[SparkEntry.oracleSql]]
  * remain the driver-facing source of truth.
  */
object ScaleOracles {

  /** 2-D skyline via one sorted pass: a point survives iff no strictly-higher price carries a
    * strictly-later day — per distinct price take MAX(day), then the
    * running max over strictly-higher prices; O(n log n) vs the
    * registered NOT-EXISTS O(n²) dominance scan.
    */
  private val skyline: String =
    """WITH p AS (
      |  SELECT o_orderkey, o_totalprice AS price, CAST(o_orderdate AS DATE) AS day
      |  FROM orders),
      |g AS (
      |  SELECT price, MAX(day) AS gmax FROM p GROUP BY price),
      |r AS (
      |  SELECT price,
      |    MAX(gmax) OVER (ORDER BY price DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_mx
      |  FROM g)
      |SELECT p.o_orderkey, p.price, p.day
      |FROM p JOIN r ON p.price = r.price
      |WHERE r.prev_mx IS NULL OR r.prev_mx <= p.day""".stripMargin

  /** Shared dup-collapsed gram skeleton for the lang-blocked posting
    * faces (C4 jaccard / C65 containment / C71 setsim): distinct
    * (lang, text) groups with masses, distinct-level posting join,
    * then doc-level expansion. `sideStats` re-orients (n_a, n_b) to
    * the smaller doc id exactly as the registered doc-level join does.
    */
  private def gramPairs(pairFilter: String, finalCols: String,
      finalFilter: String): String =
    s"""WITH dt AS (
       |  SELECT lang, text, md5(text) AS fp, MIN(doc_id) AS gid, COUNT(*) AS m
       |  FROM documents GROUP BY lang, text, md5(text)
       |), toks AS (
       |  SELECT fp, lang, string_split(text, ' ') AS tk FROM dt
       |), sh AS (
       |  SELECT DISTINCT fp, lang, array_to_string(tk[i:i+2], ' ') AS s
       |  FROM toks, unnest(range(1, greatest(len(tk) - 1, 2))) AS t(i)
       |), sizes AS (
       |  SELECT fp, lang, COUNT(*) AS n FROM sh GROUP BY fp, lang
       |), dinter AS (
       |  SELECT a.lang AS lang, a.fp AS fp_a, b.fp AS fp_b, COUNT(*) AS n_inter
       |  FROM sh a JOIN sh b ON a.lang = b.lang AND a.s = b.s AND a.fp < b.fp
       |  GROUP BY 1, 2, 3
       |), dpairs AS (
       |  SELECT i.lang, fp_a, fp_b, n_inter, x.n AS na, y.n AS nb
       |  FROM dinter i
       |  JOIN sizes x ON fp_a = x.fp AND i.lang = x.lang
       |  JOIN sizes y ON fp_b = y.fp AND i.lang = y.lang
       |  WHERE $pairFilter
       |), mem AS (
       |  SELECT lang, md5(text) AS fp, doc_id FROM documents
       |), cross_pairs AS (
       |  SELECT LEAST(ma.doc_id, mb.doc_id) AS doc_a,
       |         GREATEST(ma.doc_id, mb.doc_id) AS doc_b,
       |         p.n_inter,
       |         CASE WHEN ma.doc_id < mb.doc_id THEN p.na ELSE p.nb END AS n_a,
       |         CASE WHEN ma.doc_id < mb.doc_id THEN p.nb ELSE p.na END AS n_b
       |  FROM dpairs p
       |  JOIN mem ma ON ma.fp = p.fp_a AND ma.lang = p.lang
       |  JOIN mem mb ON mb.fp = p.fp_b AND mb.lang = p.lang
       |), within_pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         s.n AS n_inter, s.n AS n_a, s.n AS n_b
       |  FROM dt g
       |  JOIN sizes s ON s.fp = g.fp AND s.lang = g.lang
       |  JOIN mem a ON a.fp = g.fp AND a.lang = g.lang
       |  JOIN mem b ON b.fp = g.fp AND b.lang = g.lang AND a.doc_id < b.doc_id
       |  WHERE g.m > 1
       |), allp AS (
       |  SELECT * FROM cross_pairs UNION ALL SELECT * FROM within_pairs
       |)
       |SELECT $finalCols
       |FROM allp
       |WHERE $finalFilter""".stripMargin

  private val ngramJaccard: String = gramPairs(
    "n_inter / (x.n + y.n - n_inter) >= 0.2",
    "doc_a, doc_b, n_inter, n_a, n_b,\n  n_inter / (n_a + n_b - n_inter) AS jaccard",
    "n_inter / (n_a + n_b - n_inter) >= 0.2")

  private val ngramContainment: String = gramPairs(
    "n_inter / least(x.n, y.n) >= 0.5",
    "doc_a, doc_b, n_inter, n_a, n_b,\n  n_inter / least(n_a, n_b) AS containment",
    "n_inter / least(n_a, n_b) >= 0.5")

  private val setsimPrefix: String = gramPairs(
    "n_inter * 8 >= (x.n + y.n) * 3",
    "doc_a, doc_b, n_a, n_b, n_inter,\n  n_inter / (n_a + n_b - n_inter) AS jaccard",
    "n_inter * 8 >= (n_a + n_b) * 3")

  /** C46 fuzzy dedup collapsed on the BLOCK+KERNEL key (lang,
    * len_bucket, 40-char prefix): levenshtein runs once per distinct
    * prefix pair, within-prefix pairs are distance 0 by definition.
    */
  private val dedupFuzzy: String =
    """WITH side AS (
      |  SELECT lang, CAST(n_chars // 64 AS BIGINT) AS len_bucket, doc_id,
      |         substring(text, 1, 40) AS prefix
      |  FROM documents
      |), grp AS (
      |  SELECT lang, len_bucket, prefix, MIN(doc_id) AS gid, COUNT(*) AS m
      |  FROM side GROUP BY lang, len_bucket, prefix
      |), dpairs AS (
      |  SELECT a.lang, a.len_bucket, a.prefix AS pa, b.prefix AS pb,
      |         CAST(levenshtein(a.prefix, b.prefix) AS INTEGER) AS prefix_dist
      |  FROM grp a JOIN grp b
      |    ON a.lang = b.lang AND a.len_bucket = b.len_bucket AND a.gid < b.gid
      |  WHERE levenshtein(a.prefix, b.prefix) <= 10
      |), cross_pairs AS (
      |  SELECT p.lang, LEAST(ma.doc_id, mb.doc_id) AS doc_a,
      |         GREATEST(ma.doc_id, mb.doc_id) AS doc_b, p.prefix_dist
      |  FROM dpairs p
      |  JOIN side ma ON ma.lang = p.lang AND ma.len_bucket = p.len_bucket
      |              AND ma.prefix = p.pa
      |  JOIN side mb ON mb.lang = p.lang AND mb.len_bucket = p.len_bucket
      |              AND mb.prefix = p.pb
      |), within_pairs AS (
      |  SELECT g.lang, a.doc_id AS doc_a, b.doc_id AS doc_b,
      |         CAST(0 AS INTEGER) AS prefix_dist
      |  FROM grp g
      |  JOIN side a ON a.lang = g.lang AND a.len_bucket = g.len_bucket
      |             AND a.prefix = g.prefix
      |  JOIN side b ON b.lang = g.lang AND b.len_bucket = g.len_bucket
      |             AND b.prefix = g.prefix AND a.doc_id < b.doc_id
      |  WHERE g.m > 1
      |)
      |SELECT lang, doc_a, doc_b, prefix_dist FROM cross_pairs
      |UNION ALL
      |SELECT lang, doc_a, doc_b, prefix_dist FROM within_pairs""".stripMargin

  /** Shared collapsed MinHash front (C2's portable pipeline keyed by
    * distinct text): grams → 60-bit base hashes → 32 affine
    * permutations → 8×4 band hashes, all per DISTINCT text.
    *
    * Shaped for the distinct-64× arm, where nothing collapses and
    * the front bears genuine 64× signature volume:
    *  - md5 fingerprints and gram strings are swapped for DENSE
    *    INTEGER ids (row_number over the distinct sets — exact, no
    *    hash-collision risk) before any join or wide aggregate, so
    *    the hot joins/aggregations key on BIGINTs instead of 32-char
    *    strings;
    *  - the 32 per-seed minima compute in ONE wide pass over the
    *    (fpi, b) gram frame — 32 MIN aggregates with the affine LCG
    *    constants folded to literals — replacing the base×seeds CROSS
    *    JOIN (32× the rows) and its 10M-group string-keyed aggregate;
    *  - band hashes derive row-wise from the wide signature row
    *    (concat_ws over 4 named columns ≡ the ordered-list join of
    *    the grouped form, seeds 4b..4b+3 in index order).
    * Same arithmetic, same band strings, same outputs — the
    * string-keyed cross-join form measured 156 s (minhash) / 330 s
    * (recall) at distinct-64× vs 30/48 s for this one (32 cores);
    * tools/oracle_equiv.py proves equivalence to the registered oracles
    * at sf0.01 and sf0.1.
    */
  private val MinhashP = 2147483647L

  private val minhashFront: String = {
    val mins = (0 until 32).map { i =>
      val a = (1103515245L * (i + 1) + 12345L) % MinhashP
      val c = (1234567891L * (i + 1) + 987654321L) % MinhashP
      s"MIN(($a * b + $c) % $MinhashP) AS s$i"
    }.mkString(",\n    ")
    val bandCols = (0 until 8).map { b =>
      val ss = (4 * b until 4 * b + 4).map("s" + _).mkString(", ")
      s"md5(concat_ws('-', $ss)) AS bh$b"
    }.mkString(",\n    ")
    val bandUnion = (0 until 8)
      .map(b => s"SELECT fpi, $b AS band, bh$b AS bh FROM bandh")
      .mkString("\n  UNION ALL\n  ")
    s"""dt AS MATERIALIZED (
       |  SELECT text, md5(text) AS fp, MIN(doc_id) AS gid, COUNT(*) AS m
       |  FROM documents GROUP BY text, md5(text)
       |), dn AS MATERIALIZED (
       |  SELECT fp, gid, m, row_number() OVER (ORDER BY fp) AS fpi FROM dt
       |), toks AS (
       |  SELECT dn.fpi, string_split(dt.text, ' ') AS tk FROM dt JOIN dn USING (fp)
       |), gramstr AS MATERIALIZED (
       |  SELECT DISTINCT fpi, array_to_string(tk[i:i+2], ' ') AS g
       |  FROM toks, unnest(range(1, greatest(len(tk) - 1, 2))) AS t(i)
       |), gd AS MATERIALIZED (
       |  SELECT g, ('0x' || substr(md5(g), 1, 15))::BIGINT % $MinhashP AS b,
       |    row_number() OVER (ORDER BY g) AS gi
       |  FROM (SELECT DISTINCT g FROM gramstr)
       |), grams AS MATERIALIZED (
       |  SELECT s.fpi, d.gi, d.b FROM gramstr s JOIN gd d USING (g)
       |), sigw AS MATERIALIZED (
       |  SELECT fpi,
       |    $mins
       |  FROM grams GROUP BY fpi
       |), bandh AS MATERIALIZED (
       |  SELECT fpi,
       |    $bandCols
       |  FROM sigw
       |), bands AS MATERIALIZED (
       |  $bandUnion
       |), sizes AS MATERIALIZED (
       |  SELECT fpi, COUNT(*) AS n FROM grams GROUP BY fpi
       |)""".stripMargin
  }

  private val dedupMinhash: String =
    s"""WITH $minhashFront, cand AS MATERIALIZED (
       |  SELECT DISTINCT a.fpi AS ia, b.fpi AS ib
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.fpi < b.fpi
       |), inter AS (
       |  SELECT c.ia, c.ib, COUNT(*) AS n_inter
       |  FROM cand c
       |  JOIN grams x ON x.fpi = c.ia
       |  JOIN grams y ON y.fpi = c.ib AND y.gi = x.gi
       |  GROUP BY 1, 2
       |), dpairs AS (
       |  SELECT c.ia, c.ib,
       |    COALESCE(i.n_inter, 0) / (x.n + y.n - COALESCE(i.n_inter, 0)) AS jaccard
       |  FROM cand c
       |  LEFT JOIN inter i ON i.ia = c.ia AND i.ib = c.ib
       |  JOIN sizes x ON c.ia = x.fpi
       |  JOIN sizes y ON c.ib = y.fpi
       |), mem AS MATERIALIZED (
       |  SELECT dn.fpi, d.doc_id FROM documents d JOIN dn ON md5(d.text) = dn.fp
       |), cross_pairs AS (
       |  SELECT LEAST(ma.doc_id, mb.doc_id) AS doc_a,
       |         GREATEST(ma.doc_id, mb.doc_id) AS doc_b, p.jaccard
       |  FROM dpairs p
       |  JOIN mem ma ON ma.fpi = p.ia
       |  JOIN mem mb ON mb.fpi = p.ib
       |), within_pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         s.n / (s.n + s.n - s.n) AS jaccard
       |  FROM dn g
       |  JOIN sizes s ON s.fpi = g.fpi
       |  JOIN mem a ON a.fpi = g.fpi
       |  JOIN mem b ON b.fpi = g.fpi AND a.doc_id < b.doc_id
       |  WHERE g.m > 1
       |), allp AS (
       |  SELECT * FROM cross_pairs UNION ALL SELECT * FROM within_pairs
       |)
       |SELECT doc_a, doc_b, jaccard, jaccard >= 0.5 AS is_dup FROM allp""".stripMargin

  /** C79 recall audit, all-mass arithmetic — no doc-level pair ever
    * materializes: truth and candidate counts are Σ C(m,2) within
    * groups plus Σ m_a·m_b over qualifying distinct-text pairs.
    */
  private val lshRecall: String =
    s"""WITH $minhashFront, dinter AS MATERIALIZED (
       |  SELECT a.fpi AS ia, b.fpi AS ib, COUNT(*) AS n_inter
       |  FROM grams a JOIN grams b ON a.gi = b.gi AND a.fpi < b.fpi
       |  GROUP BY 1, 2
       |), truth AS (
       |  SELECT (SELECT CAST(COALESCE(SUM(m * (m - 1) // 2), 0) AS BIGINT) FROM dn)
       |       + (SELECT CAST(COALESCE(SUM(ga.m * gb.m), 0) AS BIGINT)
       |          FROM dinter i
       |          JOIN sizes x ON i.ia = x.fpi JOIN sizes y ON i.ib = y.fpi
       |          JOIN dn ga ON ga.fpi = i.ia JOIN dn gb ON gb.fpi = i.ib
       |          WHERE CAST(i.n_inter AS DOUBLE) / (x.n + y.n - i.n_inter) >= 0.5)
       |       AS n_truth
       |), candg AS MATERIALIZED (
       |  SELECT DISTINCT a.fpi AS ia, b.fpi AS ib
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.fpi < b.fpi
       |), cand AS (
       |  SELECT (SELECT CAST(COALESCE(SUM(m * (m - 1) // 2), 0) AS BIGINT) FROM dn)
       |       + (SELECT CAST(COALESCE(SUM(ga.m * gb.m), 0) AS BIGINT)
       |          FROM candg c JOIN dn ga ON ga.fpi = c.ia JOIN dn gb ON gb.fpi = c.ib)
       |       AS n_cand,
       |       (SELECT CAST(COALESCE(SUM(m * (m - 1) // 2), 0) AS BIGINT) FROM dn)
       |       + (SELECT CAST(COALESCE(SUM(ga.m * gb.m), 0) AS BIGINT)
       |          FROM candg c
       |          LEFT JOIN dinter i ON i.ia = c.ia AND i.ib = c.ib
       |          JOIN sizes x ON c.ia = x.fpi JOIN sizes y ON c.ib = y.fpi
       |          JOIN dn ga ON ga.fpi = c.ia JOIN dn gb ON gb.fpi = c.ib
       |          WHERE (COALESCE(i.n_inter, 0) / (x.n + y.n - COALESCE(i.n_inter, 0))) >= 0.5)
       |       AS n_dup
       |)
       |SELECT n_truth, n_cand, n_dup,
       |  round(CAST(n_dup AS DOUBLE) / n_truth, 6) AS recall,
       |  round(CAST(n_dup AS DOUBLE) / n_cand, 6) AS candidate_precision
       |FROM truth CROSS JOIN cand""".stripMargin

  /** C85 tuning audit as WEIGHTED means over collapsed pairs: each
    * distinct-text pair carries m_a·m_b doc pairs and each m>1 group
    * carries C(m,2) jaccard-1 pairs; the decimal p-sums factor through
    * the weights exactly (integer × decimal is exact).
    */
  private val lshTuning: String = {
    val expand = (0 to 5).map { i =>
      val (bands, rows) = (32 / (1 << i), 1 << i)
      s"""SELECT CAST($bands AS BIGINT) AS bands, CAST($rows AS BIGINT) AS rows_per_band,
         |  n_pos, n_neg,
         |  CAST(CAST(round(CAST(sp$i AS DOUBLE) / n_pos, 6) AS DECIMAL(18,6)) AS DOUBLE) AS exp_recall,
         |  CAST(CAST(round(CAST(sn$i AS DOUBLE) / n_neg, 6) AS DECIMAL(18,6)) AS DOUBLE) AS exp_fp
         |FROM ag""".stripMargin
    }.mkString("\n", "\nUNION ALL\n", "")
    val sums = (0 to 5).map(i =>
      s"  SUM(w * p$i) FILTER (WHERE pos) AS sp$i, SUM(w * p$i) FILTER (WHERE NOT pos) AS sn$i")
      .mkString(",\n")
    s"""WITH dt AS (
       |  SELECT lang, text, md5(text) AS fp, MIN(doc_id) AS gid, COUNT(*) AS m
       |  FROM documents GROUP BY lang, text, md5(text)
       |), toks AS (
       |  SELECT fp, lang, string_split(text, ' ') AS tk FROM dt
       |), sh AS (
       |  SELECT DISTINCT fp, lang, array_to_string(tk[i:i+2], ' ') AS s
       |  FROM toks, unnest(range(1, greatest(len(tk) - 1, 2))) AS t(i)
       |), sizes AS (
       |  SELECT fp, lang, COUNT(*) AS n FROM sh GROUP BY fp, lang
       |), dinter AS (
       |  SELECT a.lang AS lang, a.fp AS fp_a, b.fp AS fp_b, COUNT(*) AS n_inter
       |  FROM sh a JOIN sh b ON a.lang = b.lang AND a.s = b.s AND a.fp < b.fp
       |  GROUP BY 1, 2, 3
       |), pairs AS (
       |  SELECT i.n_inter / (x.n + y.n - i.n_inter) AS jaccard,
       |         ga.m * gb.m AS w
       |  FROM dinter i
       |  JOIN sizes x ON i.fp_a = x.fp AND i.lang = x.lang
       |  JOIN sizes y ON i.fp_b = y.fp AND i.lang = y.lang
       |  JOIN dt ga ON ga.fp = i.fp_a AND ga.lang = i.lang
       |  JOIN dt gb ON gb.fp = i.fp_b AND gb.lang = i.lang
       |  WHERE i.n_inter / (x.n + y.n - i.n_inter) >= 0.0
       |  UNION ALL
       |  SELECT s.n / (s.n + s.n - s.n) AS jaccard, g.m * (g.m - 1) // 2 AS w
       |  FROM dt g JOIN sizes s ON s.fp = g.fp AND s.lang = g.lang
       |  WHERE g.m > 1
       |),
       |c0 AS (SELECT jaccard AS s1, jaccard >= 0.5 AS pos, w FROM pairs),
       |c1 AS (SELECT *, s1*s1 AS s2 FROM c0),
       |c2 AS (SELECT *, s2*s2 AS s4 FROM c1),
       |c3 AS (SELECT *, s4*s4 AS s8 FROM c2),
       |c4 AS (SELECT *, s8*s8 AS s16 FROM c3),
       |c5 AS (SELECT *, s16*s16 AS s32 FROM c4),
       |d0 AS (SELECT *, 1-s1 AS u0_1, 1-s2 AS u1_1, 1-s4 AS u2_1,
       |       1-s8 AS u3_1, 1-s16 AS u4_1, 1-s32 AS u5_1 FROM c5),
       |d1 AS (SELECT *, u0_1*u0_1 AS u0_2, u1_1*u1_1 AS u1_2,
       |       u2_1*u2_1 AS u2_2, u3_1*u3_1 AS u3_2, u4_1*u4_1 AS u4_2 FROM d0),
       |d2 AS (SELECT *, u0_2*u0_2 AS u0_4, u1_2*u1_2 AS u1_4,
       |       u2_2*u2_2 AS u2_4, u3_2*u3_2 AS u3_4 FROM d1),
       |d3 AS (SELECT *, u0_4*u0_4 AS u0_8, u1_4*u1_4 AS u1_8,
       |       u2_4*u2_4 AS u2_8 FROM d2),
       |d4 AS (SELECT *, u0_8*u0_8 AS u0_16, u1_8*u1_8 AS u1_16 FROM d3),
       |d5 AS (SELECT *, u0_16*u0_16 AS u0_32 FROM d4),
       |pp AS (SELECT pos, w,
       |  CAST(round(1 - u0_32, 7) AS DECIMAL(18,7)) AS p0,
       |  CAST(round(1 - u1_16, 7) AS DECIMAL(18,7)) AS p1,
       |  CAST(round(1 - u2_8, 7) AS DECIMAL(18,7)) AS p2,
       |  CAST(round(1 - u3_4, 7) AS DECIMAL(18,7)) AS p3,
       |  CAST(round(1 - u4_2, 7) AS DECIMAL(18,7)) AS p4,
       |  CAST(round(1 - u5_1, 7) AS DECIMAL(18,7)) AS p5
       |  FROM d5),
       |ag AS (SELECT
       |  CAST(SUM(w) FILTER (WHERE pos) AS BIGINT) AS n_pos,
       |  CAST(SUM(w) FILTER (WHERE NOT pos) AS BIGINT) AS n_neg,
       |$sums
       |  FROM pp)$expand""".stripMargin
  }

  /** C3 simhash collapsed: votes/signature per DISTINCT text, band
    * join over distinct texts, n_near(doc) = (m−1) + Σ m over
    * hamming≤3 neighbor groups — the oracle-side mirror of the
    * kernel's dup-collapsed design, derived independently from the
    * registered SQL.
    */
  private val dedupSimhash: String =
    """WITH RECURSIVE bits(b, p) AS (
      |  SELECT 0, CAST(1 AS BIGINT)
      |  UNION ALL SELECT b + 1, p * 2 FROM bits WHERE b < 59
      |), dt AS (
      |  SELECT text, md5(text) AS fp, MIN(doc_id) AS gid, COUNT(*) AS m
      |  FROM documents GROUP BY text, md5(text)
      |), tok AS (
      |  SELECT DISTINCT fp, t FROM (
      |    SELECT fp, unnest(string_split(text, ' ')) AS t FROM dt)
      |), th AS (
      |  SELECT fp, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM tok
      |), votes AS (
      |  SELECT fp, b, p,
      |    SUM(CASE WHEN (h // p) % 2 = 1 THEN 1 ELSE -1 END) AS v
      |  FROM th CROSS JOIN bits GROUP BY fp, b, p
      |), sig AS (
      |  SELECT fp,
      |    CAST(COALESCE(SUM(CASE WHEN v > 0 THEN p ELSE 0 END), 0) AS BIGINT) AS s
      |  FROM votes GROUP BY fp
      |), sb AS (
      |  SELECT fp, s,
      |    s % 65536 AS b0, (s // 65536) % 65536 AS b1,
      |    (s // 4294967296) % 65536 AS b2, (s // 281474976710656) % 65536 AS b3
      |  FROM sig
      |), eb AS (
      |  SELECT fp, s, k AS band,
      |    CASE k WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2 ELSE b3 END AS bv
      |  FROM sb CROSS JOIN (SELECT b AS k FROM bits WHERE b < 4) r
      |), cand AS (
      |  SELECT DISTINCT a.fp AS fp_a, b.fp AS fp_b, a.s AS sa, b.s AS sbb
      |  FROM eb a JOIN eb b ON a.band = b.band AND a.bv = b.bv AND a.fp < b.fp
      |), ham AS (
      |  SELECT fp_a, fp_b,
      |    SUM(CASE WHEN (sa // p) % 2 <> (sbb // p) % 2 THEN 1 ELSE 0 END) AS hamming
      |  FROM cand CROSS JOIN bits GROUP BY fp_a, fp_b
      |), nbr_mass AS (
      |  SELECT fp, CAST(COALESCE(SUM(mn), 0) AS BIGINT) AS cross_mass FROM (
      |    SELECT h.fp_a AS fp, g.m AS mn FROM ham h JOIN dt g ON g.fp = h.fp_b
      |    WHERE h.hamming <= 3
      |    UNION ALL
      |    SELECT h.fp_b AS fp, g.m AS mn FROM ham h JOIN dt g ON g.fp = h.fp_a
      |    WHERE h.hamming <= 3)
      |  GROUP BY fp
      |)
      |SELECT d.doc_id, g.b0, g.b1, g.b2, g.b3,
      |  (grp.m - 1 + COALESCE(nb.cross_mass, 0)) AS n_near
      |FROM documents d
      |JOIN dt grp ON grp.fp = md5(d.text)
      |JOIN sb g ON g.fp = grp.fp
      |LEFT JOIN nbr_mass nb ON nb.fp = grp.fp""".stripMargin

  /** C23 clusters: the reachability closure runs over the DISTINCT-
    * text group graph (every m>1 group is internally a clique, so it
    * enters as one node), keeping the closure quadratic in ORIGINAL
    * component sizes, not replica-inflated ones.
    */
  private val dedupClusters: String =
    s"""WITH RECURSIVE dt AS (
       |  SELECT text, md5(text) AS fp, MIN(doc_id) AS gid, MAX(doc_id) AS maxd,
       |         COUNT(*) AS m
       |  FROM documents GROUP BY text, md5(text)
       |), toks AS (
       |  SELECT fp, string_split(text, ' ') AS tk FROM dt
       |), grams AS (
       |  SELECT DISTINCT fp, array_to_string(tk[i:i+2], ' ') AS g
       |  FROM toks, unnest(range(1, greatest(len(tk) - 1, 2))) AS t(i)
       |), base AS (
       |  SELECT fp, ('0x' || substr(md5(g), 1, 15))::BIGINT % 2147483647 AS b
       |  FROM grams
       |), seeds AS (
       |  SELECT CAST(i AS BIGINT) AS i FROM unnest(range(0, 32)) AS s(i)
       |), sigs AS (
       |  SELECT fp, i,
       |    MIN((((1103515245 * (i + 1) + 12345) % 2147483647) * b
       |        + ((1234567891 * (i + 1) + 987654321) % 2147483647)) % 2147483647) AS sig
       |  FROM base CROSS JOIN seeds GROUP BY fp, i
       |), bands AS (
       |  SELECT fp, i // 4 AS band,
       |    md5(array_to_string(list(sig ORDER BY i), '-')) AS bh
       |  FROM sigs GROUP BY fp, i // 4
       |), cand AS (
       |  SELECT DISTINCT a.fp AS fp_a, b.fp AS fp_b
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.fp < b.fp
       |), sizes AS (
       |  SELECT fp, COUNT(*) AS n FROM grams GROUP BY fp
       |), inter AS (
       |  SELECT c.fp_a, c.fp_b, COUNT(*) AS n_inter
       |  FROM cand c
       |  JOIN grams x ON x.fp = c.fp_a
       |  JOIN grams y ON y.fp = c.fp_b AND y.g = x.g
       |  GROUP BY 1, 2
       |), ge AS (
       |  SELECT ga.gid AS a, gb.gid AS b
       |  FROM cand c
       |  LEFT JOIN inter i ON i.fp_a = c.fp_a AND i.fp_b = c.fp_b
       |  JOIN sizes x ON c.fp_a = x.fp
       |  JOIN sizes y ON c.fp_b = y.fp
       |  JOIN dt ga ON ga.fp = c.fp_a
       |  JOIN dt gb ON gb.fp = c.fp_b
       |  WHERE COALESCE(i.n_inter, 0) / (x.n + y.n - COALESCE(i.n_inter, 0)) >= 0.5
       |), und AS (
       |  SELECT a, b FROM ge UNION ALL SELECT b, a FROM ge
       |), nodes AS (
       |  SELECT DISTINCT a AS n FROM und
       |  UNION
       |  SELECT gid FROM dt WHERE m > 1
       |), reach(n, lbl) AS (
       |  SELECT n, n FROM nodes
       |  UNION
       |  SELECT r.n, u.b FROM reach r JOIN und u ON r.lbl = u.a
       |), lab AS (SELECT n AS gid, MIN(lbl) AS label FROM reach GROUP BY n)
       |SELECT l.label AS cluster_id, CAST(SUM(g.m) AS BIGINT) AS n_docs,
       |  MIN(g.gid) AS keep_doc_id, MAX(g.maxd) AS max_doc_id
       |FROM lab l JOIN dt g ON g.gid = l.gid
       |GROUP BY l.label""".stripMargin

  /** C52 kNN join: group pairs per label (including the self pair for
    * m>1 groups), per-group candidate LEVELS by cosine with the
    * strictly-above-mass < k prune, then member expansion and the
    * registered rank.
    */
  private val knnJoin: String =
    """WITH gv AS (
      |  SELECT label, embedding, MIN(vec_id) AS gid, COUNT(*) AS m
      |  FROM embeddings GROUP BY label, embedding
      |), mem AS (
      |  SELECT e.label, e.vec_id, g.gid
      |  FROM embeddings e JOIN gv g
      |    ON e.label = g.label AND e.embedding = g.embedding
      |), gpair AS (
      |  SELECT a.label, a.gid AS ga, b.gid AS gb,
      |    CASE WHEN a.gid = b.gid THEN a.m - 1 ELSE b.m END AS cand_mass,
      |    round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                                 CAST(b.embedding AS DOUBLE[])), 3) AS cosine
      |  FROM gv a JOIN gv b ON a.label = b.label
      |  WHERE (a.gid <> b.gid OR a.m > 1)
      |), lvl AS (
      |  SELECT label, ga, cosine, SUM(cand_mass) AS lm
      |  FROM gpair GROUP BY label, ga, cosine
      |), keepl AS (
      |  SELECT label, ga, cosine
      |  FROM (
      |    SELECT label, ga, cosine,
      |      COALESCE(SUM(lm) OVER (PARTITION BY ga ORDER BY cosine DESC
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS above
      |    FROM lvl)
      |  WHERE above < 3
      |), kept AS (
      |  SELECT p.label, p.ga, p.gb, p.cosine
      |  FROM gpair p JOIN keepl k
      |    ON p.ga = k.ga AND p.cosine = k.cosine AND p.label = k.label
      |), expanded AS (
      |  SELECT mu.label, mu.vec_id, mv.vec_id AS nbr_id, p.cosine
      |  FROM kept p
      |  JOIN mem mu ON mu.gid = p.ga
      |  JOIN mem mv ON mv.gid = p.gb AND mv.vec_id <> mu.vec_id
      |), ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY vec_id
      |                               ORDER BY cosine DESC, nbr_id) AS nbr_rank
      |  FROM expanded
      |)
      |SELECT label, vec_id, CAST(nbr_rank AS BIGINT) AS nbr_rank, nbr_id, cosine
      |FROM ranked WHERE nbr_rank <= 3""".stripMargin

  // ---------------------------------------------------------------
  // Collapsed IVF k-means pipeline (identity #2). dim = 64 unrolls the
  // fixed-point dot as explicit terms — the registered oracle's
  // |corpus|×|cells|×64 explode-join becomes a |distinct|×|cells|
  // cross join of vectorized 64-term expressions.
  // ---------------------------------------------------------------

  private def dot64(g: String, t: String): String =
    (1 to 64).map(j =>
      s"CAST(floor($g.ed[$j] * $t.cv[$j] * 10000000000.0 + 0.5) AS BIGINT)")
      .mkString(" + ")

  private def lloydRound(i: Int, prevT: String): String =
    s"""d$i AS MATERIALIZED (
       |  SELECT g.gid, t.cell, ${dot64("g", "t")} AS dot
       |  FROM gv g CROSS JOIN $prevT t
       |), a$i AS MATERIALIZED (
       |  SELECT gid, cell FROM (
       |    SELECT gid, cell, row_number() OVER (PARTITION BY gid ORDER BY dot DESC, cell) AS rn
       |    FROM d$i) WHERE rn = 1
       |), u$i AS MATERIALIZED (
       |  SELECT a$i.cell, gx.dim,
       |    CAST(SUM(gx.m * CAST(floor(gx.xi * 10000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
       |      / 10000000.0 / SUM(gx.m) AS c
       |  FROM gx JOIN a$i USING (gid) GROUP BY a$i.cell, gx.dim
       |), c${i}l AS MATERIALIZED (
       |  SELECT p.cell, p.dim, COALESCE(u$i.c, p.c) AS c
       |  FROM ${prevT}l p LEFT JOIN u$i ON p.cell = u$i.cell AND p.dim = u$i.dim
       |), t$i AS MATERIALIZED (SELECT cell, list(c ORDER BY dim) AS cv FROM c${i}l GROUP BY cell
       |), t${i}l AS MATERIALIZED (SELECT cell, dim, c FROM c${i}l)""".stripMargin

  /** params, distinct-vector frame, init centroids, two Lloyd rounds,
    * final group assignment (afg) and the doc→group map (mem) —
    * bitwise the registered `ivfPipelineSql` through identity #2.
    */
  private val ivfPipe: String =
    s"""params AS (
       |  SELECT CAST(CEIL(SQRT(COUNT(*))) AS BIGINT) AS c,
       |    CAST(CEIL(SQRT(CEIL(SQRT(COUNT(*))))) AS BIGINT) AS np
       |  FROM embeddings
       |), gv AS MATERIALIZED (
       |  SELECT embedding, CAST(embedding AS DOUBLE[]) AS ed,
       |         MIN(vec_id) AS gid, COUNT(*) AS m
       |  FROM embeddings GROUP BY embedding
       |), gx AS MATERIALIZED (
       |  SELECT gid, m, CAST(j AS INTEGER) AS dim, CAST(embedding[j] AS DOUBLE) AS xi
       |  FROM gv, unnest(range(1, 65)) AS t(j)
       |), t0 AS MATERIALIZED (
       |  SELECT CAST(vec_id AS INTEGER) AS cell, CAST(embedding AS DOUBLE[]) AS cv
       |  FROM embeddings WHERE vec_id < (SELECT c FROM params)
       |), t0l AS MATERIALIZED (
       |  SELECT cell, CAST(j AS INTEGER) AS dim, cv[j] AS c
       |  FROM t0, unnest(range(1, 65)) AS t(j)
       |), ${lloydRound(1, "t0")},
       |${lloydRound(2, "t1")},
       |d3 AS MATERIALIZED (
       |  SELECT g.gid, t.cell, ${dot64("g", "t")} AS dot
       |  FROM gv g CROSS JOIN t2 t
       |), r3 AS MATERIALIZED (
       |  SELECT gid, cell,
       |    row_number() OVER (PARTITION BY gid ORDER BY dot DESC, cell) AS rn
       |  FROM d3
       |), afg AS MATERIALIZED (SELECT gid, cell FROM r3 WHERE rn = 1
       |), mem AS MATERIALIZED (
       |  SELECT e.vec_id, g.gid FROM embeddings e
       |  JOIN gv g ON e.embedding = g.embedding
       |)""".stripMargin

  /** IVF serving arm: probe cells per query group, collapsed candidate
    * scoring, level prune at k = 10, member expansion, registered rank.
    */
  private val ivfServe: String =
    s"""$ivfPipe,
       |qg AS MATERIALIZED (
       |  SELECT mem.vec_id AS query_id, mem.gid AS qgid FROM mem WHERE mem.vec_id < 10
       |), qp AS (
       |  SELECT qg.query_id, qg.qgid, r3.cell
       |  FROM qg JOIN r3 ON r3.gid = qg.qgid
       |  WHERE r3.rn <= (SELECT np FROM params)
       |), candg AS MATERIALIZED (
       |  SELECT DISTINCT q.query_id, q.qgid, a.gid
       |  FROM qp q JOIN afg a ON a.cell = q.cell
       |), gsc AS MATERIALIZED (
       |  SELECT c.query_id, c.gid,
       |    round(list_cosine_similarity(gq.ed, gc.ed), 3) AS cosine,
       |    gc.m - CASE WHEN c.gid = c.qgid THEN 1 ELSE 0 END AS cand_mass
       |  FROM candg c
       |  JOIN gv gq ON gq.gid = c.qgid
       |  JOIN gv gc ON gc.gid = c.gid
       |), lvl AS (
       |  SELECT query_id, cosine, SUM(cand_mass) AS lm
       |  FROM gsc WHERE cand_mass > 0 GROUP BY query_id, cosine
       |), keepl AS (
       |  SELECT query_id, cosine FROM (
       |    SELECT query_id, cosine,
       |      COALESCE(SUM(lm) OVER (PARTITION BY query_id ORDER BY cosine DESC
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS above
       |    FROM lvl)
       |  WHERE above < 10
       |), expanded AS (
       |  SELECT g.query_id, mv.vec_id, g.cosine
       |  FROM gsc g
       |  JOIN keepl k ON k.query_id = g.query_id AND k.cosine = g.cosine
       |  JOIN mem mv ON mv.gid = g.gid AND mv.vec_id <> g.query_id
       |), ivf_ranked AS (
       |  SELECT query_id, vec_id, cosine,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
       |  FROM expanded
       |)""".stripMargin

  private val annIvf: String =
    s"""WITH $ivfServe
       |SELECT query_id, rank, vec_id, cosine FROM ivf_ranked WHERE rank <= 10""".stripMargin

  private val ivfStats: String =
    s"""WITH $ivfPipe,
       |cells AS (
       |  SELECT afg.cell, CAST(SUM(gv.m) AS BIGINT) AS n_vecs
       |  FROM afg JOIN gv USING (gid) GROUP BY afg.cell
       |), tot AS (SELECT CAST(SUM(n_vecs) AS BIGINT) AS n_total FROM cells)
       |SELECT cell, n_vecs, n_total,
       |  floor(CAST(n_vecs AS DOUBLE) / n_total * 1000000.0 + 0.5) / 1000000.0 AS share
       |FROM cells CROSS JOIN tot""".stripMargin

  private val annRecall: String =
    s"""WITH $ivfServe,
       |approx AS (SELECT query_id, vec_id FROM ivf_ranked WHERE rank <= 10),
       |exg AS (
       |  SELECT qg.query_id, g.gid,
       |    round(list_cosine_similarity(gq.ed, g.ed), 3) AS cosine,
       |    g.m - CASE WHEN g.gid = qg.qgid THEN 1 ELSE 0 END AS cand_mass
       |  FROM qg JOIN gv gq ON gq.gid = qg.qgid CROSS JOIN gv g
       |), exlvl AS (
       |  SELECT query_id, cosine, SUM(cand_mass) AS lm
       |  FROM exg WHERE cand_mass > 0 GROUP BY query_id, cosine
       |), exkeep AS (
       |  SELECT query_id, cosine FROM (
       |    SELECT query_id, cosine,
       |      COALESCE(SUM(lm) OVER (PARTITION BY query_id ORDER BY cosine DESC
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS above
       |    FROM exlvl)
       |  WHERE above < 10
       |), exexp AS (
       |  SELECT g.query_id, mv.vec_id, g.cosine
       |  FROM exg g
       |  JOIN exkeep k ON k.query_id = g.query_id AND k.cosine = g.cosine
       |  JOIN mem mv ON mv.gid = g.gid AND mv.vec_id <> g.query_id
       |), exact_ranked AS (
       |  SELECT query_id, vec_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
       |  FROM exexp
       |), exact AS (SELECT query_id, vec_id FROM exact_ranked WHERE rank <= 10)
       |SELECT e.query_id, CAST(COUNT(*) AS BIGINT) AS k,
       |  CAST(COUNT(a.vec_id) AS BIGINT) AS n_hit,
       |  CAST(COUNT(a.vec_id) AS DOUBLE) / COUNT(*) AS recall_at_k
       |FROM exact e LEFT JOIN approx a
       |  ON e.query_id = a.query_id AND e.vec_id = a.vec_id
       |GROUP BY e.query_id""".stripMargin

  private val dedupSemantic: String =
    s"""WITH $ivfPipe,
       |gpair AS (
       |  SELECT a.cell, ga.gid AS g_a, gb.gid AS g_b,
       |    round(list_cosine_similarity(ga.ed, gb.ed), 3) AS cosine
       |  FROM afg a JOIN afg b ON a.cell = b.cell
       |  JOIN gv ga ON ga.gid = a.gid
       |  JOIN gv gb ON gb.gid = b.gid
       |  WHERE a.gid < b.gid
       |), qpair AS (
       |  SELECT cell, g_a, g_b, cosine FROM gpair WHERE cosine >= 0.4
       |), cross_pairs AS (
       |  SELECT p.cell, LEAST(ma.vec_id, mb.vec_id) AS vec_a,
       |         GREATEST(ma.vec_id, mb.vec_id) AS vec_b, p.cosine
       |  FROM qpair p
       |  JOIN mem ma ON ma.gid = p.g_a
       |  JOIN mem mb ON mb.gid = p.g_b
       |), selfc AS (
       |  SELECT afg.cell, gv.gid,
       |    round(list_cosine_similarity(gv.ed, gv.ed), 3) AS cosine
       |  FROM gv JOIN afg USING (gid) WHERE gv.m > 1
       |), within_pairs AS (
       |  SELECT s.cell, ma.vec_id AS vec_a, mb.vec_id AS vec_b, s.cosine
       |  FROM selfc s
       |  JOIN mem ma ON ma.gid = s.gid
       |  JOIN mem mb ON mb.gid = s.gid AND ma.vec_id < mb.vec_id
       |  WHERE s.cosine >= 0.4
       |)
       |SELECT cell, vec_a, vec_b, cosine FROM cross_pairs
       |UNION ALL
       |SELECT cell, vec_a, vec_b, cosine FROM within_pairs""".stripMargin

  /** Collapsed exact brute-force arm (shared by refine/rebalance/
    * recall): per-query scores over distinct vectors, level prune at
    * k = 10, member expansion, registered rank.
    */
  private val exactArm: String =
    """exg AS (
      |  SELECT qg.query_id, g.gid,
      |    round(list_cosine_similarity(gq.ed, g.ed), 3) AS cosine,
      |    g.m - CASE WHEN g.gid = qg.qgid THEN 1 ELSE 0 END AS cand_mass
      |  FROM qg JOIN gv gq ON gq.gid = qg.qgid CROSS JOIN gv g
      |), exlvl AS (
      |  SELECT query_id, cosine, SUM(cand_mass) AS lm
      |  FROM exg WHERE cand_mass > 0 GROUP BY query_id, cosine
      |), exkeep AS (
      |  SELECT query_id, cosine FROM (
      |    SELECT query_id, cosine,
      |      COALESCE(SUM(lm) OVER (PARTITION BY query_id ORDER BY cosine DESC
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS above
      |    FROM exlvl)
      |  WHERE above < 10
      |), exexp AS (
      |  SELECT g.query_id, mv.vec_id, g.cosine
      |  FROM exg g
      |  JOIN exkeep k ON k.query_id = g.query_id AND k.cosine = g.cosine
      |  JOIN mem mv ON mv.gid = g.gid AND mv.vec_id <> g.query_id
      |), exact_ranked AS (
      |  SELECT query_id, vec_id,
      |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
      |  FROM exexp
      |), exact AS (SELECT query_id, vec_id FROM exact_ranked WHERE rank <= 10)""".stripMargin

  /** C7e coarse+refine: the int8 shortlist arm runs per (query group,
    * candidate group) — the quantized vectors and amax scales are
    * content-pure — with the same level prune; the ≤30-pair pool then
    * rescores through raw-row lookups.
    */
  private val annRefine: String = {
    val dot8q = (1 to 64).map(j => s"qa.qv[$j] * qb.qv[$j]").mkString(" + ")
    s"""WITH $ivfServe,
       |coarse AS (SELECT query_id, vec_id FROM ivf_ranked WHERE rank <= 10),
       |gam AS (
       |  SELECT gid, list_aggregate(list_transform(ed, y -> abs(y)), 'max') AS amax
       |  FROM gv),
       |gq8 AS (
       |  SELECT gx.gid,
       |    list(CAST(floor(gx.xi * (CASE WHEN gam.amax = 0 THEN 0.0
       |                                  ELSE 127.0 / gam.amax END) + 0.5) AS BIGINT)
       |         ORDER BY gx.dim) AS qv
       |  FROM gx JOIN gam USING (gid) GROUP BY gx.gid),
       |qp4 AS (
       |  SELECT qg.query_id, qg.qgid, r3.cell
       |  FROM qg JOIN r3 ON r3.gid = qg.qgid
       |  WHERE r3.rn <= 2 * (SELECT np FROM params)),
       |cand4g AS (
       |  SELECT DISTINCT q.query_id, q.qgid, a.gid
       |  FROM qp4 q JOIN afg a ON a.cell = q.cell),
       |d8g AS (
       |  SELECT c.query_id, c.gid,
       |    CAST($dot8q AS DOUBLE) * gam.amax AS s8,
       |    gc.m - CASE WHEN c.gid = c.qgid THEN 1 ELSE 0 END AS cand_mass
       |  FROM cand4g c
       |  JOIN gq8 qa ON qa.gid = c.qgid
       |  JOIN gq8 qb ON qb.gid = c.gid
       |  JOIN gv gc ON gc.gid = c.gid
       |  JOIN gam ON gam.gid = c.gid),
       |lvl8 AS (
       |  SELECT query_id, s8, SUM(cand_mass) AS lm
       |  FROM d8g WHERE cand_mass > 0 GROUP BY query_id, s8),
       |keep8 AS (
       |  SELECT query_id, s8 FROM (
       |    SELECT query_id, s8,
       |      COALESCE(SUM(lm) OVER (PARTITION BY query_id ORDER BY s8 DESC
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS above
       |    FROM lvl8)
       |  WHERE above < 20),
       |exp8 AS (
       |  SELECT g.query_id, mv.vec_id, g.s8
       |  FROM d8g g
       |  JOIN keep8 k ON k.query_id = g.query_id AND k.s8 = g.s8
       |  JOIN mem mv ON mv.gid = g.gid AND mv.vec_id <> g.query_id),
       |short AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY s8 DESC, vec_id) AS rn8
       |    FROM exp8) WHERE rn8 <= 20),
       |pool AS (
       |  SELECT query_id, vec_id FROM short
       |  UNION
       |  SELECT query_id, vec_id FROM coarse),
       |ref_scored AS (
       |  SELECT s.query_id, s.vec_id,
       |    round(list_cosine_similarity(CAST(eq.embedding AS DOUBLE[]),
       |                                 CAST(ec.embedding AS DOUBLE[])), 3) AS cosine
       |  FROM pool s
       |  JOIN embeddings eq ON eq.vec_id = s.query_id
       |  JOIN embeddings ec ON ec.vec_id = s.vec_id),
       |refined AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
       |    FROM ref_scored) WHERE rank <= 10),
       |$exactArm
       |SELECT e.query_id, CAST(COUNT(*) AS BIGINT) AS k,
       |  CAST(COUNT(c.vec_id) AS BIGINT) AS n_hit_coarse,
       |  CAST(COUNT(r.vec_id) AS BIGINT) AS n_hit_refine,
       |  CAST(COUNT(c.vec_id) AS DOUBLE) / COUNT(*) AS recall_coarse,
       |  CAST(COUNT(r.vec_id) AS DOUBLE) / COUNT(*) AS recall_refine
       |FROM exact e
       |LEFT JOIN coarse c ON e.query_id = c.query_id AND e.vec_id = c.vec_id
       |LEFT JOIN refined r ON e.query_id = r.query_id AND e.vec_id = r.vec_id
       |GROUP BY e.query_id""".stripMargin
  }

  /** C7f rebalance: the far-half pick and its window stay DOC-level
    * (they are |hot members|-bounded and tie-break on vec_id), but the
    * three k-means rounds, the post-split reassignment, and both
    * serving arms ride the collapsed frames.
    */
  private val ivfRebalance: String = {
    val d5dot = (1 to 64).map(j =>
      s"CAST(floor(g.ed[$j] * t.cv[$j] * 10000000000.0 + 0.5) AS BIGINT)")
      .mkString(" + ")
    s"""WITH $ivfServe,
       |ntot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
       |cellsb AS (
       |  SELECT afg.cell, CAST(SUM(gv.m) AS BIGINT) AS nv
       |  FROM afg JOIN gv USING (gid) GROUP BY afg.cell),
       |hot AS (
       |  SELECT cell FROM cellsb
       |  WHERE CAST(nv AS DOUBLE) > 1.2 *
       |    (CAST((SELECT n FROM ntot) AS DOUBLE) / CAST((SELECT c FROM params) AS DOUBLE))),
       |downg AS (
       |  SELECT d3.gid, d3.cell, d3.dot
       |  FROM d3 JOIN afg ON afg.gid = d3.gid AND afg.cell = d3.cell
       |  WHERE d3.cell IN (SELECT cell FROM hot)),
       |down AS (
       |  SELECT mem.vec_id, dg.cell, dg.dot
       |  FROM downg dg JOIN mem USING (gid)),
       |farh AS (
       |  SELECT cell, vec_id FROM (
       |    SELECT cell, vec_id,
       |      row_number() OVER (PARTITION BY cell ORDER BY dot ASC, vec_id) AS rn,
       |      COUNT(*) OVER (PARTITION BY cell) AS m
       |    FROM down) WHERE rn * 2 <= m + 1),
       |numc AS (
       |  SELECT cell, row_number() OVER (ORDER BY cell) AS k
       |  FROM (SELECT DISTINCT cell FROM farh)),
       |newc AS (
       |  SELECT CAST((SELECT c FROM params) + n.k - 1 AS INTEGER) AS cell, gx.dim,
       |    CAST(SUM(CAST(floor(gx.xi * 10000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
       |      / 10000000.0 / COUNT(*) AS c
       |  FROM farh f
       |  JOIN mem ON mem.vec_id = f.vec_id
       |  JOIN gx ON gx.gid = mem.gid
       |  JOIN numc n ON n.cell = f.cell
       |  GROUP BY n.k, gx.dim),
       |cfin AS (SELECT cell, dim, c FROM t2l UNION ALL SELECT cell, dim, c FROM newc),
       |tf AS (SELECT cell, list(c ORDER BY dim) AS cv FROM cfin GROUP BY cell),
       |params2 AS (
       |  SELECT CAST((SELECT c FROM params) + (SELECT COUNT(*) FROM hot) AS BIGINT) AS ca,
       |    CAST(CEIL(SQRT((SELECT c FROM params) + (SELECT COUNT(*) FROM hot))) AS BIGINT) AS np2),
       |d5 AS (
       |  SELECT g.gid, t.cell, $d5dot AS dot
       |  FROM gv g CROSS JOIN tf t),
       |r5 AS (
       |  SELECT gid, cell,
       |    row_number() OVER (PARTITION BY gid ORDER BY dot DESC, cell) AS rn
       |  FROM d5),
       |af5g AS (SELECT gid, cell FROM r5 WHERE rn = 1),
       |cellsa AS (
       |  SELECT af5g.cell, CAST(SUM(gv.m) AS BIGINT) AS nv
       |  FROM af5g JOIN gv USING (gid) GROUP BY af5g.cell),
       |qp5 AS (
       |  SELECT qg.query_id, qg.qgid, r5.cell
       |  FROM qg JOIN r5 ON r5.gid = qg.qgid
       |  WHERE r5.rn <= (SELECT np2 FROM params2)),
       |cand5g AS (
       |  SELECT DISTINCT q.query_id, q.qgid, a.gid
       |  FROM qp5 q JOIN af5g a ON a.cell = q.cell),
       |gsc5 AS (
       |  SELECT c.query_id, c.gid,
       |    round(list_cosine_similarity(gq.ed, gc.ed), 3) AS cosine,
       |    gc.m - CASE WHEN c.gid = c.qgid THEN 1 ELSE 0 END AS cand_mass
       |  FROM cand5g c
       |  JOIN gv gq ON gq.gid = c.qgid
       |  JOIN gv gc ON gc.gid = c.gid),
       |lvl5 AS (
       |  SELECT query_id, cosine, SUM(cand_mass) AS lm
       |  FROM gsc5 WHERE cand_mass > 0 GROUP BY query_id, cosine),
       |keep5 AS (
       |  SELECT query_id, cosine FROM (
       |    SELECT query_id, cosine,
       |      COALESCE(SUM(lm) OVER (PARTITION BY query_id ORDER BY cosine DESC
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS above
       |    FROM lvl5)
       |  WHERE above < 10),
       |exp5 AS (
       |  SELECT g.query_id, mv.vec_id, g.cosine
       |  FROM gsc5 g
       |  JOIN keep5 k ON k.query_id = g.query_id AND k.cosine = g.cosine
       |  JOIN mem mv ON mv.gid = g.gid AND mv.vec_id <> g.query_id),
       |rk5 AS (
       |  SELECT query_id, vec_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
       |  FROM exp5),
       |approx_after AS (SELECT query_id, vec_id FROM rk5 WHERE rank <= 10),
       |approx_before AS (SELECT query_id, vec_id FROM ivf_ranked WHERE rank <= 10),
       |$exactArm,
       |msb AS (SELECT floor(CAST(MAX(nv) AS DOUBLE) / (SELECT n FROM ntot)
       |  * 1000000.0 + 0.5) / 1000000.0 AS v FROM cellsb),
       |msa AS (SELECT floor(CAST(MAX(nv) AS DOUBLE) / (SELECT n FROM ntot)
       |  * 1000000.0 + 0.5) / 1000000.0 AS v FROM cellsa),
       |rec AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS k_total,
       |    CAST(COUNT(b.vec_id) AS BIGINT) AS hits_before,
       |    CAST(COUNT(a2.vec_id) AS BIGINT) AS hits_after
       |  FROM exact e
       |  LEFT JOIN approx_before b ON e.query_id = b.query_id AND e.vec_id = b.vec_id
       |  LEFT JOIN approx_after a2 ON e.query_id = a2.query_id AND e.vec_id = a2.vec_id)
       |SELECT CAST((SELECT c FROM params) AS BIGINT) AS cells_before,
       |  (SELECT ca FROM params2) AS cells_after,
       |  (SELECT v FROM msb) AS max_share_before,
       |  (SELECT v FROM msa) AS max_share_after,
       |  k_total, hits_before, hits_after,
       |  CAST(hits_before AS DOUBLE) / k_total AS recall_before,
       |  CAST(hits_after AS DOUBLE) / k_total AS recall_after
       |FROM rec""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Materialization-pin restatements: the four iterative-graph faces
  // whose registered oracles time out at 64× volumes. Their registered
  // oracles are NOT quadratic in shape — every stage is an |E|-bounded
  // join or aggregate — but DuckDB re-inlines each multi-referenced
  // CTE per reference, so the shared pair-generation chain (the
  // lineitem basket self-join) is re-derived once per round/branch.
  // PageRank is the worst case: pr_{i-1} is referenced twice per round
  // (contribution join + carry-forward), so the pr0 chain — including
  // the quadratic-in-basket pair join — re-derives 2^rounds times.
  // The restatement is the registered SQL's logical plan VERBATIM with
  // AS MATERIALIZED on every multi-referenced CTE above the pair join
  // (the base `li` projection stays unmaterialized where the pair
  // self-join is its ONLY consumer — re-inlining a column projection
  // is free, the blow-up the pins kill is re-deriving the pair JOIN;
  // assocRules materializes `li` because item/tot read it too):
  // equivalence is by DuckDB's own materialization contract, and
  // oracle_equiv.py still proves it bit-for-bit at the driver SFs
  // before the overlay runs. ScaleOraclesSpec pins each entry against
  // its SparkEntry.oracleSql counterpart modulo the MATERIALIZED
  // keyword, so textual drift from the registered oracle fails the
  // unit suite, not just a manual oracle_equiv run.
  // ---------------------------------------------------------------------

  private val pagerank: String = {
    def round_(i: Int): String =
      s"""c$i AS (
         |  SELECT und.dst, pr_e9 // pr${i - 1}.deg AS c
         |  FROM und JOIN pr${i - 1} ON und.src = pr${i - 1}.node),
         |s$i AS (SELECT dst, CAST(SUM(c) AS BIGINT) AS s FROM c$i GROUP BY dst),
         |pr$i AS MATERIALIZED (
         |  SELECT node, deg,
         |    150000000 // nn + (85 * COALESCE(s, 0)) // 100 AS pr_e9
         |  FROM pr${i - 1} LEFT JOIN s$i ON node = dst CROSS JOIN n)""".stripMargin
    s"""WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |e0 AS MATERIALIZED (
       |  SELECT DISTINCT a.pk AS p1, b.pk AS p2
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
       |und AS MATERIALIZED (
       |  SELECT p1 AS src, p2 AS dst FROM e0
       |  UNION ALL
       |  SELECT p2 AS src, p1 AS dst FROM e0),
       |deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM und GROUP BY src),
       |n AS MATERIALIZED (SELECT COUNT(*) AS nn FROM deg),
       |pr0 AS MATERIALIZED (
       |  SELECT src AS node, deg, 1000000000 // nn AS pr_e9
       |  FROM deg CROSS JOIN n),
       |${round_(1)},
       |${round_(2)},
       |${round_(3)}
       |SELECT node AS part, CAST(pr_e9 AS BIGINT) AS pr_e9
       |FROM pr3 ORDER BY pr_e9 DESC, node LIMIT 20""".stripMargin
  }

  private val triangles: String =
    """WITH li AS (
      |  SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |pairs AS MATERIALIZED (
      |  SELECT a.pk AS p1, b.pk AS p2
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
      |e AS MATERIALIZED (
      |  SELECT p1, p2 FROM pairs GROUP BY p1, p2 HAVING COUNT(*) >= 2),
      |deg AS MATERIALIZED (
      |  SELECT n, CAST(COUNT(*) AS BIGINT) AS d
      |  FROM (SELECT p1 AS n FROM e UNION ALL SELECT p2 AS n FROM e)
      |  GROUP BY n),
      |o AS MATERIALIZED (
      |  SELECT
      |    CASE WHEN (da.d, e.p1) < (db.d, e.p2) THEN e.p1 ELSE e.p2 END AS u,
      |    CASE WHEN (da.d, e.p1) < (db.d, e.p2) THEN e.p2 ELSE e.p1 END AS v,
      |    CASE WHEN (da.d, e.p1) < (db.d, e.p2) THEN db.d ELSE da.d END AS dv
      |  FROM e JOIN deg da ON e.p1 = da.n JOIN deg db ON e.p2 = db.n),
      |tri AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
      |  FROM o e1
      |  JOIN o e2 ON e1.u = e2.u AND (e1.dv, e1.v) < (e2.dv, e2.v)
      |  JOIN o e3 ON e3.u = e1.v AND e3.v = e2.v)
      |SELECT
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
      |  (SELECT n_triangles FROM tri) AS n_triangles""".stripMargin

  private val bfs: String =
    """WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |pairs AS MATERIALIZED (
      |  SELECT a.pk AS p1, b.pk AS p2
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
      |e AS MATERIALIZED (
      |  SELECT p1, p2 FROM pairs GROUP BY p1, p2 HAVING COUNT(*) >= 2),
      |edges AS MATERIALIZED (
      |  SELECT p1 AS u, p2 AS v FROM e
      |  UNION ALL SELECT p2 AS u, p1 AS v FROM e),
      |src AS (
      |  SELECT u AS node FROM (
      |    SELECT u, COUNT(*) AS d FROM edges GROUP BY u
      |    ORDER BY d DESC, u LIMIT 1)),
      |l0 AS MATERIALIZED (SELECT node FROM src),
      |l1 AS MATERIALIZED (
      |  SELECT DISTINCT v AS node FROM edges JOIN l0 ON edges.u = l0.node),
      |l2 AS MATERIALIZED (
      |  SELECT DISTINCT v AS node FROM edges JOIN l1 ON edges.u = l1.node),
      |l3 AS MATERIALIZED (
      |  SELECT DISTINCT v AS node FROM edges JOIN l2 ON edges.u = l2.node),
      |lv AS (
      |  SELECT node, 0 AS lvl FROM l0
      |  UNION ALL SELECT node, 1 FROM l1
      |  UNION ALL SELECT node, 2 FROM l2
      |  UNION ALL SELECT node, 3 FROM l3),
      |d AS (SELECT node, CAST(MIN(lvl) AS INTEGER) AS dist FROM lv GROUP BY node)
      |SELECT dist, CAST(COUNT(*) AS BIGINT) AS n_parts,
      |  CAST(MIN(node) AS BIGINT) AS min_part,
      |  CAST(MAX(node) AS BIGINT) AS max_part
      |FROM d GROUP BY dist""".stripMargin

  private val assocRules: String =
    """WITH li AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |pairs AS MATERIALIZED (
      |  SELECT a.pk AS p1, b.pk AS p2
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
      |c AS MATERIALIZED (
      |  SELECT p1, p2, COUNT(*) AS cab FROM pairs GROUP BY 1, 2
      |  HAVING COUNT(*) >= 3),
      |d AS (
      |  SELECT p1 AS part, p2 AS other, cab FROM c
      |  UNION ALL
      |  SELECT p2 AS part, p1 AS other, cab FROM c),
      |item AS MATERIALIZED (SELECT pk, COUNT(*) AS c FROM li GROUP BY 1),
      |tot AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM li),
      |scored AS (
      |  SELECT part, other, cab, ia.c AS ca, ib.c AS cb,
      |    CAST(cab AS DOUBLE) / ia.c AS confidence,
      |    CAST(cab AS DOUBLE) * n_orders / (CAST(ia.c AS DOUBLE) * ib.c) AS lift
      |  FROM d JOIN item ia ON d.part = ia.pk
      |         JOIN item ib ON d.other = ib.pk
      |         CROSS JOIN tot
      |  ORDER BY lift DESC, part, other
      |  LIMIT 20)
      |SELECT part, other, cab, ca, cb,
      |  round(confidence, 6) AS confidence, round(lift, 6) AS lift
      |FROM scored""".stripMargin

  /** For the 128× verbatim gate: NOT a sub-quadratic restatement — a
    * CAST-CORRECTNESS one. DuckDB 1.0.0's wide-DECIMAL→DOUBLE cast is
    * not correctly rounded once the integer part exceeds 2^53
    * (CAST(DECIMAL(38,0) '20738003564902361142' AS DOUBLE) returns
    * …59040; round-to-nearest is …62112, which Spark's BigDecimal cast
    * and DuckDB's own VARCHAR→DOUBLE strtod both produce). At 128× the
    * 7-day window's Σrev² ≈ 2e19 crosses that line and the registered
    * oracle's split-cast — designed for the ≤2^53 regime where
    * floor(Σrev²) is exactly representable — inherits the 1-ulp-low
    * integer cast, flipping 2 of 2492 band values at the 4dp rounding
    * boundary. Identical SQL otherwise; every decimal→double cast
    * routes through VARCHAR (DuckDB's strtod is correctly rounded at
    * every magnitude, bit-identical to the direct cast below 2^53 —
    * oracle_equiv proves the restatement at the driver SFs). The
    * split-cast SHAPE is kept (cr(floor)+cr(frac), one IEEE add) so
    * the op sequence is the face's own, exact-midpoint cases included.
    */
  private val bollinger: String =
    """WITH daily AS (
      |  SELECT CAST(year(l_shipdate) AS INTEGER) AS yr,
      |    CAST(l_shipdate AS DATE) AS day,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(19,2)) AS rev
      |  FROM lineitem GROUP BY 1, 2),
      |base AS (
      |  SELECT yr, day, CAST(CAST(rev AS VARCHAR) AS DOUBLE) AS rev,
      |    CAST(COUNT(*) OVER f AS BIGINT) AS n,
      |    CAST(CAST(SUM(rev) OVER f AS VARCHAR) AS DOUBLE) AS sx,
      |    CAST(CAST(floor(SUM(rev * rev) OVER f) AS VARCHAR) AS DOUBLE)
      |      + CAST(CAST(SUM(rev * rev) OVER f
      |                  - floor(SUM(rev * rev) OVER f) AS VARCHAR) AS DOUBLE) AS sxx
      |  FROM daily
      |  WINDOW f AS (PARTITION BY yr ORDER BY day
      |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
      |scored AS (
      |  SELECT day, rev, sx / n AS m,
      |    sqrt(greatest((sxx - sx * sx / n) / (n - 1), 0.0)) AS sd
      |  FROM base WHERE n >= 2)
      |SELECT day, rev,
      |  floor(m * 10000 + 0.5) / 10000 AS ma7,
      |  floor((m + 2 * sd) * 10000 + 0.5) / 10000 AS upper,
      |  floor((m - 2 * sd) * 10000 + 0.5) / 10000 AS lower,
      |  (rev > m + 2 * sd OR rev < m - 2 * sd) AS breach
      |FROM scored""".stripMargin

  val sql: Map[String, String] = Map(
    "q_bollinger" -> bollinger,
    "q_skyline" -> skyline,
    "q_pagerank" -> pagerank,
    "q_triangles" -> triangles,
    "q_bfs" -> bfs,
    "q_assoc_rules" -> assocRules,
    "q_ngram_jaccard" -> ngramJaccard,
    "q_ngram_containment" -> ngramContainment,
    "q_setsim_prefix" -> setsimPrefix,
    "q_dedup_fuzzy" -> dedupFuzzy,
    "q_dedup_minhash" -> dedupMinhash,
    "q_lsh_recall" -> lshRecall,
    "q_lsh_tuning" -> lshTuning,
    "q_dedup_simhash" -> dedupSimhash,
    "q_dedup_clusters" -> dedupClusters,
    "q_knn_join" -> knnJoin,
    "q_ann_ivf" -> annIvf,
    "q_ivf_stats" -> ivfStats,
    "q_ann_recall" -> annRecall,
    "q_ann_refine" -> annRefine,
    "q_ivf_rebalance" -> ivfRebalance,
    "q_dedup_semantic" -> dedupSemantic)
}
