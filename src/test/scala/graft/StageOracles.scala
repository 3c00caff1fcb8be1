package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.NativeExprs
import graft.operators.{Ann, Dedup}
import graft.sources.Tables

/** Distinct-axis scale-gate adjudication.
  *
  * The 64× DISTINCT-payload arm (ScaleUp `distinct` mode) defeats the
  * dup-collapse restatements in [[ScaleOracles]] by construction: with
  * all-distinct texts/embeddings there is nothing to collapse, so the
  * 11 similarity/ANN faces whose oracles are quadratic in signature
  * CARDINALITY genuinely cannot be restated sub-quadratically in plain
  * SQL over the base tables. This registry closes the evidence gap with
  * two levers:
  *
  *  1. STAGE MATERIALIZATION: [[dump]] (run by [[Gate]] when its
  *     face set holds the [[SampleFaces]]) writes the
  *     IVF pipeline's intermediate frames — per-round centroids
  *     (`_ivf_c0/_c1/_c2`, the grown codebook `_ivf_cg`) and per-round
  *     assignment frames (`_ivf_a1/_a2/_af/_af5`) — plus the LSH-tuning
  *     pair frame (`_lshtune_pairs`) to the verify out dir. A stage
  *     oracle may then PIN a previously-adjudicated stage artifact via
  *     `read_parquet('{OUT}/…')` ({OUT} substituted by
  *     tools/oracle_check.py --stage-oracles) and value-adjudicate
  *     everything downstream of it in full — each pin link is itself
  *     either fully adjudicated (centroid updates are LINEAR given the
  *     assignment frame; init centroids are the first ⌈√N⌉ vectors) or
  *     sample-adjudicated (the per-point argmax, which is the one
  *     genuinely corpus×cells-quadratic step).
  *
  *  2. DETERMINISTIC SAMPLE: for the argmax links and the two faces
  *     whose kernels are irreducibly pairwise (q_knn_join,
  *     q_dedup_fuzzy), a fixed modulus on the row's own id restricts
  *     BOTH sides to the same subset — the Spark side is a literal
  *     re-read-and-filter of the face's own dumped parquet (never a
  *     recomputation), the oracle side a key-filtered restatement whose
  *     cost is |sample|×block instead of N×block. Value-exact on the
  *     sample; rows+schema on the rest; the full-value proof stands on
  *     the verbatim arm and the driver SFs.
  *
  * Evidence chain per family (every link full-exact or sample-exact):
  *  - IVF (C7b/c/d/e/f, C39): c0 full ← a1 sampled ← c1 full|a1 ←
  *    a2 sampled ← c2 full|a2 ← af sampled ← faces full|af,c2;
  *    cg full|af,c2 ← af5 sampled ← rebalance full|cg,af5.
  *  - simhash (C3): signatures are PER-DOC (no corpus interaction), so
  *    the sampled sig check is exact per sampled doc; n_near is then
  *    fully adjudicated over the pinned signature column of the face's
  *    own dump (band-bucket candidates + hamming≤3 are superset-stable,
  *    so the 4×16 pigeonhole restatement equals the Manku-table face).
  *  - clusters (C23): the pinned edge set IS q_dedup_minhash's dump —
  *    hash-adjudicated in the same run on this axis — so the
  *    reachability closure over it is a FULL value adjudication.
  *  - lsh_tuning (C85): pair frame pinned + sampled; the 6-row tuning
  *    arithmetic over the pinned jaccards is full.
  *
  * NOT part of the driver's correctness gate. Drift gate: at sf0.01
  * and sf0.1 the same run must be green under BOTH the registered
  * oracles and this overlay (both equal the same Spark dump ⇒ equal
  * each other) — §7i runbook.
  */
object StageOracles {

  /** Deterministic sample moduli. One place; the Spark-side sample
    * dumps in [[dump]] and the SQL below both interpolate these.
    */
  /** Sized from measured DuckDB cost at 64× volumes (§7i): every arm
    * lands in seconds, so the samples are as dense as the 240 s budget
    * comfortably allows — ~3% of vecs/docs per argmax link, ~6% of the
    * knn query side, ~3% of the fuzzy a-side. Odd primes, so strides in
    * the replicated key space can't alias a whole copy.
    */
  val VecMod = 31; val VecRes = 7     // IVF assignment argmax samples
  val KnnMod = 17; val KnnRes = 3     // q_knn_join query-side sample
  val FuzzyMod = 31; val FuzzyRes = 13 // q_dedup_fuzzy a-side sample
  val DocMod = 31; val DocRes = 7     // simhash sigs / lshtune pairs

  /** Sentinel: a pinned stage artifact with no independent full oracle
    * — tools/oracle_check.py records rows+schema from the parquet
    * footer without running DuckDB; its value evidence is the sampled
    * sibling (and, for assignment frames, the full centroid-update
    * check computed FROM it).
    */
  val RowsOnly = "ROWS_ONLY"

  /** The faces whose own dumps [[dump]] re-reads for its sample subsets. */
  val SampleFaces = Set("q_dedup_simhash", "q_knn_join", "q_dedup_fuzzy")

  // ---------------------------------------------------------------- helpers

  /** Long-form exploded embeddings, 0-based dims (matches posexplode
    * on the Spark side; the registered ivfPipelineSql uses 1-based dims
    * internally — consistency within each restatement is what matters).
    */
  private def xSql(filter: String = ""): String =
    s"""SELECT vec_id, CAST(j - 1 AS INTEGER) AS dim,
       |       CAST(embedding[j] AS DOUBLE) AS xi
       |FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(j)$filter""".stripMargin

  private def pin(name: String): String =
    s"read_parquet('{OUT}/$name/*.parquet')"

  /** Sampled argmax check: nearest cell (fixed-point dot desc, cell
    * asc) under the pinned codebook, for vecs in the [[VecMod]] sample.
    */
  private def assignSampleSql(centroidPin: String): String =
    s"""WITH cp AS (SELECT cell, dim, c FROM ${pin(centroidPin)}),
       |xs AS (${xSql(s"\nWHERE vec_id % $VecMod = $VecRes")}),
       |d AS (
       |  SELECT xs.vec_id, cp.cell,
       |    SUM(CAST(floor(xs.xi * cp.c * 10000000000.0 + 0.5) AS BIGINT)) AS dot
       |  FROM xs JOIN cp USING (dim) GROUP BY 1, 2)
       |SELECT vec_id, cell FROM (
       |  SELECT vec_id, cell,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cell) AS rn
       |  FROM d) WHERE rn = 1""".stripMargin

  /** Full centroid-update check: round-r centroids from the PINNED
    * round-r assignment frame (linear: one groupBy over N×dim rows) +
    * the empty-cell COALESCE fallback to the pinned previous codebook —
    * the exact arithmetic of Ann.ivfCentroidsFrom.
    */
  private def centroidUpdateSql(assignPin: String, prevPin: String): String =
    s"""WITH ap AS (SELECT vec_id, cell FROM ${pin(assignPin)}),
       |x AS (${xSql()}),
       |u AS (
       |  SELECT ap.cell, x.dim,
       |    CAST(SUM(CAST(floor(x.xi * 10000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
       |      / 10000000.0 / COUNT(*) AS c
       |  FROM x JOIN ap USING (vec_id) GROUP BY 1, 2),
       |prev AS (SELECT cell, dim, c FROM ${pin(prevPin)})
       |SELECT prev.cell, prev.dim, COALESCE(u.c, prev.c) AS c
       |FROM prev LEFT JOIN u ON prev.cell = u.cell AND prev.dim = u.dim""".stripMargin

  /** Query probes under a pinned codebook: per query (vec_id < 10),
    * cells ranked by fixed-point dot desc / cell asc — cheap (10 vecs ×
    * cells × dim) however large the corpus.
    */
  private def queryRankSql(centroidCte: String): String =
    s"""xq AS (${xSql("\nWHERE vec_id < 10")}),
       |dq AS (
       |  SELECT xq.vec_id, $centroidCte.cell,
       |    SUM(CAST(floor(xq.xi * $centroidCte.c * 10000000000.0 + 0.5) AS BIGINT)) AS dot
       |  FROM xq JOIN $centroidCte USING (dim) GROUP BY 1, 2),
       |rq AS (
       |  SELECT vec_id, cell,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cell) AS rn
       |  FROM dq)""".stripMargin

  private val exactArmSql: String =
    """exact_scored AS (
      |  SELECT q.vec_id AS query_id, e2.vec_id,
      |    round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |                                 CAST(e2.embedding AS DOUBLE[])), 3) AS cosine
      |  FROM embeddings q JOIN embeddings e2 ON e2.vec_id != q.vec_id
      |  WHERE q.vec_id < 10),
      |exact_ranked AS (
      |  SELECT query_id, vec_id,
      |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
      |  FROM exact_scored),
      |exact AS (SELECT query_id, vec_id FROM exact_ranked WHERE rank <= 10)""".stripMargin

  /** IVF serving under pinned (codebook, assignment): probe recompute
    * for the 10 queries + candidate scoring + top-k — the whole serve
    * path, fully value-adjudicated given the pins.
    */
  private def ivfServeSql(centroidPin: String, assignPin: String): String =
    s"""cp AS (SELECT cell, dim, c FROM ${pin(centroidPin)}),
       |afp AS (SELECT vec_id, cell FROM ${pin(assignPin)}),
       |np AS (SELECT CAST(CEIL(SQRT(COUNT(DISTINCT cell))) AS BIGINT) AS np FROM cp),
       |${queryRankSql("cp")},
       |qp AS (SELECT vec_id AS query_id, cell FROM rq WHERE rn <= (SELECT np FROM np)),
       |ivf_scored AS (
       |  SELECT q.query_id, a.vec_id,
       |    round(list_cosine_similarity(CAST(eq.embedding AS DOUBLE[]),
       |                                 CAST(ec.embedding AS DOUBLE[])), 3) AS cosine
       |  FROM qp q
       |  JOIN afp a ON a.cell = q.cell AND a.vec_id != q.query_id
       |  JOIN embeddings eq ON eq.vec_id = q.query_id
       |  JOIN embeddings ec ON ec.vec_id = a.vec_id),
       |ivf_ranked AS (
       |  SELECT query_id, vec_id, cosine,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
       |  FROM ivf_scored)""".stripMargin

  // ------------------------------------------------------------ the registry

  val sql: Map[String, String] = Map(
    // ---- IVF training chain ----
    // init codebook = the first ⌈√N⌉ vectors verbatim: FULL check
    "_ivf_c0" ->
      s"""WITH params AS (SELECT CAST(CEIL(SQRT(COUNT(*))) AS BIGINT) AS nc FROM embeddings)
         |SELECT CAST(vec_id AS INTEGER) AS cell, CAST(j - 1 AS INTEGER) AS dim,
         |  CAST(embedding[j] AS DOUBLE) AS c
         |FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(j)
         |WHERE vec_id < (SELECT nc FROM params)""".stripMargin,
    // per-round argmax: sampled-exact; the full frames are pins whose
    // downstream use (the linear centroid update) is checked in full
    "_ivf_a1" -> RowsOnly,
    "_ivf_a1s" -> assignSampleSql("_ivf_c0"),
    "_ivf_c1" -> centroidUpdateSql("_ivf_a1", "_ivf_c0"),
    "_ivf_a2" -> RowsOnly,
    "_ivf_a2s" -> assignSampleSql("_ivf_c1"),
    "_ivf_c2" -> centroidUpdateSql("_ivf_a2", "_ivf_c1"),
    "_ivf_af" -> RowsOnly,
    "_ivf_afs" -> assignSampleSql("_ivf_c2"),
    // grown codebook: census + hot set + farthest-half means from the
    // pinned (af, c2) — linear in hot-cell members: FULL check. Mirrors
    // Ann.splitHotCells / the newc CTEs of Ann.ivfRebalanceSql.
    "_ivf_cg" ->
      s"""WITH c2p AS (SELECT cell, dim, c FROM ${pin("_ivf_c2")}),
         |afp AS (SELECT vec_id, cell FROM ${pin("_ivf_af")}),
         |nc AS (SELECT CAST(COUNT(DISTINCT cell) AS BIGINT) AS c FROM c2p),
         |ntot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM afp),
         |cellsb AS (SELECT cell, COUNT(*) AS nv FROM afp GROUP BY cell),
         |hot AS (
         |  SELECT cell FROM cellsb
         |  WHERE CAST(nv AS DOUBLE) > ${Ann.RebalanceFactor} *
         |    (CAST((SELECT n FROM ntot) AS DOUBLE) / CAST((SELECT c FROM nc) AS DOUBLE))),
         |x AS (${xSql()}),
         |down AS (
         |  SELECT x.vec_id, afp.cell,
         |    SUM(CAST(floor(x.xi * c2p.c * 10000000000.0 + 0.5) AS BIGINT)) AS dot
         |  FROM x JOIN afp USING (vec_id)
         |  JOIN c2p ON c2p.cell = afp.cell AND c2p.dim = x.dim
         |  WHERE afp.cell IN (SELECT cell FROM hot)
         |  GROUP BY x.vec_id, afp.cell),
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
         |  SELECT CAST((SELECT c FROM nc) + n.k - 1 AS INTEGER) AS cell, x.dim,
         |    CAST(SUM(CAST(floor(x.xi * 10000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
         |      / 10000000.0 / COUNT(*) AS c
         |  FROM farh f JOIN x USING (vec_id) JOIN numc n ON n.cell = f.cell
         |  GROUP BY n.k, x.dim)
         |SELECT cell, dim, c FROM c2p
         |UNION ALL SELECT cell, dim, c FROM newc""".stripMargin,
    "_ivf_af5" -> RowsOnly,
    "_ivf_af5s" -> assignSampleSql("_ivf_cg"),

    // ---- IVF-family faces, FULL value given the adjudicated pins ----
    "q_ivf_stats" ->
      s"""WITH afp AS (SELECT vec_id, cell FROM ${pin("_ivf_af")}),
         |cells AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vecs FROM afp GROUP BY cell),
         |tot AS (SELECT CAST(SUM(n_vecs) AS BIGINT) AS n_total FROM cells)
         |SELECT cell, n_vecs, n_total,
         |  floor(CAST(n_vecs AS DOUBLE) / n_total * 1000000.0 + 0.5) / 1000000.0 AS share
         |FROM cells CROSS JOIN tot""".stripMargin,
    "q_ann_ivf" ->
      s"""WITH ${ivfServeSql("_ivf_c2", "_ivf_af")}
         |SELECT query_id, rank, vec_id, cosine FROM ivf_ranked WHERE rank <= 10""".stripMargin,
    "q_ann_recall" ->
      s"""WITH ${ivfServeSql("_ivf_c2", "_ivf_af")},
         |approx AS (SELECT query_id, vec_id FROM ivf_ranked WHERE rank <= 10),
         |$exactArmSql
         |SELECT e.query_id, CAST(COUNT(*) AS BIGINT) AS k,
         |  CAST(COUNT(a.vec_id) AS BIGINT) AS n_hit,
         |  CAST(COUNT(a.vec_id) AS DOUBLE) / COUNT(*) AS recall_at_k
         |FROM exact e LEFT JOIN approx a
         |  ON e.query_id = a.query_id AND e.vec_id = a.vec_id
         |GROUP BY e.query_id""".stripMargin,
    "q_ann_refine" ->
      s"""WITH ${ivfServeSql("_ivf_c2", "_ivf_af")},
         |coarse AS (SELECT query_id, vec_id FROM ivf_ranked WHERE rank <= 10),
         |x AS (${xSql()}),
         |am AS (
         |  SELECT vec_id,
         |    list_aggregate(list_transform(CAST(embedding AS DOUBLE[]), y -> abs(y)), 'max') AS amax
         |  FROM embeddings),
         |q8 AS (
         |  SELECT x.vec_id, x.dim,
         |    CAST(floor(x.xi * (CASE WHEN am.amax = 0 THEN 0.0
         |                            ELSE 127.0 / am.amax END) + 0.5) AS BIGINT) AS q
         |  FROM x JOIN am USING (vec_id)),
         |qp4 AS (
         |  SELECT vec_id AS query_id, cell FROM rq
         |  WHERE rn <= 2 * (SELECT np FROM np)),
         |cand4 AS (
         |  SELECT q.query_id, a.vec_id
         |  FROM qp4 q JOIN afp a ON a.cell = q.cell AND a.vec_id != q.query_id),
         |dot8 AS (
         |  SELECT c.query_id, c.vec_id, SUM(qa.q * qb.q) AS d8
         |  FROM cand4 c
         |  JOIN q8 qa ON qa.vec_id = c.query_id
         |  JOIN q8 qb ON qb.vec_id = c.vec_id AND qb.dim = qa.dim
         |  GROUP BY c.query_id, c.vec_id),
         |sc8 AS (
         |  SELECT d.query_id, d.vec_id, CAST(d.d8 AS DOUBLE) * am.amax AS s8
         |  FROM dot8 d JOIN am ON am.vec_id = d.vec_id),
         |short AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY s8 DESC, vec_id) AS rn8
         |    FROM sc8) WHERE rn8 <= 20),
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
         |$exactArmSql
         |SELECT e.query_id, CAST(COUNT(*) AS BIGINT) AS k,
         |  CAST(COUNT(c.vec_id) AS BIGINT) AS n_hit_coarse,
         |  CAST(COUNT(r.vec_id) AS BIGINT) AS n_hit_refine,
         |  CAST(COUNT(c.vec_id) AS DOUBLE) / COUNT(*) AS recall_coarse,
         |  CAST(COUNT(r.vec_id) AS DOUBLE) / COUNT(*) AS recall_refine
         |FROM exact e
         |LEFT JOIN coarse c ON e.query_id = c.query_id AND e.vec_id = c.vec_id
         |LEFT JOIN refined r ON e.query_id = r.query_id AND e.vec_id = r.vec_id
         |GROUP BY e.query_id""".stripMargin,
    "q_ivf_rebalance" ->
      s"""WITH ${ivfServeSql("_ivf_c2", "_ivf_af")},
         |approx_before AS (SELECT query_id, vec_id FROM ivf_ranked WHERE rank <= 10),
         |cgp AS (SELECT cell, dim, c FROM ${pin("_ivf_cg")}),
         |af5p AS (SELECT vec_id, cell FROM ${pin("_ivf_af5")}),
         |ntot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM afp),
         |np2 AS (SELECT CAST(CEIL(SQRT(COUNT(DISTINCT cell))) AS BIGINT) AS np FROM cgp),
         |xq5 AS (${xSql("\nWHERE vec_id < 10")}),
         |dq5 AS (
         |  SELECT xq5.vec_id, cgp.cell,
         |    SUM(CAST(floor(xq5.xi * cgp.c * 10000000000.0 + 0.5) AS BIGINT)) AS dot
         |  FROM xq5 JOIN cgp USING (dim) GROUP BY 1, 2),
         |rq5 AS (
         |  SELECT vec_id, cell,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cell) AS rn
         |  FROM dq5),
         |qp5 AS (SELECT vec_id AS query_id, cell FROM rq5 WHERE rn <= (SELECT np FROM np2)),
         |sc5 AS (
         |  SELECT q.query_id, a.vec_id,
         |    round(list_cosine_similarity(CAST(eq.embedding AS DOUBLE[]),
         |                                 CAST(ec.embedding AS DOUBLE[])), 3) AS cosine
         |  FROM qp5 q
         |  JOIN af5p a ON a.cell = q.cell AND a.vec_id != q.query_id
         |  JOIN embeddings eq ON eq.vec_id = q.query_id
         |  JOIN embeddings ec ON ec.vec_id = a.vec_id),
         |rk5 AS (
         |  SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
         |  FROM sc5),
         |approx_after AS (SELECT query_id, vec_id FROM rk5 WHERE rank <= 10),
         |$exactArmSql,
         |cellsb AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS nv FROM afp GROUP BY cell),
         |cellsa AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS nv FROM af5p GROUP BY cell),
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
         |SELECT CAST((SELECT COUNT(DISTINCT cell) FROM cp) AS BIGINT) AS cells_before,
         |  CAST((SELECT COUNT(DISTINCT cell) FROM cgp) AS BIGINT) AS cells_after,
         |  (SELECT v FROM msb) AS max_share_before,
         |  (SELECT v FROM msa) AS max_share_after,
         |  k_total, hits_before, hits_after,
         |  CAST(hits_before AS DOUBLE) / k_total AS recall_before,
         |  CAST(hits_after AS DOUBLE) / k_total AS recall_after
         |FROM rec""".stripMargin,
    "q_dedup_semantic" ->
      s"""WITH afp AS (SELECT vec_id, cell FROM ${pin("_ivf_af")})
         |SELECT * FROM (
         |  SELECT a.cell, a.vec_id AS vec_a, b.vec_id AS vec_b,
         |    round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
         |                                 CAST(eb.embedding AS DOUBLE[])), 3) AS cosine
         |  FROM afp a JOIN afp b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  JOIN embeddings ea ON ea.vec_id = a.vec_id
         |  JOIN embeddings eb ON eb.vec_id = b.vec_id)
         |WHERE cosine >= 0.4""".stripMargin,

    // ---- simhash: sampled sigs (per-doc local) + full n_near over the
    //      face dump's own pinned signature columns ----
    "q_dedup_simhash__sample" ->
      s"""WITH RECURSIVE bits(b, p) AS (
         |  SELECT 0, CAST(1 AS BIGINT)
         |  UNION ALL SELECT b + 1, p * 2 FROM bits WHERE b < 59
         |), tok AS (
         |  SELECT DISTINCT doc_id, t FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
         |    WHERE doc_id % $DocMod = $DocRes)
         |), th AS (
         |  SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM tok
         |), votes AS (
         |  SELECT doc_id, b, p,
         |    SUM(CASE WHEN (h // p) % 2 = 1 THEN 1 ELSE -1 END) AS v
         |  FROM th CROSS JOIN bits GROUP BY doc_id, b, p
         |), sig AS (
         |  SELECT doc_id,
         |    CAST(COALESCE(SUM(CASE WHEN v > 0 THEN p ELSE 0 END), 0) AS BIGINT) AS s
         |  FROM votes GROUP BY doc_id)
         |SELECT doc_id,
         |  s % 65536 AS b0, (s // 65536) % 65536 AS b1,
         |  (s // 4294967296) % 65536 AS b2, (s // 281474976710656) % 65536 AS b3
         |FROM sig""".stripMargin,
    "q_dedup_simhash" ->
      s"""WITH sigs AS (
         |  SELECT doc_id, b0, b1, b2, b3,
         |    b3 * 281474976710656 + b2 * 4294967296 + b1 * 65536 + b0 AS s
         |  FROM ${pin("q_dedup_simhash")}),
         |g AS (SELECT b0, b1, b2, b3, s, COUNT(*) AS m FROM sigs GROUP BY 1, 2, 3, 4, 5),
         |eb AS (
         |  SELECT s, m, k AS band,
         |    CASE k WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2 ELSE b3 END AS bv
         |  FROM g CROSS JOIN (SELECT unnest(range(0, 4)) AS k)),
         |cand AS (
         |  SELECT DISTINCT a.s AS sa, a.m AS ma, b.s AS sb2, b.m AS mb
         |  FROM eb a JOIN eb b ON a.band = b.band AND a.bv = b.bv AND a.s < b.s),
         |ham AS (SELECT sa, ma, sb2, mb FROM cand WHERE bit_count(xor(sa, sb2)) <= 3),
         |cm AS (
         |  SELECT s, SUM(mn) AS cmass FROM (
         |    SELECT sa AS s, mb AS mn FROM ham
         |    UNION ALL SELECT sb2, ma FROM ham) GROUP BY s),
         |nearg AS (
         |  SELECT g.b0, g.b1, g.b2, g.b3,
         |    CAST(g.m - 1 + COALESCE(cmass, 0) AS BIGINT) AS n_near
         |  FROM g LEFT JOIN cm ON g.s = cm.s)
         |SELECT si.doc_id, si.b0, si.b1, si.b2, si.b3, n.n_near
         |FROM sigs si JOIN nearg n USING (b0, b1, b2, b3)""".stripMargin,

    // ---- clusters: FULL closure over the hash-adjudicated minhash
    //      pair dump of the SAME run ----
    "q_dedup_clusters" ->
      s"""WITH RECURSIVE e AS (
         |  SELECT doc_a, doc_b FROM ${pin("q_dedup_minhash")} WHERE is_dup
         |), und AS (
         |  SELECT doc_a AS a, doc_b AS b FROM e
         |  UNION ALL SELECT doc_b, doc_a FROM e
         |), nodes AS (SELECT DISTINCT a AS n FROM und
         |), reach(n, m) AS (
         |  SELECT n, n FROM nodes
         |  UNION
         |  SELECT r.n, u.b FROM reach r JOIN und u ON r.m = u.a
         |), lab AS (SELECT n, MIN(m) AS label FROM reach GROUP BY n)
         |SELECT label AS cluster_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  MIN(n) AS keep_doc_id, MAX(n) AS max_doc_id
         |FROM lab GROUP BY label""".stripMargin,

    // ---- knn / fuzzy: key-filtered sample restatements; full faces
    //      stay on the registered oracle (enumerated timeout on this
    //      axis — the kernels are irreducibly pairwise) ----
    "q_knn_join__sample" ->
      s"""WITH scored AS (
         |  SELECT a.label AS label, a.vec_id AS vec_id, b.vec_id AS nbr_id,
         |    round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
         |                                 CAST(b.embedding AS DOUBLE[])), 3) AS cosine
         |  FROM embeddings a JOIN embeddings b
         |    ON a.label = b.label AND a.vec_id != b.vec_id
         |  WHERE a.vec_id % $KnnMod = $KnnRes),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id
         |                               ORDER BY cosine DESC, nbr_id) AS nbr_rank
         |  FROM scored)
         |SELECT label, vec_id, CAST(nbr_rank AS BIGINT) AS nbr_rank, nbr_id, cosine
         |FROM ranked WHERE nbr_rank <= 3""".stripMargin,
    "q_dedup_fuzzy__sample" ->
      s"""SELECT a.lang AS lang, a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(levenshtein(a.prefix, b.prefix) AS INTEGER) AS prefix_dist
         |FROM (SELECT lang, CAST(n_chars // 64 AS BIGINT) AS len_bucket, doc_id,
         |             substring(text, 1, 40) AS prefix FROM documents
         |      WHERE doc_id % $FuzzyMod = $FuzzyRes) a
         |JOIN (SELECT lang, CAST(n_chars // 64 AS BIGINT) AS len_bucket, doc_id,
         |             substring(text, 1, 40) AS prefix FROM documents) b
         |  ON a.lang = b.lang AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
         |WHERE levenshtein(a.prefix, b.prefix) <= 10""".stripMargin,

    // ---- lsh_tuning: pinned pair frame (sampled-exact) + full tuning
    //      arithmetic over it ----
    "_lshtune_pairs" -> RowsOnly,
    "_lshtune_pairs_s" ->
      s"""WITH toks AS (
         |  SELECT doc_id, lang, string_split(text, ' ') AS tk FROM documents
         |), sha AS (
         |  SELECT DISTINCT doc_id, lang, array_to_string(tk[i:i+2], ' ') AS s
         |  FROM toks, unnest(range(1, greatest(len(tk) - 1, 2))) AS t(i)
         |  WHERE doc_id % $DocMod = $DocRes
         |), shb AS (
         |  SELECT DISTINCT doc_id, lang, array_to_string(tk[i:i+2], ' ') AS s
         |  FROM toks, unnest(range(1, greatest(len(tk) - 1, 2))) AS t(i)
         |), sizes AS (
         |  SELECT doc_id, COUNT(*) AS n FROM shb GROUP BY doc_id
         |), inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
         |  FROM sha a JOIN shb b ON a.lang = b.lang AND a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT doc_a, doc_b, n_inter, x.n AS n_a, y.n AS n_b,
         |  n_inter / (x.n + y.n - n_inter) AS jaccard
         |FROM inter JOIN sizes x ON doc_a = x.doc_id JOIN sizes y ON doc_b = y.doc_id""".stripMargin,
    "q_lsh_tuning" ->
      Dedup.lshTuningSqlOver(
        s"SELECT jaccard FROM ${pin("_lshtune_pairs")}")
  )

  // ------------------------------------------------------------- stage dumps

  /** Spark-side stage materialization, run by [[Gate]] after the face
    * dumps, which must include the [[SampleFaces]]. Every sample dump is
    * a re-read of the face's own dumped parquet (a literal subset of the
    * adjudicated artifact, never a recomputation); the IVF stage loop re-runs the
    * deterministic training trace and ASSERTS its final codebook equals
    * the cached index the faces served from, binding the stage
    * artifacts to the adjudicated run.
    */
  def dump(spark: SparkSession, dir: String, out: String): Unit = {
    val par = spark.sparkContext.defaultParallelism

    def writeCentroids(cs: Seq[Seq[Double]], path: String): Unit = {
      import spark.implicits._
      cs.zipWithIndex.flatMap { case (c, cell) =>
        c.zipWithIndex.map { case (v, d) => (cell, d, v) }
      }.toDF("cell", "dim", "c").coalesce(1)
        .write.mode("overwrite").parquet(path)
    }

    // --- IVF training trace (init → 2 Lloyd rounds → final/grown) ---
    val e = Tables(spark, dir).embeddings.repartition(par).persist()
    try {
      val n = e.count()
      val c = Ann.ivfCellCount(n)
      var centroids: Seq[Seq[Double]] =
        e.filter(col("vec_id") < c).orderBy("vec_id")
          .select("embedding").collect()
          .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
      writeCentroids(centroids, s"$out/_ivf_c0")

      def assignAndDump(cs: Seq[Seq[Double]], full: String, sample: String): DataFrame = {
        val a = e.withColumn("cell",
            NativeExprs.cell_probe(col("embedding"), cs, 1)(0))
          .select(col("vec_id"), col("cell"))
        a.write.mode("overwrite").parquet(s"$out/$full")
        val pinned = Tables.parquet(spark, s"$out/$full")
        pinned.filter(col("vec_id") % VecMod === VecRes)
          .coalesce(1).write.mode("overwrite").parquet(s"$out/$sample")
        pinned
      }

      (1 to 2).foreach { r =>
        val assigned = assignAndDump(centroids, s"_ivf_a$r", s"_ivf_a${r}s")
        // centroid update: the exact arithmetic of Ann.ivfCentroidsFrom,
        // computed FROM the dumped assignment frame (the same frame the
        // _ivf_c$r oracle pins)
        val sums = e.join(assigned, "vec_id")
          .select(col("cell"), posexplode(col("embedding")).as(Seq("dim", "v")))
          .groupBy("cell", "dim")
          .agg(sum(floor(col("v").cast("double") * lit(1e7) + lit(0.5))
            .cast("long")).as("s"), count(lit(1)).as("nn"))
          .collect()
        val byCell = sums.groupBy(_.getInt(0))
        centroids = centroids.indices.map { k =>
          byCell.get(k) match {
            case Some(rows) =>
              rows.sortBy(_.getInt(1))
                .map(rr => rr.getLong(2).toDouble / 1e7 / rr.getLong(3)).toSeq
            case None => centroids(k)
          }
        }
        writeCentroids(centroids, s"$out/_ivf_c$r")
      }

      // bind the trace to the served index: the deterministic trainer
      // must land on the cached codebook bit-for-bit
      val served = Ann.loadIvfIndex(spark, Ann.ivfIndexPath(spark, dir))
      require(served == centroids,
        "stage-dump IVF trace diverged from the served index — " +
          "stage artifacts would not describe the adjudicated faces")

      assignAndDump(centroids, "_ivf_af", "_ivf_afs")
      val grown = Ann.splitHotCells(e, centroids, Ann.RebalanceFactor)
      writeCentroids(grown, s"$out/_ivf_cg")
      assignAndDump(grown, "_ivf_af5", "_ivf_af5s")
    } finally e.unpersist(blocking = false)

    // --- LSH-tuning pair frame + its sample ---
    Dedup.ngramJaccardAt(Tables(spark, dir).documents, 0.0)
      .write.mode("overwrite").parquet(s"$out/_lshtune_pairs")
    Tables.parquet(spark, s"$out/_lshtune_pairs")
      .filter(col("doc_a") % DocMod === DocRes)
      .coalesce(1).write.mode("overwrite").parquet(s"$out/_lshtune_pairs_s")

    // --- sample subsets of already-dumped face outputs ---
    def subset(face: String, sample: String, pred: org.apache.spark.sql.Column,
        cols: Seq[String] = Nil): Unit = {
      val src = Tables.parquet(spark, s"$out/$face").filter(pred)
      (if (cols.isEmpty) src else src.select(cols.map(col): _*))
        .coalesce(1).write.mode("overwrite").parquet(s"$out/$sample")
    }
    subset("q_dedup_simhash", "q_dedup_simhash__sample",
      col("doc_id") % DocMod === DocRes,
      Seq("doc_id", "b0", "b1", "b2", "b3"))
    subset("q_knn_join", "q_knn_join__sample",
      col("vec_id") % KnnMod === KnnRes)
    subset("q_dedup_fuzzy", "q_dedup_fuzzy__sample",
      col("doc_a") % FuzzyMod === FuzzyRes)
  }
}
