package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Fns._
import graft.sources.Tables

/** Near-duplicate detection operators (SURVEY §2 C2–C5).
  *
  * Scale design (the 100 TB story): signatures (minhash/simhash) are
  * computed row-local with HOFs over built-in hash functions — a narrow
  * map stage, zero shuffle. The only exchanges carry (doc_id, small
  * signature) pairs — bytes per document, not the document text — and
  * candidate verification joins fetch full token sets only for the tiny
  * candidate fraction. Banding keys are high-cardinality hashes, so no
  * hot partitions.
  */
object Dedup {

  private val MinhashK = 32 // permutations
  private val Bands = 8     // 8 bands × 4 rows: s-curve knee ≈ 0.55 jaccard

  /** (doc_id, lang, distinct 3-gram hash set) from a (doc_id, lang,
    * text) frame. The repartition spreads the single-row-group local
    * test file across all cores — on a real cluster the source arrives
    * pre-split and this coalesces to a no-op exchange of (id, lang,
    * text) only.
    */
  private def tokenized(docs: DataFrame): DataFrame =
    docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc_id"), col("lang"),
        graft.functions.NativeExprs.gram_hashes(split(col("text"), " "), 3).as("sh"))

  private def tokenized(spark: SparkSession, dir: String): DataFrame =
    tokenized(Tables(spark, dir).documents)

  /** C2: MinHash + LSH banding near-dup pairs.
    * Pipeline: signature (map-only, native [[NativeExprs.MinHashSig]]
    * expression — single pass, no gram materialization, CSE-friendly)
    * → explode 8 band hashes → self-join on (band, hash) → distinct
    * candidate pairs → exact-Jaccard verify on the candidates only.
    * Output: every candidate pair with its verified jaccard and an
    * `is_dup` verdict at 0.5.
    */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame =
    minhashLsh(Tables(spark, dir).documents)

  /** Library face: near-dup pairs over any (doc_id, lang, text) frame. */
  def minhashLsh(docs: DataFrame): DataFrame = {
    import graft.functions.NativeExprs.minhash_sig
    val sig = docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc_id"), minhash_sig(split(col("text"), " "), 3, MinhashK).as("sig"))
    // band key: md5 of the '-'-joined 4-row slice — portable (an
    // external oracle recomputes the identical key from the same
    // signature values), still a fixed-width join key on the wire
    val bandStructs = (0 until Bands).map { b =>
      struct(lit(b).as("band"),
        md5(concat_ws("-", (4 * b + 1 to 4 * b + 4).map(i =>
          element_at(col("sig"), i).cast("string")): _*)).as("bh"))
    }
    val bands = sig
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("x"))
      .select(col("doc_id"), col("x.band").as("band"), col("x.bh").as("bh"))

    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()

    val sets = tokenized(docs).select(col("doc_id"), col("sh"))
    val verified = cand
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).as("n_inter"),
        size(col("sh_a")).as("n_a"), size(col("sh_b")).as("n_b"))
    verified.select(col("doc_a"), col("doc_b"),
      (col("n_inter") / (col("n_a") + col("n_b") - col("n_inter"))).as("jaccard"),
      (col("n_inter") / (col("n_a") + col("n_b") - col("n_inter")) >= 0.5).as("is_dup"))
  }

  /** Full-pipeline restatement of C2 for the oracle: the portable
    * 60-bit md5-prefix base hash, the same affine permutation family
    * (closed-form LCG constants, mod 2^31-1), the same 8×4 banding via
    * md5 of the '-'-joined slice, and exact gram-set Jaccard on the
    * candidates. Signature values, candidate pairs, and verdicts are
    * all engine-independent by construction.
    */
  val minhashLshSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |), grams AS (
      |  SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS g
      |  FROM toks, unnest(range(1, greatest(len(tk) - 1, 2))) AS t(i)
      |), base AS (
      |  SELECT doc_id, ('0x' || substr(md5(g), 1, 15))::BIGINT % 2147483647 AS b
      |  FROM grams
      |), seeds AS (
      |  SELECT CAST(i AS BIGINT) AS i FROM unnest(range(0, 32)) AS s(i)
      |), sigs AS (
      |  SELECT doc_id, i,
      |    MIN((((1103515245 * (i + 1) + 12345) % 2147483647) * b
      |        + ((1234567891 * (i + 1) + 987654321) % 2147483647)) % 2147483647) AS sig
      |  FROM base CROSS JOIN seeds GROUP BY doc_id, i
      |), bands AS (
      |  SELECT doc_id, i // 4 AS band,
      |    md5(array_to_string(list(sig ORDER BY i), '-')) AS bh
      |  FROM sigs GROUP BY doc_id, i // 4
      |), cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
      |), sizes AS (
      |  SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id
      |), inter AS (
      |  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
      |  FROM cand c
      |  JOIN grams x ON x.doc_id = c.doc_a
      |  JOIN grams y ON y.doc_id = c.doc_b AND y.g = x.g
      |  GROUP BY 1, 2
      |)
      |SELECT c.doc_a, c.doc_b,
      |  COALESCE(i.n_inter, 0) / (x.n + y.n - COALESCE(i.n_inter, 0)) AS jaccard,
      |  (COALESCE(i.n_inter, 0) / (x.n + y.n - COALESCE(i.n_inter, 0))) >= 0.5 AS is_dup
      |FROM cand c
      |LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
      |JOIN sizes x ON c.doc_a = x.doc_id
      |JOIN sizes y ON c.doc_b = y.doc_id""".stripMargin

  /** C79: LSH quality audit — C2's banding measured against the exact
    * ≥0.5-Jaccard ground truth (the evaluation every production LSH
    * deployment runs before trusting its dedup: banding is
    * probabilistic, the 8×4 s-curve MISSES true pairs whose bands all
    * differ). Truth = the exact inverted-index join (C4's shape, no
    * lang blocking — a ≥0.5 pair must share grams, so the posting join
    * finds every one); every verified candidate dup is truth∩candidates
    * by construction (the verify step computes the same exact Jaccard
    * on the same gram sets), so recall = n_dup/n_truth and candidate
    * precision = n_dup/n_cand need no pair-level join. One audit row;
    * counts exact, the two ratios single IEEE divides.
    */
  def lshRecall(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    // r9: the exact-truth side collapses to DISTINCT TEXTS before the
    // posting join — the same dup-collapse the simhash kernel got. The
    // r9 64× gate killed the doc-level truth join twice with disk
    // exhaustion (>60 GB of shuffle spill): with every text carrying m
    // verbatim copies, each shared gram posting is m× longer and the
    // pair space m²× — quadratic in DUPLICATION, the one thing a dedup
    // corpus is guaranteed to be full of. The collapsed form is an
    // exact identity on n_truth: within a duplicate group every one of
    // the C(m,2) doc pairs has jaccard 1 (≥ 1 gram required — zero-gram
    // texts never enter the posting join, matching the doc-level
    // semantics), and a qualifying distinct-text pair (jaccard ≥ 0.5)
    // stands for m_a·m_b doc pairs. The posting join now runs over the
    // distinct-text corpus (the ORIGINAL problem size at any
    // duplication factor). The candidate side is C2's face unchanged.
    val groups = docs
      .groupBy(md5(col("text")).as("fp"))
      .agg(count(lit(1)).as("m"), min(col("doc_id")).as("doc_id"),
        first(col("text")).as("text"))
    val tok = groups
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), col("m"),
        graft.functions.NativeExprs.gram_hashes(split(col("text"), " "), 3).as("sh"))
      // r11 (guide §2.4): `tok` feeds the within-group census AND the
      // posting explode — un-materialized, each re-ran the md5 group
      // collapse (a full corpus exchange) plus the gram hashing. One
      // eager checkpoint of the distinct-text gram frame serves both.
      .localCheckpoint(true)
    val within = tok.filter(size(col("sh")) >= 1)
      .agg(coalesce(sum(expr("m * (m - 1) DIV 2")), lit(0L)).as("n_within"))
    val sh = tok.select(col("doc_id"), col("m"), size(col("sh")).as("n"),
      explode(col("sh")).as("s"))
    val across = sh.as("a").join(sh.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id"), col("b.doc_id"))
      .agg(count(lit(1)).as("n_inter"), min(col("a.n")).as("n_a"),
        min(col("b.n")).as("n_b"),
        min(col("a.m")).as("m_a"), min(col("b.m")).as("m_b"))
      .filter(col("n_inter").cast("double")
        / (col("n_a") + col("n_b") - col("n_inter")) >= 0.5)
      .agg(coalesce(sum(col("m_a") * col("m_b")), lit(0L)).as("n_across"))
    val truth = within.crossJoin(broadcast(across))
      .select((col("n_within") + col("n_across")).as("n_truth"))
    val cand = minhashLsh(docs).agg(
      count(lit(1)).as("n_cand"),
      sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup"))
    truth.crossJoin(broadcast(cand))
      .select(col("n_truth"), col("n_cand"), col("n_dup"),
        round(col("n_dup").cast("double") / col("n_truth"), 6).as("recall"),
        round(col("n_dup").cast("double") / col("n_cand"), 6).as("candidate_precision"))
  }

  /** Oracle: the exact truth count re-derived from gram STRINGS (set
    * semantics ≡ the 64-bit gram hashes up to ~2⁻⁶⁴ collisions) and the
    * candidate/verdict counts from C2's full portable restatement
    * nested as a derived table.
    */
  lazy val lshRecallSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
       |), sh AS (
       |  SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS s
       |  FROM toks, unnest(range(1, greatest(len(tk) - 1, 2))) AS t(i)
       |), sizes AS (
       |  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
       |), inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |), truth AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_truth
       |  FROM inter i JOIN sizes x ON i.doc_a = x.doc_id
       |               JOIN sizes y ON i.doc_b = y.doc_id
       |  WHERE CAST(i.n_inter AS DOUBLE) / (x.n + y.n - i.n_inter) >= 0.5
       |), cand AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_cand,
       |    CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
       |  FROM (${minhashLshSql.replace("\n", "\n       |  ")})
       |)
       |SELECT n_truth, n_cand, n_dup,
       |  round(CAST(n_dup AS DOUBLE) / n_truth, 6) AS recall,
       |  round(CAST(n_dup AS DOUBLE) / n_cand, 6) AS candidate_precision
       |FROM truth CROSS JOIN cand""".stripMargin

  /** C3: 60-bit SimHash near-dup detection. The signature is built as
    * 4×16-bit bands (pigeonhole: hamming ≤ 3 ⇒ at least one of 4 bands
    * identical, so a band-equality join finds ALL such pairs). Output:
    * per-doc signature bands + near-neighbor count.
    */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    simhash(Tables(spark, dir).documents)

  /** Library face: simhash near-dup summary over any (doc_id, text) frame.
    *
    * r9 scale redesign, same output bit-for-bit: the band self-join now
    * runs over DISTINCT SIGNATURES with group weights, not over docs.
    * The r9 64× gate caught the doc-level join whale-ing: replicated
    * corpora (and real corpora — exact dups are the COMMON case a dedup
    * pipeline exists for) put m copies of a signature in every bucket
    * it bands to, so pair generation did C(m,2) work per duplicate
    * group inside ONE reducer key — 28 min at 64× sf0.1, one task
    * spilling 21 GB while 31 cores idled, where the distinct-signature
    * problem is the ORIGINAL corpus size. Collapsing first makes the
    * quadratic step quadratic in distinct near-dup GROUPS only:
    * n_near(doc) = (m_own − 1) + Σ m_neighbor over groups within
    * hamming ≤ 3 — arithmetic on group sizes, no doc-level pairs ever
    * materialize.
    *
    * r10: candidate generation is Manku-style BLOCK-PAIR tables
    * (Manku/Jain/Sarma, WWW'07 §3, the production simhash-dedup
    * layout): the 60-bit signature splits into 5 blocks of 12 bits;
    * hamming ≤ 3 touches at most 3 blocks, so every qualifying pair
    * agrees on BOTH blocks of at least one of the C(5,2) = 10 block
    * pairs. Bucket key = (table id, 24-bit block-pair value) — a 2²⁴
    * key domain per table where the r9 16-bit bands had 2¹⁶, so at
    * 10⁹+ distinct signatures the expected bucket is ~256× smaller
    * and the within-bucket quadratic stays bounded. 10 rows per
    * signature instead of 4 (the classic Manku space-for-selectivity
    * trade); the hamming ≤ 3 verify and the output are unchanged —
    * both candidate supersets contain every hamming ≤ 3 pair by
    * pigeonhole, and the verify prunes both to the same set.
    */
  def simhash(docs: DataFrame): DataFrame = {
    import graft.functions.NativeExprs.{simhash64 => simhash64e}
    // native single-pass signature; bands are 16-bit slices of it
    // (pigeonhole over 4 bands covers hamming ≤ 3)
    val sigExpr = simhash64e(array_distinct(split(col("text"), " ")))
    // Pinned: `sig` (the signature map, this face's heavy CPU) has two
    // readers. sf0.1 Bench medians, 4 vCPUs: 0.60 s with it, 0.79 s without.
    val sig = docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc_id") +: (0 until 4).map(k =>
        shiftrightunsigned(sigExpr, 16 * k).bitwiseAND(0xffffL).as(s"b$k")): _*)
      .localCheckpoint(true)

    // collapse to distinct signatures; gid = the 64-bit signature
    // itself (bands are its disjoint slices), m = duplicate-group size.
    // Pinned: read by the bucket explode and the neighbor-mass join
    // (0.58 s with it, 0.60 s without).
    val groups = sig.groupBy(col("b0"), col("b1"), col("b2"), col("b3"))
      .agg(count(lit(1)).as("m"))
      .withColumn("gid",
        col("b3") * 281474976710656L + col("b2") * 4294967296L +
          col("b1") * 65536L + col("b0"))
      .localCheckpoint(true)

    // the full signature rides along with each bucket row (8 bytes/row
    // extra) so candidate pairs carry BOTH signatures out of the bucket
    // join directly — no re-join against the signature table (saves two
    // keyed exchanges; the hamming verify becomes map-side arithmetic).
    // Bucket key = table id (0..9) in the high bits + the two 12-bit
    // blocks of that table — one 28-bit long, a single-column join key.
    def block(k: Int): Column =
      shiftrightunsigned(col("gid"), 12 * k).bitwiseAND(0xfffL)
    val blockPairs = for { i <- 0 until 5; j <- (i + 1) until 5 } yield (i, j)
    val bands = groups.select(col("gid"), col("m"),
      explode(array(blockPairs.zipWithIndex.map { case ((i, j), p) =>
        lit(p.toLong * 16777216L) + block(i) * 4096L + block(j)
      }: _*)).as("bk"))

    // distinct-signature pairs within hamming <= 3 (0 is impossible
    // across distinct groups); each unordered group pair once (a pair
    // sharing several block-pair tables dedups through the distinct)
    val gpairs = bands.as("a").join(bands.as("b"),
        col("a.bk") === col("b.bk") && col("a.gid") < col("b.gid"))
      .select(col("a.gid").as("gid_a"), col("a.m").as("m_a"),
        col("b.gid").as("gid_b"), col("b.m").as("m_b"),
        bit_count(col("a.gid").bitwiseXOR(col("b.gid"))).as("hamming"))
      .filter(col("hamming") <= 3)
      .select(col("gid_a"), col("m_a"), col("gid_b"), col("m_b"))
      .distinct()

    // per-group neighbor mass: partners inside the group (m - 1) plus
    // every member of each neighboring group. Both directions come from
    // ONE map-side explode — a unionByName of two selects re-runs the
    // bucket self-join + hamming verify per branch.
    val cross = gpairs.select(explode(array(
        struct(col("gid_a").as("gid"), col("m_b").as("mn")),
        struct(col("gid_b").as("gid"), col("m_a").as("mn")))).as("e"))
      .select(col("e.gid").as("gid"), col("e.mn").as("mn"))
      .groupBy("gid").agg(sum(col("mn")).as("cross_mass"))
    val nearByGroup = groups.join(cross, Seq("gid"), "left")
      .select(col("b0"), col("b1"), col("b2"), col("b3"),
        (col("m") - 1 + coalesce(col("cross_mass"), lit(0L))).as("n_near"))

    sig.join(nearByGroup, Seq("b0", "b1", "b2", "b3"), "left")
      .select(col("doc_id"), col("b0"), col("b1"), col("b2"), col("b3"),
        col("n_near"))
  }

  /** Oracle restatement of C3: same portable per-token hash, same ±1
    * bit votes over 60 bits, same band slices, pairs, and counts.
    *
    * Deliberately ARITHMETIC-ONLY: this was the repo's single oracle
    * using `>>`/`<<`/`&`/`xor()`/`bit_count()`, and the single r6 red
    * row (hash divergence ONLY at the driver's DuckDB, never locally).
    * Every bit operation is restated as integer `//`-division and `%`
    * against a recursive-CTE powers-of-two table — constructs that 200+
    * driver-green oracles already prove version-stable. Hamming of a
    * candidate pair = per-bit disagreement count over the full 60-bit
    * signatures (candidates are the band-equal sliver, so the 60-row
    * expansion is tiny). All operands are non-negative BIGINTs, so
    * truncating vs flooring division cannot differ either.
    */
  val simhashSql: String =
    """WITH RECURSIVE bits(b, p) AS (
      |  SELECT 0, CAST(1 AS BIGINT)
      |  UNION ALL SELECT b + 1, p * 2 FROM bits WHERE b < 59
      |), tok AS (
      |  SELECT DISTINCT doc_id, t FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
      |), th AS (
      |  SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM tok
      |), votes AS (
      |  SELECT doc_id, b, p,
      |    SUM(CASE WHEN (h // p) % 2 = 1 THEN 1 ELSE -1 END) AS v
      |  FROM th CROSS JOIN bits GROUP BY doc_id, b, p
      |), sig AS (
      |  SELECT doc_id,
      |    CAST(COALESCE(SUM(CASE WHEN v > 0 THEN p ELSE 0 END), 0) AS BIGINT) AS s
      |  FROM votes GROUP BY doc_id
      |), sb AS (
      |  SELECT doc_id, s,
      |    s % 65536 AS b0, (s // 65536) % 65536 AS b1,
      |    (s // 4294967296) % 65536 AS b2, (s // 281474976710656) % 65536 AS b3
      |  FROM sig
      |), eb AS (
      |  SELECT doc_id, s, k AS band,
      |    CASE k WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2 ELSE b3 END AS bv
      |  FROM sb CROSS JOIN (SELECT b AS k FROM bits WHERE b < 4) r
      |), cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    a.s AS sa, b.s AS sbb
      |  FROM eb a JOIN eb b
      |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
      |), ham AS (
      |  SELECT doc_a, doc_b,
      |    SUM(CASE WHEN (sa // p) % 2 <> (sbb // p) % 2 THEN 1 ELSE 0 END) AS hamming
      |  FROM cand CROSS JOIN bits GROUP BY doc_a, doc_b
      |), near AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_near FROM (
      |    SELECT doc_a AS doc_id FROM ham WHERE hamming <= 3
      |    UNION ALL SELECT doc_b FROM ham WHERE hamming <= 3)
      |  GROUP BY doc_id
      |)
      |SELECT s.doc_id, s.b0, s.b1, s.b2, s.b3,
      |  COALESCE(n.n_near, 0) AS n_near
      |FROM sb s LEFT JOIN near n ON s.doc_id = n.doc_id""".stripMargin

  /** Divergence probe for C3 (env-gated via SPARK_GRAFT_PROBE in
    * [[graft.Verify]]; never part of the correctness gate). Recomputes
    * the simhash signature through a SECOND, kernel-free path — Spark's
    * own md5/conv builtins over exploded tokens, integer `div`/`%`
    * arithmetic — and emits, per doc:
    *
    *   - `n_distinct` token count and the kernel's four bands
    *   - the SQL-path bands (`sq0..sq3`) and `kernel_eq_sql`
    *   - `n_tied`: bits whose ±1 vote tally is exactly 0 — the most
    *     fragile boundary in the pipeline (any engine asymmetry in
    *     token splitting or hashing flips these first)
    *
    * If a driver-side failure recurs, this localizes it in one run:
    * kernel≠SQL rows → Spark kernel edge case on that corpus;
    * all-equal rows with a red oracle → DuckDB-side divergence.
    */
  def simhashProbe(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.NativeExprs.{simhash64 => simhash64e}
    val toks = Tables(spark, dir).documents
      .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("tk"))
    val kernel = toks.select(col("doc_id"), size(col("tk")).as("n_distinct"),
      simhash64e(col("tk")).as("sig"))
      .select(col("doc_id") +: col("n_distinct") +: (0 until 4).map(k =>
        shiftrightunsigned(col("sig"), 16 * k).bitwiseAND(0xffffL).as(s"b$k")): _*)
    val bits = spark.createDataFrame(
      (0 until 60).map(b => (b, 1L << b))).toDF("b", "p")
    val votes = toks
      .select(col("doc_id"), explode(col("tk")).as("t"))
      .select(col("doc_id"),
        conv(substring(md5(col("t")), 1, 15), 16, 10).cast("long").as("h"))
      .crossJoin(broadcast(bits))
      .groupBy(col("doc_id"), col("b"), col("p"))
      .agg(sum(when(expr("(h div p) % 2") === 1, 1).otherwise(-1)).as("v"))
    val sqlSig = votes.groupBy(col("doc_id"))
      .agg(sum(when(col("v") > 0, col("p")).otherwise(0L)).as("s"),
        sum(when(col("v") === 0, 1).otherwise(0)).as("n_tied"))
      .select(col("doc_id"), col("n_tied"),
        expr("s % 65536").as("sq0"), expr("(s div 65536) % 65536").as("sq1"),
        expr("(s div 4294967296) % 65536").as("sq2"),
        expr("(s div 281474976710656) % 65536").as("sq3"))
    kernel.join(sqlSig, Seq("doc_id"))
      .withColumn("kernel_eq_sql",
        col("b0") === col("sq0") && col("b1") === col("sq1") &&
          col("b2") === col("sq2") && col("b3") === col("sq3"))
  }

  /** C4: exact word-3-gram Jaccard similarity pairs, blocked by `lang`
    * (the zone analog of blocking) — the oracle-checkable exact
    * baseline that C2 approximates at scale.
    */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    ngramJaccard(Tables(spark, dir).documents)

  /** Library face: exact jaccard pairs over any (doc_id, lang, text) frame.
    *
    * Set sizes ride the exploded postings as one long per row (PPJoin's
    * size-inlining) instead of a separate explode+groupBy shuffle joined
    * back onto the pair frame twice: `gram_hashes` already returns
    * DISTINCT hashes, so |set| = `size(sh)` is map-side exact. Two
    * shuffles total — the (lang, hash) posting exchange (reused by both
    * self-join sides) and the pair aggregate — versus five exchanges in
    * the join-back formulation; the wire cost is 16 B/posting, paid once.
    */
  def ngramJaccard(docs: DataFrame): DataFrame = ngramJaccardAt(docs, 0.2)

  /** [[ngramJaccard]] with an explicit report floor — the floor is a
    * post-aggregate filter, so any threshold costs the same plan
    * (C85's tuning audit runs at 0.0 to observe every gram-sharing
    * pair).
    */
  private[graft] def ngramJaccardAt(docs: DataFrame, floor: Double): DataFrame = {
    val sh = tokenized(docs)
      .select(col("doc_id"), col("lang"), size(col("sh")).as("n"),
        explode(col("sh")).as("s"))
    sh.as("a").join(sh.as("b"),
        col("a.lang") === col("b.lang") && col("a.s") === col("b.s") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"),
        min(col("a.n")).as("n_a"), min(col("b.n")).as("n_b"))
      .select(col("doc_a"), col("doc_b"), col("n_inter"),
        col("n_a").cast("long").as("n_a"), col("n_b").cast("long").as("n_b"),
        (col("n_inter") / (col("n_a") + col("n_b") - col("n_inter"))).as("jaccard"))
      .filter(col("jaccard") >= floor)
  }

  private def ngramJaccardSqlAt(floor: Double): String =
    s"""WITH toks AS (
      |  SELECT doc_id, lang, string_split(text, ' ') AS tk FROM documents
      |), sh AS (
      |  SELECT DISTINCT doc_id, lang, array_to_string(tk[i:i+2], ' ') AS s
      |  FROM toks, unnest(range(1, greatest(len(tk) - 1, 2))) AS t(i)
      |), sizes AS (
      |  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
      |), inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      |  FROM sh a JOIN sh b ON a.lang = b.lang AND a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |)
      |SELECT doc_a, doc_b, n_inter, x.n AS n_a, y.n AS n_b,
      |  n_inter / (x.n + y.n - n_inter) AS jaccard
      |FROM inter JOIN sizes x ON doc_a = x.doc_id JOIN sizes y ON doc_b = y.doc_id
      |WHERE n_inter / (x.n + y.n - n_inter) >= $floor""".stripMargin

  val ngramJaccardSql: String = ngramJaccardSqlAt(0.2)

  /** C85 `q_lsh_tuning`: MinHash banding parameter audit — the
    * production question behind C2's hardcoded 8×4: for EVERY (bands b,
    * rows-per-band r) factorization of the 32-permutation signature,
    * what recall on true dups and what wasted verify work does the
    * s-curve p(s) = 1−(1−sʳ)ᵇ predict ON THIS CORPUS's observed
    * similarity distribution? Input is C4's exact word-3-gram Jaccard
    * pair set — the SAME shingle space C2's signatures sketch, so the
    * curve applies verbatim, observed at floor 0 (every gram-sharing
    * pair; C4's 0.2 report floor would blank the negative band on this
    * corpus). One row per factorization: expected recall (mean p over
    * pairs with s ≥ 0.5, C2's dup threshold) and expected
    * false-candidate rate (mean p over s < 0.5 pairs — "per observed
    * gram-sharing non-dup pair"; disjoint-gram pairs collide with
    * p ≈ 0 and are unobservable without the quadratic, stated, not
    * hidden).
    *
    * Portability: r and b are both powers of two, so every power is a
    * SQUARING CHAIN — identical single IEEE multiplies in both engines
    * (no libm pow, whose rounding is engine-specific); each p is
    * rounded once to 7 dp and summed as exact decimal (order-free),
    * then one divide + 6 dp fix per output row.
    *
    * Scale: rides C4's two-shuffle posting join; the tuning itself is
    * map-side arithmetic plus ONE 1-row aggregate exploded to 6 rows —
    * cost is the pair set, which production samples.
    */
  def lshTuning(spark: SparkSession, dir: String): DataFrame = {
    // threshold 0: every pair sharing ≥1 gram is observed — C4's 0.2
    // report floor would blank the negative band entirely (this corpus
    // has no 0.2–0.5 pairs; sub-0.2 ones are the realistic fp load).
    // Same plan, the floor is a post-aggregate filter.
    val pairs = ngramJaccardAt(Tables(spark, dir).documents, 0.0)
      .select(col("jaccard").as("s"))
    def sq(c: Column, n: Int): Column = (1 to n).foldLeft(c)((a, _) => a * a)
    // p_i: collision probability under r = 2^i rows/band, b = 2^(5-i) bands
    val pCols = (0 to 5).map { i =>
      round(lit(1.0) - sq(lit(1.0) - sq(col("s"), i), 5 - i), 7)
        .cast("decimal(18,7)").as(s"p$i")
    }
    val withP = pairs
      .select((col("s") +: pCols): _*)
      .withColumn("pos", col("s") >= 0.5)
    val aggExprs = (0 to 5).flatMap { i =>
      Seq(sum(when(col("pos"), col(s"p$i"))).as(s"sp$i"),
        sum(when(!col("pos"), col(s"p$i"))).as(s"sn$i"))
    } ++ Seq(count(when(col("pos"), lit(1))).as("n_pos"),
      count(when(!col("pos"), lit(1))).as("n_neg"))
    val a = withP.agg(aggExprs.head, aggExprs.tail: _*)
    val rows = (0 to 5).map { i =>
      struct(lit(32L / (1L << i)).as("bands"),
        lit((1L << i)).as("rows_per_band"),
        col("n_pos"), col("n_neg"),
        round(col(s"sp$i").cast("double") / col("n_pos"), 6)
          .cast("decimal(18,6)").cast("double").as("exp_recall"),
        round(col(s"sn$i").cast("double") / col("n_neg"), 6)
          .cast("decimal(18,6)").cast("double").as("exp_fp"))
    }
    a.select(explode(array(rows: _*)).as("x")).select(col("x.*"))
  }

  /** Oracle restatement of [[lshTuning]] (C85): C4's pair pipeline
    * inline, the same squaring-chain powers staged as sequential CTE
    * columns, the same 7 dp decimal-fixed means, one UNION ALL branch
    * per factorization.
    */
  val lshTuningSql: String = lshTuningSqlOver(ngramJaccardSqlAt(0.0))

  /** The tuning arithmetic over an arbitrary `pairs` source (must yield
    * a `jaccard` column) — shared by the registered oracle above and
    * [[graft.StageOracles]]'s pinned-pair-frame restatement, so the two
    * cannot drift (the r10 ADVICE lesson on hand-copied SQL).
    */
  private[graft] def lshTuningSqlOver(pairsSql: String): String =
    s"""WITH pairs AS ($pairsSql),
       |c0 AS (SELECT jaccard AS s1, jaccard >= 0.5 AS pos FROM pairs),
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
       |pp AS (SELECT pos,
       |  CAST(round(1 - u0_32, 7) AS DECIMAL(18,7)) AS p0,
       |  CAST(round(1 - u1_16, 7) AS DECIMAL(18,7)) AS p1,
       |  CAST(round(1 - u2_8, 7) AS DECIMAL(18,7)) AS p2,
       |  CAST(round(1 - u3_4, 7) AS DECIMAL(18,7)) AS p3,
       |  CAST(round(1 - u4_2, 7) AS DECIMAL(18,7)) AS p4,
       |  CAST(round(1 - u5_1, 7) AS DECIMAL(18,7)) AS p5
       |  FROM d5),
       |ag AS (SELECT
       |  CAST(COUNT(*) FILTER (WHERE pos) AS BIGINT) AS n_pos,
       |  CAST(COUNT(*) FILTER (WHERE NOT pos) AS BIGINT) AS n_neg,
       |  SUM(p0) FILTER (WHERE pos) AS sp0, SUM(p0) FILTER (WHERE NOT pos) AS sn0,
       |  SUM(p1) FILTER (WHERE pos) AS sp1, SUM(p1) FILTER (WHERE NOT pos) AS sn1,
       |  SUM(p2) FILTER (WHERE pos) AS sp2, SUM(p2) FILTER (WHERE NOT pos) AS sn2,
       |  SUM(p3) FILTER (WHERE pos) AS sp3, SUM(p3) FILTER (WHERE NOT pos) AS sn3,
       |  SUM(p4) FILTER (WHERE pos) AS sp4, SUM(p4) FILTER (WHERE NOT pos) AS sn4,
       |  SUM(p5) FILTER (WHERE pos) AS sp5, SUM(p5) FILTER (WHERE NOT pos) AS sn5
       |  FROM pp)
       |${(0 to 5).map { i =>
          val b = 32L / (1L << i); val r = 1L << i
          s"""SELECT CAST($b AS BIGINT) AS bands, CAST($r AS BIGINT) AS rows_per_band,
             |  n_pos, n_neg,
             |  CAST(CAST(round(CAST(sp$i AS DOUBLE) / n_pos, 6) AS DECIMAL(18,6)) AS DOUBLE) AS exp_recall,
             |  CAST(CAST(round(CAST(sn$i AS DOUBLE) / n_neg, 6) AS DECIMAL(18,6)) AS DOUBLE) AS exp_fp
             |FROM ag""".stripMargin
        }.mkString("\nUNION ALL\n")}""".stripMargin

  /** C65: n-gram CONTAINMENT pairs (overlap coefficient
    * |A∩B| / min(|A|,|B|)) — the asymmetric near-dup Jaccard misses: a
    * short document quoted whole inside a long one scores
    * n_inter/min = 1.0 while its Jaccard ≈ |A|/|B| can sit far below
    * any dedup threshold. Standard quote/boilerplate-inclusion screen
    * in corpus dedup (the containment variant of C4). Same
    * shingle-inverted-index join shape as [[ngramJaccard]] — the gram
    * exchange carries (hash, id), never text; blocking by `lang` bounds
    * the candidate quadratic — with only the final scoring expression
    * changed, so the plan cost is identical.
    */
  def ngramContainment(spark: SparkSession, dir: String): DataFrame =
    ngramContainment(Tables(spark, dir).documents)

  /** Library face: containment pairs over any (doc_id, lang, text) frame.
    * Same size-inlined two-shuffle shape as [[ngramJaccard]].
    */
  def ngramContainment(docs: DataFrame): DataFrame = {
    val sh = tokenized(docs)
      .select(col("doc_id"), col("lang"), size(col("sh")).as("n"),
        explode(col("sh")).as("s"))
    sh.as("a").join(sh.as("b"),
        col("a.lang") === col("b.lang") && col("a.s") === col("b.s") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"),
        min(col("a.n")).as("n_a"), min(col("b.n")).as("n_b"))
      .select(col("doc_a"), col("doc_b"), col("n_inter"),
        col("n_a").cast("long").as("n_a"), col("n_b").cast("long").as("n_b"),
        (col("n_inter") / least(col("n_a"), col("n_b"))).as("containment"))
      .filter(col("containment") >= 0.5)
  }

  val ngramContainmentSql: String =
    """WITH toks AS (
      |  SELECT doc_id, lang, string_split(text, ' ') AS tk FROM documents
      |), sh AS (
      |  SELECT DISTINCT doc_id, lang, array_to_string(tk[i:i+2], ' ') AS s
      |  FROM toks, unnest(range(1, greatest(len(tk) - 1, 2))) AS t(i)
      |), sizes AS (
      |  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
      |), inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      |  FROM sh a JOIN sh b ON a.lang = b.lang AND a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |)
      |SELECT doc_a, doc_b, n_inter, x.n AS n_a, y.n AS n_b,
      |  n_inter / least(x.n, y.n) AS containment
      |FROM inter JOIN sizes x ON doc_a = x.doc_id JOIN sizes y ON doc_b = y.doc_id
      |WHERE n_inter / least(x.n, y.n) >= 0.5""".stripMargin

  /** C5: embedding cosine near-dup pairs, blocked by `label` (IVF-style
    * blocking: at scale the block key bounds the quadratic term).
    * Cosine is rounded to 3 decimals before the threshold compare so
    * engine-level float fold order can't flip boundary rows.
    */
  def embeddingNearDup(spark: SparkSession, dir: String): DataFrame =
    embeddingNearDup(Tables(spark, dir).embeddings)

  /** Library face: cosine near-dup pairs over any (vec_id, label,
    * embedding float[]) frame.
    */
  def embeddingNearDup(embeddings: DataFrame): DataFrame = {
    val e = embeddings
      .repartition(embeddings.sparkSession.sparkContext.defaultParallelism)
    val a = e.select(col("label"), col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
    val b = e.select(col("label"), col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
    a.join(b, Seq("label")).filter(col("vec_a") < col("vec_b"))
      .select(col("label"), col("vec_a"), col("vec_b"),
        round(graft.functions.NativeExprs.cosine_f32(col("emb_a"), col("emb_b")), 3).as("cosine"))
      .filter(col("cosine") >= 0.4)
  }

  val embeddingNearDupSql: String =
    """SELECT a.label AS label, a.vec_id AS vec_a, b.vec_id AS vec_b,
      |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 3) AS cosine
      |FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
      |WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 3) >= 0.4""".stripMargin

  /** C23: dedup clustering — connected components over the verified
    * MinHash near-dup pairs (C2), turning pairwise matches into
    * keep-one-per-cluster groups: [[Mining.componentsOn]]'s min-label
    * propagation over the pairs, then one row per component with its
    * canonical (min) doc and size. Oracle: the portable-minhash pipeline
    * (C2's SQL restatement) feeds a recursive-CTE reachability closure —
    * quadratic in component size, fine at oracle scale.
    */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    Mining.componentsOn(minhashLsh(spark, dir).filter(col("is_dup"))
        .select(col("doc_a").as("p1"), col("doc_b").as("p2")))
      .groupBy(col("comp").as("cluster_id"))
      .agg(count(lit(1)).as("n_docs"), min(col("node")).as("keep_doc_id"),
        max(col("node")).as("max_doc_id"))

  /** Oracle restatement of C23: C2's portable pipeline down to the
    * verified is_dup pairs, then connected components as a recursive
    * reachability closure with min-label canonicalization. */
  val dedupClustersSql: String =
    """WITH RECURSIVE toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |), grams AS (
      |  SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS g
      |  FROM toks, unnest(range(1, greatest(len(tk) - 1, 2))) AS t(i)
      |), base AS (
      |  SELECT doc_id, ('0x' || substr(md5(g), 1, 15))::BIGINT % 2147483647 AS b
      |  FROM grams
      |), seeds AS (
      |  SELECT CAST(i AS BIGINT) AS i FROM unnest(range(0, 32)) AS s(i)
      |), sigs AS (
      |  SELECT doc_id, i,
      |    MIN((((1103515245 * (i + 1) + 12345) % 2147483647) * b
      |        + ((1234567891 * (i + 1) + 987654321) % 2147483647)) % 2147483647) AS sig
      |  FROM base CROSS JOIN seeds GROUP BY doc_id, i
      |), bands AS (
      |  SELECT doc_id, i // 4 AS band,
      |    md5(array_to_string(list(sig ORDER BY i), '-')) AS bh
      |  FROM sigs GROUP BY doc_id, i // 4
      |), cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
      |), sizes AS (
      |  SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id
      |), inter AS (
      |  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
      |  FROM cand c
      |  JOIN grams x ON x.doc_id = c.doc_a
      |  JOIN grams y ON y.doc_id = c.doc_b AND y.g = x.g
      |  GROUP BY 1, 2
      |), e AS (
      |  SELECT c.doc_a, c.doc_b
      |  FROM cand c
      |  LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
      |  JOIN sizes x ON c.doc_a = x.doc_id
      |  JOIN sizes y ON c.doc_b = y.doc_id
      |  WHERE COALESCE(i.n_inter, 0) / (x.n + y.n - COALESCE(i.n_inter, 0)) >= 0.5
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
      |FROM lab GROUP BY label""".stripMargin

  /** C44: cluster representative selection — for every exact-dup
    * cluster, keep the HIGHEST-QUALITY member (composite score, C9's
    * formula), tie-broken by doc_id, instead of C1's arbitrary min-id.
    * This is the keep-one policy real dedup pipelines run: dedup should
    * drop the worst copies, not a random one. The window runs over
    * (hash, id, score) projections only — document text never shuffles.
    */
  def dedupKeepBest(spark: SparkSession, dir: String): DataFrame =
    dedupKeepBest(Tables(spark, dir).documents)

  /** Library face: keep-best selection over any (doc_id, text) frame. */
  def dedupKeepBest(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = docs
      .select(md5(col("text")).as("text_hash"), col("doc_id"),
        TextAnalysis.compositeScore.as("quality_score"))
    val w = Window.partitionBy(col("text_hash"))
      .orderBy(col("quality_score").desc, col("doc_id"))
    scored
      .withColumn("rn", row_number().over(w))
      .withColumn("n_copies", count(lit(1)).over(Window.partitionBy(col("text_hash"))))
      .filter(col("rn") === 1)
      .select(col("text_hash"), col("doc_id").as("keep_doc_id"),
        col("quality_score").as("best_score"), col("n_copies"))
  }

  val dedupKeepBestSql: String =
    s"""WITH scored AS (
       |  SELECT md5(text) AS text_hash, doc_id,
       |         ${TextAnalysis.compositeScoreSql} AS quality_score
       |  FROM documents),
       |ranked AS (
       |  SELECT text_hash, doc_id, quality_score,
       |         ROW_NUMBER() OVER (PARTITION BY text_hash
       |                            ORDER BY quality_score DESC, doc_id) AS rn,
       |         COUNT(*) OVER (PARTITION BY text_hash) AS n_copies
       |  FROM scored)
       |SELECT text_hash, doc_id AS keep_doc_id, quality_score AS best_score, n_copies
       |FROM ranked WHERE rn = 1""".stripMargin

  /** C54: corpus dedup-rate report — the one-row dashboard every dedup
    * run publishes: raw docs, distinct texts, duplicate count/fraction,
    * and the largest duplicate cluster. Two-level aggregate over
    * (16-byte hash, count) pairs; output is O(1) at any corpus size.
    */
  def dupRate(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .groupBy(md5(col("text")).as("h"))
      .agg(count(lit(1)).as("n"))
      .agg(
        sum(col("n")).cast("long").as("n_docs"),
        count(lit(1)).as("n_distinct"),
        (sum(col("n")).cast("long") - count(lit(1))).as("n_dup_docs"),
        ((sum(col("n")).cast("long") - count(lit(1))).cast("double")
          / sum(col("n")).cast("long")).as("dup_fraction"),
        max(col("n")).as("max_cluster"))

  val dupRateSql: String =
    """WITH c AS (SELECT md5(text) AS h, COUNT(*) AS n FROM documents GROUP BY 1)
      |SELECT CAST(SUM(n) AS BIGINT) AS n_docs,
      |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
      |  CAST(SUM(n) AS BIGINT) - COUNT(*) AS n_dup_docs,
      |  CAST(CAST(SUM(n) AS BIGINT) - COUNT(*) AS DOUBLE)
      |    / CAST(SUM(n) AS BIGINT) AS dup_fraction,
      |  CAST(MAX(n) AS BIGINT) AS max_cluster
      |FROM c""".stripMargin

  /** C45: boilerplate / template detection — clusters of documents that
    * share an identical leading 16-word prefix (the shape of scraped
    * page templates and mirrored headers). Distinct from C1 (whole-text
    * hash) and C31 (every 8-token window): only the document HEAD is
    * keyed, and only clusters with >1 member surface. The exchange
    * carries (16-byte prefix hash, doc_id) — never text.
    */
  def boilerplate(spark: SparkSession, dir: String): DataFrame =
    boilerplate(Tables(spark, dir).documents)

  /** Library face: prefix-template clusters over any (doc_id, text) frame. */
  def boilerplate(docs: DataFrame): DataFrame =
    docs
      .select(
        md5(array_join(slice(split(col("text"), " "), 1, 16), " ")).as("prefix_hash"),
        col("doc_id"))
      .groupBy(col("prefix_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc_id"))
      .filter(col("n_docs") > 1)

  val boilerplateSql: String =
    """SELECT md5(array_to_string(list_slice(string_split(text, ' '), 1, 16), ' ')) AS prefix_hash,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs, MIN(doc_id) AS first_doc_id
      |FROM documents
      |GROUP BY 1
      |HAVING COUNT(*) > 1""".stripMargin

  /** C46: bounded fuzzy (edit-distance) near-dup pairs. Candidate space
    * is blocked on (lang, ⌊n_chars/64⌋) — the standard blocking move
    * that turns the corpus-quadratic into a sum of small block
    * quadratics — and the kernel is Levenshtein over the 40-char prefix
    * with Spark's thresholded form (O(threshold·n) banded DP with early
    * exit, not the full O(n²) table). Blocking trades recall at bucket
    * boundaries for a bound on work — the same contract as every LSH
    * face here; the oracle states the identical distance unbounded.
    */
  def dedupFuzzy(spark: SparkSession, dir: String): DataFrame =
    dedupFuzzy(Tables(spark, dir).documents)

  /** Library face: blocked fuzzy pairs over any (doc_id, lang, n_chars,
    * text) frame.
    */
  def dedupFuzzy(docs: DataFrame): DataFrame = {
    val side = docs
      .select(col("lang"), call_function("div", col("n_chars"), lit(64L)).as("len_bucket"),
        col("doc_id"), substring(col("text"), 1, 40).as("prefix"))
    val a = side.select(col("lang"), col("len_bucket"),
      col("doc_id").as("doc_a"), col("prefix").as("pa"))
    val b = side.select(col("lang"), col("len_bucket"),
      col("doc_id").as("doc_b"), col("prefix").as("pb"))
    a.join(b, Seq("lang", "len_bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("lang"), col("doc_a"), col("doc_b"),
        levenshtein(col("pa"), col("pb"), 10).as("prefix_dist"))
      .filter(col("prefix_dist").between(0, 10))
  }

  val dedupFuzzySql: String =
    """SELECT a.lang AS lang, a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(levenshtein(a.prefix, b.prefix) AS INTEGER) AS prefix_dist
      |FROM (SELECT lang, CAST(n_chars // 64 AS BIGINT) AS len_bucket, doc_id,
      |             substring(text, 1, 40) AS prefix FROM documents) a
      |JOIN (SELECT lang, CAST(n_chars // 64 AS BIGINT) AS len_bucket, doc_id,
      |             substring(text, 1, 40) AS prefix FROM documents) b
      |  ON a.lang = b.lang AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
      |WHERE levenshtein(a.prefix, b.prefix) <= 10""".stripMargin

  /** C71: prefix-filtered exact set-similarity self-join — the
    * All-Pairs/PPJoin candidate generation (Bayardo et al., WWW'07;
    * Xiao et al., WWW'08: prefix length |s| − ⌈τ·|s|⌉ + 1 under one
    * global token order): exact 3-gram-set Jaccard ≥ τ = 0.6 pairs,
    * but the self-join runs ONLY over each document's
    * frequency-ascending PREFIX, not its full shingle set.
    *
    * Why this is the exact-join scale path (vs C4's full inverted
    * index): the prefix keeps the ~40% RAREST shingles of each set, so
    * (a) the candidate exchange carries a fraction of the (hash, id)
    * pairs, and (b) the high-frequency shingles — whose inverted-index
    * posting lists drive the quadratic candidate fanout — never become
    * join keys at all. The length filter τ·max ≤ min prunes map-side.
    * Candidates are then verified EXACTLY (codegen'd array_intersect
    * over the full hash sets), with the τ threshold as the integer
    * cross-multiplication 8·|∩| ≥ 3·(|a|+|b|) — no float boundary.
    * No false negatives: any pair with J ≥ τ shares a prefix token
    * under a common total order (prefix-filtering lemma); the oracle
    * states the brute-force inverted-index join and must agree exactly.
    * The (f, s) rank order is collision-free per doc (s distinct), so
    * the prefix choice is deterministic at any partitioning.
    */
  def setsimPrefix(spark: SparkSession, dir: String): DataFrame =
    setsimPrefix(Tables(spark, dir).documents)

  /** Library face: τ=0.6 exact-Jaccard pairs over any (doc_id, lang,
    * text) frame, prefix-filtered candidates.
    */
  def setsimPrefix(docs: DataFrame): DataFrame = {
    // Pinned: `tok` has three readers and `pfx` both sides of the
    // candidate self-join. sf0.1 Bench medians, 4 vCPUs: 1.13 s with both,
    // 1.20 s with neither; 1.06 s vs 1.12 s without `pfx` alone.
    val tok = tokenized(docs).localCheckpoint(true)
    val ex = tok.select(col("doc_id"), col("lang"), explode(col("sh")).as("s"))
    // document frequency of each shingle — the global rarity order
    val freq = ex.groupBy(col("s")).agg(count(lit(1)).as("f"))
    val sizes = tok.select(col("doc_id"), size(col("sh")).cast("long").as("n"))
    val byRarity = Window.partitionBy(col("doc_id")).orderBy(col("f"), col("s"))
    val pfx = ex.join(freq, "s")
      .select(col("doc_id"), col("lang"), col("s"),
        row_number().over(byRarity).cast("long").as("rn"))
      .join(sizes, "doc_id")
      // p = n − ⌈3n/5⌉ + 1, all-integer (div is floor; args positive)
      .filter(col("rn") <=
        col("n") - call_function("div", col("n") * 3 + 4, lit(5L)) + 1)
      .localCheckpoint(true)
    val cand = pfx.as("a").join(pfx.as("b"),
        col("a.lang") === col("b.lang") && col("a.s") === col("b.s") &&
          col("a.doc_id") < col("b.doc_id") &&
          greatest(col("a.n"), col("b.n")) * 3 <=
            least(col("a.n"), col("b.n")) * 5)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val sets = tok.select(col("doc_id"), col("sh"))
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sa")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(col("sa")).cast("long").as("n_a"),
        size(col("sb")).cast("long").as("n_b"),
        size(array_intersect(col("sa"), col("sb"))).cast("long").as("n_inter"))
      .filter(col("n_inter") * 8 >= (col("n_a") + col("n_b")) * 3)
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"),
        col("n_inter"),
        (col("n_inter") / (col("n_a") + col("n_b") - col("n_inter")))
          .as("jaccard"))
  }

  /** Oracle: the brute-force inverted-index formulation (C4's shape) at
    * the same τ — the prefix filter must lose nothing.
    */
  val setsimPrefixSql: String =
    """WITH toks AS (
      |  SELECT doc_id, lang, string_split(text, ' ') AS tk FROM documents
      |), sh AS (
      |  SELECT DISTINCT doc_id, lang, array_to_string(tk[i:i+2], ' ') AS s
      |  FROM toks, unnest(range(1, greatest(len(tk) - 1, 2))) AS t(i)
      |), sizes AS (
      |  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
      |), inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      |  FROM sh a JOIN sh b ON a.lang = b.lang AND a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |)
      |SELECT doc_a, doc_b, x.n AS n_a, y.n AS n_b, n_inter,
      |  n_inter / (x.n + y.n - n_inter) AS jaccard
      |FROM inter JOIN sizes x ON doc_a = x.doc_id JOIN sizes y ON doc_b = y.doc_id
      |WHERE n_inter * 8 >= (x.n + y.n) * 3""".stripMargin
}
