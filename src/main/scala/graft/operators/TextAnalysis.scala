package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Fns._
import graft.sources.Tables

/** Text-analysis operators for LLM training-data pipelines
  * (SURVEY §2 C1, C8–C13): exact dedup, language ID, quality scoring,
  * token counting, fingerprinting. All per-document computation is
  * map-only (narrow) — no shuffle except where the semantics require a
  * groupBy (exact dedup's hash key) — so every operator scales linearly
  * with executors.
  *
  * Oracle-parity rule: counting uses the length/replace identity (same
  * arithmetic stated in DuckDB SQL) rather than engine-specific regex
  * dialects; integer-valued intermediates are cast to INT explicitly on
  * both sides.
  */
object TextAnalysis {

  /** C1: exact deduplication — group by content hash, keep the smallest
    * doc_id as canonical. At 100 TB the exchange carries (128-bit hash,
    * id), never the document text.
    */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(md5(col("text")).as("text_hash"), col("doc_id"))
      .groupBy(col("text_hash"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))

  val dedupExactSql: String =
    """SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
      |FROM documents
      |GROUP BY md5(text)""".stripMargin

  // Stopword marker lists (space-padded whole-word hits).
  private val enStops = Seq("the", "and", "of")
  private val deStops = Seq("der", "und", "die")
  private val esStops = Seq("el", "la", "los")

  private def padded: Column = concat(lit(" "), col("text"), lit(" "))

  private def hits(words: Seq[String]): Column =
    words.map(w => substrCount(padded, s" $w ")).reduce(_ + _).cast("int")

  private def hitsSql(words: Seq[String]): String =
    words.map(w =>
      s"CAST((length(' '||text||' ') - length(replace(' '||text||' ', ' $w ', ''))) / ${w.length + 2} AS INTEGER)")
      .mkString("(", " + ", ")")

  // Shared deterministic split bucket (C17 / C19 / C26 all key off the
  // SAME split — one definition so the faces can't drift). Wrap-safe:
  // reduced mod-100 first, so the product stays < 2^63 (C17 scaladoc).
  private[operators] def splitBucket: Column = (col("doc_id") % 100) * 2654435761L % 100
  private val splitBucketSql: String = "(doc_id % 100) * 2654435761 % 100"

  // Shared C9 composite quality score (C9 / C20 exact / C20 approx —
  // the spec pins face agreement, so the formula lives once).
  private val spacesSql = "CAST((length(text) - length(replace(text, ' ', ''))) AS INTEGER)"
  private val wordsSql = s"CAST($spacesSql + 1 AS INTEGER)"
  private[operators] def compositeScore: Column = {
    val words = (substrCount(col("text"), " ") + 1).cast("int")
    hits(enStops) / words * lit(0.5) + least(words, lit(100)) / lit(100) * lit(0.5)
  }
  private[operators] def compositeScoreSql: String =
    s"${hitsSql(enStops)} / $wordsSql * 0.5 + least($wordsSql, 100) / 100 * 0.5"

  /** C8: language ID via stopword-marker hits — the classic cheap n-gram
    * heuristic (fastText-style lists reduced to 3 markers/language).
    * Deterministic precedence CASE picks the winner; 'und' when no
    * marker fires.
    */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val en = hits(enStops); val de = hits(deStops); val es = hits(esStops)
    Tables(spark, dir).documents
      .select(col("doc_id"), col("lang").as("claimed_lang"),
        en.as("en_hits"), de.as("de_hits"), es.as("es_hits"),
        when(en >= de && en >= es && en > 0, "en")
          .when(de >= es && de > 0, "de")
          .when(es > 0, "es")
          .otherwise("und").as("predicted_lang"))
  }

  val langIdSql: String = {
    val en = hitsSql(enStops); val de = hitsSql(deStops); val es = hitsSql(esStops)
    s"""SELECT doc_id, lang AS claimed_lang,
       |  $en AS en_hits, $de AS de_hits, $es AS es_hits,
       |  CASE WHEN $en >= $de AND $en >= $es AND $en > 0 THEN 'en'
       |       WHEN $de >= $es AND $de > 0 THEN 'de'
       |       WHEN $es > 0 THEN 'es'
       |       ELSE 'und' END AS predicted_lang
       |FROM documents""".stripMargin
  }

  /** C9: quality scoring — length, punctuation ratio, stopword ratio,
    * average word length, and a composite score. The formula is stated
    * with identical operation order in the oracle so doubles match
    * bit-for-bit.
    */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val nChars = length(col("text")).cast("int")
    val spaces = substrCount(col("text"), " ")
    val words = (spaces + 1).cast("int")
    val punct = (substrCount(col("text"), ".") + substrCount(col("text"), ",") +
      substrCount(col("text"), "!")).cast("int")
    val stops = hits(enStops)
    Tables(spark, dir).documents.select(
      col("doc_id"),
      nChars.as("n_chars"),
      words.as("word_count"),
      punct.as("punct_count"),
      stops.as("stopword_count"),
      (stops / words).as("stopword_ratio"),
      (punct / words).as("punct_ratio"),
      ((nChars - spaces) / words).as("avg_word_len"),
      compositeScore.as("quality_score"))
  }

  val qualityScoreSql: String = {
    val spaces = spacesSql
    val words = wordsSql
    val punct = ("CAST(" + Seq(".", ",", "!").map(c =>
      s"(length(text) - length(replace(text, '$c', '')))").mkString(" + ") +
      " AS INTEGER)")
    val stops = hitsSql(enStops)
    s"""SELECT doc_id,
       |  CAST(length(text) AS INTEGER) AS n_chars,
       |  $words AS word_count,
       |  $punct AS punct_count,
       |  $stops AS stopword_count,
       |  $stops / $words AS stopword_ratio,
       |  $punct / $words AS punct_ratio,
       |  (CAST(length(text) AS INTEGER) - $spaces) / $words AS avg_word_len,
       |  $compositeScoreSql AS quality_score
       |FROM documents""".stripMargin
  }

  /** C10: whitespace token counting (portable arithmetic form). */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents.select(
      col("doc_id"),
      (substrCount(col("text"), " ") + 1).cast("int").as("ws_token_count"),
      length(col("text")).cast("int").as("n_chars"))

  val tokenCountSql: String =
    """SELECT doc_id,
      |  CAST((length(text) - length(replace(text, ' ', ''))) + 1 AS INTEGER) AS ws_token_count,
      |  CAST(length(text) AS INTEGER) AS n_chars
      |FROM documents""".stripMargin

  /** C11: BPE-ish token counting — regex word/number/symbol pieces, the
    * usual pre-tokenizer shape. The pattern sticks to constructs Java
    * regex and RE2 read identically (ASCII classes, alternation) so the
    * DuckDB oracle can state the same tokenizer.
    */
  def tokenBpe(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents.select(
      col("doc_id"),
      size(regexp_extract_all(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), lit(0)))
        .cast("int").as("bpe_token_count"))

  val tokenBpeSql: String =
    """SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS INTEGER) AS bpe_token_count
      |FROM documents""".stripMargin

  /** C12: document fingerprint — md5 of case/whitespace-normalized text. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents.select(
      col("doc_id"),
      md5(lower(trim(col("text")))).as("fingerprint"),
      length(col("text")).cast("int").as("n_chars"))

  val fingerprintSql: String =
    """SELECT doc_id, md5(lower(trim(text))) AS fingerprint,
      |  CAST(length(text) AS INTEGER) AS n_chars
      |FROM documents""".stripMargin

  /** C16: corpus vocabulary — token frequencies with stable ranks; the
    * id-assignment step of tokenizer training. One explode + one
    * groupBy(token) shuffle of (token, partial count) pairs; top-k via
    * a single-partition window over the (tiny) aggregated frame.
    */
  def vocab(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables(spark, dir).documents
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
    // top-k FIRST (distributed TakeOrdered — no global sort), then the
    // id-assigning window runs over only k rows. A bare global
    // row_number window would funnel the whole vocabulary through one
    // partition at scale.
    val top = counts.orderBy(col("n").desc, col("token")).limit(100)
    val w = Window.orderBy(col("n").desc, col("token"))
    top.withColumn("token_id", row_number().over(w))
  }

  val vocabSql: String =
    """WITH counts AS (
      |  SELECT unnest(string_split(text, ' ')) AS token FROM documents
      |), agg AS (
      |  SELECT token, COUNT(*) AS n FROM counts GROUP BY token
      |), ranked AS (
      |  SELECT token, n, row_number() OVER (ORDER BY n DESC, token) AS token_id FROM agg
      |)
      |SELECT token, n, token_id FROM ranked WHERE token_id <= 100""".stripMargin

  /** C17: deterministic train/eval split — pure-integer Knuth
    * multiplicative hash of the id, portable to any engine; never
    * rand() (stable across retries, reproducible lineage).
    *
    * Wrap-safety: `(doc_id % 100) * K % 100` equals `doc_id * K % 100`
    * by modular arithmetic, but the reduced product is ≤ 99·K < 2^63 —
    * no silent int64 wrap in Spark and no overflow error in engines
    * that trap it (DuckDB), at ANY doc_id.
    */
  def trainTestSplit(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .withColumn("split",
        when(splitBucket < 90, "train").otherwise("eval"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"))

  // CAST(SUM(int) AS BIGINT): DuckDB SUM(BIGINT) is HUGEINT → float64
  // in the compare harness; BIGINT matches Spark's int64.
  val trainTestSplitSql: String =
    s"""SELECT CASE WHEN $splitBucketSql < 90 THEN 'train' ELSE 'eval' END AS split,
       |  COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
       |FROM documents
       |GROUP BY 1""".stripMargin

  /** C18: fixed-size chunking — split each document into 16-token
    * training chunks. Map-side generate (explode of an index sequence);
    * no shuffle; at 100 TB this is the classic pre-tokenization pass.
    */
  def chunk(spark: SparkSession, dir: String): DataFrame = {
    val tk = split(col("text"), " ")
    Tables(spark, dir).documents
      .select(col("doc_id"), tk.as("tk"))
      .select(col("doc_id"), col("tk"),
        explode(sequence(lit(0), ((size(col("tk")) - 1) / 16).cast("int"))).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        concat_ws(" ", slice(col("tk"), col("chunk_idx") * 16 + 1, lit(16))).as("chunk_text"),
        least(lit(16), size(col("tk")) - col("chunk_idx") * 16).as("n_tokens"))
  }

  val chunkSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |)
      |SELECT doc_id, i AS chunk_idx,
      |  array_to_string(tk[i*16+1 : i*16+16], ' ') AS chunk_text,
      |  least(16, len(tk) - i*16) AS n_tokens
      |FROM toks, unnest(range(0, (len(tk) - 1) // 16 + 1)) AS t(i)""".stripMargin

  /** C13: winnowing fingerprints (Schleimer et al., SIGMOD'03): hash the
    * ordered 3-gram sequence with the portable 60-bit md5-prefix hash
    * ([[graft.functions.Kernels.winnow]]), take the min hash of each
    * sliding window of 8, keep the distinct minima. Map-only via the
    * native expression — no explode, no shuffle; the oracle restates
    * the identical selection with positioned grams + a frame window.
    */
  def winnow(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.NativeExprs.winnow_fps
    val fps = winnow_fps(split(col("text"), " "), 3, 8)
    Tables(spark, dir).documents.select(
      col("doc_id"),
      size(fps).cast("int").as("n_fingerprints"),
      array_min(fps).as("min_fingerprint"))
  }

  /** Oracle restatement of C13: position-indexed gram hashes, an
    * 8-row sliding-min frame, windows only where the kernel emits one
    * (ends i ≥ least(#grams, 8)), distinct minima per doc. */
  val winnowSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |), grams AS (
      |  SELECT doc_id, i,
      |    ('0x' || substr(md5(array_to_string(tk[i:i+2], ' ')), 1, 15))::BIGINT AS h
      |  FROM toks, unnest(range(1, greatest(len(tk) - 1, 2))) AS t(i)
      |), wins AS (
      |  SELECT doc_id, i,
      |    min(h) OVER (PARTITION BY doc_id ORDER BY i
      |                 ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS fp,
      |    count(*) OVER (PARTITION BY doc_id) AS ng
      |  FROM grams
      |)
      |SELECT doc_id, CAST(COUNT(DISTINCT fp) AS INTEGER) AS n_fingerprints,
      |  MIN(fp) AS min_fingerprint
      |FROM wins WHERE i >= least(ng, 8)
      |GROUP BY doc_id""".stripMargin

  /** C24: approximate vocabulary via the Misra–Gries heavy-hitters
    * sketch ([[graft.functions.FreqAgg]]) — C16's 100 TB path. The
    * exact vocab shuffles every (token, partial count) pair; the sketch
    * ships ≤ 64 counters per map task into a single mergeable reduce,
    * with the MG guarantee that no token of frequency > n/65 is missed.
    * Oracle: whenever |vocab| ≤ capacity no MG decrement ever fires, so
    * every counter is EXACT and the plain exact token counts are the
    * oracle (the test corpus vocabulary is 31 ≤ 64 at every SF). The
    * overflow regime (|vocab| > capacity) keeps its guarantee-only
    * property spec in sbt.
    */
  def vocabApprox(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(explode(split(col("text"), " ")).as("token"))
      .agg(graft.functions.FreqAgg.freq_items(col("token"), 64).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.token").as("token"), col("e.est").as("est_count"))

  val vocabApproxSql: String =
    """SELECT token, COUNT(*) AS est_count
      |FROM (SELECT UNNEST(string_split(text, ' ')) AS token FROM documents)
      |GROUP BY token""".stripMargin

  /** C26: train/eval contamination check — eval-split documents whose
    * normalized fingerprint (C12) also appears in the train split; the
    * decontamination pass every training pipeline runs before eval.
    * Composes C17's deterministic split with C12's fingerprint; the
    * exchange carries (16-byte hash, id) pairs only — document text
    * never shuffles, so the check costs one hash-keyed join at any
    * scale.
    */
  def contamination(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
      .withColumn("split",
        when(splitBucket < 90, "train").otherwise("eval"))
      .select(col("doc_id"), col("split"), md5(lower(trim(col("text")))).as("fp"))
    val train = docs.filter(col("split") === "train")
      .select(col("fp"), col("doc_id").as("train_doc_id"))
    docs.filter(col("split") === "eval")
      .join(train, "fp")
      .groupBy(col("doc_id").as("eval_doc_id"))
      .agg(count(lit(1)).as("n_train_dups"),
        min(col("train_doc_id")).as("first_train_doc"))
  }

  val contaminationSql: String =
    s"""WITH d AS (
      |  SELECT doc_id,
      |    CASE WHEN $splitBucketSql < 90
      |      THEN 'train' ELSE 'eval' END AS split,
      |    md5(lower(trim(text))) AS fp
      |  FROM documents)
      |SELECT e.doc_id AS eval_doc_id, COUNT(*) AS n_train_dups,
      |  MIN(t.doc_id) AS first_train_doc
      |FROM d e JOIN d t ON e.fp = t.fp
      |WHERE e.split = 'eval' AND t.split = 'train'
      |GROUP BY e.doc_id""".stripMargin

  /** C27: intra-document repetition — the duplicate 3-gram fraction
    * (the Gopher-family repetition filter): 1 − |distinct grams| /
    * |grams|. Map-only via the native distinct-gram kernel (the same
    * one C2/C4 share); the total gram count is pure arithmetic, so no
    * gram list ever materializes and nothing shuffles.
    */
  def repetition(spark: SparkSession, dir: String): DataFrame = {
    val tk = split(col("text"), " ")
    val total = greatest(size(tk) - 2, lit(1)).cast("int")
    Tables(spark, dir).documents
      .select(
        col("doc_id"),
        total.as("n_grams"),
        size(graft.functions.NativeExprs.gram_hashes(tk, 3)).cast("int")
          .as("n_distinct_grams"))
      .withColumn("dup_ratio",
        lit(1.0) - col("n_distinct_grams") / col("n_grams"))
  }

  val repetitionSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |), sh AS (
      |  SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS s
      |  FROM toks, unnest(range(1, greatest(len(tk) - 1, 2))) AS t(i)
      |), d AS (
      |  SELECT doc_id, COUNT(*) AS nd FROM sh GROUP BY doc_id
      |)
      |SELECT t.doc_id,
      |  CAST(greatest(len(tk) - 2, 1) AS INTEGER) AS n_grams,
      |  CAST(nd AS INTEGER) AS n_distinct_grams,
      |  1.0 - CAST(nd AS INTEGER) / CAST(greatest(len(tk) - 2, 1) AS INTEGER) AS dup_ratio
      |FROM toks t JOIN d ON t.doc_id = d.doc_id""".stripMargin

  /** C19: deterministic stratified sampling — per-language sampling
    * rates (10% en, 50% others) via the wrap-safe multiplicative hash of
    * C17 (never rand(): stable across retries/speculation). Map-only
    * filter — the 100 TB downsampling pass; rates per stratum are just
    * a CASE over the blocking column.
    */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val bucket = splitBucket
    val rate = when(col("lang") === "en", 10L).otherwise(50L)
    Tables(spark, dir).documents
      .filter(bucket < rate)
      .select(col("doc_id"), col("lang"), bucket.as("sample_bucket"))
  }

  val stratifiedSampleSql: String =
    s"""SELECT doc_id, lang, $splitBucketSql AS sample_bucket
       |FROM documents
       |WHERE $splitBucketSql <
       |  (CASE WHEN lang = 'en' THEN 10 ELSE 50 END)""".stripMargin

  /** C20: quality filtering — keep the top quartile of documents per
    * language by the C9 composite quality score. The ntile split runs
    * over a total order (score desc, doc_id), so quartile membership is
    * engine-deterministic and oracle-checkable.
    *
    * SCALE NOTE: `lang` is low-cardinality, so this window funnels each
    * language through one reducer — exact per-group ranking is
    * inherently a per-group sort. At 100 TB use
    * [[qualityFilterApprox]]: a percentile_approx threshold (partially
    * aggregable — no single-reducer sort) broadcast back as a map-only
    * filter. The spec pins the two faces' agreement.
    */
  def qualityFilter(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang")).orderBy(col("quality_score").desc, col("doc_id"))
    Tables(spark, dir).documents
      .select(col("doc_id"), col("lang"), compositeScore.as("quality_score"))
      .withColumn("q4", ntile(4).over(w))
      .filter(col("q4") === 1)
      .select(col("doc_id"), col("lang"), col("quality_score"))
  }

  /** C20's 100 TB face: per-lang p75 threshold via `percentile_approx`
    * (a mergeable sketch: map tasks ship digest state, not rows), then
    * a broadcast of |langs| thresholds and a map-only filter. No
    * per-group sort anywhere; scales to any rows-per-language. Keeps
    * every doc scoring at or above the approximate quartile boundary
    * (ties included — approximate by construction, so slightly
    * over-selects rather than dropping boundary docs).
    */
  def qualityFilterApprox(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables(spark, dir).documents
      .select(col("doc_id"), col("lang"), compositeScore.as("quality_score"))
    val thresholds = scored.groupBy(col("lang"))
      .agg(percentile_approx(col("quality_score"), lit(0.75), lit(10000))
        .as("q75"))
    scored.join(broadcast(thresholds), Seq("lang"))
      .filter(col("quality_score") >= col("q75"))
      .select(col("doc_id"), col("lang"), col("quality_score"))
  }

  val qualityFilterSql: String = {
    s"""WITH scored AS (
       |  SELECT doc_id, lang,
       |    $compositeScoreSql AS quality_score
       |  FROM documents),
       |ranked AS (
       |  SELECT *, ntile(4) OVER (PARTITION BY lang
       |    ORDER BY quality_score DESC, doc_id) AS q4 FROM scored)
       |SELECT doc_id, lang, quality_score FROM ranked WHERE q4 = 1""".stripMargin
  }

  /** C42: Gopher/C4-style RULE-based quality filtering — the
    * hand-written heuristics every web-scale pretraining corpus applies
    * BEFORE any learned scorer (Rae et al. 2021 "Gopher" §A1.1; Raffel
    * et al. 2020 "C4"): word-count window, mean-word-length window,
    * symbol ratio, uppercase-word ratio, terminal punctuation. Emits
    * per-doc flags plus the fold — auditable per rule, the way corpus
    * pipelines report their filter funnel. Map-only: every rule is a
    * scalar expression over the text column, no shuffle at any scale.
    * Patterns stick to ASCII classes Java regex and RE2 read alike.
    */
  def c4Filter(spark: SparkSession, dir: String): DataFrame = {
    val words = split(col("text"), " ")
    val nWords = size(words).cast("long")
    // chars-in-words / word count (text is single-space separated)
    val meanWordLen = round(
      (length(col("text")) - (nWords - 1)).cast("double") / nWords, 4)
    val symbolRatio = round(
      (length(col("text")) -
        length(regexp_replace(col("text"), "[#{}\\[\\]|<>]", "")))
        .cast("double") / length(col("text")), 4)
    val upperRatio = round(
      (size(filter(words, w => w.rlike("^[A-Z]"))).cast("double")) / nWords, 4)
    val endsPunct = col("text").rlike("[.!?\"']$")
    Tables(spark, dir).documents
      .select(col("doc_id"), nWords.as("n_words"),
        meanWordLen.as("mean_word_len"), symbolRatio.as("symbol_ratio"),
        upperRatio.as("upper_ratio"), endsPunct.as("ends_punct"))
      .withColumn("keep",
        col("n_words").between(5, 100000) &&
          col("mean_word_len").between(2.0, 12.0) &&
          col("symbol_ratio") < 0.1 && col("upper_ratio") < 0.3)
  }

  val c4FilterSql: String =
    """SELECT doc_id,
      |  len(string_split(text, ' ')) AS n_words,
      |  round((length(text) - (len(string_split(text, ' ')) - 1))
      |    / CAST(len(string_split(text, ' ')) AS DOUBLE), 4) AS mean_word_len,
      |  round((length(text) - length(regexp_replace(text, '[#{}\[\]|<>]', '', 'g')))
      |    / CAST(length(text) AS DOUBLE), 4) AS symbol_ratio,
      |  round(len(list_filter(string_split(text, ' '),
      |      w -> regexp_matches(w, '^[A-Z]')))
      |    / CAST(len(string_split(text, ' ')) AS DOUBLE), 4) AS upper_ratio,
      |  regexp_matches(text, '[.!?"'']$') AS ends_punct,
      |  (len(string_split(text, ' ')) BETWEEN 5 AND 100000)
      |    AND (round((length(text) - (len(string_split(text, ' ')) - 1))
      |      / CAST(len(string_split(text, ' ')) AS DOUBLE), 4) BETWEEN 2.0 AND 12.0)
      |    AND (round((length(text) - length(regexp_replace(text, '[#{}\[\]|<>]', '', 'g')))
      |      / CAST(length(text) AS DOUBLE), 4) < 0.1)
      |    AND (round(len(list_filter(string_split(text, ' '),
      |        w -> regexp_matches(w, '^[A-Z]')))
      |      / CAST(len(string_split(text, ' ')) AS DOUBLE), 4) < 0.3) AS keep
      |FROM documents""".stripMargin

  /** C21: PII scrubbing / text normalization — lowercase, mask emails
    * and URLs, collapse digit runs; the standard pre-training scrub
    * pass. Patterns stick to constructs Java regex and RE2 read
    * identically (ASCII classes, `{m,}` bounds). Map-only; output is the
    * scrub fingerprint + length so the oracle hash-checks the exact
    * scrubbed bytes without shipping full text.
    */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val scrubbed =
      regexp_replace(
        regexp_replace(
          regexp_replace(lower(col("text")),
            "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}", "<email>"),
          "https?://[^ ]+", "<url>"),
        "[0-9]+", "0")
    Tables(spark, dir).documents.select(
      col("doc_id"),
      md5(scrubbed).as("scrub_hash"),
      length(scrubbed).cast("int").as("scrub_len"))
  }

  val piiScrubSql: String =
    """SELECT doc_id,
      |  md5(regexp_replace(regexp_replace(regexp_replace(lower(text),
      |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<email>', 'g'),
      |    'https?://[^ ]+', '<url>', 'g'),
      |    '[0-9]+', '0', 'g')) AS scrub_hash,
      |  CAST(length(regexp_replace(regexp_replace(regexp_replace(lower(text),
      |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<email>', 'g'),
      |    'https?://[^ ]+', '<url>', 'g'),
      |    '[0-9]+', '0', 'g')) AS INTEGER) AS scrub_len
      |FROM documents""".stripMargin

  /** C55: n-gram novelty scoring — per doc, the fraction of its
    * distinct 3-grams whose FIRST corpus occurrence (min doc_id) is
    * this doc: late near-copies score near 0, fresh content near 1 —
    * the dedup-aware novelty signal curriculum/sampling policies use.
    * Exchanges carry (gram, doc_id) pairs keyed by gram — uniform
    * high-cardinality keys, never text.
    */
  def ngramNovelty(spark: SparkSession, dir: String): DataFrame = {
    // ONE explode pass: per-doc gram counts are map-only
    // (size(shingles)), and per-doc NOVEL counts fall out of the
    // first-occurrence aggregate directly (group the (gram → min doc)
    // table by its min doc) — no join back to the exploded grams, which
    // would recompute the explode (partial-agg prevents exchange reuse).
    // gram identity rides the single-pass native hash kernel (C4's
    // pattern: 8-byte keys on the wire instead of ~30-byte gram
    // strings; the string-shingle oracle states the same sets)
    import graft.functions.NativeExprs.gram_hashes
    val docs = Tables(spark, dir).documents
    val grams = docs.select(col("doc_id"),
      explode(gram_hashes(split(col("text"), " "), 3)).as("gh"))
    val novel = grams.groupBy(col("gh")).agg(min(col("doc_id")).as("first_doc"))
      .groupBy(col("first_doc").as("doc_id"))
      .agg(count(lit(1)).as("n_novel"))
    docs.select(col("doc_id"),
        size(gram_hashes(split(col("text"), " "), 3)).cast("long").as("n_grams"))
      .join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        (coalesce(col("n_novel"), lit(0L)).cast("double") / col("n_grams")).as("novelty"))
  }

  val ngramNoveltySql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS s
      |  FROM toks, unnest(range(1, greatest(len(tk) - 1, 2))) AS t(i)),
      |first AS (
      |  SELECT s, MIN(doc_id) AS first_doc FROM sh GROUP BY 1)
      |SELECT sh.doc_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_grams,
      |  CAST(SUM(CASE WHEN first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
      |  CAST(SUM(CASE WHEN first_doc = sh.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
      |    / COUNT(*) AS novelty
      |FROM sh JOIN first ON sh.s = first.s
      |GROUP BY sh.doc_id""".stripMargin

  /** C56: the quality-ensemble gate — the final keep/drop decision
    * fusing three independent signals, composed dbt-style from the
    * OTHER models (`ref()` semantics: C42's rule flags ⋈ C8's language
    * agreement ⋈ C50's entropy floor). Each arm is its own documented
    * scale shape; the fusion is three doc_id-keyed joins of tiny
    * per-doc booleans.
    */
  def qualityEnsemble(spark: SparkSession, dir: String): DataFrame = {
    val c4 = c4Filter(spark, dir).select(col("doc_id"), col("keep").as("c4_pass"))
    val lang = langId(spark, dir).select(col("doc_id"),
      (col("predicted_lang") === col("claimed_lang")).as("lang_match"))
    val ent = Corpus.entropy(spark, dir).select(col("doc_id"),
      (col("entropy") >= 3.0).as("entropy_ok"))
    c4.join(lang, "doc_id").join(ent, "doc_id")
      .select(col("doc_id"), col("c4_pass"), col("lang_match"), col("entropy_ok"),
        (col("c4_pass") && col("lang_match") && col("entropy_ok")).as("keep"))
  }

  val qualityEnsembleSql: String =
    s"""WITH c4 AS ($c4FilterSql),
       |lang AS (${langIdSql}),
       |ent AS (${Corpus.entropySql})
       |SELECT c4.doc_id, c4.keep AS c4_pass,
       |  lang.predicted_lang = lang.claimed_lang AS lang_match,
       |  ent.entropy >= 3.0 AS entropy_ok,
       |  c4.keep AND (lang.predicted_lang = lang.claimed_lang)
       |    AND (ent.entropy >= 3.0) AS keep
       |FROM c4
       |JOIN lang ON c4.doc_id = lang.doc_id
       |JOIN ent ON c4.doc_id = ent.doc_id""".stripMargin

  /** C47: corpus length distribution — log₂ length buckets per source,
    * the histogram every data-mixture dashboard opens with (and the
    * input to length-based curriculum/filtering policies). The bucket is
    * integer-exact: `length(bin(n))` = ⌊log₂ n⌋ + 1 — no floating-point
    * log at bucket boundaries. One partial-agg pass, O(sources × 64)
    * output rows at any scale.
    */
  def lengthBuckets(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .groupBy(col("source"),
        length(bin(col("n_chars"))).cast("int").as("bucket_log2"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("chars_total"),
        min(col("n_chars")).as("chars_min"),
        max(col("n_chars")).as("chars_max"))

  val lengthBucketsSql: String =
    """SELECT source, CAST(length(bin(n_chars)) AS INTEGER) AS bucket_log2,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS chars_total,
      |  MIN(n_chars) AS chars_min, MAX(n_chars) AS chars_max
      |FROM documents
      |GROUP BY 1, 2""".stripMargin

  /** C64: EXACT corpus heavy hitters (tokens with frequency > n/k) via
    * two-pass Misra–Gries — the classic streaming sketch made exact by
    * a verification pass, so the output hash-matches a brute-force
    * oracle. Pass 1 treeAggregates a MERGEABLE MG summary with k−1
    * counters (seqOp = the textbook decrement-all update; combOp = sum
    * counts then subtract the k-th largest and drop non-positives —
    * the Agarwal et al. "Mergeable Summaries" merge, which preserves
    * the ≤ n/k undercount bound), so the candidate set reaching the
    * driver stays ≤ k−1 entries REGARDLESS of partition count: every
    * token with true count > n/k survives the sketch. The same pass
    * counts n, so pass 1 is one token-stream scan with no shuffle at
    * all (treeAggregate moves ≤ k-entry sketches). Pass 2
    * broadcast-joins the candidate set back onto the token stream and
    * counts candidates exactly.
    *
    * Scale shape: the only exchange proportional to the corpus is pass
    * 2's partial-agg groupBy over candidate tokens — reduced map-side
    * to ≤ k−1 rows per task. The naive formulation (groupBy over ALL
    * tokens, then filter) shuffles the full vocabulary; on a 100 TB
    * web corpus that's billions of rare-token rows exchanged to be
    * immediately discarded.
    *
    * The threshold test is exact integer cross-multiplication
    * (cnt·k > n), never a float division at the boundary; the reported
    * `share` is one int64→double division both engines define
    * identically, rounded once.
    */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame =
    heavyHittersOn(
      Tables(spark, dir).documents
        .select(explode(split(col("text"), " ")).as("token")),
      k = 1000)

  /** DataFrame-in face of [[heavyHitters]]: exact items with
    * count·k > n over `toks`'s single string column.
    */
  def heavyHittersOn(toks0: DataFrame, k: Int): DataFrame = {
    val spark = toks0.sparkSession
    import spark.implicits._
    val toks = toks0.toDF("token")
    type Sketch = scala.collection.mutable.HashMap[String, Long]
    def trim(m: Sketch): Sketch = {
      if (m.size > k - 1) {
        // subtract the k-th largest count; ≤ k−1 entries stay positive
        val cut = m.values.toArray.sorted(Ordering[Long].reverse)(k - 1)
        val dead = List.newBuilder[String]
        m.foreachEntry((t, c) => if (c - cut <= 0L) dead += t else m.update(t, c - cut))
        dead.result().foreach(m.remove)
      }
      m
    }
    val (n, sketch) = toks.as[String].rdd.treeAggregate((0L, new Sketch))(
      seqOp = { case ((cnt, m), t) =>
        m.get(t) match {
          case Some(c) => m.update(t, c + 1)
          case None => m.update(t, 1L); trim(m): Unit
        }
        (cnt + 1, m)
      },
      combOp = { case ((na, a), (nb, b)) =>
        b.foreachEntry((t, c) => a.update(t, a.getOrElse(t, 0L) + c))
        (na + nb, trim(a))
      })
    val cands = sketch.keys.toSeq.toDF("token")
    toks
      .join(broadcast(cands), "token") // semi shape: candidates are unique
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .where(col("cnt") * k > lit(n))
      .select(col("token"), col("cnt"),
        round(col("cnt").cast("double") / lit(n), 6).as("share"))
  }

  private val CmsDepth = 4
  private val CmsWidth = 512L

  /** C72: Count-Min sketch (Cormode & Muthukrishnan, J.Alg'05) over the
    * corpus token stream, with per-token estimates audited against the
    * exact counts — the mergeable fixed-size frequency summary for
    * streams/corpora whose vocabulary is too large to count exactly.
    *
    * Everything is deterministic integer arithmetic, so the WHOLE
    * sketch — not just its contract — is oracle-checkable: row d's
    * bucket for token t is the md5-derived 60-bit integer of "d:t"
    * mod width (the engine-portable hash this library standardizes on,
    * cf. A33), counts are exact int64 sums, and the estimate is the
    * min over the D row counters. Output: every distinct token with
    * its exact count, CMS estimate, and overcount (≥ 0 by
    * construction — the spec pins the one-sided error).
    *
    * Scale shape: the sketch build is ONE map-side-combinable groupBy
    * folding the token stream into a FIXED D×W integer grid (2048
    * cells here) — the grid size is independent of corpus size, which
    * is the whole point: at 100 TB the grid is still 2048 rows, so it
    * is broadcast (a hint that stays correct at every SF, unlike a
    * dimension that grows) and the estimate probe is map-only against
    * it. Exact per-token counts are computed here only to audit the
    * sketch; a production pipeline ships just the grid.
    */
  def cmsEstimate(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables(spark, dir).documents
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
    def bucket(d: Column, tok: Column): Column =
      conv(substring(md5(concat(d.cast("string"), lit(":"), tok)), 1, 15),
        16, 10).cast("long") % CmsWidth
    val probes = counts.select(col("tok"), col("n"),
        explode(array((0 until CmsDepth).map(lit): _*)).as("d"))
      .select(col("tok"), col("n"), col("d"),
        bucket(col("d"), col("tok")).as("bucket"))
    // the sketch grid: D×W cells, partial-agg'd map-side
    val grid = probes.groupBy(col("d"), col("bucket"))
      .agg(sum(col("n")).as("cnt"))
    probes.join(broadcast(grid), Seq("d", "bucket"))
      .groupBy(col("tok"))
      .agg(max(col("n")).as("n_exact"), min(col("cnt")).as("cms_est"))
      .select(col("tok"), col("n_exact"), col("cms_est"),
        (col("cms_est") - col("n_exact")).as("overcount"))
  }

  val cmsEstimateSql: String =
    """WITH tk AS (
      |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
      |), c AS (
      |  SELECT tok, COUNT(*) AS n FROM tk GROUP BY tok
      |), e AS (
      |  SELECT tok, n, d,
      |    CAST(concat('0x', substr(md5(concat(CAST(d AS VARCHAR), ':', tok)), 1, 15))
      |      AS BIGINT) % 512 AS bucket
      |  FROM c CROSS JOIN (SELECT unnest(range(4)) AS d) ds
      |), s AS (
      |  SELECT d, bucket, CAST(SUM(n) AS BIGINT) AS cnt
      |  FROM e GROUP BY d, bucket
      |)
      |SELECT e.tok, MAX(e.n) AS n_exact, MIN(s.cnt) AS cms_est,
      |  CAST(MIN(s.cnt) - MAX(e.n) AS BIGINT) AS overcount
      |FROM e JOIN s ON e.d = s.d AND e.bucket = s.bucket
      |GROUP BY e.tok""".stripMargin

  /** C66: BM25 relevance scoring (Okapi, Lucene's +1-inside-ln idf so
    * weights never go negative; k1=1.2, b=0.75) of the corpus against
    * a fixed 3-term query — the standard retrieval scorer a
    * training-data pipeline uses for query-targeted subset selection.
    *
    * Determinism across engines: per-doc term frequencies and doc
    * lengths are EXACT integers from one conditional-aggregate pass
    * (never a re-tokenization per term); the corpus-level frame
    * (N, total tokens, per-term document frequencies) is a 1-row
    * broadcast; each idf is ln() of an exact-integer ratio rounded
    * once at 6 dp; the final score is ONE fixed left-associated
    * expression over (tf₁..tf₃, dl) both engines evaluate
    * identically — summing per-term scores with a group-agg would
    * reintroduce float merge-order.
    *
    * Scale shape: one token-explode pass partially aggregated
    * map-side to |docs| rows; everything global is a broadcast
    * scalar. No shuffle proportional to token count.
    */
  def bm25(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables(spark, dir).documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    def tf(t: String): Column =
      sum(when(col("w") === t, 1L).otherwise(0L))
    val perDoc = toks.groupBy(col("doc_id")).agg(
      count(lit(1)).as("dl"),
      tf("scan").as("tf1"), tf("join").as("tf2"), tf("window").as("tf3"))
    def df_(c: String): Column =
      sum(when(col(c) > 0L, 1L).otherwise(0L))
    val g = perDoc.agg(
      count(lit(1)).as("n_docs"), sum(col("dl")).as("n_toks"),
      df_("tf1").as("df1"), df_("tf2").as("df2"), df_("tf3").as("df3"))
    val avgdl = col("n_toks").cast("double") / col("n_docs").cast("double")
    def term(tfc: Column, dfc: Column): Column = {
      val idf = round(log(lit(1.0)
        + (col("n_docs").cast("double") - dfc.cast("double") + lit(0.5))
          / (dfc.cast("double") + lit(0.5))), 6)
      idf * (tfc.cast("double") * lit(2.2)) /
        (tfc.cast("double")
          + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl").cast("double") / avgdl))
    }
    perDoc.crossJoin(broadcast(g))
      .where(col("tf1") + col("tf2") + col("tf3") > 0L)
      .select(col("doc_id"),
        round(term(col("tf1"), col("df1"))
          + term(col("tf2"), col("df2"))
          + term(col("tf3"), col("df3")), 6).as("bm25"))
  }

  val bm25Sql: String = {
    def term(i: Int): String =
      s"""round(ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df$i AS DOUBLE) + 0.5)
         |    / (CAST(df$i AS DOUBLE) + 0.5)), 6)
         |  * (CAST(tf$i AS DOUBLE) * 2.2)
         |  / (CAST(tf$i AS DOUBLE)
         |     + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE)
         |              / (CAST(n_toks AS DOUBLE) / CAST(n_docs AS DOUBLE))))"""
        .stripMargin
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |d AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl,
       |    CAST(SUM(CASE WHEN w = 'scan' THEN 1 ELSE 0 END) AS BIGINT) AS tf1,
       |    CAST(SUM(CASE WHEN w = 'join' THEN 1 ELSE 0 END) AS BIGINT) AS tf2,
       |    CAST(SUM(CASE WHEN w = 'window' THEN 1 ELSE 0 END) AS BIGINT) AS tf3
       |  FROM tok GROUP BY doc_id),
       |g AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(dl) AS BIGINT) AS n_toks,
       |    CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
       |    CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2,
       |    CAST(SUM(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df3
       |  FROM d)
       |SELECT doc_id,
       |  round(${term(1)}
       |   + ${term(2)}
       |   + ${term(3)}, 6) AS bm25
       |FROM d CROSS JOIN g
       |WHERE tf1 + tf2 + tf3 > 0""".stripMargin
  }

  /** C70: tokenizer-merge application — a FIXED merge table (the
    * shape C36's trained rules take) folded over the corpus as chained
    * literal replaces, reporting per-doc token compression. Map-only:
    * at 100 TB this is the tokenize-everything pass, and it ships zero
    * bytes — no shuffle, no state, pure codegen'd string work.
    *
    * Portability: literal (non-regex) replace scans left-to-right
    * non-overlapping in both engines — identical on every engine that
    * implements SQL `replace` — and token counts are exact integer
    * space-counts on the padded form. (The trained-rules face stays
    * rows-only in C36 because rule LEARNING isn't portable; rule
    * APPLICATION is.)
    */
  private val bpeMerges = Seq(
    "batch batch" -> "batch_batch", "the fast" -> "the_fast",
    "table scan" -> "table_scan", "hash join" -> "hash_join",
    "window window" -> "window_window")

  def bpeApply(spark: SparkSession, dir: String): DataFrame = {
    val padded = concat(lit(" "), col("text"), lit(" "))
    val merged = bpeMerges.foldLeft(padded) { case (c, (from, to)) =>
      call_function("replace", c, lit(s" $from "), lit(s" $to "))
    }
    Tables(spark, dir).documents
      .select(col("doc_id"),
        (substrCount(col("text"), " ") + 1).cast("long").as("n_before"),
        (substrCount(merged, " ") - 1).cast("long").as("n_after"))
      .select(col("doc_id"), col("n_before"), col("n_after"),
        (col("n_before") - col("n_after")).as("n_merged"))
  }

  val bpeApplySql: String = {
    val padded = "concat(' ', text, ' ')"
    val merged = bpeMerges.foldLeft(padded) { case (c, (from, to)) =>
      s"replace($c, ' $from ', ' $to ')"
    }
    def spaces(e: String) = s"(length($e) - length(replace($e, ' ', '')))"
    s"""SELECT doc_id,
       |  CAST($wordsSql AS BIGINT) AS n_before,
       |  CAST(${spaces(merged)} - 1 AS BIGINT) AS n_after,
       |  CAST($wordsSql - (${spaces(merged)} - 1) AS BIGINT) AS n_merged
       |FROM documents""".stripMargin
  }

  /** C69: quality-curriculum deciles — the corpus in quality order,
    * cut into 10 equal-population bands (curriculum-learning's data
    * schedule: train easy-to-hard, or mix bands at fixed rates).
    *
    * The decile boundary is NEVER an interpolated percentile (engines
    * disagree at 1 ulp on interpolation arithmetic, and a whole
    * tie-class of 6dp scores can sit ON the cut): each doc's rank in
    * the (score, doc_id) TOTAL order comes off the distributed
    * [[Corpus.globalIndex]] — one range exchange, no single-reducer
    * window — and `decile = rank·10 div n + 1` is pure int64
    * arithmetic. Engine-identical at every scale by construction.
    */
  def curriculum(spark: SparkSession, dir: String): DataFrame =
      graft.core.Graft.scoped(spark) { spark =>
    // ×1 fan-out scope (r12, the q_ks_drift diagnosis generalized):
    // every exchange here is documents-bounded (the scored frame and
    // the 10-decile rollup), and `rangeParts` reads initialPartitionNum
    // under AQE — the global ×8 fan-out ran the globalIndex range
    // exchange and the decile aggregate as 256 near-empty tasks.
    // Partitioning-only, values unchanged.
    val scored = Tables(spark, dir).documents
      .select(col("doc_id"), round(compositeScore, 6).as("q"),
        (substrCount(col("text"), " ") + 1).cast("long").as("n_tokens"))
    val tot = scored.agg(count(lit(1)).as("n"))
    Corpus.globalIndex(scored, Seq(col("q"), col("doc_id")), "gi")
      .crossJoin(broadcast(tot))
      .select(
        (call_function("div", col("gi") * 10, col("n")) + 1).as("decile"),
        col("q"), col("n_tokens"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        min(col("q")).as("q_min"), max(col("q")).as("q_max"))
  }

  val curriculumSql: String =
    s"""WITH s AS (
       |  SELECT doc_id, round($compositeScoreSql, 6) AS q,
       |    CAST($wordsSql AS BIGINT) AS n_tokens
       |  FROM documents),
       |i AS (
       |  SELECT *, row_number() OVER (ORDER BY q, doc_id) - 1 AS gi FROM s),
       |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM s)
       |SELECT (gi * 10) // n + 1 AS decile,
       |  COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       |  MIN(q) AS q_min, MAX(q) AS q_max
       |FROM i CROSS JOIN n
       |GROUP BY 1""".stripMargin

  val heavyHittersSql: String =
    """WITH tok AS (
      |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
      |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tok),
      |c AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
      |      FROM tok GROUP BY token)
      |SELECT token, cnt, round(CAST(cnt AS DOUBLE) / n, 6) AS share
      |FROM c CROSS JOIN t
      |WHERE cnt * 1000 > n""".stripMargin

  /** C76: aligned-chunk dedup — the grain between C1 (whole document)
    * and C31 (every sliding 8-token span): hash each FULL 16-token
    * training chunk at C18's alignment, surface chunks repeated
    * anywhere in the corpus. This is the pre-training pass that finds
    * repeated passages (mirrored paragraphs, license blocks) at exactly
    * the grain the packer will emit, at 1/16th of C31's key volume —
    * the cheap first screen before the sliding-window pass. The
    * exchange carries (16-byte hash, doc_id); chunk text never
    * shuffles; output is bounded by the number of DISTINCT repeated
    * chunks.
    */
  def chunkDedup(spark: SparkSession, dir: String): DataFrame = {
    val tk = split(col("text"), " ")
    Tables(spark, dir).documents
      .select(col("doc_id"), tk.as("tk"))
      .select(col("doc_id"), col("tk"),
        explode(sequence(lit(0), ((size(col("tk")) - 1) / 16).cast("int"))).as("ci"))
      .filter(size(col("tk")) - col("ci") * 16 >= 16)
      .select(col("doc_id"),
        md5(concat_ws(" ", slice(col("tk"), col("ci") * 16 + 1, lit(16)))).as("chunk_hash"))
      .groupBy(col("chunk_hash"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("first_doc_id"))
      .filter(col("n_occurrences") > 1)
  }

  val chunkDedupSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |ch AS (
      |  SELECT doc_id, md5(array_to_string(tk[i*16+1 : i*16+16], ' ')) AS chunk_hash
      |  FROM toks, unnest(range(0, (len(tk) - 1) // 16 + 1)) AS t(i)
      |  WHERE len(tk) - i*16 >= 16)
      |SELECT chunk_hash,
      |  CAST(COUNT(*) AS BIGINT) AS n_occurrences,
      |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |  MIN(doc_id) AS first_doc_id
      |FROM ch
      |GROUP BY 1 HAVING COUNT(*) > 1""".stripMargin

  /** C77: tokenizer fertility — BPE-ish subword tokens per whitespace
    * word, by language: the standard tokenizer-efficiency diagnostic
    * (fertility ≫ 1 for a language means the tokenizer fragments it
    * and its effective context shrinks). Reuses C11's portable token
    * regex; one partial-agg'd shuffle to |langs| rows.
    */
  def tokenizerFertility(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("lang"),
        size(regexp_extract_all(col("text"),
          lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), lit(0))).as("bpe"),
        size(split(col("text"), " ")).as("words"))
      .groupBy(col("lang"))
      .agg(sum(col("bpe")).cast("long").as("n_bpe_tokens"),
        sum(col("words")).cast("long").as("n_words"),
        (sum(col("bpe")).cast("double") / sum(col("words"))).as("fertility"))

  val tokenizerFertilitySql: String =
    """SELECT lang,
      |  CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))) AS BIGINT) AS n_bpe_tokens,
      |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_words,
      |  CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))) AS DOUBLE)
      |    / SUM(len(string_split(text, ' '))) AS fertility
      |FROM documents
      |GROUP BY lang""".stripMargin

  /** C84 `q_lang_confusion`: the label-quality audit over C8 — the
    * confusion matrix between the corpus's CLAIMED language labels and
    * the n-gram language-id's PREDICTIONS, with each cell's share of
    * its claimed row in exact ppm. This is the standard "are the
    * upstream labels trustworthy" gate a mixture pipeline (C34/C40)
    * runs before weighting by `lang`: a diagonal-heavy matrix means
    * the labels can drive the mixture; a smeared row means that
    * language's labels are noise.
    *
    * Plan: C8's predictor is a map-side expression; one groupBy on the
    * (claimed, predicted) pair (≤ |langs|² groups at any scale), row
    * totals re-enter as a broadcast join on claimed_lang.
    */
  def langConfusion(spark: SparkSession, dir: String): DataFrame = {
    val m = langId(spark, dir)
      .groupBy(col("claimed_lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n_docs"))
    val rowTot = m.groupBy(col("claimed_lang"))
      .agg(sum(col("n_docs")).as("row_tot"))
    m.join(broadcast(rowTot), Seq("claimed_lang"))
      .select(col("claimed_lang"), col("predicted_lang"), col("n_docs"),
        expr("n_docs * 1000000 DIV row_tot").as("row_share_ppm"),
        (col("claimed_lang") === col("predicted_lang")).as("is_diagonal"))
  }

  val langConfusionSql: String =
    s"""WITH pred AS (${langIdSql.replace("\n", "\n       |  ")}),
       |m AS (
       |  SELECT claimed_lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
       |  FROM pred GROUP BY 1, 2),
       |rt AS (
       |  SELECT claimed_lang, CAST(SUM(n_docs) AS BIGINT) AS row_tot
       |  FROM m GROUP BY 1)
       |SELECT m.claimed_lang, predicted_lang, n_docs,
       |  CAST(n_docs * 1000000 // row_tot AS BIGINT) AS row_share_ppm,
       |  m.claimed_lang = predicted_lang AS is_diagonal
       |FROM m JOIN rt ON m.claimed_lang = rt.claimed_lang""".stripMargin

  /** C87 `q_calibration`: reliability diagram of the C9 quality score
    * read as a classifier — is a score of 0.8 right 80% of the time?
    * The production question behind every model-scored quality filter
    * (C20/C56 threshold on scores; this face audits whether the scores
    * MEAN anything before a threshold is chosen). Proxy ground truth:
    * `lang = 'en'` (the stopword-ratio half of the score is an
    * English-ness signal, so the diagram is genuinely informative).
    *
    * Per fixed-width score bucket (floor(score·10), clamped to 9 so
    * score = 1.0 joins the top bin — fixed bounds, NOT ntile: decile
    * cuts need a global sort/quantile pass, fixed cuts are map-only and
    * embarrassingly parallel at 100 TB): n, positives, empirical
    * positive rate, mean claimed score, and the signed calibration gap.
    * Portability: the per-row score is rounded ONCE to 6 dp µ-units
    * (bigint) so the bucket mean is an exact integer sum ÷ count; the
    * rate and gap are single IEEE divides/subtracts in one shared
    * order, 6 dp-fixed (§8d).
    */
  def calibration(spark: SparkSession, dir: String): DataFrame = {
    val score = compositeScore
    val rows = Tables(spark, dir).documents.select(
      least(floor(score * 10).cast("long"), lit(9L)).as("bucket"),
      floor(score * 1e6 + 0.5).cast("long").as("score6"),
      when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
    def fix6(c: Column): Column = floor(c * 1e6 + 0.5) / 1e6
    val posRate = col("n_pos").cast("double") / col("n_docs").cast("double")
    val meanScore = col("sum6").cast("double") / col("n_docs").cast("double") / 1e6
    rows.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("pos")).as("n_pos"),
        sum(col("score6")).as("sum6"))
      .select(col("bucket"), col("n_docs"), col("n_pos").cast("long").as("n_pos"),
        fix6(posRate).as("pos_rate"),
        fix6(meanScore).as("mean_score"),
        fix6(meanScore - posRate).as("calib_gap"))
  }

  val calibrationSql: String =
    s"""WITH rows_ AS (
       |  SELECT LEAST(CAST(FLOOR(($compositeScoreSql) * 10) AS BIGINT), 9)
       |      AS bucket,
       |    CAST(FLOOR(($compositeScoreSql) * 1e6 + 0.5) AS BIGINT) AS score6,
       |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
       |  FROM documents),
       |agg AS (
       |  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(pos) AS BIGINT) AS n_pos,
       |    CAST(SUM(score6) AS BIGINT) AS sum6
       |  FROM rows_ GROUP BY 1)
       |SELECT bucket, n_docs, n_pos,
       |  FLOOR((CAST(n_pos AS DOUBLE) / CAST(n_docs AS DOUBLE)) * 1e6 + 0.5) / 1e6
       |    AS pos_rate,
       |  FLOOR((CAST(sum6 AS DOUBLE) / CAST(n_docs AS DOUBLE) / 1e6) * 1e6 + 0.5)
       |    / 1e6 AS mean_score,
       |  FLOOR((CAST(sum6 AS DOUBLE) / CAST(n_docs AS DOUBLE) / 1e6
       |    - CAST(n_pos AS DOUBLE) / CAST(n_docs AS DOUBLE)) * 1e6 + 0.5) / 1e6
       |    AS calib_gap
       |FROM agg""".stripMargin
}
