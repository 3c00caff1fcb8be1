package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Graft
import graft.sources.Tables

/** Corpus-assembly operators — the ordering / packing / sampling /
  * decontamination passes that turn a cleaned document set into
  * training input. These are the steps AFTER dedup+filtering
  * (Dedup/TextAnalysis) and BEFORE the tokenizer: fix a reproducible
  * order, pack documents into fixed-length sequences, draw bounded
  * samples, and prune eval contamination at scale.
  *
  * The common engine piece is the distributed prefix primitive
  * ([[globalIndex]] / [[prefixSum]]): a global total order WITHOUT a
  * single-partition window. Stock `row_number() OVER (ORDER BY …)`
  * funnels the whole table through one reducer (Spark warns
  * "No Partition Defined"); here range-partitioning gives each task its
  * key slice and a two-phase offset pass (per-partition counts/sums →
  * bounded driver collect → broadcast offsets) makes the index global.
  * That is the textbook distributed prefix-sum, and the only shape that
  * survives 100 TB.
  */
object Corpus {

  /** C37: the end-to-end corpus pipeline — what "a user of the
    * reference could switch" actually runs, as ONE library call over
    * any (doc_id, text, lang) frame:
    *
    *   1. exact dedup (normalized fingerprint, keep min doc_id) — C1
    *   2. quality filter at the per-lang approximate p75 — C20's
    *      scale face (sketch thresholds broadcast, map-only filter)
    *   3. deterministic train/eval split — C17
    *   4. decontamination: drop TRAIN docs half of whose 8-token spans
    *      appear in eval — C38's action. (Span overlap, not whole-doc
    *      fingerprints: after step 1's global dedup no exact duplicate
    *      can straddle the split, so a fingerprint anti-join would be
    *      vacuous — near-duplicates are what actually leak.)
    *   5. deterministic corpus shuffle + 256-token sequence packing
    *      over the surviving train split — C28 + C29
    *
    * Every stage is the operators' documented scale shape; nothing
    * driver-side but the prefix offsets. Returns one row per packed
    * train doc: (doc_id, lang, n_tokens, pos, start_tok, seq_id,
    * seq_off).
    */
  def buildTrainingSet(docs: DataFrame, seqLen: Int = 256): DataFrame = {
    val fp = md5(lower(trim(col("text"))))
    val deduped = docs
      .select(col("doc_id"), col("text"), col("lang"), fp.as("fp"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("fp")).orderBy(col("doc_id"))))
      .filter(col("rn") === 1).drop("rn")
    // Pinned: `scored` has four readers (the threshold sketch, eval
    // spans, train spans, train rows). sf0.1 Bench medians, 4 vCPUs:
    // 1.32 s with it, 1.89 s without. `fp` is dead past the dedup window.
    val scored = deduped.withColumn("quality_score", TextAnalysis.compositeScore)
      .drop("fp").localCheckpoint(true)
    val thresholds = scored.groupBy(col("lang"))
      .agg(percentile_approx(col("quality_score"), lit(0.75), lit(10000)).as("q75"))
    val filtered = scored.join(broadcast(thresholds), Seq("lang"))
      .filter(col("quality_score") >= col("q75"))
    val splitDf = filtered.withColumn("split",
      when(TextAnalysis.splitBucket < 90, "train").otherwise("eval"))
    val evalSpans = spanHashes(splitDf.filter(col("split") === "eval"))
      .select(col("span_hash")).distinct().withColumn("hit", lit(1))
    val contaminated = spanHashes(splitDf.filter(col("split") === "train"))
      .join(evalSpans, Seq("span_hash"), "left")
      .groupBy(col("doc_id"))
      .agg((count(col("hit")).cast("double") / count(lit(1))).as("overlap"))
      .filter(col("overlap") >= 0.5)
      .select(col("doc_id"))
    val train = splitDf.filter(col("split") === "train")
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        shuffleKey.as("shuffle_key"))
    val ordered = globalIndex(train, Seq(col("shuffle_key"), col("doc_id")), "pos")
    prefixSum(ordered, Seq(col("pos")), "n_tokens", "start_tok")
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("pos"),
        col("start_tok"),
        expr(s"start_tok DIV $seqLen").as("seq_id"),
        (col("start_tok") % seqLen).as("seq_off"))
  }

  /** C37 query face. Oracle: the ENTIRE six-stage composition restated
    * as one SQL statement — every stage is portable (md5 fingerprints
    * and span hashes, the closed-form split/shuffle hashes, exclusive
    * window prefix sum), and the one sketch in the pipeline —
    * `percentile_approx(q, 0.75, 10000)` — runs in its exact regime at
    * oracle scale (accuracy ≫ group sizes ⇒ GK keeps every value and
    * returns the discrete 0.75-quantile element = DuckDB
    * `quantile_disc`).
    */
  def trainingSet(spark: SparkSession, dir: String): DataFrame =
    buildTrainingSet(Tables(spark, dir).documents
      .select(col("doc_id"), col("text"), col("lang")))

  val trainingSetSql: String =
    s"""WITH dd AS (
       |  SELECT doc_id, text, lang,
       |    row_number() OVER (PARTITION BY md5(lower(trim(text)))
       |                       ORDER BY doc_id) AS rn
       |  FROM documents),
       |s AS (
       |  SELECT doc_id, text, lang, ${TextAnalysis.compositeScoreSql} AS q
       |  FROM dd WHERE rn = 1),
       |thr AS (SELECT lang, quantile_disc(q, 0.75) AS q75 FROM s GROUP BY lang),
       |sp AS (
       |  SELECT s.doc_id, s.text, s.lang,
       |    CASE WHEN (s.doc_id % 100) * 2654435761 % 100 < 90
       |         THEN 'train' ELSE 'eval' END AS split
       |  FROM s JOIN thr ON s.lang = thr.lang
       |  WHERE s.q >= thr.q75),
       |tok AS (SELECT doc_id, split, string_split(text, ' ') AS tk FROM sp),
       |spans AS (
       |  SELECT DISTINCT doc_id, split,
       |    md5(array_to_string(tk[i+1:i+8], ' ')) AS span_hash
       |  FROM tok, unnest(range(0, len(tk) - 7)) AS t(i)
       |  WHERE len(tk) >= 8),
       |evalspans AS (SELECT DISTINCT span_hash FROM spans WHERE split = 'eval'),
       |contam AS (
       |  SELECT t.doc_id
       |  FROM spans t LEFT JOIN evalspans e ON t.span_hash = e.span_hash
       |  WHERE t.split = 'train'
       |  GROUP BY t.doc_id
       |  HAVING CAST(COUNT(e.span_hash) AS DOUBLE) / COUNT(*) >= 0.5),
       |train AS (
       |  SELECT doc_id, lang,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    (doc_id % 1000000) * 2654435761 % 1000003 AS shuffle_key
       |  FROM sp
       |  WHERE split = 'train'
       |    AND doc_id NOT IN (SELECT doc_id FROM contam)),
       |idx AS (
       |  SELECT doc_id, lang, n_tokens,
       |    CAST(row_number() OVER (ORDER BY shuffle_key, doc_id) - 1
       |         AS BIGINT) AS pos
       |  FROM train),
       |ps AS (
       |  SELECT doc_id, lang, n_tokens, pos,
       |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS start_tok
       |  FROM idx)
       |SELECT doc_id, lang, n_tokens, pos, start_tok,
       |  start_tok // 256 AS seq_id, start_tok % 256 AS seq_off
       |FROM ps""".stripMargin

  /** Wrap-safe multiplicative hash on a bounded domain (same family as
    * TextAnalysis's split bucket, wider range): `doc_id % 1e6` first, so
    * the product stays ≤ 1e6·2654435761 ≈ 2.7e15 — no int64 overflow in
    * either engine; % 1000003 (prime) spreads buckets.
    */
  private def shuffleKey: Column =
    (col("doc_id") % 1000000L) * 2654435761L % 1000003L
  private val shuffleKeySql: String =
    "(doc_id % 1000000) * 2654435761 % 1000003"

  private def rangeParts(spark: SparkSession): Int =
    spark.sessionState.conf.numShufflePartitions

  /** Contiguous global row index 0..n−1 in `order`-sorted order,
    * appended as `indexCol` — the scale-path replacement for an
    * unpartitioned `row_number()` window.
    *
    * Plan: `repartitionByRange(order)` + `sortWithinPartitions` (Spark's
    * distributed sort: sampled range boundaries, each task sorts its
    * slice), then `zipWithIndex` — which runs the two-phase offset pass:
    * a count job over the partitions, driver holds ONE long per
    * partition, and a map job adds each partition's start offset. No
    * stage ever sees more than its own slice; driver state is
    * O(partitions).
    *
    * `order` must be a total order (include a unique tiebreak column)
    * for the index to be deterministic.
    */
  def globalIndex(df: DataFrame, order: Seq[Column], indexCol: String): DataFrame = {
    val spark = df.sparkSession
    val sorted = df
      .repartitionByRange(rangeParts(spark), order: _*)
      .sortWithinPartitions(order: _*)
    val schema = StructType(
      sorted.schema.fields :+ StructField(indexCol, LongType, nullable = false))
    val rdd = sorted.rdd.zipWithIndex().map { case (r, i) =>
      Row.fromSeq(r.toSeq :+ i)
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Exclusive running sum of `valueCol` (LongType) in `order`-sorted
    * order, appended as `sumCol` — the distributed prefix-sum.
    *
    * Both passes run over ONE materialized RDD instance (mirroring how
    * `zipWithIndex` pins its count pass): pass 1 collects per-partition
    * sums via `mapPartitionsWithIndex` → driver holds one long per
    * partition and folds them into exclusive start offsets; pass 2
    * streams each slice of the SAME RDD, accumulating from its broadcast
    * offset. Because the shuffle behind that RDD is materialized once,
    * partition membership is identical across the passes by
    * construction. (Planning the sort twice through the Dataset API is
    * NOT safe: Spark's RangePartitioner seeds its boundary sample with
    * rdd.id, so two executions can draw different boundaries once the
    * sample is non-trivial.) `order` must be a total order.
    */
  def prefixSum(df: DataFrame, order: Seq[Column], valueCol: String, sumCol: String): DataFrame =
    prefixSumN(df, order, Seq(valueCol -> sumCol))

  /** [[prefixSum]] generalized to N value columns in the SAME single
    * range exchange — running several related cumulative measures
    * (e.g. the per-side ECDF counts of a two-sample test) costs one
    * sort, not one per measure.
    */
  def prefixSumN(df: DataFrame, order: Seq[Column], cols: Seq[(String, String)]): DataFrame =
    prefixSumTotals(df, order, cols)._1

  /** [[prefixSumN]] plus each value column's grand total, which pass 1
    * has already folded on the driver — a caller that needs the totals
    * reads them here instead of re-aggregating the input.
    */
  def prefixSumTotals(df: DataFrame, order: Seq[Column],
      cols: Seq[(String, String)]): (DataFrame, Array[Long]) = {
    val spark = df.sparkSession
    val sorted = df
      .repartitionByRange(rangeParts(spark), order: _*)
      .sortWithinPartitions(order: _*)
    cols.foreach { case (valueCol, _) =>
      require(sorted.schema(valueCol).dataType == LongType,
        s"prefixSum requires $valueCol: bigint, got ${sorted.schema(valueCol).dataType}")
    }
    val vIdxs = cols.map { case (valueCol, _) => sorted.schema.fieldIndex(valueCol) }.toArray
    val nc = vIdxs.length
    val rdd0 = sorted.rdd // single instance: both passes see the same shuffle output
    val perPart = rdd0.mapPartitionsWithIndex { case (pid, it) =>
      val s = new Array[Long](nc)
      it.foreach { r =>
        var i = 0
        while (i < nc) {
          if (!r.isNullAt(vIdxs(i))) s(i) += r.getLong(vIdxs(i))
          i += 1
        }
      }
      Iterator(pid -> s)
    }.collect().toMap
    val parts = rdd0.getNumPartitions
    val offsets = Array.fill(parts)(new Array[Long](nc))
    val acc = new Array[Long](nc)
    var p = 0
    while (p < parts) {
      Array.copy(acc, 0, offsets(p), 0, nc)
      perPart.get(p).foreach { s =>
        var i = 0
        while (i < nc) { acc(i) += s(i); i += 1 }
      }
      p += 1
    }
    val bc = spark.sparkContext.broadcast(offsets)
    val schema = StructType(
      sorted.schema.fields ++ cols.map { case (_, sumCol) =>
        StructField(sumCol, LongType, nullable = false)
      })
    val rdd = rdd0.mapPartitionsWithIndex { case (pid, it) =>
      val running = bc.value(pid).clone()
      it.map { r =>
        val out = Row.fromSeq(r.toSeq ++ running.toSeq)
        // null contributes 0, mirroring pass 1's null-skipping
        var i = 0
        while (i < nc) {
          if (!r.isNullAt(vIdxs(i))) running(i) += r.getLong(vIdxs(i))
          i += 1
        }
        out
      }
    }
    (spark.createDataFrame(rdd, schema), acc)
  }

  /** C28: deterministic corpus shuffle — a reproducible pseudorandom
    * training order. Order key = wrap-safe hash of doc_id (stable across
    * retries and speculative tasks — never `rand()`), position =
    * [[globalIndex]] over (key, doc_id). Re-running the pipeline, on any
    * cluster size, yields the same order — the property data-loading
    * reproducibility depends on.
    */
  def corpusShuffle(spark: SparkSession, dir: String): DataFrame =
    globalIndex(
      Tables(spark, dir).documents
        .select(col("doc_id"), shuffleKey.as("shuffle_key")),
      Seq(col("shuffle_key"), col("doc_id")), "pos")

  val corpusShuffleSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, $shuffleKeySql AS shuffle_key FROM documents)
       |SELECT doc_id, shuffle_key,
       |  row_number() OVER (ORDER BY shuffle_key, doc_id) - 1 AS pos
       |FROM d""".stripMargin

  /** C29: sequence packing — the GPT-style pre-tokenization layout:
    * documents are concatenated in corpus order and chopped into
    * fixed-capacity (256-token) training sequences; each document's
    * placement is fully determined by the exclusive [[prefixSum]] of
    * token counts. Emits per-doc (start_tok, seq_id, seq_off); a doc
    * spanning a boundary continues into the next sequence, exactly like
    * the packed-token pipeline.
    */
  def seqPack(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    prefixSum(d, Seq(col("doc_id")), "n_tokens", "start_tok")
      .select(col("doc_id"), col("n_tokens"), col("start_tok"),
        expr("start_tok DIV 256").as("seq_id"),
        (col("start_tok") % 256).as("seq_off"))
  }

  val seqPackSql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |p AS (
      |  SELECT doc_id, n_tokens,
      |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS start_tok
      |  FROM d)
      |SELECT doc_id, n_tokens, start_tok,
      |  start_tok // 256 AS seq_id, start_tok % 256 AS seq_off
      |FROM p""".stripMargin

  /** C29b: packing-efficiency audit over C29's layout. GPT-style
    * concatenation has ZERO padding by construction, so the diagnostic
    * that matters is FRAGMENTATION: docs that straddle a 256-token
    * sequence boundary lose attention context at the split (the metric
    * behind "document-aware" packers à la best-fit bin packing).
    * One summary row: corpus size, sequence count, straddling docs and
    * their token mass, docs-per-sequence. All counts are exact integers
    * off the same distributed prefix layout C29 ships — the audit costs
    * one aggregate over the already-paid pass.
    */
  def packStats(spark: SparkSession, dir: String): DataFrame = {
    val packed = seqPack(spark, dir)
      .withColumn("straddles",
        expr("start_tok DIV 256") =!= expr("(start_tok + n_tokens - 1) DIV 256"))
    packed.agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(when(col("straddles"), 1L).otherwise(0L)).as("n_straddling"),
        sum(when(col("straddles"), col("n_tokens")).otherwise(0L))
          .as("straddling_tokens"))
      .select(col("n_docs"), col("n_tokens"),
        expr("(n_tokens + 255) DIV 256").as("n_seqs"),
        col("n_straddling"), col("straddling_tokens"),
        (floor(col("n_straddling").cast("double") / col("n_docs") * 1e6 + lit(0.5)) / 1e6)
          .as("straddle_frac"),
        (floor(col("n_docs").cast("double")
          / expr("(n_tokens + 255) DIV 256") * 1e4 + lit(0.5)) / 1e4)
          .as("docs_per_seq"))
  }

  val packStatsSql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |p AS (
      |  SELECT doc_id, n_tokens,
      |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS start_tok
      |  FROM d),
      |a AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
      |    CAST(SUM(CASE WHEN start_tok // 256
      |                    <> (start_tok + n_tokens - 1) // 256
      |             THEN 1 ELSE 0 END) AS BIGINT) AS n_straddling,
      |    CAST(SUM(CASE WHEN start_tok // 256
      |                    <> (start_tok + n_tokens - 1) // 256
      |             THEN n_tokens ELSE 0 END) AS BIGINT) AS straddling_tokens
      |  FROM p)
      |SELECT n_docs, n_tokens, (n_tokens + 255) // 256 AS n_seqs,
      |  n_straddling, straddling_tokens,
      |  floor(CAST(n_straddling AS DOUBLE) / n_docs * 1000000.0 + 0.5) / 1000000.0
      |    AS straddle_frac,
      |  floor(CAST(n_docs AS DOUBLE) / ((n_tokens + 255) // 256) * 10000.0 + 0.5) / 10000.0
      |    AS docs_per_seq
      |FROM a""".stripMargin

  /** C80: the dataset card — the per-source release summary every
    * public corpus ships (docs, token counts and corpus share,
    * language spread, exact-dup load, size profile), composed from the
    * same exact-integer partials the standalone faces use. Shuffles:
    * one (md5-of-text, source) exchange for the dup census and one
    * |sources|-row aggregate; the corpus total re-enters as a 1-row
    * broadcast. Every double final goes through the §8d floor idiom,
    * so the whole card is hash-stable cross-engine.
    */
  def datasetCard(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
      .select(col("source"), col("lang"), col("doc_id"),
        col("n_chars").cast("long").as("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        md5(col("text")).as("h"))
    val dupH = docs.groupBy(col("h")).agg(count(lit(1)).as("n_copies"))
    val flagged = docs.join(dupH, "h")
      .withColumn("is_dup", col("n_copies") > 1)
    val perSource = flagged.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        countDistinct(col("lang")).as("n_langs"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup_docs"))
    val tot = perSource.agg(sum(col("n_tokens")).as("tot_tokens"))
    perSource.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_langs"),
        col("n_dup_docs"),
        (floor(col("n_tokens").cast("double") / col("tot_tokens") * 1e6 + lit(0.5)) / 1e6)
          .as("token_share"),
        (floor(col("n_dup_docs").cast("double") / col("n_docs") * 1e6 + lit(0.5)) / 1e6)
          .as("dup_frac"),
        (floor(col("n_chars").cast("double") / col("n_docs") * 1e4 + lit(0.5)) / 1e4)
          .as("avg_chars"))
  }

  val datasetCardSql: String =
    """WITH d AS (
      |  SELECT source, lang, doc_id, CAST(n_chars AS BIGINT) AS n_chars,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |    md5(text) AS h
      |  FROM documents),
      |dup AS (SELECT h, COUNT(*) AS n_copies FROM d GROUP BY h),
      |s AS (
      |  SELECT source,
      |    CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
      |    CAST(SUM(n_chars) AS BIGINT) AS n_chars,
      |    CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
      |    CAST(SUM(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs
      |  FROM d JOIN dup USING (h) GROUP BY source),
      |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens FROM s)
      |SELECT source, n_docs, n_tokens, n_langs, n_dup_docs,
      |  floor(CAST(n_tokens AS DOUBLE) / tot_tokens * 1000000.0 + 0.5) / 1000000.0
      |    AS token_share,
      |  floor(CAST(n_dup_docs AS DOUBLE) / n_docs * 1000000.0 + 0.5) / 1000000.0
      |    AS dup_frac,
      |  floor(CAST(n_chars AS DOUBLE) / n_docs * 10000.0 + 0.5) / 10000.0
      |    AS avg_chars
      |FROM s CROSS JOIN tot""".stripMargin

  /** C81: class-balanced downsampling — every (lang) class cut to the
    * size of the SMALLEST class, members chosen by the deterministic
    * hash order (C28's shuffle key, so the kept set is a uniform
    * pseudorandom sample and reproducible run-to-run). The balancing
    * step before training a classifier on skewed labels. Scale shape:
    * the min class size is a |classes|-row aggregate re-entering as a
    * 1-row broadcast; the per-class rank is one keyed window whose
    * partitions are the classes themselves (each holds only its own
    * members); kept rows ship, dropped rows die map-side after the
    * rank filter.
    */
  def classBalance(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables(spark, dir).documents
      .select(col("doc_id"), col("lang"), shuffleKey.as("u"))
    val minSize = d.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .agg(min(col("n")).as("k"))
    val w = Window.partitionBy(col("lang")).orderBy(col("u"), col("doc_id"))
    d.withColumn("rk", row_number().over(w).cast("long"))
      .crossJoin(broadcast(minSize))
      .filter(col("rk") <= col("k"))
      .select(col("lang"), col("rk"), col("doc_id"))
  }

  val classBalanceSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, lang, $shuffleKeySql AS u FROM documents),
       |k AS (SELECT CAST(MIN(n) AS BIGINT) AS k FROM (
       |  SELECT COUNT(*) AS n FROM d GROUP BY lang)),
       |r AS (
       |  SELECT lang, doc_id,
       |    CAST(row_number() OVER (PARTITION BY lang ORDER BY u, doc_id) AS BIGINT) AS rk
       |  FROM d)
       |SELECT lang, rk, doc_id FROM r CROSS JOIN k WHERE rk <= k.k""".stripMargin

  /** C82: incremental dedup — the ingestion-time shape real corpora
    * run nightly: dedup a NEW batch against the EXISTING corpus's
    * persisted fingerprint store plus itself, without ever rescanning
    * existing text. Here the corpus splits deterministically into
    * existing (doc hash-bucket < 80%) and the new batch (≥ 80%); the
    * existing side contributes ONLY (16-byte md5, min doc_id)
    * fingerprints — what the store persists — and each new doc reports
    * whether it duplicates the store, an earlier new doc, or is novel.
    * Exchange: fingerprint keys only; text never shuffles.
    */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
      .select(col("doc_id"), md5(col("text")).as("h"),
        (shuffleKey % 10L).as("b"))
    val existing = d.filter(col("b") < 8)
    val batch = d.filter(col("b") >= 8)
    val store = existing.groupBy(col("h"))
      .agg(min(col("doc_id")).as("store_doc"))
    // earlier-in-batch dup: the min doc_id per hash within the batch
    val batchMin = batch.groupBy(col("h")).agg(min(col("doc_id")).as("first_new"))
    batch.join(store, Seq("h"), "left")
      .join(batchMin, Seq("h"))
      .select(col("doc_id"),
        col("store_doc").isNotNull.as("dup_of_store"),
        (col("doc_id") > col("first_new")).as("dup_in_batch"),
        coalesce(col("store_doc"), col("first_new")).as("canonical_doc"))
      .withColumn("verdict",
        when(col("dup_of_store"), lit("dup_store"))
          .when(col("dup_in_batch"), lit("dup_batch"))
          .otherwise(lit("novel")))
  }

  val dedupIncrementalSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, md5(text) AS h, ($shuffleKeySql) % 10 AS b
       |  FROM documents),
       |existing AS (SELECT * FROM d WHERE b < 8),
       |batch AS (SELECT * FROM d WHERE b >= 8),
       |store AS (SELECT h, MIN(doc_id) AS store_doc FROM existing GROUP BY h),
       |bm AS (SELECT h, MIN(doc_id) AS first_new FROM batch GROUP BY h)
       |SELECT batch.doc_id,
       |  store.store_doc IS NOT NULL AS dup_of_store,
       |  batch.doc_id > bm.first_new AS dup_in_batch,
       |  COALESCE(store.store_doc, bm.first_new) AS canonical_doc,
       |  CASE WHEN store.store_doc IS NOT NULL THEN 'dup_store'
       |       WHEN batch.doc_id > bm.first_new THEN 'dup_batch'
       |       ELSE 'novel' END AS verdict
       |FROM batch LEFT JOIN store ON batch.h = store.h
       |JOIN bm ON batch.h = bm.h""".stripMargin

  /** C61: weighted systematic sampling — exactly k=100 draws (with
    * replacement) where each document's pick count is proportional to
    * its size: the sampler behind size-weighted corpus mixing and
    * importance-weighted eval-set construction. Documents are laid out
    * in deterministic pseudorandom order (the C28 hash key), the
    * exclusive [[prefixSum]] of weights places each doc's interval on
    * [0, W), and doc i is drawn once per systematic grid point j·W/k
    * inside its interval — n_picks = ⌈(cum+w)·k/W⌉ − ⌈cum·k/W⌉, ALL
    * integer arithmetic (no float boundary flips at any scale), summing
    * to exactly k by telescoping. One range exchange; everything else
    * is map-only against the 1-row broadcast total.
    */
  def weightedSample(spark: SparkSession, dir: String): DataFrame = {
    val k = 100L
    val d = Tables(spark, dir).documents
      .select(col("doc_id"), col("n_chars").cast("long").as("w"),
        shuffleKey.as("u"))
    val tot = d.agg(sum(col("w")).as("tw"))
    val cum = prefixSum(d, Seq(col("u"), col("doc_id")), "w", "cum")
    def ceilDiv(a: Column, b: Column): Column =
      call_function("div", a + b - 1, b)
    cum.crossJoin(broadcast(tot))
      .select(col("doc_id"), col("w").as("n_chars"),
        (ceilDiv((col("cum") + col("w")) * k, col("tw"))
          - ceilDiv(col("cum") * k, col("tw"))).as("n_picks"))
      .filter(col("n_picks") > 0)
  }

  val weightedSampleSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
       |    $shuffleKeySql AS u
       |  FROM documents),
       |t AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM d),
       |p AS (
       |  SELECT doc_id, w,
       |    CAST(COALESCE(SUM(w) OVER (ORDER BY u, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS cum
       |  FROM d)
       |SELECT doc_id, w AS n_chars,
       |  ((cum + w) * 100 + tw - 1) // tw - (cum * 100 + tw - 1) // tw AS n_picks
       |FROM p CROSS JOIN t
       |WHERE ((cum + w) * 100 + tw - 1) // tw - (cum * 100 + tw - 1) // tw > 0""".stripMargin

  /** C30: bounded per-stratum sample — exactly k=20 docs per language,
    * chosen by smallest deterministic hash (min-k sampling: the
    * distributed reservoir). Rides [[graft.functions.TopKAgg]] with
    * score = −hash, so each map task ships ≤ k pairs per language and no
    * per-group sort ever runs — versus the `row_number` face, which
    * shuffles and sorts every row. The oracle states that face.
    */
  def reservoirSample(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("lang"), col("doc_id"), shuffleKey.as("k"))
      .groupBy(col("lang"))
      .agg(graft.functions.TopKAgg.top_k(
        struct(-col("k").cast("double"), col("doc_id")), 20).as("top"))
      .select(col("lang"), posexplode(col("top")).as(Seq("idx", "e")))
      .select(col("lang"), (col("idx") + 1).cast("long").as("rank"),
        col("e.id").as("doc_id"), (-col("e.score")).cast("long").as("sample_key"))

  val reservoirSampleSql: String =
    s"""WITH d AS (
       |  SELECT lang, doc_id, $shuffleKeySql AS k FROM documents),
       |r AS (
       |  SELECT lang, doc_id, k, row_number() OVER (PARTITION BY lang
       |    ORDER BY k, doc_id) AS rank FROM d)
       |SELECT lang, rank, doc_id, CAST(k AS BIGINT) AS sample_key
       |FROM r WHERE rank <= 20""".stripMargin

  /** C31: span-level dedup — duplicated 8-token spans across documents
    * (the hashed-window approximation of suffix-array ExactSubstr dedup,
    * Lee et al. 2022's "Deduplicating Training Data Makes Language
    * Models Better"). Every token position opens a window; the exchange
    * carries (16-byte span hash, doc_id) pairs — document text never
    * shuffles, and span hashes are near-uniform so no hot partitions.
    */
  def spanDedup(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .filter(size(col("tk")) >= 8)
      .select(col("doc_id"), col("tk"),
        explode(sequence(lit(0), size(col("tk")) - 8)).as("i"))
      .select(col("doc_id"),
        md5(concat_ws(" ", slice(col("tk"), col("i") + 1, lit(8)))).as("span_hash"))
    d.groupBy(col("span_hash"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= 2)
  }

  val spanDedupSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |  WHERE len(string_split(text, ' ')) >= 8),
      |spans AS (
      |  SELECT doc_id,
      |    md5(array_to_string(tk[i+1 : i+8], ' ')) AS span_hash
      |  FROM toks, unnest(range(0, len(tk) - 7)) AS t(i))
      |SELECT span_hash,
      |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |  CAST(COUNT(*) AS BIGINT) AS n_occurrences,
      |  MIN(doc_id) AS first_doc
      |FROM spans GROUP BY span_hash
      |HAVING COUNT(DISTINCT doc_id) >= 2""".stripMargin

  /** C33: unigram log-probability scoring — the perplexity-proxy
    * quality signal: avg over tokens of ln(corpus_freq(token)), the
    * cheap stand-in for an LM perplexity filter (low avg ⇒ rare-token
    * gibberish). Two shuffles, both on aggregation keys: (doc, token)
    * partial counts and the (token) vocabulary; the model join is keyed
    * on token so AQE picks broadcast while the vocab is small and
    * shuffle-hash once it isn't. The corpus total enters the plan as a
    * 1-row broadcast (no driver collect).
    *
    * Float portability: each token's log-term is computed ONCE from the
    * same rational cnt/N in both engines, rounded to 6 dp, and fixed as
    * DECIMAL(18,6); per-doc sums are then exact decimal arithmetic —
    * order-independent under any partitioning — and only the final
    * average is IEEE (one cast, one divide).
    */
  def unigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables(spark, dir).documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
    val docTok = toks.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("c"))
    val vocab = toks.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val total = vocab.agg(sum(col("cnt")).as("n_total"))
    val terms = vocab.crossJoin(broadcast(total))
      .select(col("token"),
        round(log(col("cnt").cast("double") / col("n_total")), 6)
          .cast("decimal(18,6)").as("term"))
    docTok.join(terms, "token")
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        sum(col("c") * col("term")).as("sum_lp"))
      .select(col("doc_id"), col("n_tokens"),
        (col("sum_lp").cast("double") / col("n_tokens")).as("avg_logprob"))
  }

  val unigramLogprobSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |  FROM documents),
      |dt AS (
      |  SELECT doc_id, token, COUNT(*) AS c FROM toks GROUP BY 1, 2),
      |v AS (
      |  SELECT token, COUNT(*) AS cnt FROM toks GROUP BY 1),
      |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM v),
      |terms AS (
      |  SELECT token,
      |    CAST(round(ln(CAST(cnt AS DOUBLE) / n_total), 6)
      |      AS DECIMAL(18,6)) AS term
      |  FROM v, tot)
      |SELECT dt.doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
      |  CAST(SUM(c * term) AS DOUBLE) / CAST(SUM(c) AS BIGINT) AS avg_logprob
      |FROM dt JOIN terms ON dt.token = terms.token
      |GROUP BY dt.doc_id""".stripMargin

  /** C34: data-mixture composition — token and document counts per
    * (source, lang) cell with each cell's share of the corpus; the
    * report every mixture-weighting decision reads. One partial-agg
    * shuffle to the tiny cell grid; the corpus total re-enters as a
    * 1-row broadcast (in-plan, no driver collect).
    */
  def mixture(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables(spark, dir).documents
      .select(col("source"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    val total = cells.agg(sum(col("n_tokens")).as("n_total"))
    cells.crossJoin(broadcast(total))
      .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
        (col("n_tokens").cast("double") / col("n_total")).as("token_share"))
  }

  val mixtureSql: String =
    """WITH cells AS (
      |  SELECT source, lang, COUNT(*) AS n_docs,
      |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY 1, 2),
      |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS n_total FROM cells)
      |SELECT source, lang, n_docs, n_tokens,
      |  CAST(n_tokens AS DOUBLE) / n_total AS token_share
      |FROM cells, tot""".stripMargin

  /** C73: temperature-scaled source sampling weights — the α-knob
    * every multi-source pretraining mix runs (α = 1 is proportional,
    * α → 0 uniform; α = 1/2 here, the multilingual-sampling standard):
    * w_s ∝ n_s^α over per-source token counts.
    *
    * Float discipline: n^(1/2) is `sqrt`, which IEEE 754 requires to
    * be CORRECTLY ROUNDED — the one transcendental-looking function
    * that is bit-identical across engines (no libm variance, unlike
    * pow/ln elsewhere in this library, which get fixed-point
    * treatment). Each sqrt is then cast to a 6 dp decimal so the
    * cross-source normalizer is an EXACT decimal sum (merge-order
    * free), and each weight is ONE double division at the end.
    *
    * Scale shape: one map-side-combinable groupBy to |sources| rows;
    * the normalizer is a 1-row broadcast. Nothing downstream of the
    * first aggregate scales with the corpus.
    */
  def temperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val bySource = Tables(spark, dir).documents
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("n_tok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    val scaled = bySource.select(col("source"), col("n_docs"), col("n_tokens"),
      sqrt(col("n_tokens").cast("double")).cast("decimal(28,6)").as("sq"))
    val tot = scaled.agg(sum(col("sq")).as("tot"))
    scaled.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        (col("sq").cast("double") / col("tot").cast("double")).as("weight"))
  }

  val temperatureMixSql: String =
    """WITH s AS (
      |  SELECT source, COUNT(*) AS n_docs,
      |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source),
      |r AS (
      |  SELECT source, n_docs, n_tokens,
      |    CAST(sqrt(CAST(n_tokens AS DOUBLE)) AS DECIMAL(28,6)) AS sq
      |  FROM s),
      |t AS (SELECT SUM(sq) AS tot FROM r)
      |SELECT source, n_docs, n_tokens,
      |  CAST(sq AS DOUBLE) / CAST(tot AS DOUBLE) AS weight
      |FROM r CROSS JOIN t""".stripMargin

  /** C74: quantile normalization of a per-doc score across sources —
    * every source's score distribution is mapped onto the GLOBAL
    * distribution by rank, so a "0.9-quantile doc" means the same
    * thing in every source (cross-source score calibration: per-source
    * scorers drift, ranks don't). Classic rank-based normalization
    * (microarray lineage), here on `n_chars` as the score column.
    *
    * All-integer: doc rank r within its source (keyed window, tiebreak
    * doc_id), source size m from the same window exchange, global
    * reference rank ⌈r·N/m⌉ by integer ceil-div, and the mapped value
    * is an equi-join against the globalIndex-ordered reference — no
    * interpolated quantile whose 1-ulp cross-engine wobble could
    * reassign whole tie-classes (the C69 discipline).
    *
    * Scale shape: the reference order is the DISTRIBUTED globalIndex
    * total order (range exchange + O(partitions) driver offsets), not
    * a single-reducer window; the per-source window is keyed by
    * source; the final mapping is one equi-join on an integer rank.
    */
  def quantileNorm(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables(spark, dir).documents
      .select(col("doc_id"), col("source"), col("n_chars").cast("long").as("x"))
    val ref = globalIndex(d.select(col("x"), col("doc_id")),
        Seq(col("x"), col("doc_id")), "gi")
      .select((col("gi") + 1).as("ref_rank"), col("x").as("ref_x"))
    val tot = d.agg(count(lit(1)).as("nn"))
    val bySrc = Window.partitionBy(col("source")).orderBy(col("x"), col("doc_id"))
    val m = Window.partitionBy(col("source"))
    d.select(col("doc_id"), col("source"), col("x"),
        row_number().over(bySrc).cast("long").as("r"),
        count(lit(1)).over(m).as("m"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("source"), col("x").as("n_chars"),
        call_function("div", col("r") * col("nn") + col("m") - 1, col("m"))
          .as("ref_rank"))
      .join(ref, "ref_rank")
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("ref_x").as("norm_chars"))
  }

  val quantileNormSql: String =
    """WITH d AS (
      |  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS x FROM documents),
      |t AS (SELECT COUNT(*) AS nn FROM d),
      |ref AS (
      |  SELECT row_number() OVER (ORDER BY x, doc_id) AS ref_rank, x AS ref_x
      |  FROM d),
      |r AS (
      |  SELECT doc_id, source, x,
      |    row_number() OVER (PARTITION BY source ORDER BY x, doc_id) AS r,
      |    COUNT(*) OVER (PARTITION BY source) AS m
      |  FROM d)
      |SELECT r.doc_id, r.source, r.x AS n_chars, ref.ref_x AS norm_chars
      |FROM r CROSS JOIN t
      |JOIN ref ON ref.ref_rank = (r.r * t.nn + r.m - 1) // r.m""".stripMargin

  /** C35: out-of-vocabulary rate — per doc, the fraction of tokens
    * outside the top-100 corpus vocabulary (C16); the tokenizer-coverage
    * screen. The 100-row vocab broadcasts; the explode's (doc, token)
    * partials aggregate map-side before the one keyed shuffle.
    */
  def oovRate(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables(spark, dir).documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
    val counts = toks.groupBy(col("token")).agg(count(lit(1)).as("n"))
    val top = counts.orderBy(col("n").desc, col("token")).limit(100)
      .select(col("token"), lit(1).as("in_vocab"))
    toks.join(broadcast(top), Seq("token"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("in_vocab").isNull, 1)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        (col("n_oov").cast("double") / col("n_tokens")).as("oov_rate"))
  }

  val oovRateSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |  FROM documents),
      |counts AS (SELECT token, COUNT(*) AS n FROM toks GROUP BY 1),
      |ranked AS (
      |  SELECT token, row_number() OVER (ORDER BY n DESC, token) AS r
      |  FROM counts),
      |top AS (SELECT token FROM ranked WHERE r <= 100)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
      |  CAST(COUNT(CASE WHEN top.token IS NULL THEN 1 END) AS BIGINT) AS n_oov,
      |  CAST(COUNT(CASE WHEN top.token IS NULL THEN 1 END) AS DOUBLE)
      |    / COUNT(*) AS oov_rate
      |FROM toks LEFT JOIN top ON toks.token = top.token
      |GROUP BY doc_id""".stripMargin

  /** Library face of C36: run `iters` BPE merge rounds over a
    * (word, freq) table. Classic byte-pair encoding (Sennrich et al.
    * 2016), distributed: each round is ONE explode+groupBy shuffle of
    * (adjacent-pair, partial count) — mergeable partial aggs, so map
    * tasks ship pair counts, not symbol sequences — then the winning
    * rule (deterministic argmax: count desc, pair asc) comes back as a
    * 1-row TakeOrdered and the merge applies map-only as a left-to-right
    * non-overlapping fold over each word's symbols. Driver state is the
    * rule list (= requested merges), never data; the symbol table is a
    * [[Graft.iterate]] state, so the growing lambda lineage is cut each
    * round.
    *
    * Returns (iter, left, right, merged, pair_count) — the merge table a
    * tokenizer ships.
    */
  def bpeMerges(words: DataFrame, iters: Int): DataFrame = {
    require(iters > 0, s"bpeMerges: iters must be positive, got $iters")
    val rules = scala.collection.mutable.ArrayBuffer.empty[Row]
    // adjacent pairs; guard the fully-merged single-symbol case (a
    // backwards sequence(1,0) would error, not return empty)
    val pairs = when(size(col("syms")) < 2,
      expr("cast(array() as array<struct<l:string,r:string>>)"))
      .otherwise(expr(
        "transform(sequence(1, size(syms)-1), i -> struct(syms[i-1] AS l, syms[i] AS r))"))
    var more = true
    Graft.iterate(words.select(col("word"), col("freq"),
        concat(split(col("word"), ""), array(lit("</w>"))).as("syms")), maxRounds = iters)(
      identity
    ) { (_, syms) =>
      val top = syms
        .select(col("freq"), explode(pairs).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("n"))
        .orderBy(col("n").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty) { more = false; syms }
      else {
        val (l, r, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        rules += Row(rules.size + 1, l, r, l + r, n)
        more = rules.size < iters
        val merged = aggregate(
          col("syms"),
          array().cast("array<string>"),
          (acc, x) => when(
            size(acc) > 0 && element_at(acc, -1) === lit(l) && x === lit(r),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
            .otherwise(concat(acc, array(x))))
        // the last rule needs no merge
        if (more) syms.select(col("word"), col("freq"), merged.as("syms")) else syms
      }
    } { (syms, _) =>
      if (more) None
      else Some(syms.sparkSession.createDataFrame(rules.asJava, StructType.fromDDL(
        "iter INT NOT NULL, `left` STRING NOT NULL, `right` STRING NOT NULL, " +
          "merged STRING NOT NULL, pair_count BIGINT NOT NULL")))
    }
  }

  /** C40: mixture rebalancing — the resampling step after C34's
    * report: compute each source's token share, derive the
    * downsampling rate that equalizes shares (rate = min(1,
    * target/observed), target = total/n_sources), and apply it as the
    * deterministic hash filter. The DoReMi-lite reweighting every
    * mixture pipeline runs; rates are derived IN-PLAN from aggregates
    * (tiny broadcast), never hand-tuned constants, and the kept-set is
    * stable across retries/cluster sizes (hash, not rand()).
    */
  def mixtureRebalance(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        shuffleKey.as("bucket"))
    val cells = docs.groupBy(col("source")).agg(sum(col("n_tok")).as("src_tokens"))
    val totals = cells.agg(sum(col("src_tokens")).as("all_tokens"),
      count(lit(1)).as("n_sources"))
    val rates = cells.crossJoin(broadcast(totals))
      .select(col("source"),
        least(lit(1.0), (col("all_tokens").cast("double") / col("n_sources"))
          / col("src_tokens")).as("rate"))
    docs.join(broadcast(rates), Seq("source"))
      .filter(col("bucket").cast("double") < col("rate") * 1000003.0)
      .select(col("doc_id"), col("source"), col("n_tok"),
        round(col("rate"), 6).as("rate"))
  }

  val mixtureRebalanceSql: String =
    s"""WITH docs AS (
       |  SELECT doc_id, source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
       |    $shuffleKeySql AS bucket
       |  FROM documents),
       |cells AS (
       |  SELECT source, CAST(SUM(n_tok) AS BIGINT) AS src_tokens
       |  FROM docs GROUP BY 1),
       |tot AS (
       |  SELECT CAST(SUM(src_tokens) AS BIGINT) AS all_tokens,
       |    COUNT(*) AS n_sources FROM cells),
       |rates AS (
       |  SELECT source,
       |    least(1.0, (CAST(all_tokens AS DOUBLE) / n_sources) / src_tokens)
       |      AS rate
       |  FROM cells, tot)
       |SELECT doc_id, docs.source, n_tok, round(rate, 6) AS rate
       |FROM docs JOIN rates ON docs.source = rates.source
       |WHERE CAST(bucket AS DOUBLE) < rate * 1000003.0""".stripMargin

  /** C36: BPE tokenizer training — 10 merge rounds over the corpus
    * word-frequency table. Rows-only check (an iterative driver loop
    * isn't one SQL statement); the spec pins the merge sequence on a
    * hand-computed corpus.
    */
  def bpeTrain(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables(spark, dir).documents
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    bpeMerges(words, 10)
  }

  /** Oracle restatement of C36 — the conversion that closes the
    * board's LAST rows-only entry. The blocker was the merge-rule
    * APPLICATION: a data-dependent left-to-right non-overlapping fold
    * over each word's symbols, which "portable SQL cannot state" — and
    * as a list operation it can't. The unlock is a STRING encoding
    * with DOUBLE separators: a symbol sequence is
    * `␟␟t1␟␟t2␟␟…␟␟tn␟␟` (␟ = chr(31), absent from the corpus — the
    * text is pure [A-Za-z0-9 ], checked at all SFs), and one
    * `replace(d, '␟l␟␟r␟', '␟lr␟')` IS the greedy fold: each boundary
    * holds two separators and a match borrows exactly one from each
    * side, so consuming a site never starves the next adjacent site
    * (verified: `aaaa → aa·aa`, `aaa → aa·a`, `abab → ab·ab` — the
    * cases where a single-separator encoding provably diverges), while
    * a pattern bounded by separators on both ends can never match a
    * token PREFIX. `replace` in both engines scans left-to-right,
    * non-overlapping, never rescanning the replacement — exactly BPE's
    * one-round application order. Each of the 10 rounds is an unrolled
    * CTE trio: adjacent-pair counts from the split state, the argmax
    * rule (count DESC, pair ASC — binary collation in both engines),
    * and the replace step with the rule spliced in as scalar
    * subqueries. The face is unchanged — distributed pair-count
    * shuffles + map-only folds; this is only its sequential
    * restatement. Exhaustion guard: on a corpus with fewer than 10
    * possible merges t$r is empty, its scalar subqueries are NULL, and
    * an unguarded `replace(d, NULL, NULL)` would NULL the whole state
    * and silently corrupt every later round — so both pattern
    * subqueries are COALESCEd to the bare separator ('␟'→'␟' is the
    * identity replace), making exhausted rounds no-ops that emit zero
    * union rows, exactly matching the face's clean stop.
    */
  val bpeTrainSql: String = {
    val S = "\u001f"
    def round(r: Int): String = {
      val prev = if (r == 1) "s0" else s"s${r - 1}"
      s"""p$r AS (
         |  SELECT L[i] AS l, L[i + 1] AS rr, freq
         |  FROM (SELECT freq, string_split(d, '$S$S') AS L FROM $prev),
         |       unnest(range(2, len(L) - 1)) AS t(i)),
         |t$r AS MATERIALIZED (
         |  SELECT l, rr, CAST(SUM(freq) AS BIGINT) AS n
         |  FROM p$r GROUP BY 1, 2
         |  ORDER BY n DESC, l, rr LIMIT 1),
         |s$r AS MATERIALIZED (
         |  SELECT freq,
         |    replace(d, COALESCE((SELECT '$S' || l || '$S$S' || rr || '$S' FROM t$r), '$S'),
         |               COALESCE((SELECT '$S' || l || rr || '$S' FROM t$r), '$S')) AS d
         |  FROM $prev)""".stripMargin
    }
    val unions = (1 to 10).map { r =>
      s"""SELECT CAST($r AS INTEGER) AS iter, l AS "left", rr AS "right",
         |  l || rr AS merged, n AS pair_count FROM t$r""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH w AS (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  GROUP BY word),
       |s0 AS MATERIALIZED (
       |  SELECT freq,
       |    '$S$S' || array_to_string(
       |      list_append(string_split(word, ''), '</w>'), '$S$S') || '$S$S' AS d
       |  FROM w),
       |${(1 to 10).map(round).mkString(",\n")}
       |$unions""".stripMargin
  }

  /** Per-doc distinct 8-token span hashes (shared by C31 and C38). */
  private def spanHashes(d: DataFrame): DataFrame =
    d.select(col("doc_id"), split(col("text"), " ").as("tk"))
      .filter(size(col("tk")) >= 8)
      .select(col("doc_id"), col("tk"),
        explode(sequence(lit(0), size(col("tk")) - 8)).as("i"))
      .select(col("doc_id"),
        md5(concat_ws(" ", slice(col("tk"), col("i") + 1, lit(8)))).as("span_hash"))
      .distinct()

  /** C31's 100 TB face: identical span-dedup semantics with xxhash64
    * span keys — 8-byte longs on the wire instead of 32-char md5
    * strings (the audit measures the md5 face at ~40 B/span; this one
    * ships 16 B/span, and the groupBy key compares as a primitive).
    * The hash value is engine-specific, so the OUTPUT drops it (it is
    * an internal grouping key, not information): per duplicated span,
    * (n_docs, n_occurrences, first_doc). That multiset is
    * hash-function-independent — identical under md5 — so the DuckDB
    * md5-span oracle checks this face exactly (collisions aside, and a
    * collision would change n_docs and fail loudly).
    */
  def spanDedupFast(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .filter(size(col("tk")) >= 8)
      .select(col("doc_id"), col("tk"),
        explode(sequence(lit(0), size(col("tk")) - 8)).as("i"))
      .select(col("doc_id"),
        xxhash64(concat_ws(" ", slice(col("tk"), col("i") + 1, lit(8)))).as("span_hash"))
    d.groupBy(col("span_hash"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= 2)
      .drop("span_hash")
  }

  val spanDedupFastSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |  WHERE len(string_split(text, ' ')) >= 8),
      |spans AS (
      |  SELECT doc_id,
      |    md5(array_to_string(tk[i+1 : i+8], ' ')) AS span_hash
      |  FROM toks, unnest(range(0, len(tk) - 7)) AS t(i))
      |SELECT
      |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |  CAST(COUNT(*) AS BIGINT) AS n_occurrences,
      |  MIN(doc_id) AS first_doc
      |FROM spans GROUP BY span_hash
      |HAVING COUNT(DISTINCT doc_id) >= 2""".stripMargin

  /** C38: n-gram overlap decontamination (the GPT-3-style check): for
    * each eval doc, the fraction of its distinct 8-token spans that
    * also occur anywhere in the train split. Catches PARTIAL
    * contamination that C26's whole-doc fingerprint misses. The
    * exchange carries (16-byte hash, id) pairs; train spans dedup to a
    * hash set the eval side left-joins against — no text ever shuffles.
    */
  def ngramContamination(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents.withColumn("split",
      when(TextAnalysis.splitBucket < 90, "train").otherwise("eval"))
    val trainSpans = spanHashes(d.filter(col("split") === "train"))
      .select(col("span_hash")).distinct().withColumn("hit", lit(1))
    spanHashes(d.filter(col("split") === "eval"))
      .join(trainSpans, Seq("span_hash"), "left")
      .groupBy(col("doc_id").as("eval_doc_id"))
      .agg(count(lit(1)).as("n_spans"), count(col("hit")).as("n_overlap"))
      .select(col("eval_doc_id"), col("n_spans"), col("n_overlap"),
        (col("n_overlap").cast("double") / col("n_spans")).as("overlap_frac"))
  }

  val ngramContaminationSql: String =
    """WITH d AS (
      |  SELECT doc_id, text,
      |    CASE WHEN (doc_id % 100) * 2654435761 % 100 < 90
      |      THEN 'train' ELSE 'eval' END AS split
      |  FROM documents),
      |toks AS (
      |  SELECT doc_id, split, string_split(text, ' ') AS tk FROM d
      |  WHERE len(string_split(text, ' ')) >= 8),
      |spans AS (
      |  SELECT DISTINCT doc_id, split,
      |    md5(array_to_string(tk[i+1 : i+8], ' ')) AS span_hash
      |  FROM toks, unnest(range(0, len(tk) - 7)) AS t(i)),
      |train_spans AS (
      |  SELECT DISTINCT span_hash FROM spans WHERE split = 'train')
      |SELECT e.doc_id AS eval_doc_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_spans,
      |  CAST(COUNT(ts.span_hash) AS BIGINT) AS n_overlap,
      |  CAST(COUNT(ts.span_hash) AS DOUBLE) / COUNT(*) AS overlap_frac
      |FROM spans e LEFT JOIN train_spans ts ON e.span_hash = ts.span_hash
      |WHERE e.split = 'eval'
      |GROUP BY e.doc_id""".stripMargin

  /** C39: semantic dedup (SemDeDup, Abbas et al. 2023): cluster the
    * embedding space (the IVF k-means cells — reused verbatim from
    * C7b), then find cosine near-dup pairs WITHIN each cell. Blocking
    * by learned cell replaces C5's given `label` blocking: the
    * quadratic term is per-cell, cells are bounded, and the only
    * exchange keys on cell id. Hash-verified since round 7: C7b's
    * fixed-point k-means restatement ([[Ann.ivfPipelineSql]]) supplies
    * the cell assignment, so the oracle is the co-cell pair join over
    * it ([[semanticDedupSql]]).
    */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.NativeExprs
    val e = Tables(spark, dir).embeddings
    // the SAME build-once index C7b serves from (r8: production
    // parameters c = ceil(sqrt(N)) — more, smaller cells: the quadratic
    // within-cell term shrinks as the corpus grows, which is SemDeDup's
    // entire scale story)
    val centroids = Ann.loadIvfIndex(spark, Ann.ivfIndexPath(spark, dir))
    val celled = e.withColumn("cell",
      NativeExprs.cell_probe(col("embedding"), centroids, 1)(0))
    val a = celled.select(col("cell"), col("vec_id").as("vec_a"),
      col("embedding").as("emb_a"))
    val b = celled.select(col("cell"), col("vec_id").as("vec_b"),
      col("embedding").as("emb_b"))
    a.join(b, Seq("cell")).filter(col("vec_a") < col("vec_b"))
      .select(col("cell"), col("vec_a"), col("vec_b"),
        round(NativeExprs.cosine_f32(col("emb_a"), col("emb_b")), 3).as("cosine"))
      .filter(col("cosine") >= 0.4)
  }

  /** Oracle restatement of [[semanticDedup]] (C39): the co-cell pair
    * join over C7b's final assignment frame (`af` in
    * [[Ann.ivfPipelineSql]]), scored and thresholded on the same
    * 3-dp-rounded cosine as the face.
    */
  lazy val semanticDedupSql: String =
    s"""WITH ${Ann.ivfPipelineSql}
       |SELECT * FROM (
       |  SELECT a.cell, a.vec_id AS vec_a, b.vec_id AS vec_b,
       |    round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
       |                                 CAST(eb.embedding AS DOUBLE[])), 3) AS cosine
       |  FROM af a JOIN af b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  JOIN embeddings ea ON ea.vec_id = a.vec_id
       |  JOIN embeddings eb ON eb.vec_id = b.vec_id)
       |WHERE cosine >= 0.4""".stripMargin

  /** C41: DSIR-lite importance scoring (Xie et al. 2023, "Data
    * Selection via Importance Resampling"): each document scored by its
    * average per-token log-likelihood RATIO between a target-domain
    * unigram LM (here: the `lang='en'` slice) and the corpus LM, with
    * add-one smoothing — the score that upweights target-like data in
    * mixture resampling. Same engine shape as C33: per-token ratio
    * terms are computed once from exact counts, rounded to 6 dp and
    * fixed as decimals, so per-doc sums are order-independent; the two
    * totals enter as a 1-row broadcast.
    */
  def dsirScore(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val toks = docs.select(col("doc_id"), col("lang"),
      explode(split(col("text"), " ")).as("token"))
    val docTok = toks.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("c"))
    val corpusV = toks.groupBy(col("token")).agg(count(lit(1)).as("cnt_c"))
    val targetV = toks.filter(col("lang") === "en")
      .groupBy(col("token")).agg(count(lit(1)).as("cnt_t"))
    val totals = corpusV.agg(
      sum(col("cnt_c")).as("n_c"), count(lit(1)).as("v"))
      .crossJoin(targetV.agg(sum(col("cnt_t")).as("n_t")))
    val terms = corpusV
      .join(targetV, Seq("token"), "left")
      .na.fill(0L, Seq("cnt_t"))
      .crossJoin(broadcast(totals))
      .select(col("token"),
        round(
          log((col("cnt_t") + 1).cast("double") / (col("n_t") + col("v"))) -
            log((col("cnt_c") + 1).cast("double") / (col("n_c") + col("v"))), 6)
          .cast("decimal(18,6)").as("term"))
    docTok.join(terms, "token")
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        sum(col("c") * col("term")).as("s"))
      .select(col("doc_id"), col("n_tokens"),
        (col("s").cast("double") / col("n_tokens")).as("dsir_score"))
  }

  val dsirScoreSql: String =
    """WITH toks AS (
      |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
      |  FROM documents),
      |dt AS (SELECT doc_id, token, COUNT(*) AS c FROM toks GROUP BY 1, 2),
      |cv AS (SELECT token, COUNT(*) AS cnt_c FROM toks GROUP BY 1),
      |tv AS (SELECT token, COUNT(*) AS cnt_t FROM toks
      |       WHERE lang = 'en' GROUP BY 1),
      |tot AS (
      |  SELECT CAST(SUM(cnt_c) AS BIGINT) AS n_c,
      |    COUNT(*) AS v,
      |    (SELECT CAST(SUM(cnt_t) AS BIGINT) FROM tv) AS n_t
      |  FROM cv),
      |terms AS (
      |  SELECT cv.token,
      |    CAST(round(
      |      ln(CAST(COALESCE(cnt_t, 0) + 1 AS DOUBLE) / (n_t + v)) -
      |      ln(CAST(cnt_c + 1 AS DOUBLE) / (n_c + v)), 6)
      |      AS DECIMAL(18,6)) AS term
      |  FROM cv LEFT JOIN tv ON cv.token = tv.token, tot)
      |SELECT dt.doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
      |  CAST(SUM(c * term) AS DOUBLE) / CAST(SUM(c) AS BIGINT) AS dsir_score
      |FROM dt JOIN terms ON dt.token = terms.token
      |GROUP BY dt.doc_id""".stripMargin

  /** C32: Bloom-pruned contamination check — same result as the exact
    * pass (TextAnalysis C26; the verify join removes every false
    * positive, so the oracle is C26's SQL), but the eval side is
    * pre-filtered through a Bloom sketch of the train fingerprints
    * BEFORE the join. At 100 TB that ordering is the whole game: the
    * sketch is built by Spark's native mergeable `BloomFilterAggregate`
    * (map tasks ship bit-array state, never rows), one bounded sketch
    * (~1.2 MB/million keys at 3% fpp) comes to the driver and re-enters
    * the plan as a codegen'd literal predicate, and ~99% of clean eval
    * docs die map-side — the fingerprint join probes a sliver.
    */
  def bloomContamination(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftBridge.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

    val docs = Tables(spark, dir).documents
      .withColumn("split",
        when((col("doc_id") % 100) * 2654435761L % 100 < 90, "train").otherwise("eval"))
      .select(col("doc_id"), col("split"), md5(lower(trim(col("text")))).as("fp"))
    val train = docs.filter(col("split") === "train")
      .select(col("fp"), col("doc_id").as("train_doc_id"))

    val sketch: Array[Byte] = train
      .agg(column(new BloomFilterAggregate(
        expression(xxhash64(col("fp"))), 1000000L).toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val mightContain = column(new BloomFilterMightContain(
      Literal(sketch, BinaryType), expression(xxhash64(col("fp")))))

    docs.filter(col("split") === "eval")
      .filter(mightContain)
      .join(train, "fp")
      .groupBy(col("doc_id").as("eval_doc_id"))
      .agg(count(lit(1)).as("n_train_dups"),
        min(col("train_doc_id")).as("first_train_doc"))
  }

  /** C48: TF-IDF keyword extraction — the top-3 terms per document by
    * tf·idf with a total (score desc, token asc) order so the cut is
    * deterministic. idf terms are decimal-fixed (C33's portability
    * move: `round(ln(N/df), 6)` cast to DECIMAL) so ranking never
    * depends on float fold order. Shuffles carry (doc, token) partial
    * counts and (token, df) pairs — text never moves; the per-doc
    * window runs over ≤|doc vocab| rows keyed by doc_id.
    */
  def tfidf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(spark, dir).documents
    val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
    // r11 examined and left alone (guide §2.4): `tf` feeds the
    // document-frequency rollup AND the scored join, re-running the
    // token explode + (doc, token) exchange per branch — but an eager
    // checkpoint of tf was MEASURED SLOWER solo at sf0.1 (min-of-3:
    // 1.58 s vs 1.27 s recomputed), and the frame is (doc, token)-pair
    // sized — corpus-scale, exactly the thing NOT to pin in executor
    // memory at 100 TB. Recompute is the right trade on both axes.
    val tf = toks.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val idf = df.crossJoin(broadcast(nDocs))
      .select(col("token"),
        round(log(col("n_docs").cast("double") / col("df")), 6)
          .cast("decimal(18,6)").as("idf"))
    val scored = tf.join(idf, "token")
      .select(col("doc_id"), col("token"), (col("tf") * col("idf")).as("score"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("token"))
    scored.withColumn("term_rank", row_number().over(w))
      .filter(col("term_rank") <= 3)
      .select(col("doc_id"), col("term_rank").cast("long").as("term_rank"), col("token"),
        col("score").cast("double").as("tfidf"))
  }

  val tfidfSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      |tf AS (
      |  SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
      |df AS (
      |  SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
      |nd AS (SELECT COUNT(*) AS n_docs FROM documents),
      |idf AS (
      |  SELECT token,
      |    CAST(round(ln(CAST(n_docs AS DOUBLE) / df), 6) AS DECIMAL(18,6)) AS idf
      |  FROM df, nd),
      |scored AS (
      |  SELECT doc_id, tf.token AS token, tf * idf AS score
      |  FROM tf JOIN idf ON tf.token = idf.token),
      |ranked AS (
      |  SELECT doc_id, token, score,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS term_rank
      |  FROM scored)
      |SELECT doc_id, CAST(term_rank AS BIGINT) AS term_rank, token, CAST(score AS DOUBLE) AS tfidf
      |FROM ranked WHERE term_rank <= 3""".stripMargin

  /** C49: bigram conditional log-probability scoring — the next LM step
    * after C33's unigram: per-doc average ln P(w₂|w₁) under the
    * corpus-trained bigram MLE (count(w₁w₂)/count(w₁·)). Repetitive
    * machine text scores high, natural text lower — a sharper
    * perplexity proxy than unigram. Same portability discipline:
    * decimal-fixed log terms, order-independent sums. Bigrams are built
    * with the codegen'd shingle HOF (no self-join on positions).
    */
  def bigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    // tokenize ONCE into a projected column (a lambda that re-split the
    // text per element would dodge CSE — the §3 HOF cliff), then explode
    // every bigram INSTANCE (not distinct)
    val grams = docs
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"),
        explode(transform(
          sequence(lit(1), greatest(size(col("tk")) - 1, lit(1))),
          i => concat_ws(" ", slice(col("tk"), i, lit(2)))))
          .as("bigram"))
      .filter(size(split(col("bigram"), " ")) === 2)
    // r11 examined and left alone (guide §2.4): `docBi` feeds the
    // corpus rollup AND the final per-doc join, `corpus` two branches —
    // but eager checkpoints of both were MEASURED SLOWER solo at sf0.1
    // (min-of-3: 2.45 s vs 2.21 s recomputed), and docBi is (doc,
    // bigram)-pair sized — corpus-scale state a 100 TB run must not pin
    // in executor memory. The re-derived subtree is a map-side explode
    // over the small documents table plus the exchange the plan pays
    // anyway.
    val docBi = grams.groupBy(col("doc_id"), col("bigram")).agg(count(lit(1)).as("c"))
    // corpus-level counts fold the per-doc partials — ONE explode pass
    // feeds both aggregates instead of scanning the corpus twice
    val corpus = docBi.groupBy(col("bigram")).agg(sum(col("c")).as("cb"))
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
    val starts = corpus.groupBy(col("w1")).agg(sum(col("cb")).as("c1"))
    val terms = corpus.join(starts, "w1")
      .select(col("bigram"),
        round(log(col("cb").cast("double") / col("c1")), 6)
          .cast("decimal(18,6)").as("term"))
    docBi.join(terms, "bigram")
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"), sum(col("c") * col("term")).as("sum_lp"))
      .select(col("doc_id"), col("n_bigrams"),
        (col("sum_lp").cast("double") / col("n_bigrams")).as("avg_bigram_logprob"))
  }

  /** C50: token-entropy quality scoring — per-doc Shannon entropy of
    * the token distribution plus type-token ratio, the information-
    * density signals behind repetition/compressibility filters (a doc
    * of one word repeated has entropy 0; rich text approaches
    * ln(n_tokens)). Identity used: H = ln n − (Σ c·ln c)/n, so the
    * only aggregates are exact counts and decimal-fixed `ln c` terms —
    * order-independent, the C33 portability discipline. Map-only +
    * (doc, token) partial aggs.
    */
  def entropy(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables(spark, dir).documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
    val counts = toks.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("c"))
    counts.groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(col("c") * round(log(col("c").cast("double")), 6)
          .cast("decimal(18,6)")).as("sum_clnc"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        (round(log(col("n_tokens").cast("double")), 6)
          - col("sum_clnc").cast("double") / col("n_tokens")).as("entropy"),
        (col("n_distinct").cast("double") / col("n_tokens")).as("ttr"))
  }

  val entropySql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      |counts AS (
      |  SELECT doc_id, token, COUNT(*) AS c FROM toks GROUP BY 1, 2)
      |SELECT doc_id,
      |  CAST(SUM(c) AS BIGINT) AS n_tokens,
      |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
      |  round(ln(CAST(CAST(SUM(c) AS BIGINT) AS DOUBLE)), 6)
      |    - CAST(SUM(c * CAST(round(ln(CAST(c AS DOUBLE)), 6) AS DECIMAL(18,6))) AS DOUBLE)
      |      / CAST(SUM(c) AS BIGINT) AS entropy,
      |  CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS BIGINT) AS ttr
      |FROM counts GROUP BY doc_id""".stripMargin

  val bigramLogprobSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |grams AS (
      |  SELECT doc_id, array_to_string(tk[i:i+1], ' ') AS bigram
      |  FROM toks, unnest(range(1, greatest(len(tk), 2))) AS t(i)
      |  WHERE len(string_split(array_to_string(tk[i:i+1], ' '), ' ')) = 2),
      |db AS (
      |  SELECT doc_id, bigram, COUNT(*) AS c FROM grams GROUP BY 1, 2),
      |corpus AS (
      |  SELECT bigram, COUNT(*) AS cb,
      |         string_split(bigram, ' ')[1] AS w1
      |  FROM grams GROUP BY 1),
      |starts AS (
      |  SELECT w1, CAST(SUM(cb) AS BIGINT) AS c1 FROM corpus GROUP BY 1),
      |terms AS (
      |  SELECT bigram,
      |    CAST(round(ln(CAST(cb AS DOUBLE) / c1), 6) AS DECIMAL(18,6)) AS term
      |  FROM corpus JOIN starts USING (w1))
      |SELECT db.doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
      |  CAST(SUM(c * term) AS DOUBLE) / CAST(SUM(c) AS BIGINT) AS avg_bigram_logprob
      |FROM db JOIN terms ON db.bigram = terms.bigram
      |GROUP BY db.doc_id""".stripMargin

  /** C83 `q_entity_split`: leakage-free ENTITY-level holdout — the
    * events feed split 80/10/10 by a hash of `user_id`, never of the
    * event row. C17 splits documents row-wise, which is correct for
    * i.i.d. docs; for behavioral data a row-wise split leaks the same
    * user's history across train and eval (the model "memorizes the
    * user", eval overstates). Hashing the ENTITY key puts every event
    * of a user on one side by construction.
    *
    * Output: per-split census (users, events, exact-decimal value
    * sum, event share in exact ppm). The no-straddle property is the
    * algebraic consequence of split = f(user_id); the spec asserts it
    * by census (Σ per-split distinct users = global distinct users).
    *
    * The bucket is a REAL mixing hash (md5 of the id, 60-bit prefix,
    * mod 100) — NOT the multiplicative residue family: `(id % 10^6) *
    * 2654435761 % 100` algebraically collapses to `id * 61 % 100`
    * (the Knuth constant is a no-op modulo 100), so that "hash"
    * depends only on the id's last-two-digit residue and any mod-100
    * id assignment pattern (round-robin sharding, region-prefixed
    * ranges) yields a systematically biased split. md5 mixing makes
    * the split independent of id structure.
    *
    * Plan: split label is a map-side expression; one groupBy(split)
    * with a distinct-user partial (×2 Expand, the documented A16
    * contract); totals re-enter as a 1-row broadcast.
    */
  def entitySplit(spark: SparkSession, dir: String): DataFrame = {
    val bucket = conv(substring(md5(concat(lit("es|"),
      col("user_id").cast("string"))), 1, 15), 16, 10).cast("long") % 100L
    val labeled = Tables(spark, dir).events
      .select(col("user_id"), col("value"),
        when(bucket < 80, "train").when(bucket < 90, "valid")
          .otherwise("test").as("split"))
    val per = labeled.groupBy(col("split"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"),
        graft.functions.Fns.decSum(col("value")).as("total_value"))
    val tot = per.agg(sum(col("n_events")).as("tot_events"))
    per.crossJoin(broadcast(tot))
      .select(col("split"), col("n_users"), col("n_events"),
        col("total_value"),
        expr("n_events * 1000000 DIV tot_events").as("event_share_ppm"))
  }

  val entitySplitSql: String =
    """WITH labeled AS (
      |  SELECT user_id, value,
      |    CASE WHEN ('0x' || substr(md5('es|' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 80 THEN 'train'
      |         WHEN ('0x' || substr(md5('es|' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 90 THEN 'valid'
      |         ELSE 'test' END AS split
      |  FROM events),
      |per AS (
      |  SELECT split, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
      |    CAST(COUNT(*) AS BIGINT) AS n_events,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |  FROM labeled GROUP BY 1),
      |tot AS (SELECT CAST(SUM(n_events) AS BIGINT) AS tot_events FROM per)
      |SELECT split, n_users, n_events, total_value,
      |  CAST(n_events * 1000000 // tot_events AS BIGINT) AS event_share_ppm
      |FROM per CROSS JOIN tot""".stripMargin
}
