package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Graft
import graft.functions.Fns._
import graft.sources.Tables

/** Sequence- and distribution-mining operators (SURVEY §2 round-4
  * additions): event-transition matrices, corpus rank-frequency (Zipf)
  * fits, PMI collocations, and embedding covariance — the statistical
  * profiling layer a training-data pipeline runs over its corpus before
  * committing to a mixture.
  *
  * Portability discipline throughout is SURVEY §8 + the C33 pattern:
  * every aggregate is either an exact integer count or an exact decimal
  * sum of per-row terms that were rounded ONCE from identical inputs in
  * both engines; IEEE arithmetic happens only in a fixed final sequence
  * over those exact aggregates.
  */
object Mining {

  /** E44: event-type Markov transition matrix — P(next event type |
    * current type) per user journey, the session-flow fingerprint
    * behind next-action prediction and anomaly detection on event
    * streams. One window exchange keyed by user (the semantically
    * required one — identical cost class to sessionization), then
    * (from, to) partial counts; the probability is one exact-integer
    * division per output row.
    */
  def transitionMatrix(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .select(col("user_id"), col("event_type"), nsToUs(col("ts")).as("t"),
        col("event_id"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
    val pairs = ev
      .select(col("event_type").as("to_type"),
        lag(col("event_type"), 1).over(w).as("from_type"))
      .filter(col("from_type").isNotNull)
    val counts = pairs.groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_trans"))
    // normalize with a window over the |types|² COUNTS frame (bounded
    // at any corpus size) — a join against a separate totals aggregate
    // would re-execute the big per-user window for the second branch
    counts
      .select(col("from_type"), col("to_type"), col("n_trans"),
        (col("n_trans").cast("double") /
          sum(col("n_trans")).over(Window.partitionBy(col("from_type"))))
          .as("p"))
  }

  val transitionMatrixSql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS t, event_id FROM events),
      |pairs AS (
      |  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY t, event_id)
      |           AS from_type,
      |         event_type AS to_type
      |  FROM e),
      |c AS (
      |  SELECT from_type, to_type, COUNT(*) AS n_trans
      |  FROM pairs WHERE from_type IS NOT NULL GROUP BY 1, 2),
      |tot AS (
      |  SELECT from_type, CAST(SUM(n_trans) AS BIGINT) AS n_from FROM c GROUP BY 1)
      |SELECT c.from_type, to_type, n_trans,
      |  CAST(n_trans AS DOUBLE) / n_from AS p
      |FROM c JOIN tot ON c.from_type = tot.from_type""".stripMargin

  /** C57: Zipf rank-frequency fit — the corpus-health diagnostic: a
    * natural-language corpus follows ln(freq) ≈ a + s·ln(rank) with
    * s ≈ −1; template/boilerplate-heavy or synthetic corpora bend the
    * curve. Token ranks come from the distributed [[Corpus.globalIndex]]
    * total order (vocabulary ≪ corpus, but still never a single-reducer
    * window); the least-squares fit runs on decimal-fixed ln terms —
    * exact order-independent sums, one IEEE solve at the end (the E37
    * exact-correlation discipline).
    */
  def zipfFit(spark: SparkSession, dir: String): DataFrame = {
    val vocab = Tables(spark, dir).documents
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
    val ranked = Corpus.globalIndex(
      vocab, Seq(col("freq").desc, col("token")), "rk")
    // x = ln(rank), y = ln(freq): fixed to 6 dp ONCE from exact integers
    val terms = ranked.select(
      round(log((col("rk") + 1).cast("double")), 6).cast("decimal(18,6)").as("x"),
      round(log(col("freq").cast("double")), 6).cast("decimal(18,6)").as("y"))
    val m = terms.agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
    m.select(
      col("n").as("n_tokens_ranked"),
      round(
        (col("n") * col("sxy").cast("double") - col("sx").cast("double") * col("sy").cast("double"))
          / (col("n") * col("sxx").cast("double") - col("sx").cast("double") * col("sx").cast("double")),
        6).as("zipf_slope"),
      round(
        (col("sy").cast("double") - ((col("n") * col("sxy").cast("double") - col("sx").cast("double") * col("sy").cast("double"))
          / (col("n") * col("sxx").cast("double") - col("sx").cast("double") * col("sx").cast("double"))) * col("sx").cast("double"))
          / col("n"),
        6).as("zipf_intercept"))
  }

  val zipfFitSql: String =
    """WITH v AS (
      |  SELECT token, COUNT(*) AS freq
      |  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      |  GROUP BY token),
      |r AS (
      |  SELECT freq, row_number() OVER (ORDER BY freq DESC, token) AS rk FROM v),
      |t AS (
      |  SELECT CAST(round(ln(CAST(rk AS DOUBLE)), 6) AS DECIMAL(18,6)) AS x,
      |         CAST(round(ln(CAST(freq AS DOUBLE)), 6) AS DECIMAL(18,6)) AS y
      |  FROM r),
      |m AS (
      |  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
      |         SUM(x * y) AS sxy, SUM(x * x) AS sxx
      |  FROM t)
      |SELECT n AS n_tokens_ranked,
      |  round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
      |    AS zipf_slope,
      |  round((CAST(sy AS DOUBLE) - ((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) * CAST(sx AS DOUBLE))
      |    / n, 6) AS zipf_intercept
      |FROM m""".stripMargin

  /** C58: PMI collocations — pointwise mutual information
    * ln(P(w1 w2) / (P(w1)·P(w2))) over bigram instances, the standard
    * multiword-expression detector (and the screen for templated word
    * pairs that repeat far beyond chance). All counts are exact
    * integers off one explode pass (bigram counts fold into both
    * unigram marginals); the PMI term is ONE fixed IEEE expression over
    * those integers, computed identically in both engines, with a
    * deterministic (pmi, bigram) top-20 cut. Support threshold ≥ 5
    * instances — PMI is noise below that.
    */
  def pmiCollocations(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("tk"))
    val grams = toks.select(
      explode(transform(
        sequence(lit(1), greatest(size(col("tk")) - 1, lit(1))),
        i => concat_ws(" ", slice(col("tk"), i, lit(2))))).as("bigram"))
      .filter(size(split(col("bigram"), " ")) === 2)
    // r11 examined and left alone (guide §2.4): `bi` feeds two branches
    // and `uni` three, each re-running its explode + vocab exchange —
    // but eager checkpoints of both frames were MEASURED SLOWER solo at
    // sf0.1 (min-of-3: 1.57 s checkpointed vs 1.15 s recomputed): the
    // re-derived subtrees are token-explode passes over the SMALL
    // documents table, cheaper than two materialization job barriers.
    // The frames stay vocabulary-bounded either way, so the recompute
    // is corpus-linear map work, not an added shuffle class.
    val bi = grams.groupBy(col("bigram")).agg(count(lit(1)).as("cb"))
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
      .withColumn("w2", split(col("bigram"), " ").getItem(1))
    val uni = docs.select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cw"))
    val nUni = uni.agg(sum(col("cw")).as("n_uni"))
    val nBi = bi.agg(sum(col("cb")).as("n_bi"))
    bi
      .join(uni.withColumnRenamed("w", "w1").withColumnRenamed("cw", "c1"), "w1")
      .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("cw", "c2"), "w2")
      .crossJoin(broadcast(nUni)).crossJoin(broadcast(nBi))
      .filter(col("cb") >= 5)
      .select(col("bigram"), col("cb"), col("c1"), col("c2"),
        // 6dp-fix via decimal, then emit as DOUBLE: every driver-green
        // face ends in double/int finals — a DECIMAL final hashes
        // differently in the driver's canonicalization even when the
        // value is exact (the round-4 lesson; the decimal→double cast
        // here is exact at these magnitudes in both engines).
        round(log(
          (col("cb").cast("double") * col("n_uni") * col("n_uni"))
            / (col("n_bi").cast("double") * col("c1") * col("c2"))), 6)
          .cast("decimal(18,6)").cast("double").as("pmi"))
      .orderBy(col("pmi").desc, col("bigram"))
      .limit(20)
  }

  val pmiCollocationsSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |grams AS (
      |  SELECT array_to_string(tk[i:i+1], ' ') AS bigram
      |  FROM toks, unnest(range(1, greatest(len(tk), 2))) AS t(i)
      |  WHERE len(string_split(array_to_string(tk[i:i+1], ' '), ' ')) = 2),
      |bi AS (
      |  SELECT bigram, COUNT(*) AS cb,
      |    string_split(bigram, ' ')[1] AS w1, string_split(bigram, ' ')[2] AS w2
      |  FROM grams GROUP BY bigram),
      |uni AS (
      |  SELECT w, COUNT(*) AS cw
      |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |  GROUP BY w),
      |tot AS (SELECT CAST(SUM(cw) AS BIGINT) AS n_uni FROM uni),
      |tob AS (SELECT CAST(SUM(cb) AS BIGINT) AS n_bi FROM bi)
      |SELECT bigram, cb, u1.cw AS c1, u2.cw AS c2,
      |  CAST(CAST(round(ln(
      |    (CAST(cb AS DOUBLE) * n_uni * n_uni)
      |      / (CAST(n_bi AS DOUBLE) * u1.cw * u2.cw)), 6) AS DECIMAL(18,6)) AS DOUBLE) AS pmi
      |FROM bi
      |JOIN uni u1 ON bi.w1 = u1.w
      |JOIN uni u2 ON bi.w2 = u2.w
      |CROSS JOIN tot CROSS JOIN tob
      |WHERE cb >= 5
      |ORDER BY pmi DESC, bigram
      |LIMIT 20""".stripMargin

  /** C59: embedding covariance matrix — the dim×dim second-moment
    * summary behind whitening, PCA initialization, and
    * anisotropy/collapse diagnostics on an embedding corpus (a healthy
    * space has mass spread across dimensions; a collapsed one
    * concentrates it). Upper triangle only, in long form (dim_i ≤
    * dim_j, cov).
    *
    * Scale shape: each row expands to its dim·(dim+1)/2 pairwise
    * products MAP-SIDE and collapses into the dim² running partials of
    * the task's hash aggregate, so the exchange carries O(dim²) rows
    * per task — never corpus-sized. The O(n·dim²) multiply cost is
    * inherent to covariance; it distributes linearly across executors.
    *
    * Exactness at codegen speed: elements fix ONCE to 7 dp and carry as
    * UNSCALED LONGS (value×10⁷ — exact for |v| < 9·10¹¹, embeddings are
    * unit-scale), so the hot per-pair op is one long multiply (exact:
    * |product| < 2⁶³ while |v| < 300) instead of a precision-37
    * BigDecimal multiply; sums are exact decimals of those longs
    * (order-independent at any group size), and the covariance is one
    * fixed IEEE sequence per (i,j) at the end, descaled by the same
    * constants in both engines.
    */
  def embedCov(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir).embeddings
    // ONE pass, one global typed aggregate: per row the native covPairs
    // kernel emits the dim(dim+1)/2 exact long products (whole-stage
    // codegen, no interpreted HOF — the lambda formulation of the same
    // products was 4× slower) and vec_sum128 folds them into a 128-bit
    // per-task accumulator. Partials on the wire are O(dim² × 16 B)
    // per task — nothing corpus-sized ever shuffles or explodes. The
    // per-dim linear sums (for centering) ride the same pass as a
    // second accumulator over the 7dp-fixed elements (the DataFrame
    // twin of the kernel's fix step).
    val fixedE = transform(col("embedding"),
      v => (round(v.cast("double"), 7).cast("decimal(18,7)")
        * lit(10000000L)).cast("long"))
    val one = emb.agg(
      graft.functions.VecSumAgg.vec_sum128(
        graft.functions.NativeExprs.cov_pairs(col("embedding"))).as("sxy_arr"),
      graft.functions.VecSumAgg.vec_sum128(fixedE).as("s_arr"),
      count(lit(1)).as("n_vecs"))
    // (pos → i,j) in the kernel's row-major i≤j layout, derived from
    // one row (dim is constant); 1-based to match the oracle's unnest
    val mapping = emb.limit(1)
      .select(posexplode(flatten(transform(
        sequence(lit(1), size(col("embedding"))),
        i => transform(
          sequence(i, size(col("embedding"))),
          j => struct(i.as("i"), j.as("j"))))))
        .as(Seq("pos", "ij")))
      .select(col("pos"), col("ij.i"), col("ij.j"))
    one
      .select(col("s_arr"), col("n_vecs"),
        posexplode(col("sxy_arr")).as(Seq("pos", "sxy")))
      .join(broadcast(mapping), "pos")
      .select(col("i").as("dim_i"), col("j").as("dim_j"),
        round(
          (col("sxy").cast("double") / lit(1.0e14)
            - (element_at(col("s_arr"), col("i")).cast("double") / lit(1.0e7))
              * (element_at(col("s_arr"), col("j")).cast("double") / lit(1.0e7))
              / col("n_vecs"))
            / col("n_vecs"), 6).cast("decimal(18,6)")
          // double final (exact cast of the 6dp value): see pmi note —
          // decimal finals hash differently in the driver's compare.
          .cast("double").as("cov"))
  }

  /** E46: user journey paths — the top event-type sequences users
    * actually follow (first 5 events per user in event-time order),
    * the path-mining view behind funnel design and UX anomaly
    * triage. One keyed window exchange (user) bounds the per-user
    * state at 5 events; the path frame that feeds the final count is
    * one short string per user, so the top-20 cut is a TakeOrdered
    * over |users| rows, never |events|.
    */
  def userPaths(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .select(col("user_id"), col("event_type"), nsToUs(col("ts")).as("t"),
        col("event_id"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
    val first5 = ev.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
    // collect_list is merge-order-nondeterministic; the sort on the
    // (t, event_id, type) struct restores the total event-time order
    val paths = first5.groupBy(col("user_id")).agg(
      array_join(
        transform(
          array_sort(collect_list(struct(col("t"), col("event_id"), col("event_type")))),
          s => s.getField("event_type")),
        ">").as("path"))
    paths.groupBy(col("path")).agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path"))
      .limit(20)
  }

  val userPathsSql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS t, event_id,
      |    row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
      |      AS rn
      |  FROM events),
      |p AS (
      |  SELECT user_id, string_agg(event_type, '>' ORDER BY t, event_id) AS path
      |  FROM e WHERE rn <= 5 GROUP BY user_id)
      |SELECT path, COUNT(*) AS n_users
      |FROM p GROUP BY path
      |ORDER BY n_users DESC, path
      |LIMIT 20""".stripMargin

  /** E47: inter-arrival time distribution — per event type, the exact
    * interpolated p50/p90 of the gap between a user's consecutive
    * events of that type (the cadence profile feeding session-gap and
    * staleness thresholds). The lag window keys on (user, type) —
    * high-cardinality, never a single-reducer global order.
    *
    * The interpolation is restated in INTEGER micro-units (the r6 8×
    * sweep caught engine `percentile`/`quantile_cont` drifting by one
    * ulp at 8× operand magnitudes): with 0-indexed rank r = (n−1)·p
    * over p = num/den, lo = ⌊(n−1)·num / den⌋ and rem = (n−1)·num mod
    * den, the interpolated value is
    * `(x[lo]·(den−rem) + x[lo+1]·rem) / den` — an EXACT BIGINT
    * numerator (gaps are integer µs) and ONE final IEEE division both
    * engines perform on identical operands. The per-type rank window
    * gathers the same per-group value set the former holistic
    * percentile buffer did; event-type cardinality bounds both.
    */
  def interarrival(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .select(col("user_id"), col("event_type"), nsToUs(col("ts")).as("t"),
        col("event_id"))
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("t"), col("event_id"))
    val gaps = ev.select(col("event_type"),
        (col("t") - lag(col("t"), 1).over(w)).as("gap_us"))
      .filter(col("gap_us").isNotNull)
    val wr = Window.partitionBy(col("event_type")).orderBy(col("gap_us"))
    val ranked = gaps
      .withColumn("rn", row_number().over(wr).cast("long"))
      .withColumn("n_gaps", count(lit(1)).over(
        Window.partitionBy(col("event_type"))))
    def interpNum(num: Int, den: Int): Column = {
      val lo = expr(s"((n_gaps - 1) * $num) div $den") + lit(1L) // 1-based
      val rem = expr(s"((n_gaps - 1) * $num) % $den")
      sum(when(col("rn") === lo, col("gap_us") * (lit(den.toLong) - rem))
        .when(col("rn") === lo + 1 && rem > 0, col("gap_us") * rem)
        .otherwise(lit(0L)))
    }
    ranked.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"),
        round(interpNum(1, 2).cast("double") / lit(2.0), 4).as("p50_gap_us"),
        round(interpNum(9, 10).cast("double") / lit(10.0), 4).as("p90_gap_us"))
  }

  val interarrivalSql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS t, event_id FROM events),
      |g AS (
      |  SELECT event_type,
      |    t - lag(t) OVER (PARTITION BY user_id, event_type ORDER BY t, event_id)
      |      AS gap_us
      |  FROM e),
      |r AS (
      |  SELECT event_type, gap_us,
      |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY gap_us) AS BIGINT) AS rn,
      |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_gaps
      |  FROM g WHERE gap_us IS NOT NULL)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_gaps,
      |  round(CAST(CAST(SUM(
      |    CASE WHEN rn = ((n_gaps - 1) * 1) // 2 + 1
      |         THEN gap_us * (2 - ((n_gaps - 1) * 1) % 2)
      |         WHEN rn = ((n_gaps - 1) * 1) // 2 + 2 AND ((n_gaps - 1) * 1) % 2 > 0
      |         THEN gap_us * (((n_gaps - 1) * 1) % 2)
      |         ELSE 0 END) AS BIGINT) AS DOUBLE) / 2.0, 4) AS p50_gap_us,
      |  round(CAST(CAST(SUM(
      |    CASE WHEN rn = ((n_gaps - 1) * 9) // 10 + 1
      |         THEN gap_us * (10 - ((n_gaps - 1) * 9) % 10)
      |         WHEN rn = ((n_gaps - 1) * 9) // 10 + 2 AND ((n_gaps - 1) * 9) % 10 > 0
      |         THEN gap_us * (((n_gaps - 1) * 9) % 10)
      |         ELSE 0 END) AS BIGINT) AS DOUBLE) / 10.0, 4) AS p90_gap_us
      |FROM r GROUP BY event_type""".stripMargin

  /** E48: time-decay engagement score — per user, Σ value·0.5^(age in
    * weeks) against the feed's high-water mark: the recency-weighted
    * activity metric behind churn scoring and freshness-aware ranking.
    * Map-only terms + one keyed partial aggregate.
    *
    * Portability: the half-life weight 0.5^k is an EXACT power of two,
    * so value·weight is exact scaling (exponent shift, no rounding) in
    * both engines; the product fixes ONCE to 6 dp and sums as exact
    * decimals (§8 — order-independent), with one final cast.
    */
  def decayScore(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .select(col("user_id"), col("value"), nsToUs(col("ts")).as("t"))
    val hwm = ev.agg(max(col("t")).as("max_t"))
    val weekUs = 7L * 86400L * 1000000L
    ev.crossJoin(broadcast(hwm))
      .select(col("user_id"),
        round(col("value") * pow(lit(0.5),
            call_function("div", col("max_t") - col("t"), lit(weekUs))), 6)
          .cast("decimal(28,6)").as("term"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("term")).cast("double").as("decay_score"))
  }

  val decayScoreSql: String =
    """WITH e AS (
      |  SELECT user_id, value, epoch_us(ts) AS t FROM events),
      |h AS (SELECT MAX(t) AS max_t FROM e),
      |terms AS (
      |  SELECT user_id,
      |    CAST(round(value * power(0.5, (max_t - t) // 604800000000), 6)
      |      AS DECIMAL(28,6)) AS term
      |  FROM e CROSS JOIN h)
      |SELECT user_id, COUNT(*) AS n_events,
      |  CAST(SUM(term) AS DOUBLE) AS decay_score
      |FROM terms GROUP BY user_id""".stripMargin

  /** E49: co-purchase affinity (market basket) — for each part, the
    * top-3 parts most often appearing in the same order: the classic
    * co-occurrence recommender primitive. The self-join is blocked by
    * order key (per-order line counts bound the quadratic — ~4 lines
    * per TPC-H order, and real baskets are similarly capped), so the
    * exchange carries (orderkey, partkey) pairs and then (p1, p2)
    * partial counts; the ranking window runs over the pair-COUNTS
    * frame, never over lineitem.
    */
  def copurchase(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir).lineitem
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    // ONE (orderkey) exchange builds per-order baskets; the quadratic
    // pair expansion happens MAP-SIDE over each (bounded-size) basket
    // via the native pair kernel — a self-join on orderkey would
    // exchange lineitem TWICE for the same pair multiset (measured
    // 21→8 MB shuffled at sf0.1)
    val pairs = basketPairs(li)
      .select(col("p1").as("pk"), col("p2").as("pk2"))
    // count each unordered pair once, then emit both directions so
    // every part ranks its neighbors — via a map-side explode ABOVE the
    // aggregate: a unionAll of two projections re-runs the basket
    // collect + pair count per branch (ReuseExchange does not
    // canonicalize across the differing projections)
    val counts = pairs.groupBy(col("pk"), col("pk2")).agg(count(lit(1)).as("n_co"))
    val directed = counts
      .select(explode(array(
        struct(col("pk").as("part"), col("pk2").as("other"), col("n_co")),
        struct(col("pk2").as("part"), col("pk").as("other"), col("n_co")))).as("e"))
      .select(col("e.part").as("part"), col("e.other").as("other"),
        col("e.n_co").as("n_co"))
    // rank through the bounded-heap TopKAgg: each task ships ≤3
    // (score, other) pairs per part — a row_number window here would
    // exchange the full directed pair-counts frame (measured 2×: the
    // directed union is nearly pair-count-sized at any scale)
    directed.groupBy(col("part"))
      .agg(graft.functions.TopKAgg.top_k(
        struct(col("n_co").cast("double"), col("other")), 3).as("top"))
      .select(col("part"), posexplode(col("top")).as(Seq("idx", "e")))
      .select(col("part"), col("e.id").as("other"),
        col("e.score").cast("long").as("n_co"),
        (col("idx") + 1).cast("int").as("rk"))
  }

  val copurchaseSql: String =
    """WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |pairs AS (
      |  SELECT a.pk, b.pk AS pk2
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
      |c AS (SELECT pk, pk2, COUNT(*) AS n_co FROM pairs GROUP BY pk, pk2),
      |d AS (
      |  SELECT pk AS part, pk2 AS other, n_co FROM c
      |  UNION ALL
      |  SELECT pk2 AS part, pk AS other, n_co FROM c),
      |r AS (
      |  SELECT part, other, n_co,
      |    row_number() OVER (PARTITION BY part ORDER BY n_co DESC, other) AS rk
      |  FROM d)
      |SELECT part, other, n_co, CAST(rk AS INTEGER) AS rk
      |FROM r WHERE rk <= 3""".stripMargin

  /** C60: source vocabulary overlap — pairwise Jaccard similarity of
    * the distinct-token vocabularies of each corpus source: the
    * corpus-composition diagnostic that flags near-redundant sources
    * before mixture weighting (and the cheap screen before
    * document-level cross-source dedup). Shuffles (source, token)
    * DISTINCT pairs (vocabulary-sized, not corpus-sized); the
    * token-keyed self-join fans out only to the handful of sources a
    * token appears in, so the quadratic is bounded by |sources|² per
    * token.
    */
  def vocabOverlap(spark: SparkSession, dir: String): DataFrame = {
    val st = Tables(spark, dir).documents
      .select(col("source"), explode(split(col("text"), " ")).as("token"))
      .distinct()
    val sizes = st.groupBy(col("source")).agg(count(lit(1)).as("n_tok"))
    val inter = st.as("a")
      .join(st.withColumnRenamed("source", "source2").as("b"), Seq("token"))
      .filter(col("source") < col("source2"))
      .groupBy(col("source"), col("source2"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(broadcast(sizes).withColumnRenamed("source", "s").withColumnRenamed("n_tok", "n_a"),
        col("source") === col("s")).drop("s")
      .join(broadcast(sizes).withColumnRenamed("source", "s").withColumnRenamed("n_tok", "n_b"),
        col("source2") === col("s")).drop("s")
      .select(col("source").as("source_a"), col("source2").as("source_b"),
        col("n_a"), col("n_b"), col("n_inter"),
        round(col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")), 6)
          .as("jaccard"))
  }

  val vocabOverlapSql: String =
    """WITH st AS (
      |  SELECT DISTINCT source, token
      |  FROM (SELECT source, unnest(string_split(text, ' ')) AS token
      |        FROM documents)),
      |sz AS (SELECT source, COUNT(*) AS n_tok FROM st GROUP BY source),
      |i AS (
      |  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_inter
      |  FROM st a JOIN st b ON a.token = b.token AND a.source < b.source
      |  GROUP BY a.source, b.source)
      |SELECT source_a, source_b, za.n_tok AS n_a, zb.n_tok AS n_b, n_inter,
      |  round(CAST(n_inter AS DOUBLE) / (za.n_tok + zb.n_tok - n_inter), 6)
      |    AS jaccard
      |FROM i
      |JOIN sz za ON i.source_a = za.source
      |JOIN sz zb ON i.source_b = zb.source""".stripMargin

  /** E51: cohort LTV curves — customers grouped by first-order month;
    * for each cohort and month-of-life, the cumulative revenue per
    * cohort member (the lifetime-value curve growth teams read next to
    * E25's retention triangle). Money stays decimal-exact through the
    * per-(cohort, age) partials AND the cumulative window — the window
    * runs over the cohort × age COUNTS frame (bounded by months², not
    * customers), and the only customer-keyed exchange is the
    * first-order aggregate.
    */
  def cohortLtv(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir).orders
      .select(col("o_custkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1).as("m"),
        dec(col("o_totalprice")).as("rev"))
    val firstM = o.groupBy(col("o_custkey")).agg(min(col("m")).as("m0"))
    val cohortSize = firstM.groupBy(col("m0")).agg(count(lit(1)).as("n_customers"))
    val aged = o.join(firstM, "o_custkey")
      .groupBy(col("m0"), (col("m") - col("m0")).as("age_months"))
      .agg(sum(col("rev")).as("cohort_rev"))
    val w = Window.partitionBy(col("m0")).orderBy(col("age_months"))
    aged
      .select(col("m0"), col("age_months"),
        sum(col("cohort_rev")).over(w).as("cum_rev"))
      .join(broadcast(cohortSize), "m0")
      .select(
        concat(
          format_string("%04d", call_function("div", col("m0"), lit(12L))),
          lit("-"),
          format_string("%02d", col("m0") % 12 + 1)).as("cohort_month"),
        col("age_months"), col("n_customers"),
        (col("cum_rev").cast("double") / col("n_customers")).as("ltv_per_customer"))
  }

  val cohortLtvSql: String =
    """WITH o AS (
      |  SELECT o_custkey,
      |    year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m,
      |    CAST(o_totalprice AS DECIMAL(18,2)) AS rev
      |  FROM orders),
      |f AS (SELECT o_custkey, MIN(m) AS m0 FROM o GROUP BY o_custkey),
      |cs AS (SELECT m0, COUNT(*) AS n_customers FROM f GROUP BY m0),
      |aged AS (
      |  SELECT f.m0, o.m - f.m0 AS age_months, SUM(rev) AS cohort_rev
      |  FROM o JOIN f ON o.o_custkey = f.o_custkey
      |  GROUP BY f.m0, o.m - f.m0),
      |c AS (
      |  SELECT m0, age_months,
      |    SUM(cohort_rev) OVER (PARTITION BY m0 ORDER BY age_months) AS cum_rev
      |  FROM aged)
      |SELECT printf('%04d-%02d', m0 // 12, m0 % 12 + 1) AS cohort_month,
      |  age_months, n_customers,
      |  CAST(cum_rev AS DOUBLE) / n_customers AS ltv_per_customer
      |FROM c JOIN cs USING (m0)""".stripMargin

  /** C62: distinctive terms per source — smoothed log-odds of each
    * token in one source against the rest of the corpus (Monroe et
    * al.'s "fightin' words" scoring), the corpus-characterization
    * report that names WHAT each source contributes to the mixture.
    * One (token, source) count pass (vocabulary-sized partials), the
    * per-source/global totals re-enter as 1-row broadcasts, and the
    * log-odds is ONE fixed IEEE expression over exact integers,
    * 6 dp-rounded before the deterministic top-5 cut.
    */
  // r12 measured-and-reverted (guide §1): the ×1 fan-out scope + final
  // checkpoint that won on ks/gini/curriculum measured SLOWER here
  // (min-of-3 solo 0.71 → 0.81 s) — the corpus-sized token explode
  // dominates and the checkpoint barrier only adds to it.
  def distinctiveTerms(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables(spark, dir).documents
      .select(col("source"), explode(split(col("text"), " ")).as("token"))
    val cs = tok.groupBy(col("source"), col("token")).agg(count(lit(1)).as("c_s"))
    val ct = cs.groupBy(col("token")).agg(sum(col("c_s")).as("c_all"))
    val ns = cs.groupBy(col("source")).agg(sum(col("c_s")).as("n_s"))
    val nAll = ns.agg(sum(col("n_s")).as("n_all"))
    val scored = cs.join(ct, "token").join(broadcast(ns), "source")
      .crossJoin(broadcast(nAll))
      .select(col("source"), col("token"), col("c_s"),
        round(
          log((col("c_s") + 0.5) / (col("n_s") - col("c_s") + 0.5))
            - log((col("c_all") - col("c_s") + 0.5)
              / (col("n_all") - col("n_s") - (col("c_all") - col("c_s")) + 0.5)),
          6).as("log_odds"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("log_odds").desc, col("token"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("source"), col("token"), col("c_s"), col("log_odds"), col("rk"))
  }

  val distinctiveTermsSql: String =
    """WITH tok AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS token FROM documents),
      |cs AS (SELECT source, token, COUNT(*) AS c_s FROM tok GROUP BY source, token),
      |ct AS (SELECT token, CAST(SUM(c_s) AS BIGINT) AS c_all FROM cs GROUP BY token),
      |ns AS (SELECT source, CAST(SUM(c_s) AS BIGINT) AS n_s FROM cs GROUP BY source),
      |na AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n_all FROM ns),
      |s AS (
      |  SELECT source, token, c_s,
      |    round(
      |      ln((c_s + 0.5) / (n_s - c_s + 0.5))
      |        - ln((c_all - c_s + 0.5) / (n_all - n_s - (c_all - c_s) + 0.5)),
      |      6) AS log_odds
      |  FROM cs JOIN ct USING (token) JOIN ns USING (source) CROSS JOIN na),
      |r AS (
      |  SELECT source, token, c_s, log_odds,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY log_odds DESC, token) AS rk
      |  FROM s)
      |SELECT source, token, c_s, log_odds, CAST(rk AS INTEGER) AS rk
      |FROM r WHERE rk <= 5""".stripMargin

  /** E54: PageRank over the co-purchase graph — the canonical iterative
    * graph algorithm (product importance here; the same plan shape is
    * domain/site authority on a link graph). Three synchronous rounds,
    * each ONE edge-keyed join + ONE destination-keyed partial-count
    * aggregate — the Pregel step expressed relationally, so AQE/codegen
    * apply and nothing is driver-resident but the 1-row node count.
    *
    * Determinism (§8, strengthened): the rank is FIXED-POINT — integer
    * billionths end to end. Contributions are floor-divided longs, the
    * damping update is `150000000÷N + (85·Σ)÷100` in int64, and sums
    * are exact by type — so no engine's `round(double)` boundary can
    * ever flip a digit (9-dp float rounding across 3 rounds × |V|
    * nodes DID flip one at sf0.01; integers cannot). Fixed iteration
    * count keeps the plan static and the oracle expressible —
    * convergence-looped PageRank is the same round repeated, with a
    * driver-side delta check per round.
    */
  def pagerank(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir).lineitem
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    // distinct edge set via the native pair kernel; localCheckpoint
    // cuts lineage so the 3 fixed-point rounds (and the degree/size
    // frames) don't re-expand the baskets per branch
    // One chained 3-round plan at scan width: the per-round frames are
    // |E|-sized (the und-side join dominates), so narrowing the width
    // or checkpointing per round was MEASURED SLOWER at sf0.1 (3.7 s
    // chained vs 6.0 s with 8-partition eager rounds) — the fixed
    // iteration count keeps the chain shallow enough that exchange
    // reuse beats materialization. Contrast componentsOn, whose
    // unbounded iteration count forces eager rounds.
    val e0 = basketPairs(li).distinct().localCheckpoint(true)
    val und = e0.select(col("p1").as("src"), col("p2").as("dst"))
      .unionAll(e0.select(col("p2").as("src"), col("p1").as("dst")))
    val deg = und.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val n = deg.agg(count(lit(1)).as("nn"))
    def idiv(a: Column, b: Column): Column = call_function("div", a, b)
    var pr = deg.crossJoin(broadcast(n))
      .select(col("src").as("node"), col("deg"),
        idiv(lit(1000000000L), col("nn")).as("pr_e9"))
    for (_ <- 1 to 3) {
      val contribs = und.join(pr, col("src") === col("node"))
        .select(col("dst"), idiv(col("pr_e9"), col("deg")).as("c"))
      val sums = contribs.groupBy(col("dst")).agg(sum(col("c")).as("s"))
      pr = deg.crossJoin(broadcast(n))
        .join(sums, col("src") === col("dst"), "left")
        .select(col("src").as("node"), col("deg"),
          (idiv(lit(150000000L), col("nn"))
            + idiv(lit(85L) * coalesce(col("s"), lit(0L)), lit(100L))).as("pr_e9"))
    }
    pr.select(col("node").as("part"), col("pr_e9"))
      .orderBy(col("pr_e9").desc, col("part"))
      .limit(20)
  }

  val pagerankSql: String = {
    def round_(i: Int): String =
      s"""c$i AS (
         |  SELECT und.dst, pr_e9 // pr${i - 1}.deg AS c
         |  FROM und JOIN pr${i - 1} ON und.src = pr${i - 1}.node),
         |s$i AS (SELECT dst, CAST(SUM(c) AS BIGINT) AS s FROM c$i GROUP BY dst),
         |pr$i AS (
         |  SELECT node, deg,
         |    150000000 // nn + (85 * COALESCE(s, 0)) // 100 AS pr_e9
         |  FROM pr${i - 1} LEFT JOIN s$i ON node = dst CROSS JOIN n)""".stripMargin
    s"""WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |e0 AS (
       |  SELECT DISTINCT a.pk AS p1, b.pk AS p2
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
       |und AS (
       |  SELECT p1 AS src, p2 AS dst FROM e0
       |  UNION ALL
       |  SELECT p2 AS src, p1 AS dst FROM e0),
       |deg AS (SELECT src, COUNT(*) AS deg FROM und GROUP BY src),
       |n AS (SELECT COUNT(*) AS nn FROM deg),
       |pr0 AS (
       |  SELECT src AS node, deg, 1000000000 // nn AS pr_e9
       |  FROM deg CROSS JOIN n),
       |${round_(1)},
       |${round_(2)},
       |${round_(3)}
       |SELECT node AS part, CAST(pr_e9 AS BIGINT) AS pr_e9
       |FROM pr3 ORDER BY pr_e9 DESC, node LIMIT 20""".stripMargin
  }

  /** E53: DAU / trailing-7-day WAU / stickiness — the engagement
    * dashboard every product ships. Exact windowed distinct users
    * WITHOUT a per-day re-scan: the (day, user) distinct pairs fan out
    * map-side to the ≤7 observation days they support, and one distinct
    * + count per observation day finishes it. Shuffle is bounded at 7×
    * the distinct (day, user) pairs — never events — and there is no
    * sliding-window state or driver loop.
    */
  def activeUsers(spark: SparkSession, dir: String): DataFrame = {
    val du = Tables(spark, dir).events
      .select(to_date(nsToTimestamp(col("ts"))).as("day"), col("user_id"))
      .distinct()
    val dau = du.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = du
      .select(col("user_id"),
        explode(transform(sequence(lit(0), lit(6)),
          i => date_add(col("day"), i))).as("obs_day"))
      .distinct()
      .groupBy(col("obs_day")).agg(count(lit(1)).as("wau"))
    dau.join(wau, col("day") === col("obs_day"))
      .select(col("day"), col("dau"), col("wau"),
        round(col("dau").cast("double") / col("wau"), 6).as("stickiness"))
  }

  val activeUsersSql: String =
    """WITH du AS (
      |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
      |dau AS (SELECT day, COUNT(*) AS dau FROM du GROUP BY day),
      |c AS (
      |  SELECT DISTINCT day + CAST(i AS INTEGER) AS obs_day, user_id
      |  FROM du, unnest(range(0, 7)) AS t(i)),
      |wau AS (SELECT obs_day, COUNT(*) AS wau FROM c GROUP BY obs_day)
      |SELECT day, dau, wau,
      |  round(CAST(dau AS DOUBLE) / wau, 6) AS stickiness
      |FROM dau JOIN wau ON day = obs_day""".stripMargin

  /** C63: participation-ratio effective dimension — the
    * embedding-collapse diagnostic: PR(Σ) = trace(Σ)² / ‖Σ‖²_F equals
    * the number of dimensions carrying variance when the spectrum is
    * flat and →1 as it collapses (the standard eigen-free proxy for
    * effective rank). ONE tiny aggregate over C59's dim²-sized
    * covariance frame — the corpus-sized work was already paid by the
    * single-pass covariance kernel. Squared terms fix to 12 dp and sum
    * as exact decimals (§8).
    */
  def embedPrDim(spark: SparkSession, dir: String): DataFrame = {
    val cov = embedCov(spark, dir)
    // cov's final is a DOUBLE carrying an exact 6dp value (driver-hash
    // discipline); re-fix it as decimal so the trace sum stays exact
    // decimal arithmetic (the cast is exact: the double IS a 6dp value).
    val terms = cov.select(
      when(col("dim_i") === col("dim_j"), col("cov").cast("decimal(18,6)"))
        .otherwise(lit(null))
        .as("diag"),
      round(col("cov").cast("double") * col("cov").cast("double")
          * when(col("dim_i") === col("dim_j"), 1.0).otherwise(2.0), 12)
        .cast("decimal(28,12)").as("sq"))
    terms.agg(
        sum(col("diag")).as("tr"),
        sum(col("sq")).as("fr"),
        count(col("diag")).as("n_dims"))
      .select(col("n_dims"),
        col("tr").cast("double").as("trace"),
        round(col("fr").cast("double"), 8).as("frob_sq"),
        round(col("tr").cast("double") * col("tr").cast("double")
            / col("fr").cast("double"), 4).as("pr_dim"))
  }

  // lazy: interpolates embedCovSql, which is declared later in this object
  lazy val embedPrDimSql: String =
    s"""WITH cov AS (
       |$embedCovSql
       |),
       |terms AS (
       |  SELECT
       |    CASE WHEN dim_i = dim_j THEN CAST(cov AS DECIMAL(18,6)) END AS diag,
       |    CAST(round(CAST(cov AS DOUBLE) * CAST(cov AS DOUBLE)
       |      * CASE WHEN dim_i = dim_j THEN 1.0 ELSE 2.0 END, 12)
       |      AS DECIMAL(28,12)) AS sq
       |  FROM cov)
       |SELECT COUNT(diag) AS n_dims,
       |  CAST(SUM(diag) AS DOUBLE) AS trace,
       |  round(CAST(SUM(sq) AS DOUBLE), 8) AS frob_sq,
       |  round(CAST(SUM(diag) AS DOUBLE) * CAST(SUM(diag) AS DOUBLE)
       |    / CAST(SUM(sq) AS DOUBLE), 4) AS pr_dim
       |FROM terms""".stripMargin

  /** E55: seasonality profile — each calendar month's average share of
    * its year's revenue (the seasonal index planners deseasonalize
    * with). Shares are one fixed IEEE division per (year, month) off
    * exact decimal partials, 6 dp-fixed, then averaged exactly across
    * years — order-independent end to end; every frame past the first
    * partial aggregate is months²-bounded.
    */
  def seasonality(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir).lineitem
      .select(year(col("l_shipdate")).as("yr"), month(col("l_shipdate")).as("mo"),
        dec(col("l_extendedprice")).as("rev"))
    val ym = li.groupBy(col("yr"), col("mo")).agg(sum(col("rev")).as("m_rev"))
    val w = Window.partitionBy(col("yr"))
    val shares = ym.select(col("yr"), col("mo"),
      round(col("m_rev").cast("double") / sum(col("m_rev")).over(w).cast("double"), 6)
        .cast("decimal(18,6)").as("share"))
    shares.groupBy(col("mo"))
      .agg(count(lit(1)).as("n_years"),
        round(sum(col("share")).cast("double") / count(lit(1)), 6)
          .as("avg_rev_share"))
  }

  val seasonalitySql: String =
    """WITH li AS (
      |  SELECT year(l_shipdate) AS yr, month(l_shipdate) AS mo,
      |    CAST(l_extendedprice AS DECIMAL(18,2)) AS rev
      |  FROM lineitem),
      |ym AS (SELECT yr, mo, SUM(rev) AS m_rev FROM li GROUP BY yr, mo),
      |sh AS (
      |  SELECT yr, mo,
      |    CAST(round(CAST(m_rev AS DOUBLE)
      |      / CAST(SUM(m_rev) OVER (PARTITION BY yr) AS DOUBLE), 6)
      |      AS DECIMAL(18,6)) AS share
      |  FROM ym)
      |SELECT mo, COUNT(*) AS n_years,
      |  round(CAST(SUM(share) AS DOUBLE) / COUNT(*), 6) AS avg_rev_share
      |FROM sh GROUP BY mo""".stripMargin

  /** E67: lag-1..7 autocorrelation of daily revenue — the
    * periodicity/memory fingerprint read before fitting any
    * forecasting or anomaly model on a metric series (weekly cycles
    * show as a lag-7 peak).
    *
    * Determinism: the series is exact integer cents per day; every
    * Pearson partial (Σx, Σy, Σxy, Σx², Σy², n) is summed as EXACT
    * decimal(38,0) over per-pair products formed in decimal — no
    * int64 overflow at any SF, no float merge-order. Each r_k is ONE
    * fixed IEEE expression over those exact aggregates (the oracle's
    * HUGEINT partials cast to double the same way).
    *
    * Scale shape: the daily rollup is a map-combinable groupBy to
    * |days| rows; the 7 lag pairings are a |days|×7 self-join on the
    * integer epoch-day — everything downstream of the first aggregate
    * is calendar-bounded, not corpus-bounded.
    */
  def autocorr(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir).lineitem
      .groupBy(col("l_shipdate").cast("date").as("day"))
      .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long")).as("rc"))
      .select(datediff(col("day"), to_date(lit("1970-01-01"))).cast("long").as("di"),
        col("rc"))
    val lags = spark.range(1, 8).select(col("id").as("lag"))
    def d38(c: Column): Column = c.cast("decimal(38,0)")
    val pairs = daily.as("a").crossJoin(lags)
      .join(daily.as("b"), col("a.di") + col("lag") === col("b.di"))
      .select(col("lag"), col("a.rc").as("x"), col("b.rc").as("y"))
    pairs.groupBy(col("lag"))
      .agg(count(lit(1)).as("n"),
        sum(d38(col("x"))).as("sx"), sum(d38(col("y"))).as("sy"),
        sum(d38(col("x")) * d38(col("y"))).as("sxy"),
        sum(d38(col("x")) * d38(col("x"))).as("sxx"),
        sum(d38(col("y")) * d38(col("y"))).as("syy"))
      .select(col("lag"), col("n").as("n_pairs"),
        ((d38(col("n")) * col("sxy") - col("sx") * col("sy")).cast("double")
          / sqrt((d38(col("n")) * col("sxx") - col("sx") * col("sx")).cast("double")
            * (d38(col("n")) * col("syy") - col("sy") * col("sy")).cast("double")))
          .as("r"))
  }

  val autocorrSql: String =
    """WITH daily AS (
      |  SELECT datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS di,
      |    CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS rc
      |  FROM lineitem GROUP BY 1),
      |pairs AS (
      |  SELECT lag, a.rc AS x, b.rc AS y
      |  FROM daily a
      |  CROSS JOIN (SELECT unnest(range(1, 8)) AS lag) l
      |  JOIN daily b ON a.di + lag = b.di),
      |s AS (
      |  SELECT lag, COUNT(*) AS n,
      |    SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
      |    SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
      |    SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
      |    SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy
      |  FROM pairs GROUP BY lag)
      |SELECT CAST(lag AS BIGINT) AS lag, n AS n_pairs,
      |  CAST(n * sxy - sx * sy AS DOUBLE)
      |    / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
      |         * CAST(n * syy - sy * sy AS DOUBLE)) AS r
      |FROM s""".stripMargin

  /** E68: co-purchase graph degree distribution — the scale-free-ness
    * profile (how heavy is the hub tail) read before choosing graph
    * algorithms or partitioning strategies; hub parts are the skew
    * keys every downstream graph join must plan for. Reuses E62's
    * support≥2 edge builder (one basket exchange + map-side pair
    * kernel); both groupBys are map-combinable over |V|- then
    * degree-bounded frames.
    */
  def degreeDist(spark: SparkSession, dir: String): DataFrame = {
    val e = basketEdges(Tables(spark, dir).lineitem
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")))
    // both endpoints via a map-side explode — a unionAll of two selects
    // re-runs the basket-collect + edge aggregate per branch
    val deg = e.select(explode(array(col("p1"), col("p2"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    deg.groupBy(col("d").as("degree")).agg(count(lit(1)).as("n_parts"))
  }

  val degreeDistSql: String =
    """WITH li AS (
      |  SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |pairs AS (
      |  SELECT a.pk AS p1, b.pk AS p2
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
      |e AS (
      |  SELECT p1, p2 FROM pairs GROUP BY p1, p2 HAVING COUNT(*) >= 2),
      |deg AS (
      |  SELECT n, CAST(COUNT(*) AS BIGINT) AS d
      |  FROM (SELECT p1 AS n FROM e UNION ALL SELECT p2 AS n FROM e)
      |  GROUP BY n)
      |SELECT d AS degree, CAST(COUNT(*) AS BIGINT) AS n_parts
      |FROM deg GROUP BY d""".stripMargin

  /** E56: growth accounting — the period-over-period user ledger every
    * growth team closes: new (first-ever period), retained (also
    * active the period before), resurrected (active before, but not
    * last period), churned (active last period, gone this period), at
    * epoch-week grain. One keyed lag window over distinct (user,
    * period) pairs — periods-sized per user, never events — and churn
    * is the same pair set probed one period forward through a
    * left-anti join (no generate-all-periods blowup).
    */
  def growthAccounting(spark: SparkSession, dir: String): DataFrame = {
    // epoch-week grain (the feed spans weeks, not years — a monthly
    // ledger would collapse to one row; the operator is grain-generic)
    val am = Tables(spark, dir).events
      .select(col("user_id"),
        call_function("div", nsToUs(col("ts")), lit(604800000000L)).as("m"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("m"))
    val tagged = am
      .select(col("user_id"), col("m"),
        lag(col("m"), 1).over(w).as("prev_m"),
        min(col("m")).over(Window.partitionBy(col("user_id"))).as("first_m"))
      .select(col("m"),
        when(col("m") === col("first_m"), "new")
          .when(col("prev_m") === col("m") - 1, "retained")
          .otherwise("resurrected").as("status"))
    val active = tagged.groupBy(col("m")).agg(
      sum(when(col("status") === "new", 1L).otherwise(0L)).as("n_new"),
      sum(when(col("status") === "retained", 1L).otherwise(0L)).as("n_retained"),
      sum(when(col("status") === "resurrected", 1L).otherwise(0L)).as("n_resurrected"))
    val churned = am.select(col("user_id"), (col("m") + 1).as("m"))
      .join(am, Seq("user_id", "m"), "left_anti")
      .groupBy(col("m")).agg(count(lit(1)).as("n_churned"))
    active.join(churned, Seq("m"), "left")
      .select(col("m").as("week_idx"),
        col("n_new"), col("n_retained"), col("n_resurrected"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"))
  }

  val growthAccountingSql: String =
    """WITH am AS (
      |  SELECT DISTINCT user_id,
      |    epoch_us(ts) // 604800000000 AS m
      |  FROM events),
      |tagged AS (
      |  SELECT m,
      |    CASE
      |      WHEN m = MIN(m) OVER (PARTITION BY user_id) THEN 'new'
      |      WHEN lag(m) OVER (PARTITION BY user_id ORDER BY m) = m - 1
      |        THEN 'retained'
      |      ELSE 'resurrected'
      |    END AS status
      |  FROM am),
      |active AS (
      |  SELECT m,
      |    CAST(SUM(CASE WHEN status = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
      |    CAST(SUM(CASE WHEN status = 'retained' THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
      |    CAST(SUM(CASE WHEN status = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
      |  FROM tagged GROUP BY m),
      |churned AS (
      |  SELECT a.m + 1 AS m, COUNT(*) AS n_churned
      |  FROM am a
      |  WHERE NOT EXISTS (
      |    SELECT 1 FROM am b WHERE b.user_id = a.user_id AND b.m = a.m + 1)
      |  GROUP BY a.m + 1)
      |SELECT active.m AS week_idx,
      |  n_new, n_retained, n_resurrected,
      |  COALESCE(n_churned, 0) AS n_churned
      |FROM active LEFT JOIN churned ON active.m = churned.m""".stripMargin

  /** E57: Gini concentration of customer revenue — the inequality
    * index behind whale-risk and corpus-source-concentration checks.
    * The size-ordered cumulative position comes from the distributed
    * [[Corpus.globalIndex]] total order (never a single-reducer
    * window); revenue is whole-dollar int64, the rank-weighted terms
    * stay int64 (exact to ~10⁶× this scale), and the Gini is one fixed
    * IEEE expression over two int64→double casts — casts both engines
    * define identically (unlike wide-decimal→double, which E52's
    * checksum dodged for the same reason).
    */
  def gini(spark: SparkSession, dir: String): DataFrame =
      Graft.scoped(spark) { spark =>
    // ×1 fan-out scope (r12, the q_ks_drift diagnosis generalized):
    // every frame past the first rollup is |customers|-bounded, and
    // `rangeParts` reads initialPartitionNum under AQE — so the global
    // ×8 fan-out ran the globalIndex range exchange and its offset
    // passes as 256 near-empty tasks of pure scheduling.
    // Partitioning-only, values unchanged.
    val x = Tables(spark, dir).orders
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice"), 0).cast("long")).as("x"))
    val idx = Corpus.globalIndex(x, Seq(col("x"), col("o_custkey")), "idx")
    idx.agg(
        count(lit(1)).as("n_customers"),
        sum(col("x")).as("s"),
        sum((col("idx") + 1) * col("x")).as("s1"))
      .select(col("n_customers"), col("s").as("total_rev_dollars"),
        round(
          lit(2.0) * col("s1").cast("double")
            / (col("n_customers").cast("double") * col("s").cast("double"))
            - (col("n_customers") + 1).cast("double") / col("n_customers"),
          6).as("gini"))
  }

  val giniSql: String =
    """WITH x AS (
      |  SELECT o_custkey,
      |    CAST(SUM(CAST(round(o_totalprice, 0) AS BIGINT)) AS BIGINT) AS x
      |  FROM orders GROUP BY o_custkey),
      |r AS (
      |  SELECT x, row_number() OVER (ORDER BY x, o_custkey) AS rk FROM x)
      |SELECT COUNT(*) AS n_customers,
      |  CAST(SUM(x) AS BIGINT) AS total_rev_dollars,
      |  round(
      |    2.0 * CAST(SUM(rk * x) AS DOUBLE)
      |      / (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(x) AS DOUBLE))
      |      - CAST(COUNT(*) + 1 AS DOUBLE) / COUNT(*),
      |    6) AS gini
      |FROM r""".stripMargin

  /** E58: burstiness (Fano factor) per event type — variance/mean of
    * DAILY event counts: ≈1 is Poisson-uniform traffic, ≫1 is bursty
    * (incident retries, bot storms, templated crawls). Daily counts
    * are exact integers, the moments are exact integer sums, and the
    * Fano is one fixed IEEE expression per type — the E27 engine-exact
    * moment discipline on a counting process.
    */
  def burstiness(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir).events
      .groupBy(col("event_type"), to_date(nsToTimestamp(col("ts"))).as("day"))
      .agg(count(lit(1)).as("c"))
    daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("c")).as("sc"), sum(col("c") * col("c")).as("sc2"))
      .select(col("event_type"), col("n_days"),
        round(col("sc").cast("double") / col("n_days"), 6).as("mean_daily"),
        round(
          (col("sc2").cast("double") / col("n_days")
            - (col("sc").cast("double") / col("n_days"))
              * (col("sc").cast("double") / col("n_days")))
            / (col("sc").cast("double") / col("n_days")),
          6).as("fano"))
  }

  val burstinessSql: String =
    """WITH d AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
      |  FROM events GROUP BY event_type, CAST(ts AS DATE)),
      |m AS (
      |  SELECT event_type, COUNT(*) AS n_days,
      |    CAST(SUM(c) AS BIGINT) AS sc, CAST(SUM(c * c) AS BIGINT) AS sc2
      |  FROM d GROUP BY event_type)
      |SELECT event_type, n_days,
      |  round(CAST(sc AS DOUBLE) / n_days, 6) AS mean_daily,
      |  round(
      |    (CAST(sc2 AS DOUBLE) / n_days
      |      - (CAST(sc AS DOUBLE) / n_days) * (CAST(sc AS DOUBLE) / n_days))
      |      / (CAST(sc AS DOUBLE) / n_days),
      |    6) AS fano
      |FROM m""".stripMargin

  /** E62: triangle census of the co-purchase graph — the
    * cohesion/community diagnostic (clustering coefficient's
    * numerator). Algorithm is the degree-ordered orientation standard:
    * orient every support-≥2 edge from lower to higher (degree, id) —
    * a total order — so each triangle is counted EXACTLY once, at its
    * π-minimal apex, by one wedge self-join (out-neighbors of the
    * apex, π-ordered) closed by one oriented-edge join. Orientation is
    * what makes this scale: out-degrees under a degree ordering are
    * bounded by O(√|E|) (arboricity), so the wedge exchange is
    * Σ out-deg² ≪ Σ deg² — the naive undirected wedge join explodes
    * on hub nodes (and counts every triangle 3×). Pair generation
    * reuses the ONE-basket-exchange shape of E49; everything after is
    * integer joins on the (small) edge frame.
    */
  def triangles(spark: SparkSession, dir: String): DataFrame =
    trianglesOn(Tables(spark, dir).lineitem
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")))

  /** Library face: triangle census over any (ok, pk) basket-membership
    * frame (edge = pair co-occurring in ≥2 baskets).
    */
  /** Support-≥2 co-occurrence edges (p1 < p2) of a (ok, pk) basket
    * frame — the ONE-basket-exchange pair generation of E49, shared by
    * the triangle census (E62) and connected components (E66).
    */
  private[operators] def basketEdges(li: DataFrame): DataFrame =
    basketPairs(li)
      .groupBy(col("p1"), col("p2"))
      .agg(count(lit(1)).as("n_co")).filter(col("n_co") >= 2)
      .select(col("p1"), col("p2"))

  /** The per-basket i<j pair multiset (p1 < p2, equal-element pairs
    * dropped), expanded map-side by the native [[graft.functions
    * .NativeExprs.pair_array]] kernel — one static call per basket
    * feeding the codegen'd `explode`, where the previous nested
    * `transform`/`flatten` HOF tree allocated interpreted struct
    * arrays per index and dominated every co-purchase operator's
    * profile (2.5 s of a 4 s q_triangles at sf0.1).
    */
  private[operators] def basketPairs(li: DataFrame): DataFrame =
    li.groupBy(col("ok"))
      .agg(sort_array(collect_list(col("pk"))).as("parts"))
      .filter(size(col("parts")) >= 2)
      .select(explode(graft.functions.NativeExprs.pair_array(col("parts")))
        .as("pair"))
      .select(col("pair.p1"), col("pair.p2"))

  def trianglesOn(li: DataFrame): DataFrame = {
    // e is referenced by FOUR plan branches (degrees twice via the
    // union, orientation, closure) — without cutting lineage the
    // basket expansion recomputes per branch; the edge frame is
    // |E|-bounded and exact ints, so one eager localCheckpoint
    // materializes it once for all branches.
    val e = basketEdges(li).localCheckpoint(true)
    val deg = e.select(col("p1").as("n")).unionAll(e.select(col("p2").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val oriented = e
      .join(deg.select(col("n").as("p1"), col("d").as("da")), "p1")
      .join(deg.select(col("n").as("p2"), col("d").as("db")), "p2")
      .select(
        when(struct(col("da"), col("p1")) < struct(col("db"), col("p2")),
          col("p1")).otherwise(col("p2")).as("u"),
        when(struct(col("da"), col("p1")) < struct(col("db"), col("p2")),
          col("p2")).otherwise(col("p1")).as("v"),
        when(struct(col("da"), col("p1")) < struct(col("db"), col("p2")),
          col("db")).otherwise(col("da")).as("dv"))
    val e1 = oriented.select(col("u"), col("v").as("v1"), col("dv").as("dv1"))
    val e2 = oriented.select(col("u"), col("v").as("v2"), col("dv").as("dv2"))
    val wedges = e1.join(e2,
      Seq("u")).filter(struct(col("dv1"), col("v1")) < struct(col("dv2"), col("v2")))
    val closing = oriented.select(col("u").as("v1"), col("v").as("v2"))
    val tri = wedges.join(closing, Seq("v1", "v2"))
      .agg(count(lit(1)).as("n_triangles"))
    val nodes = deg.agg(count(lit(1)).as("n_nodes"))
    val edges = e.agg(count(lit(1)).as("n_edges"))
    nodes.crossJoin(edges).crossJoin(tri)
  }

  val trianglesSql: String =
    """WITH li AS (
      |  SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |pairs AS (
      |  SELECT a.pk AS p1, b.pk AS p2
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
      |e AS (
      |  SELECT p1, p2 FROM pairs GROUP BY p1, p2 HAVING COUNT(*) >= 2),
      |deg AS (
      |  SELECT n, CAST(COUNT(*) AS BIGINT) AS d
      |  FROM (SELECT p1 AS n FROM e UNION ALL SELECT p2 AS n FROM e)
      |  GROUP BY n),
      |o AS (
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

  /** E59: cumulative unique users by day — the audience-accretion
    * ledger. `COUNT(DISTINCT user) OVER (ORDER BY day)` — the direct
    * formulation — funnels every (day, user) pair through ONE reducer;
    * here distinctness becomes a keyed partial aggregate (each user's
    * FIRST day, groupBy user), the per-day new-user frame is at most
    * |days| rows, and the running total rides [[Corpus.prefixSum]]'s
    * two-pass range exchange — every stage keyed, nothing global. The
    * identity `cum_uniques(d) = Σ_{d'≤d} new_users(d')` holds because
    * each user counts exactly once, on their first day.
    */
  def cumUniques(spark: SparkSession, dir: String): DataFrame = {
    val first = Tables(spark, dir).events
      .select(col("user_id"), to_date(nsToTimestamp(col("ts"))).as("day"))
      .groupBy(col("user_id")).agg(min(col("day")).as("day"))
    val daily = first.groupBy(col("day")).agg(count(lit(1)).as("new_users"))
    Corpus.prefixSum(daily, Seq(col("day")), "new_users", "cum0")
      .select(col("day"), col("new_users"),
        (col("cum0") + col("new_users")).as("cum_users"))
  }

  val cumUniquesSql: String =
    """WITH f AS (
      |  SELECT user_id, MIN(CAST(ts AS DATE)) AS day
      |  FROM events GROUP BY user_id),
      |d AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS new_users
      |      FROM f GROUP BY day)
      |SELECT day, new_users,
      |  CAST(SUM(new_users) OVER (ORDER BY day) AS BIGINT) AS cum_users
      |FROM d""".stripMargin

  val embedCovSql: String =
    """WITH f AS (
      |  SELECT vec_id,
      |    list_transform(CAST(embedding AS DOUBLE[]),
      |      v -> CAST(CAST(round(v, 7) AS DECIMAL(18,7)) * 10000000 AS BIGINT)) AS e
      |  FROM embeddings),
      |x AS (
      |  SELECT vec_id, CAST(i AS INTEGER) AS d, e[i] AS xi
      |  FROM f, unnest(range(1, len(e) + 1)) AS t(i)),
      |dims AS (SELECT d, SUM(xi) AS s FROM x GROUP BY d),
      |n AS (SELECT COUNT(*) AS n_vecs FROM f),
      |p AS (
      |  SELECT a.d AS i, b.d AS j, SUM(a.xi * b.xi) AS sxy
      |  FROM x a JOIN x b ON a.vec_id = b.vec_id AND b.d >= a.d
      |  GROUP BY a.d, b.d)
      |SELECT i AS dim_i, j AS dim_j,
      |  CAST(CAST(round(
      |    (CAST(sxy AS DOUBLE) / 1.0e14
      |      - (CAST(si.s AS DOUBLE) / 1.0e7) * (CAST(sj.s AS DOUBLE) / 1.0e7) / n_vecs)
      |      / n_vecs, 6) AS DECIMAL(18,6)) AS DOUBLE) AS cov
      |FROM p
      |JOIN dims si ON p.i = si.d
      |JOIN dims sj ON p.j = sj.d
      |CROSS JOIN n""".stripMargin

  /** E63: last-touch channel attribution — each purchase credits the
    * most recent preceding non-purchase event (the "touch") by the
    * same user; purchases with no prior touch are 'direct'. The
    * carry-forward is `last(..., ignoreNulls) OVER (user, (t, id)
    * ROWS UNBOUNDED PRECEDING TO 1 PRECEDING)` — ONE keyed window
    * exchange (the semantically required one, same cost class as
    * sessionization), never a per-purchase lookback join whose work
    * is purchases × history. The (t, event_id) order key makes the
    * tie-break total, so the credited channel is engine-identical.
    * Revenue sums exact integer cents; the /100 happens once per
    * output row.
    */
  def attribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .select(col("user_id"), col("event_type"), col("event_id"),
        nsToUs(col("ts")).as("t"),
        round(col("value") * 100, 0).cast("long").as("vc"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    ev.withColumn("channel",
        coalesce(
          last(when(col("event_type") =!= "purchase", col("event_type")),
            ignoreNulls = true).over(w),
          lit("direct")))
      .filter(col("event_type") === "purchase")
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_purchases"),
        round(sum(col("vc")).cast("double") / 100.0, 2).as("revenue"))
  }

  val attributionSql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, event_id, epoch_us(ts) AS t,
      |    CAST(round(value * 100, 0) AS BIGINT) AS vc
      |  FROM events),
      |t AS (
      |  SELECT event_type, vc,
      |    COALESCE(last_value(CASE WHEN event_type <> 'purchase'
      |        THEN event_type END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY t, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |      'direct') AS channel
      |  FROM e)
      |SELECT channel, COUNT(*) AS n_purchases,
      |  round(CAST(SUM(vc) AS DOUBLE) / 100.0, 2) AS revenue
      |FROM t WHERE event_type = 'purchase'
      |GROUP BY channel""".stripMargin

  /** E64: A/B experiment readout — deterministic hash arm assignment
    * (the Knuth multiplicative split C17 uses, so assignment is
    * reproducible across runs AND engines), conversion = first
    * purchase within 24 h of the user's first event, two-proportion
    * pooled z-test. Counts are exact integers off one keyed
    * aggregate; the z statistic is ONE fixed IEEE expression over
    * int64 casts (sqrt is correctly rounded by IEEE 754, so both
    * engines produce the identical double). The output is a 1-row
    * frame — at any scale the only exchange is the per-user partial
    * aggregate.
    */
  def abTest(spark: SparkSession, dir: String): DataFrame = {
    val u = Tables(spark, dir).events
      .select(col("user_id"), col("event_type"), nsToUs(col("ts")).as("t"))
      .groupBy(col("user_id")).agg(
        min(col("t")).as("t0"),
        min(when(col("event_type") === "purchase", col("t"))).as("tp"))
      .select(((col("user_id") % 1000) * 2654435761L % 2).as("arm"),
        when(col("tp").isNotNull && col("tp") - col("t0") < 86400000000L, 1L)
          .otherwise(0L).as("conv"))
    val s = u.agg(
      sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("n_b"),
      sum(when(col("arm") === 0L, col("conv")).otherwise(0L)).as("conv_a"),
      sum(when(col("arm") === 1L, col("conv")).otherwise(0L)).as("conv_b"))
    val pA = col("conv_a").cast("double") / col("n_a").cast("double")
    val pB = col("conv_b").cast("double") / col("n_b").cast("double")
    val pp = (col("conv_a") + col("conv_b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    s.select(col("n_a"), col("n_b"),
      round(pA, 6).as("rate_a"), round(pB, 6).as("rate_b"),
      round((pA - pB) / sqrt(pp * (lit(1.0) - pp)
        * (lit(1.0) / col("n_a").cast("double")
          + lit(1.0) / col("n_b").cast("double"))), 4).as("z"))
  }

  val abTestSql: String =
    """WITH u AS (
      |  SELECT user_id, MIN(epoch_us(ts)) AS t0,
      |    MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS tp
      |  FROM events GROUP BY user_id),
      |arms AS (
      |  SELECT (user_id % 1000) * 2654435761 % 2 AS arm,
      |    CASE WHEN tp IS NOT NULL AND tp - t0 < 86400000000 THEN 1 ELSE 0 END AS conv
      |  FROM u),
      |s AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |    CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
      |    CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS conv_b
      |  FROM arms)
      |SELECT n_a, n_b,
      |  round(CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6) AS rate_a,
      |  round(CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6) AS rate_b,
      |  round((CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)
      |       - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))
      |    / sqrt((CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
      |      * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
      |      * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))), 4) AS z
      |FROM s""".stripMargin

  /** E65: Kaplan–Meier time-to-conversion curve — survival S(t) of
    * "hours from first event to first purchase", users who never
    * purchase right-censored at the feed high-water mark (the
    * product-analytics conversion-lag curve; identical machinery
    * serves churn when the data has churners).
    *
    * Engine-exactness: lifetimes are integer hours from integer-µs
    * division; d/at-risk counts are exact int64 (at-risk via ONE
    * descending [[Corpus.prefixSum]] range exchange — `SUM() OVER
    * (ORDER BY t DESC)` without the single-reducer funnel); each
    * hazard factor enters as ln((n−d)/n) of an exact-integer ratio
    * rounded ONCE to integer micro-units, the cumulative log-survival
    * rides a second prefixSum over the (tiny) step frame, and S(t)
    * is exp of the exact micro-unit sum rounded at 4 dp. The only
    * corpus-sized exchange is the per-user aggregate; both prefix
    * passes run on ≤|distinct hours| rows.
    */
  def kaplanMeier(spark: SparkSession, dir: String): DataFrame = Graft.scoped(spark) { spark =>
    // ×1 fan-out scope (r9 VERDICT #4): every exchange past the per-user
    // aggregate is |distinct hours|-bounded; the global ×8 pre-coalesce
    // width taxed the face 2-3× in task scheduling (judge solo 2.48 s,
    // ×1 A/B 1.29 s).
    val ev = Tables(spark, dir).events
      .select(col("user_id"), col("event_type"), nsToUs(col("ts")).as("t"))
    val mx = ev.agg(max(col("t")).as("tmax"))
    val life = ev.groupBy(col("user_id")).agg(
        min(col("t")).as("t0"),
        min(when(col("event_type") === "purchase", col("t"))).as("tp"))
      .crossJoin(broadcast(mx))
      .select(
        call_function("div",
          when(col("tp").isNotNull, col("tp") - col("t0"))
            .otherwise(col("tmax") - col("t0")),
          lit(3600000000L)).as("life_h"),
        when(col("tp").isNotNull, 1L).otherwise(0L).as("observed"))
    val byT = life.groupBy(col("life_h")).agg(
      sum(col("observed")).as("d"), count(lit(1)).as("c"))
    val steps = Corpus.prefixSum(byT, Seq(col("life_h").desc), "c", "cum0")
      .select(col("life_h"), col("d"), (col("cum0") + col("c")).as("n_risk"))
      .filter(col("d") > 0L)
      .select(col("life_h"), col("d"), col("n_risk"),
        when(col("n_risk") > col("d"),
          round(log((col("n_risk") - col("d")).cast("double")
            / col("n_risk").cast("double")) * 1e6, 0).cast("long"))
          .otherwise(0L).as("term"))
    Corpus.prefixSum(steps, Seq(col("life_h")), "term", "cumt")
      .select(col("life_h"), col("d"), col("n_risk"),
        round((col("cumt") + col("term")).cast("double") / 1e6, 6).as("ln_s"),
        when(col("n_risk") === col("d"), lit(0.0))
          .otherwise(round(exp((col("cumt") + col("term")).cast("double") / 1e6), 4))
          .as("s"))
  }

  /** E66: connected components of the co-purchase graph — min-label
    * propagation run to the fixed point (substitutability clusters /
    * dedup-cluster closure; C23 runs [[componentsOn]] over MinHash
    * pairs. Here the edge set is exact, so the whole component structure
    * ORACLE-CHECKS against a recursive-CTE reachability closure).
    *
    * Iteration is the Spark-idiomatic fixed point: each round is one
    * edge-keyed join + one min-aggregate (exact int64 labels — no
    * float anywhere, so every round is engine-deterministic), frames
    * persist round-to-round and unpersist behind themselves, and the
    * loop exits when a round changes NOTHING (counted distributively).
    * Rounds needed = graph diameter (≤ log n with doubling variants;
    * plain propagation suffices at this density — the co-purchase
    * graph is forest-like sparse). The driver holds one long per
    * round, never data.
    */
  def components(spark: SparkSession, dir: String): DataFrame =
    componentsOn(basketEdges(Tables(spark, dir).lineitem
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))))

  /** Library face: components of any (p1, p2) undirected edge frame.
    * Output: (node, comp) where comp = min node id reachable.
    *
    * Each round `localCheckpoint`s the label frame — the fixed-point
    * idiom for UNBOUNDED iteration counts: without it every round's
    * plan chains through all previous rounds and the job graph grows
    * quadratically (PageRank's fixed 3 rounds can skip this; a
    * convergence loop cannot). Checkpoint content is exact int64, so
    * cutting lineage costs no determinism.
    */
  def componentsOn(edges: DataFrame): DataFrame = {
    // The loop's frames are |V|-bounded — orders of magnitude smaller
    // than the corpus that produced the edges — so the fixed point
    // runs at a narrow shuffle width, with the edge plan re-homed into
    // the scoped session. Width follows the cluster (defaultParallelism/4,
    // floor 4 — skyline's idiom): 8 on local[32], proportionally wider
    // on a real cluster so the label frame is not pinned to 8 reducers
    // at any deployment size.
    val spark = edges.sparkSession
    val width = math.max(4, spark.sparkContext.defaultParallelism / 4)
    Graft.scoped(spark, Some(width)) { spark =>
      componentsLoop(GraftBridge.ofRows(spark, edges.queryExecution.analyzed))
    }
  }

  /** The RDD a `localCheckpoint`ed Dataset is served from (the
    * `LogicalRDD` the checkpoint rewrote the plan to). Holding the
    * reference lets the loop release EXACTLY the checkpoints it
    * created — `Dataset.unpersist` cannot reach them (they live in the
    * RDD cache, not the cacheManager), and diffing the global
    * `getPersistentRDDs` set would also sweep up caches pinned
    * concurrently by OTHER queries on the shared context.
    */
  private def checkpointRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }

  private def componentsLoop(edges: DataFrame): DataFrame = {
    // both directions from ONE pass over the edge plan: a union of two
    // projections evaluates an unmaterialized edge plan (C23's MinHash
    // pipeline) twice
    val und = edges
      .select(explode(array(struct(col("p1").as("a"), col("p2").as("b")),
        struct(col("p2").as("a"), col("p1").as("b")))).as("e"))
      .select(col("e.a"), col("e.b"))
      .persist()
    // one neighbor-min propagation step; keeps its input label as `prev`
    def propagate(l: DataFrame): DataFrame = {
      val nbr = und.join(l.select(col("n").as("b"), col("comp")), "b")
        .groupBy(col("a")).agg(min(col("comp")).as("nbr_min"))
      l.join(nbr.select(col("a").as("n"), col("nbr_min")), Seq("n"), "left")
        .select(col("n"),
          least(col("comp"), coalesce(col("nbr_min"), col("comp"))).as("comp"),
          col("comp").as("prev"))
    }
    var labels = und.select(col("a").as("n")).distinct()
      .select(col("n"), col("n").as("comp"))
    var prevCkpt: Option[org.apache.spark.rdd.RDD[_]] = None
    var changed = 1L
    var iter = 0
    // TWO propagation steps per checkpoint/convergence-check: the
    // checkpoint job and the count job dominate a round's cost at any
    // graph size (the joins are |V|/|E|-bounded), so batching halves
    // the expensive jobs for one extra cheap join. A pointer-jumping
    // variant (comp ← comp(comp)) was measured and did NOT cut rounds
    // on these small-diameter co-occurrence graphs — the tail is
    // label-arrival limited — so plain BFS propagation it is.
    // r11 re-measured the batching factor: >2 steps per checkpoint is
    // EXPONENTIALLY worse (propagate references its input twice, so an
    // unmaterialized k-chain recomputes step i 2^(k−i) times — 3/4/6
    // steps measured 6.8/12.1/61.2 s vs 5.3 s at sf0.1), and an eager
    // per-step checkpoint (every step computed once, 3 jobs/round) is
    // a wash (4.3/4.6 vs 4.4/4.8 s) — the per-job scheduling floor
    // dominates either way. k=2 stands.
    while (changed > 0 && iter < 32) {
      val stepped = propagate(propagate(labels)).localCheckpoint(true)
      // rows the SECOND step changed: none means the first step's labels
      // were already the fixed point, so a graph that converges on a
      // super-round's first step needs no confirming super-round (C23's
      // shallow dup-pair graphs: 45 → 31 jobs at sf0.01, local[4])
      changed = stepped.filter(col("comp") < col("prev")).count()
      labels = stepped.select(col("n"), col("comp"))
      // the new checkpoint is eager (materialized above), so the
      // previous round's checkpoint is dead — release it now instead of
      // pinning every round's |V| frame until convergence
      prevCkpt.foreach(_.unpersist(blocking = false))
      prevCkpt = checkpointRdd(stepped)
      iter += 1
    }
    require(changed == 0, s"components did not converge in $iter super-rounds")
    // Exit: the converged labels come straight from the FINAL
    // super-round's in-memory checkpoint — no disk round-trip (the
    // round-5 temp-parquet spill bought lineage hygiene with a write +
    // re-read of the result on the slowest query). Everything older is
    // already released round-by-round above; `und` (the only other
    // frame this loop pinned) goes here. The scope's checkpoint copies
    // the |V|-bounded result the caller holds; the final round's block
    // is unreachable after it and goes with the ContextCleaner.
    und.unpersist(blocking = false)
    labels.select(col("n").as("node"), col("comp"))
  }

  val componentsSql: String =
    """WITH RECURSIVE
      |li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |pairs AS (
      |  SELECT a.pk AS p1, b.pk AS p2
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
      |e AS (SELECT p1, p2 FROM pairs GROUP BY p1, p2 HAVING COUNT(*) >= 2),
      |und AS (SELECT p1 AS a, p2 AS b FROM e
      |        UNION ALL SELECT p2, p1 FROM e),
      |nodes AS (SELECT DISTINCT a AS n FROM und),
      |reach(n, m) AS (
      |  SELECT n, n FROM nodes
      |  UNION
      |  SELECT r.n, u.b FROM reach r JOIN und u ON r.m = u.a)
      |SELECT n AS node, CAST(MIN(m) AS BIGINT) AS comp
      |FROM reach GROUP BY n""".stripMargin

  val kaplanMeierSql: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
      |mx AS (SELECT MAX(t) AS tmax FROM e),
      |u AS (
      |  SELECT user_id, MIN(t) AS t0,
      |    MIN(CASE WHEN event_type = 'purchase' THEN t END) AS tp
      |  FROM e GROUP BY user_id),
      |life AS (
      |  SELECT CASE WHEN tp IS NOT NULL THEN (tp - t0) // 3600000000
      |         ELSE ((SELECT tmax FROM mx) - t0) // 3600000000 END AS life_h,
      |    CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS observed
      |  FROM u),
      |byt AS (
      |  SELECT life_h, CAST(SUM(observed) AS BIGINT) AS d,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM life GROUP BY life_h),
      |ar AS (
      |  SELECT life_h, d,
      |    CAST(SUM(c) OVER (ORDER BY life_h DESC) AS BIGINT) AS n_risk
      |  FROM byt),
      |ev AS (
      |  SELECT life_h, d, n_risk,
      |    CASE WHEN n_risk > d THEN CAST(round(
      |      ln(CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE)) * 1e6, 0)
      |      AS BIGINT) ELSE 0 END AS term
      |  FROM ar WHERE d > 0),
      |cum AS (
      |  SELECT life_h, d, n_risk,
      |    CAST(SUM(term) OVER (ORDER BY life_h) AS BIGINT) AS cum_term
      |  FROM ev)
      |SELECT life_h, d, n_risk,
      |  round(CAST(cum_term AS DOUBLE) / 1e6, 6) AS ln_s,
      |  CASE WHEN n_risk = d THEN 0.0
      |    ELSE round(exp(CAST(cum_term AS DOUBLE) / 1e6), 4) END AS s
      |FROM cum""".stripMargin

  /** E77: bounded-hop BFS — the neighborhood-expansion primitive under
    * "related products", fraud-ring probes, and k-hop feature
    * extraction: distances from the co-purchase graph's top-degree hub
    * (ties → lowest id) out to 3 hops, reported as a per-distance
    * census. The hop bound is the SCALE contract: unbounded BFS is an
    * iterate-to-fixpoint job (E66's shape); a k-hop probe unrolls into
    * exactly k self-equijoins of the |E|-bounded edge frame with a
    * distinct-node frontier between hops — no driver loop, no
    * unbounded state, and the whole plan is statable as SQL (which an
    * unbounded frontier is not, portably). Frontiers shuffle on node
    * ids only; min-dist resolves level overlaps in one aggregate.
    */
  def bfs(spark: SparkSession, dir: String): DataFrame = {
    val e = basketEdges(Tables(spark, dir).lineitem
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")))
      .localCheckpoint(true) // referenced by 5 plan branches (degree + 3 hops)
    val edges = e.select(col("p1").as("u"), col("p2").as("v"))
      .unionAll(e.select(col("p2").as("u"), col("p1").as("v")))
    try bfsFrom(edges)
    finally
      // the census below is materialized before we return, so the |E|
      // checkpoint must not outlive the call — repeated bench runs
      // would otherwise pin one dead edge copy per invocation
      checkpointRdd(e).foreach(_.unpersist(blocking = false))
  }

  private def bfsFrom(edges: DataFrame): DataFrame = {
    val src = edges.groupBy(col("u")).agg(count(lit(1)).as("d"))
      .orderBy(col("d").desc, col("u")).limit(1)
      .select(col("u").as("node"))
    val levels = Iterator.iterate(src) { frontier =>
      edges.join(frontier, edges("u") === frontier("node"))
        .select(col("v").as("node")).distinct()
    }.take(4).toSeq
    levels.zipWithIndex
      .map { case (l, i) => l.select(col("node"), lit(i).as("lvl")) }
      .reduce(_ unionAll _)
      .groupBy(col("node")).agg(min(col("lvl")).as("dist"))
      .groupBy(col("dist"))
      .agg(count(lit(1)).as("n_parts"),
        min(col("node")).as("min_part"), max(col("node")).as("max_part"))
      // eager, O(hops) rows: cuts the lineage so the caller's frame no
      // longer references the edge checkpoint being released
      .localCheckpoint(true)
  }

  val bfsSql: String =
    """WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |pairs AS (
      |  SELECT a.pk AS p1, b.pk AS p2
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
      |e AS (SELECT p1, p2 FROM pairs GROUP BY p1, p2 HAVING COUNT(*) >= 2),
      |edges AS (SELECT p1 AS u, p2 AS v FROM e
      |          UNION ALL SELECT p2 AS u, p1 AS v FROM e),
      |src AS (
      |  SELECT u AS node FROM (
      |    SELECT u, COUNT(*) AS d FROM edges GROUP BY u
      |    ORDER BY d DESC, u LIMIT 1)),
      |l0 AS (SELECT node FROM src),
      |l1 AS (SELECT DISTINCT v AS node FROM edges JOIN l0 ON edges.u = l0.node),
      |l2 AS (SELECT DISTINCT v AS node FROM edges JOIN l1 ON edges.u = l1.node),
      |l3 AS (SELECT DISTINCT v AS node FROM edges JOIN l2 ON edges.u = l2.node),
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

  /** E74: association rules over order baskets — the frequent-itemset
    * classic E49's raw co-counts feed: every directed rule a→b with
    * support ≥ 3 distinct orders (co-occurrence is Poisson-sparse in a
    * pair space that grows |parts|² — a high fixed floor empties at
    * scale; the top-20 lift cut is what bounds the output), its confidence c(ab)/c(a) and lift
    * N·c(ab)/(c(a)·c(b)), top-20 by lift (the rules a recommender
    * actually ships). Baskets are DISTINCT (ok, pk) first — a repeated
    * part inside one order is one basket membership, the textbook
    * support semantics — then the pair multiset comes from E49's
    * map-side native pair kernel over each bounded basket: one
    * (orderkey) exchange, never a lineitem self-join. Item counts are
    * one groupBy; the order total rides in as a 1-row broadcast.
    * Confidence/lift are single IEEE expressions over exact BIGINT
    * counts (left-assoc double chains, identical both engines); the
    * top-20 order is decided on the bit-identical unrounded lift with
    * a (part, other) tiebreak.
    */
  def assocRules(spark: SparkSession, dir: String): DataFrame = {
    // r11 (guide §2.4): the old shape ran `lineitem.distinct()` into
    // THREE independent branches (pair counts, item counts, order
    // total) — three full scans + three (ok, pk) exchanges per run
    // (2.4 s solo). `collect_set` folds the distinct INTO the one
    // basket exchange (set semantics = the old distinct-then-list),
    // the basket frame checkpoints once, and the item/total branches
    // become narrow re-reads: explode(parts) enumerates exactly the
    // distinct (ok, pk) pairs, row count = distinct order count.
    val baskets = Tables(spark, dir).lineitem
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .groupBy(col("ok"))
      .agg(sort_array(collect_set(col("pk"))).as("parts"))
      .localCheckpoint(true)
    val counts = baskets
      .filter(size(col("parts")) >= 2)
      .select(explode(graft.functions.NativeExprs.pair_array(col("parts")))
        .as("pair"))
      .select(col("pair.p1"), col("pair.p2"))
      .groupBy(col("p1"), col("p2")).agg(count(lit(1)).as("cab"))
      .filter(col("cab") >= 3)
    // both rule directions via a map-side explode ABOVE the aggregate —
    // a unionAll of two selects re-runs the whole basket-collect +
    // pair-count chain per branch (ReuseExchange does not canonicalize
    // across the differing projections; observed doubled in the plan)
    val directed = counts
      .select(explode(array(
        struct(col("p1").as("part"), col("p2").as("other"), col("cab")),
        struct(col("p2").as("part"), col("p1").as("other"), col("cab")))).as("e"))
      .select(col("e.part").as("part"), col("e.other").as("other"),
        col("e.cab").as("cab"))
    val item = baskets.select(explode(col("parts")).as("pk"))
      .groupBy(col("pk")).agg(count(lit(1)).as("c"))
    val nOrders = baskets.agg(count(lit(1)).as("n_orders"))
    directed
      .join(item.select(col("pk").as("part"), col("c").as("ca")), "part")
      .join(item.select(col("pk").as("other"), col("c").as("cb")), "other")
      .crossJoin(broadcast(nOrders))
      .withColumn("confidence",
        col("cab").cast("double") / col("ca"))
      .withColumn("lift",
        col("cab").cast("double") * col("n_orders")
          / (col("ca").cast("double") * col("cb")))
      .orderBy(col("lift").desc, col("part"), col("other"))
      .limit(20)
      .select(col("part"), col("other"), col("cab"), col("ca"), col("cb"),
        round(col("confidence"), 6).as("confidence"),
        round(col("lift"), 6).as("lift"))
  }

  val assocRulesSql: String =
    """WITH li AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |pairs AS (
      |  SELECT a.pk AS p1, b.pk AS p2
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
      |c AS (
      |  SELECT p1, p2, COUNT(*) AS cab FROM pairs GROUP BY 1, 2
      |  HAVING COUNT(*) >= 3),
      |d AS (
      |  SELECT p1 AS part, p2 AS other, cab FROM c
      |  UNION ALL
      |  SELECT p2 AS part, p1 AS other, cab FROM c),
      |item AS (SELECT pk, COUNT(*) AS c FROM li GROUP BY 1),
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

  /** C78: per-source KL divergence of the token distribution vs the
    * corpus — the mixture-drift diagnostic behind dataset-card
    * "distribution shift" panels and re-balancing decisions (C40
    * reweights sources; this measures how far each one actually sits
    * from the blend; C62's log-odds terms are the per-token view, this
    * is the scalar). KL(pₛ‖p) = Σₜ (cₛₜ/Nₛ)·ln(cₛₜ·N / (Nₛ·cₜ)).
    * Same portability discipline as C33/C58: each (source, token)
    * log-term is computed once from the same integer counts, 6-dp-fixed
    * as decimal, weighted by the exact integer cₛₜ and summed in exact
    * decimal (order-independent under any partitioning); one final
    * cast + divide per source is the only IEEE step. Shuffles: the
    * (source, token) partial count and the token marginal — both on
    * aggregation keys; corpus totals ride in as a 1-row broadcast.
    */
  def sourceKl(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables(spark, dir).documents
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
    val st = toks.groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("cst"))
    val marg = st.groupBy(col("w")).agg(sum(col("cst")).as("ct"))
    val ns = st.groupBy(col("source")).agg(sum(col("cst")).as("n_s"))
    val n = marg.agg(sum(col("ct")).as("n_tot"))
    st.join(marg, "w")
      .join(ns, "source")
      .crossJoin(broadcast(n))
      .withColumn("lnterm",
        round(log(col("cst").cast("double") * col("n_tot")
          / (col("n_s").cast("double") * col("ct"))), 6)
          .cast("decimal(18,6)"))
      .groupBy(col("source"))
      .agg(max(col("n_s")).as("n_tokens"), {
        // split-cast (§8b): the exact decimal Σ cst·lnterm can exceed
        // 2^53 scaled at 100 TB token counts, where DuckDB's
        // int128→double cast double-rounds one ulp off Spark's
        // correctly-rounded BigDecimal cast. Narrow BEFORE splitting
        // (§8c) so the fraction survives, then floor + fraction cast
        // exactly and one shared add/divide stays IEEE-identical.
        val s = sum(col("cst") * col("lnterm")).cast("decimal(26,6)")
        val sD = floor(s).cast("double") + (s - floor(s)).cast("double")
        round(sD / max(col("n_s")).cast("double"), 6).as("kl")
      })
      .select(col("source"), col("n_tokens"), col("kl"))
  }

  val sourceKlSql: String =
    """WITH toks AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
      |st AS (
      |  SELECT source, w, COUNT(*) AS cst FROM toks GROUP BY 1, 2),
      |marg AS (SELECT w, CAST(SUM(cst) AS BIGINT) AS ct FROM st GROUP BY 1),
      |ns AS (SELECT source, CAST(SUM(cst) AS BIGINT) AS n_s FROM st GROUP BY 1),
      |tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS n_tot FROM marg),
      |terms AS (
      |  SELECT st.source, st.cst, ns.n_s,
      |    CAST(round(ln(CAST(st.cst AS DOUBLE) * n_tot
      |      / (CAST(ns.n_s AS DOUBLE) * marg.ct)), 6) AS DECIMAL(18,6)) AS lnterm
      |  FROM st JOIN marg USING (w) JOIN ns USING (source) CROSS JOIN tot)
      |SELECT source, MAX(n_s) AS n_tokens,
      |  round((CAST(floor(CAST(SUM(cst * lnterm) AS DECIMAL(26,6))) AS DOUBLE)
      |         + CAST(CAST(SUM(cst * lnterm) AS DECIMAL(26,6))
      |                - floor(CAST(SUM(cst * lnterm) AS DECIMAL(26,6))) AS DOUBLE))
      |        / CAST(MAX(n_s) AS DOUBLE), 6) AS kl
      |FROM terms GROUP BY 1""".stripMargin

  /** Rank-based median of `valueCol` over a BOUNDED frame, as a 1-row
    * (np, med) result — the cells + distributed-prefix discipline (E69)
    * with the standard both-middles average: cells = (value, weight),
    * running weight via [[Corpus.prefixSum]] (never an unpartitioned
    * window), med = (value at rank ⌈n/2⌉ + value at rank ⌊n/2⌋+1) / 2.
    * Both middles are exact doubles and their mean is one IEEE add +
    * one halving — bit-identical across engines.
    */
  private def boundedMedian(df: DataFrame, valueCol: Column): DataFrame = {
    val cells = df.groupBy(valueCol.as("v")).agg(count(lit(1)).as("w"))
    val cum = Corpus.prefixSum(cells, Seq(col("v")), "w", "cum0")
      .select(col("v"), (col("cum0") + col("w")).as("cum"))
    val tot = df.agg(count(lit(1)).as("np"))
    cum.crossJoin(broadcast(tot))
      .agg(
        max(col("np")).as("np"),
        min(when(col("cum") >= expr("(np + 1) DIV 2"), col("v"))).as("m_lo"),
        min(when(col("cum") >= expr("np DIV 2 + 1"), col("v"))).as("m_hi"))
      .select(col("np"), ((col("m_lo") + col("m_hi")) / 2).as("med"))
  }

  /** E84 `q_trend_robust`: Theil–Sen slope + Mann–Kendall trend test
    * over the monthly revenue series — the robust replacement for an
    * OLS fit when the series carries outliers (a promo spike should
    * not own the slope). Slope = median of all pairwise slopes;
    * Mann–Kendall S = Σ sign(revⱼ − revᵢ) with τ = S / (n(n−1)/2);
    * intercept = median of (revᵢ − slope·monthᵢ).
    *
    * Scale shape: the corpus folds to the MONTH frame first (one
    * map-combinable groupBy; the frame is bounded by the calendar, not
    * the row count), so the O(T²) pair expansion is over ~84 rows at
    * any SF — pairwise statistics are affordable exactly when they are
    * pairwise over a DOMAIN, never over rows. Medians run through the
    * cells + prefix-sum discipline ([[boundedMedian]]).
    *
    * Portability: revenues are exact integer cents; each pairwise
    * slope is ONE long→double cast pair and ONE correctly-rounded IEEE
    * division (identical bits in both engines); S and ranks are
    * integers; τ rounds by the §8(d) floor idiom.
    */
  def trendRobust(spark: SparkSession, dir: String): DataFrame = Graft.scoped(spark) { spark =>
    // r11 (guide §2.4): `monthly` feeds FOUR plan branches (both pair
    // sides + the intercept candidates) and `pairs` three (MK sums +
    // the slope median's cells/total arms) — without cutting lineage
    // each branch re-ran the orders scan + month rollup (~5 scans/run,
    // measured 4.8 s solo). Both frames are calendar-bounded (|T| and
    // |T|² rows), so eager localCheckpoints materialize them once; the
    // ×1 fan-out scope de-taxes the tiny exchanges the same way the
    // other domain-bounded faces do. Values are exact integer cents —
    // checkpointing changes nothing downstream.
    val monthly = Tables(spark, dir).orders
      .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .cast("long").as("m"))
      .agg((sum(dec(col("o_totalprice"))) * 100).cast("long").as("rev_c"))
      .localCheckpoint(true)
    val pairs = monthly.as("a")
      .join(broadcast(monthly.as("b")), col("a.m") < col("b.m"))
      .select(
        ((col("b.rev_c") - col("a.rev_c")).cast("double")
          / (col("b.m") - col("a.m")).cast("double")).as("slope"),
        when(col("b.rev_c") > col("a.rev_c"), 1L)
          .when(col("b.rev_c") < col("a.rev_c"), -1L).otherwise(0L).as("sgn"))
      .localCheckpoint(true)
    val mk = pairs.agg(count(lit(1)).as("n_pairs"), sum(col("sgn")).as("mk_s"))
    val slopeMed = boundedMedian(pairs, col("slope"))
      .select(col("med").as("ts_slope_c"))
    val icand = monthly.crossJoin(broadcast(slopeMed))
      .select((col("rev_c").cast("double")
        - col("ts_slope_c") * col("m").cast("double")).as("ic"))
    val icMed = boundedMedian(icand, col("ic"))
      .select(col("np").as("n_months"), col("med").as("ts_intercept_c"))
    icMed.crossJoin(broadcast(mk)).crossJoin(broadcast(slopeMed))
      .select(col("n_months"), col("n_pairs"), col("mk_s"),
        (floor(col("mk_s").cast("double") / col("n_pairs").cast("double")
          * 1e6 + 0.5) / 1e6).as("mk_tau"),
        col("ts_slope_c"), col("ts_intercept_c"))
  }

  val trendRobustSql: String =
    """WITH monthly AS (
      |  SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS m,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS rev_c
      |  FROM orders GROUP BY 1),
      |pairs AS (
      |  SELECT CAST(b.rev_c - a.rev_c AS DOUBLE)
      |      / CAST(b.m - a.m AS DOUBLE) AS slope,
      |    CASE WHEN b.rev_c > a.rev_c THEN 1
      |         WHEN b.rev_c < a.rev_c THEN -1 ELSE 0 END AS sgn
      |  FROM monthly a JOIN monthly b ON a.m < b.m),
      |mk AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |              CAST(SUM(sgn) AS BIGINT) AS mk_s FROM pairs),
      |scells AS (SELECT slope AS v, COUNT(*) AS w FROM pairs GROUP BY 1),
      |scum AS (SELECT v, SUM(w) OVER (ORDER BY v) AS cum FROM scells),
      |smed AS (SELECT
      |    (MIN(CASE WHEN cum >= (n_pairs + 1) // 2 THEN v END)
      |     + MIN(CASE WHEN cum >= n_pairs // 2 + 1 THEN v END)) / 2 AS ts_slope_c
      |  FROM scum CROSS JOIN mk),
      |icand AS (
      |  SELECT CAST(rev_c AS DOUBLE) - ts_slope_c * CAST(m AS DOUBLE) AS v
      |  FROM monthly CROSS JOIN smed),
      |itot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_months FROM icand),
      |icells AS (SELECT v, COUNT(*) AS w FROM icand GROUP BY 1),
      |icum AS (SELECT v, SUM(w) OVER (ORDER BY v) AS cum FROM icells),
      |imed AS (SELECT
      |    (MIN(CASE WHEN cum >= (n_months + 1) // 2 THEN v END)
      |     + MIN(CASE WHEN cum >= n_months // 2 + 1 THEN v END)) / 2
      |      AS ts_intercept_c
      |  FROM icum CROSS JOIN itot)
      |SELECT n_months, n_pairs, mk_s,
      |  FLOOR(CAST(mk_s AS DOUBLE) / CAST(n_pairs AS DOUBLE) * 1e6 + 0.5) / 1e6
      |    AS mk_tau,
      |  ts_slope_c, ts_intercept_c
      |FROM itot CROSS JOIN mk CROSS JOIN smed CROSS JOIN imed""".stripMargin

  /** E85 `q_hhi`: supplier-revenue concentration per nation — the
    * Herfindahl–Hirschman index (Σ shareᵢ²) plus the CR1 top share,
    * the standard "is this market a monopoly" gate (here: is one
    * supplier carrying a nation's volume — the supply-chain-risk twin
    * of E57's customer gini).
    *
    * Portability: shares are QUANTIZED to millionths by floor — an
    * exact integer per supplier — so the HHI sum is an exact BIGINT
    * (Σ share_ppm² ≤ 10¹²·|suppliers|, and the double view of a sum
    * ≤ 10¹² is exact: < 2^53). No double is ever summed.
    *
    * Scale shape: lineitem folds map-side to the supplier frame (one
    * suppkey exchange — the big shuffle, unavoidable and keyed);
    * everything after is |suppliers|-frame arithmetic with the fixed
    * 25-row nation dim broadcast.
    */
  def hhi(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val supRev = t.lineitem
      .groupBy(col("l_suppkey"))
      .agg((sum(dec(col("l_extendedprice"))) * 100).cast("long").as("c"))
      .join(t.supplier.select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
    // r11 examined and left alone (guide §2.4/§1): `supRev` feeds the
    // nation totals AND the shares join, re-running the suppkey
    // exchange per branch — but an eager checkpoint of the
    // |suppliers|-bounded frame was MEASURED SLOWER solo at sf0.1
    // (min-of-2: 2.06 s vs 1.24 s recomputed; consistent across reps).
    // The recomputed branch is one map-combined partial agg over the
    // scan — cheaper than a materialization barrier at this geometry.
    val natTot = supRev.groupBy(col("s_nationkey"))
      .agg(sum(col("c")).as("tot"))
    val shares = supRev.join(natTot, Seq("s_nationkey"))
      .select(col("s_nationkey"),
        floor(col("c").cast("double") / col("tot").cast("double") * 1e6)
          .cast("long").as("share_ppm"))
    shares.groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_suppliers"),
        sum(col("share_ppm") * col("share_ppm")).as("hhi_e12"),
        max(col("share_ppm")).as("top_ppm"))
      .join(broadcast(Tables(spark, dir).nation
        .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("n_suppliers"), col("hhi_e12"),
        (col("hhi_e12").cast("double") / 1e12).as("hhi"),
        (col("top_ppm").cast("double") / 1e6).as("top_share"))
  }

  val hhiSql: String =
    """WITH sup AS (
      |  SELECT l_suppkey,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS c
      |  FROM lineitem GROUP BY 1),
      |sr AS (
      |  SELECT s_nationkey, c FROM sup JOIN supplier ON l_suppkey = s_suppkey),
      |nt AS (SELECT s_nationkey, CAST(SUM(c) AS BIGINT) AS tot
      |       FROM sr GROUP BY 1),
      |sh AS (
      |  SELECT sr.s_nationkey,
      |    CAST(FLOOR(CAST(c AS DOUBLE) / CAST(tot AS DOUBLE) * 1e6) AS BIGINT)
      |      AS share_ppm
      |  FROM sr JOIN nt ON sr.s_nationkey = nt.s_nationkey)
      |SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
      |  CAST(SUM(share_ppm * share_ppm) AS BIGINT) AS hhi_e12,
      |  CAST(CAST(SUM(share_ppm * share_ppm) AS BIGINT) AS DOUBLE) / 1e12 AS hhi,
      |  CAST(MAX(share_ppm) AS DOUBLE) / 1e6 AS top_share
      |FROM sh JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY n_name""".stripMargin

  /** E89 `q_power_analysis`: the experiment-sizing companion to E64's
    * A/B test — given the OBSERVED baseline conversion (the per-event
    * purchase rate; an "ever purchased" user-level rate saturates to
    * 1.0 on this feed — every user has ≥1 purchase at every SF — and a
    * two-proportion test on p₀=1 is undefined), the required sample
    * size per arm to detect a {2%, 5%, 10%} relative lift at α=0.05 /
    * power=0.8, by the standard two-proportion formula
    * n = (z_{α/2}·√(2p̄q̄) + z_β·√(p₀q₀+p₁q₁))² / (p₁−p₀)².
    *
    * Portability: p₀ comes from exact integer counts; the z constants
    * are shared literals; √ and the arithmetic chain are IEEE
    * operations evaluated in ONE fixed order, so both engines produce
    * the identical double and the identical ceil. Rows whose lifted
    * p₁ ≥ 1 are filtered in BOTH face and oracle (the formula's q₁<0
    * would go NaN — an undetectable lift has no finite n). Plan: one
    * map-combinable 1-row census over events, then a 3-literal-row
    * grid joined map-side — nothing scales with events but the census.
    */
  def powerAnalysis(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables(spark, dir).events
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_purchase"))
    val grid = Seq(0.02, 0.05, 0.10).map(l => s"(CAST($l AS DOUBLE))").mkString(", ")
    val a = lit(1.959963984540054) * sqrt(lit(2.0) * ((col("p0") + col("p1")) / 2.0)
      * (lit(1.0) - (col("p0") + col("p1")) / 2.0)) +
      lit(0.8416212335729143) * sqrt(col("p0") * (lit(1.0) - col("p0"))
        + col("p1") * (lit(1.0) - col("p1")))
    // a·a, never pow(a, 2): pow is a libm call whose last ulp is not
    // pinned across engines; the square as one IEEE multiply is
    base.crossJoin(broadcast(
        base.sparkSession.sql(s"SELECT * FROM (VALUES $grid) AS t(rel_lift)")))
      .select(col("n_events"), col("n_purchase"), col("rel_lift"),
        expr("CAST(n_purchase AS DOUBLE) / CAST(n_events AS DOUBLE)").as("p0"))
      .select(col("n_events"), col("n_purchase"), col("rel_lift"), col("p0"),
        (col("p0") * (lit(1.0) + col("rel_lift"))).as("p1"))
      .filter(col("p1") < 1.0)
      .select(col("n_events"), col("rel_lift"), col("p0"), col("p1"),
        ceil((a * a) / ((col("p1") - col("p0")) * (col("p1") - col("p0"))))
          .cast("long").as("n_per_arm"))
  }

  val powerAnalysisSql: String =
    """WITH base AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
      |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_purchase
      |  FROM events),
      |g AS (SELECT * FROM (VALUES (CAST(0.02 AS DOUBLE)), (CAST(0.05 AS DOUBLE)),
      |                            (CAST(0.10 AS DOUBLE))) AS t(rel_lift)),
      |e AS (
      |  SELECT n_events, rel_lift,
      |    CAST(n_purchase AS DOUBLE) / CAST(n_events AS DOUBLE) AS p0,
      |    CAST(n_purchase AS DOUBLE) / CAST(n_events AS DOUBLE)
      |      * (1.0 + rel_lift) AS p1
      |  FROM base CROSS JOIN g
      |  WHERE CAST(n_purchase AS DOUBLE) / CAST(n_events AS DOUBLE)
      |      * (1.0 + rel_lift) < 1.0),
      |a AS (
      |  SELECT n_events, rel_lift, p0, p1,
      |    1.959963984540054 * SQRT(2.0 * ((p0 + p1) / 2.0)
      |        * (1.0 - (p0 + p1) / 2.0))
      |      + 0.8416212335729143 * SQRT(p0 * (1.0 - p0) + p1 * (1.0 - p1)) AS za
      |  FROM e)
      |SELECT n_events, rel_lift, p0, p1,
      |  CAST(CEIL((za * za) / ((p1 - p0) * (p1 - p0))) AS BIGINT) AS n_per_arm
      |FROM a""".stripMargin

  /** E90 `q_regression`: per-returnflag ordinary-least-squares trend of
    * MONTHLY revenue on a month index — slope, intercept and r² from
    * the textbook normal equations, the parametric companion to E84's
    * Theil-Sen (q_trend_robust gives a robust slope with no fit
    * quality; this gives the classical fit plus r², the pair an
    * analyst actually reads side by side).
    *
    * Two-level shape, and it is what scales: the heavy pass is the
    * EXACT monthly rollup (map-combinable partial aggregation over
    * lineitem — one shuffle of (flag, month, decimal-cents) partials);
    * the regression itself runs over the |flags|×|months|-bounded frame
    * (≤ 3×84 rows at any SF), grouped per flag. Nothing downstream of
    * the rollup ever sees a row-level value.
    *
    * Portability (SURVEY §8): y is the monthly revenue rounded ONCE to
    * THOUSANDS of currency units (exact bigint cents sum, then
    * integer-only HALF_UP: (cents+50000) DIV 100000 — decimal division
    * scales/rounds engine-dependently, integer DIV doesn't) — sized so
    * every moment stays a small exact integer
    * (Σy² ≈ 3e13 at the 64× gate, far under 2^53, so each
    * decimal(38,0)→double cast is exact in both engines); x is the
    * integer month index (year−1992)·12+month−1, pure integer
    * arithmetic in both engines. The per-flag moments n, Σx, Σy, Σxx,
    * Σxy, Σyy are exact — Spark casts products to DECIMAL(38,0) before
    * summing (a raw long y² would overflow at 100 TB); the oracle's
    * sums promote to DuckDB's exact int128 HUGEINT, INTERNAL-only
    * (§8(e) bans HUGEINT finals; every final below is BIGINT/DOUBLE).
    * The IEEE tail is one fixed sequence: cov = n·Σxy−Σx·Σy,
    * varx = n·Σxx−Σx², vary = n·Σyy−Σy² (all exact, cast once to
    * double), then slope = cov/varx, intercept = (Σy−slope·Σx)/n,
    * r² = (cov/varx)·(cov/vary) — two divides and a multiply, never
    * cov² (whose exact value would need decimal76). Finals are
    * 6dp-fixed via the §8(d) floor idiom.
    */
  def regression(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables(spark, dir).lineitem
      .groupBy(col("l_returnflag"),
        date_trunc("month", col("l_shipdate")).as("m"))
      .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long")).as("rev_c"))
      .select(col("l_returnflag"),
        ((year(col("m")) - 1992) * 12 + month(col("m")) - 1).cast("long").as("x"),
        // cents -> thousands of units, HALF_UP, integer-only (decimal
        // division scales/rounds differently across engines)
        call_function("div", col("rev_c") + 50000L, lit(100000L)).as("y"))
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val mom = monthly.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum((col("x") * col("x")).cast(d38)).as("sxx"),
        sum((col("x").cast(d38) * col("y"))).as("sxy"),
        sum((col("y").cast(d38) * col("y"))).as("syy"))
    val cov = (col("n") * col("sxy") - col("sx") * col("sy")).cast(d38).cast("double")
    val varx = (col("n") * col("sxx") - (col("sx") * col("sx")).cast(d38)).cast(d38).cast("double")
    // (Σy)² must widen BEFORE the multiply: Σy passes ~3.0e9 around
    // tens-of-TB scale and a long×long square overflows (ANSI crash).
    val vary = (col("n") * col("syy") - col("sy").cast(d38) * col("sy")).cast(d38).cast("double")
    def fix6(c: Column): Column = floor(c * 1e6 + 0.5) / 1e6
    val slope = cov / varx
    mom.select(col("l_returnflag"), col("n").as("n_months"),
      fix6(slope).as("slope"),
      fix6((col("sy").cast("double") - slope * col("sx").cast("double"))
        / col("n").cast("double")).as("intercept"),
      fix6((cov / varx) * (cov / vary)).as("r2"))
  }

  val regressionSql: String =
    """WITH monthly AS (
      |  SELECT l_returnflag,
      |    CAST((EXTRACT(year FROM date_trunc('month', l_shipdate)) - 1992) * 12
      |      + EXTRACT(month FROM date_trunc('month', l_shipdate)) - 1 AS BIGINT)
      |      AS x,
      |    (SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) + 50000)
      |      // 100000 AS y
      |  FROM lineitem GROUP BY 1, 2),
      |mom AS (
      |  -- sums promote to HUGEINT: exact int128, internal-only (finals
      |  -- below are BIGINT/DOUBLE; section-8e applies to finals)
      |  SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(x) AS sx, SUM(y) AS sy,
      |    SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(y * y) AS syy
      |  FROM monthly GROUP BY 1),
      |t AS (
      |  SELECT l_returnflag, n,
      |    CAST(n * sxy - sx * sy AS DOUBLE) AS cov,
      |    CAST(n * sxx - sx * sx AS DOUBLE) AS varx,
      |    CAST(n * syy - sy * sy AS DOUBLE) AS vary,
      |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
      |  FROM mom)
      |SELECT l_returnflag, n AS n_months,
      |  FLOOR((cov / varx) * 1e6 + 0.5) / 1e6 AS slope,
      |  FLOOR(((syd - (cov / varx) * sxd) / CAST(n AS DOUBLE)) * 1e6 + 0.5) / 1e6
      |    AS intercept,
      |  FLOOR(((cov / varx) * (cov / vary)) * 1e6 + 0.5) / 1e6 AS r2
      |FROM t""".stripMargin
}
