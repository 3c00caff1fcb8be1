package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Fns._
import graft.sources.Tables

/** Reshaping / gap-filling / exact-statistics relational surface
  * (SURVEY §2 E33–E37): the dbt_utils-style macros the reference project
  * family leans on (`date_spine`, `unpivot`) plus the gaps-and-islands
  * and engine-exact correlation shapes every warehouse team ends up
  * writing by hand.
  *
  * Scale notes: the date spine is generated from a one-row bounds
  * aggregate (the spine itself is O(months) — tiny — and broadcasts into
  * the fill join); unpivot is a map-only row explosion with a fixed
  * fan-out; gaps-and-islands shuffles only (user, day) pairs; the
  * correlation moments are single-pass partial aggregates of decimal
  * products (order-independent, exactly like q_outliers' variance).
  */
object Reshape {

  /** E33: dbt_utils.date_spine analog — a complete month spine between
    * the data's own bounds, left-joined against the monthly revenue
    * rollup with zero-fill, so downstream charts see explicit zero
    * months instead of gaps (reference: dm_monthly_* rollups only emit
    * months that have trips).
    *
    * The spine derives from a 1-row min/max aggregate and
    * `explode(sequence(...))` — no driver round-trip, no generated
    * table to maintain; AQE broadcasts the (tiny) spine side.
    */
  def dateSpine(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables(spark, dir).orders
    val bounds = orders.agg(
      date_trunc("month", min(col("o_orderdate"))).as("lo"),
      date_trunc("month", max(col("o_orderdate"))).as("hi"))
    val spine = bounds.select(
      explode(sequence(col("lo"), col("hi"), expr("interval 1 month"))).as("month"))
    val monthly = orders
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(count(lit(1)).as("n_orders"),
        decSum(col("o_totalprice")).as("revenue"))
    spine.join(monthly, Seq("month"), "left")
      .select(col("month"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("revenue"), lit(0.0)).as("revenue"))
  }

  val dateSpineSql: String =
    """WITH bounds AS (
      |  SELECT date_trunc('month', MIN(o_orderdate)) AS lo,
      |         date_trunc('month', MAX(o_orderdate)) AS hi
      |  FROM orders),
      |spine AS (
      |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS month
      |  FROM bounds),
      |monthly AS (
      |  SELECT date_trunc('month', o_orderdate) AS month,
      |         CAST(COUNT(*) AS BIGINT) AS n_orders,
      |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |  FROM orders GROUP BY 1)
      |SELECT s.month,
      |       COALESCE(m.n_orders, 0) AS n_orders,
      |       COALESCE(m.revenue, 0.0) AS revenue
      |FROM spine s LEFT JOIN monthly m ON s.month = m.month""".stripMargin

  /** E34: unpivot (dbt_utils.unpivot / SQL UNPIVOT): the wide per-flag
    * pricing aggregate melted to (flag, metric, value) long form — the
    * shape BI metric layers ingest. Uses the native `Dataset.unpivot`
    * (an Expand: map-only, fixed ×3 fan-out, no shuffle beyond the
    * upstream aggregate).
    */
  def unpivotMetrics(spark: SparkSession, dir: String): DataFrame = {
    val wide = Tables(spark, dir).lineitem
      .groupBy(col("l_returnflag"))
      .agg(
        decSum(col("l_quantity")).as("sum_qty"),
        decSum(col("l_extendedprice")).as("sum_price"),
        count(lit(1)).cast("double").as("n_rows"))
    wide.unpivot(
      Array(col("l_returnflag")),
      Array(col("sum_qty"), col("sum_price"), col("n_rows")),
      "metric", "value")
  }

  val unpivotMetricsSql: String =
    """WITH wide AS (
      |  SELECT l_returnflag,
      |         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |         CAST(COUNT(*) AS DOUBLE) AS n_rows
      |  FROM lineitem GROUP BY 1)
      |SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM wide
      |UNION ALL
      |SELECT l_returnflag, 'sum_price', sum_price FROM wide
      |UNION ALL
      |SELECT l_returnflag, 'n_rows', n_rows FROM wide""".stripMargin

  /** E35: deterministic string aggregation (LISTAGG/string_agg): the
    * member list per group as one ordered, delimited string. Spark has
    * no ordered string_agg; `array_sort(collect_list(...))` states the
    * total order explicitly, which is exactly what makes the result
    * well-defined on a cluster (engine-native LISTAGG without ORDER BY
    * is nondeterministic under parallel merge).
    */
  def stringAgg(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.nation
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"))
      .agg(
        count(lit(1)).as("n_nations"),
        array_join(array_sort(collect_list(col("n_name"))), ",").as("nations"))
  }

  val stringAggSql: String =
    """SELECT r.r_name AS region,
      |       CAST(COUNT(*) AS BIGINT) AS n_nations,
      |       string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations
      |FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
      |GROUP BY 1""".stripMargin

  /** E36: gaps-and-islands — consecutive-active-day streaks per user
    * from the raw event feed. The classic `day − row_number()` island
    * key; only (user, day) pairs ever shuffle (distinct + window +
    * two-level aggregate share the user-keyed exchange).
    */
  def gapsIslands(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val days = Tables(spark, dir).events
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("d"))
    val islands = days
      .withColumn("grp", date_sub(col("d"), row_number().over(w)))
    islands
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("user_id"))
      .agg(
        sum(col("len")).cast("long").as("n_active_days"),
        count(lit(1)).as("n_streaks"),
        max(col("len")).cast("long").as("max_streak"))
  }

  val gapsIslandsSql: String =
    """WITH days AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
      |isl AS (
      |  SELECT user_id, d,
      |         d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS INTEGER) AS grp
      |  FROM days),
      |streaks AS (
      |  SELECT user_id, grp, COUNT(*) AS len FROM isl GROUP BY 1, 2)
      |SELECT user_id,
      |       CAST(SUM(len) AS BIGINT) AS n_active_days,
      |       CAST(COUNT(*) AS BIGINT) AS n_streaks,
      |       CAST(MAX(len) AS BIGINT) AS max_streak
      |FROM streaks GROUP BY 1""".stripMargin

  /** E39: ABC / Pareto analysis — customers classified by cumulative
    * revenue share (A ≤ 80%, B ≤ 95%, C the tail). The running total
    * comes from the distributed prefix primitive, NOT a global window
    * (stock `SUM() OVER (ORDER BY …)` funnels the table through one
    * reducer). Portability: revenue is held as integer CENTS and the
    * class thresholds are integer cross-multiplications
    * (`incl·5 ≤ total·4` ⇔ share ≤ 0.8) — no float boundary flips;
    * the reported share is one exact-long division, bit-identical
    * everywhere.
    */
  def abcAnalysis(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables(spark, dir).orders
      .groupBy(col("o_custkey"))
      .agg((sum(dec(col("o_totalprice"))) * 100).cast("long").as("rev_cents"))
    val cum = Corpus.prefixSum(rev,
      Seq(col("rev_cents").desc, col("o_custkey")), "rev_cents", "cum_before")
    val total = rev.agg(sum(col("rev_cents")).as("total_cents"))
    val incl = col("cum_before") + col("rev_cents")
    cum.crossJoin(broadcast(total))
      .select(
        col("o_custkey"),
        (col("rev_cents").cast("double") / 100).as("revenue"),
        (incl.cast("double") / col("total_cents")).as("cum_share"),
        when(incl * 5 <= col("total_cents") * 4, "A")
          .when(incl * 20 <= col("total_cents") * 19, "B")
          .otherwise("C").as("abc_class"))
  }

  val abcAnalysisSql: String =
    """WITH rev AS (
      |  SELECT o_custkey,
      |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS rev_cents
      |  FROM orders GROUP BY 1),
      |tot AS (SELECT CAST(SUM(rev_cents) AS BIGINT) AS total_cents FROM rev),
      |c AS (
      |  SELECT o_custkey, rev_cents,
      |         SUM(rev_cents) OVER (ORDER BY rev_cents DESC, o_custkey
      |                              ROWS UNBOUNDED PRECEDING) AS incl
      |  FROM rev)
      |SELECT o_custkey,
      |  CAST(rev_cents AS DOUBLE) / 100 AS revenue,
      |  CAST(incl AS DOUBLE) / total_cents AS cum_share,
      |  CASE WHEN incl * 5 <= total_cents * 4 THEN 'A'
      |       WHEN incl * 20 <= total_cents * 19 THEN 'B'
      |       ELSE 'C' END AS abc_class
      |FROM c, tot""".stripMargin

  /** E43: RFM customer segmentation — recency / frequency / monetary
    * quintile scores, the classic lifecycle-marketing segmentation.
    * Scores derive from exact quintile cutpoints (one tiny percentile
    * aggregate, rounded at 4dp — E7's portability rule — and broadcast
    * back), so scoring is a map-only pass of integer comparisons: no
    * global sort, no per-customer window. Recency inverts (most recent
    * = 5).
    */
  def rfm(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables(spark, dir).orders
      .groupBy(col("o_custkey"))
      .agg(
        max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("frequency"),
        decSum(col("o_totalprice")).as("monetary"))
    val corpusMax = Tables(spark, dir).orders
      .agg(max(col("o_orderdate")).as("corpus_max"))
    val base = per.crossJoin(broadcast(corpusMax))
      .select(col("o_custkey"),
        datediff(to_date(col("corpus_max")), to_date(col("last_order")))
          .cast("long").as("recency_days"),
        col("frequency"), col("monetary"))
    def cuts(c: Column) = call_function("percentile", c,
      array(lit(0.2), lit(0.4), lit(0.6), lit(0.8)))
    val cutpoints = base.agg(
      transform(cuts(col("recency_days")), x => round(x, 4)).as("rc"),
      transform(cuts(col("frequency")), x => round(x, 4)).as("fc"),
      transform(cuts(col("monetary")), x => round(x, 4)).as("mc"))
    def score(v: Column, cs: Column): Column =
      (1 to 4).map(i => when(v > element_at(cs, i), 1).otherwise(0))
        .reduce(_ + _) + 1
    base.crossJoin(broadcast(cutpoints))
      .select(col("o_custkey"), col("recency_days"), col("frequency"), col("monetary"),
        (lit(6) - score(col("recency_days").cast("double"), col("rc"))).as("r_score"),
        score(col("frequency").cast("double"), col("fc")).as("f_score"),
        score(col("monetary"), col("mc")).as("m_score"))
      .withColumn("rfm",
        col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
  }

  val rfmSql: String =
    """WITH per AS (
      |  SELECT o_custkey, MAX(o_orderdate) AS last_order,
      |         CAST(COUNT(*) AS BIGINT) AS frequency,
      |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary
      |  FROM orders GROUP BY 1),
      |mx AS (SELECT MAX(o_orderdate) AS corpus_max FROM orders),
      |base AS (
      |  SELECT o_custkey,
      |         CAST(date_diff('day', CAST(last_order AS DATE), CAST(corpus_max AS DATE)) AS BIGINT) AS recency_days,
      |         frequency, monetary
      |  FROM per, mx),
      |cp AS (
      |  SELECT
      |    list_transform(quantile_cont(recency_days, [0.2, 0.4, 0.6, 0.8]), x -> round(x, 4)) AS rc,
      |    list_transform(quantile_cont(frequency, [0.2, 0.4, 0.6, 0.8]), x -> round(x, 4)) AS fc,
      |    list_transform(quantile_cont(monetary, [0.2, 0.4, 0.6, 0.8]), x -> round(x, 4)) AS mc
      |  FROM base)
      |SELECT o_custkey, recency_days, frequency, monetary,
      |  6 - ((CASE WHEN recency_days > rc[1] THEN 1 ELSE 0 END)
      |     + (CASE WHEN recency_days > rc[2] THEN 1 ELSE 0 END)
      |     + (CASE WHEN recency_days > rc[3] THEN 1 ELSE 0 END)
      |     + (CASE WHEN recency_days > rc[4] THEN 1 ELSE 0 END) + 1) AS r_score,
      |  (CASE WHEN frequency > fc[1] THEN 1 ELSE 0 END)
      |     + (CASE WHEN frequency > fc[2] THEN 1 ELSE 0 END)
      |     + (CASE WHEN frequency > fc[3] THEN 1 ELSE 0 END)
      |     + (CASE WHEN frequency > fc[4] THEN 1 ELSE 0 END) + 1 AS f_score,
      |  (CASE WHEN monetary > mc[1] THEN 1 ELSE 0 END)
      |     + (CASE WHEN monetary > mc[2] THEN 1 ELSE 0 END)
      |     + (CASE WHEN monetary > mc[3] THEN 1 ELSE 0 END)
      |     + (CASE WHEN monetary > mc[4] THEN 1 ELSE 0 END) + 1 AS m_score,
      |  (6 - ((CASE WHEN recency_days > rc[1] THEN 1 ELSE 0 END)
      |     + (CASE WHEN recency_days > rc[2] THEN 1 ELSE 0 END)
      |     + (CASE WHEN recency_days > rc[3] THEN 1 ELSE 0 END)
      |     + (CASE WHEN recency_days > rc[4] THEN 1 ELSE 0 END) + 1)) * 100
      |  + ((CASE WHEN frequency > fc[1] THEN 1 ELSE 0 END)
      |     + (CASE WHEN frequency > fc[2] THEN 1 ELSE 0 END)
      |     + (CASE WHEN frequency > fc[3] THEN 1 ELSE 0 END)
      |     + (CASE WHEN frequency > fc[4] THEN 1 ELSE 0 END) + 1) * 10
      |  + ((CASE WHEN monetary > mc[1] THEN 1 ELSE 0 END)
      |     + (CASE WHEN monetary > mc[2] THEN 1 ELSE 0 END)
      |     + (CASE WHEN monetary > mc[3] THEN 1 ELSE 0 END)
      |     + (CASE WHEN monetary > mc[4] THEN 1 ELSE 0 END) + 1) AS rfm
      |FROM base, cp""".stripMargin

  /** E37: engine-exact correlation + least-squares fit per group.
    * Engine-native `corr()` accumulates running doubles whose value
    * depends on merge order (Welford partials) — nondeterministic across
    * partitionings and engines. Here the five moments are EXACT decimal
    * sums (order-independent), and the corr/slope/intercept arithmetic
    * runs in double with one stated operation order, so results are
    * bit-identical on any cluster AND in the oracle.
    */
  def corrStats(spark: SparkSession, dir: String): DataFrame = {
    val x = dec(col("l_quantity"))
    val y = dec(col("l_extendedprice"))
    val m = Tables(spark, dir).lineitem
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum(x * y).as("sxy"), sum(x * x).as("sxx"), sum(y * y).as("syy"))
    val n = col("n").cast("double")
    val sx = col("sx").cast("double"); val sy = col("sy").cast("double")
    val sxy = col("sxy").cast("double")
    val sxx = col("sxx").cast("double"); val syy = col("syy").cast("double")
    val num = n * sxy - sx * sy
    val varx = n * sxx - sx * sx
    val slope = num / varx
    // final rounding (corr 8dp, fit 6dp): the decimal moments are exact,
    // but decimal→double CASTS can differ by one ulp between engines —
    // rounding the outputs absorbs that, same as every percentile face
    m.select(
      col("l_returnflag"), col("n"),
      round(num / (sqrt(varx) * sqrt(n * syy - sy * sy)), 8).as("corr_qty_price"),
      round(slope, 6).as("slope"),
      round((sy - slope * sx) / n, 6).as("intercept"))
  }

  /** E38: robust outlier detection via median absolute deviation — the
    * heavy-tail-safe companion to E27's z-score (one wild value moves a
    * mean/stddev fence; the MAD fence doesn't move). Per event type:
    * median, MAD, and the count beyond 3×MAD. Medians are exact
    * interpolated percentiles rounded at 4dp before any comparison
    * (E7's portability rule), and group stats re-enter as broadcast
    * joins — the value column is scanned, never re-shuffled. Exact
    * per-group percentiles buffer a group's values in the aggregate;
    * E8b's mergeable digest is the declared sketch path at scale.
    */
  def anomalyMad(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).events.select(col("event_type"), col("value"))
    val med = e.groupBy(col("event_type"))
      .agg(round(call_function("percentile", col("value"), lit(0.5)), 4).as("med"))
    val dev = e.join(broadcast(med), "event_type")
      .withColumn("dev", round(abs(col("value") - col("med")), 4))
    val mad = dev.groupBy(col("event_type"))
      .agg(round(call_function("percentile", col("dev"), lit(0.5)), 4).as("mad"))
    dev.join(broadcast(mad), "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        first(col("med")).as("med"),
        first(col("mad")).as("mad"),
        sum(when(col("dev") > col("mad") * 3, 1L).otherwise(0L)).as("n_outliers"))
  }

  val anomalyMadSql: String =
    """WITH med AS (
      |  SELECT event_type, round(quantile_cont(value, 0.5), 4) AS med
      |  FROM events GROUP BY 1),
      |dev AS (
      |  SELECT e.event_type, round(abs(e.value - m.med), 4) AS dev, m.med
      |  FROM events e JOIN med m ON e.event_type = m.event_type),
      |mad AS (
      |  SELECT event_type, round(quantile_cont(dev, 0.5), 4) AS mad
      |  FROM dev GROUP BY 1)
      |SELECT d.event_type, COUNT(*) AS n_rows,
      |  MIN(d.med) AS med, MIN(a.mad) AS mad,
      |  CAST(SUM(CASE WHEN d.dev > a.mad * 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM dev d JOIN mad a ON d.event_type = a.event_type
      |GROUP BY d.event_type""".stripMargin

  val corrStatsSql: String =
    """WITH m AS (
      |  SELECT l_returnflag,
      |         CAST(COUNT(*) AS BIGINT) AS n,
      |         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
      |         SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
      |         SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy,
      |         SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
      |         SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS syy
      |  FROM lineitem GROUP BY 1)
      |SELECT l_returnflag, n,
      |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |       * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 8)
      |    AS corr_qty_price,
      |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
      |    AS slope,
      |  round((CAST(sy AS DOUBLE)
      |     - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |       / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |       * CAST(sx AS DOUBLE))
      |    / CAST(n AS DOUBLE), 6) AS intercept
      |FROM m""".stripMargin

  /** E70: rolling 7-day EXACT median of daily revenue — the
    * robust-smoothing companion to E28's moving average (median ignores
    * single-day spikes the mean chases). Daily revenue is a
    * decimal-exact partial aggregate cast to double ONCE; the frame
    * median interpolates the middle pair, identically in both engines
    * over identical doubles. The window partitions by YEAR (frames
    * reset at year boundaries) so no single-reducer global window
    * exists at any scale — each year's ~365-row frame evaluates in one
    * task while years parallelize.
    */
  def rollingMedian(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables(spark, dir).lineitem
      .groupBy(year(col("l_shipdate")).as("yr"),
        to_date(col("l_shipdate")).as("day"))
      .agg(sum(dec(col("l_extendedprice"))).cast("double").as("rev"))
    val w = Window.partitionBy(col("yr")).orderBy(col("day")).rowsBetween(-6, 0)
    daily.select(col("yr"), col("day"), col("rev"),
      call_function("percentile", col("rev"), lit(0.5)).over(w).as("med7"))
  }

  val rollingMedianSql: String =
    """WITH daily AS (
      |  SELECT CAST(year(l_shipdate) AS INTEGER) AS yr,
      |    CAST(l_shipdate AS DATE) AS day,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
      |  FROM lineitem GROUP BY 1, 2)
      |SELECT yr, day, rev,
      |  median(rev) OVER (PARTITION BY yr ORDER BY day
      |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS med7
      |FROM daily""".stripMargin

  /** E79: Wald–Wolfowitz runs test on daily revenue direction, per
    * year — "is the series trending/mean-reverting or random?", the
    * randomness screen behind seasonality and changepoint panels (E55,
    * A32 assume structure; this tests for it). Up/down signs come from
    * EXACT decimal day-over-day diffs (no float sign flips), runs and
    * the ±counts are integer window/aggregate work, and expected
    * runs/variance/z are one shared IEEE chain over those integers.
    * Windows partition by YEAR (E70's discipline) — no single-reducer
    * global window; each year's frame is ≤366 rows.
    */
  def runsTest(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("yr")).orderBy(col("day"))
    val daily = Tables(spark, dir).lineitem
      .groupBy(year(col("l_shipdate")).as("yr"),
        to_date(col("l_shipdate")).as("day"))
      .agg(sum(dec(col("l_extendedprice"))).cast("decimal(19,2)").as("rev"))
    val diffs = daily
      .withColumn("prev", lag(col("rev"), 1).over(w))
      .filter(col("prev").isNotNull && col("rev") =!= col("prev"))
      .withColumn("s", when(col("rev") > col("prev"), 1).otherwise(-1))
    val agg = diffs
      .withColumn("ps", lag(col("s"), 1).over(w))
      .groupBy(col("yr"))
      .agg(sum(when(col("s") === 1, 1L).otherwise(0L)).as("n_up"),
        sum(when(col("s") === -1, 1L).otherwise(0L)).as("n_down"),
        sum(when(col("ps").isNull || col("s") =!= col("ps"), 1L)
          .otherwise(0L)).as("n_runs"))
    val n = col("n_up") + col("n_down")
    val expc = lit(2.0) * col("n_up") * col("n_down") / n + 1
    val v = (expc - 1) * (expc - 2) / (n - 1)
    agg.withColumn("expc", expc).withColumn("v", v)
      .filter(col("v") > 0)
      .select(col("yr"), col("n_up"), col("n_down"), col("n_runs"),
        (floor((col("n_runs") - col("expc")) / sqrt(col("v")) * 10000
          + lit(0.5)) / 10000).as("z"))
  }

  val runsTestSql: String =
    """WITH daily AS (
      |  SELECT CAST(year(l_shipdate) AS INTEGER) AS yr,
      |    CAST(l_shipdate AS DATE) AS day,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(19,2)) AS rev
      |  FROM lineitem GROUP BY 1, 2),
      |diffs AS (
      |  SELECT yr, day, rev,
      |    lag(rev) OVER (PARTITION BY yr ORDER BY day) AS prev
      |  FROM daily),
      |signs AS (
      |  SELECT yr, day, CASE WHEN rev > prev THEN 1 ELSE -1 END AS s
      |  FROM diffs WHERE prev IS NOT NULL AND rev != prev),
      |marked AS (
      |  SELECT yr, s, lag(s) OVER (PARTITION BY yr ORDER BY day) AS ps
      |  FROM signs),
      |agg AS (
      |  SELECT yr,
      |    CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
      |    CAST(SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_down,
      |    CAST(SUM(CASE WHEN ps IS NULL OR s != ps THEN 1 ELSE 0 END) AS BIGINT) AS n_runs
      |  FROM marked GROUP BY 1),
      |scored AS (
      |  SELECT yr, n_up, n_down, n_runs,
      |    2.0 * n_up * n_down / (n_up + n_down) + 1 AS expc,
      |    (2.0 * n_up * n_down / (n_up + n_down) + 1 - 1)
      |      * (2.0 * n_up * n_down / (n_up + n_down) + 1 - 2)
      |      / (n_up + n_down - 1) AS v
      |  FROM agg)
      |SELECT yr, n_up, n_down, n_runs,
      |  floor((n_runs - expc) / sqrt(v) * 10000 + 0.5) / 10000 AS z
      |FROM scored WHERE v > 0""".stripMargin

  /** One skyline pass: within each `parts` group, keep exactly the
    * points not strictly dominated (∃ other point with higher price AND
    * later day) by a groupmate. Ordered by (price desc, day asc), every
    * preceding row is strictly pricier or a same-price point no later
    * than this one, so the running max day over the preceding frame
    * exceeds this point's day iff some strictly-pricier point is later.
    * One window over one reference to the input.
    */
  private def skylinePass(df: DataFrame, parts: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val order = Seq(col("price").desc, col("day").asc)
    val w0 =
      if (parts.isEmpty) Window.orderBy(order: _*)
      else Window.partitionBy(parts.map(col): _*).orderBy(order: _*)
    df.withColumn("prev_max",
        max(col("day")).over(w0.rowsBetween(Window.unboundedPreceding, -1)))
      .filter(col("prev_max").isNull || col("day") >= col("prev_max"))
      .drop("prev_max")
  }

  /** E71: skyline (Pareto frontier) of orders on (totalprice,
    * orderdate) — "no other order is both pricier and later", the
    * classic multi-criteria shortlist operator (BÖRZSÖNYI et al.'s
    * skyline; reference-family warehouses hand-roll it with NOT
    * EXISTS). NOT EXISTS is a quadratic self-join; this is the
    * distributive formulation: dominance is transitive, so a point
    * dominated inside ANY subset is dominated globally — phase 1 runs
    * [[skylinePass]] per hash bucket (32 parallel frames, no global
    * sort touches the full table), and only the surviving sliver — the
    * union of local skylines, a superset of the answer — enters the
    * phase-2 global pass, whose single-reducer window sees O(skyline)
    * rows, not O(orders). At 1000 executors the bucket count rises with
    * the cluster; the full-table state stays partitioned.
    */
  def skyline(spark: SparkSession, dir: String): DataFrame = {
    val pts = Tables(spark, dir).orders.select(
      col("o_orderkey"),
      col("o_totalprice").as("price"),
      to_date(col("o_orderdate")).as("day"))
    // bucket count follows the cluster (defaultParallelism), keeping
    // phase-1 per-bucket sort size ~|rows|/cores at ANY deployment —
    // the result is bucket-count-invariant because a local pass only
    // removes dominated points (dominance is transitive), so any
    // bucketing yields the same phase-2 answer
    val buckets = pts.sparkSession.sparkContext.defaultParallelism
    val local = skylinePass(
      pts.withColumn("b", pmod(hash(col("o_orderkey")), lit(buckets))), Seq("b"))
      .drop("b")
    skylinePass(local, Nil)
      .select(col("o_orderkey"), col("price"), col("day"))
  }

  val skylineSql: String =
    """WITH p AS (
      |  SELECT o_orderkey, o_totalprice AS price, CAST(o_orderdate AS DATE) AS day
      |  FROM orders)
      |SELECT o_orderkey, price, day FROM p o
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM p d WHERE d.price > o.price AND d.day > o.day)""".stripMargin

  /** E72: exponentially-weighted moving average of daily revenue
    * (half-life smoothing, the trend signal ops dashboards pair with
    * E28's flat mean and E70's median). The kernel is EXACT decimal
    * arithmetic end to end: weights 0.9^lag for lag 0..6 are finite
    * 6-dp decimals inlined as literals (no engine pow(), whose libm
    * ulp could differ), daily revenue is the decimal partial aggregate,
    * and each day SENDS its revenue forward to the 7 days it smooths
    * (day + lag), folded by one groupBy on the target day — no join, no
    * range join, no global window; the only shuffles are the daily
    * aggregate and the |days|×7 target aggregate.
    * The final cast+divide are the only IEEE steps, via the split-cast
    * and floor-rounding idioms (see the kernel comment).
    */
  def ewma(spark: SparkSession, dir: String): DataFrame = {
    // rev pinned to DECIMAL(19,2) (bollinger's discipline): an
    // unbounded sum type makes w×rev exceed precision 38, where Spark
    // REDUCES the product scale (rounding the products) while DuckDB
    // falls back differently — pinned, the product is (27,8), exact in
    // both engines
    val daily = Tables(spark, dir).lineitem
      .groupBy(to_date(col("l_shipdate")).as("day"))
      .agg(sum(dec(col("l_extendedprice"))).cast("decimal(19,2)").as("rev"))
    val weights = (0 to 6).map(l =>
      lit(BigDecimal("0.9").pow(l).setScale(6).bigDecimal))
    // num is DECIMAL scale 8 whose scaled integer exceeds 2^53 at
    // realistic revenue — DuckDB's decimal→double cast double-rounds
    // there (int128→double, then ÷10^scale), one ulp off Spark's
    // correctly-rounded BigDecimal cast. Split-cast (exact floor +
    // fraction, one shared add) and floor-based rounding are the same
    // portable idioms bollinger uses below. den (≤7 weights, scale 6)
    // and the daily rev (scale 2, ≤1e13 scaled) stay under 2^53 and
    // cast directly.
    // the sum is narrowed to (26,8) BEFORE the split: on a (38,8) the
    // subtraction's result type overflows precision 38 and Spark then
    // trims the scale to its 6-digit minimum, silently rounding the
    // fraction (observed: .25049837 -> .2504984, a 32-ulp numd shift);
    // at (26,8) every split op stays inside 38 and is exact. The
    // narrow bound (1e18 in weighted revenue) fails loudly, not
    // silently, if ever exceeded.
    val num = sum(col("w") * col("rev")).cast("decimal(26,8)")
    val numD = floor(num).cast("double") + (num - floor(num)).cast("double")
    // a target day is smoothed only if it is a real day: its lag-0 row
    daily
      .withColumn("lag", explode(sequence(lit(0), lit(6))))
      .withColumn("w", element_at(array(weights: _*), col("lag") + 1))
      .groupBy(date_add(col("day"), col("lag")).as("day"))
      .agg(
        min(col("lag")).as("lag0"),
        max(when(col("lag") === 0, col("rev"))).cast("double").as("rev"),
        (floor(numD / sum(col("w")).cast("double") * 10000 + lit(0.5)) / 10000)
          .as("ewma7"))
      .filter(col("lag0") === 0)
      .drop("lag0")
  }

  val ewmaSql: String = {
    val ws = (0 to 6).map(l =>
      s"($l, CAST(${BigDecimal("0.9").pow(l).setScale(6)} AS DECIMAL(12,6)))")
      .mkString(", ")
    s"""WITH daily AS (
       |  SELECT CAST(l_shipdate AS DATE) AS day,
       |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(19,2)) AS rev
       |  FROM lineitem GROUP BY 1),
       |lags(lag, w) AS (VALUES $ws)
       |SELECT t.day AS day,
       |  CAST(MAX(CASE WHEN lag = 0 THEN d.rev END) AS DOUBLE) AS rev,
       |  floor((CAST(floor(CAST(SUM(w * d.rev) AS DECIMAL(26,8))) AS DOUBLE)
       |         + CAST(CAST(SUM(w * d.rev) AS DECIMAL(26,8))
       |                - floor(CAST(SUM(w * d.rev) AS DECIMAL(26,8))) AS DOUBLE))
       |        / CAST(SUM(w) AS DOUBLE) * 10000 + 0.5) / 10000 AS ewma7
       |FROM daily t JOIN lags ON TRUE
       |JOIN daily d ON d.day = t.day - lag
       |GROUP BY 1""".stripMargin
  }

  /** E75: Bollinger bands over daily revenue — 7-day moving mean ±2σ
    * with breach flags (the volatility envelope ops charts pair with
    * E28/E70/E72). No engine stddev builtin touches the data (its
    * accumulation order is engine-private): the frame carries EXACT
    * decimal Σx and Σx² window sums, cast once, and mean/σ/bands are
    * one shared IEEE expression — `greatest(·,0)` guards the
    * cancellation-induced tiny negative variance identically in both
    * engines. Frames partition by YEAR (E70's discipline): no global
    * single-reducer window at any scale.
    */
  def bollinger(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // rev is PINNED to DECIMAL(19,2): an unbounded sum type would make
    // rev*rev exceed precision 38 in DuckDB (which then falls back to
    // DOUBLE and its order-dependent summation) while Spark stays
    // exact decimal — the 1-ulp sxx divergence that flips a band digit.
    // 19, not 18: DuckDB multiplies in the OPERAND's physical width, so
    // 19+19=38 forces the exact int128 kernel (18,2 squared overflows
    // its int64 kernel outright on 1e9-cent days)
    val daily = Tables(spark, dir).lineitem
      .groupBy(year(col("l_shipdate")).as("yr"),
        to_date(col("l_shipdate")).as("day"))
      .agg(sum(dec(col("l_extendedprice"))).cast("decimal(19,2)").as("rev"))
    val f = Window.partitionBy(col("yr")).orderBy(col("day")).rowsBetween(-6, 0)
    // sxx's scaled integer exceeds 2^53, and DuckDB casts decimal to
    // double as (int128 -> double) / 10^scale — TWO roundings, one ulp
    // off the correctly-rounded value Spark's BigDecimal cast returns.
    // Split-cast is the portable idiom: floor(sxx) is exactly double-
    // representable (< 2^53 at any plausible revenue), the fraction is
    // < 1, and the one IEEE add is the same two operands in both
    // engines.
    val sxxDec = sum(col("rev") * col("rev")).over(f)
    val base = daily.select(col("yr"), col("day"),
      col("rev").cast("double").as("rev"),
      count(lit(1)).over(f).as("n"),
      sum(col("rev")).over(f).cast("double").as("sx"),
      (floor(sxxDec).cast("double")
        + (sxxDec - floor(sxxDec)).cast("double")).as("sxx"))
      .filter(col("n") >= 2)
    val m = col("sx") / col("n")
    val sd = sqrt(greatest((col("sxx") - col("sx") * col("sx") / col("n"))
      / (col("n") - 1), lit(0.0)))
    // engine round() disagrees at decimal boundaries on 1e7-magnitude
    // doubles (HALF_UP over the exact binary expansion vs scaled
    // nearbyint); floor(x*1e4 + 0.5)/1e4 is the same IEEE op sequence
    // in both engines — bit-identical, the embedQuantize idiom
    def r4(c: Column): Column = floor(c * 10000 + lit(0.5)) / 10000
    base
      .withColumn("m", m).withColumn("sd", sd)
      .select(col("day"), col("rev"),
        r4(col("m")).as("ma7"),
        r4(col("m") + col("sd") * 2).as("upper"),
        r4(col("m") - col("sd") * 2).as("lower"),
        (col("rev") > col("m") + col("sd") * 2
          || col("rev") < col("m") - col("sd") * 2).as("breach"))
  }

  val bollingerSql: String =
    """WITH daily AS (
      |  SELECT CAST(year(l_shipdate) AS INTEGER) AS yr,
      |    CAST(l_shipdate AS DATE) AS day,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(19,2)) AS rev
      |  FROM lineitem GROUP BY 1, 2),
      |base AS (
      |  SELECT yr, day, CAST(rev AS DOUBLE) AS rev,
      |    CAST(COUNT(*) OVER f AS BIGINT) AS n,
      |    CAST(SUM(rev) OVER f AS DOUBLE) AS sx,
      |    CAST(floor(SUM(rev * rev) OVER f) AS DOUBLE)
      |      + CAST(SUM(rev * rev) OVER f - floor(SUM(rev * rev) OVER f) AS DOUBLE) AS sxx
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

  /** E73: hour-of-week anomaly screen over the events stream — each
    * (day, hour) cell's count against its (weekday, hour) seasonal
    * baseline, scored LEAVE-ONE-OUT (the cell is excluded from its own
    * mean/variance: a within-sample z is mathematically bounded by
    * (n−1)/√n — at four weeks of history no spike could ever exceed
    * 1.8 — while the LOO z is the unbounded "how far off the OTHER
    * weeks' same hour" detector). The top-20 most anomalous cells are
    * reported. Every moment is an exact integer sum (n, Σx, Σx² of
    * BIGINT counts), so mean/sd/z are the same IEEE expression over
    * identical operands in both engines — no stddev builtin (whose
    * accumulation order is engine-private) touches the data; the
    * top-20 order is decided on the bit-identical unrounded score with
    * a (day, hh) tiebreak. Two aggregations, both on grouping keys;
    * the 168-row baseline broadcasts back.
    */
  def hourlyAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .select(col("ts").as("t"))
    val hourly = ev.groupBy(
        to_date(col("t")).as("day"),
        (dayofweek(col("t")) - 1).as("dow"),
        hour(col("t")).as("hh"))
      .agg(count(lit(1)).as("cnt"))
    val base = hourly.groupBy("dow", "hh")
      .agg(count(lit(1)).as("n"), sum(col("cnt")).as("sx"),
        sum(col("cnt") * col("cnt")).as("sxx"))
      .filter(col("n") >= 3)
    val m = (col("sx") - col("cnt")).cast("double") / (col("n") - 1)
    val v = ((col("sxx") - col("cnt") * col("cnt")).cast("double")
      - (col("n") - 1) * col("m") * col("m")) / (col("n") - 2)
    hourly.join(broadcast(base), Seq("dow", "hh"))
      .withColumn("m", m)
      .withColumn("v", v)
      .filter(col("v") > 0)
      .withColumn("z", (col("cnt") - col("m")) / sqrt(col("v")))
      .orderBy(abs(col("z")).desc, col("day"), col("hh"))
      .limit(20)
      .select(col("day"), col("dow"), col("hh"), col("cnt"),
        round(col("z"), 4).as("z"))
  }

  val hourlyAnomalySql: String =
    """WITH hourly AS (
      |  SELECT CAST(ts AS DATE) AS day,
      |    CAST(dayofweek(ts) AS INTEGER) AS dow,
      |    CAST(hour(ts) AS INTEGER) AS hh,
      |    COUNT(*) AS cnt
      |  FROM events GROUP BY 1, 2, 3),
      |base AS (
      |  SELECT dow, hh, COUNT(*) AS n,
      |    CAST(SUM(cnt) AS BIGINT) AS sx,
      |    CAST(SUM(cnt * cnt) AS BIGINT) AS sxx
      |  FROM hourly GROUP BY 1, 2
      |  HAVING COUNT(*) >= 3),
      |loo AS (
      |  SELECT day, dow, hh, cnt,
      |    CAST(sx - cnt AS DOUBLE) / (n - 1) AS m,
      |    (CAST(sxx - cnt * cnt AS DOUBLE)
      |      - (n - 1) * (CAST(sx - cnt AS DOUBLE) / (n - 1))
      |        * (CAST(sx - cnt AS DOUBLE) / (n - 1))) / (n - 2) AS v
      |  FROM hourly JOIN base USING (dow, hh)),
      |scored AS (
      |  SELECT day, dow, hh, cnt, (cnt - m) / sqrt(v) AS z
      |  FROM loo WHERE v > 0
      |  ORDER BY abs((cnt - m) / sqrt(v)) DESC, day, hh
      |  LIMIT 20)
      |SELECT day, dow, hh, cnt, round(z, 4) AS z FROM scored""".stripMargin
}
