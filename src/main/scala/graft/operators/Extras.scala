package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Fns._
import graft.sources.Tables

/** Additional relational surface (SURVEY §2 E-block): semi-structured
  * column extraction, analytic windows beyond row_number, hierarchy
  * rollups, and multi-distinct aggregation — the rest of the query
  * vocabulary an analytics engine of the reference's class serves.
  */
object Extras {

  /** E1: JSON column extraction — `events.props` is a JSON string;
    * extract and aggregate on a field. At scale the extraction is
    * map-only; only the (k, type) aggregate shuffles.
    */
  def jsonProps(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("k"),
        col("value"))
      .groupBy(col("event_type"), (col("k") % 10).as("k_bucket"))
      .agg(count(lit(1)).as("n_events"), decSum(col("value")).as("total_value"))

  val jsonPropsSql: String =
    """SELECT event_type,
      |  CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_bucket,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY 1, 2""".stripMargin

  /** E2: running total — per-customer cumulative order value in order
    * date order. Exact-decimal prefix sums are order-deterministic,
    * so every row's double is engine-identical.
    */
  def runningTotal(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(spark, dir).orders
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        sum(dec(col("o_totalprice"))).over(w).cast("double").as("running_total"))
  }

  val runningTotalSql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total
      |FROM orders""".stripMargin

  /** E3: hierarchy rollup — revenue by (region, nation) with ROLLUP
    * subtotals and grand total; null grouping levels labeled 'ALL' for
    * portability. Partial aggregation keeps the expand cheap.
    */
  def regionRollup(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.customer
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"), decSum(col("c_acctbal")).as("total_balance"))
      .select(coalesce(col("r_name"), lit("ALL")).as("region"),
        coalesce(col("n_name"), lit("ALL")).as("nation"),
        col("n_customers"), col("total_balance"))
  }

  val regionRollupSql: String =
    """SELECT coalesce(r_name, 'ALL') AS region, coalesce(n_name, 'ALL') AS nation,
      |  COUNT(*) AS n_customers,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_balance
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP(r_name, n_name)""".stripMargin

  /** E5: as-of join — each 'purchase' event matched to the same user's
    * most recent prior (ts ≤ purchase ts) 'click'. Spark has no ASOF
    * join operator; per the preference order (SURVEY §3) this composes
    * built-ins instead of a custom SparkPlan: tag + union + running
    * `last(_, ignoreNulls)` over the event-time window — one shuffle on
    * the join key, sort within partitions, no range-join blowup. The
    * oracle states the same semantics with DuckDB's native ASOF JOIN.
    */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
    val tagged = ev.withColumn("is_click", (col("event_type") === "click").cast("int"))
    // clicks sort before purchases at equal ts so a same-instant click
    // is visible to the purchase (ASOF >= includes equality)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("is_click").desc, col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("last_click_ts_us",
        last(when(col("is_click") === 1, col("ts_us")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_event_id"),
        col("ts_us").as("purchase_ts_us"),
        coalesce(col("last_click_ts_us"), lit(-1L)).as("click_ts_us"))
  }

  /** E5b: the same as-of attribution through the NATIVE sort-merge
    * as-of operator ([[graft.plans.AsOf]]) — two key shuffles, one
    * streaming merge pass, one buffered right row; no union, no window
    * sort over both event types together. Same oracle as E5 (DuckDB
    * ASOF LEFT JOIN): the two faces must agree bit-for-bit.
    */
  def asofNative(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_event_id"),
        col("ts_us").as("purchase_ts_us"))
    // clicks carry only (key, time): equal-time duplicates collapse to
    // the same click_ts_us, so the as-of tie has one observable value
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("click_user_id"),
        col("ts_us").as("click_ts"))
    graft.plans.AsOf.joinAsOf(
      purchases, clicks,
      Seq(purchases("user_id")), Seq(clicks("click_user_id")),
      purchases("purchase_ts_us"), clicks("click_ts"))
      .select(col("user_id"), col("purchase_event_id"), col("purchase_ts_us"),
        coalesce(col("click_ts"), lit(-1L)).as("click_ts_us"))
  }

  val asofJoinSql: String =
    """SELECT p.user_id, p.event_id AS purchase_event_id,
      |  epoch_us(p.ts) AS purchase_ts_us,
      |  coalesce(epoch_us(c.ts), -1) AS click_ts_us
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin

  /** E11: pivot — monthly revenue spread across service-type columns
    * (wide report shape). The oracle states the equivalent conditional
    * aggregation, which is also exactly how Catalyst lowers `pivot`.
    */
  def pivotServiceType(spark: SparkSession, dir: String): DataFrame =
    Facts.factLineitem(spark, dir)
      .groupBy(date_trunc("month", col("l_shipdate")).as("ship_month"))
      .pivot("service_type", Seq("Open", "Final"))
      .agg(decSum(col("l_extendedprice")))
      .withColumnRenamed("Open", "open_revenue")
      .withColumnRenamed("Final", "final_revenue")

  val pivotServiceTypeSql: String =
    """WITH fact AS (
      |  SELECT l_shipdate, l_extendedprice,
      |    CASE l_linestatus WHEN 'O' THEN 'Open' ELSE 'Final' END AS service_type
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN (SELECT n_nationkey FROM nation JOIN region ON n_regionkey = r_regionkey
      |        WHERE r_name != 'AFRICA') supp ON s_nationkey = supp.n_nationkey
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN (SELECT n_nationkey FROM nation JOIN region ON n_regionkey = r_regionkey
      |        WHERE r_name != 'AFRICA') cust ON c_nationkey = cust.n_nationkey
      |)
      |SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS ship_month,
      |  CAST(SUM(CASE WHEN service_type = 'Open' THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS open_revenue,
      |  CAST(SUM(CASE WHEN service_type = 'Final' THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS final_revenue
      |FROM fact
      |GROUP BY 1""".stripMargin

  /** E12: CUBE — all grouping combinations of (region, status) with
    * labeled totals.
    */
  def cubeRegionStatus(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.orders
      // customer scales with SF — AQE picks its join strategy; only the
      // fixed-size nation/region dims carry hard broadcast hints
      .join(t.customer.select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .cube(col("r_name"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"), decSum(col("o_totalprice")).as("total_price"))
      .select(coalesce(col("r_name"), lit("ALL")).as("region"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        col("n_orders"), col("total_price"))
  }

  val cubeRegionStatusSql: String =
    """SELECT coalesce(r_name, 'ALL') AS region, coalesce(o_orderstatus, 'ALL') AS status,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY CUBE(r_name, o_orderstatus)""".stripMargin

  /** E13: set operations — customers active in 1996 vs 1997 compared
    * via INTERSECT / EXCEPT / UNION (distinct). Catalyst plans these as
    * semi/anti joins and distinct aggregations.
    */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir).orders
    def custs(year: Int) = o
      .filter(col("o_orderdate") >= lit(s"$year-01-01").cast("timestamp") &&
        col("o_orderdate") < lit(s"${year + 1}-01-01").cast("timestamp"))
      .select("o_custkey")
    val c96 = custs(1996); val c97 = custs(1997)
    val both = c96.intersect(c97).count()
    val only96 = c96.except(c97).count()
    val either = c96.union(c97).distinct().count()
    import spark.implicits._
    Seq((both, only96, either)).toDF("n_both", "n_only_1996", "n_either")
  }

  val setOpsSql: String =
    """WITH c96 AS (SELECT o_custkey FROM orders
      |             WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |               AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'),
      |     c97 AS (SELECT o_custkey FROM orders
      |             WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      |               AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00')
      |SELECT
      |  (SELECT COUNT(*) FROM (SELECT * FROM c96 INTERSECT SELECT * FROM c97)) AS n_both,
      |  (SELECT COUNT(*) FROM (SELECT * FROM c96 EXCEPT SELECT * FROM c97)) AS n_only_1996,
      |  (SELECT COUNT(*) FROM (SELECT * FROM c96 UNION SELECT * FROM c97)) AS n_either""".stripMargin

  /** E4: multi-distinct aggregation — distinct parts/suppliers/orders
    * per month (Catalyst plans this as Expand + two-phase aggregation;
    * at scale each distinct column shuffles once on (month, value)).
    */
  def distinctCounts(spark: SparkSession, dir: String): DataFrame = {
    // NOT the stock multi-countDistinct: that plans an Expand that
    // multiplies every fact row ×4 before the first partial aggregate —
    // at 100 TB that is trillions of synthetic rows through the hash
    // map. Instead each key gets its own narrow (2-column, pruned) scan
    // whose partial aggregate dedups map-side, so only distinct
    // (month, key) pairs ever shuffle; the per-month count frames are
    // tiny (|months|) and join broadcast. Same result, no amplification.
    // r11 examined and left alone: a shared 4-column spread (with or
    // without an eager checkpoint) measured 1.96-1.97 s vs 1.63 s for
    // this shape at sf0.1 — the three narrow 2-column per-branch
    // exchanges beat one wide shared exchange; the sort-before-
    // repartition cost scales with row width, not branch count.
    val li = Tables(spark, dir).lineitem
    val month = date_trunc("month", col("l_shipdate")).as("ship_month")
    def perKey(key: String, out: String): DataFrame =
      li.select(month, col(key))
        .repartition(spark.sparkContext.defaultParallelism)
        .groupBy(col("ship_month"), col(key)).agg(lit(1))
        .groupBy(col("ship_month")).agg(count(lit(1)).as(out))
    val lines = li.select(month)
      .groupBy(col("ship_month")).agg(count(lit(1)).as("n_lines"))
    perKey("l_partkey", "n_parts")
      .join(perKey("l_suppkey", "n_suppliers"), "ship_month")
      .join(perKey("l_orderkey", "n_orders"), "ship_month")
      .join(lines, "ship_month")
      .select(col("ship_month"), col("n_parts"), col("n_suppliers"),
        col("n_orders"), col("n_lines"))
  }

  /** E7: exact interpolated percentiles (median + p90) per return flag.
    * Both engines define continuous percentiles identically (sort,
    * index p·(n−1), linear interpolation); rounding to 4 decimals
    * absorbs last-ulp formula differences.
    */
  def percentiles(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).lineitem
      .groupBy(col("l_returnflag"))
      .agg(
        round(call_function("percentile", col("l_quantity"), lit(0.5)), 4).as("p50_qty"),
        round(call_function("percentile", col("l_extendedprice"), lit(0.9)), 4).as("p90_price"))

  val percentilesSql: String =
    """SELECT l_returnflag,
      |  round(quantile_cont(l_quantity, 0.5), 4) AS p50_qty,
      |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price
      |FROM lineitem
      |GROUP BY l_returnflag""".stripMargin

  /** E9: correlated subqueries — EXISTS (→ left-semi join) and a
    * correlated scalar count (→ left outer aggregate join) over
    * customers/orders. Written in SQL to exercise Catalyst's
    * decorrelation; the oracle states the identical SQL.
    */
  def subqueries(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.customer.createOrReplaceTempView("customer_v")
    t.orders.createOrReplaceTempView("orders_v")
    spark.sql(
      """SELECT c_custkey, c_mktsegment,
        |  (SELECT COUNT(*) FROM orders_v WHERE o_custkey = c_custkey) AS n_orders
        |FROM customer_v
        |WHERE EXISTS (SELECT 1 FROM orders_v
        |              WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        |""".stripMargin)
  }

  val subqueriesSql: String =
    """SELECT c_custkey, c_mktsegment,
      |  (SELECT COUNT(*) FROM orders WHERE o_custkey = c_custkey) AS n_orders
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_orderstatus = 'O')""".stripMargin

  /** E8: sketch-based distinct counting (HyperLogLog++) next to the
    * exact count — the at-scale substitute for E4's Expand plan. HLL
    * estimates differ by engine, so the driver face pins the EXACT
    * companion column plus `approx_ok`, the in-plan claim that the
    * sketch landed within its error budget (5% + 2 absolute, matching
    * the spec bound) — a DuckDB oracle states exact + TRUE, so an
    * out-of-budget sketch hash-mismatches and fails the gate.
    */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame =
    approxDistinctRaw(spark, dir)
      .select(col("ship_year"), col("exact_parts"),
        (abs(col("approx_parts") - col("exact_parts")) <=
          col("exact_parts") * 0.05 + 2).as("approx_ok"))

  /** Both columns raw, for the error-bound spec.
    *
    * The exact witness rides E60's bitmap aggregate, not
    * `countDistinct`: mixing a distinct agg with the sketch forced the
    * two-phase distinct rewrite (two exchanges, four aggregate passes —
    * the r10 sweep's biggest fixed cost among the sketch faces), while
    * the bitmap partial is one map-combinable pass whose state is
    * `⌈|part domain|/64⌉` words per (year, task) regardless of row
    * count. The domain bound comes from the PART dimension (l_partkey's
    * FK target) as a 1-row agg — the same bounded-collect class as E60
    * itself. The bitmap arm is the right witness while the key domain
    * is dimension-bounded (parts, zones, merchants); past
    * `BitmapAgg`'s 2²⁷ guard the HLL column IS the answer and the
    * witness falls back to E4's two-phase shape.
    */
  def approxDistinctRaw(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val domain = t.part.agg(max(col("p_partkey"))).head.getLong(0).toInt + 1
    t.lineitem
      .select(col("l_shipdate"), col("l_partkey"))
      .groupBy(date_trunc("year", col("l_shipdate")).as("ship_year"))
      .agg(
        approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
        graft.functions.BitmapAgg.bitmap_distinct(col("l_partkey"), domain)
          .as("exact_parts"))
  }

  val approxDistinctSql: String =
    """SELECT CAST(date_trunc('year', l_shipdate) AS TIMESTAMP) AS ship_year,
      |  COUNT(DISTINCT l_partkey) AS exact_parts,
      |  TRUE AS approx_ok
      |FROM lineitem
      |GROUP BY 1""".stripMargin

  val distinctCountsSql: String =
    """SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS ship_month,
      |  COUNT(DISTINCT l_partkey) AS n_parts,
      |  COUNT(DISTINCT l_suppkey) AS n_suppliers,
      |  COUNT(DISTINCT l_orderkey) AS n_orders,
      |  COUNT(*) AS n_lines
      |FROM lineitem
      |GROUP BY 1""".stripMargin

  // ------------------------------------------------------- round-2 surface

  private val HourUs = 3600L * 1000000L

  /** E14: time-range join — each purchase counts the same user's clicks
    * in the preceding hour. Spark has no range-join operator; a naive
    * inequality join degenerates to a per-user cross product. The scale
    * path is the bucketed equi-join: both sides bucket to the hour,
    * purchases probe buckets {h−1, h} (a 1-hour range spans at most two
    * hour buckets), and the range predicate filters inside the bounded
    * candidate set. The exchange is keyed on (user, bucket) — uniform,
    * bounded, never quadratic. The oracle states the same semantics as
    * a correlated range count.
    */
  def rangeJoin(spark: SparkSession, dir: String): DataFrame = {
    def hourBucket(c: Column): Column = call_function("div", c, lit(HourUs))
    val ev = Tables(spark, dir).events
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts_us").as("click_us"),
        hourBucket(col("ts_us")).as("bucket"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_event_id"),
        col("ts_us").as("purchase_us"))
      .withColumn("bucket", explode(array(
        hourBucket(col("purchase_us")) - 1, hourBucket(col("purchase_us")))))
    purchases.join(clicks, Seq("user_id", "bucket"), "left")
      .groupBy(col("user_id"), col("purchase_event_id"), col("purchase_us"))
      .agg(sum(
        when(col("click_us") >= col("purchase_us") - HourUs &&
          col("click_us") <= col("purchase_us"), 1L).otherwise(0L))
        .as("n_clicks_1h"))
  }

  val rangeJoinSql: String =
    """SELECT p.user_id, p.event_id AS purchase_event_id,
      |  epoch_us(p.ts) AS purchase_us,
      |  (SELECT COUNT(*) FROM events c
      |   WHERE c.event_type = 'click' AND c.user_id = p.user_id
      |     AND epoch_us(c.ts) >= epoch_us(p.ts) - 3600000000
      |     AND epoch_us(c.ts) <= epoch_us(p.ts)) AS n_clicks_1h
      |FROM events p WHERE p.event_type = 'purchase'""".stripMargin

  /** E15: GROUPING SETS — the general form behind ROLLUP/CUBE (E3/E12):
    * per-region totals, per-status totals, and the grand total in one
    * pass (Catalyst plans a single Expand + partial aggregation, not
    * three scans).
    */
  def groupingSetsQ(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.orders.createOrReplaceTempView("orders_gs")
    t.customer.createOrReplaceTempView("customer_gs")
    t.nation.createOrReplaceTempView("nation_gs")
    t.region.createOrReplaceTempView("region_gs")
    spark.sql(
      """SELECT coalesce(r_name, 'ALL') AS region,
        |  coalesce(o_orderstatus, 'ALL') AS status,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders_gs
        |JOIN customer_gs ON o_custkey = c_custkey
        |JOIN nation_gs ON c_nationkey = n_nationkey
        |JOIN region_gs ON n_regionkey = r_regionkey
        |GROUP BY GROUPING SETS ((r_name), (o_orderstatus), ())""".stripMargin)
  }

  val groupingSetsSql: String =
    """SELECT coalesce(r_name, 'ALL') AS region,
      |  coalesce(o_orderstatus, 'ALL') AS status,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY GROUPING SETS ((r_name), (o_orderstatus), ())""".stripMargin

  /** E16: analytic window functions beyond row_number — lag/lead
    * neighbors, rank, ntile quartiles per customer order history. The
    * window order (o_orderdate, o_orderkey) is total, so every function
    * is deterministic and engine-portable (ntile's definition is the
    * same floor-division split in both engines).
    */
  def windowFuncs(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables(spark, dir).orders.select(
      col("o_custkey"), col("o_orderkey"),
      rank().over(w).cast("long").as("rnk"),
      ntile(4).over(w).cast("long").as("quartile"),
      lag(dec(col("o_totalprice")), 1).over(w).cast("double").as("prev_price"),
      lead(dec(col("o_totalprice")), 1).over(w).cast("double").as("next_price"))
  }

  val windowFuncsSql: String =
    """SELECT o_custkey, o_orderkey,
      |  rank() OVER w AS rnk,
      |  ntile(4) OVER w AS quartile,
      |  CAST(lag(CAST(o_totalprice AS DECIMAL(18,2)), 1) OVER w AS DOUBLE) AS prev_price,
      |  CAST(lead(CAST(o_totalprice AS DECIMAL(18,2)), 1) OVER w AS DOUBLE) AS next_price
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin

  /** E17: semi/anti join surface — customers with a finished ('F') order
    * but no pending ('P') order, as explicit left-semi + left-anti joins
    * (what Catalyst decorrelates EXISTS/NOT EXISTS into; stated that way
    * in the oracle). Both joins ship only the key column of the probe
    * side.
    */
  def semiAnti(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val f = t.orders.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
    val p = t.orders.filter(col("o_orderstatus") === "P").select(col("o_custkey"))
    t.customer
      .join(f, col("c_custkey") === f("o_custkey"), "left_semi")
      .join(p, col("c_custkey") === p("o_custkey"), "left_anti")
      .agg(count(lit(1)).as("n_customers"),
        decSum(col("c_acctbal")).as("total_balance"))
  }

  val semiAntiSql: String =
    """SELECT COUNT(*) AS n_customers,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_balance
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')""".stripMargin

  /** E18: skew-resistant aggregation — event totals by type via
    * [[Skew.saltedAgg]]: event_type is tiny-cardinality (every key is
    * hot), so rows first combine under (type, salt-of-event_id) across
    * 16 reducers, then the ≤16 partials per type combine. Results are
    * exactly the plain groupBy (the oracle states that form); only the
    * exchange shape differs.
    */
  def skewSaltedTotals(spark: SparkSession, dir: String): DataFrame =
    Skew.saltedAgg(
      Tables(spark, dir).events.select(col("event_type"), col("event_id"), col("value")),
      key = Seq(col("event_type")),
      saltSource = col("event_id"),
      factor = 16,
      aggs = Seq(
        ("n_events", (_: Column) => count(lit(1)), (c: Column) => sum(c)),
        ("total_value", (c: Column) => sum(dec(c)), (c: Column) => sum(c))),
      valueCols = Seq(col("event_id"), col("value")))
      .select(col("event_type"), col("n_events"),
        col("total_value").cast("double").as("total_value"))

  val skewSaltedTotalsSql: String =
    """SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY event_type""".stripMargin

  /** E40: skew-resistant JOIN — the feed joined to its dimension via
    * [[Skew.saltedJoin]]: the big side salts on a row-unique column
    * (event_id) so a hot user's rows spread over 8 reducers, and the
    * small side explodes ×8 so every (key, salt) bucket matches. The
    * manual complement to AQE skew splitting — needed when a single
    * join KEY (not partition) is hot, which AQE cannot split. Result is
    * exactly the plain join; the oracle states that form.
    */
  def skewJoin(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    Skew.saltedJoin(
      big = t.events.select(col("user_id"), col("event_id"), col("value")),
      small = t.customer.select(col("c_custkey").as("user_id"), col("c_mktsegment")),
      key = "user_id",
      bigSaltSource = col("event_id"),
      factor = 8)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"),
        decSum(col("value")).as("total_value"))
  }

  val skewJoinSql: String =
    """SELECT c_mktsegment, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY c_mktsegment""".stripMargin

  /** E21: per-group mode — each user's most frequent event type.
    * Engine-native `mode()` is tie-arbitrary (not portable); this is the
    * deterministic form: count per (user, type), rank by (count desc,
    * type), keep rank 1. Two exchanges: the (user,type) count partials
    * and the per-user window — the window partitions on user_id
    * (high-cardinality), so no reducer hot-spot at scale.
    */
  def modePerUser(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables(spark, dir).events
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("n").desc, col("event_type"))
    counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("top_event_type"), col("n"))
  }

  val modePerUserSql: String =
    """WITH c AS (
      |  SELECT user_id, event_type, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY user_id
      |    ORDER BY n DESC, event_type) AS rn FROM c)
      |SELECT user_id, event_type AS top_event_type, n FROM r WHERE rn = 1""".stripMargin

  /** E22: argmin/argmax — each user's first and last event value in
    * event-time order, via min/max over a (ts, event_id, value) struct:
    * lexicographic struct ordering makes the unique (ts, event_id)
    * prefix the sort key and carries the value along. ONE
    * partially-aggregated shuffle on user_id (map-side min/max structs
    * per task) — no per-partition window sort, no distinct pass; both
    * engines order structs lexicographically, so the (ts, id) total
    * order keeps them in exact agreement.
    */
  def firstLastPerUser(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
        dec(col("value")).as("v"))
    val tagged = struct(col("ts_us"), col("event_id"), col("v"))
    ev.groupBy(col("user_id"))
      .agg(
        min(tagged).getField("v").cast("double").as("first_value"),
        max(tagged).getField("v").cast("double").as("last_value"))
  }

  val firstLastPerUserSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |    CAST(value AS DECIMAL(18,2)) AS v
      |  FROM events)
      |SELECT user_id,
      |  CAST((MIN(struct_pack(t := ts_us, i := event_id, v := v))).v AS DOUBLE) AS first_value,
      |  CAST((MAX(struct_pack(t := ts_us, i := event_id, v := v))).v AS DOUBLE) AS last_value
      |FROM e GROUP BY user_id""".stripMargin

  /** E23: month-over-month growth — the BI staple composed from the
    * reference's own pieces: fact build → monthly revenue per service
    * type → lag window for the previous month → growth percentage.
    * The window partitions by service_type over ~|months| aggregated
    * rows — post-aggregation window state is tiny at any input scale.
    * Division is spelled on exact decimal sums cast once to double,
    * then rounded, so both engines agree bitwise.
    */
  def momGrowth(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Facts.factLineitem(spark, dir)
      .groupBy(date_trunc("month", col("l_shipdate")).as("ship_month"),
        col("service_type"))
      .agg(decSum(col("l_extendedprice")).as("revenue"))
    val w = Window.partitionBy(col("service_type")).orderBy(col("ship_month"))
    monthly
      .withColumn("prev_revenue", lag(col("revenue"), 1).over(w))
      .withColumn("mom_pct",
        round((col("revenue") - col("prev_revenue")) / col("prev_revenue") * 100, 4))
  }

  val momGrowthSql: String =
    """WITH fact AS (
      |  SELECT l_shipdate, l_extendedprice,
      |    CASE l_linestatus WHEN 'O' THEN 'Open' ELSE 'Final' END AS service_type
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN (SELECT n_nationkey FROM nation JOIN region ON n_regionkey = r_regionkey
      |        WHERE r_name != 'AFRICA') supp ON s_nationkey = supp.n_nationkey
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN (SELECT n_nationkey FROM nation JOIN region ON n_regionkey = r_regionkey
      |        WHERE r_name != 'AFRICA') cust ON c_nationkey = cust.n_nationkey
      |), monthly AS (
      |  SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS ship_month,
      |    service_type,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |  FROM fact GROUP BY 1, 2)
      |SELECT ship_month, service_type, revenue,
      |  lag(revenue, 1) OVER w AS prev_revenue,
      |  round((revenue - lag(revenue, 1) OVER w) / lag(revenue, 1) OVER w * 100, 4) AS mom_pct
      |FROM monthly
      |WINDOW w AS (PARTITION BY service_type ORDER BY ship_month)""".stripMargin

  /** E28: sliding event-time window — per-event trailing-hour mean of
    * `value` via a RANGE frame over µs timestamps. Decimal-exact frame
    * sums (order-independent under tied timestamps, where the two
    * engines may order peers differently) divided once by the frame
    * count. Shuffles once on user_id; frame evaluation is per-task.
    */
  def movingAvg(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      .rangeBetween(-3600000000L, 0L)
    Tables(spark, dir).events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
        dec(col("value")).as("v"))
      .select(col("user_id"), col("event_id"), col("ts_us"),
        count(lit(1)).over(w).as("n_win"),
        (sum(col("v")).over(w).cast("double") / count(lit(1)).over(w))
          .as("avg_val"))
  }

  val movingAvgSql: String =
    """SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |  COUNT(*) OVER w AS n_win,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
      |    / COUNT(*) OVER w AS avg_val
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
      |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin

  /** E16b: ranking-distribution analytics — percent_rank / cume_dist /
    * nth_value over each customer's order history (completes E16's
    * lag/lead/rank/ntile). Total tiebreak order (date, orderkey) keeps
    * every value engine-deterministic; one shuffle on the partition key.
    */
  def windowRank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables(spark, dir).orders
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        dec(col("o_totalprice")).cast("double").as("price"))
      .select(col("o_custkey"), col("o_orderkey"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cume"),
        nth_value(col("price"), 2).over(w).as("second_price"))
  }

  val windowRankSql: String =
    """SELECT o_custkey, o_orderkey,
      |  round(percent_rank() OVER w, 6) AS pct_rank,
      |  round(cume_dist() OVER w, 6) AS cume,
      |  nth_value(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE), 2)
      |    OVER w AS second_price
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin

  /** E31: weekday × hour activity grid — the ops-dashboard heat map.
    * Portability trap made explicit: Spark `dayofweek` is 1=Sunday,
    * DuckDB `dayofweek` is 0=Sunday — both sides normalize to 0=Sunday.
    * Decimal-exact value sums; one partial-agg'd shuffle to a 7×24 grid.
    */
  def weekdayProfile(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir).events
      .select((dayofweek(col("ts")) - 1).as("dow"), hour(col("ts")).as("hh"),
        dec(col("value")).as("v"))
      .groupBy(col("dow"), col("hh"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("v")).cast("double").as("total_value"))
  }

  val weekdayProfileSql: String =
    """SELECT CAST(dayofweek(ts) AS INTEGER) AS dow,
      |  CAST(hour(ts) AS INTEGER) AS hh,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY 1, 2""".stripMargin

  /** E8b: per-group approximate percentiles — `percentile_approx`
    * (a mergeable GK digest: map tasks ship sketch state, never rows)
    * next to E7's exact interpolated percentiles. This is E7's 100 TB
    * path: no per-group sort, state O(sketch) per group. The sketch
    * value is engine-specific, so the driver face pins the exact
    * companions + in-plan error claims (1% relative + 1 absolute) the
    * oracle states as TRUE.
    */
  // r12 measured-and-reverted (guide §1): the ×1 fan-out scope + final
  // checkpoint that won on ks/gini/curriculum measured SLOWER here
  // (min-of-3 solo 1.86 → 2.06 s) — the three scan arms already overlap
  // under one action and the checkpoint barrier serializes their tails.
  def approxPercentiles(spark: SparkSession, dir: String): DataFrame =
    approxPercentilesRaw(spark, dir)
      .select(col("l_returnflag"), col("p50_qty"), col("p90_price"),
        (abs(col("p50_qty_approx") - col("p50_qty")) <=
          abs(col("p50_qty")) * 0.01 + 1).as("p50_ok"),
        (abs(col("p90_price_approx") - col("p90_price")) <=
          abs(col("p90_price")) * 0.01 + 1).as("p90_ok"))

  /** Exact interpolated percentile per return flag via E69's cells
    * discipline: fold the corpus to (flag, value) → count cells in one
    * map-combinable pass, then interpolate inside the DOMAIN-bounded
    * cell frame. The built-in `percentile` aggregate buffers every raw
    * value per group (an ObjectHashAggregate whose state grows with
    * the data — the one shape a 100 TB group cannot hold); here the
    * window runs over |distinct values| cells and the corpus itself
    * never leaves the scan-side partial aggregate. Same formula as
    * both engines' continuous quantile: index p·(n−1), linear
    * interpolation between the two covering cells; round(4) absorbs
    * last-ulp arrangement differences exactly as E7 does.
    */
  private def exactPctCells(li: DataFrame, valueCol: String, q: Double,
      out: String): DataFrame = {
    val cells = li.groupBy(col("l_returnflag"), col(valueCol).as("v"))
      .agg(count(lit(1)).as("w"))
    val run = Window.partitionBy(col("l_returnflag")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(col("l_returnflag"))
    val p = cells
      .select(col("l_returnflag"), col("v"), col("w"),
        sum(col("w")).over(run).as("cum"),
        sum(col("w")).over(tot).as("n"))
      .withColumn("pos", (col("n") - 1).cast("double") * q)
      .withColumn("lo", floor(col("pos")).cast("long"))
      .withColumn("hi", ceil(col("pos")).cast("long"))
    p.groupBy(col("l_returnflag"))
      .agg(
        max(when(col("cum") - col("w") <= col("lo") && col("lo") < col("cum"),
          col("v"))).as("vlo"),
        max(when(col("cum") - col("w") <= col("hi") && col("hi") < col("cum"),
          col("v"))).as("vhi"),
        max(col("pos")).as("pos"))
      .select(col("l_returnflag"),
        round(col("vlo") +
          (col("pos") - floor(col("pos"))) * (col("vhi") - col("vlo")), 4)
          .as(out))
  }

  /** Sketch and exact values side by side, for the error-bound spec.
    * Three scans, each pruned to two columns: the two exact arms are
    * cells passes ([[exactPctCells]]), the sketch arm is one
    * partial-merged digest pass; the three 3-row frames join broadcast.
    */
  def approxPercentilesRaw(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir).lineitem
    val sketch = li
      .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice"))
      .groupBy(col("l_returnflag"))
      .agg(
        percentile_approx(col("l_quantity"), lit(0.5), lit(10000)).as("p50_qty_approx"),
        percentile_approx(col("l_extendedprice"), lit(0.9), lit(10000)).as("p90_price_approx"))
    sketch
      .join(exactPctCells(li.select(col("l_returnflag"), col("l_quantity")),
        "l_quantity", 0.5, "p50_qty"), Seq("l_returnflag"))
      .join(exactPctCells(li.select(col("l_returnflag"), col("l_extendedprice")),
        "l_extendedprice", 0.9, "p90_price"), Seq("l_returnflag"))
  }

  val approxPercentilesSql: String =
    """SELECT l_returnflag,
      |  round(quantile_cont(l_quantity, 0.5), 4) AS p50_qty,
      |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
      |  TRUE AS p50_ok, TRUE AS p90_ok
      |FROM lineitem
      |GROUP BY l_returnflag""".stripMargin

  /** A20: dbt `source freshness` — per-source-partition staleness
    * against the feed's high-water mark. dbt checks `max(loaded_at)`
    * against wall-clock thresholds (`freshness:` config in the source
    * yml); a deterministic engine states it against the global high-
    * water mark instead (in-plan 1-row broadcast — no wall clock, no
    * driver collect): any event type further than 1 day behind the
    * freshest is stale.
    */
  def sourceFreshness(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables(spark, dir).events
      .select(col("event_type"), unix_micros(col("ts")).as("ts_us"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), max(col("ts_us")).as("max_ts_us"))
    val global = per.agg(max(col("max_ts_us")).as("as_of_us"))
    per.crossJoin(broadcast(global))
      .select(col("event_type"), col("n_events"), col("max_ts_us"),
        (col("as_of_us") - col("max_ts_us")).as("lag_us"),
        ((col("as_of_us") - col("max_ts_us")) > 86400000000L).as("is_stale"))
  }

  val sourceFreshnessSql: String =
    """WITH per AS (
      |  SELECT event_type, COUNT(*) AS n_events,
      |    MAX(epoch_us(ts)) AS max_ts_us
      |  FROM events GROUP BY 1),
      |g AS (SELECT MAX(max_ts_us) AS as_of_us FROM per)
      |SELECT event_type, n_events, max_ts_us,
      |  as_of_us - max_ts_us AS lag_us,
      |  (as_of_us - max_ts_us) > 86400000000 AS is_stale
      |FROM per, g""".stripMargin

  /** E29: FULL OUTER join — top-10 customers by order count against
    * top-10 by spend; the two rankings overlap partially, so both
    * unmatched sides are exercised. Completes the join-type matrix
    * (inner/left/semi/anti/asof elsewhere). Both inputs are bounded
    * TakeOrdered results, so the outer join itself broadcasts.
    */
  def fullOuter(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir).orders
    val byCount = o.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("n_orders").desc, col("o_custkey")).limit(10)
      .select(col("o_custkey").as("ck_a"), col("n_orders"))
    val bySpend = o.groupBy(col("o_custkey"))
      .agg(decSum(col("o_totalprice")).as("revenue"))
      .orderBy(col("revenue").desc, col("o_custkey")).limit(10)
      .select(col("o_custkey").as("ck_b"), col("revenue"))
    byCount.join(bySpend, col("ck_a") === col("ck_b"), "full_outer")
      .select(coalesce(col("ck_a"), col("ck_b")).as("o_custkey"),
        col("n_orders"), col("revenue"))
  }

  val fullOuterSql: String =
    """WITH a AS (
      |  SELECT o_custkey AS ck_a, COUNT(*) AS n_orders FROM orders
      |  GROUP BY 1 ORDER BY n_orders DESC, ck_a LIMIT 10),
      |b AS (
      |  SELECT o_custkey AS ck_b,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |  FROM orders GROUP BY 1 ORDER BY revenue DESC, ck_b LIMIT 10)
      |SELECT coalesce(ck_a, ck_b) AS o_custkey, n_orders, revenue
      |FROM a FULL OUTER JOIN b ON ck_a = ck_b""".stripMargin

  /** E30: mergeable distinct sketches — per-day HLL sketches of active
    * users, unioned into a per-event-type estimate. The warehouse
    * pattern behind incrementally-maintained distinct counts: daily
    * partials are STATE (DataSketches HLL, re-aggregable), so a new day
    * merges in O(sketch) instead of rescanning history — exactly how
    * E8's approx distinct becomes incremental at 100 TB. Sketch bytes
    * and estimates are engine-specific, so the driver face follows E8's
    * pattern: exact companion columns + `union_ok`, the in-plan claim
    * the unioned estimate landed within 5% + 2 of the exact distinct.
    */
  def hllUnion(spark: SparkSession, dir: String): DataFrame = {
    val approx = hllUnionRaw(spark, dir)
    val exact = Tables(spark, dir).events
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    approx.join(exact, "event_type")
      .select(col("event_type"), col("n_days"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users")) <=
          col("exact_users") * 0.05 + 2).as("union_ok"))
  }

  /** The raw sketch-union estimate, for the error-bound spec. */
  def hllUnionRaw(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events.select(col("event_type"),
      date_trunc("day", col("ts")).as("day"),
      col("user_id"))
    val daily = ev.groupBy(col("event_type"), col("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_users"))
  }

  val hllUnionSql: String =
    """SELECT event_type,
      |  COUNT(DISTINCT date_trunc('day', ts)) AS n_days,
      |  COUNT(DISTINCT user_id) AS exact_users,
      |  TRUE AS union_ok
      |FROM events
      |GROUP BY 1""".stripMargin

  /** E26: top-N per group through the bounded-heap
    * [[graft.functions.TopKAgg]] aggregate — top-3 orders per market
    * segment by (price, orderkey). This is the oracle-checked face of
    * the partial top-k path (each map task ships ≤ 3 pairs per
    * segment, vs a window sort of every row); the oracle states the
    * same result as the row_number formulation.
    */
  def topNPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val joined = t.orders
      // no hint: customer scales with SF; AQE broadcasts while small
      .join(t.customer.select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"),
        dec(col("o_totalprice")).cast("double").as("price"),
        col("o_orderkey"))
    joined.groupBy(col("c_mktsegment"))
      .agg(graft.functions.TopKAgg.top_k(
        struct(col("price"), col("o_orderkey")), 3).as("top"))
      .select(col("c_mktsegment"), posexplode(col("top")).as(Seq("idx", "e")))
      .select(col("c_mktsegment"), (col("idx") + 1).cast("long").as("rank"),
        col("e.id").as("o_orderkey"), col("e.score").as("price"))
  }

  val topNPerGroupSql: String =
    """WITH j AS (
      |  SELECT c_mktsegment,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price,
      |    o_orderkey
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY c_mktsegment
      |    ORDER BY price DESC, o_orderkey) AS rank FROM j)
      |SELECT c_mktsegment, rank, o_orderkey, price FROM r WHERE rank <= 3""".stripMargin

  /** E27: z-score outlier detection per event type — the classic
    * data-cleaning pass, with ENGINE-EXACT moments: sum(v) and sum(v²)
    * are exact decimals (order-independent), converted to double once;
    * mean/variance/z are then pure IEEE arithmetic, so the outlier set
    * is bit-identical in both engines regardless of partitioning. One
    * partial-agg shuffle for the moments, broadcast back, map-only
    * flagging.
    */
  def outliers(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .select(col("event_type"), col("event_id"), dec(col("value")).as("v"))
    val moments = ev.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      sum(col("v")).cast("double").as("s"),
      sum(col("v") * col("v")).cast("double").as("sq"))
    ev.join(broadcast(moments), "event_type")
      .withColumn("mean", col("s") / col("n"))
      .withColumn("variance",
        (col("sq") - col("s") * col("s") / col("n")) / col("n"))
      .withColumn("z",
        (col("v").cast("double") - col("mean")) / sqrt(col("variance")))
      .filter(abs(col("z")) > 3.0)
      .select(col("event_type"), col("event_id"),
        col("v").cast("double").as("value"), round(col("z"), 4).as("z"))
  }

  val outliersSql: String =
    """WITH e AS (
      |  SELECT event_type, event_id, CAST(value AS DECIMAL(18,2)) AS v
      |  FROM events),
      |m AS (
      |  SELECT event_type, COUNT(*) AS n,
      |    CAST(SUM(v) AS DOUBLE) AS s,
      |    CAST(SUM(v * v) AS DOUBLE) AS sq
      |  FROM e GROUP BY event_type),
      |z AS (
      |  SELECT e.event_type, event_id, CAST(v AS DOUBLE) AS value,
      |    (CAST(v AS DOUBLE) - s / n) / sqrt((sq - s * s / n) / n) AS z
      |  FROM e JOIN m ON e.event_type = m.event_type)
      |SELECT event_type, event_id, value, round(z, 4) AS z
      |FROM z WHERE abs(z) > 3.0""".stripMargin

  /** E24: conversion funnel — users progressing view → click →
    * purchase in event-time order (each stage strictly at or after the
    * user's first qualifying event of the previous stage). Three
    * per-user min-aggregations chained by joins — every exchange is
    * keyed on user_id; the three stage counts are bounded scalars
    * (driver-side assembly, same as E13's set counts).
    */
  def funnel(spark: SparkSession, dir: String): DataFrame =
      graft.core.Graft.scoped(spark) { spark =>
    // ×1 fan-out scope (r9 VERDICT #4): v/c/p are |users|-bounded and
    // the three counts execute HERE, inside the scope — the global ×8
    // pre-coalesce width taxed the chained tiny exchanges 2× (judge
    // solo 1.63 s, ×1 A/B 1.18 s).
    val ev = Tables(spark, dir).events
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("t"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("t")).as("tv"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, "user_id").filter(col("t") >= col("tv"))
      .groupBy("user_id").agg(min(col("t")).as("tc"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("t") >= col("tc"))
      .groupBy("user_id").agg(min(col("t")).as("tp"))
    // the counts are chained actions (p depends on c depends on v):
    // without persisting, p.count() would re-execute v and c from the
    // scan — cache the two intermediate stage frames for the round
    v.persist(); c.persist()
    try {
      import spark.implicits._
      Seq((v.count(), c.count(), p.count()))
        .toDF("n_view", "n_view_click", "n_full_funnel")
    } finally {
      v.unpersist(blocking = false); c.unpersist(blocking = false)
    }
  }

  val funnelSql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
      |v AS (SELECT user_id, MIN(t) AS tv FROM e
      |      WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, MIN(t) AS tc FROM e JOIN v ON e.user_id = v.user_id
      |      WHERE event_type = 'click' AND t >= tv GROUP BY e.user_id),
      |p AS (SELECT e.user_id, MIN(t) AS tp FROM e JOIN c ON e.user_id = c.user_id
      |      WHERE event_type = 'purchase' AND t >= tc GROUP BY e.user_id)
      |SELECT (SELECT COUNT(*) FROM v) AS n_view,
      |       (SELECT COUNT(*) FROM c) AS n_view_click,
      |       (SELECT COUNT(*) FROM p) AS n_full_funnel""".stripMargin

  /** E83: TIME-CONSTRAINED funnel — E24 with conversion windows, the
    * attribution shape marketing analytics actually runs: first view,
    * first click within 1 HOUR of it, first purchase within 24 HOURS
    * of that click. Stage times are per-user integer-µs minima (time-
    * only, so ties collapse and no id tiebreak is needed); each stage
    * is one user-keyed join + aggregate against the previous stage's
    * bounded frame, and the three stage counts compose via 1-row
    * broadcast cross joins — no driver-side counting.
    */
  def funnelWindowed(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("t"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("t")).as("tv"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, "user_id")
      .filter(col("t") > col("tv") && col("t") <= col("tv") + 3600000000L)
      .groupBy("user_id").agg(min(col("t")).as("tc"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, "user_id")
      .filter(col("t") > col("tc") && col("t") <= col("tc") + 86400000000L)
      .groupBy("user_id").agg(min(col("t")).as("tp"))
    v.agg(count(lit(1)).as("n_view_users"))
      .crossJoin(broadcast(c.agg(count(lit(1)).as("n_click_1h"))))
      .crossJoin(broadcast(p.agg(count(lit(1)).as("n_purchase_24h"))))
  }

  val funnelWindowedSql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
      |v AS (SELECT user_id, MIN(t) AS tv FROM e
      |      WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, MIN(t) AS tc FROM e JOIN v ON e.user_id = v.user_id
      |      WHERE event_type = 'click' AND t > tv AND t <= tv + 3600000000
      |      GROUP BY e.user_id),
      |p AS (SELECT e.user_id, MIN(t) AS tp FROM e JOIN c ON e.user_id = c.user_id
      |      WHERE event_type = 'purchase' AND t > tc AND t <= tc + 86400000000
      |      GROUP BY e.user_id)
      |SELECT (SELECT COUNT(*) FROM v) AS n_view_users,
      |       (SELECT COUNT(*) FROM c) AS n_click_1h,
      |       (SELECT COUNT(*) FROM p) AS n_purchase_24h""".stripMargin

  /** E25: retention cohorts — users grouped by their first active
    * month; per (cohort, months-since) count of still-active users.
    * Distinct (user, month) first (the only full-width exchange), then
    * a per-user min and a tiny grouped count — the classic retention
    * triangle at any scale.
    */
  def retention(spark: SparkSession, dir: String): DataFrame = {
    val um = Tables(spark, dir).events
      .select(col("user_id"),
        date_trunc("month", col("ts")).as("m"))
      .distinct()
    val firstM = um.groupBy("user_id").agg(min(col("m")).as("m0"))
    um.join(firstM, "user_id")
      .groupBy(col("m0").as("cohort_month"),
        months_between(col("m"), col("m0")).cast("int").as("months_since"))
      .agg(count(lit(1)).as("n_active"))
  }

  val retentionSql: String =
    """WITH um AS (
      |  SELECT DISTINCT user_id, CAST(date_trunc('month', ts) AS TIMESTAMP) AS m
      |  FROM events),
      |f AS (SELECT user_id, MIN(m) AS m0 FROM um GROUP BY user_id)
      |SELECT m0 AS cohort_month,
      |  CAST(datediff('month', m0, m) AS INTEGER) AS months_since,
      |  COUNT(*) AS n_active
      |FROM um JOIN f ON um.user_id = f.user_id
      |GROUP BY 1, 2""".stripMargin

  /** E19: incremental merge — the dbt incremental-model analog: an
    * existing table (orders before 1997-09) merged with a reprocessing
    * batch (orders since 1997-06, batch wins on key collision) via a
    * per-key latest-source window. At scale this is the
    * partition-overwrite / MERGE pattern: only the overlap window
    * shuffles on the merge key.
    */
  def incrementalMerge(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir).orders
    val existing = o
      .filter(col("o_orderdate") < lit("1997-09-01").cast("timestamp"))
      .withColumn("src", lit(0))
    val batch = o
      .filter(col("o_orderdate") >= lit("1997-06-01").cast("timestamp"))
      .withColumn("src", lit(1))
    val w = Window.partitionBy(col("o_orderkey")).orderBy(col("src").desc)
    existing.unionByName(batch)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(col("src"))
      .agg(count(lit(1)).as("n_orders"),
        decSum(col("o_totalprice")).as("total_price"))
  }

  val incrementalMergeSql: String =
    """WITH existing AS (
      |  SELECT *, 0 AS src FROM orders
      |  WHERE o_orderdate < TIMESTAMP '1997-09-01 00:00:00'),
      |batch AS (
      |  SELECT *, 1 AS src FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1997-06-01 00:00:00'),
      |merged AS (
      |  SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY src DESC) AS rn
      |  FROM (SELECT * FROM existing UNION ALL SELECT * FROM batch))
      |SELECT src, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM merged WHERE rn = 1
      |GROUP BY src""".stripMargin

  /** E45: CDC changelog apply — the warehouse MERGE superset dbt
    * incremental models compile to: a keyed base table plus an
    * upsert/delete changelog folded to final state. The events feed
    * plays the changelog (key = user_id ≙ c_custkey, seq = event time,
    * `error` events are deletes, everything else upserts the account
    * balance to the event value). Latest-change-wins is ONE exact
    * aggregate — `max(struct(seq, tiebreak, op, value))` per key
    * (struct ordering is lexicographic, so the max IS the latest
    * change; the immutable buffer plans as a sort-based aggregate, but
    * crucially still a PARTIAL one: the exchange carries one row per
    * key per task, where the oracle's row_number window would exchange
    * every changelog row) — then a full-outer join with the base
    * decides keep / update / delete / insert per row. Exchanges are
    * keyed on the merge key only; at scale this is the same plan MERGE
    * INTO runs, with AQE skew-splitting hot keys.
    */
  def cdcApply(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val changes = t.events
      .select(col("user_id").as("key"), unix_micros(col("ts")).as("seq"),
        col("event_id"),
        when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"),
        dec(col("value"), 18, 2).as("new_bal"))
    // latest change per key: struct max orders lexicographically on
    // (seq, event_id) — deterministic, mergeable, no per-key sort
    val latest = changes
      .groupBy(col("key"))
      .agg(max(struct(col("seq"), col("event_id"), col("op"), col("new_bal")))
        .as("c"))
      .select(col("key"), col("c.op").as("op"), col("c.new_bal").as("new_bal"))
    val base = t.customer.select(col("c_custkey").as("key"),
      dec(col("c_acctbal"), 18, 2).as("base_bal"))
    base.join(latest, Seq("key"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(col("key").as("c_custkey"),
        coalesce(col("new_bal"), col("base_bal")).cast("double").as("acctbal"),
        when(col("op").isNull, lit("unchanged"))
          .when(col("base_bal").isNull, lit("inserted"))
          .otherwise(lit("updated")).as("cdc_action"))
  }

  val cdcApplySql: String =
    """WITH ch AS (
      |  SELECT user_id AS key, epoch_us(ts) AS seq, event_id,
      |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
      |    CAST(value AS DECIMAL(18,2)) AS new_bal
      |  FROM events),
      |latest AS (
      |  SELECT key, op, new_bal FROM (
      |    SELECT *, row_number() OVER (PARTITION BY key
      |      ORDER BY seq DESC, event_id DESC) AS rn FROM ch)
      |  WHERE rn = 1),
      |base AS (
      |  SELECT c_custkey AS key, CAST(c_acctbal AS DECIMAL(18,2)) AS base_bal
      |  FROM customer)
      |SELECT key AS c_custkey,
      |  CAST(COALESCE(new_bal, base_bal) AS DOUBLE) AS acctbal,
      |  CASE WHEN op IS NULL THEN 'unchanged'
      |       WHEN base_bal IS NULL THEN 'inserted'
      |       ELSE 'updated' END AS cdc_action
      |FROM base FULL OUTER JOIN latest USING (key)
      |WHERE op IS NULL OR op <> 'D'""".stripMargin

  /** A27: the SQL surface — the reference's users write SQL (dbt models
    * ARE SQL), so the engine must run the same models through
    * `spark.sql` over registered views with identical semantics to the
    * DataFrame faces. The face registers the warehouse tables as temp
    * views and states a monthly per-nation revenue model in pure Spark
    * SQL (decimal money discipline and all); Catalyst plans it
    * identically to the DataFrame form — pushdown, AQE broadcast, the
    * lot — because both lower to the same logical plan algebra.
    */
  def sqlModel(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.lineitem.createOrReplaceTempView("lineitem_v")
    t.supplier.createOrReplaceTempView("supplier_v")
    t.nation.createOrReplaceTempView("nation_v")
    spark.sql(
      """SELECT n_name AS nation,
        |  date_format(l_shipdate, 'yyyy-MM') AS ship_month,
        |  COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem_v
        |JOIN supplier_v ON l_suppkey = s_suppkey
        |JOIN nation_v ON s_nationkey = n_nationkey
        |GROUP BY n_name, date_format(l_shipdate, 'yyyy-MM')""".stripMargin)
  }

  val sqlModelSql: String =
    """SELECT n_name AS nation,
      |  strftime(l_shipdate, '%Y-%m') AS ship_month,
      |  COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY 1, 2""".stripMargin

  /** E60: bitmap-index exact distinct count — distinct users per event
    * type through [[graft.functions.BitmapAgg]]. `COUNT(DISTINCT)`
    * plans as a two-phase expand whose exchange carries one row per
    * distinct (group, user) pair — proportional to the data; the
    * bitmap partial is a FIXED ⌈domain/64⌉-word buffer per group per
    * task OR-merged on the reduce side, so the exchange is
    * groups × words regardless of row count. The domain bound comes
    * from the dimension itself (one tiny max() agg here; a known
    * dimension cardinality in production — the reference's location
    * dim is 265 values = 5 words). Oracle is the plain
    * COUNT(DISTINCT): the bitmap must reproduce it bit-for-bit.
    */
  def bitmapDistinct(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    val domain = ev.agg(max(col("user_id"))).collect()(0).getLong(0).toInt + 1
    ev.groupBy(col("event_type"))
      .agg(graft.functions.BitmapAgg
        .bitmap_distinct(col("user_id"), domain).as("distinct_users"))
  }

  val bitmapDistinctSql: String =
    """SELECT event_type,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_users
      |FROM events
      |GROUP BY event_type""".stripMargin

  /** E61: open-order backlog sweep line — how many line items are
    * ordered but not yet shipped on each change day. The
    * interval-overlap COUNT (`WHERE day BETWEEN o_orderdate AND
    * l_shipdate` against a date spine) is a range join whose work is
    * |days|×|matching items|; the sweep-line encoding turns each
    * interval into two map-side delta rows (+1 at order date, −1 the
    * day after ship), one keyed partial agg collapses them to
    * ≤|distinct days| net rows, and the running level rides
    * [[Corpus.prefixSum]]'s two-pass range exchange. The level is
    * exact int64 at every step — no float anywhere — and the output is
    * the step function at its change points (day, net, open_items),
    * from which any calendar rollup derives. The orderkey join feeding
    * the spans is the same co-partitioned fact-join shape as A6. (The
    * span is [least, greatest] of the two dates: the synthetic
    * generator does not preserve TPC-H's ship-after-order invariant,
    * and a sweep line requires start ≤ end.)
    */
  def intransitSweep(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val spans = t.lineitem.select(col("l_orderkey"), col("l_shipdate"))
      .join(t.orders.select(col("o_orderkey"), to_date(col("o_orderdate")).as("o_d")),
        col("l_orderkey") === col("o_orderkey"))
      .select(least(col("o_d"), col("l_shipdate")).as("lo"),
        greatest(col("o_d"), col("l_shipdate")).as("hi"))
    // r11 (guide §2.4): the two delta rows used to come from a unionAll
    // of two selects over `spans` — each branch re-ran the full
    // lineitem⋈orders join (2 scans of each table in the before plan).
    // A map-side explode emits both deltas from ONE join pass; the
    // keyed partial agg that follows is unchanged.
    val deltas = spans.select(explode(array(
        struct(col("lo").as("day"), lit(1L).as("delta")),
        struct(date_add(col("hi"), 1).as("day"), lit(-1L).as("delta")))).as("e"))
      .select(col("e.day").as("day"), col("e.delta").as("delta"))
      .groupBy(col("day")).agg(sum(col("delta")).as("net"))
    Corpus.prefixSum(deltas, Seq(col("day")), "net", "cum0")
      .select(col("day"), col("net"),
        (col("cum0") + col("net")).as("open_items"))
  }

  val intransitSweepSql: String =
    """WITH spans AS (
      |  SELECT least(CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS lo,
      |    greatest(CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS hi
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |deltas AS (
      |  SELECT lo AS day, 1 AS delta FROM spans
      |  UNION ALL
      |  SELECT hi + 1 AS day, -1 AS delta FROM spans),
      |d AS (
      |  SELECT day, CAST(SUM(delta) AS BIGINT) AS net
      |  FROM deltas GROUP BY day)
      |SELECT day, net,
      |  CAST(SUM(net) OVER (ORDER BY day) AS BIGINT) AS open_items
      |FROM d""".stripMargin

  /** E69: weighted median — per return flag, the quantity-weighted
    * median unit price: the robust "typical price actually paid"
    * (each price counts by units sold, not by line count). The
    * SQL-awkward weighted quantile, stated distributively.
    *
    * Plan: ONE map-combinable groupBy folds the corpus to
    * (flag, price-cents) → total weight cells; the running-weight
    * window then runs over a frame bounded by the PRICE DOMAIN
    * (distinct cent values), not by corpus row count — that is what
    * makes the 3-partition window scale-safe where a per-row window
    * would not be. The median pick is the integer predicate
    * 2·cum ≥ tot — no float boundary, no interpolation.
    */
  def weightedMedian(spark: SparkSession, dir: String): DataFrame =
      graft.core.Graft.scoped(spark) { spark =>
    // ×1 fan-out scope (r12, the q_ks_drift diagnosis generalized):
    // everything past the first rollup is (flag × price-cents)
    // domain-bounded and the two windows key on 3 flags, so the global
    // ×8 fan-out ran them as 256 near-empty tasks. Partitioning-only,
    // values unchanged.
    val cells = Tables(spark, dir).lineitem
      .groupBy(col("l_returnflag").as("flag"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("price_c"))
      .agg(sum(col("l_quantity").cast("long")).as("w"))
    val run = Window.partitionBy(col("flag")).orderBy(col("price_c"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(col("flag"))
    cells
      .select(col("flag"), col("price_c"), col("w"),
        sum(col("w")).over(run).as("cum"),
        sum(col("w")).over(tot).as("tw"))
      .filter(col("cum") * 2 >= col("tw"))
      .groupBy(col("flag"))
      .agg(min(col("price_c")).as("median_price_c"),
        max(col("tw")).as("total_qty"))
      .select(col("flag"), col("median_price_c"),
        round(col("median_price_c").cast("double") / 100.0, 2)
          .as("median_price"),
        col("total_qty"))
  }

  val weightedMedianSql: String =
    """WITH cells AS (
      |  SELECT l_returnflag AS flag,
      |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS price_c,
      |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
      |  FROM lineitem GROUP BY 1, 2),
      |p AS (
      |  SELECT flag, price_c, w,
      |    CAST(SUM(w) OVER (PARTITION BY flag ORDER BY price_c
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
      |    CAST(SUM(w) OVER (PARTITION BY flag) AS BIGINT) AS tw
      |  FROM cells)
      |SELECT flag, MIN(price_c) AS median_price_c,
      |  round(CAST(MIN(price_c) AS DOUBLE) / 100.0, 2) AS median_price,
      |  MAX(tw) AS total_qty
      |FROM p WHERE cum * 2 >= tw GROUP BY flag""".stripMargin

  /** E80: single change-point detection over daily revenue — the split
    * day maximizing the between-segment contrast
    * `(m₁−m₂)²·k·(n−k)/n` (the CUSUM-family scan statistic; A32 plots
    * the trajectory, this NAMES the break). Daily revenue aggregates to
    * exact integer cents first, so the only window is over the
    * |days|-bounded frame (calendar domain, never rows); the score is
    * ONE shared IEEE expression over exact integer prefix sums —
    * bit-identical cross-engine, so the argmax needs no rounding to
    * agree. Driver-free: the 1-row total enters as a broadcast, the
    * argmax is a top-1 sort of |days| scored rows.
    */
  def changepoint(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables(spark, dir).lineitem
      .groupBy(to_date(col("l_shipdate")).as("day"))
      .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long")).as("rev_c"))
    val run = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val p = daily.select(col("day"),
      row_number().over(Window.orderBy(col("day"))).cast("long").as("k"),
      sum(col("rev_c")).over(run).as("s1"))
    val tot = daily.agg(sum(col("rev_c")).as("s"), count(lit(1)).as("n"))
    val m1 = col("s1").cast("double") / 100.0 / col("k")
    val m2 = (col("s") - col("s1")).cast("double") / 100.0 / (col("n") - col("k"))
    val d = m1 - m2
    val score = d * d * col("k") * (col("n") - col("k")) / col("n")
    p.crossJoin(broadcast(tot))
      .filter(col("k") < col("n"))
      .select(col("day").as("split_day"), col("n").as("n_days"),
        (floor(m1 * 1e4 + lit(0.5)) / 1e4).as("mean_before"),
        (floor(m2 * 1e4 + lit(0.5)) / 1e4).as("mean_after"),
        score.as("score_raw"))
      .orderBy(col("score_raw").desc, col("split_day"))
      .limit(1)
      // score is emitted RAW: the r9 64× gate caught the §8(d) floor
      // fix overflowing here — Spark's floor(double) returns LONG, and
      // score·1e4 ≈ 3e20 at 64× saturates it to Long.Max/1e4 while
      // DuckDB's double-typed floor sails on. A 4-dp fix on a 1e16
      // statistic is below double resolution anyway; determinism comes
      // from the chain itself (every input an exact integer < 2^53,
      // one shared operation order ⇒ bit-identical doubles). The
      // bounded means keep their fix (≤ ~1e15 · 1e4 at any real SF).
      .select(col("split_day"), col("n_days"), col("mean_before"),
        col("mean_after"), col("score_raw").as("score"))
  }

  val changepointSql: String =
    """WITH daily AS (
      |  SELECT CAST(l_shipdate AS DATE) AS day,
      |    CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS rev_c
      |  FROM lineitem GROUP BY 1),
      |p AS (
      |  SELECT day,
      |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS k,
      |    CAST(SUM(rev_c) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s1
      |  FROM daily),
      |t AS (SELECT CAST(SUM(rev_c) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n
      |      FROM daily),
      |sc AS (
      |  SELECT day, n,
      |    CAST(s1 AS DOUBLE) / 100.0 / k AS m1,
      |    CAST(s - s1 AS DOUBLE) / 100.0 / (n - k) AS m2,
      |    (CAST(s1 AS DOUBLE) / 100.0 / k - CAST(s - s1 AS DOUBLE) / 100.0 / (n - k))
      |      * (CAST(s1 AS DOUBLE) / 100.0 / k - CAST(s - s1 AS DOUBLE) / 100.0 / (n - k))
      |      * k * (n - k) / n AS score_raw
      |  FROM p CROSS JOIN t WHERE k < n)
      |SELECT day AS split_day, n AS n_days,
      |  floor(m1 * 10000.0 + 0.5) / 10000.0 AS mean_before,
      |  floor(m2 * 10000.0 + 0.5) / 10000.0 AS mean_after,
      |  score_raw AS score
      |FROM sc ORDER BY score_raw DESC, split_day LIMIT 1""".stripMargin

  /** E81: per-year winsorized price statistics — the robust mean after
    * clipping at rank-based p05/p95 (C69's no-interpolated-percentile
    * discipline: order-statistic VALUES, never engine quantile
    * builtins). Scale shape is E69's: aggregate to (year, price-cents)
    * CELLS first — bounded by the price domain, not row count — then
    * window over the small cells frame for cumulative counts; the clip
    * bounds are per-year window minima over the same frame, so one
    * groupBy(yr) folds the winsorized sum in exact integer cents with
    * no bounds aggregate and no join back.
    */
  def winsorize(spark: SparkSession, dir: String): DataFrame =
      graft.core.Graft.scoped(spark) { spark =>
    // ×1 fan-out scope (r12, the q_ks_drift diagnosis generalized):
    // everything past the first rollup is (year × price-cents)
    // domain-bounded — the cells, the windows, the per-year fold — so
    // the global ×8 fan-out ran them as 256 near-empty tasks.
    // Partitioning-only, values unchanged.
    import org.apache.spark.sql.expressions.Window
    val cells = Tables(spark, dir).lineitem
      .groupBy(year(col("l_shipdate")).as("yr"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("price_c"))
      .agg(count(lit(1)).as("w"))
    val run = Window.partitionBy(col("yr")).orderBy(col("price_c"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(col("yr"))
    val p = cells.select(col("yr"), col("price_c"), col("w"),
      sum(col("w")).over(run).as("cum"), sum(col("w")).over(tot).as("n"))
    p.select(col("yr"), col("price_c"), col("w"), col("n"),
        min(when(col("cum") >= expr("((n - 1) * 5) div 100 + 1"), col("price_c")))
          .over(tot).as("p05_c"),
        min(when(col("cum") >= expr("((n - 1) * 95) div 100 + 1"), col("price_c")))
          .over(tot).as("p95_c"))
      .groupBy(col("yr"))
      .agg(max(col("n")).as("n_rows"),
        max(col("p05_c")).as("p05_c"), max(col("p95_c")).as("p95_c"),
        sum(col("w") * least(greatest(col("price_c"), col("p05_c")), col("p95_c")))
          .as("clip_sum_c"))
      .select(col("yr"), col("n_rows"),
        round(col("p05_c").cast("double") / 100.0, 2).as("p05"),
        round(col("p95_c").cast("double") / 100.0, 2).as("p95"),
        (floor(col("clip_sum_c").cast("double") / 100.0 / col("n_rows") * 1e4
          + lit(0.5)) / 1e4).as("winsorized_mean"))
  }

  val winsorizeSql: String =
    """WITH cells AS (
      |  SELECT CAST(year(l_shipdate) AS INTEGER) AS yr,
      |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS price_c,
      |    CAST(COUNT(*) AS BIGINT) AS w
      |  FROM lineitem GROUP BY 1, 2),
      |p AS (
      |  SELECT yr, price_c, w,
      |    CAST(SUM(w) OVER (PARTITION BY yr ORDER BY price_c
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
      |    CAST(SUM(w) OVER (PARTITION BY yr) AS BIGINT) AS n
      |  FROM cells),
      |bounds AS (
      |  SELECT yr, MAX(n) AS n_rows,
      |    MIN(CASE WHEN cum >= ((n - 1) * 5) // 100 + 1 THEN price_c END) AS p05_c,
      |    MIN(CASE WHEN cum >= ((n - 1) * 95) // 100 + 1 THEN price_c END) AS p95_c
      |  FROM p GROUP BY yr)
      |SELECT c.yr, MAX(n_rows) AS n_rows,
      |  round(CAST(MAX(p05_c) AS DOUBLE) / 100.0, 2) AS p05,
      |  round(CAST(MAX(p95_c) AS DOUBLE) / 100.0, 2) AS p95,
      |  floor(CAST(SUM(w * LEAST(GREATEST(price_c, p05_c), p95_c)) AS DOUBLE)
      |    / 100.0 / MAX(n_rows) * 10000.0 + 0.5) / 10000.0 AS winsorized_mean
      |FROM cells c JOIN bounds b ON c.yr = b.yr
      |GROUP BY c.yr""".stripMargin

  /** E87 `q_join_skew_audit`: the pre-flight skew census a 100 TB join
    * runs BEFORE it runs — per-key fanout distribution of the
    * lineitem⋈part key, the exact numbers that decide broadcast vs
    * salt vs AQE skew-split: total keys/rows, max and p50/p99 fanout
    * (rank-based over the fanout-domain cells — never an interpolated
    * percentile), the self-equi-join output size Σc² (the "will it
    * explode" estimate, an exact BIGINT), and the hottest key's row
    * share in exact ppm.
    *
    * Plan shape: ONE map-combinable groupBy folds the fact to the
    * (key → count) frame; a second narrow fold to (count → n_keys)
    * cells bounds every window by the DISTINCT-FANOUT domain (≪ keys);
    * the census is a 1-row aggregate. Nothing after the first exchange
    * scales with the row count.
    */
  def joinSkewAudit(spark: SparkSession, dir: String): DataFrame = {
    val perKey = Tables(spark, dir).lineitem
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("c"))
    val cells = perKey.groupBy(col("c")).agg(count(lit(1)).as("nk"))
    val cum = Corpus.prefixSum(cells, Seq(col("c")), "nk", "cum0")
      .select(col("c"), col("nk"), (col("cum0") + col("nk")).as("cum"))
    val tot = cells.agg(sum(col("nk")).as("n_keys"),
      sum(col("c") * col("nk")).as("n_rows"),
      sum(col("c") * col("c") * col("nk")).as("selfjoin_rows"),
      max(col("c")).as("max_fanout"))
    cum.crossJoin(broadcast(tot))
      .agg(
        max(col("n_keys")).as("n_keys"),
        max(col("n_rows")).as("n_rows"),
        max(col("max_fanout")).as("max_fanout"),
        min(when(col("cum") * 2 >= col("n_keys"), col("c"))).as("p50_fanout"),
        min(when(col("cum") * 100 >= col("n_keys") * 99, col("c")))
          .as("p99_fanout"),
        max(col("selfjoin_rows")).as("selfjoin_rows"))
      .select(col("n_keys"), col("n_rows"), col("max_fanout"),
        col("p50_fanout"), col("p99_fanout"), col("selfjoin_rows"),
        expr("max_fanout * 1000000 DIV n_rows").as("top_key_ppm"))
  }

  val joinSkewAuditSql: String =
    """WITH pk AS (
      |  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM lineitem GROUP BY 1),
      |cells AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS nk FROM pk GROUP BY 1),
      |cum AS (
      |  SELECT c, nk, SUM(nk) OVER (ORDER BY c) AS cum FROM cells),
      |tot AS (
      |  SELECT CAST(SUM(nk) AS BIGINT) AS n_keys,
      |    CAST(SUM(c * nk) AS BIGINT) AS n_rows,
      |    CAST(SUM(c * c * nk) AS BIGINT) AS selfjoin_rows,
      |    CAST(MAX(c) AS BIGINT) AS max_fanout
      |  FROM cells)
      |SELECT MAX(n_keys) AS n_keys, MAX(n_rows) AS n_rows,
      |  MAX(max_fanout) AS max_fanout,
      |  MIN(CASE WHEN cum * 2 >= n_keys THEN c END) AS p50_fanout,
      |  MIN(CASE WHEN cum * 100 >= n_keys * 99 THEN c END) AS p99_fanout,
      |  MAX(selfjoin_rows) AS selfjoin_rows,
      |  CAST(MAX(max_fanout) * 1000000 // MAX(n_rows) AS BIGINT) AS top_key_ppm
      |FROM cum CROSS JOIN tot""".stripMargin

  /** E91 `q_bloom_join`: runtime bloom-filter semi-join reduction made
    * explicit and RESULT-CHECKED — the manual form of Spark's
    * `runtimeFilter.bloomFilter` rewrite (and of every lakehouse
    * "dynamic file/row pruning" story). The build side (urgent open
    * orders) is aggregated into ONE `BloomFilterAggregate` sketch
    * (~1 MB binary, the C32 idiom); the probe side (lineitem) is
    * filtered by `BloomFilterMightContain` BEFORE the join, so at
    * 100 TB non-matching probe rows die at the scan — they never reach
    * the exchange. Because a bloom has NO false negatives the prune is
    * result-invisible: the monthly revenue out of the pruned join is
    * the exact semi-join answer, which is what the oracle states.
    *
    * The audit columns make the reduction checkable, not asserted:
    * `n_probe`/`n_match` are exact counts the oracle reproduces;
    * `bloom_ok` is the in-plan claim that the sketch (a) kept every
    * match and (b) passed ≤5% of the non-matching probe rows (+16
    * absolute; the optimal-k false-positive design point is 3%) — an
    * out-of-budget or lossy sketch hash-mismatches the oracle's TRUE.
    *
    * ZERO driver actions (r9 VERDICT #7): the sketch is assembled
    * IN-PLAN as a scalar subquery under `might_contain` — the exact
    * shape Spark's own `InjectRuntimeFilter` rewrite emits — so the
    * bloom build rides the query's execution (built once, subquery
    * result reused by both the prune and the audit arm), and sizing
    * comes from PLAN STATISTICS (rowCount under CBO, else a
    * sizeInBytes-derived floor at the 1M-item design point), not a
    * `count()` round-trip. Past the runtime-filter conf's maxNumItems
    * clamp (~4M keys) the FPP budget degrades exactly as Spark's own
    * runtime filter does — raise that conf for 10⁹-key build sides.
    */
  def bloomJoin(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftBridge.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, ScalarSubquery}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

    val t = Tables(spark, dir)
    val build = t.orders
      .filter(col("o_orderpriority") === "1-URGENT" && col("o_orderstatus") === "O")
      .select(col("o_orderkey"))
    val stats = build.queryExecution.optimizedPlan.stats
    val expected: Long = stats.rowCount.filter(_ > 0)
      .getOrElse((stats.sizeInBytes / 8).max(1000000L).min(Long.MaxValue))
      .toLong
    val sketchPlan = build
      .agg(column(new BloomFilterAggregate(
        expression(xxhash64(col("o_orderkey"))),
        expected).toAggregateExpression()).as("bf"))
      .queryExecution.analyzed
    val mightContain = column(new BloomFilterMightContain(
      ScalarSubquery(sketchPlan), expression(xxhash64(col("l_orderkey")))))

    val probe = t.lineitem
      .select(col("l_orderkey"), col("l_shipdate"), col("l_extendedprice"),
        mightContain.as("pass_bloom"))
    val audit = probe
      .agg(count(lit(1)).as("n_probe"),
        sum(col("pass_bloom").cast("long")).as("n_after_bloom"))
    val monthly = probe.filter(col("pass_bloom"))
      .join(build.withColumnRenamed("o_orderkey", "l_orderkey"), Seq("l_orderkey"),
        "left_semi")
      .groupBy(date_trunc("month", col("l_shipdate")).as("ship_month"))
      .agg(count(lit(1)).as("n_lines"), decSum(col("l_extendedprice")).as("revenue"))
    val totals = monthly.agg(sum(col("n_lines")).as("n_match"))
    monthly.crossJoin(broadcast(audit)).crossJoin(broadcast(totals))
      .select(col("ship_month"), col("n_lines"), col("revenue"),
        col("n_probe"), col("n_match").cast("long").as("n_match"),
        (col("n_after_bloom") >= col("n_match") &&
          (col("n_after_bloom") - col("n_match")) * 100 <=
            (col("n_probe") - col("n_match")) * 5 + 1600).as("bloom_ok"))
  }

  /** E93 `q_overlap_sketch`: audience-overlap estimation by
    * inclusion–exclusion over HLL sketches — |purchasers ∩ clickers| ≈
    * |P| + |C| − |P ∪ C| with each term an `approx_count_distinct`.
    * The at-scale substitute for a distinct-distinct self-join: three
    * mergeable sketches ride ONE map-combinable aggregation (KB per
    * partition at any corpus size), where the exact overlap needs
    * either a shuffle-heavy user-level distinct or a self-join. E8's
    * audit discipline: the exact companions (one Expand pass — the
    * gate-side cost, not the production path) are stated by the
    * oracle, and `sketch_ok` pins the estimate inside the summed
    * per-sketch error budget (3× the 2% rsd per term, +16 absolute —
    * inclusion–exclusion ADDS absolute errors, so the bound is over
    * |P|+|C|+|P∪C|, not the overlap) — a drifted sketch
    * hash-mismatches the oracle's TRUE.
    */
  def overlapSketch(spark: SparkSession, dir: String): DataFrame = {
    val isP = col("event_type") === "purchase"
    val isC = col("event_type") === "click"
    Tables(spark, dir).events
      .filter(isP || isC)
      .select(col("user_id"), col("event_type"))
      .agg(
        countDistinct(when(isP, col("user_id"))).as("n_purchase"),
        countDistinct(when(isC, col("user_id"))).as("n_click"),
        countDistinct(col("user_id")).as("n_union"),
        approx_count_distinct(when(isP, col("user_id")), 0.02).as("a_p"),
        approx_count_distinct(when(isC, col("user_id")), 0.02).as("a_c"),
        approx_count_distinct(col("user_id"), 0.02).as("a_u"))
      .select(col("n_purchase"), col("n_click"), col("n_union"),
        (col("n_purchase") + col("n_click") - col("n_union")).as("overlap_exact"),
        (abs((col("a_p") + col("a_c") - col("a_u"))
          - (col("n_purchase") + col("n_click") - col("n_union"))) * 100 <=
          (col("n_purchase") + col("n_click") + col("n_union")) * 6 + 1600)
          .as("sketch_ok"))
  }

  val overlapSketchSql: String =
    """SELECT
      |  CAST(COUNT(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END)
      |    AS BIGINT) AS n_purchase,
      |  CAST(COUNT(DISTINCT CASE WHEN event_type = 'click' THEN user_id END)
      |    AS BIGINT) AS n_click,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_union,
      |  CAST(COUNT(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END)
      |    + COUNT(DISTINCT CASE WHEN event_type = 'click' THEN user_id END)
      |    - COUNT(DISTINCT user_id) AS BIGINT) AS overlap_exact,
      |  TRUE AS sketch_ok
      |FROM events
      |WHERE event_type IN ('purchase', 'click')""".stripMargin

  val bloomJoinSql: String =
    """WITH build AS (
      |  SELECT o_orderkey FROM orders
      |  WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'O'),
      |monthly AS (
      |  SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS ship_month,
      |    CAST(COUNT(*) AS BIGINT) AS n_lines,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |  FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM build)
      |  GROUP BY 1),
      |audit AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_probe FROM lineitem),
      |tot AS (SELECT CAST(SUM(n_lines) AS BIGINT) AS n_match FROM monthly)
      |SELECT ship_month, n_lines, revenue, n_probe, n_match, TRUE AS bloom_ok
      |FROM monthly CROSS JOIN audit CROSS JOIN tot""".stripMargin
}
