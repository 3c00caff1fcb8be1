package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Fns._
import graft.sources.Tables

/** Staging-layer operators (SURVEY §2 A1–A5) — the engine's equivalents
  * of the reference's staging views and dim model:
  * stg_green_tripdata.sql / stg_yellow_tripdata.sql (filter → window
  * dedup → casts → surrogate key → CASE description → literal columns)
  * and dim_zones.sql (projection + replace transform).
  *
  * All expressed over the driver's tables per SURVEY §4: `events` plays
  * the raw trip feed (it has duplicate (user_id, event_type) keys),
  * `orders` carries the code→description column, `nation`⋈`region` is
  * the zone-lookup dim.
  */
object Staging {

  /** A1: keep-first dedup via row_number window
    * (stg_green_tripdata.sql:6-8 `row_number() over (partition by
    * vendorid, lpep_pickup_datetime)` … `where rn = 1`).
    * The window shuffle is keyed by the dedup key — the minimal,
    * semantically-required exchange; no pre-sort needed (window sort is
    * per-partition).
    */
  def windowDedup(spark: SparkSession, dir: String): DataFrame = {
    // event_id breaks ties between events at the same µs, as in the
    // oracle's ORDER BY ts, event_id
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    Tables(spark, dir).events
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("props"), unix_micros(col("ts")).as("ts_us"))
  }

  val windowDedupSql: String =
    """SELECT event_id, user_id, event_type, value, props, epoch_us(ts) AS ts_us
      |FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
      |      FROM events)
      |WHERE rn = 1""".stripMargin

  /** A2: md5 surrogate key over '-'-joined null-coalesced casts
    * (dbt_utils.generate_surrogate_key at stg_green_tripdata.sql:13).
    */
  def surrogateKeys(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).orders
      .select(surrogateKey(col("o_orderkey"), col("o_custkey")).as("order_sk"),
        col("o_orderkey"), col("o_custkey"))

  val surrogateKeysSql: String =
    """SELECT md5(concat_ws('-', coalesce(CAST(o_orderkey AS VARCHAR), ''), coalesce(CAST(o_custkey AS VARCHAR), ''))) AS order_sk,
      |  o_orderkey, o_custkey
      |FROM orders""".stripMargin

  /** A3: CASE code→description scalar map
    * (macros/get_payment_type_description.sql — payment_type 1..6 →
    * label, null otherwise).
    */
  def caseMapDescriptions(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).orders
      .select(col("o_orderkey"),
        priorityCode(col("o_orderpriority")).as("priority_code"),
        priorityDescription(col("o_orderpriority")).as("priority_description"))

  val caseMapDescriptionsSql: String =
    """SELECT o_orderkey,
      |  CAST(substr(o_orderpriority, 1, 1) AS INTEGER) AS priority_code,
      |  CASE CAST(substr(o_orderpriority, 1, 1) AS INTEGER)
      |    WHEN 1 THEN 'Urgent' WHEN 2 THEN 'High' WHEN 3 THEN 'Medium'
      |    WHEN 4 THEN 'Not specified' WHEN 5 THEN 'Low' END AS priority_description
      |FROM orders""".stripMargin

  /** A4: the full staging view — filter not-null key, window dedup,
    * casts, surrogate key, CASE description, literal columns
    * (stg_yellow_tripdata.sql end-to-end: `where vendorid is not null`,
    * `rn = 1`, casts, `1 as trip_type`, `cast(0 as numeric) as
    * ehail_fee`).
    */
  def stgEvents(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    Tables(spark, dir).events
      .filter(col("user_id").isNotNull)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(
        surrogateKey(col("user_id"), unix_micros(col("ts"))).as("event_sk"),
        col("event_id").cast("long").as("event_id"),
        col("user_id").cast("int").as("user_id"),
        col("event_type"),
        caseMap(
          when(col("event_type") === "click", 1)
            .when(col("event_type") === "view", 2)
            .when(col("event_type") === "purchase", 3)
            .when(col("event_type") === "signup", 4)
            .when(col("event_type") === "error", 5),
          Seq(1 -> "Click", 2 -> "View", 3 -> "Purchase", 4 -> "Signup", 5 -> "Error"))
          .as("event_description"),
        dec(col("value")).cast("double").as("value_amount"),
        unix_micros(col("ts")).as("ts_us"),
        lit(1).as("source_type"),
        lit(0.0).cast("double").as("adjustment_fee"))
  }

  val stgEventsSql: String =
    """SELECT
      |  md5(concat_ws('-', coalesce(CAST(user_id AS VARCHAR), ''), coalesce(CAST(epoch_us(ts) AS VARCHAR), ''))) AS event_sk,
      |  CAST(event_id AS BIGINT) AS event_id,
      |  CAST(user_id AS INTEGER) AS user_id,
      |  event_type,
      |  CASE event_type WHEN 'click' THEN 'Click' WHEN 'view' THEN 'View'
      |    WHEN 'purchase' THEN 'Purchase' WHEN 'signup' THEN 'Signup'
      |    WHEN 'error' THEN 'Error' END AS event_description,
      |  CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS value_amount,
      |  epoch_us(ts) AS ts_us,
      |  1 AS source_type,
      |  CAST(0.0 AS DOUBLE) AS adjustment_fee
      |FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
      |      FROM events WHERE user_id IS NOT NULL)
      |WHERE rn = 1""".stripMargin

  /** dbt `var()` analog: run-scoped variables read from session config
    * (`spark.graft.vars.<name>`) with a default — the `dbt build --vars
    * '…'` mechanism, since Spark's session conf is exactly a run-scoped
    * key-value store.
    */
  def getVar(spark: SparkSession, name: String, default: String): String =
    spark.conf.get(s"spark.graft.vars.$name", default)

  /** A23: parameterized dev-run limiting — the reference's
    * `var('is_test_run', default=true)` → `limit 100` pattern
    * (stg_green_tripdata.sql:44–48). When the var is true (the default,
    * as in dbt), the staging model returns a bounded dev sample; a
    * production run (`--vars 'is_test_run: false'` ≙ setting the conf)
    * returns the full model. Unlike dbt's bare LIMIT (row choice is
    * engine/partition-dependent), the sample is ORDER BY key LIMIT n —
    * deterministic, so dev-run diffs are stable and the oracle can
    * state it.
    */
  def stgDevLimit(spark: SparkSession, dir: String): DataFrame = {
    val base = stgEvents(spark, dir)
    if (getVar(spark, "is_test_run", "true").toBoolean)
      base.orderBy(col("event_sk")).limit(100)
    else base
  }

  val stgDevLimitSql: String =
    stgEventsSql + "\nORDER BY event_sk LIMIT 100"

  /** A5: the zone dim — seed/dim projection with a `replace()` transform
    * (dim_zones.sql: `replace(service_zone,'Boro','Green')`). nation ⋈
    * region is a broadcast join (both dims are tiny at any scale).
    */
  def seedDim(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.nation
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"),
        replace(col("n_name"), lit("NATION_"), lit("ZONE_")).as("zone_name"),
        replace(col("r_name"), lit("MIDDLE "), lit("M_")).as("region_name"))
  }

  val seedDimSql: String =
    """SELECT n_nationkey,
      |  replace(n_name, 'NATION_', 'ZONE_') AS zone_name,
      |  replace(r_name, 'MIDDLE ', 'M_') AS region_name
      |FROM nation JOIN region ON n_regionkey = r_regionkey""".stripMargin
}
