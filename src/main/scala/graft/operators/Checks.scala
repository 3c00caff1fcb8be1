package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{Scratch, Tables}

/** Data-quality check operators (SURVEY §2 A11–A14) — the engine's
  * equivalents of the reference's dbt schema tests
  * (models/staging/schema.yml: `unique`, `not_null`, `relationships`,
  * `accepted_values`). Like dbt, each check is a query returning the
  * VIOLATING rows (a passing check returns 0 rows); counts are grouped
  * so the result stays tiny at any scale.
  */
object Checks {

  /** A11: `unique` test on the staging dedup key (schema.yml tripid
    * unique) — duplicate (user_id, event_type) keys with multiplicity.
    */
  def checkUnique(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n_rows"))
      .filter(col("n_rows") > 1)

  val checkUniqueSql: String =
    """SELECT user_id, event_type, COUNT(*) AS n_rows
      |FROM events
      |GROUP BY user_id, event_type
      |HAVING COUNT(*) > 1""".stripMargin

  /** A12: `not_null` test — null counts per guarded column, one summary
    * row (schema.yml tripid not_null).
    */
  def checkNotNull(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .agg(
        sum(when(col("user_id").isNull, 1L).otherwise(0L)).as("null_user_id"),
        sum(when(col("event_type").isNull, 1L).otherwise(0L)).as("null_event_type"),
        sum(when(col("ts").isNull, 1L).otherwise(0L)).as("null_ts"),
        count(lit(1)).as("total_rows"))

  // DuckDB SUM(BIGINT) yields HUGEINT, which the python client narrows
  // to float64 — CAST to BIGINT so the oracle's dtype matches Spark's
  // int64 (COUNT needs no cast: it is already BIGINT).
  val checkNotNullSql: String =
    """SELECT
      |  CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_user_id,
      |  CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_event_type,
      |  CAST(SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_ts,
      |  COUNT(*) AS total_rows
      |FROM events""".stripMargin

  /** A13: `relationships` test (schema.yml pickup_locationid →
    * taxi_zone_lookup.locationid) — FK orphans via broadcast left-anti
    * join: events.user_id with no matching customer.c_custkey.
    */
  def checkRelationships(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.events
      .join(broadcast(t.customer.select("c_custkey")),
        col("user_id") === col("c_custkey"), "left_anti")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_orphans"))
  }

  val checkRelationshipsSql: String =
    """SELECT user_id, COUNT(*) AS n_orphans
      |FROM events
      |WHERE user_id NOT IN (SELECT c_custkey FROM customer)
      |GROUP BY user_id""".stripMargin

  /** A14: `accepted_values` test (schema.yml payment_type in
    * var('payment_type_values')) — rows whose status falls outside the
    * accepted domain, with counts.
    */
  def checkAcceptedValues(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).orders
      .filter(!col("o_orderstatus").isin("O", "F"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"))

  val checkAcceptedValuesSql: String =
    """SELECT o_orderstatus, COUNT(*) AS n_rows
      |FROM orders
      |WHERE o_orderstatus NOT IN ('O', 'F')
      |GROUP BY o_orderstatus""".stripMargin

  /** A21: the `dbt test` run itself — every schema test executed and
    * folded to one (test_name, severity, n_violations, passed, status)
    * row each, exactly the summary dbt prints. Severity mirrors the
    * reference's schema.yml: every staging test is `severity: warn`
    * (models/staging/schema.yml:37,39,59,92), the core revenue not_null
    * is `severity: error` (models/core/schema.yml:23–24). `status` is
    * what a dbt user reads first: pass, warn (violations on a warn-level
    * test), or fail (violations on an error-level test). Composes
    * A11–A14 + the core rollup guard; each arm is its own bounded
    * aggregate, so the report costs what the checks cost.
    */
  def checkSummary(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    def shape(name: String, severity: String, nViol: org.apache.spark.sql.Column) =
      Seq(lit(name).as("test_name"), lit(severity).as("severity"),
        nViol.as("n_violations"), (nViol === 0L).as("passed"),
        when(nViol === 0L, "pass")
          .otherwise(if (severity == "warn") "warn" else "fail").as("status"))
    // ONE events pass serves the three events arms: the per-key frame
    // below appears (structurally identical) under each arm, so
    // ReuseExchange materializes its shuffle once — the source is
    // scanned and partial-aggregated a single time, where the previous
    // formulation ran three independent full scans. The null
    // indicators ride the same partial agg as the key counts.
    val perKey = t.events
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("user_id").isNull, 1L).otherwise(0L)).as("nu"),
        sum(when(col("event_type").isNull, 1L).otherwise(0L)).as("ne"),
        sum(when(col("ts").isNull, 1L).otherwise(0L)).as("nt"))
    // A11 + A12 folded over the (tiny) per-key frame. coalesce: SUM over
    // zero rows is NULL, and a NULL violation count would make `passed`
    // NULL and `status` silently fall through to warn/fail — an empty
    // events table must report 0 violations / pass.
    val evAgg = perKey.agg(
      coalesce(sum(when(col("n_rows") > 1, 1L).otherwise(0L)), lit(0L))
        .as("dup_keys"),
      coalesce(sum(col("nu")) + sum(col("ne")) + sum(col("nt")), lit(0L))
        .as("n_nulls"))
    // A13 over the same per-key frame's distinct users (exchange reused)
    val orphans = perKey.select(col("user_id")).distinct()
      .join(broadcast(t.customer.select("c_custkey")),
        col("user_id") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("n_orphans"))
    // A14: number of distinct out-of-domain statuses (= rows of
    // checkAcceptedValues), one orders scan
    val badStatus = t.orders.filter(!col("o_orderstatus").isin("O", "F"))
      .agg(count_distinct(col("o_orderstatus")).as("n_bad"))
    // A12-on-core: rollup groups whose revenue_monthly_total is NULL.
    // The rollup's total is SUM(ep·(1−d)·(1+tax)) per group, and every
    // join in the fact build is an inner equi-join — joins can only DROP
    // rows, never null these inputs. So a group's sum can be NULL only
    // if some lineitem row has a NULL among (l_extendedprice,
    // l_discount, l_tax). Prove that set empty with one column-pruned
    // lineitem scan (cheap at any scale: three columns, partial-agg to a
    // scalar) and the arm is exactly 0 — the five-join fact build runs
    // only when a dirty input makes the group structure matter. Same
    // shape as the high-water-mark scalars used elsewhere: the collected
    // value is one long, never data-sized.
    //
    // Two scoped limits of the proxy, on purpose: (1) it assumes the
    // fact build keeps its inner-join shape — if factLineitem ever
    // grows an outer join, this arm must go back to scanning the
    // rollup (the proof above is the guard to re-check); (2) a decimal
    // SUM overflow (non-ANSI → NULL) is not covered — at DECIMAL(38,6)
    // that needs a ~1e30-dollar month-group, 12 orders of magnitude
    // past a 100 TB year. The scalar collect also means CONSTRUCTING
    // this frame runs one pruned scan eagerly — accepted: every caller
    // (driver, bench, tests) executes the summary immediately.
    val dirtyInputs = t.lineitem
      .agg(count(when(col("l_extendedprice").isNull
        .or(col("l_discount").isNull).or(col("l_tax").isNull), 1)))
      .collect()(0).getLong(0)
    val rollupNulls =
      if (dirtyInputs == 0L)
        spark.range(1).select(lit(0L).as("n_null_rev"))
      else
        Facts.monthlyRollup(spark, dir)
          .agg(coalesce(
            sum(when(col("revenue_monthly_total").isNull, 1L).otherwise(0L)),
            lit(0L)).as("n_null_rev"))
    evAgg.select(shape("unique_events_key", "warn", col("dup_keys")): _*)
      .unionByName(evAgg.select(shape("not_null_events", "warn",
        when(col("n_nulls") > 0, 1L).otherwise(0L)): _*))
      .unionByName(orphans.select(shape("relationships_user_customer", "warn",
        col("n_orphans")): _*))
      .unionByName(badStatus.select(shape("accepted_values_orderstatus", "warn",
        col("n_bad")): _*))
      .unionByName(rollupNulls.select(shape("not_null_revenue_monthly_total",
        "error", col("n_null_rev")): _*))
  }

  /** A24: dbt_utils.expression_is_true analog — an arbitrary row-level
    * invariant asserted over a model, reported dbt-style as one
    * (expression, n_violations, passed) row. The invariant here is the
    * lineitem sanity contract (positive quantity/price, discount a
    * fraction, non-negative tax); the count is a single partial-agg
    * pass, so the check costs one scan at any scale.
    */
  def checkExpression(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).lineitem
      .agg(sum(when(
        !(col("l_quantity") > 0 && col("l_extendedprice") > 0 &&
          col("l_discount").between(0, 1) && col("l_tax") >= 0), 1L)
        .otherwise(0L)).as("n_violations"))
      .select(
        lit("lineitem_sanity").as("expression"),
        col("n_violations"),
        (col("n_violations") === 0L).as("passed"))

  val checkExpressionSql: String =
    """SELECT 'lineitem_sanity' AS expression,
      |  CAST(SUM(CASE WHEN NOT (l_quantity > 0 AND l_extendedprice > 0
      |                          AND l_discount BETWEEN 0 AND 1 AND l_tax >= 0)
      |           THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
      |  SUM(CASE WHEN NOT (l_quantity > 0 AND l_extendedprice > 0
      |                     AND l_discount BETWEEN 0 AND 1 AND l_tax >= 0)
      |      THEN 1 ELSE 0 END) = 0 AS passed
      |FROM lineitem""".stripMargin

  /** A26: dbt_utils.equal_rowcount analog — two models that must stay
    * row-for-row in sync, compared by COUNT: the staged (deduped) model
    * against the distinct dedup keys of its source. Each side is one
    * partial-agg scan folded to a single row; the report is the dbt
    * test's (rows_a, rows_b, passed) shape.
    */
  def checkRowcount(spark: SparkSession, dir: String): DataFrame = {
    val staged = Staging.windowDedup(spark, dir)
      .agg(count(lit(1)).as("model_rows"))
    val source = Tables(spark, dir).events
      .select(col("user_id"), col("event_type")).distinct()
      .agg(count(lit(1)).as("source_keys"))
    staged.crossJoin(source)
      .select(lit("stg_events_vs_source_keys").as("comparison"),
        col("model_rows"), col("source_keys"),
        (col("model_rows") === col("source_keys")).as("passed"))
  }

  val checkRowcountSql: String =
    """SELECT 'stg_events_vs_source_keys' AS comparison,
      |  (SELECT COUNT(*) FROM (
      |     SELECT user_id, event_type FROM events GROUP BY 1, 2)) AS model_rows,
      |  (SELECT COUNT(*) FROM (
      |     SELECT DISTINCT user_id, event_type FROM events)) AS source_keys,
      |  (SELECT COUNT(*) FROM (SELECT user_id, event_type FROM events GROUP BY 1, 2))
      |    = (SELECT COUNT(*) FROM (SELECT DISTINCT user_id, event_type FROM events)) AS passed""".stripMargin

  val checkSummarySql: String =
    """SELECT 'unique_events_key' AS test_name, 'warn' AS severity,
      |  CAST(COUNT(*) AS BIGINT) AS n_violations, COUNT(*) = 0 AS passed,
      |  CASE WHEN COUNT(*) = 0 THEN 'pass' ELSE 'warn' END AS status
      |FROM (SELECT user_id, event_type FROM events
      |      GROUP BY 1, 2 HAVING COUNT(*) > 1)
      |UNION ALL
      |SELECT 'not_null_events', 'warn',
      |  CAST(COUNT(*) AS BIGINT), COUNT(*) = 0,
      |  CASE WHEN COUNT(*) = 0 THEN 'pass' ELSE 'warn' END
      |FROM (SELECT 1 FROM events
      |      HAVING SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
      |        + SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)
      |        + SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) > 0)
      |UNION ALL
      |SELECT 'relationships_user_customer', 'warn',
      |  CAST(COUNT(*) AS BIGINT), COUNT(*) = 0,
      |  CASE WHEN COUNT(*) = 0 THEN 'pass' ELSE 'warn' END
      |FROM (SELECT user_id FROM events
      |      WHERE user_id NOT IN (SELECT c_custkey FROM customer)
      |      GROUP BY 1)
      |UNION ALL
      |SELECT 'accepted_values_orderstatus', 'warn',
      |  CAST(COUNT(*) AS BIGINT), COUNT(*) = 0,
      |  CASE WHEN COUNT(*) = 0 THEN 'pass' ELSE 'warn' END
      |FROM (SELECT o_orderstatus FROM orders
      |      WHERE o_orderstatus NOT IN ('O', 'F') GROUP BY 1)
      |UNION ALL
      |SELECT 'not_null_revenue_monthly_total', 'error',
      |  CAST(COUNT(*) AS BIGINT), COUNT(*) = 0,
      |  CASE WHEN COUNT(*) = 0 THEN 'pass' ELSE 'fail' END
      |FROM (""".stripMargin + Facts.rollupTotalNullsSql + ")"

  /** A33: cross-engine table content checksum — the migration-
    * validation primitive this project itself needs: a content-
    * sensitive fingerprint two engines can compute INDEPENDENTLY and
    * compare (dbt-audit-helper's quick "are these relations equal"
    * screen before a row-level diff). Each row renders to ONE
    * canonical string (ints/strings render identically everywhere;
    * money renders as integer cents — a raw double would format
    * differently per engine), md5's 60-bit prefix maps to int64, and
    * rows fold with a MODULAR sum — order-independent, exact at any
    * scale, no overflow (Interop's E52 discipline). One partial-agg
    * pass, one 1-row result.
    */
  def tableChecksum(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).customer
      .select(col("c_custkey"),
        round(col("c_acctbal") * 100, 0).cast("long").as("bal_c"),
        concat_ws("|",
          col("c_custkey").cast("string"), col("c_name"),
          col("c_nationkey").cast("string"),
          round(col("c_acctbal") * 100, 0).cast("long").cast("string"),
          col("c_mktsegment")).as("row_str"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(conv(substring(md5(col("row_str")), 1, 15), 16, 10).cast("long")
          % 1000000007L).as("row_checksum"),
        sum(col("bal_c") % 1000000007L).as("bal_checksum"),
        min(col("c_custkey")).as("min_key"),
        max(col("c_custkey")).as("max_key"))

  val tableChecksumSql: String =
    """WITH r AS (
      |  SELECT c_custkey,
      |    CAST(round(c_acctbal * 100, 0) AS BIGINT) AS bal_c,
      |    concat_ws('|',
      |      CAST(c_custkey AS VARCHAR), c_name,
      |      CAST(c_nationkey AS VARCHAR),
      |      CAST(CAST(round(c_acctbal * 100, 0) AS BIGINT) AS VARCHAR),
      |      c_mktsegment) AS row_str
      |  FROM customer)
      |SELECT COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(concat('0x', substr(md5(row_str), 1, 15)) AS BIGINT)
      |    % 1000000007) AS BIGINT) AS row_checksum,
      |  CAST(SUM(bal_c % 1000000007) AS BIGINT) AS bal_checksum,
      |  MIN(c_custkey) AS min_key,
      |  MAX(c_custkey) AS max_key
      |FROM r""".stripMargin

  /** A34: two-relation audit diff — dbt-audit-helper's
    * `compare_relations` over a base snapshot and a mutated target
    * (here: a deterministic 5% delete / 10% reprice / 5% insert of the
    * part table, so the op is self-contained and both engines derive
    * the identical target). Rows pair on the primary key in ONE
    * full-outer join keyed on it; row equality is an md5 over the
    * canonical row string (integer cents, never raw doubles); the
    * readout is the 4-way added/removed/changed/unchanged census every
    * migration signs off on. At scale: the join shuffles on the key
    * only — the hashes travel, the wide columns don't (projected
    * before the exchange).
    */
  def auditDiff(spark: SparkSession, dir: String): DataFrame = {
    val part = Tables(spark, dir).part
    val hk = (col("p_partkey") % 1000) * 2654435761L % 100
    def rowHash(price: org.apache.spark.sql.Column) =
      md5(concat_ws("|", col("p_name"), col("p_brand"), col("p_type"),
        col("p_size").cast("string"),
        round(price * 100, 0).cast("long").cast("string")))
    val base = part.select(col("p_partkey").as("key"),
      rowHash(col("p_retailprice")).as("h"))
    val target = part.filter(hk >= 5)
      .select(col("p_partkey").as("key"),
        rowHash(when(hk < 15, col("p_retailprice") + 1.0)
          .otherwise(col("p_retailprice"))).as("h"))
      .unionAll(part.filter(hk >= 95)
        .select((col("p_partkey") + 10000000L).as("key"),
          rowHash(col("p_retailprice")).as("h")))
    base.withColumnRenamed("h", "h_base")
      .join(target.withColumnRenamed("h", "h_target"), Seq("key"), "full_outer")
      .select(
        when(col("h_base").isNull, "only_target")
          .when(col("h_target").isNull, "only_base")
          .when(col("h_base") === col("h_target"), "unchanged")
          .otherwise("changed").as("status"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_rows"))
  }

  val auditDiffSql: String =
    """WITH hk AS (
      |  SELECT *, (p_partkey % 1000) * 2654435761 % 100 AS k FROM part),
      |base AS (
      |  SELECT p_partkey AS key,
      |    md5(concat_ws('|', p_name, p_brand, p_type,
      |      CAST(p_size AS VARCHAR),
      |      CAST(CAST(round(p_retailprice * 100, 0) AS BIGINT) AS VARCHAR)))
      |      AS h
      |  FROM hk),
      |target AS (
      |  SELECT p_partkey AS key,
      |    md5(concat_ws('|', p_name, p_brand, p_type,
      |      CAST(p_size AS VARCHAR),
      |      CAST(CAST(round((CASE WHEN k < 15 THEN p_retailprice + 1.0
      |                       ELSE p_retailprice END) * 100, 0) AS BIGINT)
      |        AS VARCHAR))) AS h
      |  FROM hk WHERE k >= 5
      |  UNION ALL
      |  SELECT p_partkey + 10000000 AS key,
      |    md5(concat_ws('|', p_name, p_brand, p_type,
      |      CAST(p_size AS VARCHAR),
      |      CAST(CAST(round(p_retailprice * 100, 0) AS BIGINT) AS VARCHAR)))
      |  FROM hk WHERE k >= 95)
      |SELECT CASE WHEN b.h IS NULL THEN 'only_target'
      |            WHEN t.h IS NULL THEN 'only_base'
      |            WHEN b.h = t.h THEN 'unchanged'
      |            ELSE 'changed' END AS status,
      |  COUNT(*) AS n_rows
      |FROM base b FULL OUTER JOIN target t USING (key)
      |GROUP BY 1""".stripMargin

  /** A35: `dbt test --store-failures` — each failing test's violating
    * ROWS are materialized as an audit table (dbt's
    * `dbt_test__audit.<test_name>` convention), not just counted. The
    * face runs two reference tests (A13 relationships orphans, A14
    * accepted_values), WRITES each violation set to its own parquet
    * audit table, then reads the stores BACK and emits one catalog row
    * per test: name, stored-row count, and an order-independent key
    * checksum over the stored rows — so the oracle hash proves the
    * round-trip through the materialized store, not merely the
    * violation query. At scale each audit table is the violation
    * sliver only (orphans / out-of-domain rows), written once and
    * shared by every debugging consumer after — exactly why dbt ships
    * the flag.
    */
  def checkStoreFailures(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val rel = t.events
      .join(broadcast(t.customer.select("c_custkey")),
        col("user_id") === col("c_custkey"), "left_anti")
      .select(col("event_id"), col("user_id"))
    val acc = t.orders.filter(!col("o_orderstatus").isin("O", "F"))
      .select(col("o_orderkey"), col("o_orderstatus"))
    val root = Scratch.tempDir("graft_test_audit")
    rel.coalesce(1).write.mode("overwrite")
      .parquet(s"$root/relationships_user_id")
    acc.coalesce(1).write.mode("overwrite")
      .parquet(s"$root/accepted_values_o_orderstatus")
    def catalogRow(testName: String, keyCol: String): DataFrame =
      Tables.parquet(spark, s"$root/$testName")
        .agg(count(lit(1)).as("n_failures"),
          coalesce(sum(col(keyCol) % 1000000007L), lit(0L)).as("key_checksum"))
        .select(lit(testName).as("test_name"),
          col("n_failures"), col("key_checksum"))
    catalogRow("relationships_user_id", "user_id")
      .unionByName(catalogRow("accepted_values_o_orderstatus", "o_orderkey"))
  }

  val checkStoreFailuresSql: String =
    """SELECT 'relationships_user_id' AS test_name,
      |  COUNT(*) AS n_failures,
      |  CAST(COALESCE(SUM(user_id % 1000000007), 0) AS BIGINT) AS key_checksum
      |FROM events
      |WHERE user_id NOT IN (SELECT c_custkey FROM customer)
      |UNION ALL
      |SELECT 'accepted_values_o_orderstatus',
      |  COUNT(*),
      |  CAST(COALESCE(SUM(o_orderkey % 1000000007), 0) AS BIGINT)
      |FROM orders
      |WHERE o_orderstatus NOT IN ('O', 'F')""".stripMargin
}
