package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{Checks, Facts, Staging}
import graft.sources.Tables

/** The engine's `dbt build` equivalent: materialize the model DAG in
  * dependency order with per-model materialization modes (reference
  * dbt_project.yml:36-41 — staging as views, core as tables), then run
  * the schema tests (dbt test) and report violations with severities
  * (schema.yml uses `severity: warn` on staging uniqueness).
  *
  * Views become Spark temp views (zero-cost, recomputed on read);
  * tables are written as parquet into the warehouse directory and
  * downstream models read the MATERIALIZED table — the same
  * read-from-upstream contract dbt's ref() provides.
  */
object Build {

  sealed trait Severity
  case object Error extends Severity
  case object Warn extends Severity

  final case class CheckResult(name: String, violations: Long, severity: Severity) {
    def passed: Boolean = violations == 0
  }
  final case class BuildReport(
      views: Seq[String], tables: Seq[String], checks: Seq[CheckResult]) {
    def failed: Seq[CheckResult] =
      checks.filter(c => !c.passed && c.severity == Error)
  }

  /** The model DAG, declared once — `dbt docs` lineage metadata (model,
    * materialization, ordered inputs). [[build]] materializes in this
    * order and [[lineage]] emits it as a DataFrame; a mismatch between
    * the two is a bug by construction, not a doc drift.
    */
  val modelDag: Seq[(String, String, Seq[String])] = Seq(
    ("stg_events", "view", Seq("events")),
    ("dim_zones", "table", Seq("nation", "region")),
    ("fact_lineitem", "table",
      Seq("lineitem", "supplier", "orders", "customer", "dim_zones")),
    ("dm_monthly_zone_revenue", "table", Seq("fact_lineitem")),
    ("dm_monthly_zone_statistics", "table", Seq("fact_lineitem")))

  /** One row per dependency edge: (model, materialization, input,
    * input_pos) — what `dbt docs generate` publishes as the project
    * lineage graph, queryable like any other table.
    */
  def lineage(spark: SparkSession): DataFrame = {
    import spark.implicits._
    modelDag.flatMap { case (m, mat, ins) =>
      ins.zipWithIndex.map { case (in, i) => (m, mat, in, (i + 1).toLong) }
    }.toDF("model", "materialization", "input", "input_pos")
  }

  /** Oracle face of [[lineage]], generated from the same [[modelDag]] —
    * a pure-literal UNION so DuckDB states the identical edge set.
    */
  val lineageSql: String = modelDag.flatMap { case (m, mat, ins) =>
    ins.zipWithIndex.map { case (in, i) =>
      s"SELECT '$m' AS model, '$mat' AS materialization, '$in' AS input, CAST(${i + 1} AS BIGINT) AS input_pos"
    }
  }.mkString("\nUNION ALL\n")

  def build(spark: SparkSession, sfDir: String, warehouseDir: String): BuildReport = {
    def table(name: String, df: DataFrame): DataFrame = {
      val path = s"$warehouseDir/$name"
      df.write.mode("overwrite").parquet(path)
      val back = Tables.parquet(spark, path)
      back.createOrReplaceTempView(name)
      back
    }
    def view(name: String, df: DataFrame): Unit =
      df.createOrReplaceTempView(name)

    // staging layer (materialized='view')
    view("stg_events", Staging.stgEvents(spark, sfDir))
    // core layer (materialized='table'), dependency order = modelDag order
    table("dim_zones", Staging.seedDim(spark, sfDir))
    val fact = table("fact_lineitem", Facts.factLineitem(spark, sfDir))
    val revenue = table("dm_monthly_zone_revenue", Facts.monthlyRollupFrom(fact))
    table("dm_monthly_zone_statistics", Facts.monthlyStatsFrom(fact))

    // dbt test analog (severities per reference schema.yml; the core
    // model's not_null on the monthly total is the one error-severity
    // test — models/core/schema.yml:21-27)
    val checks = Seq(
      CheckResult("not_null_revenue_monthly_total",
        revenue.filter(revenue("revenue_monthly_total").isNull).count(), Error),
      CheckResult("unique_stg_events_key",
        Checks.checkUnique(spark, sfDir).count(), Warn),
      CheckResult("not_null_events_key",
        Checks.checkNotNull(spark, sfDir)
          .selectExpr("null_user_id + null_event_type + null_ts as n")
          .collect()(0).getLong(0), Warn),
      CheckResult("relationships_events_user",
        Checks.checkRelationships(spark, sfDir).count(), Warn),
      CheckResult("accepted_values_order_status",
        Checks.checkAcceptedValues(spark, sfDir).count(), Warn))

    BuildReport(
      views = Seq("stg_events"),
      tables = Seq("dim_zones", "fact_lineitem",
        "dm_monthly_zone_revenue", "dm_monthly_zone_statistics"),
      checks = checks)
  }

  /** dbt `materialized='incremental'` analog: the fact is written
    * month-partitioned, and an incremental run recomputes ONLY the
    * partitions at or after `sinceMonth`, overwriting just those via
    * dynamic partition overwrite. This is the 100 TB refresh contract:
    * a daily rebuild touches the recent months' partitions (GBs), never
    * the historical ones (the other ~99% of the table), and readers
    * prune on `ship_month` (see the PlanSpec partition-pruning test).
    *
    * `sinceMonth = None` is the full-refresh face (initial build).
    */
  def buildFactIncremental(
      spark: SparkSession,
      sfDir: String,
      warehouseDir: String,
      sinceMonth: Option[String]): String = {
    import org.apache.spark.sql.functions._
    val path = s"$warehouseDir/fact_lineitem_monthly"
    val fact = Facts.factLineitem(spark, sfDir)
      .withColumn("ship_month", date_format(col("l_shipdate"), "yyyy-MM"))
    val slice = sinceMonth.fold(fact)(m => fact.filter(col("ship_month") >= m))
    // the write's own option: the session's overwrite mode is untouched
    slice.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("ship_month").parquet(path)
    path
  }

  /** CLI: `runMain graft.Build <sfDir> <warehouseDir>` */
  def main(args: Array[String]): Unit = {
    val Array(sfDir, out) = args
    val spark = graft.core.Graft.localSession()
    val report = build(spark, sfDir, out)
    report.tables.foreach(t => println(s"[build] table $t -> $out/$t"))
    report.checks.foreach(c =>
      println(s"[test] ${c.name}: ${if (c.passed) "PASS" else s"${c.violations} violations (${c.severity})"}"))
    spark.stop()
  }
}
