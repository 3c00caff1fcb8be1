package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructType, TimestampNTZType, TimestampType}

/** Table loaders.
  *
  * Mirrors the reference's source layer: dbt `source()` tables read from
  * the warehouse (models/staging/schema.yml:1-24) and the
  * `taxi_zone_lookup` CSV seed with per-column type overrides
  * (dbt_project.yml:43-47). Here sources are parquet directories and
  * seeds are CSVs; both come back as DataFrames whose scans Catalyst can
  * prune and push filters into.
  *
  * Every table is read through [[Tables.parquet]], so building a
  * `Tables` and calling its loaders runs no Spark job.
  */
final case class Tables(spark: SparkSession, dir: String) {
  private def t(name: String): DataFrame =
    Tables.parquet(spark, s"$dir/$name.parquet")

  def region: DataFrame     = t("region")
  def nation: DataFrame     = t("nation")
  def customer: DataFrame   = t("customer")
  def supplier: DataFrame   = t("supplier")
  def part: DataFrame       = t("part")
  def orders: DataFrame     = t("orders")
  def lineitem: DataFrame   = t("lineitem")

  /** The events feed, with `ts` as a µs `TimestampType` instant
    * ([[Tables.eventTime]]).
    */
  def events: DataFrame = Tables.eventTime(t("events"))
  def documents: DataFrame  = t("documents")
  def embeddings: DataFrame = t("embeddings")
}

object Tables {

  /** `spark.read.parquet(path)` with its schema read from one parquet
    * footer on the driver. Without a schema, Spark infers one in a job
    * whose single task reads one footer: with schema merging off (the
    * default) that is the file itself, or a directory's first data file
    * by sorted path, skipping `_*` and `.*` names. That job is a
    * scheduling round trip before the frame exists, one per table read
    * (on a cluster, one to the executors). This reads the same footer
    * with Spark's own footer-to-schema conversion under the session's
    * converter confs, so the schema is the one inference would give, and
    * hands it to the reader, which then infers nothing. Nothing is
    * cached: each call reads the footer afresh. Where that one footer
    * does not settle the schema (a missing path, a directory with no
    * data file or with subdirectories such as `partitionBy` output,
    * merging on), the read is plain `spark.read.parquet`, so Spark's own
    * inference, or its own error, stands.
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    org.apache.spark.sql.execution.datasources.parquet.GraftFooter
      .inferredSchema(spark, path)
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))

  /** An events frame with `ts` as a µs `TimestampType` instant, whatever
    * timestamp type the scan produced. The feed writes parquet
    * `timestamp[us]` with no zone, which Spark reads as `TIMESTAMP_NTZ`;
    * by the feed's contract that wall clock is a UTC instant, so it is
    * cast once here, under the UTC session zone [[graft.core.Graft.tune]]
    * sets. This matches how the DuckDB oracle reads the same file
    * (`epoch_us(ts)` on a naive TIMESTAMP treats it as UTC). A
    * `TimestampType` column passes through. Any other type is refused:
    * a feed of int64-ns timestamps is refused on read already.
    *
    * It branches on the schema, never the data, so the batch
    * [[Tables.events]] and every `readStream` intake share it. Column
    * order is preserved (`withColumn` replaces in place).
    */
  def eventTime(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case TimestampType => df
      case TimestampNTZType =>
        // The NTZ→LTZ cast is wall-clock-preserving ONLY under a UTC
        // session zone; anything else would silently shift every
        // instant by the zone offset, so fail loudly instead.
        val tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
        // accept any zone whose rules ARE UTC ("UTC", "Etc/UTC", "GMT",
        // "Z", "+00:00"): the cast is wall-clock-correct under all of
        // them, and a string-equality pin would hard-fail sessions whose
        // JVM default resolves to an alias
        val zoneIsUtc =
          try {
            val rules = java.time.ZoneId
              .of(tz, java.time.ZoneId.SHORT_IDS).getRules
            rules.isFixedOffset &&
              rules.getOffset(java.time.Instant.EPOCH).getTotalSeconds == 0
          } catch { case _: java.time.DateTimeException => false }
        require(zoneIsUtc,
          s"events.ts is TIMESTAMP_NTZ and spark.sql.session.timeZone is '$tz'; " +
            "graft requires UTC (set via graft.core.Graft.tune) so the " +
            "NTZ->instant cast preserves the feed's UTC wall-clock")
        df.withColumn("ts", col("ts").cast(TimestampType))
      case other =>
        throw new IllegalStateException(
          s"events.ts: unsupported physical type $other — expected " +
            "timestamp or timestamp_ntz")
    }

  /** CSV seed loader — the analog of dbt's seed with
    * `+column_types: {locationid: numeric}` (dbt_project.yml:43-47):
    * header CSV, schema inferred, then explicit per-column type
    * overrides applied as casts so downstream joins see stable types.
    */
  def seedCsv(
      spark: SparkSession,
      path: String,
      columnTypes: Map[String, DataType] = Map.empty): DataFrame = {
    val raw = spark.read
      .option("header", "true")
      .option("inferSchema", "true")
      .csv(path)
    columnTypes.foldLeft(raw) { case (df, (col, dt)) =>
      df.withColumn(col, df(col).cast(dt))
    }
  }

  /** Schema-first CSV seed (no inference pass — preferred at scale:
    * inference reads the file twice).
    */
  def seedCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)
}
