package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dev tool: native sort-merge as-of ([[graft.plans.AsOf]]) vs the
  * composed union+window formulation on a synthetic HOT-KEY feed —
  * `runMain graft.AsOfBench [rows] [users]` (default 4M rows across 16
  * users, the shape where a per-user window sort hurts most). Prints
  * both timings and cross-checks the row counts match.
  */
object AsOfBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(4000000L)
    val users = args.drop(1).headOption.map(_.toLong).getOrElse(16L)
    val spark = core.Graft.localSession()

    // realistic asymmetry: 90% clicks, 10% purchases; purchases carry a
    // wide payload the composed union must drag through its window sort
    val ev = spark.range(n).select(
      (col("id") % users).as("user_id"),
      col("id").as("event_id"),
      pmod(xxhash64(col("id")), lit(100000000L)).as("ts_us"),
      when(col("id") % 10 < 9, "click").otherwise("purchase").as("event_type"))
      .withColumn("payload",
        when(col("event_type") === "purchase",
          lpad(col("event_id").cast("string"), 128, "x")))
      .persist()
    ev.count()
    // the canonical as-of inputs are two separate tables (trades vs
    // quotes); pre-split so neither face pays a second feed scan
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts_us"), col("payload"))
      .persist()
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts_us").as("c_ts"))
      .persist()
    purchases.count(); clicks.count()

    // what a user WITHOUT the native operator writes over two tables:
    // tag + union to a superset schema, window, filter back out
    def composed(): DataFrame = {
      val p = purchases.select(col("user_id"), col("event_id"), col("ts_us"),
        col("payload"), lit(0).as("is_click"))
      val c = clicks.select(col("c_user").as("user_id"),
        lit(-1L).as("event_id"), col("c_ts").as("ts_us"),
        lit(null).cast("string").as("payload"), lit(1).as("is_click"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("is_click").desc, col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      p.unionByName(c)
        .withColumn("last_click_ts",
          last(when(col("is_click") === 1, col("ts_us")), ignoreNulls = true).over(w))
        .filter(col("is_click") === 0)
        .select(col("user_id"), col("event_id"), col("ts_us"), col("payload"),
          coalesce(col("last_click_ts"), lit(-1L)).as("click_ts"))
    }

    def native(): DataFrame =
      plans.AsOf.joinAsOf(purchases, clicks,
        Seq(purchases("user_id")), Seq(clicks("c_user")),
        purchases("ts_us"), clicks("c_ts"))
        .select(col("user_id"), col("event_id"), col("ts_us"), col("payload"),
          coalesce(col("c_ts"), lit(-1L)).as("click_ts"))

    def time(label: String, df: () => DataFrame): Long = {
      df().write.mode("overwrite").format("noop").save() // warm-up
      System.gc()
      val t0 = System.nanoTime()
      df().write.mode("overwrite").format("noop").save()
      val c = df().count()
      println(f"$label%-10s ${(System.nanoTime() - t0) / 1e9}%.2f s  ($c rows)")
      c
    }

    println(s"as-of bench: $n rows, $users hot users")
    val a = time("composed", composed _)
    val b = time("native", native _)
    assert(a == b, "row-count mismatch between faces")
    spark.stop()
  }
}
