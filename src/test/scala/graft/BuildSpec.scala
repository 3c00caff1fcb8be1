package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The dbt-build analog: model DAG materialization + schema tests. */
class BuildSpec extends AnyFunSuite {

  private lazy val spark: SparkSession =
    graft.core.Graft.tune(SparkSession.builder().master("local[4]"), 4).getOrCreate()
  private val dir = "/root/testdata/sf0.001"

  test("build materializes the DAG and reruns agree with direct plans") {
    val wh = Files.createTempDirectory("graft_wh").toString
    val report = Build.build(spark, dir, wh)
    assert(report.failed.isEmpty)
    assert(report.tables.forall(t => new java.io.File(s"$wh/$t").exists()))

    // downstream model built FROM the materialized fact == direct plan
    val fromWarehouse = spark.table("dm_monthly_zone_revenue")
    val direct = operators.Facts.monthlyRollup(spark, dir)
    assert(fromWarehouse.count() == direct.count())
    val cols = direct.columns.sorted.toSeq
    val a = fromWarehouse.select(cols.head, cols.tail: _*).collect().map(_.toString).sorted
    val b = direct.select(cols.head, cols.tail: _*).collect().map(_.toString).sorted
    assert(a.sameElements(b))

    // views queryable through SQL (dbt ref() equivalent)
    assert(spark.sql("SELECT count(*) FROM stg_events").collect()(0).getLong(0) > 0)
    assert(spark.sql(
      """SELECT count(*) FROM fact_lineitem f
        |JOIN dim_zones z ON f.l_suppkey IS NOT NULL AND z.n_nationkey >= 0""".stripMargin)
      .collect()(0).getLong(0) > 0)
  }

  test("lineage metadata agrees with what build() actually materializes") {
    val wh = Files.createTempDirectory("graft_wh_lin").toString
    val report = Build.build(spark, dir, wh)
    val lin = Build.lineage(spark).collect()
    val models = lin.map(_.getString(0)).toSet
    // every materialized relation is a declared model and vice versa
    assert(models == (report.views ++ report.tables).toSet)
    // every edge input is either a source table or an upstream model
    val sources = Set("events", "nation", "region", "lineitem", "supplier",
      "orders", "customer")
    val inputs = lin.map(_.getString(2)).toSet
    assert(inputs.subsetOf(sources ++ models), (inputs -- sources -- models).toString)
    // materialization tags match build behavior
    val mat = lin.map(r => r.getString(0) -> r.getString(1)).toMap
    assert(report.views.forall(v => mat(v) == "view"))
    assert(report.tables.forall(t => mat(t) == "table"))
  }

  test("SQL extension functions registered via GraftExtensions") {
    graft.core.GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT graft_simhash(array('a','b','c')) AS sh,
        |       size(graft_minhash(array('a','b','c','d'), 2, 16)) AS k,
        |       graft_cosine(array(cast(1.0 as float), cast(0.0 as float)),
        |                    array(cast(1.0 as float), cast(0.0 as float))) AS cos,
        |       size(graft_gram_hashes(array('a','b','a','b'), 2)) AS g,
        |       size(graft_winnow(array('a','b','c','d','e'), 2, 2)) AS w
        |""".stripMargin).collect()(0)
    assert(r.getInt(1) == 16)
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-12)
    assert(r.getInt(3) == 2)
  }

  test("SQL aggregate functions: graft_top_k and graft_freq_items") {
    graft.core.GraftExtensions.register(spark)
    val t = graft.sources.Tables(spark, dir)
    t.orders.createOrReplaceTempView("orders_v")
    val top = spark.sql(
      """SELECT graft_top_k(
        |  struct(cast(o_totalprice as double), o_orderkey), 3) AS top
        |FROM orders_v""".stripMargin).collect()(0)
      .getSeq[org.apache.spark.sql.Row](0)
    assert(top.size == 3)
    assert(top(0).getDouble(0) >= top(1).getDouble(0))
    val hh = spark.sql(
      """SELECT graft_freq_items(o_orderstatus, 4) AS hh FROM orders_v"""
    ).collect()(0).getSeq[org.apache.spark.sql.Row](0)
    assert(hh.nonEmpty && hh.size <= 4)
  }

  test("SQL functions: graft_cov_pairs and graft_vec_sum128") {
    graft.core.GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT graft_vec_sum128(graft_cov_pairs(v)) AS s FROM VALUES
        |  (array(cast(1.0 as float), cast(2.0 as float))),
        |  (array(cast(3.0 as float), cast(-1.0 as float))) AS t(v)
        |""".stripMargin).collect()(0).getSeq[java.math.BigDecimal](0)
    // pairs per row: (x0², x0·x1, x1²) at scale 1e14:
    // (1,2,4)+(9,-3,1) = (10, -1, 5) × 1e14
    assert(r.map(_.toBigInteger.longValueExact()) ==
      Seq(10e14.toLong, -1e14.toLong, 5e14.toLong))
  }

  test("SimplifySelfCosine strength-reduces cosine(x,x), preserving semantics") {
    import org.apache.spark.sql.functions._
    val s2 = spark.newSession()
    s2.experimental.extraOptimizations = Seq(graft.core.SimplifySelfCosine)
    val df = sources.Tables(s2, dir).embeddings
      .select(col("vec_id"), graft.functions.NativeExprs.cosine_f32(
        col("embedding"), col("embedding")).as("c"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.toLowerCase.contains("cosinesimf32(embedding"), optimized)
    assert(optimized.toLowerCase.contains("selfcosinef32"), optimized)
    // rewritten plan must produce bit-identical values to the
    // unoptimized two-argument evaluation
    val plain = sources.Tables(spark, dir).embeddings
      .select(col("vec_id"), graft.functions.NativeExprs.cosine_f32(
        col("embedding"), col("embedding")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    df.collect().foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToLongBits(plain(r.getLong(0))))
    }
    // the NaN / null edge cases the rewrite must NOT change
    import s2.implicits._
    val edge = Seq(
      (1L, Some(Array(0.0f, 0.0f))), // zero norm → NaN (0/0)
      (2L, Some(Array.empty[Float])), // empty → NaN
      (3L, None), // null in → null out
      (4L, Some(Array(3.0f, 4.0f))) // regular
    ).toDF("id", "embedding")
    val got = edge.select(col("id"), graft.functions.NativeExprs.cosine_f32(
        col("embedding"), col("embedding")).as("c"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getDouble(1)))
      .toMap
    assert(got(1L).asInstanceOf[Double].isNaN)
    assert(got(2L).asInstanceOf[Double].isNaN)
    assert(got(3L) == null)
    assert(got(4L) == 1.0)
  }

  test("incremental fact build: only the refreshed months rewrite, result equals full") {
    import org.apache.spark.sql.functions._
    val wh = Files.createTempDirectory("graft_inc").toString
    val mode = "spark.sql.sources.partitionOverwriteMode"
    val modeBefore = spark.conf.getOption(mode)
    val path = Build.buildFactIncremental(spark, dir, wh, None)
    val full = spark.read.parquet(path)
    val total = full.count()
    val months = full.select("ship_month").distinct().count()

    // record per-partition file timestamps, then refresh a suffix window
    def mtimes: Map[String, Long] =
      new java.io.File(path).listFiles().filter(_.getName.startsWith("ship_month="))
        .map(d => d.getName -> d.listFiles().map(_.lastModified()).max).toMap
    val before = mtimes
    val since = "1997-06"
    Thread.sleep(1100) // mtime granularity
    Build.buildFactIncremental(spark, dir, wh, Some(since))
    // dynamic overwrite is the write's own option, not the session's
    assert(spark.conf.getOption(mode) == modeBefore)
    val after = mtimes

    // identical content to a full rebuild
    val re = spark.read.parquet(path)
    assert(re.count() == total)
    assert(re.select("ship_month").distinct().count() == months)
    // untouched partitions kept their files; refreshed ones rewrote
    before.foreach { case (part, t) =>
      val m = part.stripPrefix("ship_month=")
      if (m < since) assert(after(part) == t, s"$part rewritten")
      else assert(after(part) > t, s"$part NOT rewritten")
    }
  }

  test("RangeJoinAsBucketJoin: pure range join rewrites off the nested loop, same rows") {
    import org.apache.spark.sql.functions._
    val s2 = spark.newSession()
    s2.experimental.extraOptimizations = Seq(graft.core.RangeJoinAsBucketJoin)
    import s2.implicits._
    val av = Seq((1L, 100L), (2L, 250L), (3L, 999L), (4L, -150L))
    val bv = Seq((10L, 150L), (11L, 300L), (12L, 1500L), (13L, -100L))
    val W = 100L
    val a = av.toDF("a_id", "a_ts")
    val b = bv.toDF("b_id", "b_ts")
    val joined = a.join(b,
      col("a_ts") >= col("b_ts") - W && col("a_ts") <= col("b_ts"))
    // the rule fired: bucket columns in the optimized plan, no BNLJ
    val opt = joined.queryExecution.optimizedPlan.toString
    assert(opt.contains("__rj_bucket"), opt)
    assert(!joined.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"))
    // exact same pairs as the brute-force semantics (incl. negative ts)
    val got = joined.select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exp = (for {
      (ai, at) <- av; (bi, bt) <- bv
      if at >= bt - W && at <= bt
    } yield (ai, bi)).toSet
    assert(got == exp)

    // with a cross-side equi key the join is already hashable: no rewrite
    val equi = a.join(b,
      col("a_id") === col("b_id") &&
        col("a_ts") >= col("b_ts") - W && col("a_ts") <= col("b_ts"))
    assert(!equi.queryExecution.optimizedPlan.toString.contains("__rj_bucket"))
  }

  test("E-block invariants: rollup grand total and running totals agree") {
    import org.apache.spark.sql.functions._
    val roll = operators.Extras.regionRollup(spark, dir).cache()
    val grand = roll.filter(col("region") === "ALL" && col("nation") === "ALL")
      .select("total_balance").collect()(0).getDouble(0)
    val leaves = roll.filter(col("region") =!= "ALL" && col("nation") =!= "ALL")
      .agg(sum("total_balance")).collect()(0).getDouble(0)
    assert(math.abs(grand - leaves) < 1e-6)
    roll.unpersist()

    val rt = operators.Extras.runningTotal(spark, dir)
    val lastPerCust = rt.groupBy("o_custkey").agg(max("running_total").as("rt"))
    val direct = sources.Tables(spark, dir).orders.groupBy("o_custkey")
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("d"))
    val joined = lastPerCust.join(direct, "o_custkey")
      .filter(abs(col("rt") - col("d")) > 1e-6)
    assert(joined.count() == 0)
  }

  test("q_approx_distinct: HLL within configured 2% error of exact") {
    import org.apache.spark.sql.functions._
    val d = operators.Extras.approxDistinctRaw(spark, dir)
    val bad = d.filter(
      abs(col("approx_parts") - col("exact_parts")) >
        col("exact_parts") * 0.05 + 2)
    assert(bad.count() == 0)
    // and the driver face carries the same claim as a column
    val face = operators.Extras.approxDistinct(spark, dir)
    assert(face.filter(!col("approx_ok")).count() == 0)
  }

  test("q_asof_join: matched click precedes its purchase") {
    val d = SparkEntry.queries("q_asof_join")(spark, dir)
    import org.apache.spark.sql.functions._
    assert(d.count() > 0)
    assert(d.filter(col("click_ts_us") =!= -1L &&
      col("click_ts_us") > col("purchase_ts_us")).count() == 0)
  }
}
