package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions — the scale-design contract from SURVEY §5:
  * filters reach the parquet scan, projections prune columns, dims
  * broadcast, and shuffle counts stay at the semantic minimum.
  */
class PlanSpec extends AnyFunSuite {

  private lazy val spark: SparkSession =
    graft.core.Graft.tune(SparkSession.builder().master("local[4]"), 4).getOrCreate()
  private val dir = "/root/testdata/sf0.001"

  private def planString(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  private def executedPlan(name: String): SparkPlan = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.executedPlan
  }

  /** A face's frame, asserting that building it started no Spark job. */
  private def lazyFace(name: String): DataFrame = {
    var df: DataFrame = null
    val jobs = JobsDuring(spark.sparkContext) { df = SparkEntry.queries(name)(spark, dir) }
    assert(jobs == 0, s"$name: calling the face started $jobs job(s)")
    df
  }

  /** Joins in, and parquet reads of `table` by, a frame's optimized plan. */
  private def joinsAndReads(df: DataFrame, table: String): (Int, Int) = {
    val plan = df.queryExecution.optimizedPlan
    val reads = plan.collect { case l: LogicalRelation => l.relation }.count {
      case h: HadoopFsRelation => h.location.rootPaths.exists(_.getName == s"$table.parquet")
      case _ => false
    }
    (plan.collect { case j: Join => j }.size, reads)
  }

  private def collectAll(p: SparkPlan): Seq[SparkPlan] = {
    val self = p match {
      case a: AdaptiveSparkPlanExec => collectAll(a.inputPlan)
      case _ => p.children.flatMap(collectAll)
    }
    p +: self
  }

  test("q1_pricing: shipdate filter pushed to parquet scan") {
    val s = planString("q1_pricing")
    assert(s.contains("PushedFilters") && s.contains("l_shipdate"), s.take(2000))
  }

  test("q1_pricing: column pruning — only the 6 needed columns are read") {
    val s = planString("q1_pricing")
    val read = s.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("l_orderkey") && !read.contains("l_partkey"), read)
    assert(read.contains("l_quantity") && read.contains("l_extendedprice"), read)
  }

  test("q5_join5: dim joins broadcast in the FINAL adaptive plan, shuffles bounded") {
    // Since the hard hints on customer/supplier were dropped, the static
    // plan legitimately stages shuffle joins for them; the contract is
    // what AQE actually runs.
    val df = SparkEntry.queries("q5_join5")(spark, dir)
    df.collect()
    // AdaptiveSparkPlanExec.toString prints "== Final Plan ==" then
    // "== Initial Plan ==" — keep only the final section
    val finalPlan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val bhj = "BroadcastHashJoin".r.findAllIn(finalPlan).length
    assert(bhj >= 3, s"expected >=3 broadcast joins in the final plan, got $bhj\n${finalPlan.take(3000)}")
    // executed shuffles stay bounded: fact join pair + agg (+ sort)
    val shuffles = finalPlan.linesIterator.count(l =>
      l.contains("Exchange ") && !l.contains("BroadcastExchange"))
    assert(shuffles > 0 && shuffles <= 6, s"expected 1..6 executed shuffles, got $shuffles")
  }

  test("q_fact_join: dim and enrichment joins broadcast") {
    val plan = executedPlan("q_fact_join")
    val bhj = collectAll(plan).count(_.isInstanceOf[BroadcastHashJoinExec])
    assert(bhj >= 4, s"expected >=4 broadcast joins in the fact build, got $bhj")
  }

  test("q_dedup_minhash: native signature expression present in the physical plan") {
    val nodes = collectAll(executedPlan("q_dedup_minhash"))
    assert(nodes.exists(_.toString.toLowerCase.contains("minhashsig")))
  }

  test("whole-stage codegen covers the native expressions") {
    val s = planString("q_winnow")
    assert(s.contains("codegen id"), s.take(1500))
  }

  test("q_monthly_rollup: map-side partial aggregation precedes the exchange") {
    val s = planString("q_monthly_rollup")
    // formatted plans show partial_<agg> in the pre-shuffle HashAggregate
    assert(s.contains("partial_"), s.take(1500))
  }

  test("partitioned output: month filter prunes partitions at the scan") {
    import org.apache.spark.sql.functions._
    val out = java.nio.file.Files.createTempDirectory("partitioned").toString + "/fact"
    SparkEntry.queries("q_fact_join")(spark, dir)
      .withColumn("ship_month", date_format(col("l_shipdate"), "yyyy-MM"))
      .write.partitionBy("ship_month").parquet(out)
    val pruned = spark.read.parquet(out).filter(col("ship_month") === "1996-03")
    val s = pruned.queryExecution.executedPlan.toString
    assert(s.contains("PartitionFilters") && s.contains("ship_month"), s.take(1200))
    // the plan reads only the one matching partition directory
    val scanned = pruned.queryExecution.executedPlan.collectLeaves()
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount }.sum
    assert(scanned == 1, s"expected 1 partition scanned, got $scanned")
  }

  test("q_range_join: bucketed plan has no cartesian/nested-loop join") {
    val s = planString("q_range_join")
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s.take(2000))
  }

  test("q_grouping_sets: one Expand feeds a single aggregation pass") {
    val s = planString("q_grouping_sets")
    val expands = s.linesIterator.count(_.matches(".*\\bExpand\\b.*"))
    assert(expands >= 1, s.take(2000))
    // one scan of orders, not one per grouping set
    val orderScans = s.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("orders"))
    assert(orderScans <= 1, s"orders scanned $orderScans times")
  }

  // NOTE: exchange counting goes through the formatted explain, NOT
  // AdaptiveSparkPlanExec.inputPlan — with AQE on, inputPlan is the
  // pre-EnsureRequirements plan and contains no exchanges at all, so a
  // node-type count there is vacuously zero.
  // formatted mode prints shuffle exchanges as "(n) Exchange" tree nodes
  // (broadcasts are "(n) BroadcastExchange" — excluded by the \b match)
  private def hashExchanges(name: String): Int =
    """\(\d+\) Exchange\b""".r.findAllIn(planString(name)).length

  test("q_skew_agg: two aggregation exchanges — (key,salt) then key") {
    val n = hashExchanges("q_skew_agg")
    assert(n == 2, s"expected exactly 2 hash exchanges, got $n")
  }

  test("q_incremental: bounded exchanges — merge-key window + partial-agg'd src grouping") {
    val n = hashExchanges("q_incremental")
    assert(n <= 2, s"expected <=2 hash exchanges, got $n")
  }

  test("q_reservoir_sample: single exchange — bounded heaps ship, rows don't sort") {
    val s = planString("q_reservoir_sample")
    val n = """\(\d+\) Exchange\b""".r.findAllIn(s).length
    assert(n == 1, s"expected exactly 1 hash exchange, got $n")
    assert(!s.contains("Window"), "no per-group window sort in the heap path")
  }

  test("q_oov_rate: vocab joins broadcast; one keyed shuffle for the doc agg") {
    val s = planString("q_oov_rate")
    assert(s.contains("BroadcastHashJoin"), s.take(2000))
  }

  test("q_outliers: moments broadcast back — flagging is map-only after one agg") {
    val s = planString("q_outliers")
    assert(s.contains("BroadcastHashJoin"), s.take(2000))
    val n = """\(\d+\) Exchange\b""".r.findAllIn(s).length
    assert(n <= 1, s"expected <=1 hash exchange, got $n")
  }

  test("q_unigram_logprob: aggregation-keyed exchanges only, total is in-plan") {
    val s = planString("q_unigram_logprob")
    // (doc,token) partials, token vocab, join re-key by token, final doc
    // agg, plus the single-partition total (carries one partial per
    // task, not rows) — and nothing else
    val n = """\(\d+\) Exchange\b""".r.findAllIn(s).length
    assert(n <= 5, s"expected <=5 hash exchanges, got $n")
    assert(!s.contains("CartesianProduct"), "1-row total must broadcast")
  }

  test("no broadcast hints on SF-scaling tables; AQE still broadcasts them when small") {
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    val qs = Seq("q3_topk", "q18_big_orders", "q5_join5", "q_fact_join",
      "q_cube", "q_topn_group")
    for (q <- qs) {
      val df = SparkEntry.queries(q)(spark, dir)
      // logical contract: hard hints only over fixed-size dims
      // (nation/region/seed) — never over SF-scaling customer/supplier
      df.queryExecution.analyzed.collect { case h: ResolvedHint => h }.foreach { h =>
        val leaves = h.child.collectLeaves().map(_.toString).mkString("\n")
        assert(!leaves.contains("customer") && !leaves.contains("supplier"),
          s"$q carries a broadcast hint over an SF-scaling table:\n$leaves")
      }
      // physical contract: at this SF the planner/AQE still CHOOSES
      // broadcast for those sides on its own size estimate
      df.collect()
      val finalPlan = df.queryExecution.executedPlan.toString
      assert(finalPlan.contains("BroadcastHashJoin"),
        s"$q: expected size-based broadcast joins in the final plan")
    }
  }

  test("prefix-primitive faces execute WITHOUT a single-reducer global window") {
    // Their ORACLES state SUM()/ntile OVER (ORDER BY ...) — the engine
    // must realize that semantics through the distributed prefix
    // primitive, never WindowExec over one unpartitioned partition.
    for (q <- Seq("q_abc_analysis", "q_histogram_depth", "q_multimodal_shard",
        "q_compaction_plan")) {
      val nodes = collectAll(executedPlan(q)).map(_.nodeName)
      assert(!nodes.exists(_.contains("Window")),
        s"$q: global window found in ${nodes.distinct}")
    }
  }

  test("sketch faces: exact witnesses execute without the two-phase distinct Expand") {
    // r10 VERDICT #3: mixing countDistinct/percentile with the sketch
    // forced the Expand rewrite (two exchanges, four agg passes). The
    // exact arms now ride the bitmap aggregate / the cells discipline —
    // one map-combinable pass each; Expand must stay out of the plan.
    for (q <- Seq("q_approx_distinct", "q_approx_percentiles")) {
      val nodes = collectAll(executedPlan(q)).map(_.nodeName)
      assert(!nodes.exists(_.contains("Expand")),
        s"$q: Expand found in ${nodes.distinct}")
    }
  }

  test("r11 materialize-once faces: no consumer re-scans parquet past the checkpoint") {
    // r11 optimization round: faces whose multi-referenced bounded
    // frames now checkpoint eagerly must serve EVERY downstream branch
    // from the materialized RDD — a parquet scan in the returned plan
    // means a branch dodged the checkpoint and the re-scan tax is back
    // (q_trend_robust measured 4.8 s with 5 scans vs 1.5 s with one).
    // (q_lsh_recall is excluded: its truth side rides the checkpoint but
    // the C2 candidate arm is an independent pipeline over the raw docs,
    // so one parquet scan is legitimate there. q_ks_drift and q_winsorize
    // pin no frame of their own; the checkpoint they serve is their
    // Graft.scoped copy.)
    for (q <- Seq("q_trend_robust", "q_ks_drift", "q_winsorize",
        "q_assoc_rules", "q_training_set", "q_setsim_prefix")) {
      val leaves = collectAll(executedPlan(q)).filter(_.children.isEmpty)
      val parquet = leaves.filter(_.nodeName.contains("Scan parquet"))
      assert(parquet.isEmpty,
        s"$q: ${parquet.size} parquet scan(s) above the checkpoint — " +
          leaves.map(_.nodeName).distinct.mkString(","))
    }
  }

  test("q_ewma: one pass — no job at call, no join, one lineitem read") {
    // each day's revenue explodes forward to day + lag and one groupBy on
    // the target folds it: no target spine joined back, no checkpoint
    assert(joinsAndReads(lazyFace("q_ewma"), "lineitem") == ((0, 1)))
  }

  test("q_skyline: one window per pass — no job at call, no join, one orders read") {
    assert(joinsAndReads(lazyFace("q_skyline"), "orders") == ((0, 1)))
  }

  test("q_profile_drift: side-tagged CELLS passes — no Expand, one scan per column") {
    // r12 (r11 VERDICT #6): the r11 one-pass side-tagged profile still
    // lowered its multi-distinct to an Expand (×4 row amplification
    // before the partial aggregate). The drift face now runs one narrow
    // side-tagged (side, value) → count cells pass per profiled column:
    // NO Expand anywhere, exactly |Cols| = 3 parquet scans, and no join
    // (the base/target split folds into conditional aggregates).
    val nodes = collectAll(executedPlan("q_profile_drift")).map(_.nodeName)
    assert(nodes.count(_.contains("Expand")) == 0, nodes.distinct.mkString(","))
    val scans = nodes.count(_.contains("Scan parquet"))
    assert(scans == 3, s"expected 3 per-column cells scans, got $scans")
    assert(!nodes.exists(_.contains("Join")), nodes.distinct.mkString(","))
  }

  test("q_bloom_join: zero driver actions — sketch rides a scalar subquery") {
    // r9 VERDICT #7: the bloom build must be IN-PLAN (the
    // InjectRuntimeFilter shape), not a count()+head() round-trip. Pin
    // that the analyzed plan carries a scalar subquery computing a
    // bloom_filter_agg — if the face regressed to driver-side assembly
    // the sketch would appear as an opaque binary literal instead.
    val df = SparkEntry.queries("q_bloom_join")(spark, dir)
    val subs = df.queryExecution.analyzed.collect { case p => p }
      .flatMap(_.expressions)
      .flatMap(_.collect {
        case s: org.apache.spark.sql.catalyst.expressions.ScalarSubquery => s
      })
    assert(subs.exists(_.plan.toString.contains("bloom_filter_agg")),
      "no in-plan bloom_filter_agg scalar subquery found in the analyzed plan")
  }

  test("q_anomaly_mad: per-row deviation pass joins group stats by broadcast") {
    val plan = executedPlan("q_anomaly_mad")
    val bhj = collectAll(plan).count(_.isInstanceOf[BroadcastHashJoinExec])
    assert(bhj >= 2, s"expected med and mad to re-enter as broadcast joins, got $bhj")
  }

  test("q_dedup_fuzzy: blocked self-join — no nested-loop/cartesian product") {
    val nodes = collectAll(executedPlan("q_dedup_fuzzy")).map(_.nodeName)
    assert(!nodes.exists(n => n.contains("Cartesian") || n.contains("NestedLoop")),
      nodes.distinct.mkString(","))
  }

  test("q_partitioned_scan: month predicate satisfied by partition pruning") {
    val df = SparkEntry.queries("q_partitioned_scan")(spark, dir)
    val s = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the month filter must land on the partition column, not as a data
    // filter over opened files
    assert(s.contains("PartitionFilters") && s.contains("ship_month"), s.take(2000))
  }

  test("round-7 audits: broadcast totals, no cartesian, bounded windows") {
    // dataset card / ivf stats / class balance: the 1-row (or
    // |classes|-row) total must re-enter as a broadcast, never a
    // driver value or a shuffled join
    for (q <- Seq("q_dataset_card", "q_ivf_stats", "q_class_balance")) {
      val plan = collectAll(executedPlan(q))
      assert(plan.exists(_.isInstanceOf[BroadcastHashJoinExec])
        || plan.exists(_.nodeName.contains("BroadcastNestedLoop")),
        s"$q: expected a broadcast re-entry, got ${plan.map(_.nodeName).distinct}")
    }
    // incremental dedup: fingerprint-keyed joins only — no cartesian
    val nodes = collectAll(executedPlan("q_dedup_incremental")).map(_.nodeName)
    assert(!nodes.exists(_.contains("Cartesian")), nodes.distinct.mkString(","))
  }

  test("r7b audits: broadcast totals re-enter; skew audit has no global window") {
    for (q <- Seq("q_lang_confusion", "q_entity_split")) {
      val plan = collectAll(executedPlan(q))
      assert(plan.exists(_.isInstanceOf[BroadcastHashJoinExec])
        || plan.exists(_.nodeName.contains("BroadcastNestedLoop")),
        s"$q: expected a broadcast re-entry, got ${plan.map(_.nodeName).distinct}")
    }
    // the fanout percentiles run on the prefix primitive over the
    // distinct-fanout cells — never a single-reducer window
    val nodes = collectAll(executedPlan("q_join_skew_audit")).map(_.nodeName)
    assert(!nodes.exists(_.contains("Window")), nodes.distinct.mkString(","))
  }

  test("q_winsorize: executes inside the ×1 fan-out scope, serves a bounded checkpoint") {
    // The face runs entirely inside a base-width Graft.scoped session,
    // which eagerly checkpoints its 7-row result, so the returned plan is the
    // materialized RDD (the window-over-cells shape executed behind it
    // is value-pinned by the oracle and by the r11 history). Pin the
    // scope instead: the served RDD's partition count must not exceed
    // the session's base shuffle width — before the scope, the ×8
    // pre-coalesce fan-out pinned up to 8× that many near-empty
    // checkpoint blocks.
    val df = SparkEntry.queries("q_winsorize")(spark, dir)
    val leaves = collectAll(df.queryExecution.executedPlan).filter(_.children.isEmpty)
    assert(!leaves.exists(_.nodeName.contains("Scan parquet")),
      s"expected the checkpointed result, got ${leaves.map(_.nodeName).distinct}")
    val width = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(df.rdd.getNumPartitions <= width,
      s"served ${df.rdd.getNumPartitions} partitions > base width $width — " +
        "the ×1 fan-out scope did not apply")
  }

  test("TopKAgg ranking equals the window row_number formulation") {
    val agg = SparkEntry.queries("q_ann_topk")(spark, dir)
      .collect().map(_.toString).sorted
    // rebuild the scored frame and rank via window for comparison
    val viaWindow = graft.operators.Ann.annTopKViaWindow(spark, dir)
      .collect().map(_.toString).sorted
    assert(agg.sameElements(viaWindow))
  }

  test("q_bucket_join: the bucketed join runs with ZERO exchange below it") {
    import org.apache.spark.sql.functions.{col, count, lit}
    val (joined, cleanup) =
      graft.operators.Interop.bucketedJoinPair(spark, dir)
    try {
      val agg = joined.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"))
      // NOTE: collectAll walks AdaptiveSparkPlanExec.inputPlan, which
      // predates EnsureRequirements (no Exchange nodes exist there yet)
      // — pin this contract on the prepared plan's rendering instead.
      val s = agg.queryExecution.executedPlan.toString
      val lines = s.linesIterator.toVector
      val smjAt = lines.indexWhere(_.contains("SortMergeJoin"))
      assert(smjAt >= 0, s"expected a SortMergeJoin:\n$s")
      val exchangeLines = lines.zipWithIndex
        .filter(_._1.contains("Exchange hashpartitioning"))
      // exactly one exchange in the whole plan — the final aggregate —
      // and it sits ABOVE the join (nothing below the join shuffles)
      assert(exchangeLines.size == 1, s"expected exactly 1 exchange:\n$s")
      assert(exchangeLines.head._2 < smjAt,
        s"the exchange must be the post-join aggregate, above the join:\n$s")
      // both sides read their co-located buckets
      assert("Bucketed: true".r.findAllIn(s).size == 2, s)
    } finally cleanup()
  }

  private val widthKeys = Seq("spark.sql.shuffle.partitions",
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum")

  /** Runs a 10-group aggregate inside `Graft.scoped(spark, width)` and
    * returns the hash-partitioning widths of its executed plan.
    */
  private def scopedWidths(width: Option[Int]): Seq[Int] = {
    import org.apache.spark.sql.functions.col
    var widths = Seq.empty[Int]
    graft.core.Graft.scoped(spark, width) { spark =>
      val agg = spark.range(1000).toDF("n").groupBy(col("n") % 10).count()
      agg.collect()
      val finalPlan = agg.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      widths = "hashpartitioning\\(.*, (\\d+)\\)".r
        .findAllMatchIn(finalPlan).map(_.group(1).toInt).toSeq
      agg
    }
    widths
  }

  test("withShufflePartitions scopes BOTH width confs — initialPartitionNum is not inert") {
    // r8's q_components 2x regression: Graft.tune sets a global 8x
    // initialPartitionNum, and when that conf is set Spark ignores
    // shuffle.partitions for the pre-coalesce width — so scoping only
    // shuffle.partitions is silently inert. Pin that a plan EXECUTED
    // inside an explicit-width Graft.scoped session launches its
    // exchanges at the scoped width, and that the caller's confs never
    // change.
    val before = widthKeys.map(spark.conf.getOption)
    val widths = scopedWidths(Some(8))
    assert(widths.nonEmpty, "no hash-partitioned exchange found in the executed plan")
    assert(widths.forall(_ == 8),
      s"exchanges planned at widths $widths, not the scoped 8 — " +
        "the global initialPartitionNum leaked into the scope")
    assert(widthKeys.map(spark.conf.getOption) == before, "the caller's confs changed")
  }

  test("withStockFanout pins initialPartitionNum to the BASE shuffle width") {
    // The r10 inert-conf near-miss: sessionState.conf.numShufflePartitions
    // RETURNS initialPartitionNum under AQE coalescing, so a scope that
    // reads it would set the conf to its own current value — a silent
    // no-op (caught by task-count probing: 1219 tasks vs 199). Pin that
    // a plan EXECUTED inside a default-width Graft.scoped session
    // launches exchanges at the base shuffle.partitions, not the global
    // ×8 fan-out.
    val key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    val before = spark.conf.getOption(key)
    val base = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(before.exists(_.toInt > base),
      "precondition: the session must carry the global ×8 fan-out")
    val widths = scopedWidths(None)
    assert(widths.nonEmpty, "no hash-partitioned exchange found in the executed plan")
    assert(widths.forall(_ == base),
      s"exchanges planned at widths $widths, not the base $base — " +
        "the base-width scope is inert")
    assert(spark.conf.getOption(key) == before, "the caller's conf changed")
  }

  test("scoped: inside the body the caller's initialPartitionNum still reads ×8") {
    // The scope narrows a clone, never the shared session: a face on
    // another thread of the same session keeps the ×8 fan-out.
    val key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    val outer = spark.conf.get(key)
    var inBody = ""
    var inScope = ""
    graft.core.Graft.scoped(spark) { s =>
      inBody = spark.conf.get(key)
      inScope = s.conf.get(key)
      s.range(1).toDF()
    }
    assert(inBody == outer, s"the caller's $key read $inBody inside the scope, not $outer")
    assert(inScope == spark.conf.get("spark.sql.shuffle.partitions"),
      s"the scoped session's $key is $inScope, not the base width")
  }

  test("scoped: the body sees the caller's runtime-set confs") {
    // newSession() would start from the builder's confs and lose this;
    // AqeOffSpec's AQE-off arm relies on the scoped faces keeping it.
    val key = "spark.sql.adaptive.enabled"
    val old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      var seen = ""
      graft.core.Graft.scoped(spark) { s =>
        seen = s.conf.get(key)
        s.range(1).toDF()
      }
      assert(seen == "false", s"the scoped session read $key = $seen")
    } finally spark.conf.set(key, old)
  }

  test("scoped: a body that returns a frame of the outer session throws") {
    val err = intercept[IllegalArgumentException] {
      graft.core.Graft.scoped(spark)(_ => spark.range(3).toDF())
    }
    assert(err.getMessage.contains("another session"), err.getMessage)
  }

  test("q_bloom_join: the bloom prune sits BELOW the join, on the probe scan side") {
    // The whole point of the runtime-filter pattern is WHERE the filter
    // runs: non-matching probe rows must die before the exchange/join.
    // Pin that a Filter whose condition carries might_contain exists in
    // the probe subtree UNDER the semi join — if the prune drifted above
    // the join (or vanished), the face would still be hash-correct but
    // would ship the full probe side at 100 TB.
    import org.apache.spark.sql.execution.FilterExec
    val plan = executedPlan("q_bloom_join")
    val joins = collectAll(plan).filter(p =>
      p.nodeName.toLowerCase.contains("join") &&
        p.toString.toLowerCase.contains("leftsemi"))
    assert(joins.nonEmpty, "no semi join in the executed plan")
    val pruned = joins.exists(j => collectAll(j).exists {
      case f: FilterExec => f.condition.toString.contains("might_contain")
      case _ => false
    })
    assert(pruned,
      "might_contain prune not found below the semi join — probe rows " +
        "would reach the exchange unfiltered")
  }
}
