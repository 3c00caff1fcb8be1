package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Per-operator invariants on the sf0.001 tables — complements the
  * driver's DuckDB hash-compare with semantic checks.
  */
class OperatorSpec extends AnyFunSuite {

  private lazy val spark: SparkSession =
    graft.core.Graft.tune(SparkSession.builder().master("local[4]"), 4).getOrCreate()
  private val dir = "/root/testdata/sf0.001"

  private def run(name: String) = SparkEntry.queries(name)(spark, dir)

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query key has a runnable plan and every oracle key a query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    SparkEntry.queries.foreach { case (name, fn) =>
      assert(fn(spark, dir).columns.nonEmpty, name)
    }
  }

  test("the registry holds 244 faces under 244 distinct names, each with an oracle") {
    val names = SparkEntry.faces.map(_.name)
    assert(names.size == 244 && names.distinct.size == 244,
      s"duplicated: ${names.diff(names.distinct).mkString(", ")}")
    val noOracle = SparkEntry.faces.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(noOracle.isEmpty, s"no oracle: ${noOracle.mkString(", ")}")
  }

  test("SURVEY §2 inventory and SparkEntry.queries stay in sync") {
    val survey = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("SURVEY.md")), java.nio.charset.StandardCharsets.UTF_8)
    val section = survey.substring(
      survey.indexOf("## §2"), survey.indexOf("## §3"))
    val surveyKeys = "`(q[0-9_][0-9a-z_]*)`".r.findAllMatchIn(section)
      .map(_.group(1)).toSet
    val codeKeys = SparkEntry.queries.keySet
    assert(surveyKeys == codeKeys,
      s"survey-only=${surveyKeys -- codeKeys} code-only=${codeKeys -- surveyKeys}")
  }

  test("q_window_dedup: dedup key is unique afterwards") {
    val d = run("q_window_dedup")
    assert(d.count() == d.select("user_id", "event_type").distinct().count())
  }

  test("q_stg_clean: surrogate keys are md5-shaped and unique") {
    val d = run("q_stg_clean").cache()
    assert(d.filter(length(col("event_sk")) =!= 32).count() == 0)
    assert(d.select("event_sk").distinct().count() == d.count())
    d.unpersist()
  }

  test("q_stg_dev_limit: var-gated — 100-row dev sample by default, full model when false") {
    val dev = run("q_stg_dev_limit")
    assert(dev.count() == math.min(100L, run("q_stg_clean").count()))
    // dbt build --vars 'is_test_run: false' equivalent
    spark.conf.set("spark.graft.vars.is_test_run", "false")
    try {
      val full = run("q_stg_dev_limit")
      assert(full.count() == run("q_stg_clean").count())
    } finally spark.conf.unset("spark.graft.vars.is_test_run")
  }

  test("q_case_map: codes 1-5 described, never null for valid codes") {
    val d = run("q_case_map")
    assert(d.filter(col("priority_code").between(1, 5) &&
      col("priority_description").isNull).count() == 0)
  }

  test("q_seed_dim: zone transform applied") {
    val d = run("q_seed_dim").cache()
    assert(d.count() == 25)
    assert(d.filter(!col("zone_name").startsWith("ZONE_")).count() == 0)
    assert(d.filter(col("region_name") === "MIDDLE EAST").count() == 0)
    d.unpersist()
  }

  test("q_fact_join: filtered dim regions excluded, tripid keys consistent") {
    val d = run("q_fact_join").cache()
    assert(d.filter(col("supp_region") === "AFRICA" ||
      col("cust_region") === "AFRICA").count() == 0)
    // tripid is the surrogate of (orderkey, linenumber) — distinct counts
    // must agree (the synthetic feed, like raw tripdata, has dup keys)
    assert(d.select("tripid").distinct().count() ==
      d.select("l_orderkey", "l_linenumber").distinct().count())
    d.unpersist()
  }

  test("q_monthly_rollup: group keys unique, totals positive") {
    val d = run("q_monthly_rollup").cache()
    assert(d.select("revenue_zone", "revenue_month", "service_type")
      .distinct().count() == d.count())
    assert(d.filter(col("total_monthly_trips") <= 0).count() == 0)
    d.unpersist()
  }

  test("dbt-test analogs: unique violations found, accepted_values catches 'P'") {
    assert(run("q_check_unique").filter(col("n_rows") <= 1).count() == 0)
    val av = run("q_check_accepted_values").collect()
    assert(av.map(_.getString(0)).toSet == Set("P"))
  }

  test("q_dedup_minhash: LSH candidates include every high-jaccard pair") {
    val exact = run("q_ngram_jaccard").filter(col("jaccard") >= 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = run("q_dedup_minhash").filter(col("is_dup"))
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "test data should contain planted near-dups")
    assert(exact.subsetOf(lsh), s"LSH missed ${exact -- lsh}")
  }

  test("q_setsim_prefix: prefix filtering loses no pair vs brute force") {
    // brute force = C4's inverted-index exact join, re-thresholded with
    // the same integer predicate 8·|∩| ≥ 3·(|a|+|b|)
    val brute = run("q_ngram_jaccard")
      .filter(col("n_inter") * 8 >= (col("n_a") + col("n_b")) * 3)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pfx = run("q_setsim_prefix")
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "test data should contain >=0.6-jaccard pairs")
    assert(pfx == brute, s"missed=${brute -- pfx} extra=${pfx -- brute}")
  }

  test("q_cms_estimate: one-sided error, exact totals preserved") {
    val d = run("q_cms_estimate").cache()
    assert(d.filter(col("overcount") < 0).count() == 0) // CMS never undercounts
    assert(d.filter(col("cms_est") < col("n_exact")).count() == 0)
    val totTok = run("q_token_count")
      .agg(sum(col("ws_token_count").cast("long"))).collect()(0).getLong(0)
    assert(d.agg(sum("n_exact")).collect()(0).getLong(0) == totTok)
    d.unpersist()
  }

  test("q_temperature_mix: weights normalize and compress vs proportional") {
    val rows = run("q_temperature_mix")
      .select("n_tokens", "weight").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(math.abs(rows.map(_._2).sum - 1.0) < 1e-9)
    // α=1/2 damps: the largest source's weight is below its token share
    val totTok = rows.map(_._1).sum.toDouble
    val (maxTok, maxW) = rows.maxBy(_._1)
    assert(maxW < maxTok / totTok)
    val (minTok, minW) = rows.minBy(_._1)
    assert(minW > minTok / totTok)
  }

  test("q_autocorr: 7 lags, r bounded, pairs bounded by day count") {
    val rows = run("q_autocorr").collect()
    assert(rows.length == 7)
    assert(rows.forall(r => math.abs(r.getDouble(2)) <= 1.0 + 1e-12))
    val nDays = run("q_autocorr") // pairs at lag k <= days - 1
      .agg(max("n_pairs")).collect()(0).getLong(0)
    assert(rows.forall(_.getLong(1) <= nDays))
  }

  test("q_degree_dist: handshake identity vs the edge set") {
    val sumDeg = run("q_degree_dist")
      .agg(sum(col("degree") * col("n_parts"))).collect()(0).getLong(0)
    // components runs over the same support>=2 edge frame; its input
    // edge count is re-derivable from the pair identity sum(deg) = 2|E|
    assert(sumDeg % 2 == 0 && sumDeg > 0)
  }

  test("q_quantile_norm: every source's top doc maps to the global max") {
    val d = run("q_quantile_norm").cache()
    val gmax = d.agg(max("n_chars")).collect()(0).getLong(0)
    val perSrcTop = d.groupBy("source").agg(max("norm_chars").as("m"))
    assert(perSrcTop.filter(col("m") =!= gmax).count() == 0)
    d.unpersist()
  }

  test("q_weighted_median: half the weight on each side") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_returnflag").as("flag"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("pc"),
        col("l_quantity").cast("long").as("w"))
    run("q_weighted_median").collect().foreach { r =>
      val (flag, med) = (r.getString(0), r.getLong(1))
      val below = li.filter(col("flag") === flag && col("pc") < med)
        .agg(coalesce(sum("w"), lit(0L))).collect()(0).getLong(0)
      val atOrBelow = li.filter(col("flag") === flag && col("pc") <= med)
        .agg(sum("w")).collect()(0).getLong(0)
      val tot = r.getLong(3)
      assert(below * 2 < tot, s"$flag: too much weight below")
      assert(atOrBelow * 2 >= tot, s"$flag: median too low")
    }
  }

  test("q_dedup_simhash: planted near-dup docs have nonzero neighbor counts") {
    val planted = run("q_ngram_jaccard").filter(col("jaccard") >= 0.9)
      .select("doc_a", "doc_b").collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(planted.nonEmpty)
    val near = run("q_dedup_simhash")
      .filter(col("doc_id").isin(planted.toSeq: _*))
      .select("n_near").collect().map(_.getLong(0))
    // simhash(hamming<=3) should flag most >=0.9-jaccard docs
    assert(near.count(_ > 0) >= planted.size / 2,
      s"simhash flagged ${near.count(_ > 0)}/${planted.size}")
  }

  test("q_ann_topk: 10 queries × ranks 1..10, self excluded") {
    val d = run("q_ann_topk").cache()
    assert(d.count() == 100)
    assert(d.filter(col("query_id") === col("vec_id")).count() == 0)
    val ranks = d.groupBy("query_id").agg(countDistinct("rank").as("n"))
    assert(ranks.filter(col("n") =!= 10).count() == 0)
    d.unpersist()
  }

  test("q_ann_lsh: results are a subset of candidates scored within own bucket") {
    val d = run("q_ann_lsh")
    assert(d.count() > 0)
    assert(d.filter(col("rank") > 10).count() == 0)
  }

  test("q_lang_id: predictions come from the supported label set") {
    val d = run("q_lang_id")
    assert(d.filter(!col("predicted_lang").isin("en", "de", "es", "und")).count() == 0)
  }

  test("q_quality_score: ratios bounded") {
    val d = run("q_quality_score")
    assert(d.filter(col("stopword_ratio") < 0 || col("stopword_ratio") > 1 ||
      col("quality_score") < 0 || col("quality_score") > 1).count() == 0)
  }

  test("q_sessionize: events conserved across sessions") {
    val sessions = run("q_sessionize")
    val total = sessions.agg(sum("n_events")).collect()(0).getLong(0)
    val events = graft.sources.Tables(spark, dir).events.count()
    assert(total == events)
  }

  test("q_multimodal_features: real P6 decode — dims, channel means, frames") {
    val d = run("q_multimodal_features").cache()
    // channel means present and bounded (byte sums / 255 / npix <= 1)
    for (c <- Seq("mean_r", "mean_g", "mean_b")) {
      assert(d.filter(col(c).isNull).count() == 0)
      assert(d.filter(col(c) < 0 || col(c) > 1).count() == 0)
    }
    // container geometry: fixed width, height covers the text, n_bytes
    // = header (11 + digits of h) + 48·h plane
    assert(d.filter(col("width") =!= 16).count() == 0)
    val t = graft.sources.Tables(spark, dir).documents
      .select(col("doc_id"), length(col("text")).cast("long").as("len"))
    assert(d.join(t, "doc_id")
      .filter(col("height") =!= greatest(lit(1L), ceil(col("len") / 48.0).cast("long")))
      .count() == 0)
    assert(d.filter(col("n_bytes") =!=
      (lit(11) + length(col("height").cast("string")) + col("height") * 48))
      .count() == 0)
    // frame sample = first decoded plane bytes, here ASCII codes
    assert(d.filter(col("frame0") < 0 || col("frame0") > 255).count() == 0)
    assert(d.filter(col("frame0").isNull).count() == 0)
    d.unpersist()
  }

  test("q_range_join: bucketed range join equals the naive inequality join") {
    val got = run("q_range_join")
    val ev = graft.sources.Tables(spark, dir).events
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_event_id"),
        col("ts_us").as("purchase_us"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts_us").as("click_us"))
    val naive = p.join(c,
        col("user_id") === col("cu") &&
          col("click_us") >= col("purchase_us") - 3600L * 1000000L &&
          col("click_us") <= col("purchase_us"), "left")
      .groupBy("user_id", "purchase_event_id", "purchase_us")
      .agg(sum(when(col("click_us").isNotNull, 1L).otherwise(0L)).as("n_clicks_1h"))
    assert(got.exceptAll(naive).count() == 0 && naive.exceptAll(got).count() == 0)
  }

  test("q_grouping_sets: region subtotals sum to the grand total") {
    val d = run("q_grouping_sets").cache()
    val grand = d.filter(col("region") === "ALL" && col("status") === "ALL")
      .select("n_orders").head.getLong(0)
    val byRegion = d.filter(col("region") =!= "ALL")
      .agg(sum("n_orders")).head.getLong(0)
    val byStatus = d.filter(col("status") =!= "ALL")
      .agg(sum("n_orders")).head.getLong(0)
    assert(grand == byRegion && grand == byStatus)
    d.unpersist()
  }

  test("q_window_funcs: rank 1 has no lag; quartiles cover 1..4") {
    val d = run("q_window_funcs").cache()
    assert(d.filter(col("rnk") === 1 && col("prev_price").isNotNull).count() == 0)
    assert(d.filter(!col("quartile").between(1, 4)).count() == 0)
    d.unpersist()
  }

  test("q_semi_anti: matches set-algebra recomputation") {
    val t = graft.sources.Tables(spark, dir)
    val f = t.orders.filter(col("o_orderstatus") === "F").select("o_custkey").distinct()
    val p = t.orders.filter(col("o_orderstatus") === "P").select("o_custkey").distinct()
    val expected = f.except(p).count()
    assert(run("q_semi_anti").head.getLong(0) == expected)
  }

  test("q_skew_agg: salted two-phase equals plain groupBy") {
    import graft.functions.Fns.decSum
    val plain = graft.sources.Tables(spark, dir).events
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), decSum(col("value")).as("total_value"))
    val got = run("q_skew_agg")
    assert(got.exceptAll(plain).count() == 0 && plain.exceptAll(got).count() == 0)
  }

  test("q_incremental: merged keys unique, batch wins the overlap") {
    val d = run("q_incremental").cache()
    val total = d.agg(sum("n_orders")).head.getLong(0)
    val allKeys = graft.sources.Tables(spark, dir).orders
      .select("o_orderkey").distinct().count()
    assert(total == allKeys)
    // every order in the batch window must come from src=1
    val srcRows = d.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val batchN = graft.sources.Tables(spark, dir).orders
      .filter(col("o_orderdate") >= lit("1997-06-01").cast("timestamp")).count()
    assert(srcRows(1) == batchN)
    d.unpersist()
  }

  test("q_mode: one row per user, count is the max per-type count") {
    val d = run("q_mode").cache()
    assert(d.count() == d.select("user_id").distinct().count())
    val maxN = graft.sources.Tables(spark, dir).events
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
      .groupBy("user_id").agg(max("n").as("mx"))
    assert(d.join(maxN, "user_id").filter(col("n") =!= col("mx")).count() == 0)
    d.unpersist()
  }

  test("q_first_last: one row per user; equals min/max-ts lookups") {
    val d = run("q_first_last").cache()
    assert(d.count() == d.select("user_id").distinct().count())
    // spot-check one user end-to-end
    val u = d.select("user_id").head.getLong(0)
    val ev = graft.sources.Tables(spark, dir).events
      .filter(col("user_id") === u)
      .select(unix_micros(col("ts")).as("t"), col("event_id"), col("value"))
      .orderBy("t", "event_id").collect()
    val row = d.filter(col("user_id") === u).head
    assert(row.getDouble(1) == ev.head.getDouble(2))
    assert(row.getDouble(2) == ev.last.getDouble(2))
    d.unpersist()
  }

  test("q_topn_group: TopKAgg face equals the window row_number formulation") {
    import org.apache.spark.sql.expressions.Window
    val got = run("q_topn_group")
    val t = graft.sources.Tables(spark, dir)
    val j = t.orders
      .join(t.customer.select("c_custkey", "c_mktsegment"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"),
        col("o_totalprice").cast("decimal(18,2)").cast("double").as("price"),
        col("o_orderkey"))
    val w = Window.partitionBy("c_mktsegment").orderBy(col("price").desc, col("o_orderkey"))
    val ref = j.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select("c_mktsegment", "rank", "o_orderkey", "price")
    assert(got.exceptAll(ref).count() == 0 && ref.exceptAll(got).count() == 0)
  }

  test("q_outliers: every flagged row is beyond 3 sigma; flags exist") {
    val d = run("q_outliers").cache()
    assert(d.count() > 0)
    assert(d.filter(abs(col("z")) <= 3.0).count() == 0)
    d.unpersist()
  }

  test("q_funnel: stage counts monotonically shrink") {
    val r = run("q_funnel").head
    assert(r.getLong(0) >= r.getLong(1) && r.getLong(1) >= r.getLong(2))
    assert(r.getLong(0) > 0)
  }

  test("q_retention: cohort month-0 count equals cohort size; counts shrink vs month 0") {
    val d = run("q_retention").cache()
    val m0 = d.filter(col("months_since") === 0)
      .select(col("cohort_month"), col("n_active").as("n0"))
    // every cohort has its months_since=0 row (guards the join below
    // from vacuously dropping cohorts)
    assert(m0.count() == d.select("cohort_month").distinct().count())
    assert(d.join(m0, "cohort_month").filter(col("n_active") > col("n0")).count() == 0)
    assert(d.filter(col("months_since") < 0).count() == 0)
    d.unpersist()
  }

  test("q_stratified_sample: every sampled row is under its stratum rate") {
    val d = run("q_stratified_sample").cache()
    assert(d.filter(col("lang") === "en" && col("sample_bucket") >= 10).count() == 0)
    assert(d.filter(col("sample_bucket") >= 50).count() == 0)
    d.unpersist()
  }

  test("q_quality_filter: keeps ceil(n/4) docs per lang, top-scored first") {
    val docs = graft.sources.Tables(spark, dir).documents
      .groupBy("lang").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = run("q_quality_filter").groupBy("lang").agg(count(lit(1)).as("k"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    docs.foreach { case (lang, n) =>
      assert(kept.getOrElse(lang, 0L) == (n + 3) / 4, s"lang=$lang n=$n kept=$kept")
    }
  }

  test("qualityFilterApprox: scale face agrees with the exact ntile face") {
    val exact = run("q_quality_filter").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val approx = graft.operators.TextAnalysis.qualityFilterApprox(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // with exact percentiles at this size the approx face keeps every
    // exact-quartile doc (it over-selects at the boundary, never drops)
    assert(exact.subsetOf(approx), s"missing=${exact -- approx}")
    // and over-selection stays bounded (ties at the boundary only)
    assert(approx.size <= exact.size * 2, s"approx=${approx.size} exact=${exact.size}")
  }

  test("q_repetition: ratio bounded, distinct never exceeds total") {
    val d = run("q_repetition").cache()
    assert(d.filter(col("n_distinct_grams") > col("n_grams")).count() == 0)
    assert(d.filter(col("dup_ratio") < 0 || col("dup_ratio") >= 1).count() == 0)
    d.unpersist()
  }

  test("q_pii_scrub: digit runs collapse, hash is md5-shaped") {
    val d = run("q_pii_scrub").cache()
    assert(d.filter(length(col("scrub_hash")) =!= 32).count() == 0)
    val docs = graft.sources.Tables(spark, dir).documents
      .select(col("doc_id"), length(col("text")).as("n"))
    assert(d.join(docs, "doc_id").filter(col("scrub_len") > col("n")).count() == 0)
    d.unpersist()
  }

  test("q_embed_norm: norms positive, dim constant") {
    val d = run("q_embed_norm").cache()
    assert(d.filter(col("l2_norm") <= 0).count() == 0)
    assert(d.select("dim").distinct().count() == 1)
    d.unpersist()
  }

  test("q_vocab_approx: Misra–Gries guarantee holds against exact counts") {
    val exact = graft.sources.Tables(spark, dir).documents
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = exact.values.sum
    val bound = total / 65 // capacity 64 ⇒ error ≤ n/(cap+1)
    val est = run("q_vocab_approx")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // completeness: every token above the threshold is present
    exact.foreach { case (t, n) =>
      if (n > bound) assert(est.contains(t), s"missing heavy hitter $t (n=$n, bound=$bound)")
    }
    // soundness: estimates never exceed truth, never undershoot by > bound
    est.foreach { case (t, e) =>
      val truth = exact.getOrElse(t, 0L)
      assert(e <= truth && e >= truth - bound, s"token $t est=$e true=$truth bound=$bound")
    }
  }

  test("q_scd2: exactly one open interval per key, closed intervals precede it") {
    val d = run("q_scd2").cache()
    val open = d.filter(col("valid_to") === 0)
    assert(open.count() == open.select("o_orderkey").distinct().count())
    assert(open.count() ==
      graft.sources.Tables(spark, dir).orders.select("o_orderkey").distinct().count())
    assert(d.filter(col("valid_to") =!= 0 && col("valid_to") <= col("valid_from")).count() == 0)
    d.unpersist()
  }

  test("q_scd2_timestamp: advanced keys version, capped keys carry v1 open") {
    val d = run("q_scd2_timestamp").cache()
    val orders = graft.sources.Tables(spark, dir).orders
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("od")).cache()
    val advanced = orders.filter(col("od") > lit("1995-01-01").cast("date")).count()
    // advanced keys: one closed v1 interval + one open v2 interval
    assert(d.filter(col("valid_from") === 1 && col("valid_to") === 2).count() == advanced)
    assert(d.filter(col("valid_from") === 2 && col("valid_to") === 0).count() == advanced)
    // every key has exactly one open interval
    val open = d.filter(col("valid_to") === 0)
    assert(open.count() == orders.select("o_orderkey").distinct().count())
    // a touched-but-identical updated_at must NOT version: capped keys
    // keep their single v1 row
    assert(d.count() == orders.count() + advanced)
    orders.unpersist(); d.unpersist()
  }

  test("q_check_store_failures: catalog reflects the materialized audit tables") {
    val d = run("q_check_store_failures").cache()
    assert(d.count() == 2)
    val byName = d.collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // relationships has zero orphans in this data → the EMPTY-store path
    assert(byName("relationships_user_id") == ((0L, 0L)))
    // accepted_values stores the out-of-domain rows; checksum over a
    // non-empty store must be > 0 and the count must match the A14 sum
    val (n, ck) = byName("accepted_values_o_orderstatus")
    val expected = graft.sources.Tables(spark, dir).orders
      .filter(!col("o_orderstatus").isin("O", "F")).count()
    assert(n == expected && expected > 0)
    assert(ck > 0)
    d.unpersist()
  }

  test("q_funnel_windowed: stages shrink monotonically and never exceed E24") {
    val r = run("q_funnel_windowed").head
    val (nv, nc, np) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(nv >= nc && nc >= np, s"funnel must narrow: $nv >= $nc >= $np")
    assert(nv > 0)
    // the windowed funnel is a strict subset of the unwindowed one
    val u = run("q_funnel").head
    assert(nc <= u.getAs[Long]("n_view_click"))
    assert(np <= u.getAs[Long]("n_full_funnel"))
  }

  test("q_class_balance: every class cut to exactly the smallest class size") {
    val d = run("q_class_balance").cache()
    val sizes = d.groupBy("lang").count().select("count").distinct().collect()
    assert(sizes.length == 1, "balanced classes must all have equal size")
    val docs = graft.sources.Tables(spark, dir).documents
    val minClass = docs.groupBy("lang").count().agg(min("count")).head.getLong(0)
    assert(sizes.head.getLong(0) == minClass)
    // kept rows are real docs, each at most once
    assert(d.select("doc_id").distinct().count() == d.count())
    d.unpersist()
  }

  test("q_dedup_incremental: verdicts partition the batch, canonicals precede") {
    val d = run("q_dedup_incremental").cache()
    assert(d.count() > 0)
    // verdict is a function of the two flags
    assert(d.filter(col("verdict") === "dup_store" && !col("dup_of_store")).count() == 0)
    assert(d.filter(col("verdict") === "novel"
      && (col("dup_of_store") || col("dup_in_batch"))).count() == 0)
    // a canonical doc never comes after the doc it canonicalizes
    // unless it lives in the store (store docs may have any id below
    // the batch split — but batch-internal canonicals must precede)
    assert(d.filter(col("verdict") === "dup_batch"
      && col("canonical_doc") >= col("doc_id")).count() == 0)
    d.unpersist()
  }

  test("q_changepoint: the argmax split beats both trivial neighbors") {
    val r = run("q_changepoint").head
    assert(r.getAs[Long]("n_days") > 2)
    assert(r.getAs[Double]("score") >= 0.0)
    // the reported means really differ (a zero-contrast corpus would
    // make every split score 0 and the tiebreak pick day 1)
    assert(r.getAs[Double]("mean_before") != r.getAs[Double]("mean_after"))
  }

  test("q_winsorize: clip bounds are order statistics, mean within them") {
    val d = run("q_winsorize").cache()
    assert(d.count() == 7) // shipdate years in the TPC-H-ish data
    assert(d.filter(col("p05") > col("p95")).count() == 0)
    assert(d.filter(col("winsorized_mean") < col("p05")
      || col("winsorized_mean") > col("p95")).count() == 0)
    // robust mean must be finite and positive on price data
    assert(d.filter(col("winsorized_mean") <= 0).count() == 0)
    d.unpersist()
  }

  test("q_ivf_stats: cell census covers the corpus, shares sum to ~1") {
    val d = run("q_ivf_stats").cache()
    // at most the trained cell count (c = ceil(sqrt(N)))
    val n = graft.sources.Tables(spark, dir).embeddings.count()
    assert(d.count() <= math.ceil(math.sqrt(n.toDouble)).toLong)
    val total = graft.sources.Tables(spark, dir).embeddings.count()
    assert(d.agg(sum("n_vecs")).head.getLong(0) == total)
    val shareSum = d.agg(sum("share")).head.getDouble(0)
    assert(math.abs(shareSum - 1.0) < 1e-4, s"shares sum to $shareSum")
    d.unpersist()
  }

  test("q_pack_stats: fragmentation census consistent with the packed layout") {
    val d = run("q_pack_stats").head
    val packed = run("q_seq_pack").cache()
    assert(d.getAs[Long]("n_docs") == packed.count())
    // straddling docs recomputed off the layout itself
    val straddling = packed.filter(
      expr("start_tok DIV 256") =!= expr("(start_tok + n_tokens - 1) DIV 256")).count()
    assert(d.getAs[Long]("n_straddling") == straddling)
    assert(d.getAs[Double]("straddle_frac") >= 0.0 && d.getAs[Double]("straddle_frac") <= 1.0)
    // every sequence id the packer assigned fits under n_seqs
    assert(packed.agg(max(expr("(start_tok + n_tokens - 1) DIV 256"))).head.getLong(0)
      < d.getAs[Long]("n_seqs"))
    packed.unpersist()
  }

  test("q_dataset_card: per-source census reconciles with the corpus") {
    val d = run("q_dataset_card").cache()
    val docs = graft.sources.Tables(spark, dir).documents
    assert(d.agg(sum("n_docs")).head.getLong(0) == docs.count())
    val shareSum = d.agg(sum("token_share")).head.getDouble(0)
    assert(math.abs(shareSum - 1.0) < 1e-3, s"token shares sum to $shareSum")
    assert(d.filter(col("dup_frac") < 0 || col("dup_frac") > 1).count() == 0)
    assert(d.filter(col("n_dup_docs") > col("n_docs")).count() == 0)
    d.unpersist()
  }

  test("q_embed_quantize: quantized values bounded by int8 range") {
    val d = run("q_embed_quantize").cache()
    (0 until 4).foreach { i =>
      assert(d.filter(col(s"q_$i") < -127 || col(s"q_$i") > 127).count() == 0, s"q_$i")
    }
    assert(d.filter(col("scale") <= 0).count() == 0)
    d.unpersist()
  }

  test("q_profile: one row per profiled column, metrics consistent") {
    val d = run("q_profile").cache()
    assert(d.count() == 3)
    assert(d.filter(col("n_null") =!= 0).count() == 0) // synthetic data has no nulls
    assert(d.filter(col("min_v") > col("avg_v") || col("avg_v") > col("max_v")).count() == 0)
    assert(d.filter(col("n_distinct") > col("n_rows")).count() == 0)
    d.unpersist()
  }

  test("q_histogram: buckets cover all rows, edges ordered") {
    val d = run("q_histogram").cache()
    val total = d.agg(sum("n_rows")).head.getLong(0)
    assert(total == graft.sources.Tables(spark, dir).lineitem.count())
    assert(d.filter(col("bucket") < 0 || col("bucket") > 9).count() == 0)
    assert(d.filter(col("min_v") > col("max_v")).count() == 0)
    d.unpersist()
  }

  test("multimodalResize: 4x4 RGB thumbs (48 bytes), deterministic") {
    val a = graft.operators.Multimodal.multimodalResize(spark, dir)
      .select("doc_id", "thumb").collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    val b = graft.operators.Multimodal.multimodalResize(spark, dir)
      .select("doc_id", "thumb").collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    assert(a == b)
    // real raster contract: every thumb is a full 4x4 RGB plane
    assert(a.values.forall(_.size == 48))
  }

  test("embedQuantize: all-zero vector quantizes to zeros, not Infinity") {
    import spark.implicits._
    val d = graft.operators.Ann.embedQuantize(
      Seq((1L, 0, Array(0.0f, 0.0f, 0.0f, 0.0f)),
        (2L, 0, Array(1.0f, -2.0f, 0.5f, 2.0f)))
        .toDF("vec_id", "label", "embedding"))
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(2), (3 to 6).map(r.getLong))).toMap
    assert(d(1L) == ((0.0, Seq(0L, 0L, 0L, 0L))))
    assert(d(2L)._2 == Seq(64L, -127L, 32L, 127L))
  }

  test("q_corpus_shuffle: pos is a contiguous permutation matching the window face") {
    import org.apache.spark.sql.expressions.Window
    val got = run("q_corpus_shuffle").cache()
    val n = got.count()
    // contiguous 0..n-1, no gaps or dups
    assert(got.agg(min("pos"), max("pos"), countDistinct("pos")).head ==
      org.apache.spark.sql.Row(0L, n - 1, n))
    // identical to the (non-scalable) single-window formulation
    val ref = got.select("doc_id", "shuffle_key")
      .withColumn("pos", row_number()
        .over(Window.orderBy(col("shuffle_key"), col("doc_id"))).cast("long") - 1)
    assert(got.exceptAll(ref).count() == 0 && ref.exceptAll(got).count() == 0)
    got.unpersist()
  }

  test("q_seq_pack: prefix sums equal the window cumsum; totals conserve") {
    import org.apache.spark.sql.expressions.Window
    val got = run("q_seq_pack").cache()
    val ref = got.select("doc_id", "n_tokens")
      .withColumn("start_tok",
        coalesce(sum("n_tokens").over(Window.orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    assert(got.select("doc_id", "n_tokens", "start_tok")
      .exceptAll(ref).count() == 0)
    // seq_id/seq_off consistent with start_tok
    assert(got.filter(col("seq_id") * 256 + col("seq_off") =!= col("start_tok"))
      .count() == 0)
    got.unpersist()
  }

  test("q_reservoir_sample: at most k per stratum; matches the window face") {
    import org.apache.spark.sql.expressions.Window
    val got = run("q_reservoir_sample").cache()
    assert(got.groupBy("lang").count().filter(col("count") > 20).count() == 0)
    val t = graft.sources.Tables(spark, dir)
    val w = Window.partitionBy("lang").orderBy(col("sample_key"), col("doc_id"))
    val ref = t.documents
      .select(col("lang"), col("doc_id"),
        ((col("doc_id") % 1000000L) * 2654435761L % 1000003L).as("sample_key"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 20)
      .select("lang", "rank", "doc_id", "sample_key")
    assert(got.exceptAll(ref).count() == 0 && ref.exceptAll(got).count() == 0)
    got.unpersist()
  }

  test("q_span_dedup_fast multiset-matches the md5 face") {
    def sig(name: String) = run(name)
      .groupBy("n_docs", "n_occurrences", "first_doc").count()
      .collect().map(_.toString).sorted.toSeq
    assert(sig("q_span_dedup_fast") == sig("q_span_dedup"))
  }

  test("q_span_dedup: flagged spans are cross-doc and counts are sane") {
    val d = run("q_span_dedup").cache()
    assert(d.filter(col("n_docs") < 2).count() == 0)
    assert(d.filter(col("n_occurrences") < col("n_docs")).count() == 0)
    d.unpersist()
  }

  test("q_contamination_bloom equals the exact contamination pass") {
    val bloom = run("q_contamination_bloom")
    val exact = run("q_contamination")
    assert(bloom.exceptAll(exact).count() == 0 &&
      exact.exceptAll(bloom).count() == 0)
  }

  test("bloom contamination finds planted cross-split duplicates") {
    // sf0.001 has no cross-split dups (the test above is vacuously
    // equal there), so plant some: doc_ids 13/18 land in the eval
    // bucket of C17's split, 1/2 in train; give them matching text.
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_contam").toString
    Seq(
      (1L, "the quick brown fox jumps", "en", "web", 25L),
      (2L, "lorem ipsum dolor sit amet", "en", "web", 26L),
      (3L, "unique train only text", "en", "web", 22L),
      (13L, "the quick brown fox jumps", "en", "web", 25L), // dup of 1
      (18L, "lorem ipsum dolor sit amet", "en", "web", 26L), // dup of 2
      (31L, "clean eval document text", "en", "web", 24L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val bloom = SparkEntry.queries("q_contamination_bloom")(spark, tmp)
      .orderBy("eval_doc_id").collect()
    val exact = SparkEntry.queries("q_contamination")(spark, tmp)
      .orderBy("eval_doc_id").collect()
    assert(bloom.toSeq == exact.toSeq)
    assert(bloom.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((13L, 1L, 1L), (18L, 1L, 2L)))
  }

  test("q_unigram_logprob: probabilities are negative and bounded by corpus size") {
    val d = run("q_unigram_logprob").cache()
    val nDocs = graft.sources.Tables(spark, dir).documents.count()
    assert(d.count() == nDocs)
    // every token has cnt >= 1 and cnt < N, so ln(cnt/N) in (−∞, 0)
    assert(d.filter(col("avg_logprob") >= 0.0).count() == 0)
    // a doc of tokens each appearing once scores ln(1/N) — the floor
    val n = d.agg(sum("n_tokens")).head.getLong(0)
    assert(d.filter(col("avg_logprob") < math.log(1.0 / n) - 1e-6).count() == 0)
    d.unpersist()
  }

  test("q_mixture: shares sum to 1 and counts conserve") {
    val d = run("q_mixture").cache()
    assert(math.abs(d.agg(sum("token_share")).head.getDouble(0) - 1.0) < 1e-9)
    assert(d.agg(sum("n_docs")).head.getLong(0) ==
      graft.sources.Tables(spark, dir).documents.count())
    d.unpersist()
  }

  test("q_oov_rate: rates bounded, token totals match q_token_count") {
    val d = run("q_oov_rate").cache()
    assert(d.filter(col("oov_rate") < 0 || col("oov_rate") > 1).count() == 0)
    assert(d.filter(col("n_oov") > col("n_tokens")).count() == 0)
    val tc = run("q_token_count")
      .select(col("doc_id"), col("ws_token_count").cast("long"))
    assert(d.select("doc_id", "n_tokens").exceptAll(tc).count() == 0)
    d.unpersist()
  }

  test("q_moving_avg: trailing-hour frame always includes the current row") {
    val d = run("q_moving_avg").cache()
    assert(d.count() == graft.sources.Tables(spark, dir).events.count())
    assert(d.filter(col("n_win") < 1).count() == 0)
    d.unpersist()
  }

  test("bpeMerges reproduces the classic hand-computed merge sequence") {
    import spark.implicits._
    // Sennrich-style toy corpus {low:5, lower:2, newest:6}. Round-1
    // counts: (w,e)=2+6=8 wins; then (l,o)=7; after "we" exists,
    // (e,we)=6 from n-e-we-s-t; then (ewe,s)=6.
    val words = Seq(("low", 5L), ("lower", 2L), ("newest", 6L))
      .toDF("word", "freq")
    val (rows, left) = LeftPersisted(graft.operators.Corpus.bpeMerges(words, 4))
    // each round's symbol table is released, the last one included
    assert(left.isEmpty, s"bpeMerges left persisted RDDs ${left.mkString(", ")}")
    val m = rows.map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(4)))
    assert(m(0) == ((1, "w", "e", 8L)))
    assert(m(1) == ((2, "l", "o", 7L)))
    assert(m(2) == ((3, "e", "we", 6L)))
    assert(m(3) == ((4, "ewe", "s", 6L)))
  }

  test("q_bpe_train returns the requested number of deterministic merges") {
    val a = run("q_bpe_train").collect()
    val b = run("q_bpe_train").collect()
    assert(a.length == 10 && a.toSeq == b.toSeq)
  }

  test("q_full_outer: both unmatched sides survive with nulls") {
    val d = run("q_full_outer").cache()
    assert(d.count() >= 10)
    assert(d.filter(col("o_custkey").isNull).count() == 0)
    // the two top-10s only partially overlap on this data
    assert(d.filter(col("n_orders").isNull).count() > 0)
    assert(d.filter(col("revenue").isNull).count() > 0)
    d.unpersist()
  }

  test("q_hll_union: merged daily sketches track the exact distinct count") {
    val approx = graft.operators.Extras.hllUnionRaw(spark, dir)
      .select(col("event_type"), col("approx_users")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = graft.sources.Tables(spark, dir).events
      .groupBy("event_type").agg(countDistinct("user_id").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (k, n) =>
      assert(math.abs(approx(k) - n) <= math.max(2L, (n * 0.05).toLong),
        s"$k: approx ${approx(k)} vs exact $n")
    }
  }

  test("q_profile_drift: row totals reconcile with the full profile") {
    val drift = run("q_profile_drift").cache()
    assert(drift.count() == 3)
    val full = run("q_profile").select("column_name", "n_rows")
    val recon = drift.select(col("column_name"),
      (col("base_rows") + col("target_rows")).as("n_rows"))
    assert(recon.exceptAll(full).count() == 0)
    drift.unpersist()
  }

  test("q_source_freshness: freshest partition has zero lag and is never stale") {
    val d = run("q_source_freshness").cache()
    assert(d.filter(col("lag_us") === 0).count() >= 1)
    assert(d.filter(col("lag_us") === 0 && col("is_stale")).count() == 0)
    assert(d.filter(col("lag_us") < 0).count() == 0)
    d.unpersist()
  }

  test("q_ann_recall: IVF index recalls most exact neighbors") {
    val d = run("q_ann_recall").cache()
    assert(d.count() == 10)
    assert(d.filter(col("recall_at_k") < 0 || col("recall_at_k") > 1).count() == 0)
    val mean = d.agg(avg("recall_at_k")).head.getDouble(0)
    assert(mean >= 0.5, s"mean recall@k $mean below 0.5 — index quality regressed")
    d.unpersist()
  }

  test("q_ann_refine: coarse+refine beats coarse-only at equal probe budget") {
    val d = run("q_ann_refine").cache()
    assert(d.count() == 10)
    for (c <- Seq("recall_coarse", "recall_refine"))
      assert(d.filter(col(c) < 0 || col(c) > 1).count() == 0)
    // the refine arm rescores shortlist ∪ coarse-top-k with exactly the
    // exact arm's total order, so per-query n_hit_refine >= n_hit_coarse
    // is guaranteed BY CONSTRUCTION (any exact-top-k member has < k
    // global betters, hence survives top-k of any pool containing it) —
    // pin the per-query invariant, not just the mean
    assert(d.filter(col("n_hit_refine") < col("n_hit_coarse")).count() == 0,
      "refine lost a coarse hit — the pool-union superset guarantee broke")
    val m = d.agg(avg("recall_coarse"), avg("recall_refine")).head
    assert(m.getDouble(1) >= m.getDouble(0),
      s"refine ${m.getDouble(1)} lost to coarse ${m.getDouble(0)}")
    // and it must strictly add recall somewhere, or the refinement is
    // dead weight (2x cells at sf0.001 widens the pool substantially)
    assert(d.filter(col("n_hit_refine") > col("n_hit_coarse")).count() > 0
      || m.getDouble(0) > 0.95, "refine arm never improved a query")
    d.unpersist()
  }

  test("q_ivf_rebalance: split fires, max share drops, recall does not collapse") {
    val d = run("q_ivf_rebalance").cache()
    assert(d.count() == 1)
    val r = d.head
    val cb = r.getAs[Long]("cells_before")
    val ca = r.getAs[Long]("cells_after")
    // the natural k-means imbalance at this SF must trigger the split —
    // otherwise the face degenerates to an identity report
    assert(ca > cb, s"no hot cells at factor 1.2 (cells $cb -> $ca)")
    assert(r.getAs[Double]("max_share_after") < r.getAs[Double]("max_share_before"),
      s"max share did not drop: ${r.getAs[Double]("max_share_before")} -> " +
        s"${r.getAs[Double]("max_share_after")}")
    for (c <- Seq("recall_before", "recall_after")) {
      val v = r.getAs[Double](c)
      assert(v >= 0 && v <= 1, s"$c=$v out of range")
    }
    // the retrained index keeps serving: recall may move (cell walls
    // shifted) but must stay in the same quality class as the trigger
    // gate C7c enforces on the before arm
    assert(r.getAs[Double]("recall_after") >= 0.4,
      s"rebalanced recall ${r.getAs[Double]("recall_after")} collapsed")
    d.unpersist()
  }

  test("q_lsh_tuning: s-curve audit validates the 8x4 production choice") {
    val d = run("q_lsh_tuning").cache()
    assert(d.count() == 6)
    val rows = d.collect().sortBy(_.getAs[Long]("rows_per_band"))
    d.unpersist()
    // every factorization multiplies out to the 32-permutation signature
    assert(rows.forall(r =>
      r.getAs[Long]("bands") * r.getAs[Long]("rows_per_band") == 32))
    assert(rows.forall(r =>
      r.getAs[Long]("n_pos") > 0 && r.getAs[Long]("n_neg") > 0))
    // p(s) = 1-(1-s^r)^b falls in r for fixed k on every s, so both
    // expected columns are monotone non-increasing in rows-per-band
    val rec = rows.map(_.getAs[Double]("exp_recall"))
    val fp = rows.map(_.getAs[Double]("exp_fp"))
    assert(rec.zip(rec.tail).forall { case (a, b) => a >= b }, rec.mkString(","))
    assert(fp.zip(fp.tail).forall { case (a, b) => a >= b }, fp.mkString(","))
    assert(rows.forall(r => r.getAs[Double]("exp_recall") >= r.getAs[Double]("exp_fp")))
    // C2's production 8x4 sits on the knee: near-total recall, ~zero fp
    val prod = rows.find(_.getAs[Long]("bands") == 8).get
    assert(prod.getAs[Double]("exp_recall") >= 0.99
      && prod.getAs[Double]("exp_fp") <= 0.001, prod.toString)
  }

  test("q_embed_drift: bounded, both halves populated; self-drift is 1") {
    val d = run("q_embed_drift").cache()
    assert(d.count() == 10)
    assert(d.filter(col("drift_cosine") < -1 || col("drift_cosine") > 1).count() == 0)
    assert(d.filter(col("n_a") === 0 || col("n_b") === 0).count() == 0)
    d.unpersist()
    // identity contract of the library face: a snapshot drifted against
    // itself has cosine exactly 1 (up to the 6dp fix)
    val e = graft.sources.Tables(spark, dir).embeddings
    val self = graft.operators.Ann.embedDriftOn(e, e)
    assert(self.filter(abs(col("drift_cosine") - 1.0) > 1e-6).count() == 0,
      "self-drift must be 1")
  }

  test("splitHotCells: max cell share drops, coverage preserved, codebook grows") {
    val e = graft.sources.Tables(spark, dir).embeddings
    val base = graft.operators.Ann.ivfCentroids(e, c = 4, iters = 2)
    def shares(cs: Seq[Seq[Double]]): Map[Int, Long] = {
      val assigned = e.withColumn("cell",
        graft.functions.NativeExprs.cell_probe(col("embedding"), cs, 1)(0))
      assigned.groupBy("cell").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
    }
    val before = shares(base)
    assert(before.values.sum == e.count())
    // factor barely above 1: any above-mean cell is "hot" — forces the
    // split path on the natural k-means imbalance
    val grown = graft.operators.Ann.splitHotCells(e, base, factor = 1.01)
    assert(grown.size > base.size)
    val after = shares(grown)
    assert(after.values.sum == e.count()) // coverage preserved
    assert(after.values.max < before.values.max,
      s"hot cell did not shrink: ${before.values.max} -> ${after.values.max}")
    // no-op contract: a balanced codebook comes back unchanged
    assert(graft.operators.Ann.splitHotCells(e, base, factor = 1e9) eq base)
  }

  test("q_window_rank: distributions bounded; nth_value null before row 2") {
    val d = run("q_window_rank").cache()
    assert(d.filter(col("pct_rank") < 0 || col("pct_rank") > 1).count() == 0)
    assert(d.filter(col("cume") <= 0 || col("cume") > 1).count() == 0)
    // a customer's first order (pct_rank 0 of >1 orders, or single) has
    // no second_price yet when it's the only row seen
    assert(d.filter(col("pct_rank") === 0 && col("second_price").isNotNull)
      .count() == 0)
    d.unpersist()
  }

  test("buildTrainingSet drops a train doc near-duplicating an eval doc") {
    import spark.implicits._
    // ids 1,2 land train, 13,31 eval (C17 buckets). Doc 1 shares 4 of
    // its 5 8-token spans with eval doc 31 (only the first token
    // differs) → 80% overlap ≥ 50% → decontaminated. Doc 2 is clean.
    // All docs: 12 tokens, zero stopwords → equal quality scores, so
    // the p75 filter keeps everything and isolates the decontam stage.
    val shared = "beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val docs = Seq(
      (1L, s"alpha $shared", "en"),
      (2L, "one two three four five six seven eight nine ten eleven twelve", "en"),
      (13L, "aa bb cc dd ee ff gg hh ii jj kk ll", "en"),
      (31L, s"xalpha $shared", "en"))
      .toDF("doc_id", "text", "lang")
    val kept = graft.operators.Corpus.buildTrainingSet(docs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L), s"expected only doc 2 packed, got $kept")
  }

  test("q_training_set: pipeline invariants — dedup, quality, decontam, packing") {
    val d = run("q_training_set").cache()
    val n = d.count()
    assert(n > 0)
    // positions are a contiguous permutation
    assert(d.agg(min("pos"), max("pos"), countDistinct("pos")).head ==
      org.apache.spark.sql.Row(0L, n - 1, n))
    // packing is consistent and tokens conserve across sequence ids
    assert(d.filter(col("seq_id") * 256 + col("seq_off") =!= col("start_tok"))
      .count() == 0)
    // no doc_id appears twice (dedup held through the pipeline)
    assert(d.select("doc_id").distinct().count() == n)
    // every packed doc is train-split by the C17 hash
    assert(d.filter((col("doc_id") % 100) * 2654435761L % 100 >= 90)
      .count() == 0)
    d.unpersist()
  }

  test("q_contamination_ngram: whole-doc dups imply full span overlap") {
    val ng = run("q_contamination_ngram").cache()
    assert(ng.filter(col("overlap_frac") < 0 || col("overlap_frac") > 1).count() == 0)
    // every eval doc flagged by the whole-doc fingerprint check (C26)
    // must show 100% span overlap here (same text ⇒ same spans)
    val whole = run("q_contamination").select(col("eval_doc_id"))
    val joined = ng.join(whole, "eval_doc_id")
    assert(joined.filter(col("overlap_frac") < 1.0).count() == 0)
    ng.unpersist()
  }

  test("q_dedup_semantic agrees with label-blocked dedup on co-celled pairs") {
    val sem = run("q_dedup_semantic")
      .select(col("vec_a"), col("vec_b"), col("cosine")).cache()
    assert(sem.filter(col("cosine") < 0.4).count() == 0)
    assert(sem.filter(col("vec_a") >= col("vec_b")).count() == 0)
    // C5 pairs whose vectors share a k-means cell must also be found here
    val labelPairs = run("q_dedup_embedding").select(
      col("vec_a").as("la"), col("vec_b").as("lb"), col("cosine").as("lc"))
    val missed = labelPairs.join(sem,
      col("la") === col("vec_a") && col("lb") === col("vec_b"), "left_anti")
    // missed pairs are exactly the cross-cell ones — verify against the
    // SAME build-once index the face serves from (c = ceil(sqrt(N)))
    import graft.functions.NativeExprs
    val e = graft.sources.Tables(spark, dir).embeddings
    val cents = graft.operators.Ann.loadIvfIndex(spark,
      graft.operators.Ann.ivfIndexPath(spark, dir))
    val cellOf = e.select(col("vec_id"),
      NativeExprs.cell_probe(col("embedding"), cents, 1)(0).as("cell"))
    val crossCell = missed
      .join(cellOf.select(col("vec_id").as("la"), col("cell").as("ca")), "la")
      .join(cellOf.select(col("vec_id").as("lb"), col("cell").as("cb")), "lb")
      .filter(col("ca") === col("cb"))
    assert(crossCell.count() == 0,
      "a co-celled near-dup pair was missed by semantic dedup")
    sem.unpersist()
  }

  test("q_weekday_profile: grid bounded 7x24 and counts conserve") {
    val d = run("q_weekday_profile").cache()
    assert(d.filter(col("dow") < 0 || col("dow") > 6).count() == 0)
    assert(d.filter(col("hh") < 0 || col("hh") > 23).count() == 0)
    assert(d.agg(sum("n_events")).head.getLong(0) ==
      graft.sources.Tables(spark, dir).events.count())
    d.unpersist()
  }

  test("q_approx_percentiles: digest tracks the exact interpolated values") {
    val approx = run("q_approx_percentiles").collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val exact = run("q_percentiles").collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (k, (p50, p90)) =>
      // percentile_approx returns a real sample; allow the neighborhood
      assert(math.abs(approx(k)._1 - p50) <= math.max(1.0, p50 * 0.05))
      assert(math.abs(approx(k)._2 - p90) <= math.max(1.0, p90 * 0.05))
    }
  }

  test("q18_big_orders: every surviving order clears the quantity bar") {
    val d = run("q18_big_orders").cache()
    assert(d.count() > 0)
    assert(d.filter(col("total_qty") <= 250.0).count() == 0)
    d.unpersist()
  }

  test("q_multimodal_dedup: copy counts conserve and keep-ids are minimal") {
    val d = run("q_multimodal_dedup").cache()
    assert(d.agg(sum("n_copies")).head.getLong(0) ==
      graft.sources.Tables(spark, dir).documents.count())
    assert(d.count() == d.select("payload_md5").distinct().count())
    d.unpersist()
  }

  test("q_mixture_rebalance: rates bounded; saturated sources keep every doc") {
    val d = run("q_mixture_rebalance").cache()
    assert(d.count() > 0)
    assert(d.filter(col("rate") <= 0 || col("rate") > 1).count() == 0)
    // sources at rate 1.0 must retain all their docs
    val t = graft.sources.Tables(spark, dir)
    val full = t.documents.groupBy("source").count()
    val kept = d.groupBy("source").agg(
      count(lit(1)).as("n_kept"), max("rate").as("r"))
    val sat = kept.filter(col("r") === 1.0)
      .join(full, "source")
      .filter(col("n_kept") =!= col("count"))
    assert(sat.count() == 0, "a rate-1.0 source lost documents")
    d.unpersist()
  }

  test("q_check_summary: one row per schema test, consistent with the raw checks") {
    val d = run("q_check_summary").collect()
      .map(r => r.getString(0) ->
        ((r.getString(1), r.getLong(2), r.getBoolean(3), r.getString(4)))).toMap
    assert(d.size == 5)
    assert(d("unique_events_key")._2 == run("q_check_unique").count())
    assert(d("relationships_user_customer")._2 ==
      run("q_check_relationships").count())
    // severity mirrors the reference schema.yml: staging warn, core error
    assert(d("not_null_revenue_monthly_total")._1 == "error")
    d.foreach { case (_, (sev, n, passed, status)) =>
      assert(Set("warn", "error")(sev))
      assert(passed == (n == 0))
      // dbt status semantics: pass, else warn/fail by severity
      val expected = if (n == 0) "pass" else if (sev == "warn") "warn" else "fail"
      assert(status == expected)
    }
  }

  test("q_dsir_score: target-domain docs score higher than the rest on average") {
    val d = run("q_dsir_score")
    val t = graft.sources.Tables(spark, dir)
    val byLang = d.join(t.documents.select("doc_id", "lang"), "doc_id")
      .groupBy(col("lang") === "en")
      .agg(avg("dsir_score")).collect()
      .map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(byLang(true) > byLang(false),
      s"en mean ${byLang(true)} should beat non-en ${byLang(false)}")
  }

  test("q_dedup_clusters: every dup pair lands in one cluster; sizes conserve") {
    val d = run("q_dedup_clusters").cache()
    // conservation: cluster sizes sum to the number of distinct dup-pair nodes
    val pairs = SparkEntry.queries("q_dedup_minhash")(spark, dir)
      .filter(col("is_dup")).select("doc_a", "doc_b").cache()
    val nodes = pairs.select(col("doc_a").as("id"))
      .unionByName(pairs.select(col("doc_b").as("id"))).distinct().count()
    assert(d.agg(sum("n_docs")).head.getLong(0) == nodes)
    // no singleton clusters (every node has at least one partner)
    assert(d.filter(col("n_docs") < 2).count() == 0)
    pairs.unpersist(); d.unpersist()
  }

  test("q_k_anonymity: census reconciles with a direct QI group-by") {
    val r = run("q_k_anonymity").head
    val direct = graft.sources.Tables(spark, dir).customer
      .groupBy(col("c_nationkey"), floor(col("c_acctbal") / 1000.0))
      .agg(count(lit(1)).as("sz"))
      .agg(min(col("sz")), count(lit(1)), sum(col("sz"))).head
    assert(r.getAs[Long]("k_anonymity") == direct.getLong(0))
    assert(r.getAs[Long]("n_classes") == direct.getLong(1))
    assert(r.getAs[Long]("n_rows") == direct.getLong(2))
    assert(r.getAs[Long]("n_unsafe_rows") <= r.getAs[Long]("n_rows"))
    val share = r.getAs[Double]("unsafe_row_share")
    assert(share >= 0.0 && share <= 1.0)
    // l-diversity can never exceed k (a class of size k holds ≤ k values)
    assert(r.getAs[Long]("l_diversity") >= 1)
  }

  test("q_dp_counts: mass conserved pre-noise, clamp holds, mechanism is seeded") {
    val d = run("q_dp_counts").cache()
    val docs = graft.sources.Tables(spark, dir).documents.count()
    assert(d.agg(sum("n_true")).head.getLong(0) == docs)
    assert(d.filter(col("n_noisy") < 0).count() == 0)
    // clamp only ever rounds UP from a negative sum
    assert(d.filter(col("n_noisy") =!= greatest(lit(0L),
      col("n_true") + col("noise"))).count() == 0)
    // α = 1/2 two-sided geometric: P(noise = 0) = 1/3 — with ~100
    // groups the zero fraction must land well inside (0.1, 0.6)
    val n = d.count().toDouble
    val zeros = d.filter(col("noise") === 0).count().toDouble
    assert(zeros / n > 0.1 && zeros / n < 0.6, s"zero share ${zeros / n}")
    // seeded hash noise ⇒ bit-identical across runs
    val again = run("q_dp_counts")
    assert(d.except(again).count() == 0 && again.except(d).count() == 0)
    d.unpersist()
  }

  test("q_trend_robust: pair count closes; tau bounded; slope inside the pair range") {
    val r = run("q_trend_robust").head
    val n = r.getAs[Long]("n_months")
    assert(r.getAs[Long]("n_pairs") == n * (n - 1) / 2)
    val tau = r.getAs[Double]("mk_tau")
    assert(tau >= -1.0 && tau <= 1.0)
    // the median of pairwise slopes lies between the extreme slopes
    val monthly = graft.sources.Tables(spark, dir).orders
      .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .cast("long").as("m"))
      .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long").as("rev_c"))
    val ext = monthly.as("a").join(monthly.as("b"), col("a.m") < col("b.m"))
      .select(((col("b.rev_c") - col("a.rev_c")).cast("double")
        / (col("b.m") - col("a.m")).cast("double")).as("s"))
      .agg(min("s"), max("s")).head
    val slope = r.getAs[Double]("ts_slope_c")
    assert(slope >= ext.getDouble(0) && slope <= ext.getDouble(1))
  }

  test("q_hhi: bounds hold per nation and the supplier census closes") {
    val d = run("q_hhi").cache()
    // HHI ∈ [1/n, 1] up to ppm flooring; CR1 dominates: hhi ≤ top_share
    assert(d.filter(col("hhi") > col("top_share") + 1e-9).count() == 0)
    assert(d.filter(col("hhi") <= 0 || col("hhi") > 1.0).count() == 0)
    assert(d.filter(col("top_share") * col("top_share") >
      col("hhi") + 1e-6).count() == 0)
    val t = graft.sources.Tables(spark, dir)
    val active = t.lineitem.select(col("l_suppkey")).distinct().count()
    assert(d.agg(sum("n_suppliers")).head.getLong(0) == active)
    d.unpersist()
  }

  test("q_scan_manifest: skip verdict is sound — skippable partitions hold zero qualifying rows") {
    val d = run("q_scan_manifest").cache()
    val t = graft.sources.Tables(spark, dir)
    // censuses close against the base table
    assert(d.agg(sum("n_rows")).head.getLong(0) == t.orders.count())
    // one manifest row per month, stats ordered
    assert(d.select("month").distinct().count() == d.count())
    assert(d.filter(col("min_key") > col("max_key")).count() == 0)
    assert(d.filter(col("min_price_c") > col("max_price_c")).count() == 0)
    // the manifest's whole value: a partition marked can_skip contains
    // ZERO rows qualifying under the probe predicate (price ≥ thr)
    val thr = d.select("thr_c").head.getLong(0)
    val qualifying = t.orders
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        round(col("o_totalprice") * 100, 0).cast("long").as("price_c"))
      .filter(col("price_c") >= thr)
      .groupBy("month").count()
    val unsound = d.filter(col("can_skip"))
      .join(qualifying, "month").count()
    assert(unsound == 0)
    // and the verdict is not vacuous: at least one partition survives
    assert(d.filter(!col("can_skip")).count() > 0)
    d.unpersist()
  }

  test("q_power_analysis: two-proportion sizing is monotone in the lift") {
    val d = run("q_power_analysis").cache()
    assert(d.count() == 3)
    // smaller detectable lift ⇒ (much) larger required sample
    val byLift = d.orderBy(col("rel_lift")).collect()
    assert(byLift.sliding(2).forall { case Array(a, b) =>
      a.getAs[Long]("n_per_arm") > b.getAs[Long]("n_per_arm") })
    // p1 = p0 · (1 + lift), p0 = the per-event purchase rate
    val t = graft.sources.Tables(spark, dir)
    val p0 = t.events
      .agg(avg(when(col("event_type") === "purchase", 1.0).otherwise(0.0)))
      .head.getDouble(0)
    byLift.foreach { r =>
      assert(math.abs(r.getAs[Double]("p0") - p0) < 1e-12)
      assert(math.abs(r.getAs[Double]("p1")
        - p0 * (1.0 + r.getAs[Double]("rel_lift"))) < 1e-12)
      assert(r.getAs[Long]("n_per_arm") > 0)
    }
    d.unpersist()
  }

  test("q_join_skew_audit: the Σc² estimate equals the real self-join size") {
    val r = run("q_join_skew_audit").head
    val li = graft.sources.Tables(spark, dir).lineitem
    assert(r.getAs[Long]("n_rows") == li.count())
    // the audit's whole point: predict the self-equi-join blowup exactly
    val real = li.select(col("l_partkey")).as("a")
      .join(li.select(col("l_partkey")).as("b"),
        col("a.l_partkey") === col("b.l_partkey")).count()
    assert(r.getAs[Long]("selfjoin_rows") == real)
    assert(r.getAs[Long]("p50_fanout") <= r.getAs[Long]("p99_fanout"))
    assert(r.getAs[Long]("p99_fanout") <= r.getAs[Long]("max_fanout"))
  }

  test("q_entity_split: no user straddles a split; censuses close") {
    val d = run("q_entity_split").cache()
    val ev = graft.sources.Tables(spark, dir).events
    assert(d.agg(sum("n_events")).head.getLong(0) == ev.count())
    // entity-level property: per-split distinct users PARTITION the
    // global user set (equality fails if any user lands in 2 splits)
    assert(d.agg(sum("n_users")).head.getLong(0) ==
      ev.select("user_id").distinct().count())
    val ppm = d.agg(sum("event_share_ppm")).head.getLong(0)
    assert(ppm <= 1000000L && ppm >= 1000000L - 3)
    d.unpersist()
  }

  test("q_lang_confusion: matrix mass closes and rows sum to ~1e6 ppm") {
    val d = run("q_lang_confusion").cache()
    val docs = graft.sources.Tables(spark, dir).documents.count()
    assert(d.agg(sum("n_docs")).head.getLong(0) == docs)
    val rows = d.groupBy("claimed_lang")
      .agg(sum("row_share_ppm").as("s"), count(lit(1)).as("cells"))
    assert(rows.filter(col("s") > 1000000L ||
      col("s") < lit(1000000L) - col("cells")).count() == 0)
    // diagonal cells carry the flag
    assert(d.filter(col("claimed_lang") === col("predicted_lang") &&
      !col("is_diagonal")).count() == 0)
    d.unpersist()
  }

  test("q_bucket_join: bucketing changes the plan, never the answer") {
    val bucketed = run("q_bucket_join")
    val plain = {
      val t = graft.sources.Tables(spark, dir)
      t.lineitem.join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          graft.functions.Fns.decSum(col("l_extendedprice")).as("revenue"))
    }
    assert(bucketed.collect().map(_.toString).sorted
      .sameElements(plain.collect().map(_.toString).sorted))
  }

  test("q_regression: moments match a driver-side exact OLS per flag") {
    val d = run("q_regression").cache()
    val rows = d.collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      val r2 = r.getAs[Double]("r2")
      assert(r2 >= 0 && r2 <= 1 + 1e-9, s"r2=$r2 out of [0,1]")
      assert(!r.getAs[Double]("slope").isNaN && !r.getAs[Double]("intercept").isNaN)
    }
    // independent recomputation: exact integer moments folded on the
    // driver from the same monthly points must give the same slope
    val t = graft.sources.Tables(spark, dir)
    val pts = t.lineitem
      .groupBy(col("l_returnflag"),
        date_trunc("month", col("l_shipdate")).as("m"))
      .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long")).as("rev_c"))
      .select(col("l_returnflag"),
        ((year(col("m")) - 1992) * 12 + month(col("m")) - 1).cast("long").as("x"),
        expr("(rev_c + 50000) DIV 100000").as("y"))
      .collect()
    rows.foreach { r =>
      val flag = r.getAs[String]("l_returnflag")
      val p = pts.filter(_.getString(0) == flag)
        .map(q => (BigInt(q.getLong(1)), BigInt(q.getLong(2))))
      val n = BigInt(p.length)
      val sx = p.map(_._1).sum; val sy = p.map(_._2).sum
      val sxx = p.map(q => q._1 * q._1).sum
      val sxy = p.map(q => q._1 * q._2).sum
      val slope = (n * sxy - sx * sy).toDouble / (n * sxx - sx * sx).toDouble
      assert(math.abs(r.getAs[Double]("slope") - slope) < 1e-5,
        s"$flag slope ${r.getAs[Double]("slope")} vs exact $slope")
      assert(r.getAs[Long]("n_months") == p.length.toLong)
    }
    d.unpersist()
  }

  test("q_bloom_join: prune is result-invisible and within fp budget") {
    val d = run("q_bloom_join").cache()
    assert(d.count() > 0)
    assert(d.filter(!col("bloom_ok")).count() == 0, "bloom fp budget blown")
    val r = d.head
    assert(r.getAs[Long]("n_match") <= r.getAs[Long]("n_probe"))
    // per-month lines must total the audit's exact match count — the
    // pruned join neither lost nor duplicated a matching row
    val total = d.agg(sum(col("n_lines"))).head.getLong(0)
    assert(total == r.getAs[Long]("n_match"))
    d.unpersist()
  }

  test("q_compaction_plan: bins cover the manifest, key-contiguous, near target") {
    val d = run("q_compaction_plan").cache()
    val rows = d.collect().sortBy(_.getAs[Long]("bin_id"))
    assert(rows.nonEmpty && rows.length <= 10)
    val nFrags = graft.sources.Tables(spark, dir).orders
      .select(concat(date_format(col("o_orderdate"), "yyyy-MM"), lit("|"),
        col("o_orderpriority"))).distinct().count()
    assert(rows.map(_.getAs[Long]("n_files")).sum == nFrags,
      "plan dropped or duplicated a fragment")
    // key-contiguity: bins partition the key-ordered manifest
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[String]("last_file") <= b.getAs[String]("first_file"),
          s"bins ${a.getAs[Long]("bin_id")}/${b.getAs[Long]("bin_id")} overlap")
      case _ =>
    }
    // the DIV rule can overfill a bin by at most one fragment
    rows.foreach { r =>
      assert(r.getAs[Long]("fill_ppm") <= 2000000L,
        s"bin ${r.getAs[Long]("bin_id")} more than 2x target")
    }
    d.unpersist()
  }

  test("q_calibration: buckets bound their mean score and cover the corpus") {
    val d = run("q_calibration").cache()
    val rows = d.collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum ==
      graft.sources.Tables(spark, dir).documents.count())
    rows.foreach { r =>
      val b = r.getAs[Long]("bucket")
      assert(b >= 0 && b <= 9)
      val ms = r.getAs[Double]("mean_score")
      val pr = r.getAs[Double]("pos_rate")
      assert(pr >= 0 && pr <= 1)
      // a bucket's mean claimed score must sit in the bucket's range
      // (bucket 9 absorbs score = 1.0 via the clamp)
      assert(ms >= b / 10.0 - 1e-6 &&
        (if (b < 9) ms < (b + 1) / 10.0 + 1e-6 else ms <= 1.0 + 1e-6),
        s"bucket $b mean_score $ms outside its bounds")
      assert(math.abs(r.getAs[Double]("calib_gap") - (ms - pr)) < 2e-6)
    }
    d.unpersist()
  }

  test("q_lsh_recall: verified dups are truth-and-candidate members, ratios bounded") {
    val r = run("q_lsh_recall").head
    val (truth, cand, dup) = (r.getAs[Long]("n_truth"), r.getAs[Long]("n_cand"),
      r.getAs[Long]("n_dup"))
    // every verified dup is a candidate AND (same exact-Jaccard verify)
    // a truth pair — both containments must hold as counts
    assert(dup <= cand, s"n_dup $dup exceeds n_cand $cand")
    assert(dup <= truth, s"n_dup $dup exceeds n_truth $truth")
    assert(truth > 0, "adversarially empty truth set — corpus has known dups")
    val recall = r.getAs[Double]("recall")
    assert(recall >= 0 && recall <= 1, s"recall $recall out of range")
    assert(r.getAs[Double]("candidate_precision") > 0)
  }

  test("q_overlap_sketch: inclusion-exclusion is consistent and within budget") {
    val d = run("q_overlap_sketch").cache()
    val r = d.head
    val (p, c, u) = (r.getAs[Long]("n_purchase"), r.getAs[Long]("n_click"),
      r.getAs[Long]("n_union"))
    val overlap = r.getAs[Long]("overlap_exact")
    assert(overlap == p + c - u)
    assert(overlap >= 0 && overlap <= math.min(p, c),
      s"overlap $overlap outside [0, min($p,$c)]")
    assert(u <= p + c && u >= math.max(p, c))
    assert(r.getAs[Boolean]("sketch_ok"), "sketch estimate blew its error budget")
    d.unpersist()
  }

  test("q_stream_backpressure: rate-limited batches are output-invisible") {
    val d = run("q_stream_backpressure").cache()
    val r = d.head
    assert(r.getAs[Long]("n_batches") == 4L,
      s"expected one micro-batch per staged file, got ${r.getAs[Long]("n_batches")}")
    assert(r.getAs[Long]("rows_in") ==
      graft.sources.Tables(spark, dir).events.count())
    // the aggregate itself must equal the batch face exactly
    val batch = run("q_hourly_events")
    assert(d.drop("n_batches", "rows_in").collect().map(_.toString).sorted
      .sameElements(batch.collect().map(_.toString).sorted),
      "rate-limited streaming aggregate diverged from the batch answer")
    d.unpersist()
  }
}
