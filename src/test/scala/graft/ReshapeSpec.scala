package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Reshape}

/** Semantic invariants for the round-3 reshape / dedup-policy batch
  * (E33–E37, A24, C44–C47) on sf0.001 plus constructed frames that
  * exercise the detection paths real data may not trigger.
  */
class ReshapeSpec extends AnyFunSuite {

  private lazy val spark: SparkSession =
    graft.core.Graft.tune(SparkSession.builder().master("local[4]"), 4).getOrCreate()
  private val dir = "/root/testdata/sf0.001"
  import scala.jdk.CollectionConverters._

  private def docsFrame(rows: Seq[(Long, String, String)]) = {
    // (doc_id, lang, text) with the n_chars column the fuzzy face expects
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, lang STRING, text STRING")
    spark.createDataFrame(
      rows.map(r => org.apache.spark.sql.Row(r._1, r._2, r._3)).asJava, schema)
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  test("q_date_spine: spine is gapless months and zero-fills empty ones") {
    val rows = Reshape.dateSpine(spark, dir)
      .orderBy("month").collect()
    assert(rows.nonEmpty)
    val months = rows.map(_.getTimestamp(0).toInstant)
    months.sliding(2).foreach {
      case Array(a, b) =>
        val za = a.atZone(java.time.ZoneOffset.UTC)
        assert(za.plusMonths(1).toInstant == b, s"gap between $a and $b")
      case _ =>
    }
    // zero-filled months carry explicit zeros, never nulls
    rows.foreach { r =>
      assert(!r.isNullAt(1) && !r.isNullAt(2))
      if (r.getLong(1) == 0L) assert(r.getDouble(2) == 0.0)
    }
  }

  test("q_unpivot: one row per (flag, metric), values match the wide aggregate") {
    val long = Reshape.unpivotMetrics(spark, dir).collect()
    val flags = long.map(_.getString(0)).distinct
    assert(long.length == flags.length * 3)
    val byKey = long.map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    // n_rows metric must equal the actual group count
    val t = graft.sources.Tables(spark, dir)
    val counts = t.lineitem.groupBy("l_returnflag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    flags.foreach { f => assert(byKey((f, "n_rows")) == counts(f).toDouble) }
  }

  test("q_string_agg: member list is sorted and count matches") {
    Reshape.stringAgg(spark, dir).collect().foreach { r =>
      val nations = r.getString(2).split(",").toSeq
      assert(nations == nations.sorted, r.getString(0))
      assert(nations.length == r.getLong(1))
    }
  }

  test("q_gaps_islands: streak accounting is internally consistent") {
    val rows = Reshape.gapsIslands(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (days, streaks, maxS) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(maxS <= days && streaks <= days && maxS >= 1 && streaks >= 1)
      // n_streaks * max_streak >= n_active_days (pigeonhole)
      assert(streaks * maxS >= days)
    }
  }

  test("q_corr: matches Spark's native corr/regr_slope/regr_intercept within 1e-6") {
    // independent implementations (Welford-style running moments) must
    // agree with the decimal-moment formulation up to float noise
    val t = graft.sources.Tables(spark, dir)
    val native = t.lineitem.groupBy("l_returnflag")
      .agg(corr(col("l_quantity"), col("l_extendedprice")).as("c"),
        expr("regr_slope(l_extendedprice, l_quantity)").as("s"),
        expr("regr_intercept(l_extendedprice, l_quantity)").as("i"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    Reshape.corrStats(spark, dir).collect().foreach { r =>
      val (c, s, i) = native(r.getString(0))
      assert(math.abs(r.getDouble(2) - c) < 1e-6, s"corr ${r.getString(0)}")
      assert(math.abs(r.getDouble(3) - s) / math.max(1.0, math.abs(s)) < 1e-6, "slope")
      assert(math.abs(r.getDouble(4) - i) / math.max(1.0, math.abs(i)) < 1e-6, "intercept")
    }
  }

  test("q_abc_analysis: classes equal a naive driver-side recomputation") {
    val t = graft.sources.Tables(spark, dir)
    val rev = t.orders.groupBy("o_custkey")
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("r"))
      .collect().map(r => r.getLong(0) -> (r.getDecimal(1).movePointRight(2).longValueExact()))
    val total = rev.map(_._2).sum
    val sorted = rev.sortBy { case (k, c) => (-c, k) }
    var run = 0L
    val expected = sorted.map { case (k, c) =>
      run += c
      k -> (if (run * 5 <= total * 4) "A" else if (run * 20 <= total * 19) "B" else "C")
    }.toMap
    val got = SparkEntry.queries("q_abc_analysis")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(got == expected)
  }

  test("q_gaps_islands: streaks equal a naive driver-side recomputation") {
    val days = graft.sources.Tables(spark, dir).events
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .distinct().collect().map(r => (r.getLong(0), r.getDate(1).toLocalDate))
    val expected = days.groupBy(_._1).map { case (u, rows) =>
      val ds = rows.map(_._2).sortBy(_.toEpochDay)
      val streaks = ds.foldLeft(List.empty[Long]) { (acc, d) =>
        acc match {
          case h :: t if ds.contains(d.minusDays(1)) => (h + 1) :: t
          case _ => 1L :: acc
        }
      }
      u -> (ds.length.toLong, streaks.length.toLong, streaks.max)
    }
    val got = SparkEntry.queries("q_gaps_islands")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == expected)
  }

  test("q_corr: correlation stays within [-1, 1]") {
    Reshape.corrStats(spark, dir).collect().foreach { r =>
      assert(math.abs(r.getDouble(2)) <= 1.0 + 1e-12)
    }
  }

  test("q_check_expression: clean data passes with zero violations") {
    val r = SparkEntry.queries("q_check_expression")(spark, dir).collect().head
    assert(r.getLong(1) == 0L && r.getBoolean(2))
  }

  test("q_dedup_keep_best: picks the highest-quality member, not the min id") {
    // two dup clusters; in cluster A the higher-score doc has the LARGER id
    val docs = docsFrame(Seq(
      (1L, "en", "x y z"),                      // low score (no stopwords)
      (2L, "en", "the cat and the dog of them"), // high score
      (3L, "en", "the cat and the dog of them"), // same text, same score → id tiebreak
      (4L, "en", "x y z")))
    val kept = Dedup.dedupKeepBest(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(3))).toMap
    assert(kept.size == 2)
    // cluster of "the cat...": score ties → min id 2 wins; n_copies 2
    // cluster of "x y z": ids 1,4 → min id 1; n_copies 2
    assert(kept.values.toSet == Set((2L, 2L), (1L, 2L)))
  }

  test("q_dedup_keep_best: keep set covers every exact-dup cluster exactly once") {
    val best = SparkEntry.queries("q_dedup_keep_best")(spark, dir)
    val exact = SparkEntry.queries("q_dedup_exact")(spark, dir)
    assert(best.select("text_hash").distinct().count() == best.count())
    assert(best.count() == exact.count())
  }

  test("q_boilerplate: detects shared 16-word prefixes, ignores tail divergence") {
    val prefix = (1 to 16).map(i => s"w$i").mkString(" ")
    val docs = docsFrame(Seq(
      (1L, "en", s"$prefix unique tail one"),
      (2L, "en", s"$prefix a totally different ending"),
      (3L, "en", "some other document entirely")))
    val clusters = Dedup.boilerplate(docs).collect()
    assert(clusters.length == 1)
    assert(clusters.head.getLong(1) == 2L && clusters.head.getLong(2) == 1L)
  }

  test("q_dedup_fuzzy: finds small-edit pairs within a block, respects the threshold") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away home"
    val docs = docsFrame(Seq(
      (1L, "en", base),
      (2L, "en", base.replace("quick", "quack")),   // dist 1 in the 40-char prefix
      (3L, "en", base.reverse),                      // way past threshold
      (4L, "de", base)))                             // different block: never compared
    val pairs = Dedup.dedupFuzzy(docs).collect()
    assert(pairs.map(r => (r.getLong(1), r.getLong(2))).toSet == Set((1L, 2L)))
    assert(pairs.head.getInt(3) == 1)
  }

  test("q_histogram_depth: deciles are equi-depth (counts differ by at most 1) and partition the table") {
    val rows = SparkEntry.queries("q_histogram_depth")(spark, dir).collect()
    assert(rows.length == 10)
    val counts = rows.map(_.getLong(1))
    assert(counts.max - counts.min <= 1)
    assert(counts.sum == graft.sources.Tables(spark, dir).orders.count())
    // bucket value ranges must not overlap
    val sorted = rows.sortBy(_.getInt(0))
    sorted.sliding(2).foreach {
      case Array(a, b) => assert(a.getDouble(3) <= b.getDouble(2) + 1e-9)
      case _ =>
    }
  }

  test("q_tfidf: at most 3 ranked terms per doc, ranks contiguous from 1") {
    val rows = SparkEntry.queries("q_tfidf")(spark, dir).collect()
    val byDoc = rows.groupBy(_.getLong(0))
    byDoc.values.foreach { rs =>
      val ranks = rs.map(_.getLong(1)).sorted
      assert(ranks.length <= 3 && ranks.toSeq == (1L to ranks.length))
    }
  }

  test("q_bigram_logprob: average conditional log-probs are non-positive") {
    SparkEntry.queries("q_bigram_logprob")(spark, dir).collect().foreach { r =>
      assert(r.getDouble(2) <= 1e-9, r)
    }
  }

  test("q_anomaly_mad: fence accounting sane (mad >= 0, outliers <= rows)") {
    SparkEntry.queries("q_anomaly_mad")(spark, dir).collect().foreach { r =>
      assert(r.getDouble(3) >= 0.0 && r.getLong(4) <= r.getLong(1), r)
    }
  }

  test("q_abc_analysis: classes are monotone in cumulative share and cover all customers") {
    val rows = SparkEntry.queries("q_abc_analysis")(spark, dir).collect()
    assert(rows.nonEmpty)
    val byShare = rows.sortBy(_.getDouble(2))
    // class sequence along increasing share must be A..., B..., C...
    val classes = byShare.map(_.getString(3)).mkString
    assert("^A*B*C*$".r.findFirstIn(classes).isDefined, classes.take(50))
    assert(math.abs(byShare.last.getDouble(2) - 1.0) < 1e-9)
    byShare.foreach { r =>
      val (share, cls) = (r.getDouble(2), r.getString(3))
      if (share <= 0.8 + 1e-12) assert(cls == "A", r)
      else if (share > 0.95 + 1e-9) assert(cls == "C", r)
    }
  }

  test("q_entropy: single-token docs score 0, entropy bounded by ln(n_tokens)") {
    val rows = SparkEntry.queries("q_entropy")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, h) = (r.getLong(1), r.getDouble(3))
      assert(h >= -1e-9 && h <= math.log(n.toDouble) + 1e-6, r)
    }
  }

  test("q_multimodal_shard: offsets are a contiguous byte layout") {
    val rows = SparkEntry.queries("q_multimodal_shard")(spark, dir)
      .orderBy("doc_id").collect()
    var expected = 0L
    rows.foreach { r =>
      assert(r.getLong(2) == expected, r)
      assert(r.getLong(3) == expected / 4096 && r.getLong(4) == expected % 4096)
      expected += r.getLong(1)
    }
  }

  test("q_knn_join: every vector gets <=3 ranked neighbors, cosine non-increasing, no self-match") {
    val rows = SparkEntry.queries("q_knn_join")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(1)).foreach { case (vid, rs) =>
      val byRank = rs.sortBy(_.getLong(2))
      assert(byRank.length <= 3 && byRank.map(_.getLong(2)).toSeq == (1L to byRank.length))
      byRank.foreach(r => assert(r.getLong(3) != vid))
      byRank.sliding(2).foreach {
        case Array(x, y) => assert(x.getDouble(4) >= y.getDouble(4))
        case _ =>
      }
    }
  }

  test("q_ngram_containment: catches doc-inside-doc pairs Jaccard misses") {
    val short = "alpha beta gamma delta epsilon"
    val long = short + " " + (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = docsFrame(Seq((1L, "en", short), (2L, "en", long)))
    val cont = Dedup.ngramContainment(docs).collect()
    assert(cont.length == 1)
    val r = cont(0)
    assert(r.getAs[Double]("containment") == 1.0) // short's grams all inside long
    // the same pair is invisible to the 0.2-Jaccard screen
    assert(Dedup.ngramJaccard(docs).collect().isEmpty)
    // corpus face runs and respects the threshold
    SparkEntry.queries("q_ngram_containment")(spark, dir).collect()
      .foreach(x => assert(x.getAs[Double]("containment") >= 0.5))
  }

  test("q_heavy_hitters: two-pass MG equals brute force, incl. the trim path") {
    import spark.implicits._
    // corpus face: equals the brute-force threshold count
    val got = SparkEntry.queries("q_heavy_hitters")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val toks = graft.sources.Tables(spark, dir).documents
      .select(explode(split(col("text"), " ")).as("token"))
    val n = toks.count()
    val exact = toks.groupBy("token").count()
      .where(col("count") * 1000 > n)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == exact && got.nonEmpty)
    // trim path: vocabulary ≫ k with planted heavies, tiny k, many partitions
    val heavy = Seq.fill(500)("hot1") ++ Seq.fill(300)("hot2")
    val tail = (0 until 2000).map(i => s"rare$i")
    val frame = spark.sparkContext
      .parallelize(scala.util.Random.shuffle(heavy ++ tail), 16).toDF("w")
    val small = graft.operators.TextAnalysis.heavyHittersOn(frame, k = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // threshold n/k = 280: exactly the two planted tokens qualify
    assert(small == Map("hot1" -> 500L, "hot2" -> 300L))
  }

  test("q_length_buckets: buckets partition the corpus and bounds respect the bucket") {
    val t = graft.sources.Tables(spark, dir)
    val rows = SparkEntry.queries("q_length_buckets")(spark, dir).collect()
    assert(rows.map(_.getLong(2)).sum == t.documents.count())
    rows.foreach { r =>
      val (b, lo, hi) = (r.getInt(1), r.getLong(4), r.getLong(5))
      // bucket b holds lengths in [2^(b-1), 2^b)
      assert(lo >= (1L << (b - 1)) && hi < (1L << b), s"bucket $b [$lo,$hi]")
    }
  }

  test("q_skyline: equals the brute-force strict-dominance frontier") {
    val t = graft.sources.Tables(spark, dir)
    val pts = t.orders
      .select(col("o_orderkey"), col("o_totalprice"), to_date(col("o_orderdate")))
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDate(2).toLocalDate))
    val brute = pts.filter { case (_, p, d) =>
      !pts.exists { case (_, p2, d2) => p2 > p && d2.isAfter(d) }
    }.map(_._1).toSet
    val got = Reshape.skyline(spark, dir).collect().map(_.getLong(0)).toSet
    assert(got == brute && got.nonEmpty)
  }

  test("q_ewma: first day equals its own revenue; every day stays inside its window hull") {
    val rows = Reshape.ewma(spark, dir)
      .orderBy("day").collect()
      .map(r => (r.getDate(0).toLocalDate, r.getDouble(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    val (d0, rev0, ewma0) = rows.head
    // no history exists before the first day: the weighted mean is the day itself
    assert(math.abs(ewma0 - rev0) < 1e-3, s"$d0: $ewma0 vs $rev0")
    // a normalized weighted mean can never leave [min, max] of its window
    val byDay = rows.map(r => r._1 -> r._2).toMap
    rows.foreach { case (d, _, e) =>
      val window = (0 to 6).flatMap(l => byDay.get(d.minusDays(l.toLong)))
      assert(e >= window.min - 1e-3 && e <= window.max + 1e-3, s"$d: $e not in $window")
    }
  }

  test("q_hourly_anomaly: top-20 by |z|, and a cell's LOO z recomputes by hand") {
    val rows = Reshape.hourlyAnomaly(spark, dir).collect()
    assert(rows.length <= 20 && rows.nonEmpty)
    rows.foreach(r => assert(!r.getDouble(4).isNaN && !r.getDouble(4).isInfinite))
    // recompute the top cell's z from the raw hourly counts
    val t = graft.sources.Tables(spark, dir)
    val hourly = t.events
      .select(col("ts").as("tt"))
      .groupBy(to_date(col("tt")).as("day"),
        (dayofweek(col("tt")) - 1).as("dow"), hour(col("tt")).as("hh"))
      .agg(count(lit(1)).as("cnt"))
      .collect()
      .map(r => (r.getDate(0).toString, r.getInt(1), r.getInt(2), r.getLong(3)))
    val top = Reshape.hourlyAnomaly(spark, dir).collect().head
    val (day, dow, hh, cnt) =
      (top.getDate(0).toString, top.getInt(1), top.getInt(2), top.getLong(3))
    val peers = hourly.filter(c => c._2 == dow && c._3 == hh).map(_._4)
    val others = peers.sum - cnt
    val n = peers.length
    val m = others.toDouble / (n - 1)
    val v = (peers.map(x => x * x).sum - cnt * cnt - (n - 1) * m * m) / (n - 2)
    val z = (cnt - m) / math.sqrt(v)
    assert(math.abs(top.getDouble(4) - z) < 1e-3, s"z ${top.getDouble(4)} vs $z")
  }

  test("q_bollinger: bands are symmetric about the mean and recompute by hand") {
    val rows = Reshape.bollinger(spark, dir).orderBy("day").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (ma, up, lo) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(up >= ma && ma >= lo, s"band order $lo $ma $up")
      // upper - ma == ma - lower up to the 4dp rounding of each side
      assert(math.abs((up - ma) - (ma - lo)) < 2e-4)
    }
    // hand-recompute the last day's band from the trailing 7 daily revenues
    val t = graft.sources.Tables(spark, dir)
    val daily = t.lineitem
      .groupBy(year(col("l_shipdate")).as("yr"), to_date(col("l_shipdate")).as("day"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).as("rev"))
      .orderBy("day").collect()
      .map(r => (r.getInt(0), r.getDate(1).toLocalDate, r.getDecimal(2).doubleValue))
    val last = rows.last
    val lastDay = last.getDate(0).toLocalDate
    val frame = daily.filter { case (yr, d, _) =>
      yr == lastDay.getYear && !d.isAfter(lastDay) &&
        !d.isBefore(lastDay.minusDays(6)) }.map(_._3)
    val n = frame.length
    val m = frame.sum / n
    val v = (frame.map(x => x * x).sum - frame.sum * frame.sum / n) / (n - 1)
    val sd = math.sqrt(math.max(v, 0.0))
    assert(math.abs(last.getDouble(2) - m) < 1e-2)
    assert(math.abs(last.getDouble(3) - (m + 2 * sd)) < 1e-2)
  }

  test("q_runs_test: runs and z recompute from the daily revenue series") {
    val rows = Reshape.runsTest(spark, dir).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(rows.nonEmpty)
    val daily = graft.sources.Tables(spark, dir).lineitem
      .groupBy(year(col("l_shipdate")).as("yr"), to_date(col("l_shipdate")).as("day"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("decimal(19,2)").as("rev"))
      .orderBy("yr", "day").collect()
      .map(r => (r.getInt(0), r.getDate(1).toLocalDate, r.getDecimal(2)))
    rows.keys.foreach { yr =>
      val revs = daily.filter(_._1 == yr).map(_._3)
      val signs = revs.sliding(2).collect {
        case Array(a, b) if a.compareTo(b) != 0 => if (b.compareTo(a) > 0) 1 else -1
      }.toSeq
      val nUp = signs.count(_ == 1).toLong
      val nDown = signs.count(_ == -1).toLong
      val nRuns = if (signs.isEmpty) 0L
        else 1L + signs.sliding(2).count { case Seq(a, b) => a != b; case _ => false }
      val (gu, gd, gr, gz) = rows(yr)
      assert((gu, gd, gr) == ((nUp, nDown, nRuns)), s"yr $yr")
      val n = nUp + nDown
      val expc = 2.0 * nUp * nDown / n + 1
      val v = (expc - 1) * (expc - 2) / (n - 1)
      assert(math.abs(gz - (nRuns - expc) / math.sqrt(v)) < 1e-3, s"z yr $yr")
    }
  }

  test("q_histogram_2d: cells partition the table and the price marginal matches A17") {
    val cells = graft.operators.Profile.histogram2d(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val total = graft.sources.Tables(spark, dir).lineitem.count()
    assert(cells.map(_._3).sum == total)
    // marginal over bx must equal the 1-D price histogram's buckets
    val marginal = cells.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val hist1d = graft.operators.Profile.histogram(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(marginal == hist1d)
  }
}
