package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Data-feed canary: asserts the logical types `Tables` hands every
  * operator, per table, at each test scale factor. If the feed's
  * physical types change, THIS suite fails first, with a message that
  * names the table and column that moved, instead of analyzer stacks
  * across every suite that reads it.
  */
class TablesCanarySpec extends AnyFunSuite {

  private lazy val spark: SparkSession =
    graft.core.Graft.tune(SparkSession.builder().master("local[4]"), 4).getOrCreate()

  private val dirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")

  private def typesOf(df: org.apache.spark.sql.DataFrame): Map[String, DataType] =
    df.schema.fields.map(f => f.name -> f.dataType).toMap

  test("events: ts is a µs timestamp instant in [2000, 2100)") {
    dirs.foreach { dir =>
      val t = graft.sources.Tables(spark, dir)
      val ts = typesOf(t.events).getOrElse("ts",
        fail(s"$dir/events has no ts column"))
      assert(ts == TimestampType,
        s"$dir: Tables.events must surface ts as TimestampType; got $ts — " +
          "if the feed's physical type changed, extend Tables.eventTime")
      // and the value must be plausible epoch-µs (year 2000–2100),
      // catching a unit slip (ms or ns read as µs lands far outside)
      val us = org.apache.spark.sql.functions.unix_micros(
        org.apache.spark.sql.functions.col("ts"))
      val bounds = t.events.agg(
        org.apache.spark.sql.functions.min(us),
        org.apache.spark.sql.functions.max(us)).collect()(0)
      val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
      assert(lo >= 946684800L * 1000000L && hi < 4102444800L * 1000000L,
        s"$dir: events.ts range [$lo, $hi] is not epoch-microseconds in [2000, 2100)")
    }
  }

  test("events: a non-UTC session zone is refused, a UTC alias accepted") {
    val dir = dirs.head
    val zone = "spark.sql.session.timeZone"
    val before = spark.conf.get(zone)
    def inZone(tz: String): SparkSession = {
      val clone = org.apache.spark.sql.GraftBridge.cloneSession(spark)
      clone.conf.set(zone, tz)
      clone
    }
    val err = intercept[IllegalArgumentException] {
      graft.sources.Tables(inZone("America/New_York"), dir).events
    }
    assert(err.getMessage.contains(
      "spark.sql.session.timeZone is 'America/New_York'; graft requires UTC"),
      err.getMessage)
    val utc = graft.sources.Tables(inZone("Etc/UTC"), dir).events
    assert(typesOf(utc)("ts") == TimestampType)
    assert(spark.conf.get(zone) == before, "the shared session's zone changed")
  }

  test("every table loads with its contracted column types") {
    // Pins verified against the actual parquet footers at every scale
    // factor (sf0.001/0.01/0.1): small-dimension keys and embeddings.label
    // are int32 in the feed; fact keys are int64.
    val expected: Map[String, Map[String, DataType]] = Map(
      "region" -> Map("r_regionkey" -> IntegerType, "r_name" -> StringType),
      "nation" -> Map("n_nationkey" -> IntegerType, "n_regionkey" -> IntegerType),
      "customer" -> Map("c_custkey" -> LongType, "c_acctbal" -> DoubleType,
        "c_mktsegment" -> StringType),
      "supplier" -> Map("s_suppkey" -> LongType, "s_nationkey" -> IntegerType),
      "part" -> Map("p_partkey" -> LongType, "p_retailprice" -> DoubleType),
      "orders" -> Map("o_orderkey" -> LongType, "o_custkey" -> LongType,
        "o_totalprice" -> DoubleType, "o_orderstatus" -> StringType),
      "lineitem" -> Map("l_orderkey" -> LongType, "l_partkey" -> LongType,
        "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
        "l_discount" -> DoubleType, "l_tax" -> DoubleType),
      "documents" -> Map("doc_id" -> LongType, "text" -> StringType,
        "source" -> StringType),
      "embeddings" -> Map("vec_id" -> LongType, "label" -> IntegerType,
        "embedding" -> ArrayType(FloatType, containsNull = true)))
    dirs.foreach { dir =>
      val t = graft.sources.Tables(spark, dir)
      val frames = Map(
        "region" -> t.region, "nation" -> t.nation, "customer" -> t.customer,
        "supplier" -> t.supplier, "part" -> t.part, "orders" -> t.orders,
        "lineitem" -> t.lineitem, "documents" -> t.documents,
        "embeddings" -> t.embeddings)
      expected.foreach { case (table, cols) =>
        val actual = typesOf(frames(table))
        cols.foreach { case (c, dt) =>
          assert(actual.get(c).contains(dt),
            s"$dir/$table.$c: expected $dt, got ${actual.get(c)} — " +
              "test data layout changed; update loaders/operators together")
        }
      }
    }
  }
}
