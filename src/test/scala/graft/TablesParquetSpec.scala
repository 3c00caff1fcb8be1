package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Tables

/** [[Tables.parquet]]'s contract: the schema Spark's own inference gives,
  * read from one footer on the driver, with no Spark job; and Spark's own
  * error where there is nothing to read.
  */
class TablesParquetSpec extends AnyFunSuite {

  private lazy val spark: SparkSession =
    graft.core.Graft.tune(SparkSession.builder().master("local[4]"), 4).getOrCreate()

  private val dirs =
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "perfbench/data/sf0.01")
  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val RowMetadata = "org.apache.spark.sql.parquet.row.metadata"

  private def footerKeys(file: Path): Set[String] = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.toString), new Configuration()))
    try r.getFooter.getFileMetaData.getKeyValueMetaData.keySet.asScala.toSet
    finally r.close()
  }

  private def assertSameSchema(path: String): Unit = {
    val inferred = spark.read.parquet(path).schema
    val read = Tables.parquet(spark, path).schema
    // StructType equality covers names, types, nullability and metadata
    assert(read == inferred, s"$path: ${read.treeString} vs ${inferred.treeString}")
  }

  private def listing(dir: String): Seq[String] =
    new java.io.File(dir).list().toSeq

  test("Tables.parquet: every feed table's schema equals spark.read.parquet's") {
    for (dir <- dirs; t <- tables) assertSameSchema(s"$dir/$t.parquet")
    // the feed's footers carry no Spark row metadata, so the schema comes
    // from the parquet types; events.ts is TIMESTAMP_NTZ before eventTime
    val feedEvents = Paths.get(dirs.head, "events.parquet")
    assert(!footerKeys(feedEvents).contains(RowMetadata))
    assert(Tables.parquet(spark, feedEvents.toString).schema("ts").dataType ==
      TimestampNTZType)
  }

  test("Tables.parquet: a Spark-written multi-part directory reads its first part's schema") {
    val out = Files.createTempDirectory("graft_tp_parts").resolve("t").toString
    // a non-nullable column too: both reads must hand it back nullable
    Tables(spark, dirs.head).lineitem
      .select(col("l_orderkey"), col("l_shipdate"), col("l_extendedprice"),
        lit(1).as("one"))
      .repartition(3).write.parquet(out)
    val names = listing(out)
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")) &&
      names.count(_.endsWith(".parquet")) > 1, names.mkString(", "))
    val firstPart = names.filter(_.endsWith(".parquet")).min
    assert(footerKeys(Paths.get(out, firstPart)).contains(RowMetadata))
    assertSameSchema(out)
    assert(Tables.parquet(spark, out).schema("one").nullable)
    assert(Tables.parquet(spark, out).count() == Tables(spark, dirs.head).lineitem.count())
  }

  test("Tables.parquet: a partitionBy directory keeps its partition column") {
    val out = Files.createTempDirectory("graft_tp_partitioned").resolve("t").toString
    Tables(spark, dirs.head).lineitem
      .select(col("l_orderkey"), date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
      .write.partitionBy("ship_month").parquet(out)
    assertSameSchema(out)
    assert(Tables.parquet(spark, out).columns.toSeq == Seq("l_orderkey", "ship_month"))
  }

  test("Tables.parquet: resolving a dir's 10 tables starts no Spark job") {
    val dir = dirs.head
    val inferred = JobsDuring(spark.sparkContext)(tables.foreach(t => spark.read.parquet(s"$dir/$t.parquet")))
    assert(inferred == tables.size, "the listener must see Spark's inference jobs")
    val frames = scala.collection.mutable.ArrayBuffer[DataFrame]()
    val read = JobsDuring(spark.sparkContext) {
      tables.foreach(t => frames += Tables.parquet(spark, s"$dir/$t.parquet"))
      val loaders = Tables(spark, dir)
      frames ++= Seq(loaders.region, loaders.nation, loaders.customer,
        loaders.supplier, loaders.part, loaders.orders, loaders.lineitem,
        loaders.events, loaders.documents, loaders.embeddings)
      frames.foreach(_.schema)
    }
    assert(read == 0)
  }

  test("Tables.parquet: a missing path or an empty dir raises Spark's own error") {
    def failure(read: => DataFrame): (Class[_], String) =
      try { read; fail("no error raised") }
      catch { case e: Exception with SparkThrowable => (e.getClass, e.getCondition) }
    val missing = s"${Files.createTempDirectory("graft_tp_missing")}/absent.parquet"
    val expected = failure(spark.read.parquet(missing))
    assert(expected._2 == "PATH_NOT_FOUND")
    assert(failure(Tables.parquet(spark, missing)) == expected)
    val empty = Files.createTempDirectory("graft_tp_empty").toString
    assert(failure(Tables.parquet(spark, empty)) == failure(spark.read.parquet(empty)))
  }
}
