package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{Scratch, Tables}

/** Source/sink format coverage beyond parquet: the engine's frames
  * round-trip through JSON, ORC, and CSV unchanged — at scale these are
  * interchange formats for ingest (JSON logs), columnar storage (ORC),
  * and seeds/exports (CSV).
  */
class SourcesSpec extends AnyFunSuite {

  private lazy val spark: SparkSession =
    graft.core.Graft.tune(SparkSession.builder().master("local[4]"), 4).getOrCreate()
  private val dir = "/root/testdata/sf0.001"

  private def roundTrip(fmt: String): Unit = {
    val out = Files.createTempDirectory(s"rt_$fmt").toString + "/data"
    val src = Tables(spark, dir).orders
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"))
    src.write.format(fmt)
      .options(if (fmt == "csv") Map("header" -> "true") else Map.empty[String, String])
      .save(out)
    val back = spark.read.format(fmt)
      .options(if (fmt == "csv") Map("header" -> "true", "inferSchema" -> "true")
        else Map.empty[String, String])
      .load(out)
      // self-describing formats may reorder columns, and CSV inference
      // narrows small ints; select + cast explicitly
      .select(col("o_orderkey").cast("long"), col("o_custkey").cast("long"),
        col("o_orderstatus"), col("o_totalprice").cast("double"))
    assert(back.count() == src.count(), fmt)
    val a = src.orderBy("o_orderkey").collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getString(2), math.round(r.getDouble(3) * 100)))
    val b = back.orderBy("o_orderkey").collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getString(2), math.round(r.getDouble(3) * 100)))
    assert(a.sameElements(b), fmt)
  }

  test("orders round-trip through JSON")(roundTrip("json"))
  test("orders round-trip through ORC")(roundTrip("orc"))
  test("orders round-trip through CSV")(roundTrip("csv"))

  test("schema evolution: mergeSchema reads v1+v2 parquet; unionByName fills gaps") {
    import spark.implicits._
    val base = Files.createTempDirectory("evolve").toString
    // v1 batch lacks the later-added column
    Seq((1L, "a"), (2L, "b")).toDF("id", "text")
      .write.parquet(s"$base/batch=1")
    Seq((3L, "c", "en"), (4L, "d", "fr")).toDF("id", "text", "lang")
      .write.parquet(s"$base/batch=2")
    // reader-side evolution: union of both schemas, old rows null-filled
    val merged = spark.read.option("mergeSchema", "true").parquet(base)
    assert(merged.columns.toSet == Set("id", "text", "lang", "batch"))
    assert(merged.count() == 4)
    assert(merged.filter(col("lang").isNull).count() == 2)
    // writer-side evolution: unionByName(allowMissingColumns) for frames
    val u = Seq((5L, "e")).toDF("id", "text")
      .unionByName(Seq((6L, "f", "de")).toDF("id", "text", "lang"),
        allowMissingColumns = true)
    assert(u.columns.toSet == Set("id", "text", "lang"))
    assert(u.filter(col("id") === 5L && col("lang").isNull).count() == 1)
  }

  test("shard sink + DSv2 source: lossless round-trip, multiple byte-balanced shards") {
    val out = Files.createTempDirectory("rt_shards").toString
    val docs = Tables(spark, dir).documents
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    graft.sources.ShardWriter.write(docs, out, shardBytes = 4096L)
    val files = new java.io.File(out).listFiles().filter(_.getName.startsWith("shard-"))
    assert(files.length > 1, s"expected several 4KiB shards, got ${files.length}")
    // every shard id in the contiguous layout range exists exactly once
    assert(files.map(_.getName).distinct.length == files.length)

    val back = spark.read.format("graft.sources.ShardDataSource").load(out)
    val a = docs.select(col("doc_id"), md5(col("payload")).as("h"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted
    val b = back.select(col("doc_id"), md5(col("payload")).as("h"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted
    assert(a.sameElements(b))
  }

  test("shard sink + DSv2 source: zero-length payloads survive the round trip") {
    import spark.implicits._
    val out = Files.createTempDirectory("rt_shards_zero").toString
    val docs = Seq((1L, Array[Byte]()), (2L, "x".getBytes("UTF-8")), (3L, Array[Byte]()))
      .toDF("doc_id", "payload")
    graft.sources.ShardWriter.write(docs, out)
    val back = spark.read.format("graft.sources.ShardDataSource").load(out)
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).length).toMap
    assert(back == Map(1L -> 0, 2L -> 1, 3L -> 0))
  }

  test("IVF index: build -> save -> load -> serve equals the in-memory index") {
    val out = Files.createTempDirectory("ivf_idx").toString + "/index"
    val e = Tables(spark, dir).embeddings
    val centroids = graft.operators.Ann.ivfCentroids(e, c = 4, iters = 2)
    graft.operators.Ann.saveIvfIndex(spark, centroids, out)
    val loaded = graft.operators.Ann.loadIvfIndex(spark, out)
    assert(loaded == centroids)
    val a = graft.operators.Ann.annIvfServe(e, centroids).collect().map(_.toString).sorted
    val b = graft.operators.Ann.annIvfServe(e, loaded).collect().map(_.toString).sorted
    assert(a.sameElements(b) && a.nonEmpty)
  }

  test("shard DSv2 source: empty directory reads as zero rows, not an error") {
    val out = Files.createTempDirectory("rt_shards_empty").toString
    val back = spark.read.format("graft.sources.ShardDataSource").load(out)
    assert(back.count() == 0 && back.schema.fieldNames.toSeq == Seq("doc_id", "payload"))
  }

  test("shard DSv2 source: column pruning reaches the reader (doc_id-only scan)") {
    val out = Files.createTempDirectory("rt_shards_prune").toString
    val docs = Tables(spark, dir).documents
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    graft.sources.ShardWriter.write(docs, out)
    val back = spark.read.format("graft.sources.ShardDataSource").load(out)
    // payload-free projection: the reader skips payload bytes entirely
    val ids = back.select("doc_id")
    val scan = ids.queryExecution.executedPlan.toString
    assert(scan.contains("doc_id") && !scan.contains("payload"), scan.take(500))
    assert(ids.distinct().count() == docs.count())
    // row-count-only scan (empty required schema) still yields cardinality
    assert(back.count() == docs.count())
  }

  test("shard DSv2 source: a truncated shard file errors instead of hanging") {
    val out = Files.createTempDirectory("rt_shards_trunc").toString
    val docs = Tables(spark, dir).documents
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    graft.sources.ShardWriter.write(docs, out)
    // chop the tail off one shard: its last record's payload is cut mid-bytes
    val f = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("shard-")).minBy(_.getName)
    val ch = java.nio.channels.FileChannel.open(f.toPath,
      java.nio.file.StandardOpenOption.WRITE)
    try ch.truncate(f.length() - 3) finally ch.close()
    val back = spark.read.format("graft.sources.ShardDataSource").load(out)
    // payload path (readFully) and pruned path (skip) must BOTH surface it
    intercept[org.apache.spark.SparkException](back.count())
    intercept[org.apache.spark.SparkException](
      back.select("doc_id").collect())
  }

  test("ForkFreeLocalFileSystem: create and mkdirs give the stock POSIX modes") {
    import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
    import org.apache.hadoop.fs.permission.FsPermission
    import java.nio.file.attribute.PosixFilePermissions
    val root = Files.createTempDirectory("fs_parity")
    def modes(fs: RawLocalFileSystem, arm: String): Seq[String] = {
      fs.initialize(java.net.URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
      Seq("644", "600", "755", "700").flatMap { m =>
        val perm = new FsPermission(m)
        val file = new Path(s"$root/$arm-file-$m")
        val subdir = new Path(s"$root/$arm-dir-$m")
        fs.create(file, perm, true, 4096, 1.toShort, 1L << 20, null).close()
        assert(fs.mkdirs(subdir, perm))
        Seq(file, subdir).map(p => PosixFilePermissions.toString(
          Files.getPosixFilePermissions(fs.pathToFile(p).toPath)))
      }
    }
    val stock = modes(new RawLocalFileSystem, "stock")
    val forkFree = modes(new graft.sources.ForkFreeLocalFileSystem.Raw, "forkfree")
    assert(forkFree == stock)
    // none of the four modes is narrowed by the default 022 umask
    assert(stock == Seq("rw-r--r--", "rw-r--r--", "rw-------", "rw-------",
      "rwxr-xr-x", "rwxr-xr-x", "rwx------", "rwx------"))
  }

  test("ForkFreeLocalFileSystem: a sticky-bit mode takes the stock chmod path") {
    import org.apache.hadoop.fs.Path
    import org.apache.hadoop.fs.permission.FsPermission
    val sticky = Files.createTempDirectory("fs_sticky")
    val fs = new graft.sources.ForkFreeLocalFileSystem.Raw
    fs.initialize(java.net.URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    fs.setPermission(new Path(sticky.toString), new FsPermission("1755"))
    // NIO cannot set the sticky bit; only the stock `chmod` path does
    val mode = Files.getAttribute(sticky, "unix:mode").asInstanceOf[Int] & 0x3ff
    assert(mode == Integer.parseInt("1755", 8), f"mode $mode%o")
  }

  test("session file: scheme is the fork-free filesystem and keeps .crc files after a shard write") {
    val out = Files.createTempDirectory("crc_after_shards")
    val docs = Tables(spark, dir).documents
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    graft.sources.ShardWriter.write(docs, out.resolve("shards").toString)
    val fs = new org.apache.hadoop.fs.Path(out.toString)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.isInstanceOf[graft.sources.ForkFreeLocalFileSystem], fs.getClass.getName)
    // the shard writer must not switch checksums off on the JVM-wide
    // cached instance: later parquet writes still get their .crc files
    docs.select(col("doc_id")).write.parquet(out.resolve("ids").toString)
    val names = new java.io.File(out.resolve("ids").toString).list().toSeq
    val parts = names.filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
    assert(parts.nonEmpty)
    parts.foreach(n => assert(names.contains(s".$n.crc"), s"no .crc for $n in $names"))
  }

  test("fork guard: a stateful stream and a parquet write fork no chmod or readlink") {
    import scala.jdk.CollectionConverters._
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    val dump = Files.createTempFile("forks", ".jfr")
    val commands =
      try {
        rec.start()
        // a known fork proves the recording sees process starts at all
        new ProcessBuilder("true").start().waitFor()
        assert(graft.streaming.Events.qStreamHourly(spark, dir).count() > 0)
        val out = Files.createTempDirectory("fork_guard").resolve("orders")
        Tables(spark, dir).orders.write.parquet(out.toString)
        rec.stop()
        rec.dump(dump)
        jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toSeq
          .map(_.getString("command"))
      } finally {
        rec.close()
        Files.deleteIfExists(dump)
      }
    val programs = commands.map(_.trim.split("\\s+").head.split('/').last)
    assert(programs.contains("true"), s"recording saw no process start: $commands")
    val forks = programs.filter(Set("chmod", "readlink"))
      .groupBy(identity).map { case (p, ps) => p -> ps.size }
    assert(forks.isEmpty)
  }

  test("a partitionBy round trip reads back Spark's inferred schema without inferring it") {
    val sc = spark.sparkContext
    // each started job's description, or its SQL execution for a write
    val jobs = new ConcurrentLinkedQueue[String]()
    val probe = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = e.properties
        jobs.add(Option(p.getProperty("spark.sql.execution.id")).map(_ => "write")
          .orElse(Option(p.getProperty("spark.job.description"))).getOrElse("?")): Unit
      }
    }
    def started[A](body: => A): (A, Seq[String]) = {
      GraftBridge.drainListenerBus(sc)
      jobs.clear()
      val a = body
      GraftBridge.drainListenerBus(sc)
      (a, jobs.asScala.toSeq)
    }
    val out = Files.createTempDirectory("graft_part_rt").toString + "/fact"
    val li = Tables(spark, dir).lineitem
      .withColumn("ship_month", date_format(col("l_shipdate"), "yyyy-MM"))
    sc.addSparkListener(probe)
    try {
      val (back, roundTrip) = started(
        graft.operators.Interop.partitionedRoundTrip(li, "ship_month", out))
      val (inferred, read) = started(spark.read.parquet(out))
      assert(back.schema == inferred.schema,
        s"${back.schema.treeString} vs ${inferred.schema.treeString}")
      assert(back.columns.last == "ship_month" &&
        back.schema("ship_month").dataType == org.apache.spark.sql.types.StringType)
      // both reads list the month directories; only Spark's own infers
      def inference(js: Seq[String]): Seq[String] =
        js.filterNot(j => j == "write" || j.startsWith("Listing leaf files"))
      assert(inference(read).size == 1, read.mkString("; "))
      assert(roundTrip.contains("write") && inference(roundTrip).isEmpty,
        roundTrip.mkString("; "))
    } finally sc.removeSparkListener(probe)
  }

  test("Scratch.tempDir: distinct dirs under one per-JVM root") {
    val a = Scratch.tempDir("graft_spec")
    val b = Scratch.tempDir("graft_spec")
    assert(a != b && Files.isDirectory(a) && Files.isDirectory(b))
    assert(a.getParent == b.getParent, s"$a and $b have different parents")
    val tmp = Paths.get(System.getProperty("java.io.tmpdir")).toRealPath()
    assert(a.getParent.toRealPath() != tmp, s"$a sits loose in the system temp dir")
  }
}
