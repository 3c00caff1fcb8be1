package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.Graft

import scala.util.control.NonFatal

/** Benchmark main: times every SparkEntry query at the given scale
  * factor and prints the driver's one-line JSON. Queries are forced
  * end-to-end with a `noop` sink (a bare `.count()` would let Catalyst
  * prune projections and under-report the real work). Each timed pass
  * is also recorded ([[FaceRecorder]]): one JSON line per face goes to
  * `bench_faces.jsonl` beside `bench.json`.
  *
  * `SPARK_GRAFT_ONLY=q_a,q_b` times just those faces, and
  * `SPARK_GRAFT_SF_DIR` picks the data, so one face's executed plan,
  * shuffle bytes or stream progress at any scale is one run away.
  */
object Bench {
  private def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
  private def sec(v: Double): String = f"$v%.3f"
  private def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }
  private def entry(key: String, value: String): String = "\"" + key + "\":" + value

  /** Drops every persisted RDD. A face's checkpoints stay registered in
    * the block manager until the ContextCleaner gets to them, and the
    * leftovers of earlier faces inflated later ones (q_copurchase read
    * 15.7 s in a sweep, right after checkpoint-heavy q_components, vs
    * 2.6 s solo). No persisted frame outlives one face call: every
    * checkpoint is made inside the call, so dropping them all between
    * faces changes only what a face pays for. The drop that opens a
    * timing window blocks, so no unpersist still runs inside it.
    */
  private[graft] def dropPersisted(spark: SparkSession, blocking: Boolean = false): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = blocking))

  /** One face: an untimed warm-up pass (planning, codegen, JIT), then a
    * gc-fenced, recorded timed pass. None when the warm-up fails; the
    * error is named on stderr. NonFatal only: a dying JVM is not a
    * per-face failure.
    */
  private[graft] def timeFace(spark: SparkSession, sfDir: String, recorder: FaceRecorder,
      name: String, fn: (SparkSession, String) => DataFrame): Option[FaceRecord] = {
    try noop(fn(spark, sfDir)) catch {
      case NonFatal(e) =>
        System.err.println(s"BENCH FAIL $name: ${e.getClass.getName}: ${e.getMessage}")
        dropPersisted(spark)
        return None
    }
    // collect earlier faces' garbage outside the timing window
    dropPersisted(spark, blocking = true)
    System.gc()
    val rec = recorder.record(name)(noop(fn(spark, sfDir)))
    dropPersisted(spark)
    Some(rec)
  }

  /** bench.json's `"scaleup"` member: per face, the min of its timed
    * passes under `queries` (-1 for a failed face) and every pass under
    * `reps_sec`, so a contended pass shows beside the one kept.
    */
  private[graft] def scaleupJson(dir: String, reps: Seq[(String, Seq[Double])]): String = {
    def obj(f: Seq[Double] => String) =
      reps.map { case (k, r) => entry(k, f(r)) }.mkString("{", ",", "}")
    val m = obj(r => sec(r.minOption.getOrElse(-1.0)))
    val all = obj(_.map(sec).mkString("[", ",", "]"))
    val total = reps.flatMap(_._2.minOption).sum
    s""""scaleup":{"dir":"$dir","factor_vs_sf01":64,"reps":2,"total":${sec(total)},""" +
      s""""queries":$m,"reps_sec":$all}"""
  }

  def main(args: Array[String]): Unit = {
    // Consumers parse JSON lines from stdout, so everything else written
    // to System.out (JVM chatter, Spark banners, stray printlns) goes to
    // stderr, and the JSON goes out through the real stdout.
    val realOut = System.out
    System.setOut(System.err)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Graft.localSession()
    val only = SparkEntry.only

    // Process-wide cold costs (classloading, parquet reader init, codegen
    // compiler, JIT) land on whichever faces run first, ~3× their solo
    // times; the per-face warm-up cannot absorb them, so one untimed pass
    // over the headliners comes before any timing.
    Seq("q1_pricing", "q3_topk", "q5_join5", "q14_promo", "q18_big_orders")
      .foreach { name =>
        try noop(SparkEntry.queries(name)(spark, sfDir))
        catch {
          case NonFatal(e) => System.err.println(
            s"BENCH WARMUP FAIL $name: ${e.getClass.getName}: ${e.getMessage}")
        }
      }
    // Box-speed calibration: one warm, gc-fenced q1_pricing pass before
    // the sweep piles up heap debris. tools/bench_compare.py divides
    // cross-run ratios by it, so a uniformly slower machine does not
    // flag untouched faces.
    val calibration: Double =
      try { System.gc(); seconds(noop(SparkEntry.queries("q1_pricing")(spark, sfDir))) }
      catch { case NonFatal(_) => -1.0 }
    // Scale-up arm: when a ScaleUp replica exists (`runMain
    // graft.tools.ScaleUp <sf0.1 dir> target/scaleup64 64`),
    // time the SF-scaling headline joins at 64× sf0.1, where the
    // unhinted orders-side joins flip to SortMergeJoin (run Bench with
    // SPARK_GRAFT_SF_DIR at the replica to record those plans). It runs
    // before the sweep's heap debris. The first read of a replica pays
    // cold page-cache I/O (one cold pass read 200 s against ~2 s
    // steady), so each face gets an untimed pass, then the min of two
    // gc-fenced passes: one pass cannot tell box contention from a real
    // cliff. bench.json keeps both passes. Skipped when the dir is absent.
    val scaleDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "target/scaleup64")
    val scaleReps: Seq[(String, Seq[Double])] =
      if (only.isEmpty && new java.io.File(s"$scaleDir/lineitem.parquet").isDirectory) {
        Seq("q1_pricing", "q3_topk", "q5_join5", "q14_promo",
          "q18_big_orders", "q_fact_join").map { name =>
          def once(): Unit = noop(SparkEntry.queries(name)(spark, scaleDir))
          val reps = try {
            once()
            for (_ <- 1 to 2) yield {
              dropPersisted(spark, blocking = true)
              System.gc()
              val dt = seconds(once())
              dropPersisted(spark)
              dt
            }
          } catch {
            case NonFatal(e) =>
              System.err.println(
                s"BENCH SCALEUP FAIL $name: ${e.getClass.getName}: ${e.getMessage}")
              Seq.empty
          }
          name -> reps
        }
      } else Seq.empty

    val recorder = new FaceRecorder(spark)
    // stable order for readable output
    val timed = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) => name -> timeFace(spark, sfDir, recorder, name, fn) }
    recorder.close()
    val results = timed.map { case (name, rec) => name -> rec.map(_.sec).getOrElse(-1.0) }
    val qs = results.map { case (k, v) => entry(k, sec(v)) }.mkString("{", ",", "}")
    val totalStr = sec(results.map(_._2).filter(_ >= 0).sum)
    val scaleJson = if (scaleReps.isEmpty) "" else "," + scaleupJson(scaleDir, scaleReps)

    val calJson = s""","calibration":{"probe":"q1_pricing","sec":${sec(calibration)}}"""
    val json =
      s"""{"metric":"total","value":$totalStr,"unit":"sec","queries":$qs,"sf":"$sfDir"$calJson$scaleJson}"""
    // The full map, also written to bench.json as the durable contract
    // (sbt's logger can prefix a stdout line).
    realOut.println(json)
    // Consumers parse the LAST stdout line from a 2000-char tail, and
    // the 244 names alone take 3259 bytes, so the last line is a compact
    // headline: total, count, the worst 5, and as many of the most
    // expensive faces as fit a 1900-byte budget. Keys are additions only.
    val ranked = results.filter(_._2 >= 0).sortBy(-_._2).map { case (k, v) => entry(k, sec(v)) }
    val worst = ranked.take(5).mkString("{", ",", "}")
    val scaleHeadline = if (scaleReps.isEmpty) "" else
      s""","scaleup64_total":${sec(scaleReps.flatMap(_._2.minOption).sum)}"""
    val headlinePrefix =
      s"""{"metric":"total","value":$totalStr,"unit":"sec","n":${results.size},"queries":"""
    val headlineSuffix =
      s""","worst":$worst,"sf":"$sfDir"$calJson$scaleHeadline}"""
    val budget = 1900 - headlinePrefix.length - headlineSuffix.length - 2
    val topEntries = {
      val b = Seq.newBuilder[String]
      var used = 0
      for (e <- ranked if used + e.length + 1 <= budget) { b += e; used += e.length + 1 }
      b.result()
    }
    val headline = headlinePrefix +
      topEntries.mkString("{", ",", "}") + headlineSuffix
    realOut.println(headline)
    realOut.flush()
    // stdout remains authoritative if a file cannot be written
    def write(path: String, text: String): Unit =
      try Files.write(Paths.get(path), text.getBytes(UTF_8))
      catch { case NonFatal(e) => System.err.println(s"BENCH could not write $path: $e") }
    write("bench.json", json + "\n")
    write("bench_faces.jsonl", timed.flatMap(_._2).map(_.json + "\n").mkString)
    spark.stop()
  }
}
