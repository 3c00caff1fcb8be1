package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Bench's per-face record: what a timed pass ran, attributed by the job
  * property Bench sets for the pass.
  */
class BenchRecordSpec extends AnyFunSuite {

  private lazy val spark: SparkSession =
    graft.core.Graft.tune(SparkSession.builder().master("local[4]"), 4).getOrCreate()
  private val dir = "perfbench/data/sf0.01"

  test("Bench records each face's timed pass, and no face's jobs count under another") {
    val sc = spark.sparkContext
    // (job id, the face its property names), as every job starts
    val jobs = new ConcurrentLinkedQueue[(Int, Option[String])]()
    val probe = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(e.jobId ->
          Option(e.properties).flatMap(p => Option(p.getProperty(FaceRecorder.FaceKey)))): Unit
    }
    sc.addSparkListener(probe)
    val recorder = new FaceRecorder(spark)
    try {
      val recs = Seq("q1_pricing", "q_stream_hourly", "q1_pricing").map { name =>
        GraftBridge.drainListenerBus(sc)
        val from = jobs.size
        val rec = Bench.timeFace(spark, dir, recorder, name, SparkEntry.queries(name))
          .getOrElse(fail(s"$name failed its warm-up pass"))
        // the record drains the bus, so every job of this call is in
        val call = jobs.asScala.toSeq.drop(from)
        // the warm-up's jobs carry no face, the timed pass's carry this one
        assert(call.flatMap(_._2).forall(_ == name),
          s"$name's call ran jobs of ${call.flatMap(_._2).distinct.mkString(", ")}")
        assert(call.count(_._2.contains(name)) == rec.jobs)
        assert(rec.jobs > 0 && rec.stages > 0 && rec.sec > 0)
        rec
      }
      val Seq(q1, stream, q1Again) = recs
      assert(q1.inputBytes > 0, q1.json)
      assert(q1.shuffleWriteBytes > 0 && q1.shuffleWriteRecords > 0, q1.json)
      assert(q1.plan.contains("AdaptiveSparkPlan isFinalPlan=true"), q1.plan)
      assert(q1.plan.contains("Exchange"), q1.plan)
      assert(q1.batches.isEmpty && q1Again.batches.isEmpty)
      assert(stream.batches.nonEmpty, "q_stream_hourly recorded no micro-batch")

      val mapper = new ObjectMapper()
      recs.foreach { r =>
        val node = mapper.readTree(r.json)
        assert(node.get("face").asText == r.face)
        assert(node.get("shuffle_write_bytes").asLong == r.shuffleWriteBytes)
        assert(node.get("plan").asText == r.plan)
        assert(node.get("joins").size == r.joins.size)
      }
      val batches = mapper.readTree(stream.json).get("batches")
      assert(batches.size == stream.batches.size)
      assert(batches.get(0).has("batchId") && batches.get(0).has("stateOperators"))
    } finally {
      recorder.close()
      sc.removeSparkListener(probe)
    }
  }
}
