package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
import org.apache.spark.sql.util.QueryExecutionListener

/** What one face's timed pass did: its seconds, the jobs and completed
  * stages it ran, its scan input, shuffle write and spill (shuffle kept
  * on its own line), the final post-AQE executed plan of its `noop`
  * write, and the progress JSON of each streaming micro-batch it ran.
  */
private[graft] final case class FaceRecord(face: String, sec: Double, jobs: Int, stages: Int,
    inputBytes: Long, shuffleWriteBytes: Long, shuffleWriteRecords: Long,
    spillBytes: Long, plan: String, batches: Seq[String]) {

  def joins: Seq[String] = plan.linesIterator.map(_.trim)
    .filter(l => FaceRecord.JoinOperators.exists(l.contains))
    .map(_.replaceAll("\\s+", " ").take(160)).toSeq

  /** AQE split a skewed partition somewhere in the executed plan. */
  def skewSplit: Boolean = plan.contains("skew=true")

  /** One JSON object on one line. */
  def json: String = Seq(
    "face" -> Json.str(face), "sec" -> f"$sec%.3f", "jobs" -> jobs.toString,
    "stages" -> stages.toString, "input_bytes" -> inputBytes.toString,
    "shuffle_write_bytes" -> shuffleWriteBytes.toString,
    "shuffle_write_records" -> shuffleWriteRecords.toString,
    "spill_bytes" -> spillBytes.toString, "skew_split" -> skewSplit.toString,
    "joins" -> joins.map(Json.str).mkString("[", ",", "]"), "plan" -> Json.str(plan),
    "batches" -> batches.mkString("[", ",", "]"))
    .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
}

private[graft] object FaceRecord {
  private val JoinOperators = Seq("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
    "BroadcastNestedLoopJoin")
}

/** Records each timed pass of a face from the context's listener bus.
  *
  * A job belongs to the face named by its [[FaceRecorder.FaceKey]] local
  * property, which [[record]] sets on the calling thread for the pass
  * only. Spark carries local properties to the threads a pass starts or
  * uses: a stream's execution thread inherits them, and exchange and
  * subquery pools capture the caller's. A micro-batch's progress belongs
  * to the face whose jobs ran under the stream's run id, which Spark sets
  * as the job group of each batch. The recorder sets no job group: a
  * harness around the face may use the group for its own attribution.
  */
private[graft] final class FaceRecorder(spark: SparkSession) {
  private final class Counts {
    var jobs, stages = 0
    var input, shuffleBytes, shuffleRecords, spill = 0L
  }
  private val counts = mutable.Map[String, Counts]()
  private val stageFace = mutable.Map[Int, String]()
  private val runFace = mutable.Map[String, String]()
  private val progress = mutable.ArrayBuffer[(String, String)]()
  @volatile private var recording = false
  @volatile private var lastQe: QueryExecution = null

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(FaceRecorder.FaceKey)))
        .foreach { face =>
          FaceRecorder.this.synchronized {
            counts.getOrElseUpdate(face, new Counts).jobs += 1
            e.stageIds.foreach(stageFace(_) = face)
            Option(e.properties.getProperty("spark.jobGroup.id")).foreach(runFace(_) = face)
          }
        }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      FaceRecorder.this.synchronized {
        stageFace.get(e.stageInfo.stageId).foreach { face =>
          val c = counts.getOrElseUpdate(face, new Counts)
          c.stages += 1
          Option(e.stageInfo.taskMetrics).foreach { m =>
            c.input += m.inputMetrics.bytesRead
            c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            c.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
            c.spill += m.diskBytesSpilled
          }
        }
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: QueryProgressEvent => FaceRecorder.this.synchronized {
        progress += (p.progress.runId.toString -> p.progress.json)
      }
      case _ =>
    }
  }

  // The last execution of the caller's session to end inside the pass is
  // its `noop` write, whose plan AQE has finalized by then.
  private val executions = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (recording) lastQe = qe
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(executions)

  /** Runs `pass` as `face`'s timed pass and returns its record. The
    * listener bus is drained before and after, outside the timed window.
    */
  def record(face: String)(pass: => Unit): FaceRecord = {
    val sc = spark.sparkContext
    GraftBridge.drainListenerBus(sc)
    synchronized { counts.clear(); stageFace.clear(); runFace.clear(); progress.clear() }
    lastQe = null
    recording = true
    sc.setLocalProperty(FaceRecorder.FaceKey, face)
    val t0 = System.nanoTime()
    try pass finally sc.setLocalProperty(FaceRecorder.FaceKey, null)
    val sec = (System.nanoTime() - t0) / 1e9
    GraftBridge.drainListenerBus(sc)
    recording = false
    val plan = Option(lastQe).map(_.executedPlan.toString).getOrElse("")
    lastQe = null
    synchronized {
      val c = counts.getOrElse(face, new Counts)
      FaceRecord(face, sec, c.jobs, c.stages, c.input, c.shuffleBytes,
        c.shuffleRecords, c.spill, plan,
        progress.collect { case (run, json) if runFace.get(run).contains(face) => json }.toSeq)
    }
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(executions)
  }
}

private[graft] object FaceRecorder {
  /** The local property that names the face a job runs for. */
  val FaceKey = "graft.bench.face"
}
