package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch milliseconds with sub-millisecond
  * precision for spans the harness records itself; spans derived from
  * Spark's listeners carry the millisecond times Spark reports.
  */
final case class Span(
    id: Int, name: String, start: Double, var end: Double,
    var parent: Int, trace: Int, attrs: Map[String, Any] = Map.empty) {
  def dur: Double = end - start
  def layer: String = name.takeWhile(_ != '.')
}

/** Per-group task and job counters, summed on the listener bus. */
final class Counters {
  var jobs, stages, tasks, emptyTasks = 0L
  var taskRunMs, taskCpuNs, overheadMs = 0L
  var bytesRead, recordsRead, bytesWritten, recordsWritten = 0L
  var shuffleWrite, shuffleRead, fetchWaitMs, spill = 0L
  val persisted = mutable.Set[Int]()
}

/** The traced run's recorder. Harness spans are opened and closed on the
  * client thread; Spark's listener buses deliver jobs, stages, tasks,
  * query executions and streaming progress on their own threads, so
  * those land in synchronized buffers and are attached to the harness
  * spans once the run ends. Everything stays in memory until then.
  *
  * Attribution: every operation runs under its own job group
  * (`pb-<trace>`), so its jobs, stages and tasks carry its trace id.
  * Streaming micro-batches run under a job group set by Spark to the
  * query's run id; a run id belongs to the operation during which the
  * query started. Query-planning phases carry no group and are placed by
  * time inside the single outstanding operation.
  */
final class Tracer {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  val spans = ArrayBuffer[Span]()
  private var nextId = 0
  def span(name: String, start: Double, end: Double, parent: Int, trace: Int,
      attrs: Map[String, Any] = Map.empty): Span = synchronized {
    nextId += 1
    val s = Span(nextId, name, start, end, parent, trace, attrs)
    spans += s
    s
  }
  def open(name: String, parent: Int, trace: Int, attrs: Map[String, Any] = Map.empty): Span =
    span(name, now(), Double.NaN, parent, trace, attrs)
  def close(s: Span): Span = { s.end = now(); s }

  private val stageGroup = mutable.Map[Int, String]()
  val counters = mutable.Map[String, Counters]()
  private val stageSpans = ArrayBuffer[(String, Int, Double, Double)]()
  private val planPhases = ArrayBuffer[(String, Double, Double)]()
  /** (start ms, end ms, is a file write, files written) per query execution */
  val executions = ArrayBuffer[(Double, Double, Boolean, Long)]()
  private val queryStarts = mutable.Map[String, Double]()
  val progress = ArrayBuffer[org.apache.spark.sql.streaming.StreamingQueryProgress]()
  @volatile var terminated = 0

  private def group(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")

  private def c(g: String): Counters = counters.getOrElseUpdate(g, new Counters)

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val g = group(e.properties)
      e.stageIds.foreach(id => stageGroup(id) = g)
      c(g).jobs += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val i = e.stageInfo
      val g = stageGroup.getOrElse(i.stageId, "")
      val k = c(g)
      k.stages += 1
      i.rddInfos.filter(_.storageLevel.isValid).foreach(r => k.persisted += r.id)
      for (s <- i.submissionTime; f <- i.completionTime)
        stageSpans += ((g, i.stageId, s.toDouble, f.toDouble))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      val k = c(stageGroup.getOrElse(e.stageId, ""))
      k.tasks += 1
      if (m != null) {
        k.taskRunMs += m.executorRunTime
        k.taskCpuNs += m.executorCpuTime
        k.overheadMs += math.max(0L, e.taskInfo.duration - m.executorRunTime)
        k.bytesRead += m.inputMetrics.bytesRead
        k.recordsRead += m.inputMetrics.recordsRead
        k.bytesWritten += m.outputMetrics.bytesWritten
        k.recordsWritten += m.outputMetrics.recordsWritten
        k.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        k.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        k.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        k.spill += m.diskBytesSpilled
        val moved = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead +
          m.shuffleWriteMetrics.recordsWritten + m.outputMetrics.recordsWritten
        if (moved == 0) k.emptyTasks += 1
      }
    }
  }

  val executionListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe, 0L)
    private def record(qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      // writes sit below adaptive plans, query stages and command results,
      // which plain tree traversal does not enter
      def writes(p: SparkPlan): Seq[Long] = p match {
        case w: DataWritingCommandExec => Seq(w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L))
        case a: AdaptiveSparkPlanExec => writes(a.executedPlan)
        case q: QueryStageExec => writes(q.plan)
        case c: CommandResultExec => writes(c.commandPhysicalPlan)
        case other => other.children.flatMap(writes)
      }
      val files = writes(qe.executedPlan)
      Tracer.this.synchronized {
        phases.foreach { case (name, p) =>
          planPhases += ((name, p.startTimeMs.toDouble, p.endTimeMs.toDouble))
        }
        val start = if (phases.isEmpty) Double.NaN else phases.values.map(_.startTimeMs).min.toDouble
        val plannedEnd = if (phases.isEmpty) start else phases.values.map(_.endTimeMs).max.toDouble
        executions += ((start, math.max(plannedEnd, start + durationNs / 1e6), files.nonEmpty, files.sum))
      }
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = Tracer.this.synchronized {
      queryStarts(e.runId.toString) = java.time.Instant.parse(e.timestamp).toEpochMilli.toDouble
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized { progress += e.progress }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      Tracer.this.synchronized { terminated += 1 }
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(executionListener)
    spark.streams.addListener(streamListener)
  }

  def remove(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(executionListener)
    spark.streams.removeListener(streamListener)
  }

  def startedQueries: Int = synchronized(queryStarts.size)

  /** The operation (trace id) a job group belongs to, given each
    * operation's time window. */
  def traceOf(g: String, windows: Seq[(Int, Double, Double)]): Option[Int] =
    if (g.startsWith("pb-")) Some(g.stripPrefix("pb-").toInt)
    else synchronized(queryStarts.get(g)).flatMap(t => windowAt(t, windows))

  def windowAt(t: Double, windows: Seq[(Int, Double, Double)]): Option[Int] =
    windows.collectFirst { case (id, s, e) if t >= s - 1 && t <= e + 1 => id }

  def runIdTrace(windows: Seq[(Int, Double, Double)]): Map[String, Int] = synchronized {
    queryStarts.toMap.flatMap { case (run, t) => windowAt(t, windows).map(run -> _) }
  }

  /** Attach listener-derived spans beneath the harness spans: stages to
    * their operation (inside a streaming batch when one covers them),
    * streaming batches to their operation's call, planning phases to the
    * innermost harness span that contains them in time. */
  def attach(windows: Seq[(Int, Double, Double)]): Unit = synchronized {
    val harness = spans.toVector
    def innermost(trace: Option[Int], t: Double, within: Seq[Span]): Option[Span] =
      within.filter(s => trace.forall(_ == s.trace) && t >= s.start - 1 && t <= s.end + 1)
        .sortBy(_.dur).headOption
    val runs = runIdTrace(windows)
    val batches = progress.toVector.flatMap { p =>
      runs.get(p.runId.toString).map { trace =>
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val dur = Option(p.durationMs.get("triggerExecution")).map(_.toDouble).getOrElse(0.0)
        val parent = innermost(Some(trace), start + dur / 2, harness).map(_.id).getOrElse(0)
        span("streaming.batch", start, start + dur, parent, trace,
          Map("run_id" -> p.runId.toString, "batch" -> p.batchId))
      }
    }
    stageSpans.foreach { case (g, stage, s, e) =>
      traceOf(g, windows).foreach { trace =>
        val mid = (s + e) / 2
        val parent = innermost(Some(trace), mid, batches).orElse(innermost(Some(trace), mid, harness))
        span("spark.stage", s, e, parent.map(_.id).getOrElse(0), trace, Map("stage" -> stage))
      }
    }
    planPhases.foreach { case (phase, s, e) =>
      val mid = (s + e) / 2
      windowAt(mid, windows).foreach { trace =>
        val parent = innermost(Some(trace), mid, harness).map(_.id).getOrElse(0)
        val name = phase match {
          case "analysis" => "core.analysis"
          case "optimization" => "core.optimize"
          case "planning" => "core.plan"
          case other => s"core.$other"
        }
        span(name, s, e, parent, trace)
      }
    }
  }

  /** Each span's self time: its duration minus the part of it that its
    * children cover. */
  def selfTimes(): Map[Int, Double] = synchronized {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Seq.empty)
        .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var total, curS, curE = 0.0
      var open = false
      covered.foreach { case (a, b) =>
        if (!open) { curS = a; curE = b; open = true }
        else if (a <= curE) curE = math.max(curE, b)
        else { total += curE - curS; curS = a; curE = b }
      }
      if (open) total += curE - curS
      s.id -> math.max(0.0, s.dur - total)
    }.toMap
  }
}
