package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Build, SparkEntry}
import graft.sources.Tables

/** The benchmark's client: one JVM, one session, one operation
  * outstanding at a time (a closed loop with one client). It drives graft
  * only through its public calls and writes one JSON record of what it
  * measured; `perfbench/run.py` turns that record into the benchmark's
  * metrics and checks the outputs against the golden file.
  *
  * Arguments are `--key=value`:
  *  - `kind`: `faces` (an operation is one `SparkEntry` face call plus
  *    its `noop` write) or `build` (an operation is one `graft.Build`
  *    step)
  *  - `ops`: comma-separated operation names; `data`: input directory;
  *    `warehouse`: where build steps write; `since`: first month the
  *    incremental build step rewrites
  *  - `seed`, `seconds`, `trace` (0 or 1), `k` (local parallelism),
  *    `launched` (epoch ms at which the process was started), `out`
  *    (record path), `spans` (span file path, traced runs)
  */
object Harness {

  val TableNames = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  final case class OpRun(name: String, pass: Int, trace: Int,
      start: Double, end: Double, callS: Double, actionS: Double, error: Option[String]) {
    def seconds: Double = (end - start) / 1000
  }

  /** `untimedMs` is the part of the pass span spent on output checks,
    * which the pass's wall time leaves out. */
  final case class Pass(index: Int, span: Span, ops: Seq[OpRun],
      gcMs: Long, gcCount: Long, scan: Option[Span], untimedMs: Double) {
    def wallS: Double = (span.dur - untimedMs) / 1000
  }

  def main(args: Array[String]): Unit = {
    val o = args.map { a =>
      val i = a.indexOf('=')
      require(a.startsWith("--") && i > 2, s"bad argument: $a")
      a.substring(2, i) -> a.substring(i + 1)
    }.toMap
    // Spark and graft print to stdout; keep it for nothing but errors.
    System.setOut(System.err)
    val k = o("k").toInt
    val spark = graft.core.Graft.tune(
      SparkSession.builder().master(s"local[$k]").appName("perfbench"), k).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try new Run(spark, o).run() finally spark.stop()
  }

  private final class Run(spark: SparkSession, o: Map[String, String]) {
    private val kind = o("kind")
    private val ops = o("ops").split(",").toVector
    private val data = o("data")
    private val warehouse = o.getOrElse("warehouse", "")
    private val seed = o("seed").toLong
    private val seconds = o("seconds").toDouble
    private val traced = o("trace") == "1"
    private val tr = new Tracer
    private var tracing = false
    private var nextTrace = 0
    /** The result of each face's latest call, kept for the output check. */
    private val latest = scala.collection.mutable.Map[String, DataFrame]()
    private var report: Option[Build.BuildReport] = None
    private val incremental = s"$warehouse/incremental/fact_lineitem_monthly"
    /** Each build step's output check, taken right after the step ran:
      * the same in every pass, or an error. */
    private val stepChecks = scala.collection.mutable.Map[String, Map[String, Any]]()
    /** Time and collector work of the current pass's output checks. */
    private var untimedMs = 0.0
    private var untimedGc = (0L, 0L)

    private def runOp(name: String, pass: Int, parent: Int): OpRun = {
      nextTrace += 1
      val trace = nextTrace
      val sc = spark.sparkContext
      if (tracing) sc.setJobGroup(s"pb-$trace", name)
      val op = tr.open("bench.op", parent, trace, Map("op" -> name, "pass" -> pass))
      var callS, actionS = 0.0
      val error = try {
        if (kind == "faces") {
          val call = tr.open("operators.call", op.id, trace)
          val df = SparkEntry.queries(name)(spark, data)
          tr.close(call)
          latest(name) = df
          val action = tr.open("operators.action", op.id, trace)
          df.write.mode("overwrite").format("noop").save()
          tr.close(action)
          callS = call.dur / 1000
          actionS = action.dur / 1000
        } else {
          val stepSpan = tr.open(if (name == "build") "build.model" else "build.incremental", op.id, trace)
          name match {
            case "build" => report = Some(Build.build(spark, data, s"$warehouse/model"))
            case "fact_full" => Build.buildFactIncremental(spark, data, s"$warehouse/incremental", None)
            case "fact_incremental" =>
              Build.buildFactIncremental(spark, data, s"$warehouse/incremental", Some(o("since")))
          }
          tr.close(stepSpan)
          callS = stepSpan.dur / 1000
        }
        None
      } catch {
        case NonFatal(e) =>
          tr.spans.filter(s => s.trace == trace && s.end.isNaN && s.id != op.id).foreach(tr.close)
          Some(s"${e.getClass.getName}: ${e.getMessage}".take(500))
      } finally {
        if (tracing) sc.clearJobGroup()
      }
      tr.close(op)
      error.foreach(e => System.err.println(s"[perfbench] $name failed: $e"))
      OpRun(name, pass, trace, op.start, op.end, callS, actionS, error)
    }

    /** Run `body` outside the pass's timing: its wall time and collector
      * work are taken off the pass's. */
    private def untimed[T](body: => T): T = {
      val t0 = tr.now()
      val (g0, c0) = gc()
      try body finally {
        val (g1, c1) = gc()
        untimedMs += tr.now() - t0
        untimedGc = (untimedGc._1 + g1 - g0, untimedGc._2 + c1 - c0)
      }
    }

    /** One operation; a build step is followed by its output check. */
    private def step(name: String, pass: Int, parent: Int): OpRun =
      if (kind == "faces") runOp(name, pass, parent)
      else {
        val before = untimed(partitionFiles())
        val r = runOp(name, pass, parent)
        if (r.error.isEmpty) untimed {
          val v = checkStep(name, before)
          stepChecks(name) = stepChecks.get(name) match {
            case Some(prev) if prev != v => Map("error" -> "output differs between passes")
            case _ => v
          }
        }
        r
      }

    /** The incremental table's partition directories and their files. */
    private def partitionFiles(): Map[String, Set[String]] =
      Option(new java.io.File(incremental).listFiles()).toSeq.flatten
        .filter(d => d.isDirectory && d.getName.startsWith("ship_month="))
        .map(d => d.getName -> d.list().filter(_.startsWith("part-")).toSet).toMap

    /** `f` of every key, run `k` at a time: an output check's jobs are
      * small, so one at a time would leave most cores idle. */
    private def concurrently[K](keys: Seq[K])(f: K => Any): Map[K, Any] = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(o("k").toInt)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      try Await.result(Future.traverse(keys)(key => Future(key -> f(key))), Duration.Inf).toMap
      finally pool.shutdown()
    }

    private def fp(df: => DataFrame): Map[String, Any] =
      try { val r = Fingerprint.of(df); Map("rows" -> r.rows, "fp" -> r.fp) }
      catch { case NonFatal(e) => Map("error" -> s"${e.getClass.getName}: ${e.getMessage}".take(500)) }

    /** What a build step just wrote: every table of the model build plus
      * its schema tests' violation counts; for a fact step, the
      * incremental table's partition count, the partitions whose files
      * the step replaced, and their rows. The partitions an incremental
      * step leaves alone are the full step's, whose own check covers
      * them in every pass. */
    private def checkStep(name: String, before: Map[String, Set[String]]): Map[String, Any] =
      if (name == "build")
        concurrently(Seq("dim_zones", "fact_lineitem", "dm_monthly_zone_revenue", "dm_monthly_zone_statistics"))(
          t => fp(spark.read.parquet(s"$warehouse/model/$t"))) +
          ("violations" -> report.fold[Any](Map("error" -> "no build report"))(_.checks.map(c => c.name -> c.violations).toMap))
      else {
        val after = partitionFiles()
        val rewritten = after.filter { case (p, files) => !before.get(p).contains(files) }.keys.toSeq.sorted
        val rows =
          if (rewritten.isEmpty) Map("rows" -> 0L)
          else fp(spark.read.option("basePath", incremental).parquet(rewritten.map(p => s"$incremental/$p"): _*))
        Map("partitions" -> after.size, "rewritten" -> rewritten.size,
          "first" -> rewritten.headOption.orNull, "last" -> rewritten.lastOption.orNull, "rows" -> rows)
      }

    private def gc(): (Long, Long) = {
      val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
      (beans.map(_.getCollectionTime).sum, beans.map(_.getCollectionCount).sum)
    }

    /** One noop scan of every table of the workload's input, outside any
      * pass; traced runs only. */
    private def scanTables(parent: Int): Span = {
      nextTrace += 1
      val trace = nextTrace
      spark.sparkContext.setJobGroup(s"pb-$trace", "scan")
      val t = Tables(spark, data)
      val s = tr.open("sources.scan", parent, trace)
      val frames = Seq(t.region, t.nation, t.customer, t.supplier, t.part,
        t.orders, t.lineitem, t.events, t.documents, t.embeddings)
      frames.foreach(_.write.mode("overwrite").format("noop").save())
      tr.close(s)
      spark.sparkContext.clearJobGroup()
      s
    }

    /** Whole passes, each over every operation in a seeded order, until
      * `seconds` have elapsed; at least one. */
    private def timed(first: Int, root: Int): Seq[Pass] = {
      val passes = ArrayBuffer[Pass]()
      val t0 = tr.now()
      while (passes.isEmpty || (tr.now() - t0) < seconds * 1000) {
        val index = first + passes.size
        val scan = if (tracing) Some(scanTables(root)) else None
        val order = new Random(seed * 1000003L + index).shuffle(ops)
        untimedMs = 0.0
        untimedGc = (0L, 0L)
        val (g0, c0) = gc()
        val span = tr.open("bench.pass", root, 0, Map("pass" -> index, "traced" -> tracing))
        val runs = order.map(n => step(n, index, span.id))
        tr.close(span)
        val (g1, c1) = gc()
        passes += Pass(index, span, runs, g1 - g0 - untimedGc._1, c1 - c0 - untimedGc._2, scan, untimedMs)
      }
      passes.toSeq
    }

    private def present(): Unit = TableNames.foreach { t =>
      require(Files.exists(Paths.get(data, s"$t.parquet")), s"missing input $data/$t.parquet")
    }

    def run(): Unit = {
      val launched = o("launched").toDouble
      present()
      val sessionS = (tr.now() - launched) / 1000
      // warm-up: one untimed pass in the listed order
      val warm = ops.map(n => runOp(n, -1, 0))
      val warmFailures = warm.count(_.error.nonEmpty)
      val setupS = (tr.now() - launched) / 1000
      tr.spans.clear()
      val root = tr.open("bench.workload", 0, 0, Map("workload" -> o("workload"), "seed" -> seed))
      // A traced run times untraced passes before and after the traced
      // ones, so that warming during the run does not bias the overhead.
      val before = if (traced) timed(0, root.id) else Seq.empty
      if (traced) { tr.install(spark); tracing = true }
      val passes = timed(before.size, root.id)
      val after = if (traced) {
        tracing = false
        // listeners hear of jobs and streaming progress asynchronously:
        // let every started query report its end before they are removed
        val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
        while (tr.terminated < tr.startedQueries && System.nanoTime() < deadline) Thread.sleep(50)
        Thread.sleep(1000)
        tr.remove(spark)
        timed(before.size + passes.size, root.id)
      } else Seq.empty
      tr.close(root)
      val checkStart = tr.now()
      val check = outputCheck()
      val checkS = (tr.now() - checkStart) / 1000
      val untraced = before ++ after
      val record = Map(
        "setup_s" -> setupS,
        "session_s" -> sessionS,
        "warm_failures" -> warmFailures,
        "untraced_pass_s" -> untraced.map(_.wallS),
        "passes" -> passes.map(p => Map(
          "pass" -> p.index,
          "wall_s" -> p.wallS,
          "untimed_s" -> p.untimedMs / 1000,
          "ops" -> p.ops.map(r => Map("name" -> r.name, "s" -> r.seconds,
            "call_s" -> r.callS, "action_s" -> r.actionS, "error" -> r.error.orNull)),
          "layers" -> (if (traced) layers(p) else Map.empty[String, Any]))),
        "check" -> check,
        "check_s" -> checkS,
        "peak_rss_mb" -> peakRssMb())
      if (traced) writeSpans(passes)
      Files.write(Paths.get(o("out")), Json.write(record).getBytes(StandardCharsets.UTF_8))
    }

    /** Untimed: per operation, the fingerprint of each face's last result,
      * or each build step's own checks. */
    private def outputCheck(): Map[String, Any] =
      if (kind == "faces") concurrently(ops)(n => fp(latest(n)))
      else ops.map(n => n -> stepChecks.getOrElse(n, Map("error" -> "no successful run to check"))).toMap

    private def peakRssMb(): Double =
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

    private lazy val windows: Seq[(Int, Double, Double)] =
      tr.spans.filter(s => s.name == "bench.op" || s.name == "sources.scan")
        .map(s => (s.trace, s.start, s.end)).toSeq

    private lazy val attached: Map[Int, Double] = { tr.attach(windows); tr.selfTimes() }

    /** The traced pass's per-layer split. */
    private def layers(p: Pass): Map[String, Any] = {
      val self = attached
      val traces = p.ops.map(_.trace).toSet
      val runs = tr.runIdTrace(windows).filter { case (_, t) => traces(t) }
      val groups = tr.counters.toSeq.filter { case (g, _) =>
        tr.traceOf(g, windows).exists(traces)
      }.map(_._2)
      def sum(f: Counters => Long): Long = groups.map(f).sum
      def within(t: Double) = p.ops.exists(r => t >= r.start && t <= r.end)
      val spans = tr.spans.filter(s => traces(s.trace))
      def durs(name: String) = spans.filter(_.name == name).map(_.dur).sum / 1000
      val execs = tr.executions.filter(e => !e._1.isNaN && within(e._1))
      def inOps(names: Set[String])(t: Double) = p.ops.exists(r => names(r.name) && t >= r.start && t <= r.end)
      val buildExecs = execs.filter(e => inOps(Set("build"))(e._1))
      val progress = tr.progress.filter(q => runs.contains(q.runId.toString)).toSeq
      def pd(key: String) = progress.map(q => Option(q.durationMs.get(key)).map(_.longValue).getOrElse(0L)).sum / 1000.0
      val streamOps = p.ops.filter(r => runs.values.exists(_ == r.trace))
      val fixed = streamOps.map { r =>
        val trig = progress.filter(q => runs(q.runId.toString) == r.trace)
          .map(q => Option(q.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)).sum
        r.callS - trig / 1000.0
      }.sum
      val stateRows = progress.groupBy(_.runId).values.map { qs =>
        qs.maxBy(_.batchId).stateOperators.map(_.numRowsTotal).sum
      }.sum
      val tasks = sum(_.tasks)
      def selfOf(layer: String) =
        (spans ++ p.scan.toSeq).filter(_.layer == layer).map(s => self.getOrElse(s.id, 0.0)).sum / 1000
      Map(
        "sources.scan_s" -> p.scan.map(_.dur / 1000).getOrElse(0.0),
        "sources.bytes_read" -> sum(_.bytesRead),
        "sources.records_read" -> sum(_.recordsRead),
        "sources.bytes_written" -> sum(_.bytesWritten),
        "sources.files_written" -> execs.map(_._4).sum,
        "core.analysis_s" -> durs("core.analysis"),
        "core.optimize_s" -> durs("core.optimize"),
        "core.plan_s" -> durs("core.plan"),
        "operators.call_s" -> (if (kind == "faces") p.ops.map(_.callS).sum else 0.0),
        "operators.action_s" -> p.ops.map(_.actionS).sum,
        "spark.jobs" -> sum(_.jobs),
        "spark.stages" -> sum(_.stages),
        "spark.tasks" -> tasks,
        "spark.empty_tasks" -> sum(_.emptyTasks),
        "spark.useful_task_ratio" -> (if (tasks == 0) 0.0 else (tasks - sum(_.emptyTasks)).toDouble / tasks),
        "spark.task_overhead_s" -> sum(_.overheadMs) / 1000.0,
        "spark.persisted_rdds" -> groups.flatMap(_.persisted).toSet.size,
        "spark.task_run_s" -> sum(_.taskRunMs) / 1000.0,
        "spark.task_cpu_s" -> sum(_.taskCpuNs) / 1e9,
        "spark.shuffle_write_bytes" -> sum(_.shuffleWrite),
        "spark.shuffle_read_bytes" -> sum(_.shuffleRead),
        "spark.fetch_wait_s" -> sum(_.fetchWaitMs) / 1000.0,
        "spark.spill_bytes" -> sum(_.spill),
        "streaming.queries" -> runs.size,
        "streaming.batches" -> progress.size,
        "streaming.empty_batches" -> progress.count(_.numInputRows == 0),
        "streaming.add_batch_s" -> pd("addBatch"),
        "streaming.commit_s" -> (pd("walCommit") + pd("commitOffsets")),
        "streaming.state_commit_s" -> progress.flatMap(_.stateOperators.map(_.commitTimeMs)).sum / 1000.0,
        "streaming.state_rows" -> stateRows,
        "streaming.fixed_s" -> fixed,
        "build.model_s" -> buildExecs.filter(_._3).map(e => e._2 - e._1).sum / 1000,
        "build.test_s" -> buildExecs.filterNot(_._3).map(e => e._2 - e._1).sum / 1000,
        "build.incremental_s" -> durs("build.incremental"),
        "build.rows_written" -> (if (kind == "build") sum(_.recordsWritten) else 0L),
        "jvm.gc_s" -> p.gcMs / 1000.0,
        "jvm.gc_count" -> p.gcCount,
        "sources.self_s" -> selfOf("sources"),
        "core.self_s" -> selfOf("core"),
        "operators.self_s" -> selfOf("operators"),
        "spark.self_s" -> selfOf("spark"),
        "streaming.self_s" -> selfOf("streaming"),
        "build.self_s" -> selfOf("build"))
    }

    private def writeSpans(passes: Seq[Pass]): Unit = {
      val self = attached
      val passOf = passes.flatMap(p => p.ops.map(_.trace -> p.index)).toMap
      val out = tr.spans.sortBy(_.start).map { s =>
        Map("id" -> s.id, "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end,
          "parent" -> s.parent, "trace" -> s.trace, "pass" -> passOf.getOrElse(s.trace, null),
          "self_ms" -> self.getOrElse(s.id, 0.0)) ++ s.attrs
      }
      Files.write(Paths.get(o("spans")), Json.write(out).getBytes(StandardCharsets.UTF_8))
    }
  }
}
