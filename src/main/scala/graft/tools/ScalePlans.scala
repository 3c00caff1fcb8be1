package graft.tools

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Scale-up plan observatory (VERDICT r7 item #1): runs the SF-scaling
  * join queries END TO END at a given data directory and dumps the
  * FINAL adaptive physical plan — the one AQE actually executed, not
  * the static estimate `explain` shows before runtime stats exist.
  *
  * The point: graft's 100 TB story claims the B-block / fact-build
  * joins are UNHINTED, so Spark broadcasts the dim side while it is
  * small and flips to shuffled SortMergeJoin (with AQE skew split when
  * a reducer is hot) as data grows — the same query text, adapting.
  * Through r7 that flip was designed for (PlanSpec forbids broadcast
  * hints on SF-scaling tables) but never OBSERVED: sf0.1 keeps every
  * dim under the 10 MB `autoBroadcastJoinThreshold`. This main runs
  * the inventory's scaling joins at 64×/128× sf0.1 replicas
  * (`graft.tools.ScaleUp`) where customer (15 MB @64×) and part
  * (19 MB @128×) genuinely cross the default threshold, and captures
  * the executed plans via a QueryExecutionListener (the only hook that
  * sees `isFinalPlan=true` after the run completes).
  *
  * Two broadcast-threshold arms, passed as MB in arg 3: graft's
  * default, which since r8 is Spark's stock 10 MB
  * ([[graft.core.Graft.tune]] — the r8 scale-up run FALSIFIED the
  * earlier 64 MB setting: at 128× it admitted a 19 M-row "33 MB
  * estimate" orders side as a broadcast and degraded the whole shared
  * session ~13×), and an explicit override arm for comparison. The
  * query text is identical in both arms — only cluster config moves —
  * which is exactly the invariance the reference's dbt models have and
  * graft must match.
  *
  * Usage: runMain graft.tools.ScalePlans <dir> <label> [thresholdMb|-] [append]
  * Writes/appends markdown to PLANS_SCALE.md with a per-query verdict
  * line (joins found + skew flags) above each plan dump.
  */
object ScalePlans {
  /** Filter via SPARK_GRAFT_PLANS_ONLY=q_a,q_b — one query per fresh
    * JVM is the clean-measurement mode (a shared session lets one
    * query's broadcast/GC debt contaminate its successors: q14_promo
    * measured 187.7 s after q5_join5's 64 MB-threshold broadcasts vs
    * 14.1 s in a clean session, identical plan both times).
    */
  private val Watched = Seq(
    "q1_pricing", "q3_topk", "q5_join5", "q14_promo", "q18_big_orders",
    "q_fact_join")

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val label = args(1)
    val thresholdMb: Option[Int] =
      args.lift(2).filter(_ != "-").map(_.toInt)
    val append = args.length > 3 && args(3) == "append"
    val spark = graft.core.Graft.localSession()
    thresholdMb.foreach(mb => spark.conf.set(
      "spark.sql.autoBroadcastJoinThreshold", (mb.toLong << 20).toString))

    // The executed (post-AQE-finalization) plan is only observable
    // after the job finishes; a listener keeps the QueryExecution of
    // the noop-sink command so we read the final plan, not the draft.
    @volatile var lastQe: QueryExecution = null
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = { lastQe = qe }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)

    val sb = new StringBuilder
    if (!append)
      sb.append("# PLANS_SCALE — executed adaptive plans across scale-up replicas\n\n")
        .append("Generated by `runMain graft.tools.ScalePlans <dir> <label>`; data\n")
        .append("dirs from `runMain graft.tools.ScaleUp /root/testdata/sf0.1 <out> <N>`\n")
        .append("(and `SkewUp` for the hot-key variant). All joins UNHINTED; each\n")
        .append("section states its `autoBroadcastJoinThreshold` arm (graft's\n")
        .append("default = Spark's stock 10 MB since r8 falsified 64 MB, or an\n")
        .append("explicit override arm).\n")
        .append("AQE skew thresholds as stated per section. The flip evidence for\n")
        .append("SURVEY §5/§6.\n")
    val thrLabel = thresholdMb.map(mb => s"$mb MB (override)").getOrElse("10 MB (graft default)")
    val only = sys.env.get("SPARK_GRAFT_PLANS_ONLY")
      .map(_.split(",").map(_.trim).toSeq)
    // per-query-JVM mode: the caller writes the section header once and
    // invokes this main per query; don't repeat the header per JVM
    if (only.isEmpty || !append)
      sb.append(s"\n---\n\n## scale point: $label ($dir, broadcast threshold $thrLabel)\n")

    val watched = only.getOrElse(Watched)
    watched.foreach { name =>
      // decimal-heavy predecessors leave multi-second GC debt in a shared
      // 24 GB heap; collect it outside the timing window (same rule as
      // Bench) so successor times aren't 3–10× inflated (observed: q14
      // 72.8 s after q1's sweep vs 5.4 s solo at 64×).
      System.gc()
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(name)(spark, dir)
      lastQe = null
      df.write.mode("overwrite").format("noop").save()
      val secs = (System.nanoTime() - t0) / 1e9
      // listener fires asynchronously after the job; poll briefly
      var waited = 0
      while (lastQe == null && waited < 50) { Thread.sleep(100); waited += 1 }
      val plan = if (lastQe != null) lastQe.executedPlan.toString
                 else df.queryExecution.executedPlan.toString
      val joins = plan.linesIterator.map(_.trim)
        .filter(l => l.contains("SortMergeJoin") || l.contains("BroadcastHashJoin")
          || l.contains("ShuffledHashJoin") || l.contains("BroadcastNestedLoopJoin"))
        .map(_.replaceAll("\\s+", " ").take(160)).toSeq
      val skew = plan.contains("skew=true")
      sb.append(s"\n### $name — ${f"$secs%.2f"} s, skew-split=${skew}\n\n")
      joins.foreach(j => sb.append(s"- `$j`\n"))
      sb.append("\n<details><summary>final plan</summary>\n\n```\n")
      sb.append(plan)
      sb.append("\n```\n</details>\n")
      System.err.println(f"[scaleplans] $name%-18s $secs%7.2f s  skew=$skew  joins=${joins.size}")
    }

    val path = Paths.get("PLANS_SCALE.md")
    if (append && Files.exists(path))
      Files.writeString(path, sb.toString, StandardOpenOption.APPEND)
    else Files.writeString(path, sb.toString)
    println(s"[scaleplans] wrote PLANS_SCALE.md section '$label'")
    spark.stop()
  }
}
