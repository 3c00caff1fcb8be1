package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Dev tool: measured shuffle accounting — the empirical check on
  * SURVEY §5's bytes-per-row table. Runs each query at sf0.1 and
  * reports scan input vs shuffle write bytes from the stage metrics:
  * `runMain graft.ShuffleAudit [q_x q_y …]`.
  */
object ShuffleAudit {

  private class Audit extends SparkListener {
    @volatile var shuffleWrite = 0L
    @volatile var input = 0L
    @volatile var shuffleRecords = 0L
    def reset(): Unit = { shuffleWrite = 0; input = 0; shuffleRecords = 0 }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val m = sc.stageInfo.taskMetrics
      if (m != null) {
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        input += m.inputMetrics.bytesRead
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = if (args.nonEmpty) args.toSeq else Seq(
      "q1_pricing", "q_fact_join", "q_monthly_rollup", "q_dedup_minhash",
      "q_dedup_exact", "q_span_dedup", "q_contamination_bloom",
      "q_reservoir_sample", "q_corpus_shuffle", "q_asof_native",
      "q_unigram_logprob", "q_ann_topk")
    val spark = core.Graft.localSession()
    val audit = new Audit
    spark.sparkContext.addSparkListener(audit)

    println(f"${"query"}%-24s ${"input MB"}%10s ${"shuffle MB"}%11s ${"shuf rows"}%10s")
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      fn(spark, sfDir).write.mode("overwrite").format("noop").save() // warm
      Thread.sleep(500) // listener bus drains asynchronously
      audit.reset()
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      Thread.sleep(500)
      println(f"$n%-24s ${audit.input / 1e6}%10.1f ${audit.shuffleWrite / 1e6}%11.2f ${audit.shuffleRecords}%10d")
    }
    spark.stop()
  }
}
