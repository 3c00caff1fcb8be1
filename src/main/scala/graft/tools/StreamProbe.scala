package graft.tools

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Dev-only streaming decomposition probe (r11 VERDICT #4): runs the
  * named streaming queries with a [[StreamingQueryListener]] attached
  * and appends every micro-batch's QueryProgressEvent JSON to
  * `<outFile>` — the committed evidence for where a streaming face's
  * wall-clock goes (state-store init vs per-batch shuffle vs source
  * staging). The listener is observation-only; the query itself is the
  * unmodified registered face, computed from the parquet inputs.
  *
  * Usage: runMain graft.tools.StreamProbe <dataDir> <outFile> <q1,q2,...>
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val outFile = Paths.get(args(1))
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val spark = graft.core.Graft.localSession()
    if (outFile.getParent != null) Files.createDirectories(outFile.getParent)
    def append(line: String): Unit =
      Files.writeString(outFile, line + "\n",
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    @volatile var current = "?"
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit =
        append(s"""{"face":"$current","event":"started","ts":"${e.timestamp}"}""")
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        append(s"""{"face":"$current","event":"progress","progress":${e.progress.json}}""")
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        append(s"""{"face":"$current","event":"terminated"}""")
    }
    spark.streams.addListener(listener)
    names.foreach { name =>
      current = name
      spark.sparkContext.setJobDescription(s"streamprobe: $name")
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(name)(spark, dir)
      df.write.mode("overwrite").format("noop").save()
      val dt = (System.nanoTime() - t0) / 1e9
      append(f"""{"face":"$name","event":"wall","sec":$dt%.3f}""")
      System.err.println(f"[streamprobe] $name wall=$dt%.3f s")
    }
    spark.streams.removeListener(listener)
    spark.stop()
  }
}
