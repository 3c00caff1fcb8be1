package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Dev-only plan dumper for the optimization-round evidence files
  * (plans/r{N}/<query>_<suffix>.txt): writes `.explain("formatted")`
  * for each named query against the given data dir. Unlike
  * [[ScalePlans]] (executed adaptive plan, markdown ledger) this emits
  * the static formatted plan — the artifact the optimization deliverable
  * pins (Exchange count, join strategy, PushedFilters/ReadSchema,
  * codegen spans are all visible pre-execution).
  *
  * Usage: runMain graft.tools.PlanDump <dataDir> <outDir> <suffix> <q1,q2,...>
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = args(3).split(",").map(_.trim).filter(_.nonEmpty)
    val spark = graft.core.Graft.localSession()
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      spark.sparkContext.setJobDescription(s"plandump: $name")
      val df = graft.SparkEntry.queries(name)(spark, dir)
      val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), txt)
      System.err.println(s"[plandump] $name -> $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
