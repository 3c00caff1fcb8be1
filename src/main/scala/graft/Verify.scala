package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = graft.core.Graft.localSession()
    new java.io.File(outDir).mkdirs()
    // dev loop only (driver sets no env): SPARK_GRAFT_ONLY=q_a,q_b
    // dumps + oracle-lists just those queries
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      if (unknown.nonEmpty)
        System.err.println(
          s"WARNING: SPARK_GRAFT_ONLY names match no registered query: ${unknown.mkString(", ")}")
    }
    // Driver contract: one part file per query (coalesce(1)).
    // SPARK_GRAFT_DUMP_PARTS=1 (dev scale-gate runs only) skips the
    // coalesce: at 64× sf0.1 a fat query's final agg + parquet encode
    // otherwise runs inside the ONE coalesced task (observed r9: 30+
    // min single-threaded per lineitem-scale dump), while the checker
    // already globs and concats every part file.
    val dumpParts = sys.env.contains("SPARK_GRAFT_DUMP_PARTS")
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          (if (dumpParts) df else df.coalesce(1))
            .write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case NonFatal(e) =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        } finally {
          // same block hygiene as Bench (r11): faces that eagerly
          // localCheckpoint bounded frames would otherwise accumulate
          // dead blocks across the 244-face dump until the async
          // ContextCleaner catches up — memory pressure the NEXT face
          // pays for. Each face rebuilds its own checkpoints.
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = false))
          // r12, gate runs only: shuffle FILES of a completed face are
          // deleted by the ContextCleaner only after the dependency
          // objects are GC'd — across a 128×-replica dump the live-JVM
          // shuffle dirs otherwise accumulate tens of GB of dead spill
          // (the r12 verbatim-gate wedge measured 73 GB). A gc() per
          // face lets the cleaner reclaim them while the dump runs.
          // Dump mode only: the driver's correctness run is untouched.
          if (dumpParts) System.gc()
        }
      }
    // dev/diagnosis only (driver sets no env): SPARK_GRAFT_PROBE=q_x,…
    // dumps per-row divergence diagnostics for the named queries next
    // to the verify output — localizes a driver-environment hash
    // failure (Spark-kernel vs builtin-SQL path vs DuckDB) in one run.
    val probes: Map[String, (org.apache.spark.sql.SparkSession, String) =>
      org.apache.spark.sql.DataFrame] = Map(
      "q_dedup_simhash" -> ((s, d) => graft.operators.Dedup.simhashProbe(s, d)))
    sys.env.get("SPARK_GRAFT_PROBE")
      .map(_.split(",").map(_.trim).toSet)
      .foreach(_.foreach { name =>
        probes.get(name).foreach { fn =>
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/${name}_probe")
        }
      })
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Scale-gate oracles (r9 VERDICT #1): independent SUB-QUADRATIC
    // DuckDB restatements for faces whose registered oracles cannot
    // hold replica volumes. Dumped unconditionally (the driver ignores
    // the file; tools/oracle_equiv.py proves each restatement
    // value-identical to the registered oracle at the driver SFs, and
    // tools/oracle_check.py --scale-oracles uses them at 64×).
    val scaleJson = ScaleOracles.sql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/scale_oracle_sql.json"), scaleJson)
    // Distinct-axis stage adjudication (r10 VERDICT #1): under
    // SPARK_GRAFT_DUMP_STAGES=1 (dev scale-gate runs only) materialize
    // the IVF/LSH stage artifacts + deterministic-sample subsets of the
    // face dumps that tools/oracle_check.py --stage-oracles pins via
    // {OUT}. The JSON is written unconditionally (driver ignores it).
    val stageJson = StageOracles.sql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/stage_oracle_sql.json"), stageJson)
    // runs after the face loop: the sample dumps re-read face outputs
    // (q_dedup_simhash/q_knn_join/q_dedup_fuzzy must be in the dump set
    // — a missing dir fails loudly rather than dumping silently wrong)
    if (sys.env.contains("SPARK_GRAFT_DUMP_STAGES"))
      StageOracles.dump(spark, sfDir, outDir)
    spark.stop()
  }
}
