package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = graft.core.Graft.localSession()
    new java.io.File(outDir).mkdirs()
    // dev loop only (driver sets no env): SPARK_GRAFT_ONLY=q_a,q_b
    // dumps + oracle-lists just those queries
    val only = SparkEntry.only
    // SPARK_GRAFT_DUMP_PARTS=1 (dev scale-gate runs only) skips the
    // coalesce: at 64× sf0.1 a fat query's final agg + parquet encode
    // otherwise runs inside the ONE coalesced task (observed r9: 30+
    // min single-threaded per lineitem-scale dump), while the checker
    // already globs and concats every part file.
    dump(spark, sfDir, outDir,
      SparkEntry.queries.filter { case (name, _) => only.forall(_.contains(name)) },
      dumpParts = sys.env.contains("SPARK_GRAFT_DUMP_PARTS"))
    // dev/diagnosis only (driver sets no env): SPARK_GRAFT_PROBE=q_x,…
    // dumps per-row divergence diagnostics for the named queries next
    // to the verify output — localizes a driver-environment hash
    // failure (Spark-kernel vs builtin-SQL path vs DuckDB) in one run.
    val probes: Map[String, (SparkSession, String) => DataFrame] = Map(
      "q_dedup_simhash" -> ((s, d) => graft.operators.Dedup.simhashProbe(s, d)))
    sys.env.get("SPARK_GRAFT_PROBE")
      .map(_.split(",").map(_.trim).toSet)
      .foreach(_.foreach { name =>
        probes.get(name).foreach { fn =>
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/${name}_probe")
        }
      })
    def writeSql(file: String, sql: Iterable[(String, String)]): Unit =
      Files.writeString(Paths.get(s"$outDir/$file"),
        sql.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}"))
    writeSql("oracle_sql.json",
      SparkEntry.oracleSql.filter { case (k, _) => only.forall(_.contains(k)) })
    // Scale-gate oracles (r9 VERDICT #1): independent SUB-QUADRATIC
    // DuckDB restatements for faces whose registered oracles cannot
    // hold replica volumes. Dumped unconditionally (the driver ignores
    // the file; tools/oracle_equiv.py proves each restatement
    // value-identical to the registered oracle at the driver SFs, and
    // tools/oracle_check.py --scale-oracles uses them at 64×).
    writeSql("scale_oracle_sql.json", ScaleOracles.sql)
    // Distinct-axis stage adjudication (r10 VERDICT #1): under
    // SPARK_GRAFT_DUMP_STAGES=1 (dev scale-gate runs only) materialize
    // the IVF/LSH stage artifacts + deterministic-sample subsets of the
    // face dumps that tools/oracle_check.py --stage-oracles pins via
    // {OUT}. The JSON is written unconditionally (driver ignores it).
    writeSql("stage_oracle_sql.json", StageOracles.sql)
    // runs after the face loop: the sample dumps re-read face outputs
    // (q_dedup_simhash/q_knn_join/q_dedup_fuzzy must be in the dump set
    // — a missing dir fails loudly rather than dumping silently wrong)
    if (sys.env.contains("SPARK_GRAFT_DUMP_STAGES"))
      StageOracles.dump(spark, sfDir, outDir)
    spark.stop()
  }

  /** Writes each face's rows to `outDir/<face>`: one part file per face
    * (coalesce(1), the driver contract) unless `dumpParts`. A face that
    * fails is named on stderr and, with its exception class and message,
    * in `outDir/verify_failures.json`, written only when a face fails (a
    * stale one is removed first). Returns the failures, in face order.
    */
  private[graft] def dump(spark: SparkSession, sfDir: String, outDir: String,
      faces: Iterable[(String, (SparkSession, String) => DataFrame)],
      dumpParts: Boolean): Seq[(String, Throwable)] = {
    val manifest = Paths.get(outDir, "verify_failures.json")
    Files.deleteIfExists(manifest)
    val failures = faces.toSeq.flatMap { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        (if (dumpParts) df else df.coalesce(1)).write.mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getClass.getName}: ${e.getMessage}")
        Some(name -> e)
      } finally {
        // a face's dead checkpoints would otherwise pile up until the
        // ContextCleaner gets to them, and the next face pays for them
        Bench.dropPersisted(spark)
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
    if (failures.nonEmpty)
      Files.writeString(manifest, failures.map { case (name, e) =>
        s"""${Json.str(name)}: {"class": ${Json.str(e.getClass.getName)}, """ +
          s""""message": ${Json.str(String.valueOf(e.getMessage))}}"""
      }.mkString("{", ", ", "}\n"))
    failures
  }
}
