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
    dump(spark, sfDir, outDir,
      SparkEntry.queries.filter { case (name, _) => only.forall(_.contains(name)) },
      dumpParts = false)
    writeSql(outDir, "oracle_sql.json",
      SparkEntry.oracleSql.filter { case (k, _) => only.forall(_.contains(k)) })
    spark.stop()
  }

  /** Writes `sql` (face → SQL) as one JSON object to `outDir/file`. */
  private[graft] def writeSql(outDir: String, file: String, sql: Iterable[(String, String)]): Unit =
    Files.writeString(Paths.get(s"$outDir/$file"),
      sql.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}"))

  /** Writes each face's rows to `outDir/<face>`: one part file per face
    * (coalesce(1), the driver contract) unless `dumpParts`. A face that
    * fails is named on stderr and, with its exception class and message,
    * in `outDir/verify_failures.json`, written only when a face fails (a
    * stale one is removed first). Returns the failures, in face order.
    *
    * `dumpParts` is for replica-scale runs (the test tree's `graft.Gate`):
    * the checker globs every part file, and a coalesced dump of a
    * lineitem-scale face runs its final aggregate and parquet encode in
    * one task (30+ minutes single-threaded at 64× sf0.1).
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
        // The ContextCleaner deletes a finished face's shuffle files only
        // after their dependency objects are collected; across a
        // 128×-replica dump the dead shuffle dirs otherwise reach tens of
        // GB (73 GB measured on one verbatim-arm run). A gc() per face
        // lets the cleaner reclaim them while the dump runs; the driver's
        // correctness run (no dumpParts) is untouched.
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
