package graft

/** The scale gate's dump: `graft.Gate <dataDir> <outDir>`, run by
  * tools/scale_gate.sh on a ScaleUp replica (after `sbt Test/compile`,
  * through tools/runjvm.sh, which puts the test classes on the path).
  *
  * It writes what [[Verify]] writes, with one part file per task instead
  * of one per face, plus the two overlays the checker reads there:
  * `scale_oracle_sql.json` ([[ScaleOracles]], for
  * `tools/oracle_check.py --scale-oracles`) and `stage_oracle_sql.json`
  * ([[StageOracles]], for `--stage-oracles`). When the dumped faces hold
  * the [[StageOracles.SampleFaces]] (the distinct arm), it also dumps the
  * stage artifacts those oracles pin; the input decides, so Gate has no
  * switch of its own. `SPARK_GRAFT_ONLY` picks the faces, as in Verify.
  */
object Gate {
  def main(args: Array[String]): Unit = {
    val Array(dataDir, outDir) = args
    val spark = graft.core.Graft.localSession()
    new java.io.File(outDir).mkdirs()
    val only = SparkEntry.only
    val faces = SparkEntry.queries.filter { case (name, _) => only.forall(_.contains(name)) }
    Verify.dump(spark, dataDir, outDir, faces, dumpParts = true)
    Verify.writeSql(outDir, "oracle_sql.json",
      SparkEntry.oracleSql.filter { case (k, _) => faces.contains(k) })
    Verify.writeSql(outDir, "scale_oracle_sql.json", ScaleOracles.sql)
    Verify.writeSql(outDir, "stage_oracle_sql.json", StageOracles.sql)
    // the sample dumps re-read the face dumps, so they run after them
    if (StageOracles.SampleFaces.subsetOf(faces.keySet))
      StageOracles.dump(spark, dataDir, outDir)
    spark.stop()
  }
}
