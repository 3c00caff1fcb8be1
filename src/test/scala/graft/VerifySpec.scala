package graft

import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Verify's dump loop: a failing face is named in `verify_failures.json`
  * and the faces after it still dump.
  */
class VerifySpec extends AnyFunSuite {

  private lazy val spark: SparkSession =
    graft.core.Graft.tune(SparkSession.builder().master("local[4]"), 4).getOrCreate()

  test("Verify names each failed face, its exception class and message, in verify_failures.json") {
    val out = Files.createTempDirectory("verify-out")
    // a data dir with no tables in it: any face that reads one fails
    val noTables = Files.createTempDirectory("verify-sf").toString
    try {
      val faces: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
        "q1_pricing" -> SparkEntry.queries("q1_pricing"),
        "q_throws" -> ((_, _) => throw new IllegalStateException("injected")),
        "q_ok" -> ((s, _) => s.range(3).toDF()))
      val failed = Verify.dump(spark, noTables, out.toString, faces, dumpParts = false)
      assert(failed.map(_._1) == Seq("q1_pricing", "q_throws"))
      assert(spark.read.parquet(s"$out/q_ok").count() == 3)
      assert(!Files.exists(out.resolve("q1_pricing")) && !Files.exists(out.resolve("q_throws")))

      val manifest = new ObjectMapper().readTree(out.resolve("verify_failures.json").toFile)
      assert(manifest.size == 2)
      val throws = manifest.get("q_throws")
      assert(throws.get("class").asText == "java.lang.IllegalStateException")
      assert(throws.get("message").asText == "injected")
      val missing = manifest.get("q1_pricing")
      assert(missing.get("class").asText == failed.head._2.getClass.getName)
      assert(missing.get("message").asText.contains("lineitem"), missing.toString)

      // a run with no failure leaves no manifest behind
      assert(Verify.dump(spark, noTables, out.toString, faces.takeRight(1), dumpParts = false).isEmpty)
      assert(!Files.exists(out.resolve("verify_failures.json")))
    } finally Seq(out.toFile, new java.io.File(noTables))
      .foreach(new scala.reflect.io.Directory(_).deleteRecursively())
  }
}
