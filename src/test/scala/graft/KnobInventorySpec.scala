package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** Every environment variable the main tree reads, and every session conf
  * it sets, pinned: a new knob has to be added here on purpose.
  */
class KnobInventorySpec extends AnyFunSuite {

  private val PinnedEnv = Set(
    "SPARK_GRAFT_CPUS",        // Graft.localSession: local[N]
    "SPARK_GRAFT_SF_DIR",      // Bench: data dir
    "SPARK_GRAFT_ONLY",        // SparkEntry.only: Bench, Verify face filter
    "SPARK_GRAFT_SCALE_DIR",   // Bench: 64× replica dir
    "SPARK_GRAFT_DUMP_PARTS",  // Verify: per-partition dumps
    "SPARK_GRAFT_PROBE",       // Verify: per-row divergence dumps
    "SPARK_GRAFT_DUMP_STAGES") // Verify: stage-oracle dump

  private val PinnedConf = Set(
    // Graft.tune
    "spark.sql.shuffle.partitions",
    "spark.sql.extensions",
    "spark.sql.session.timeZone",
    "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.adaptive.skewJoin.enabled",
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.ui.enabled",
    "spark.sql.artifact.isolation.enabled",
    "spark.sql.streaming.checkpointFileManagerClass",
    "spark.hadoop.fs.file.impl",
    "spark.sql.codegen.cache.maxEntries")

  /** (file:line, trimmed code) for every non-comment line under src/main. */
  private lazy val codeLines: List[(String, String)] = {
    val walk = Files.walk(Paths.get("src/main"))
    val sources: List[Path] =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(sources.nonEmpty, "no main sources under src/main")
    for {
      f <- sources
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex.toList
      code = line.trim
      if !code.startsWith("//") && !code.startsWith("*") && !code.startsWith("/*")
    } yield (s"$f:${i + 1}", code)
  }

  /** Asserts that the literal names `named` captures on the lines `use`
    * matches are exactly `pinned`. A use whose name is not a literal
    * cannot be inventoried, so it fails too.
    */
  private def assertPinned(use: Regex, named: Regex, pinned: Set[String]): Unit = {
    val uses = codeLines.filter { case (_, code) => use.findFirstIn(code).nonEmpty }
    val nonLiteral = uses.collect {
      case (at, code) if use.findAllIn(code).size != named.findAllIn(code).size =>
        s"$at: $code"
    }
    val found = uses.flatMap { case (_, code) =>
      named.findAllMatchIn(code).map(_.group(1)) }.toSet
    assert(found == pinned && nonLiteral.isEmpty,
      s"added: ${(found -- pinned).mkString(", ")}; gone: ${(pinned -- found).mkString(", ")}; " +
        s"not a literal: ${nonLiteral.mkString("; ")}")
  }

  test("the env vars read under src/main are exactly the pinned set") {
    assertPinned(
      """(sys\.env|System\.getenv)""".r,
      """(?:sys\.env(?:\.get|\.getOrElse|\.contains)?|System\.getenv)\(\s*"(\w+)"""".r,
      PinnedEnv)
  }

  test("the session confs set under src/main are exactly the pinned set") {
    assertPinned(
      """(\.config|conf\.set)\(""".r,
      """(?:\.config|conf\.set)\(\s*"([\w.]+)"""".r,
      PinnedConf)
  }
}
