package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** Every environment variable the main tree reads, every session conf it
  * sets, and every eager `localCheckpoint` it places, pinned: a new one
  * has to be added here on purpose.
  */
class KnobInventorySpec extends AnyFunSuite {

  private val PinnedEnv = Set(
    "SPARK_GRAFT_CPUS",        // Graft.localSession: local[N]
    "SPARK_GRAFT_SF_DIR",      // Bench: data dir
    "SPARK_GRAFT_ONLY",        // SparkEntry.only: Bench, Verify face filter
    "SPARK_GRAFT_SCALE_DIR")   // Bench: 64× replica dir

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

  /** Each `localCheckpoint(` call under src/main as file#enclosing member.
    * A checkpoint runs a job inside the face call and hides the plan
    * behind it from the record; the faces that keep one say why beside it.
    */
  private val PinnedCheckpoints = List(
    "Corpus.scala#buildTrainingSet",
    "Dedup.scala#lshRecall",
    "Dedup.scala#setsimPrefix",
    "Dedup.scala#setsimPrefix",
    "Dedup.scala#simhash",
    "Dedup.scala#simhash",
    "Graft.scala#materialize",
    "Mining.scala#assocRules",
    "Mining.scala#bfs",
    "Mining.scala#pagerank",
    "Mining.scala#trendRobust",
    "Mining.scala#trianglesOn")

  /** Every .scala file under src/main with its lines. */
  private lazy val sources: List[(Path, Vector[String])] = {
    val walk = Files.walk(Paths.get("src/main"))
    val files: List[Path] =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(files.nonEmpty, "no main sources under src/main")
    files.map(f => f -> Files.readAllLines(f).asScala.toVector)
  }

  private def isCode(trimmed: String): Boolean =
    !trimmed.startsWith("//") && !trimmed.startsWith("*") && !trimmed.startsWith("/*")

  /** (file:line, trimmed code) for every non-comment line under src/main. */
  private lazy val codeLines: List[(String, String)] =
    for {
      (f, lines) <- sources
      (line, i) <- lines.zipWithIndex.toList
      code = line.trim
      if isCode(code)
    } yield (s"$f:${i + 1}", code)

  /** The object member (a `def` at two-space indent) that line `i` sits in. */
  private def enclosingMember(lines: Vector[String], i: Int): String = {
    val member = """^  (?:(?:private|protected)(?:\[\w+\])? |override |final )*def (\w+)""".r
    (i to 0 by -1).iterator
      .flatMap(j => member.findFirstMatchIn(lines(j)).map(_.group(1)))
      .nextOption().getOrElse("<top>")
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

  private val EnvRead = """(sys\.env|System\.getenv)""".r

  test("the env vars read under src/main are exactly the pinned set") {
    assertPinned(
      EnvRead,
      """(?:sys\.env(?:\.get|\.getOrElse|\.contains)?|System\.getenv)\(\s*"(\w+)"""".r,
      PinnedEnv)
  }

  test("the scale gate's entry point reads no env var itself: its input sets its mode") {
    val reads = Files.readAllLines(Paths.get("src/test/scala/graft/Gate.scala")).asScala
      .map(_.trim).filter(code => isCode(code) && EnvRead.findFirstIn(code).nonEmpty)
    assert(reads.isEmpty, reads.mkString("; "))
  }

  test("the session confs set under src/main are exactly the pinned set") {
    assertPinned(
      """(\.config|conf\.set)\(""".r,
      """(?:\.config|conf\.set)\(\s*"([\w.]+)"""".r,
      PinnedConf)
  }

  test("the localCheckpoint sites under src/main are exactly the pinned set") {
    val found = for {
      (f, lines) <- sources
      (line, i) <- lines.zipWithIndex.toList
      if isCode(line.trim) && line.contains("localCheckpoint(")
    } yield s"${f.getFileName}#${enclosingMember(lines, i)}"
    assert(found.sorted == PinnedCheckpoints.sorted,
      s"added: ${found.diff(PinnedCheckpoints).mkString(", ")}; " +
        s"gone: ${PinnedCheckpoints.diff(found).mkString(", ")}")
  }
}
