package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every environment variable the main tree reads, pinned: a new knob has
  * to be added here on purpose.
  */
class KnobInventorySpec extends AnyFunSuite {

  private val Pinned = Set(
    "SPARK_GRAFT_CPUS",        // Graft.localSession: local[N]
    "SPARK_GRAFT_SF_DIR",      // Bench: data dir
    "SPARK_GRAFT_ONLY",        // Bench, Verify: face filter
    "SPARK_GRAFT_SCALE_DIR",   // Bench: 64× replica dir
    "SPARK_GRAFT_DUMP_PARTS",  // Verify: per-partition dumps
    "SPARK_GRAFT_PROBE",       // Verify: per-row divergence dumps
    "SPARK_GRAFT_DUMP_STAGES") // Verify: stage-oracle dump

  test("the env vars read under src/main are exactly the pinned set") {
    val walk = Files.walk(Paths.get("src/main"))
    val sources: List[Path] =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(sources.nonEmpty, "no main sources under src/main")
    val read = """(sys\.env|System\.getenv)""".r
    val named = """(?:sys\.env(?:\.get|\.getOrElse|\.contains)?|System\.getenv)\(\s*"(\w+)"""".r
    val reads = for {
      f <- sources
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      code = line.trim
      if !code.startsWith("//") && !code.startsWith("*") && !code.startsWith("/*")
      if read.findFirstIn(code).nonEmpty
    } yield (s"$f:${i + 1}", code)
    // a read whose name is not a literal cannot be inventoried
    reads.foreach { case (at, code) =>
      assert(read.findAllIn(code).size == named.findAllIn(code).size,
        s"$at reads an env var by a non-literal name: $code")
    }
    val names = reads.flatMap { case (_, code) =>
      named.findAllMatchIn(code).map(_.group(1)) }.toSet
    assert(names == Pinned,
      s"added: ${(names -- Pinned).mkString(", ")}; gone: ${(Pinned -- names).mkString(", ")}")
  }
}
