package graft.sources

import java.nio.file.{Files, Path}

/** Scratch space for faces that land real files per invocation (staged
  * stream feeds, checkpoints, interop round trips, persisted indexes).
  */
object Scratch {

  /** One root per JVM, deleted recursively by one shutdown hook, so
    * repeated bench and test runs do not leak disk across a long session.
    */
  private lazy val root: Path = {
    val r = Files.createTempDirectory("graft_scratch")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles()
        if (kids != null) kids.foreach(rm)
        f.delete(): Unit
      }
      rm(r.toFile)
    }))
    r
  }

  /** Fresh scratch dir under this JVM's root. */
  def tempDir(prefix: String): Path = Files.createTempDirectory(root, prefix)
}
