package graft.sources

import java.nio.file.{Files, Path}

/** Scratch space for faces that land real files per invocation (staged
  * stream feeds, checkpoints, interop round trips).
  */
object Scratch {

  /** Fresh scratch dir, deleted recursively when the JVM exits, so
    * repeated bench and test runs do not leak disk across a long session.
    */
  def tempDir(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles()
        if (kids != null) kids.foreach(rm)
        f.delete(): Unit
      }
      rm(p.toFile)
    }))
    p
  }
}
