package graft

import java.nio.file.{Files, LinkOption, Path}

/** Scratch directories the engine writes into (stream source links,
  * per-query warehouse copies). `File.deleteOnExit` cannot remove a
  * non-empty directory, so each dir made here is instead registered
  * for ONE recursive delete in a JVM shutdown hook. */
object TempDirs {

  /** A set of temp dirs deleted together by [[cleanup]]. */
  private[graft] final class Registry {
    private val dirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

    def create(prefix: String): Path = {
      val dir = Files.createTempDirectory(prefix)
      dirs.add(dir)
      dir
    }

    def cleanup(): Unit =
      Iterator.continually(dirs.poll()).takeWhile(_ != null).foreach { d =>
        try deleteRecursively(d) catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[tempdirs] could not delete $d: $e") }
      }
  }

  private lazy val atExit: Registry = {
    val r = new Registry
    Runtime.getRuntime.addShutdownHook(
      new Thread(() => r.cleanup(), "graft-tempdirs-cleanup"))
    r
  }

  /** A fresh temp directory, deleted with its contents at JVM exit. */
  def create(prefix: String): Path = atExit.create(prefix)

  /** Deletes `root` and everything under it, deepest entries first.
    * Symbolic links are removed, never followed: a link to an input
    * table deletes the link, not the table. */
  def deleteRecursively(root: Path): Unit =
    if (Files.exists(root, LinkOption.NOFOLLOW_LINKS)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { Files.deleteIfExists(p); () })
      finally s.close()
    }
}
