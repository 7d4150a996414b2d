package graft

import java.nio.file.{Files, LinkOption}
import org.scalatest.funsuite.AnyFunSuite

/** Registered temp dirs are deleted whole — files, subdirectories and
  * symbolic links — without following a link into its target (a
  * stream source dir links to the input table). */
class TempDirsSpec extends AnyFunSuite {

  test("cleanup removes a registered dir holding files and a symlink; the link target survives") {
    val target = Files.createTempDirectory("graft-tempdirs-target")
    val targetFile = Files.writeString(target.resolve("part-0.parquet"), "data")
    try {
      val reg = new TempDirs.Registry
      val dir = reg.create("graft-tempdirs-spec")
      Files.writeString(dir.resolve("a.txt"), "x")
      Files.createDirectories(dir.resolve("sub"))
      Files.writeString(dir.resolve("sub/b.txt"), "y")
      Files.createSymbolicLink(dir.resolve("events.parquet"), target)
      reg.cleanup()
      assert(!Files.exists(dir, LinkOption.NOFOLLOW_LINKS))
      assert(Files.exists(targetFile))
      reg.cleanup() // nothing left registered: a second run is a no-op
    } finally TempDirs.deleteRecursively(target)
    assert(!Files.exists(target))
  }
}
