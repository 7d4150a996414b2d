package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.nio.charset.StandardCharsets.UTF_8
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext, FileStatus, FsConstants, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** [[LocalFs]] against stock Hadoop, each on fresh instances (never the
  * JVM-wide FileSystem cache): the same permissions, the same link
  * statuses, and FileContext writes that keep their checksums. */
class LocalFsSpec extends AnyFunSuite {

  private val conf = new Configuration()
  private def init[F <: RawLocalFileSystem](fs: F): F = { fs.initialize(FsConstants.LOCAL_FS_URI, conf); fs }
  private val stock = init(new RawLocalFileSystem)
  private val ours = init(new LocalFs.Raw)

  private def inTempDir[T](body: JPath => T): T = {
    val dir = Files.createTempDirectory("graft-localfs")
    try body(dir) finally TempDirs.deleteRecursively(dir)
  }

  private def hpath(p: JPath) = new Path(p.toString)
  private def mode(p: JPath) = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("setPermission gives stock Hadoop's POSIX modes on files and directories") {
    inTempDir { dir =>
      for (bits <- Seq("0000", "0600", "0644", "0700", "0755", "0777");
           kind <- Seq("file", "dir")) {
        val Seq(a, b) = Seq("stock", "ours").map { side =>
          val p = dir.resolve(s"$side-$kind-$bits")
          if (kind == "file") Files.createFile(p) else Files.createDirectory(p)
        }
        val perm = new FsPermission(bits)
        stock.setPermission(hpath(a), perm)
        ours.setPermission(hpath(b), perm)
        assert(mode(b) === mode(a), s"$kind $bits")
        assert(mode(b) === perm.toString, s"$kind $bits")
        // reopen both for removal
        Seq(a, b).foreach(p => Files.setPosixFilePermissions(p, PosixFilePermissions.fromString("rwx------")))
      }
    }
  }

  test("a sticky mode (01777) takes Hadoop's own path and comes out right") {
    inTempDir { dir =>
      val p = Files.createDirectory(dir.resolve("shared"))
      ours.setPermission(hpath(p), new FsPermission("1777"))
      val got = stock.getFileStatus(hpath(p)).getPermission
      assert(got.getStickyBit)
      assert(got === new FsPermission("1777"))
    }
  }

  test("getFileLinkStatus matches stock on a file, a directory, a symlink and a dangling symlink") {
    inTempDir { dir =>
      val file = Files.writeString(dir.resolve("f.txt"), "abc")
      val sub = Files.createDirectory(dir.resolve("d"))
      val link = Files.createSymbolicLink(dir.resolve("link"), file)
      val dangling = Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
      def view(s: FileStatus) = (s.getPath, s.isFile, s.isDirectory, s.isSymlink,
        if (s.isSymlink) s.getSymlink else null, s.getLen, s.getModificationTime)
      // a `file:` URI is what FileContext passes; stock Hadoop then
      // misses the link (its `readlink` gets the URI as a file name)
      def outcome(fs: RawLocalFileSystem, p: Path) =
        try Right(view(fs.getFileLinkStatus(p)))
        catch { case e: java.io.IOException => Left(e.getClass.getName) }
      for (p <- Seq(file, sub, link, dangling);
           path <- Seq(hpath(p), new Path(p.toUri.toString))) {
        assert(outcome(ours, path) === outcome(stock, path), path)
      }
      assert(ours.getFileLinkStatus(hpath(link)).isSymlink)
      assert(ours.getFileLinkStatus(hpath(dangling)).isSymlink)
      val missing = hpath(dir.resolve("missing"))
      intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
      intercept[FileNotFoundException](ours.getFileLinkStatus(missing))
    }
  }

  test("FileContext mkdir, create and rename-over round-trip with verified .crc sidecars") {
    val stockFc = FileContext.getFileContext(new URI("file:///"), new Configuration())
    val oursFc = FileContext.getFileContext(new LocalFs.AbstractFs(FsConstants.LOCAL_FS_URI, conf), conf)
    assert(stockFc.getDefaultFileSystem.getClass.getName === "org.apache.hadoop.fs.local.LocalFs")
    assert(oursFc.getDefaultFileSystem.getUri === stockFc.getDefaultFileSystem.getUri)
    assert(oursFc.getDefaultFileSystem.getUriDefaultPort === stockFc.getDefaultFileSystem.getUriDefaultPort)
    inTempDir { dir =>
      def roundTrip(fc: FileContext, side: String): Seq[(String, String)] = {
        val root = new Path(dir.resolve(side).toString, "offsets")
        fc.mkdir(root, FsPermission.getDirDefault, true)
        def write(p: Path, text: String): Unit = {
          val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
            Options.CreateOpts.createParent())
          try out.write(text.getBytes(UTF_8)) finally out.close()
        }
        val dst = new Path(root, "0")
        val tmp = new Path(root, ".0.tmp")
        write(dst, "v1 old batch")
        write(tmp, "v1 new batch")
        fc.rename(tmp, dst, Options.Rename.OVERWRITE)
        val in = fc.open(dst)
        val text = try new String(in.readAllBytes(), UTF_8) finally in.close()
        assert(text === "v1 new batch", side)
        // flip one byte of the data file under the checksum's feet
        val raw = java.nio.file.Paths.get(dst.toUri.getPath)
        val bytes = Files.readAllBytes(raw)
        bytes(0) = (bytes(0) ^ 1).toByte
        Files.write(raw, bytes)
        // only the buffer-size overload reads through ChecksumFs;
        // `open(path)` goes straight to the raw filesystem
        intercept[ChecksumException] {
          val in = fc.open(dst, 4096)
          try in.readAllBytes() finally in.close()
        }
        val rootDir = java.nio.file.Paths.get(root.toUri.getPath)
        (rootDir +: rootDir.toFile.listFiles.map(_.toPath).toSeq.sorted)
          .map(p => dir.resolve(side).relativize(p).toString -> mode(p))
      }
      val expected = roundTrip(stockFc, "stock")
      assert(expected.map(_._1) === Seq("offsets", "offsets/.0.crc", "offsets/0"))
      assert(roundTrip(oursFc, "ours") === expected)
    }
  }
}
