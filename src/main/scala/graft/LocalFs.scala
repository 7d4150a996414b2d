package graft

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem with its two forking calls done in-process.
  *
  * Without libhadoop, `RawLocalFileSystem.setPermission` execs `chmod`
  * for every file create and mkdir, and `getFileLinkStatus` execs
  * `readlink` (four per FileContext rename: source, destination and
  * their `.crc` sidecars). Everything else — checksums, the commit
  * protocol, symlink handling — stays Hadoop's own code. */
object LocalFs {

  /** `RawLocalFileSystem` with the permission change and the link check
    * made through java.nio. */
  class Raw extends RawLocalFileSystem {

    /** Bits NIO cannot express (sticky, setuid/setgid), or a filesystem
      * without POSIX attributes, go to Hadoop's `chmod`. */
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val bits = permission.toShort.toInt
      if (!posix || (bits & ~0x1ff) != 0) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, posixSet(bits))
    }

    /** A path that is no symbolic link has its plain status; a link
      * still goes to Hadoop, which reads its target. */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** `rwxrwxrwx` bits as NIO's set; `PosixFilePermission.values` runs
    * from OWNER_READ (0400) down to OTHERS_EXECUTE (0001). */
  private def posixSet(bits: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((bits & (0x100 >> i)) != 0) set.add(p)
    }
    set
  }

  /** The FileSystem API's `file:` scheme (`fs.file.impl`): warehouse
    * writes and the file output commit protocol. */
  class Fs extends LocalFileSystem(new Raw)

  /** The FileContext API's `file:` scheme
    * (`fs.AbstractFileSystem.file.impl`): the state store, the offset
    * and commit logs and stream metadata. Built like Hadoop's `LocalFs`,
    * which also ignores the URI it is given. */
  class AbstractFs(uri: URI, conf: Configuration) extends ChecksumFs(new RawAbstractFs(conf)) {
    override def getUriDefaultPort: Int = -1
  }

  /** Hadoop's package-private `RawLocalFs` over [[Raw]]. */
  private class RawAbstractFs(conf: Configuration)
      extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new Raw, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    @deprecated("Hadoop's own overload; use getServerDefaults(Path)", "")
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
