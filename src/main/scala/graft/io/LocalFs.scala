package graft.io

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file:` `AbstractFileSystem` (`org.apache.hadoop.fs.local.LocalFs`,
  * a `ChecksumFs` over `RawLocalFs`) with permission changes and link
  * probes done inside the JVM. Without libhadoop, stock
  * `RawLocalFileSystem` starts a `chmod` process for every file and
  * directory it creates, and a `readlink` process on every
  * `getFileLinkStatus` — a wasted one, since it probes `new File("file:/…")`,
  * a path that never exists. Streaming checkpoints (offset, commit and
  * source logs, state-store deltas) are written through `FileContext`,
  * where one state-store delta commit started about 20 processes.
  *
  * A Hadoop conf selects it with `fs.AbstractFileSystem.file.impl` (see
  * `StreamingQueries.withCertConf`). `AbstractFileSystem` instances are
  * not cached, so every `FileContext` built from that conf gets it; the
  * `FileSystem` API (`FileSystem.get` caches `file:` per JVM) keeps stock
  * Hadoop. `.crc` files and checksum verification are `ChecksumFs`'s own.
  * `(URI, Configuration)` is the constructor Hadoop instantiates; like
  * stock `LocalFs` it ignores the URI (`file:` has no authority). */
final class LocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new LocalFs.Raw(conf))

object LocalFs {

  /** `RawLocalFileSystem` without its child processes. */
  private final class InJvm extends RawLocalFileSystem {

    /** The nine rwx bits of `permission` via `chmod(2)`: the mode the
      * stock `chmod %04o` process sets, except that a setgid bit a new
      * directory inherited is cleared (that process keeps it). A sticky
      * bit goes to the stock path. */
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else {
        val bits = permission.toShort
        // enum order OWNER_READ … OTHERS_EXECUTE is mode bit 8 … 0
        val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        PosixFilePermission.values.foreach(q => if ((bits & (0x100 >> q.ordinal)) != 0) set.add(q))
        Files.setPosixFilePermissions(pathToFile(p).toPath, set)
      }

    /** Stock returns `getFileStatus` whenever its `readlink` finds no
      * link, so only a real symlink needs the stock path. */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** `org.apache.hadoop.fs.local.RawLocalFs`'s three overrides, over [[InJvm]]. */
  private final class Raw(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new InJvm, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
