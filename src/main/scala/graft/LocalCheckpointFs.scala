package graft

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file:` FileContext binding without process forks: stock
  * `org.apache.hadoop.fs.local.LocalFs` with its raw layer swapped for
  * [[LocalCheckpointFs.ForkFreeRawLocalFileSystem]]. Everything else is
  * the stock stack: `.crc` sidecars (ChecksumFs), temp-then-rename in
  * Spark's checkpoint manager, `FileAlreadyExistsException` on a
  * non-overwriting rename, and the same file modes.
  *
  * Why: without native Hadoop libraries `RawLocalFileSystem` shells out
  * for two calls that every streaming checkpoint file makes — one
  * `chmod` per created file (data and `.crc`) and one `readlink` per
  * `getFileLinkStatus` (four per file, from the renames). One
  * graftbench `live` run started 4,618 processes, about 40 per
  * micro-batch, and wrote each offset-log entry in 31.9 ms against
  * 2.0 ms through java.nio (docs/PLANS.md "Fork-free local checkpoint
  * I/O").
  *
  * [[GraftSession.checkpointFs]] binds it; HDFS and object-store
  * checkpoints never reach it. Hadoop instantiates it reflectively
  * through the `(URI, Configuration)` constructor.
  */
class LocalCheckpointFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new LocalCheckpointFs.RawFs(conf))

object LocalCheckpointFs {

  /** `org.apache.hadoop.fs.local.RawLocalFs` over the fork-free raw
    * file system, with RawLocalFs's three overrides copied verbatim.
    * Like LocalFs, it ignores the requested URI: `file:///` is the only
    * authority. */
  private[graft] class RawFs(conf: Configuration)
      extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
        new ForkFreeRawLocalFileSystem, conf,
        FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    @deprecated("as in AbstractFileSystem", "")
    override def getServerDefaults: FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  private val posix =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** PosixFilePermission's declaration order is owner rwx, group rwx,
    * others rwx: mode bits 8 down to 0. */
  private val modeBits = PosixFilePermission.values.toSeq.zipWithIndex
    .map { case (p, i) => (1 << (8 - i), p) }

  /** `RawLocalFileSystem` with the two forking calls answered in-JVM. */
  class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

    /** The nine rwx bits through java.nio, which (like `chmod`) follows
      * a symlink. Sticky, setuid and setgid bits, or a store without
      * POSIX attributes, take the stock path. */
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if (!posix || (mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else {
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        modeBits.foreach { case (bit, perm) =>
          if ((mode & bit) != 0) perms.add(perm) }
        Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      }
    }

    /** A path that is not a symlink gets its `getFileStatus`, which is
      * what the stock code answers after its `readlink` fork finds no
      * link (it even runs `readlink file:/…` on a qualified path, which
      * always fails). A symlink takes the stock path. */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }
}
