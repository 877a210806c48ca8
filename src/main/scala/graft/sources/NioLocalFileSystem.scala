package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem with its two per-file shell forks replaced
  * by `java.nio` calls.
  *
  * Without the native Hadoop library, `RawLocalFileSystem` runs `chmod` for
  * every file it creates and `readlink` for every link-status lookup (two
  * per rename through `FileContext`), so each streaming commit, state-store
  * upload and parquet part file forks processes. Here the permission is set
  * with `Files.setPosixFilePermissions` and a path that is not a symlink is
  * answered by `getFileStatus`. Permissions with bits beyond rwx (sticky)
  * and real symlinks still take Hadoop's own code path, so files, `.crc`
  * sidecars, permission bits and link targets are what the stock class
  * produces. Registered for `file://` by `graft.Tables.sessionConfigs`. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val file = pathToFile(p)
      try Files.setPosixFilePermissions(file.toPath, posix(mode))
      catch { case _: NoSuchFileException => throw new FileNotFoundException(file.toString) }
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)

  /** The rwx bits of `mode` as a POSIX permission set (enum ordinal k is
    * mode bit 8 - k: OWNER_READ is 0400, OTHERS_EXECUTE is 0001). */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach { p =>
      if ((mode & (1 << (8 - p.ordinal))) != 0) s.add(p)
    }
    s
  }
}

/** The checksummed `file://` FileSystem (parquet sinks, `FileOutputCommitter`)
  * over [[NioRawLocalFileSystem]] — the stock `LocalFileSystem` otherwise. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** [[NioRawLocalFileSystem]] behind the FileContext API, as Hadoop's
  * `RawLocalFs` does for the stock class (whose constructors are
  * package-private). */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The checksummed FileContext `file://` filesystem, like Hadoop's `LocalFs`
  * (which also ignores the URI it is given). */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(FsConstants.LOCAL_FS_URI, conf))
