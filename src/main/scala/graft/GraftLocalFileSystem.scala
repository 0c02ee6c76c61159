package graft

import java.io.IOException
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `RawLocalFileSystem` without its child processes. Without
  * the native `libhadoop`, the parent runs a `chmod` process for every
  * file or directory it creates with a mode, and a `readlink` process
  * for every `getFileLinkStatus`, which `FileContext.rename` calls
  * twice. Every checkpoint file Spark writes (offset, commit and
  * metadata logs, RocksDB changelogs) is a create plus a rename, so
  * the spawns, not the disk, set a streaming batch's fixed cost:
  * ~33 ms per `CheckpointFileManager.createAtomic` against ~0.4 ms for
  * a write + fsync + rename on the same ext4 disk (4-core Linux box).
  *
  * Both overrides answer in-process what the parent answers, and hand
  * every case where they could differ to the parent. */
class GraftRawLocalFileSystem extends RawLocalFileSystem {

  /** setuid, setgid and sticky. */
  private val SpecialBits = 0xe00

  /** The parent's `chmod`, through `java.nio`. A numeric `chmod` sets
    * the sticky bit and keeps a directory's setuid/setgid bits, which
    * `java.nio` can do neither of; a request with the sticky bit, a
    * path that already carries a special bit, a missing path and a
    * store without POSIX modes therefore go to the parent. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val path = pathToFile(p).toPath
    val inProcess = !permission.getStickyBit && (try {
      (Files.getAttribute(path, "unix:mode").asInstanceOf[Int] & SpecialBits) == 0
    } catch { case _: IOException | _: UnsupportedOperationException => false })
    if (inProcess) Files.setPosixFilePermissions(path, PosixFilePermissions.fromString(
      Seq(permission.getUserAction, permission.getGroupAction, permission.getOtherAction)
        .map(_.SYMBOL).mkString))
    else super.setPermission(p, permission)
  }

  /** The link status of a path that is not a symlink is its status,
    * which is what the parent returns once `readlink` finds no link (a
    * missing path throws `FileNotFoundException` from `getFileStatus`
    * in both). Symlinks, dangling ones included, go to the parent. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The checksummed `file:` FileSystem (`fs.file.impl`) over
  * [[GraftRawLocalFileSystem]]: Hadoop's `LocalFileSystem`, `.crc`
  * files included. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** The checksummed `file:` AbstractFileSystem behind `FileContext`
  * (`fs.AbstractFileSystem.file.impl`) over [[GraftRawLocalFileSystem]]:
  * Hadoop's `LocalFs`, whose constructors are package-private. Like
  * `LocalFs`, it ignores the URI it is given and serves `file:///`. */
class GraftLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new GraftRawLocalFs(conf))

/** Hadoop's `RawLocalFs` over [[GraftRawLocalFileSystem]], with the
  * same overrides. */
private class GraftRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new GraftRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
