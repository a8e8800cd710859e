package graft.fs

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file:` filesystem without a process per file. Without the
  * native Hadoop library, `RawLocalFileSystem` runs `chmod` for every
  * file and directory it creates and `readlink` for every link-status
  * check (FileContext renames, Spark's offset/commit logs and state-store
  * files). [[SpawnFreeRawLocalFileSystem]] does both in-process; bytes,
  * `.crc` files and file modes are the stock ones.
  *
  * The two conf keys are runtime confs of a session ([[applyTo]] from
  * `Tables.ensureConf`), so every `newHadoopConf()` carries them —
  * FileContext keeps no cache, so checkpoint and state-store files switch
  * at once, also in sessions graft did not build. The `FileSystem` cache
  * is JVM-wide and keyed on scheme, not conf: `Tables.localSession`
  * passes the keys as `spark.hadoop.*` so its first `file:` instance is
  * this one, and a caller that must not hit a stock cached instance
  * bypasses the cache (`bypassCache`) and closes what it opens. */
object LocalFs {
  private val FileSystemKey = "fs.file.impl"
  private val AbstractFileSystemKey = "fs.AbstractFileSystem.file.impl"

  /** Set the `file:` implementations through `set` (a session's runtime
    * conf, a builder, a Hadoop `Configuration`); `bypassCache` also turns
    * the `FileSystem` cache off for `file:` in that conf. */
  def applyTo(set: (String, String) => Unit, bypassCache: Boolean = false): Unit = {
    set(FileSystemKey, classOf[SpawnFreeLocalFileSystem].getName)
    set(AbstractFileSystemKey, classOf[SpawnFreeLocalFs].getName)
    if (bypassCache) set(s"$FileSystemKey.disable.cache", "true")
  }
}

/** `RawLocalFileSystem` with an NIO `setPermission` (a sticky bit takes
  * the stock path) and a `getFileLinkStatus` that is `getFileStatus` for
  * anything but a symlink (symlinks take the stock path). */
class SpawnFreeRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      // "rwxr-x---" from the actions (not `toString`: FsCreateModes overrides it)
      val rwx = Seq(permission.getUserAction, permission.getGroupAction,
        permission.getOtherAction).map(_.SYMBOL).mkString
      Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(rwx))
    }

  override def getFileLinkStatus(p: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(p).toPath)) super.getFileLinkStatus(p)
    else getFileStatus(p)
}

/** The checksummed `file:` `FileSystem` over [[SpawnFreeRawLocalFileSystem]]. */
class SpawnFreeLocalFileSystem extends LocalFileSystem(new SpawnFreeRawLocalFileSystem)

/** The `file:` `AbstractFileSystem` over [[SpawnFreeRawLocalFileSystem]]:
  * Hadoop's `RawLocalFs` with the raw filesystem swapped (its
  * constructors are package-private). */
class SpawnFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new SpawnFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The checksummed `file:` `AbstractFileSystem`, as Hadoop's `LocalFs`. */
class SpawnFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new SpawnFreeRawLocalFs(FsConstants.LOCAL_FS_URI, conf))
