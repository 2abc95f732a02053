package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}

import java.io.File
import java.net.URI
import java.nio.file.Files

/** Hadoop's local `file:` FileSystem without a forked process.
  *
  * Without libhadoop's native code, which Spark's jars do not ship, the
  * stock `RawLocalFileSystem` forks a process for two calls the engine
  * makes on every file it writes:
  *   - `setPermission` runs `chmod`. Every `create` and `mkdirs` that
  *     passes a permission calls it: parquet part files, their `.crc`
  *     sidecars, staging dirs, checkpoint files.
  *   - `getFileLinkStatus` runs `readlink`. Every FileContext rename
  *     calls it, and Spark's streaming checkpoint commits each offset and
  *     commit-log entry with one.
  *
  * Both are answered in-process here, with the same results. Every other
  * call is Hadoop's own. [[ForkFreeLocalFileSystem]] and
  * [[ForkFreeLocalFs]] put the usual checksum layer over this class, so
  * `.crc` sidecars are still written and verified. `GraftSession` sets
  * them as the session's `file:` FileSystem and FileContext. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  /** `chmod` with the octal mode Hadoop passes it: follows a link, and
    * keeps a directory's setuid and setgid bits, as GNU `chmod` does for
    * a 4-digit mode. A missing path throws `NoSuchFileException`. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    import ForkFreeRawLocalFileSystem.{Mode, SetId}
    val path = pathToFile(p).toPath
    val kept =
      if (Files.isDirectory(path)) Files.getAttribute(path, "unix:mode").asInstanceOf[Int] & SetId
      else 0
    Files.setAttribute(path, "unix:mode", Int.box(permission.toShort & Mode | kept))
  }

  /** Hadoop asks `readlink` about `new File(f.toString)`, so a qualified
    * path (`file:/...`) is never a link to it. Only a symlink, which the
    * engine never creates, takes Hadoop's own path; anything else is its
    * [[getFileStatus]], which throws `FileNotFoundException` for a
    * missing path, as Hadoop's does. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

private object ForkFreeRawLocalFileSystem {
  val Mode = 0xfff    // octal 7777: permission, sticky, setuid and setgid bits
  val SetId = 0xc00   // octal 6000: setuid and setgid bits
}

/** The `fs.file.impl` FileSystem: Hadoop's `LocalFileSystem` (checksums)
  * over [[ForkFreeRawLocalFileSystem]]. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The `fs.AbstractFileSystem.file.impl` FileContext file system: Hadoop's
  * `LocalFs`, a checksum layer over [[ForkFreeRawLocalFs]]. Hadoop builds
  * it by reflection with this constructor. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(conf))

/** Hadoop's `RawLocalFs` (whose constructors are package-private), with
  * [[ForkFreeRawLocalFileSystem]] in place of `RawLocalFileSystem`. */
private[io] class ForkFreeRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem,
      conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
