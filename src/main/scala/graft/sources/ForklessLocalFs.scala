package graft.sources

import java.io.File
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** `file://` without child processes. Without libhadoop,
  * `RawLocalFileSystem.setPermission` runs `/bin/chmod` for every file,
  * `.crc` sidecar and directory it creates, and `getFileLinkStatus`
  * runs `readlink` on both sides of every `FileContext.rename` (the
  * streaming checkpoint commits and the pointer swaps). This raw FS
  * does both in-process; for everything else it is the stock one.
  *
  * Results match the inherited methods: the same nine mode bits land,
  * and a path Hadoop would see as a symlink, or a mode with the sticky
  * bit, still takes the inherited (forking) code.
  */
class ForklessRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if (mode > 0x1ff) super.setPermission(p, permission)
    else {
      // PosixFilePermission's declaration order is owner rwx, group rwx,
      // others rwx: ordinal i is mode bit 8 - i.
      val perms = PosixFilePermission.values.filter(x => (mode & (0x100 >> x.ordinal)) != 0)
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms.toSet.asJava)
    }
  }

  // The inherited method probes `readlink` on `new File(f.toString)`
  // and answers with `getFileStatus` when that is no link; the same
  // probe here keeps every answer identical.
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed `LocalFileSystem` over the fork-free
  * raw FS, so `.crc` sidecars are still written and verified.
  */
class ForklessLocalFileSystem extends LocalFileSystem(new ForklessRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: Hadoop's `LocalFs` (`ChecksumFs`
  * over `RawLocalFs`) with the fork-free raw FS inside, for `FileContext`.
  * `AbstractFileSystem` instantiates it through this `(URI, Configuration)`
  * constructor; like `LocalFs`, it ignores the URI and roots at `file:///`.
  */
class ForklessLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new ForklessRawLocalFs(conf))

/** Hadoop's `RawLocalFs`, whose constructors are package-private,
  * rebuilt over [[ForklessRawLocalFileSystem]] with the same overrides.
  */
private class ForklessRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new ForklessRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
