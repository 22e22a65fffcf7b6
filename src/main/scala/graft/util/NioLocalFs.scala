package graft.util

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem with a fork-free `setPermission`.
  *
  * Without libhadoop, `RawLocalFileSystem.setPermission` runs `/bin/chmod`
  * as a child process, and every create/mkdirs with a permission calls it:
  * dozens of forks per streaming decode query, each costing milliseconds
  * from a multi-GB driver heap, and a `Cannot run program "chmod"` failure
  * when the machine cannot spawn under load. `java.nio` applies the same
  * mode bits in-process. A sticky-bit mode (which `java.nio` cannot express)
  * keeps Hadoop's own path.
  *
  * [[graft.Session]] registers [[NioLocalFileSystem]] for `fs.file.impl`
  * (the `FileSystem` API) and [[NioLocalFs]] for
  * `fs.AbstractFileSystem.file.impl` (the `FileContext` API, which
  * Structured Streaming's checkpoint manager uses). */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.getUserAction.SYMBOL +
        permission.getGroupAction.SYMBOL + permission.getOtherAction.SYMBOL))
}

/** `LocalFileSystem` (checksummed) over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The `FileContext` twin of [[NioLocalFileSystem]]: Hadoop's `LocalFs`
  * layout (checksums over a delegate to the raw filesystem), with the
  * delegate's raw filesystem swapped. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(uri, conf))

/** Hadoop's `RawLocalFs` (whose constructor taking the delegate is
  * private), delegating to [[NioRawLocalFileSystem]]. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}
