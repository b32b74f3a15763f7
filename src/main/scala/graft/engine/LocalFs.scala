package graft.engine

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FsConstants, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** Hadoop's local `file://` filesystem with a fork-free `setPermission`.
  *
  * Without the native `libhadoop` (Spark's Hadoop client ships none),
  * `RawLocalFileSystem.setPermission` runs `chmod` in a child process,
  * and every create calls it: each file written through the local
  * filesystem forks twice (data and `.crc`), each new directory once.
  * Measured over 100 warm creates at 4 cpus: 6.6–7.3 ms per file
  * forked, 0.17–0.21 ms with the `java.nio` call, with the same mode
  * bits on disk. A warm st9 drain at sf0.01 sets about 630 permissions
  * through `FileSystem` and 25 through `FileContext` (its checkpoint
  * log, 3 micro-batches).
  *
  * The `java.nio` path sets the same nine bits `chmod` would. It defers
  * to Hadoop's own path when the native library is loaded (no fork
  * there), when the sticky bit is set (no `java.nio` spelling), or when
  * the default filesystem has no POSIX attribute view.
  * [[GraftSession.builder]] installs both halves: the `FileSystem` one
  * (Spark's file writers, committers and spools) and the `FileContext`
  * one (the streaming checkpoint log and the state store).
  */
final class GraftRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (NativeIO.isAvailable || permission.getStickyBit || !GraftRawLocalFileSystem.posix)
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      GraftRawLocalFileSystem.bits(permission.toShort))
}

object GraftRawLocalFileSystem {
  private lazy val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** The permissions of the low nine bits of `mode`; `PosixFilePermission`
    * lists them from owner-read (bit 8) down to others-execute (bit 0).
    */
  private def bits(mode: Short): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach(p => if (((mode >> (8 - p.ordinal)) & 1) == 1) s.add(p))
    s
  }
}

/** The checksummed `file://` `FileSystem` over [[GraftRawLocalFileSystem]]
  * (`fs.file.impl`).
  */
final class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** The raw `file://` `AbstractFileSystem` over [[GraftRawLocalFileSystem]]:
  * Hadoop's `RawLocalFs` (whose constructors are package-private, so it
  * cannot be handed another raw filesystem), with the same overrides.
  */
final class GraftRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new GraftRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The checksummed `file://` `AbstractFileSystem` for `FileContext`
  * (`fs.AbstractFileSystem.file.impl`): Hadoop's `LocalFs` over
  * [[GraftRawLocalFs]].
  */
final class GraftLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new GraftRawLocalFs(uri, conf))
