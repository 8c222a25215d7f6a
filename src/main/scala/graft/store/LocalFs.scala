package graft.store

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file://` FileSystem of every Hadoop Configuration in the JVM,
  * bound by `fs.file.impl` in `core-site.xml`: Hadoop's checksummed
  * LocalFileSystem over a raw local filesystem that sets permissions
  * in-process.
  *
  * Without Hadoop's native library, the stock `RawLocalFileSystem.setPermission`
  * runs `chmod` as a child process. Hadoop calls it for every file it
  * creates (each data file and each `.crc` sidecar) and every directory
  * `mkdirs` makes, 3-4 ms a fork, one after another inside a write task.
  * Here the same mode bits go through `Files.setPosixFilePermissions`.
  * Checksums, sidecars, renames, listing and reads stay Hadoop's own.
  */
class LocalFs extends LocalFileSystem(new LocalFs.RawFs)

/** The `file://` AbstractFileSystem, the one `FileContext` uses, bound by
  * `fs.AbstractFileSystem.file.impl` in `core-site.xml`. Spark's streaming
  * checkpoints (offsets, commits, source logs, state deltas) write through
  * it. Hadoop's `local.LocalFs` has this shape over a `RawLocalFs` that
  * builds its own stock `RawLocalFileSystem`, so it forks `chmod` just as
  * the stock FileSystem does; this one delegates to [[LocalFs.RawFs]].
  */
class LocalAbstractFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new LocalFs.RawAbstractFs(uri, conf))

object LocalFs {

  /** `RawLocalFileSystem` with an in-process `setPermission`. NIO cannot
    * set the sticky bit, so a mode that carries it still goes to `chmod`.
    */
  class RawFs extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        posix(permission.toShort))
  }

  /** Hadoop's `local.RawLocalFs` over [[RawFs]]. Its constructors are
    * package-private, so its three overrides are carried over here.
    */
  class RawAbstractFs(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new RawFs, conf,
        FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults: FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  /** The rwx bits of `mode` (`0644` etc.). `PosixFilePermission` lists
    * OWNER_READ .. OTHERS_EXECUTE, the bits from 0400 down to 0001.
    */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] =
    PosixFilePermission.values.zipWithIndex
      .collect { case (p, i) if (mode & (0x100 >> i)) != 0 => p }
      .toSet.asJava
}
