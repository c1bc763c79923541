package graft.core

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermission}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without its shell fallback. With no
  * `libhadoop` on the host, stock `RawLocalFileSystem` forks `chmod`
  * for every create and `mkdirs`, and `readlink` for every
  * `getFileLinkStatus` — which FileContext's rename runs on both ends
  * of every streaming checkpoint commit. This class answers both in
  * process; everything else is the stock class.
  *
  *  - `setPermission` sets the same bits through `java.nio`; the
  *    sticky bit, or a path with no POSIX view, goes to `super`.
  *  - `getFileLinkStatus` is `getFileStatus` unless the path is a
  *    symlink. Stock hands `readlink` the `file:` URI string, which is
  *    never a link, so it already answers with `getFileStatus`.
  *
  * [[Sessions.localFs]] registers [[LocalFs.Checked]] (FileSystem
  * API) and [[LocalFs.Context]] (FileContext API) for `file:`.
  */
class LocalFs extends RawLocalFileSystem {

  override def setPermission(p: Path, perm: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    if (perm.getStickyBit || Files.getFileAttributeView(
        file, classOf[PosixFileAttributeView]) == null)
      super.setPermission(p, perm)
    else Files.setPosixFilePermissions(file, LocalFs.posix(perm.toShort))
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object LocalFs {

  /** The `rwxrwxrwx` bits of a mode; `PosixFilePermission`'s ordinals
    * run from OWNER_READ (bit 8) down to OTHERS_EXECUTE (bit 0).
    */
  private def posix(bits: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach { p =>
      if ((bits >> (8 - p.ordinal) & 1) != 0) set.add(p)
    }
    set
  }

  /** `fs.file.impl`: the checksummed wrapper, as stock `LocalFileSystem`. */
  final class Checked extends LocalFileSystem(new LocalFs)

  /** `fs.AbstractFileSystem.file.impl`: stock `local.LocalFs` over
    * [[LocalFs]] — `ChecksumFs` over a delegate with stock
    * `local.RawLocalFs`'s server defaults and name rule (its default
    * port, -1, is already the delegate's).
    */
  final class Context(uri: URI, conf: Configuration)
      extends ChecksumFs(new Delegate(uri, conf))

  private final class Delegate(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new LocalFs, conf, "file", false) {
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
