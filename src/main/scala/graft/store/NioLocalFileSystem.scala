package graft.store

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermission}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` FileSystem the engine and [[graft.Session.local]] run
  * on: Hadoop's checksummed `LocalFileSystem` whose raw layer sets
  * permissions and reads link status through `java.nio.file` instead of
  * a subprocess.
  *
  * Without `libhadoop` (the Spark distribution ships none), Hadoop's
  * `RawLocalFileSystem.setPermission` forks `chmod` for every file and
  * directory it creates (each `.crc` file and `_temporary` directory
  * included), and `getFileLinkStatus` forks `readlink`. A scheduled tick
  * creates ~50 such entries, so the forks cost more than its writes.
  * The bits set are the same: `Files.setPosixFilePermissions` follows
  * the path's symlinks as `chmod` does, which is what Hadoop's
  * NativeIO does when libhadoop is loaded. What NIO cannot express
  * (the sticky bit), and a filesystem without a POSIX attribute view,
  * take Hadoop's own path.
  *
  * It keeps the rename rule of the `file:` FileSystem it replaces. With
  * no `fs.file.impl` set, the Spark distribution resolves `file:` to
  * Hive's `ProxyLocalFileSystem` (hive-exec registers it after Hadoop's
  * `LocalFileSystem`), whose one change is that a rename onto an
  * existing file returns false, as on HDFS, instead of replacing it.
  * [[graft.ext.AtomicSink.commit]] is written for that rule.
  *
  * Installed by the conf keys of [[NioLocalFileSystem.Conf]]. */
final class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw) {
  override def rename(src: Path, dst: Path): Boolean = !isFile(dst) && super.rename(src, dst)
}

object NioLocalFileSystem {

  /** The conf keys that route `file:` paths, through both the
    * `FileSystem` API and `FileContext` (the streaming checkpoint log),
    * to the NIO-backed classes. The `file:` cache goes off with them:
    * Hadoop caches one `file:` instance per JVM and scheme, so without
    * it `fs.file.impl` would reach `FileSystem.get` only in a JVM whose
    * first `file:` lookup carried it. */
  val Conf: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true",
    "fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName)

  private val Bits = Seq(
    PosixFilePermission.OWNER_READ, PosixFilePermission.OWNER_WRITE,
    PosixFilePermission.OWNER_EXECUTE, PosixFilePermission.GROUP_READ,
    PosixFilePermission.GROUP_WRITE, PosixFilePermission.GROUP_EXECUTE,
    PosixFilePermission.OTHERS_READ, PosixFilePermission.OTHERS_WRITE,
    PosixFilePermission.OTHERS_EXECUTE)

  /** `mode`'s nine rwx bits as NIO permissions (owner read is bit 8). */
  private[store] def toPosix(mode: Short): java.util.Set[PosixFilePermission] = {
    val out = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    Bits.zipWithIndex.foreach { case (b, i) => if ((mode & (1 << (8 - i))) != 0) out.add(b) }
    out
  }

  /** `RawLocalFileSystem` with NIO `setPermission` and link status. */
  final class Raw extends RawLocalFileSystem {

    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val file = pathToFile(p).toPath
      if (permission.getStickyBit ||
          Files.getFileAttributeView(file, classOf[PosixFileAttributeView]) == null)
        super.setPermission(p, permission)
      else Files.setPosixFilePermissions(file, toPosix(permission.toShort))
    }

    /** A path that is no symlink has its plain status as its link
      * status, which is what Hadoop returns after `readlink` prints
      * nothing; only a symlink takes Hadoop's own path. */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** `fs.AbstractFileSystem.file.impl` for [[NioLocalFileSystem]]: the
    * checksummed local `FileContext` filesystem over [[Raw]], as
    * Hadoop's `LocalFs` is over `RawLocalFileSystem`. */
  final class NioLocalFs(uri: URI, conf: Configuration)
      extends ChecksumFs(new RawFs(uri, conf)) {
    override def getUriDefaultPort: Int = -1
  }

  /** Hadoop's `RawLocalFs` over [[Raw]] (its constructors are
    * package-private, so its overrides are repeated here). */
  final class RawFs(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new Raw, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
