package graft.sources

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FSLinkResolver,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem with permissions and link status
  * done in-process through `java.nio`.
  *
  * Without `libhadoop.so`, `RawLocalFileSystem` forks `chmod` for every
  * file it creates and directory it makes, and `readlink` for every
  * link-status lookup (both sides of every `FileContext` rename), each
  * through `org.apache.hadoop.util.Shell`. This class changes only how
  * those two facts are set and read; data, checksums and rename
  * semantics are Hadoop's. A sticky bit (which `java.nio` cannot set)
  * and a default filesystem without POSIX attributes defer to Hadoop.
  * [[graft.GraftSession]] registers it for the
  * `file:` scheme through [[LocalFs.settings]].
  */
class LocalFs extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit || !LocalFs.posix) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, LocalFs.posixBits(permission))

  override def getFileLinkStatus(f: Path): FileStatus = {
    val st = linkStatus(f)
    if (st.isSymlink) st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, f, st.getSymlink))
    st
  }

  /** The unqualified target; not a link is an `IOException`. */
  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  /** Hadoop's status of a link, unqualified: the target's stat with
    * `isdir` false, or an empty stat for a dangling link. Hadoop reads
    * the target by forking `readlink` on `f.toString`, which for a
    * qualified `file:/…` path names no file, so it would report a
    * plain file there. */
  private def linkStatus(f: Path): FileStatus = {
    val p = pathToFile(f).toPath
    if (!Files.isSymbolicLink(p)) return getFileStatus(f)
    val target = new Path(Files.readSymbolicLink(p).toString)
    if (!Files.exists(p))
      new FileStatus(0L, false, 0, 0L, 0L, 0L, FsPermission.getDefault, "", "", target, f)
    else {
      val s = getFileStatus(f)
      new FileStatus(s.getLen, false, s.getReplication, s.getBlockSize, s.getModificationTime,
        s.getAccessTime, s.getPermission, s.getOwner, s.getGroup, target, f)
    }
  }
}

object LocalFs {
  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** `PosixFilePermission` is declared owner-read first, so ordinal i
    * is mode bit 8 - i. */
  private def posixBits(p: FsPermission): java.util.Set[PosixFilePermission] = {
    val mode = p.toShort
    val out = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach(b => if ((mode & (1 << (8 - b.ordinal))) != 0) out.add(b))
    out
  }

  /** The session settings that route both of Hadoop's local-file APIs
    * (`FileSystem` and `FileContext`) through [[LocalFs]]. */
  val settings: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[ChecksumLocalFs].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[ChecksumLocalFsContext].getName)
}

/** `FileSystem` face of [[LocalFs]], with `.crc` checksums like
  * Hadoop's `LocalFileSystem`. */
class ChecksumLocalFs extends LocalFileSystem(new LocalFs)

/** `FileContext` face of [[LocalFs]], what Hadoop's `local.RawLocalFs`
  * is to `RawLocalFileSystem` (that class hard-codes its delegate). */
class LocalFsContext(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new LocalFs, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** Checksummed `FileContext` face of [[LocalFs]] (Hadoop's
  * `local.LocalFs` with [[LocalFsContext]] underneath). */
class ChecksumLocalFsContext(uri: URI, conf: Configuration)
    extends ChecksumFs(new LocalFsContext(uri, conf))
