package graft.io

import java.io.{File, IOException}
import java.net.URI
import java.nio.file.{Files, InvalidPathException}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/**
 * Hadoop's `file:` filesystem without a process launch per operation.
 * Without `libhadoop.so`, `RawLocalFileSystem` forks `chmod` for every file
 * and directory it creates and `readlink` for every `getFileLinkStatus`
 * (a streaming checkpoint-log rename asks 8 times). These two go through
 * java.nio instead; every other method, and every case below that Hadoop
 * handles differently, is Hadoop's own.
 */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** `chmod` as one syscall where it gives what Hadoop's `chmod 0nnn`
    * gives. A sticky bit (no 9-letter POSIX form) keeps Hadoop's path. */
  override def setPermission(p: Path, perm: FsPermission): Unit =
    if (perm.getStickyBit || !nioChmod(pathToFile(p).toPath, perm)) super.setPermission(p, perm)

  /** False, having changed nothing, where the answer could differ from
    * Hadoop's: a set-id bit already on the file (`chmod 0755` keeps a
    * directory's, `setPosixFilePermissions` clears it), no POSIX view, a
    * permission without the 9-letter form, or an I/O error (Hadoop's own
    * call then reports it). */
  private def nioChmod(path: java.nio.file.Path, perm: FsPermission): Boolean =
    try {
      val setId = (Files.getAttribute(path, "unix:mode").asInstanceOf[Int] & 0xc00) != 0
      if (!setId) Files.setPosixFilePermissions(path, PosixFilePermissions.fromString(perm.toString))
      !setId
    } catch {
      case _: IOException | _: UnsupportedOperationException | _: IllegalArgumentException => false
    }

  /** Reads the link of the same `File` Hadoop hands to `readlink`. Not a
    * link (or absent): the file's status, as Hadoop returns for an empty
    * `readlink`. A real link: Hadoop's path. */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val isLink = try { Files.readSymbolicLink(new File(f.toString).toPath); true }
    catch { case _: IOException | _: InvalidPathException => false }
    if (isLink) super.getFileLinkStatus(f) else getFileStatus(f)
  }
}

/** The checksummed `file:` FileSystem (the parquet writer, the committers). */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The raw `file:` AbstractFileSystem: Hadoop's `RawLocalFs` (whose
  * constructors are package-private) over [[NioRawLocalFileSystem]]. */
class NioRawLocalFs(uri: URI, conf: Configuration) extends DelegateToFileSystem(
    uri, new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** The checksummed `file:` FileContext filesystem (the streaming checkpoint
  * and state-store managers), as Hadoop's `LocalFs`. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(FsConstants.LOCAL_FS_URI, conf))

/** The confs that register these classes for the `file:` scheme. */
private[graft] object LocalFiles {
  val Confs: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName)
}
