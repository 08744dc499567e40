package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without child processes.
  *
  * Without the Hadoop native library, `RawLocalFileSystem` runs `chmod`
  * in a child process for every create and `mkdirs`, and `readlink` in
  * one for every `getFileLinkStatus` (each `FileContext` rename asks
  * twice). A streaming checkpoint, a state-store delta or a landing
  * file of a few hundred bytes then costs several forks. These classes
  * do the same two things through `java.nio.file`; the bytes, the
  * `.crc` sidecars and the rename semantics are Hadoop's own.
  * [[GraftSession.builder]] installs them under [[Conf]].
  */
object LocalFs {

  /** The two Hadoop keys that route `file:` through these classes, as
    * Spark conf entries (`spark.hadoop.` + key).
    */
  val Conf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[LocalFs.FileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[LocalFs.Fs].getName)

  /** `RawLocalFileSystem` with the two forking calls done in-process. */
  class RawFileSystem extends RawLocalFileSystem {

    /** The nine rwx bits through `Files.setPosixFilePermissions` (which,
      * like `chmod`, follows a link); a sticky bit or a store without
      * POSIX permissions goes to Hadoop's own path.
      */
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else {
        // without the sticky bit, toString is the nine `rwxr-x---` symbols
        val perms = PosixFilePermissions.fromString(permission.toString)
        try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
      }

    /** A path that is not a symlink has the status `getFileStatus`
      * gives, which is what Hadoop returns after running `readlink`.
      * A link goes to Hadoop's own path.
      */
    override def getFileLinkStatus(p: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(p).toPath)) super.getFileLinkStatus(p)
      else getFileStatus(p)
  }

  /** The checksummed `file:` filesystem for `FileSystem.get`. */
  class FileSystem extends LocalFileSystem(new RawFileSystem)

  /** `FileContext`'s raw `file:` filesystem, as Hadoop's `RawLocalFs`. */
  class RawFs(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new RawFileSystem, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }

  /** `FileContext`'s checksummed `file:` filesystem, as Hadoop's `LocalFs`. */
  class Fs(uri: URI, conf: Configuration) extends ChecksumFs(new RawFs(uri, conf))
}
