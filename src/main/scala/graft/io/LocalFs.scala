package graft.io

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without a child process per call.
  *
  * Without the native `libhadoop`, `RawLocalFileSystem` runs `chmod` for
  * every `setPermission`, which it calls on every `mkdirs` and every
  * `create` (each data file and each `.crc` beside it), and `readlink` for
  * every `getFileLinkStatus`, which `FileContext` calls on both sides of
  * every rename (each streaming offset and commit log entry). Measured in
  * a 3 GB JVM on a 4-core VM: `mkdirs` 3.4–4.2 ms with the fork and
  * 0.07–0.09 ms through NIO, `getFileLinkStatus` 3.5 ms and 0.03 ms.
  *
  * Only those two calls change, and only where NIO can do exactly what the
  * fork did; anything else goes to the stock code:
  *
  *  - `setPermission` writes the nine `rwx` bits with
  *    `Files.setPosixFilePermissions`. A mode with sticky or setuid/setgid
  *    bits, or a file that already carries them (`chmod` keeps a
  *    directory's setgid bit), takes the stock path.
  *  - `getFileLinkStatus` of a path that is not a symbolic link is its
  *    `getFileStatus`, which is what the stock code returns for it (it asks
  *    `readlink` about the `file:` URI string, gets "", and stats the
  *    path). Symbolic links take the stock path.
  *
  * Checksums, rename semantics and the on-disk layout are Hadoop's own.
  * [[LocalFs.settings]] registers the filesystem for both Hadoop APIs;
  * `graft.Engine.session` applies them. (`FileSystem.get` caches one
  * instance per scheme and user for the JVM, so a `file:` filesystem
  * opened before the first session keeps the stock class.) */
class LocalFs extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    // sticky/setuid/setgid (07000), asked for or already on the file;
    // `unix:mode` follows links as `chmod` does, and a missing file raises
    val special = (permission.toShort | Files.getAttribute(file, "unix:mode").asInstanceOf[Int]) & 0xe00
    if (special != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(file, PosixFilePermissions.fromString(permission.toString))
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object LocalFs {

  /** The `file:` scheme for `FileSystem.get`: checksummed, as stock. */
  class Checksummed extends LocalFileSystem(new LocalFs)

  /** The `file:` scheme for `FileContext` (streaming checkpoints): the
    * stock `local.LocalFs` stack, `ChecksumFs` over a delegate, with
    * [[LocalFs]] underneath. The stock delegate builds its own
    * `RawLocalFileSystem`, which `fs.file.impl` does not reach. */
  class Context(uri: URI, conf: Configuration) extends ChecksumFs(new Raw(uri, conf))

  /** Mirrors `org.apache.hadoop.fs.local.RawLocalFs` over [[LocalFs]]. */
  class Raw(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new LocalFs, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  /** Session settings that put both Hadoop filesystem APIs on [[LocalFs]]. */
  val settings: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[Checksummed].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[Context].getName)
}
