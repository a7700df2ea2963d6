package graft.core

import java.io.File
import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The local file system every session uses for `file:` paths
  * (`fs.file.impl`, certified in [[Harness.conf]]): Hadoop's checksummed
  * `LocalFileSystem` over [[LocalFs.Raw]].
  */
class LocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem(new LocalFs.Raw)

/** The same for `FileContext` (`fs.AbstractFileSystem.file.impl`), which
  * the stream checkpoints and state stores write through: Hadoop's
  * `LocalFs` over [[LocalFs.Raw]]. Like it, it ignores `uri` (always
  * `file:///`).
  */
class LocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new LocalFs.RawFs(conf))

object LocalFs {

  private val PermBits = 0x1ff // 0777
  private val IdBits = 0xc00 // 06000: setuid, setgid
  private val TypeBits = 0xf000 // S_IFMT
  private val DirType = 0x4000 // S_IFDIR

  /** Hadoop's `RawLocalFileSystem` without its forks. Without
    * `libhadoop`, it runs `chmod` for every file, `.crc` and directory
    * it creates and `readlink` for every link status (which every
    * `FileContext.rename` asks for). These overrides make the same
    * system calls in-process; bytes, checksums and rename are Hadoop's.
    */
  private[core] class Raw extends RawLocalFileSystem {

    /** `chmod(1)` with four octal digits: mode bits above 0777 (the
      * sticky bit) keep Hadoop's path, and, as `chmod(1)` does, a
      * directory keeps its setuid and setgid bits.
      */
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if ((mode & ~PermBits) != 0) super.setPermission(p, permission)
      else {
        val f = pathToFile(p).toPath
        val old = Files.getAttribute(f, "unix:mode").asInstanceOf[Int]
        val kept = if ((old & TypeBits) == DirType) old & IdBits else 0
        Files.setAttribute(f, "unix:mode", Integer.valueOf(mode | kept))
      }
    }

    /** Hadoop asks `readlink(1)` about `new File(f.toString)`, so a
      * qualified `file:` path never reads as a link; only a real symlink
      * takes Hadoop's path.
      */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** Hadoop's `RawLocalFs` (package-private there) over [[Raw]]. */
  private[core] class RawFs(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new Raw, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }
}
