package graft.util

import java.io.{File, IOException}
import java.net.URI
import java.nio.file.{FileSystems, Files, InvalidPathException}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FileSystem, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file:` scheme without child processes.
  *
  * Without `libhadoop`, Hadoop's local file system runs `chmod` for every
  * file and directory it creates (and again for the file's `.crc`), and
  * `readlink` for every `FileContext` rename. Each child process costs
  * ~2.5 ms, and a metadata-log write of Spark's checkpoint manager starts
  * about ten of them: ~27 ms a write, on tmpfs as on disk. This binding
  * does both in-process through `java.nio` and changes nothing else: the
  * same files, modes, `.crc` files and exceptions. The launch profile
  * (`javaOptions` in build.sbt) installs it as `fs.file.impl`
  * ([[NioLocalFileSystem]]) and `fs.AbstractFileSystem.file.impl`
  * ([[NioLocalFs]]).
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** Hadoop keys I/O statistics by class, and the global `file` entry
    * belongs to whichever class registers first. Counting under the stock
    * class keeps one `file` total when both classes live in one JVM.
    */
  override def initialize(uri: URI, conf: Configuration): Unit = {
    val shared = FileSystem.getStatistics(
      FsConstants.LOCAL_FS_URI.getScheme, classOf[RawLocalFileSystem])
    super.initialize(uri, conf)
    statistics = shared
  }

  /** `chmod(2)` as `chmod 0nnn` does it: the mode bits plus, on a
    * directory, the setuid/setgid bits it already had. Any failure is
    * retried the stock way, so a missing path raises the stock exception.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (!NioLocalFs.unixModes) super.setPermission(p, permission)
    else try {
      val f = pathToFile(p).toPath
      val old = Files.getAttribute(f, "unix:mode").asInstanceOf[Int]
      val kept = if ((old & NioLocalFs.TypeBits) == NioLocalFs.Directory)
        old & NioLocalFs.SetIdBits else 0
      Files.setAttribute(f, "unix:mode", Integer.valueOf(permission.toShort | kept))
    } catch { case _: IOException => super.setPermission(p, permission) }

  /** The stock method asks `readlink` whether `f` is a symlink. Answer
    * that in-process; a symlink, the rare case, still takes the stock path.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (NioLocalFs.readLink(new File(f.toString)).isEmpty) getFileStatus(f)
    else super.getFileLinkStatus(f)
}

/** [[NioRawLocalFileSystem]] behind the `FileSystem` API, with `.crc`
  * checksums, as Hadoop's `LocalFileSystem` wraps its raw one.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** [[NioRawLocalFileSystem]] behind the `FileContext` API (which Spark's
  * checkpoint manager uses), with `.crc` checksums, as Hadoop's `LocalFs`
  * wraps its `RawLocalFs`.
  */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioLocalFs.Raw(conf))

object NioLocalFs {

  // st_mode fields (octal 0170000, 0040000 and 06000)
  private[util] val TypeBits = 0xf000
  private[util] val Directory = 0x4000
  private[util] val SetIdBits = 0xc00

  private[util] val unixModes =
    FileSystems.getDefault.supportedFileAttributeViews.contains("unix")

  /** What `FileUtil.readLink` returns: the trimmed output of
    * `readlink <f>`, or "" where `readlink` fails.
    */
  private[util] def readLink(f: File): String =
    try {
      val p = f.toPath
      if (Files.isSymbolicLink(p)) Files.readSymbolicLink(p).toString.trim else ""
    } catch { case _: IOException | _: InvalidPathException => "" }

  /** Hadoop's `RawLocalFs` over [[NioRawLocalFileSystem]]. */
  private[util] class Raw(conf: Configuration)
      extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
        new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
