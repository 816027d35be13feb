package graft.io

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FSLinkResolver,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** Hadoop's local filesystem without its shell forks.
  *
  * Without `libhadoop` (Spark's binary distribution ships none),
  * `RawLocalFileSystem` forks `chmod` for every file and directory it
  * creates and `readlink` for every link-status probe — two per
  * `FileContext.rename`. Every checkpoint commit, state-store file and
  * parquet part pays those forks: about 2 400 processes for one
  * 250 000-line maillog backfill. [[NioRawLocalFileSystem]] answers
  * both through `java.nio` with Hadoop's exact results; the two
  * wrappers put it under both `file:` entry points. */
object LocalFs {

  private val Keys = Seq(
    // the FileSystem path: parquet writers, committers, RocksDB copies
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    // the FileContext path: offsets/commits logs, state-store files
    "fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName,
    // a session handed in from outside has already cached the stock
    // LocalFileSystem, and the cache is keyed by scheme, not class
    "fs.file.impl.disable.cache" -> "true")

  /** Routes `file:` I/O of queries started after this call through the
    * fork-free filesystem. Session-wide and idempotent; session confs
    * reach every query's Hadoop conf. */
  def install(spark: SparkSession): Unit =
    Keys.foreach { case (k, v) => spark.conf.set(k, v) }
}

/** `RawLocalFileSystem` with `setPermission` and link status through
  * `java.nio`; modes, statuses and errors otherwise as Hadoop's. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** `chmod` of all twelve mode bits, following links as `chmod` does. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    Files.setAttribute(pathToFile(p).toPath, "unix:mode", Int.box(permission.toShort & 0xfff))

  override def getFileLinkStatus(f: Path): FileStatus = {
    val fi = linkStatus(f)
    if (fi.isSymlink) fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, fi.getPath, fi.getSymlink))
    fi
  }

  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  /** Hadoop's link status with an unqualified target. The link is read
    * from `new File(f.toString)`, the file Hadoop hands to `readlink`,
    * so a scheme-qualified path is never a link here either. */
  private def linkStatus(f: Path): FileStatus = {
    val link = new File(f.toString).toPath
    val target =
      if (!Files.isSymbolicLink(link)) ""
      else try Files.readSymbolicLink(link).toString.trim catch { case _: IOException => "" }
    if (target.isEmpty) getFileStatus(f)
    else try {
      val s = getFileStatus(f)
      new FileStatus(s.getLen, false, s.getReplication, s.getBlockSize, s.getModificationTime,
        s.getAccessTime, s.getPermission, s.getOwner, s.getGroup, new Path(target), f)
    } catch {
      // a dangling link
      case _: FileNotFoundException =>
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", new Path(target), f)
    }
  }
}

/** `fs.file.impl`: Hadoop's `LocalFileSystem` over the fork-free raw one. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: Hadoop's `LocalFs` (checksums
  * over a delegate to the raw filesystem) over the fork-free one. The
  * `(URI, Configuration)` constructor is the one Hadoop reflects on;
  * like `LocalFs`, it serves `file:///` whatever the URI. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(conf))

/** Hadoop's `RawLocalFs` over [[NioRawLocalFileSystem]]. */
private class NioRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
