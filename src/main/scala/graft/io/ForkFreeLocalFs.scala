package graft.io

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, InvalidPathException, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver, FileStatus,
  FileSystem, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** A `RawLocalFileSystem` that starts no process.
  *
  * Without the native `libhadoop`, Hadoop's local filesystem shells out:
  * `setPermission` runs `chmod` for every file and directory it creates
  * (parquet part files, their `.crc` files, checkpoint log entries), and
  * `getFileLinkStatus` runs `readlink`, twice for every
  * `FileContext.rename` (the checkpoint's offset and commit logs). Each
  * start costs about 1.4 ms; the NIO calls below cost microseconds.
  *
  *   - `setPermission` sets the nine rwx bits with
  *     `Files.setPosixFilePermissions`. A sticky-bit mode, which NIO
  *     cannot express, and a store without POSIX attributes still go to
  *     the parent.
  *   - `getFileLinkStatus` / `getLinkTarget` read the link with
  *     `Files.readSymbolicLink` and keep Hadoop's four cases: a regular
  *     path, a symlink, a dangling symlink and a missing path. Like
  *     Hadoop, the link is read at `File(f.toString)`, so a
  *     scheme-qualified path reads as no link in both.
  *
  * The lazy `ls` behind `DeprecatedRawLocalFileStatus.getPermission` is
  * untouched; nothing on the fan-out path reads a local file's owner or
  * permission. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath, ForkFreeLocalFs.posix(permission.toShort))
      catch {
        case e: NoSuchFileException => throw new FileNotFoundException(e.getMessage)
        case _: UnsupportedOperationException => super.setPermission(p, permission)
      }

  override def getFileLinkStatus(f: Path): FileStatus = {
    val fi = linkStatus(f)
    if (fi.isSymlink)
      fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, fi.getPath, fi.getSymlink))
    fi
  }

  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  /** Hadoop's `deprecatedGetFileLinkStatusInternal` with the `readlink`
    * process replaced by NIO; the link target stays unqualified. */
  private def linkStatus(f: Path): FileStatus = {
    val target =
      try Files.readSymbolicLink(new File(f.toString).toPath).toString.trim
      catch { case _: IOException | _: InvalidPathException | _: UnsupportedOperationException => "" }
    try {
      val fs = getFileStatus(f)
      if (target.isEmpty) fs
      else new FileStatus(fs.getLen, false, fs.getReplication, fs.getBlockSize,
        fs.getModificationTime, fs.getAccessTime, fs.getPermission, fs.getOwner, fs.getGroup,
        new Path(target), f)
    } catch {
      case _: FileNotFoundException if target.nonEmpty => // a dangling link
        new FileStatus(0L, false, 0, 0L, 0L, 0L, FsPermission.getDefault, "", "", new Path(target), f)
    }
  }
}

/** `file:` as a `FileSystem` (parquet writes, job commit). */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The raw `AbstractFileSystem` side, mirroring Hadoop's `RawLocalFs`
  * (whose constructors are package-private). */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `file:` as an `AbstractFileSystem` (`FileContext`: the streaming
  * checkpoint's metadata logs), checksummed like Hadoop's `LocalFs`. */
class ForkFreeLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))

object ForkFreeLocalFs {

  private val impls = Seq(
    "fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[ForkFreeLocalFs].getName)

  /** Route `file:` through the fork-free classes for this session and
    * every session of its context. The keys go on the context's Hadoop
    * conf and on the session's conf (which overlays it in every Hadoop
    * conf the session hands out), and a default `LocalFileSystem` already
    * in `FileSystem`'s cache is closed, which drops it from the cache, so
    * the next `FileSystem.get` builds the fork-free one. */
  def install(spark: SparkSession): Unit = {
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    impls.foreach { case (k, v) => hadoopConf.set(k, v); spark.conf.set(k, v) }
    val cached = FileSystem.get(FsConstants.LOCAL_FS_URI, hadoopConf)
    if (!cached.isInstanceOf[ForkFreeLocalFileSystem]) cached.close()
  }

  /** The rwx bits of a mode (`0755`) as NIO permissions. */
  private[io] def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    // values() runs OWNER_READ (0400) down to OTHERS_EXECUTE (0001)
    PosixFilePermission.values.iterator.zipWithIndex.foreach { case (p, i) =>
      if ((mode & (0x100 >> i)) != 0) perms.add(p)
    }
    perms
  }
}
