package graft.streaming

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{FileSystems, Files, NoSuchFileException, Paths}
import java.nio.file.attribute.{FileTime, PosixFilePermission, UserPrincipal}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FSLinkResolver,
  FsConstants, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem with the calls that fork a process done
  * through java.nio instead. Without the native libhadoop,
  * RawLocalFileSystem runs `chmod` in [[setPermission]] for every file
  * and directory it creates, `readlink` in [[getFileLinkStatus]] (which
  * FileContext's rename asks for on both of its paths), and `ls -ld` when
  * a [[getFileStatus]] result's permission, owner or group is read. A
  * streaming checkpoint creates and renames a data file and its `.crc`
  * per state partition and per log entry on every microbatch, so those
  * child processes were most of a trigger's time.
  *
  * Every result equals the stock one: the same permission bits set, and
  * the same status fields, read in one stat call that follows links as
  * the stock calls do. Modes java.nio cannot express (the sticky bit) and
  * JDKs without the `unix` attribute view take the stock path.
  * [[getLinkTarget]] keeps the stock `readlink`; checkpoints hold no
  * links.
  *
  * FileContext, which Spark's checkpoint file manager uses, reaches it
  * through [[NioLocalFs.Checksummed]], the class StreamingJobs.run names
  * as `fs.AbstractFileSystem.file.impl`.
  */
class NioLocalFs extends RawLocalFileSystem {
  import NioLocalFs._

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (!unixView || permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, posix(permission.toShort))

  override def getFileStatus(f: Path): FileStatus =
    if (!unixView) super.getFileStatus(f)
    else {
      val file = pathToFile(f)
      val a = try Files.readAttributes(file.toPath, Attrs)
        catch { case _: NoSuchFileException =>
          throw new FileNotFoundException(s"File $f does not exist")
        }
      new FileStatus(a.get("size").asInstanceOf[Long],
        a.get("isDirectory").asInstanceOf[java.lang.Boolean], 1, getDefaultBlockSize(f),
        millis(a, "lastModifiedTime"), millis(a, "lastAccessTime"),
        new FsPermission((a.get("mode").asInstanceOf[Int] & 0x3ff).toShort), // rwx + sticky
        a.get("owner").asInstanceOf[UserPrincipal].getName,
        a.get("group").asInstanceOf[UserPrincipal].getName,
        new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
    }

  override def getFileLinkStatus(f: Path): FileStatus = {
    // the stock `readlink` is handed the path string as given, so a
    // scheme-qualified path never reads as a link; the same holds here
    val asGiven = Paths.get(f.toString)
    if (!unixView) super.getFileLinkStatus(f)
    else if (!Files.isSymbolicLink(asGiven)) getFileStatus(f)
    else {
      val target = new Path(Files.readSymbolicLink(asGiven).toString)
      val link = try {
        val st = getFileStatus(f)
        new FileStatus(st.getLen, false, st.getReplication, st.getBlockSize,
          st.getModificationTime, st.getAccessTime, st.getPermission, st.getOwner,
          st.getGroup, target, f)
      } catch { case _: FileNotFoundException => // a dangling link
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", target, f)
      }
      link.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, f, target))
      link
    }
  }
}

object NioLocalFs {

  /** The `unix` view reads the whole status, the sticky bit included. */
  private lazy val unixView = FileSystems.getDefault.supportedFileAttributeViews.contains("unix")

  private val Attrs =
    "unix:mode,owner,group,size,isDirectory,lastModifiedTime,lastAccessTime"

  private def millis(a: java.util.Map[String, AnyRef], name: String): Long =
    a.get(name).asInstanceOf[FileTime].toMillis

  /** The rwx bits of `mode`, owner first, as PosixFilePermission's order. */
  private def posix(mode: Short): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((mode & (0x100 >> i)) != 0) set.add(p)
    }
    set
  }

  /** [[NioLocalFs]] for FileContext, built as Hadoop's `LocalFs` builds
    * on `RawLocalFs`: `.crc` sidecars over a delegate to the FileSystem.
    * AbstractFileSystem instantiates it through this (URI, Configuration)
    * constructor; like `LocalFs`, it serves `file:///` whatever the URI.
    */
  class Checksummed(uri: URI, conf: Configuration) extends ChecksumFs(new Raw(conf))

  /** Hadoop's `RawLocalFs` over [[NioLocalFs]]. */
  private class Raw(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new NioLocalFs, conf, FsConstants.LOCAL_FS_URI.getScheme,
      false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
