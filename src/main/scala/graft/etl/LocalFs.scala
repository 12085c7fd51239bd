package graft.etl

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{FileSystemException, Files}
import java.nio.file.attribute.{FileTime, GroupPrincipal, PosixFilePermission, UserPrincipal}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system without process forks.
  *
  * Without `libhadoop`, [[RawLocalFileSystem]] shells out for metadata:
  * `chmod` on every create and mkdir, `readlink` on every
  * `getFileLinkStatus` (twice per `FileContext.rename`, which every
  * checkpoint, state-store and offset-log commit does) and `ls -ld` the
  * first time a status's permission, owner or group is read (Spark's
  * file listings copy all three). This class answers the same calls
  * from `java.nio` with the same results. Symlinks and modes carrying
  * bits beyond rwx keep Hadoop's own path.
  *
  * Registered for `file:` by the shipped `core-site.xml`, both for
  * `FileSystem` ([[GraftLocalFileSystem]]) and `FileContext`
  * ([[GraftLocalFs]]); the `.crc` checksum layer is unchanged. */
class GraftRawLocalFileSystem extends RawLocalFileSystem {
  import GraftRawLocalFileSystem._

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    // the sticky bit (01000) has no PosixFilePermission
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(mode))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }

  /** Follows links, like Hadoop's status, from one `stat`. */
  override def getFileStatus(f: Path): FileStatus = {
    val file = pathToFile(f)
    val a =
      try Files.readAttributes(file.toPath, StatAttributes)
      catch {
        case _: UnsupportedOperationException => return super.getFileStatus(f)
        case e: FileSystemException =>
          if (file.exists) throw e
          throw new FileNotFoundException(s"File $f does not exist")
      }
    new FileStatus(
      a.get("size").asInstanceOf[Long],
      a.get("isDirectory").asInstanceOf[Boolean],
      1, getDefaultBlockSize(f),
      a.get("lastModifiedTime").asInstanceOf[FileTime].toMillis,
      a.get("lastAccessTime").asInstanceOf[FileTime].toMillis,
      new FsPermission(a.get("mode").asInstanceOf[Int]),
      a.get("owner").asInstanceOf[UserPrincipal].getName,
      a.get("group").asInstanceOf[GroupPrincipal].getName,
      new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
  }

  /** Hadoop lists a plain file through its lazily-loading status class;
    * route it through [[getFileStatus]] too. */
  override def listStatus(f: Path): Array[FileStatus] =
    if (pathToFile(f).isDirectory) super.listStatus(f) else Array(getFileStatus(f))

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

private object GraftRawLocalFileSystem {
  private val StatAttributes =
    "unix:mode,owner,group,size,isDirectory,lastModifiedTime,lastAccessTime"

  /** `PosixFilePermission.values` runs owner r/w/x to others r/w/x,
    * i.e. mode bits 0400 down to 0001. */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((mode & (0x100 >> i)) != 0) set.add(p)
    }
    set
  }
}

/** `fs.file.impl`: Hadoop's checksummed local file system over
  * [[GraftRawLocalFileSystem]]. Without this registration `file:`
  * resolves through the service loader to Hive's `ProxyLocalFileSystem`
  * (hive-exec ships with Spark), whose one change is kept: a rename onto
  * an existing file returns false, as the `FileSystem` contract says,
  * instead of replacing it. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean = {
    val dstIsFile =
      try getFileStatus(dst).isFile catch { case _: FileNotFoundException => false }
    !dstIsFile && super.rename(src, dst)
  }
}

/** `FileContext` binding of [[GraftRawLocalFileSystem]], as Hadoop's
  * `org.apache.hadoop.fs.local.RawLocalFs` binds its raw file system. */
class GraftRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new GraftRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: the checksummed `FileContext`
  * local file system, as Hadoop's `org.apache.hadoop.fs.local.LocalFs`. */
class GraftLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new GraftRawLocalFs(uri, conf))
