package graft.storage

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.{FileSystemException, FileSystems, Files}
import java.nio.file.attribute.{FileTime, PosixFilePermission}
import java.security.Principal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without its subprocesses.
  *
  * Without Hadoop's native library (Spark does not ship it),
  * `RawLocalFileSystem` forks `chmod` for every file it creates and every
  * directory level `mkdirs` makes, `readlink` for every
  * `getFileLinkStatus` (which FileContext renames call) and `ls -ld` the
  * first time a status's permission, owner or group is read. Each fork
  * costs milliseconds; the same work through java.nio costs microseconds.
  * Modes, owners and the symlink answers stay as Hadoop's: the two modes
  * `Files.setPosixFilePermissions` cannot express (the sticky bit, and
  * the set-id bits `chmod` keeps on a directory) still go through
  * `chmod`, and symlinks still go through `readlink`.
  */
class GraftRawLocalFileSystem extends RawLocalFileSystem {
  import GraftRawLocalFileSystem._

  private lazy val blockSize = getDefaultBlockSize(new Path("/"))

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p)
    val mode = orMissing(p, file)(Files.getAttribute(file.toPath, "unix:mode").asInstanceOf[Int])
    if (permission.getStickyBit || ((mode & TypeMask) == Directory && (mode & SetId) != 0))
      super.setPermission(p, permission)
    else orMissing(p, file)(Files.setPosixFilePermissions(file.toPath, posix(permission.toShort)))
  }

  /** One `stat` and two name lookups, where Hadoop stats the path five
    * times and forks `ls -ld` once the permission, owner or group is read.
    */
  override def getFileStatus(f: Path): FileStatus = {
    val file = pathToFile(f)
    val a = orMissing(f, file)(Files.readAttributes(file.toPath, StatusAttributes))
    def time(attr: String) = a.get(attr).asInstanceOf[FileTime].toMillis
    def name(attr: String) = a.get(attr).asInstanceOf[Principal].getName
    new FileStatus(a.get("size").asInstanceOf[Long], a.get("isDirectory").asInstanceOf[Boolean],
      1, blockSize, time("lastModifiedTime"), time("lastAccessTime"),
      new FsPermission((a.get("mode").asInstanceOf[Int] & PermissionBits).toShort),
      name("owner"), name("group"), new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
  }

  /** The link status of a path that is not a symlink is its status. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)

  /** Hadoop answers a path `File.exists` cannot see with
    * `FileNotFoundException`, whatever the cause.
    */
  private def orMissing[T](f: Path, file: File)(body: => T): T =
    try body catch {
      case _: FileSystemException if !file.exists() =>
        throw new FileNotFoundException(s"File $f does not exist")
    }
}

object GraftRawLocalFileSystem {
  private val StatusAttributes =
    "unix:size,isDirectory,lastModifiedTime,lastAccessTime,mode,owner,group"
  private val TypeMask = 0xf000 // S_IFMT
  private val Directory = 0x4000 // S_IFDIR
  private val SetId = 0xc00 // S_ISUID | S_ISGID
  private val PermissionBits = 0x3ff // sticky bit and rwxrwxrwx

  /** The rwxrwxrwx bits of `mode`; `PosixFilePermission` lists them in
    * that order.
    */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((mode >> (8 - i) & 1) == 1) set.add(p)
    }
    set
  }
}

/** The checksummed `fs.file.impl` over [[GraftRawLocalFileSystem]]:
  * `.crc` files are written and verified exactly as by Hadoop's
  * `LocalFileSystem`.
  */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl` for FileContext (streaming
  * checkpoints): Hadoop's `LocalFs` (a `ChecksumFs` over `RawLocalFs`)
  * with [[GraftRawLocalFileSystem]] underneath.
  */
class GraftLocalFs(uri: URI, conf: Configuration) // `uri` is always file:///
    extends ChecksumFs(new GraftRawLocalFs(conf))

/** Hadoop's `RawLocalFs`, which is not constructible outside its
  * package, delegating to [[GraftRawLocalFileSystem]].
  */
class GraftRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new GraftRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

object GraftLocalFileSystem {
  val FileImplKey = "fs.file.impl"
  val AbstractFileImplKey = "fs.AbstractFileSystem.file.impl"
  private val HadoopLocalFs = "org.apache.hadoop.fs.local.LocalFs"

  /** Makes graft's local filesystem the `file:` implementation of `conf`
    * for both Hadoop APIs. A key that names any other class is left as
    * it is, so an explicit Hadoop setting (`spark.hadoop.fs.file.impl`,
    * `spark.hadoop.fs.AbstractFileSystem.file.impl`) always wins; that is
    * also how to opt out. Does nothing where the JDK has no `unix` file
    * attribute view.
    */
  def install(conf: Configuration): Unit =
    if (FileSystems.getDefault.supportedFileAttributeViews.contains("unix")) {
      if (Option(conf.getTrimmed(FileImplKey)).forall(_.isEmpty))
        conf.set(FileImplKey, classOf[GraftLocalFileSystem].getName)
      if (Option(conf.getTrimmed(AbstractFileImplKey)).forall(v => v.isEmpty || v == HadoopLocalFs))
        conf.set(AbstractFileImplKey, classOf[GraftLocalFs].getName)
    }
}
