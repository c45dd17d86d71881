package graft.engine

import java.io.{FileNotFoundException, IOException, UncheckedIOException}
import java.net.URI
import java.nio.file.{FileSystems, Files, Paths}
import java.nio.file.attribute.{BasicFileAttributes, GroupPrincipal, PosixFilePermission, UserPrincipal}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system with permissions set and file status
  * read through java.nio instead of child processes.
  *
  * Without Hadoop's native library the stock class forks one `chmod` for
  * every file and directory it creates, one `ls -ld` for every status
  * whose permission, owner or group is read (`listFiles` reads all three
  * for each file it returns) and one `readlink` for every
  * `getFileLinkStatus` (a FileContext rename asks for two). One
  * fork+exec+wait costs milliseconds in a large JVM, and a lake write
  * statement paid dozens of them. This class gives the same answers:
  *
  *  - `setPermission` receives the bits after Hadoop applied the umask,
  *    and sets exactly those. A sticky bit, or a setuid/setgid bit already
  *    on the file (which `chmod` keeps on a directory), goes to the stock
  *    `chmod` route.
  *  - A status follows links, as the stock status does (it runs `ls -ld`
  *    on the canonical path). Permission, owner and group load on first
  *    read, sticky bit included, from the `unix` attribute view
  *    (`PosixFileAttributes` carries no sticky bit).
  *  - `getFileLinkStatus` reports a link with the stock fields, its target
  *    read with `Files.readSymbolicLink`. A link named by a qualified
  *    `file:/…` path (as FileContext names it) is reported as a link too;
  *    the stock class hands `file:/…` to `readlink` as a relative name and
  *    reports a plain file.
  *
  * On a JVM whose default file system has no `unix` attribute view
  * (Windows), permissions and status take the stock route.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    if (!unixView || permission.getStickyBit ||
        (Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & SetIdBits) != 0)
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(file, posixSet(permission.toShort))
  }

  override def getFileStatus(f: Path): FileStatus =
    if (!unixView) super.getFileStatus(f)
    else {
      val file = pathToFile(f)
      val attrs =
        try Files.readAttributes(file.toPath, classOf[BasicFileAttributes])
        catch { case _: IOException => throw new FileNotFoundException(s"File $f does not exist") }
      new LazyPermissionStatus(attrs, getDefaultBlockSize(f),
        new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
    }

  /** A directory's entries already come from [[getFileStatus]]; the stock
    * listing of a single file builds its own forking status. */
  override def listStatus(f: Path): Array[FileStatus] =
    if (unixView && !pathToFile(f).isDirectory) Array(getFileStatus(f))
    else super.listStatus(f)

  override def getFileLinkStatus(f: Path): FileStatus = {
    val link = pathToFile(f).toPath
    if (!Files.isSymbolicLink(link)) getFileStatus(f)
    else {
      val target = new Path(Files.readSymbolicLink(link).toString)
      val s =
        try {
          val t = getFileStatus(f)
          new FileStatus(t.getLen, false, t.getReplication, t.getBlockSize,
            t.getModificationTime, t.getAccessTime, t.getPermission, t.getOwner, t.getGroup,
            target, f)
        } catch {
          case _: FileNotFoundException => // dangling link
            new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", target, f)
        }
      s.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, s.getPath, s.getSymlink))
      s
    }
  }

  override def getLinkTarget(f: Path): Path =
    new Path(Files.readSymbolicLink(pathToFile(f).toPath).toString)
}

object NioRawLocalFileSystem {
  private val unixView = FileSystems.getDefault.supportedFileAttributeViews.contains("unix")
  private val SetIdBits = 0xc00 // 06000

  /** The nine rwx bits of `mode` (`values()` runs from 0400 down to 0001). */
  private def posixSet(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((mode & (0x100 >> i)) != 0) s.add(p)
    }
    s
  }

  /** The stock status fields; permission (sticky bit included), owner and
    * group are read on first use. */
  private final class LazyPermissionStatus(a: BasicFileAttributes, blockSize: Long, path: Path)
      extends FileStatus(a.size, a.isDirectory, 1, blockSize, a.lastModifiedTime.toMillis,
        a.lastAccessTime.toMillis, null, null, null, path) {
    private var loaded = false

    private def load(): Unit = synchronized {
      if (!loaded) {
        val u =
          try Files.readAttributes(Paths.get(getPath.toUri), "unix:mode,owner,group")
          catch { case e: IOException => throw new UncheckedIOException(s"status of $getPath", e) }
        setPermission(new FsPermission((u.get("mode").asInstanceOf[Int] & 0x3ff).toShort))
        setOwner(u.get("owner").asInstanceOf[UserPrincipal].getName)
        setGroup(u.get("group").asInstanceOf[GroupPrincipal].getName)
        loaded = true
      }
    }

    override def getPermission: FsPermission = { load(); super.getPermission }
    override def getOwner: String = { load(); super.getOwner }
    override def getGroup: String = { load(); super.getGroup }
  }
}

/** The checksummed `file:` FileSystem over [[NioRawLocalFileSystem]]:
  * `.crc` files are still written and verified, as by the stock
  * `LocalFileSystem`. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The `file:` FileContext face (`fs.AbstractFileSystem.file.impl`) over
  * [[NioRawLocalFileSystem]]: the stock `LocalFs` with the fork-free raw
  * class. Structured Streaming's checkpoint logs write through it.
  * `AbstractFileSystem.get` constructs it reflectively from `(URI,
  * Configuration)`; like the stock class it always binds `file:///`.
  */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(
  new DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    // the stock RawLocalFs answers: local server defaults, any name valid
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  })
