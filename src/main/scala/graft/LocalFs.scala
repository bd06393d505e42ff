package graft

import java.io.{FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without the forked processes.
  *
  * Without the native Hadoop library, `RawLocalFileSystem` runs a
  * `chmod` process for every `setPermission` (reached from `create`
  * and `mkdirs`) and a `readlink` process for every
  * `getFileLinkStatus` (reached from each `FileContext.rename`, which
  * Spark's streaming checkpoint logs commit with). Each forked process
  * costs milliseconds; these overrides do the same work through
  * `java.nio.file` and keep Hadoop's contracts:
  *
  *  - `setPermission` sets the same mode bits, from the same
  *    `rwxr-x---` string (a sticky bit, which nio cannot express,
  *    still goes through Hadoop's `chmod`);
  *  - `getFileLinkStatus` returns a plain file's or directory's
  *    `getFileStatus`, a symlink's status with its target qualified
  *    against the link's parent, a stub status for a dangling link,
  *    and throws `FileNotFoundException` for a missing path (which
  *    `FileContext.rename(…, OVERWRITE)` relies on);
  *  - `getLinkTarget` returns a symlink's unqualified target, so a
  *    `FileContext` status of a link agrees with its link status.
  *
  * `src/main/resources/core-site.xml` installs [[NioLocalFileSystem]]
  * (`fs.file.impl`, for `FileSystem.get`) and [[NioLocalFs]]
  * (`fs.AbstractFileSystem.file.impl`, for `FileContext`), so every
  * `Configuration` in the JVM uses them. An explicit setting of
  * either key wins over that file. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else try Files.setPosixFilePermissions(
      pathToFile(p).toPath, PosixFilePermissions.fromString(permission.toString))
    catch { case e: NoSuchFileException => throw new FileNotFoundException(e.getMessage) }

  override def getFileLinkStatus(p: Path): FileStatus = {
    val f = pathToFile(p).toPath
    if (!Files.isSymbolicLink(f)) return getFileStatus(p)
    val target = FSLinkResolver.qualifySymlinkTarget(
      getUri, p, new Path(Files.readSymbolicLink(f).toString))
    try {
      val st = getFileStatus(p)
      new FileStatus(st.getLen, false, st.getReplication, st.getBlockSize,
        st.getModificationTime, st.getAccessTime, st.getPermission, st.getOwner,
        st.getGroup, target, p)
    } catch {
      case _: FileNotFoundException =>
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", target, p)
    }
  }

  override def getLinkTarget(p: Path): Path = {
    val f = pathToFile(p).toPath
    if (Files.isSymbolicLink(f)) new Path(Files.readSymbolicLink(f).toString)
    else throw new IOException(s"Path ${getFileStatus(p).getPath} is not a symbolic link")
  }
}

/** `FileSystem.get("file:///")`: Hadoop's checksummed `LocalFileSystem`
  * (it keeps the `.crc` side files) over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The `FileContext` view of [[NioRawLocalFileSystem]]: Hadoop's
  * `RawLocalFs` with the raw filesystem swapped. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `FileContext.getFileContext` for `file:`: Hadoop's checksummed
  * `LocalFs` over [[NioRawLocalFs]]. Hadoop instantiates it by
  * reflection with the (URI, Configuration) constructor; like
  * `LocalFs`, it always serves `file:///`. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(FsConstants.LOCAL_FS_URI, conf))
