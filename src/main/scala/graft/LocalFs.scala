package graft

import java.io.{FileNotFoundException, IOException, UncheckedIOException}
import java.net.URI
import java.nio.file.{FileSystems, Files, LinkOption, NoSuchFileException, Paths}
import java.nio.file.attribute.{GroupPrincipal, UserPrincipal}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** graft's `file:` filesystem: Hadoop's local filesystem with its three
  * process-starting metadata calls done through java.nio instead.
  *
  * Spark's stock jars ship no native Hadoop library, and without it
  * Hadoop's `RawLocalFileSystem` starts a shell process for:
  *   - every permission it sets: `chmod` on each file, `.crc` and
  *     directory it creates;
  *   - every FileContext rename: `readlink` on the source and on the
  *     destination, through `getFileLinkStatus`;
  *   - every permission, owner or group it reads: `ls -ld`, which
  *     `listFiles` pays once per file because a `LocatedFileStatus` copies
  *     all three.
  *
  * A streaming query's checkpoint, offset-log and state-store commits go
  * through all of these, hundreds of forks per query. Here the mode is set
  * and read through the JDK's `unix` attribute view (one `chmod(2)` /
  * `lstat(2)` system call, sticky bit included), and the link status of a
  * path that is not a symbolic link is its file status, which is Hadoop's
  * own answer without the `readlink`. Symbolic links, and any platform
  * whose default filesystem has no `unix` view, keep Hadoop's code.
  *
  * Hadoop reaches the filesystem through two APIs, so there are two
  * wrappers, both checksummed like Hadoop's own: [[LocalFs.FileSystemApi]]
  * (`fs.file.impl`: parquet writes, [[Tables]]) and
  * [[LocalFs.FileContextApi]] (`fs.AbstractFileSystem.file.impl`: Spark's
  * streaming checkpoint manager). [[SessionDefaults.localFs]] registers
  * both; every other scheme keeps its own filesystem.
  */
object LocalFs {

  /** `RawLocalFileSystem` with the java.nio metadata calls. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (!UnixView) super.setPermission(p, permission)
      else try Files.setAttribute(pathToFile(p).toPath, "unix:mode",
          Integer.valueOf(permission.toShort & ModeBits))
      catch { case _: NoSuchFileException => throw new FileNotFoundException(s"File $p does not exist") }

    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)

    override def getFileStatus(f: Path): FileStatus = withNioPermission(super.getFileStatus(f))

    override def listStatus(f: Path): Array[FileStatus] =
      super.listStatus(f).map(withNioPermission)

    private def withNioPermission(s: FileStatus): FileStatus =
      if (!UnixView || s.isSymlink) s
      else new NioStatus(s, pathToFile(s.getPath).getPath)
  }

  /** The FileSystem API over [[Raw]], checksummed like Hadoop's. */
  final class FileSystemApi extends LocalFileSystem(new Raw)

  /** The FileContext API over [[Raw]], checksummed like Hadoop's `LocalFs`. */
  final class FileContextApi(uri: URI, conf: Configuration)
      extends ChecksumFs(new RawContext(uri, conf))

  /** Hadoop's `RawLocalFs`, over [[Raw]] instead of `RawLocalFileSystem`. */
  private final class RawContext(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new Raw, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  /** A status whose permission, owner and group are read through java.nio
    * on first use, as Hadoop reads them on first use with `ls -ld`: of the
    * path itself, not a link's target. A path gone by then keeps the
    * defaults, as Hadoop's does; any other I/O error is thrown unchecked,
    * as Hadoop wraps a failed `ls` in a `RuntimeException`.
    */
  private final class NioStatus(s: FileStatus, local: String) extends FileStatus(
      s.getLen, s.isDirectory, s.getReplication, s.getBlockSize,
      s.getModificationTime, s.getAccessTime, null, null, null, s.getPath) {
    @volatile private var loaded = false

    private def load(): Unit = if (!loaded) synchronized {
      if (!loaded) {
        try {
          val a = Files.readAttributes(Paths.get(local), "unix:mode,owner,group",
            LinkOption.NOFOLLOW_LINKS)
          setPermission(new FsPermission((a.get("mode").asInstanceOf[Integer] & ModeBits).toShort))
          setOwner(a.get("owner").asInstanceOf[UserPrincipal].getName)
          setGroup(a.get("group").asInstanceOf[GroupPrincipal].getName)
        } catch {
          case _: NoSuchFileException =>
          case e: IOException =>
            throw new UncheckedIOException(s"Error reading the permissions of $local", e)
        }
        loaded = true
      }
    }

    override def getPermission: FsPermission = { load(); super.getPermission }
    override def getOwner: String = { load(); super.getOwner }
    override def getGroup: String = { load(); super.getGroup }
  }

  private val UnixView = FileSystems.getDefault.supportedFileAttributeViews.contains("unix")

  /** The sticky bit and the nine rwx bits, as `FsPermission.toShort`. */
  private val ModeBits = 0x3ff
}
