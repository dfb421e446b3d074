package graft.sinks

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{FileSystems, Files, InvalidPathException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system with its two process forks replaced
  * by `java.nio` calls. Without `libhadoop` (not shipped with Spark),
  * Hadoop 3.4's `RawLocalFileSystem` runs `chmod` as a new process for
  * every dir, file and `.crc` it creates (`setPermission`), and
  * `readlink` for every `getFileLinkStatus`, which each FileContext
  * rename of a streaming checkpoint calls several times. See
  * [[graft.Sessions]] for what that cost per micro-batch.
  *
  * Behaviour is Hadoop's: the same mode bits, the same statuses.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** The nine rwx bits through `Files.setPosixFilePermissions`, which,
    * like `chmod`, follows a symlink. A sticky bit, or a JVM whose file
    * system has no POSIX attributes, takes Hadoop's own path.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit || !NioRawLocalFileSystem.Posix) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      NioRawLocalFileSystem.modeBits(permission.toShort))

  /** Hadoop's `deprecatedGetFileLinkStatusInternal` (the path it takes
    * unless `RawLocalFileSystem.useStatIfAvailable` was called), with
    * `Files.readSymbolicLink` in place of running `readlink`. Like
    * Hadoop, it reads the link at `f.toString`: for a qualified path that
    * is a `file:` URI string, never a link, so such a path gets its
    * `getFileStatus`, as stock Hadoop's always does.
    */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val target =
      try Files.readSymbolicLink(new File(f.toString).toPath).toString.trim
      catch { case _: IOException | _: InvalidPathException | _: UnsupportedOperationException => "" }
    val status =
      try {
        val st = getFileStatus(f)
        if (target.isEmpty) st
        else new FileStatus(st.getLen, false, st.getReplication, st.getBlockSize,
          st.getModificationTime, st.getAccessTime, st.getPermission, st.getOwner,
          st.getGroup, new Path(target), f)
      } catch {
        case _: FileNotFoundException if target.nonEmpty =>
          // a dangling link
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "",
            new Path(target), f)
      }
    if (status.isSymlink)
      status.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, status.getPath, status.getSymlink))
    status
  }
}

object NioRawLocalFileSystem {
  private val Posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** The permissions of the low nine bits of `mode`; `PosixFilePermission`
    * lists them from owner read (0400) down to others execute (01).
    */
  private def modeBits(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((mode & (0x100 >> i)) != 0) set.add(p)
    }
    set
  }
}

/** `fs.file.impl`: Hadoop's checksummed local file system (`.crc`
  * sidecars included) over [[NioRawLocalFileSystem]].
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The FileContext side, which streaming checkpoints write through:
  * Hadoop's `RawLocalFs` (the AbstractFileSystem adapter of the local
  * file system) over [[NioRawLocalFileSystem]].
  */
class NioRawLocalFs(uri: URI, conf: Configuration) extends DelegateToFileSystem(
    uri, new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: Hadoop's `LocalFs` (checksummed)
  * over [[NioRawLocalFs]]. Like `LocalFs` it ignores `uri`: there is one
  * local file system, at `file:///`.
  */
class NioLocalFs(uri: URI, conf: Configuration)
  extends ChecksumFs(new NioRawLocalFs(FsConstants.LOCAL_FS_URI, conf))
