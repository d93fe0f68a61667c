package graft.cdc

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributes, PosixFilePermissions}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver, FileStatus,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** The lake filesystem: the Hadoop filesystem graft reads and writes its
  * own files through (table groups, dead letters, the tail's
  * streaming checkpoint), under the `graftfs` scheme.
  *
  * It is Hadoop's local filesystem with its process-forking calls moved
  * to `java.nio`. Without the native libhadoop, the stock
  * `file:` filesystem forks `chmod` for every file and directory it
  * creates and `readlink` for every `FileContext` rename (each commit of
  * a streaming checkpoint file): about 6 ms a fork, three of them for a
  * bucket file in a new directory with its `.crc`. Everything on disk is
  * the same — the same files, `.crc` checksums (written and verified by
  * the `LocalFileSystem` / `ChecksumFs` layer) and modes — so `graftfs:`
  * and `file:` paths of one directory read each other's files.
  */
object LakeFs {
  val Scheme = "graftfs"

  /** `local` as a `graftfs:` path, registering the scheme on the
    * session's Hadoop conf on first use. A path with any scheme but
    * `file` comes back unchanged. */
  def path(spark: SparkSession, local: String): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    if (conf.get(s"fs.$Scheme.impl") == null) {
      // the key checked above goes last, so a racing caller that sees it sees both
      conf.set(s"fs.AbstractFileSystem.$Scheme.impl", classOf[LakeFs].getName)
      conf.set(s"fs.$Scheme.impl", classOf[LakeFileSystem].getName)
    }
    val uri = new Path(local).toUri
    if (uri.getScheme != null && uri.getScheme != "file") local
    else new Path(Scheme, null, new java.io.File(uri.getPath).getAbsolutePath).toString
  }
}

/** `FileSystem` API of the lake filesystem: checksummed, over [[RawLakeFileSystem]]. */
final class LakeFileSystem extends LocalFileSystem(new RawLakeFileSystem) {
  override def getScheme: String = LakeFs.Scheme
}

/** `FileContext` API of the lake filesystem (what Spark's streaming
  * checkpoint uses): checksummed like Hadoop's `LocalFs`, over the same
  * [[RawLakeFileSystem]]. */
final class LakeFs(uri: URI, conf: Configuration) extends ChecksumFs(
    new DelegateToFileSystem(uri, new RawLakeFileSystem, conf, LakeFs.Scheme, false) {
      // as Hadoop's RawLocalFs: names are the OS's to check, so a
      // checkpoint path with a ':' in it works here as under `file:`
      override def isValidName(src: String): Boolean = true
    })

/** `RawLocalFileSystem` under the `graftfs` scheme, with `setPermission`,
  * the symlink reads and a status's owner, group and mode done through
  * `java.nio` instead of a forked process. */
final class RawLakeFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create(s"${LakeFs.Scheme}:///")
  override def getScheme: String = LakeFs.Scheme

  /** The same POSIX mode `chmod` would set. The sticky bit (which
    * `java.nio` cannot set) and filesystems without POSIX attributes
    * take Hadoop's own call. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
        permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
          permission.getOtherAction.SYMBOL))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }

  override def getFileStatus(f: Path): FileStatus = new LakeFileStatus(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] =
    super.listStatus(f).map(s => new LakeFileStatus(s): FileStatus)

  /** A symlink's own status, its target qualified; any other path's
    * status. This is what Hadoop's call returns for a scheme-less path,
    * without the `readlink` (given a qualified path, Hadoop hands
    * `readlink` the URI string and never sees the link). */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val link = pathToFile(f).toPath
    if (!Files.isSymbolicLink(link)) getFileStatus(f)
    else {
      val target = getLinkTarget(f)
      val out =
        try {
          val s = getFileStatus(f)
          new FileStatus(s.getLen, false, s.getReplication, s.getBlockSize, s.getModificationTime,
            s.getAccessTime, s.getPermission, s.getOwner, s.getGroup, target, f)
        } catch { // a dangling link
          case _: FileNotFoundException =>
            new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", target, f)
        }
      out.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, out.getPath, out.getSymlink))
      out
    }
  }

  /** A symlink's unqualified target; fails for any other path, as Hadoop's does. */
  override def getLinkTarget(f: Path): Path = {
    val link = pathToFile(f).toPath
    if (Files.isSymbolicLink(link)) new Path(Files.readSymbolicLink(link).toString)
    else getFileStatus(f).getSymlink
  }
}

/** A lake file's status, with its owner, group and mode read through
  * `java.nio` on first use (a symlink reports its target's, as under
  * `file:`). Hadoop's local status forks a process for them and accepts
  * only `file:` paths. */
private final class LakeFileStatus(s: FileStatus) extends FileStatus(s.getLen, s.isDirectory,
    s.getReplication, s.getBlockSize, s.getModificationTime, s.getAccessTime, null, null, null,
    s.getPath) {
  private val file = s.getPath.toUri.getPath
  @transient private lazy val attrs =
    Files.readAttributes(java.nio.file.Paths.get(file), classOf[PosixFileAttributes])
  override def getPermission: FsPermission =
    FsPermission.valueOf("-" + PosixFilePermissions.toString(attrs.permissions))
  override def getOwner: String = attrs.owner.getName
  override def getGroup: String = attrs.group.getName
}
