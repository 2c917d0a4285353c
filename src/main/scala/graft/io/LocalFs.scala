package graft.io

import java.io.File
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.{PosixFilePermission, UserPrincipal}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without a forked process per call.
  *
  * Without the `libhadoop` native library, `RawLocalFileSystem` runs
  * `chmod` as a subprocess on every file create and `mkdirs`, and
  * `readlink` on every link-status lookup, twice per `FileContext`
  * rename. Streaming checkpoints, state stores, sinks and the lake write
  * many small files per micro-batch, so those forks were the stream's
  * fixed per-batch cost. This class sets the same nine mode bits through
  * `java.nio` and answers link status from `getFileStatus` unless the
  * path is a symlink. The stock code stays the path for a mode with a
  * sticky, setuid or setgid bit and for a real symlink. Listed statuses
  * read their permission, owner and group through `java.nio`, where the
  * stock ones run `ls -ld` per file (`LocatedFileStatus`, and so
  * `listFiles`, asks every file for them). Modes, owners, `.crc` files
  * and link results are those of the stock filesystem. */
class GraftRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      // owner read (0400) first, others execute (0001) last
      PosixFilePermission.values.zipWithIndex.collect {
        case (perm, i) if (mode & (0x100 >> i)) != 0 => perm }.toSet.asJava)
  }

  // The stock lookup runs `readlink` on `new File(f.toString)` and, when
  // it prints nothing (not a link, or a qualified `file:` string that
  // names no file), returns `getFileStatus(f)`.
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)

  override def listStatus(f: Path): Array[FileStatus] =
    super.listStatus(f).map(new PosixListedStatus(_))
}

/** A listed status whose permission, owner and group are read on first
  * use from one `stat`, where the stock status runs `ls -ld`: the nine
  * mode bits and the sticky bit, of a link's target as for the stock
  * status. A file gone since the listing reads as Hadoop's default
  * permission with an empty owner and group; the stock status throws
  * when `ls` fails. */
private class PosixListedStatus(s: FileStatus)
    extends FileStatus(s.getLen, s.isDirectory, s.getReplication, s.getBlockSize,
      s.getModificationTime, s.getAccessTime, null, null, null, s.getPath) {
  private lazy val loaded: Unit =
    try {
      val a = Files.readAttributes(new File(getPath.toUri.getPath).toPath, "unix:mode,owner,group")
      setPermission(new FsPermission((a.get("mode").asInstanceOf[Int] & 0x3ff).toShort))
      setOwner(a.get("owner").asInstanceOf[UserPrincipal].getName)
      setGroup(a.get("group").asInstanceOf[UserPrincipal].getName)
    } catch {
      case _: NoSuchFileException => setPermission(null); setOwner(null); setGroup(null)
    }

  override def getPermission: FsPermission = { loaded; super.getPermission }
  override def getOwner: String = { loaded; super.getOwner }
  override def getGroup: String = { loaded; super.getGroup }
}

/** `fs.file.impl`: `FileSystem.getLocal` casts to `LocalFileSystem`. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`, the `FileContext` path of
  * streaming checkpoints and state stores: Hadoop's `LocalFs` over the
  * raw filesystem above. `RawLocalFs`'s constructors are package-private,
  * so its overrides are mirrored here. */
class GraftLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(
    new DelegateToFileSystem(uri, new GraftRawLocalFileSystem, conf, "file", false) {
      override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
      override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
      override def isValidName(src: String): Boolean = true
    })
