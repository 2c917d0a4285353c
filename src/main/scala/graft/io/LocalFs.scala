package graft.io

import java.io.File
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

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
  * sticky, setuid or setgid bit and for a real symlink. Modes, `.crc`
  * files and link results are those of the stock filesystem. */
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
