package graft.storage

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system without a process per metadata call.
  *
  * Without libhadoop (the `hadoop-client-api` jars ship none),
  * `RawLocalFileSystem` sets the mode of every file and directory it
  * creates by forking `chmod`, and answers `getFileLinkStatus` (which
  * every `FileContext` rename asks for source and destination) by
  * forking `readlink`. On the streaming ingest path that is a process
  * per data file, `.crc` file, partition directory, and per create and
  * rename of each offset, commit and source log entry. On a 4-core
  * host a local create measured 6.2 ms and a `FileContext` rename
  * 23 ms, against 0.03 ms for an NIO create plus chmod.
  *
  * This subclass does both through `java.nio.file`: the same modes,
  * the same statuses, no process. Only what NIO cannot express (the
  * sticky bit) and real symlinks still go through the inherited code. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString)) // "rwxr-x---"

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The checksummed `file:` [[org.apache.hadoop.fs.FileSystem]] over
  * [[NioRawLocalFileSystem]]: `.crc` side files are written, checked
  * and renamed as by `LocalFileSystem`. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

object NioLocalFileSystem {

  /** Hadoop confs that make `file:` paths use these classes, for the
    * `FileSystem` API (data files, manifests, listings) and for
    * `FileContext` (Spark's default checkpoint file manager: offset,
    * commit and source logs). `FileSystem.get` caches one instance per
    * scheme and user and ignores the conf once one is cached, so the
    * cache is off for `file:` while they are held: each `getFileSystem`
    * builds a local file system, which costs microseconds. Set on a
    * session, Spark carries them into every Hadoop conf it derives for
    * that session (`sessionState.newHadoopConf()`), driver and tasks. */
  val Confs: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName,
    "fs.file.impl.disable.cache" -> "true")
}

/** The `AbstractFileSystem` (`FileContext`) twin of `RawLocalFs` over
  * [[NioRawLocalFileSystem]], with its server defaults and name rule. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  @deprecated("as AbstractFileSystem.getServerDefaults()", "")
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The checksummed `FileContext` twin of `LocalFs`, so Spark's default
  * `FileContext`-based checkpoint manager runs on
  * [[NioRawLocalFileSystem]] with no checkpoint conf swapped. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(FsConstants.LOCAL_FS_URI, conf))
