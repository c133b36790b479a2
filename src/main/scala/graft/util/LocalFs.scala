package graft.util

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without the per-call process forks.
  *
  * Without `libhadoop` (never shipped with this engine), the stock
  * `RawLocalFileSystem` runs `chmod` in a child process for every
  * `create`/`mkdirs` and `readlink` for every `getFileLinkStatus` —
  * and `FileContext.rename`, the streaming offset/commit WAL's and the
  * state store's publish step, asks for 4-6 link statuses per rename.
  * One fork costs several milliseconds, which made the trigger
  * machinery of a small micro-batch and every small lake commit
  * fork-bound. These two overrides answer the same questions through
  * `java.nio`; everything else, the `.crc` checksum wrappers included,
  * is the stock code.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  /** The same nine mode bits the stock `chmod` would set (it follows
    * symlinks, and so does nio). A sticky bit has no nio spelling, so
    * it keeps the stock path.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath,
      LocalFs.posixBits(permission.toShort))
    catch {
      case _: NoSuchFileException =>
        throw new FileNotFoundException(s"File $p does not exist")
    }

  /** The stock non-native path reads the link target first and returns
    * plain `getFileStatus(f)` whenever there is none; a file that is
    * not a symlink answers the same without the `readlink` fork. Real
    * and dangling links take the stock path.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed local filesystem (`.crc` sidecars
  * written and verified as stock) over [[ForkFreeRawLocalFileSystem]].
  * Serves `FileSystem.get`: the warehouse log, lock and manifest
  * writes, the parquet writers and `FileOutputCommitter`.
  */
class GraftLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The `AbstractFileSystem` counterpart of Hadoop's `RawLocalFs`,
  * delegating to [[ForkFreeRawLocalFileSystem]].
  */
class ForkFreeRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: Hadoop's `LocalFs` (a `ChecksumFs`)
  * over [[ForkFreeRawLocalFs]]. Serves `FileContext`, which Spark's
  * streaming offset/commit logs and state-store files write through.
  * Like `LocalFs`, it always binds `file:///` whatever URI it is given.
  */
class GraftLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(conf))

object LocalFs {
  /** The Spark confs that install both entry points; Spark copies
    * `spark.hadoop.*` into every Hadoop configuration it builds.
    */
  val sparkConfs: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[GraftLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[GraftLocalFs].getName)

  // PosixFilePermission's declaration order runs OWNER_READ (0400)
  // down to OTHERS_EXECUTE (0001)
  private val byBit = PosixFilePermission.values().toSeq.zipWithIndex
    .map { case (p, i) => p -> (1 << (8 - i)) }

  private[util] def posixBits(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    byBit.foreach { case (p, bit) => if ((mode & bit) != 0) s.add(p) }
    s
  }
}
