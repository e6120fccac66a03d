package graft.streaming

import java.nio.file.{Files, StandardCopyOption}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException,
  FileSystem, FsConstants, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing
  .FileSystemBasedCheckpointFileManager

/** Streaming checkpoint I/O on the local file system that never
  * spawns a process.
  *
  * Spark's default manager for `file:` paths goes through Hadoop's
  * `FileContext`: its rename resolves links with `FileUtil.readLink`,
  * a forked `readlink` several times per rename, and every local
  * create applies the default permission with a forked `chmod`
  * (without native libhadoop). Each state-store delta, offset-log and
  * commit-log entry is a create plus a rename, so a small stateful
  * trigger spends most of its wall time waiting for those processes.
  * In `q_stream_session`'s stateful stage (runMs 1432 vs 203 ms CPU,
  * 4-core VM) 62 of 114 busy-executor stack samples waited in
  * `ChecksumCheckpointFileManager.awaitResult` under
  * `HDFSBackedStateStoreProvider.finalizeDeltaFile`, on checksum-pool
  * threads inside `Shell.runCommand`.
  *
  * This manager keeps Spark's FileSystem-based manager, so bytes
  * still go through the checksummed [[LocalFileSystem]] and its
  * `.crc` sidecars are written and verified on read. It replaces only
  * what forks:
  *  - permissions are applied with a chmod system call (java.nio), not
  *    a `chmod` process, and a checksum mismatch fails the read
  *    without the `df` fork LocalFileSystem spends moving the file
  *    aside;
  *  - [[renameTempFile]] is java.nio. Without overwrite, `link(2)` is
  *    the atomic fail-if-exists fence (as in `TxnLog.atomicLink`) and
  *    a clash surfaces as Hadoop's [[FileAlreadyExistsException]],
  *    which `HDFSMetadataLog` reports as a concurrent writer. With
  *    overwrite it is an atomic `rename(2)`. The sidecar follows its
  *    file either way.
  *
  * Installed per streaming query by `StreamOps.withStreamConf`
  * through `spark.sql.streaming.checkpointFileManagerClass`; Spark's
  * `ChecksumCheckpointFileManager` still wraps it for state files.
  * Local paths only: any other scheme is refused, naming the path. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileSystemBasedCheckpointFileManager(
      LocalCheckpointFileManager.requireLocal(path, hadoopConf),
      hadoopConf) {
  import LocalCheckpointFileManager._

  /** Every inherited create/open/list/mkdirs/delete runs here. */
  override protected val fs: LocalFileSystem = {
    val local = new NoForkLocalFs
    local.initialize(FsConstants.LOCAL_FS_URI, hadoopConf)
    local
  }

  private def nio(p: Path): java.nio.file.Path = fs.pathToFile(p).toPath

  override def renameTempFile(srcPath: Path, dstPath: Path,
      overwriteIfPossible: Boolean): Unit = {
    val (src, dst) = (nio(srcPath), nio(dstPath))
    val dstCrc = nio(fs.getChecksumFile(dstPath))
    if (overwriteIfPossible) {
      // drop the old sidecar first: a reader racing the swap may see
      // the old bytes unverified, never new bytes against an old crc
      Files.deleteIfExists(dstCrc)
      Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE)
    } else {
      try Files.createLink(dst, src)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          fs.delete(srcPath, false) // the loser's bytes are never read
          throw new FileAlreadyExistsException(
            s"Failed to rename $srcPath to $dstPath: destination exists")
      }
      Files.delete(src)
    }
    val srcCrc = nio(fs.getChecksumFile(srcPath))
    if (Files.exists(srcCrc))
      Files.move(srcCrc, dstCrc, StandardCopyOption.ATOMIC_MOVE)
    else Files.deleteIfExists(dstCrc)
  }
}

object LocalCheckpointFileManager {

  /** The path itself, once its scheme (or the default FS's, for an
    * unqualified path) is `file`. */
  private def requireLocal(path: Path, conf: Configuration): Path = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    require(scheme == "file",
      s"${classOf[LocalCheckpointFileManager].getSimpleName} serves " +
        s"local checkpoints only; refusing $path")
    path
  }

  /** The checksummed local FS over [[NoForkRawFs]]. A checksum
    * mismatch fails the read and leaves the file where it is: the
    * stock LocalFileSystem would fork `df` to find its mount and move
    * the file into a `bad_files` directory at the mount's top. */
  private final class NoForkLocalFs extends LocalFileSystem(new NoForkRawFs) {
    override def reportChecksumFailure(p: Path, in: FSDataInputStream,
        inPos: Long, sums: FSDataInputStream, sumsPos: Long): Boolean = false
  }

  /** Hadoop's raw local FS with `setPermission` as a chmod system
    * call. The stock one shells out to `chmod` when native libhadoop
    * is absent, and local `create` always calls it. */
  private final class NoForkRawFs extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val rwx = Seq(permission.getUserAction, permission.getGroupAction,
        permission.getOtherAction).map(_.SYMBOL).mkString
      Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(rwx))
      ()
    }
  }
}
