package graft.streaming

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, LocalFileSystem, Path,
  PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The engine's checkpoint file manager (registered in
  * `graft.core.SessionDefaults` as `spark.sql.streaming.checkpointFileManagerClass`).
  *
  * Without the native Hadoop library, Spark's default manager for local
  * checkpoints forks a process per checkpoint file: `RawLocalFileSystem`
  * shells out to `chmod` on every create and mkdir, and FileContext's
  * rename to `readlink`. A bounded stream run writes ~100 checkpoint
  * files (offsets, commits, metadata, sources, state deltas and their
  * checksum sidecars), so those forks were most of its state-commit and
  * log time.
  *
  * For `file:` checkpoints this is Spark's `FileSystemBasedCheckpointFileManager`
  * (temp file + same-directory rename, `overwriteIfPossible = false` ->
  * `FileAlreadyExistsException`, `cancel()` deletes the temp file) over a
  * private checksummed `LocalFileSystem`, so `.crc` sidecars are still
  * written and verified on read. Its raw layer sets permissions through
  * `java.nio` instead of a `chmod` process: the same bits, no fork. Any
  * other scheme gets exactly the manager Spark would create. Spark's own
  * state-file checksums wrap whichever manager this returns.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[streaming] val underlying: CheckpointFileManager =
    if (LocalCheckpointFileManager.isFileScheme(path, hadoopConf))
      new LocalCheckpointFileManager.InJvm(path, hadoopConf)
    else {
      val conf = new Configuration(hadoopConf)
      conf.unset(LocalCheckpointFileManager.ConfKey)
      CheckpointFileManager.create(path, conf)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    underlying.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = underlying.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = underlying.list(p, filter)
  override def list(p: Path): Array[FileStatus] = underlying.list(p)
  override def mkdirs(p: Path): Unit = underlying.mkdirs(p)
  override def exists(p: Path): Boolean = underlying.exists(p)
  override def delete(p: Path): Unit = underlying.delete(p)
  override def isLocal: Boolean = underlying.isLocal
  override def createCheckpointDirectory(): Path = underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

object LocalCheckpointFileManager {
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  private def isFileScheme(path: Path, hadoopConf: Configuration): Boolean =
    Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme) == "file"

  /** Spark's FileSystem-based manager over a private fork-free `LocalFileSystem`. */
  private[streaming] final class InJvm(path: Path, hadoopConf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {
    override protected val fs: FileSystem = {
      val local = new LocalFileSystem(new NioPermissionFileSystem) {
        // A failed checksum still fails the read. LocalFileSystem would also
        // move the file to a `bad_files` dir at the top of its mount (found
        // by forking `df`); Spark's default manager leaves it in place.
        override def reportChecksumFailure(p: Path, in: FSDataInputStream, inPos: Long,
            sums: FSDataInputStream, sumsPos: Long): Boolean = false
      }
      local.initialize(URI.create("file:///"), hadoopConf)
      local
    }
  }

  /** `RawLocalFileSystem` whose `setPermission` calls
    * `Files.setPosixFilePermissions` instead of running `chmod`. Checkpoint
    * files and dirs get the default modes under the umask, never a sticky
    * bit (which `PosixFilePermissions.fromString` would reject). */
  private final class NioPermissionFileSystem extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))
  }
}
