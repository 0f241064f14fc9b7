package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, LocalFileSystem,
  Path, PathFilter, RawLocalFileSystem, UnsupportedFileSystemException}
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileContextBasedCheckpointFileManager,
  FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Streaming checkpoint I/O — state stores (HDFS-backed and RocksDB),
  * offset and commit logs, file-sink metadata logs — for every query of
  * a session that [[GraftSession.configure]] set up. Spark loads it
  * through `spark.sql.streaming.checkpointFileManagerClass`.
  *
  * Spark's default manager runs on Hadoop's `FileContext`. Its local
  * implementation, without the native Hadoop library, forks a shell
  * `readlink` for every symlink check (about four per rename), so each
  * state commit and log write waited on several process starts. A
  * path on the local file system therefore goes to Spark's
  * `FileSystem`-based manager: the same files under the same names,
  * `.crc` files still written and verified by `ChecksumFileSystem`,
  * Spark's checksum sidecar untouched, and a rename that is
  * `rename(2)`, atomic on POSIX. Every other file system keeps Spark's
  * default, `FileContext` (atomic rename on HDFS), with the same
  * fallback to the `FileSystem` manager for a scheme that has no
  * `AbstractFileSystem`.
  */
class CheckpointFiles(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[graft] val delegate: CheckpointFileManager =
    path.getFileSystem(hadoopConf) match {
      case _: LocalFileSystem | _: RawLocalFileSystem =>
        new FileSystemBasedCheckpointFileManager(path, hadoopConf)
      case _ =>
        try new FileContextBasedCheckpointFileManager(path, hadoopConf)
        catch {
          case _: UnsupportedFileSystemException =>
            new FileSystemBasedCheckpointFileManager(path, hadoopConf)
        }
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    delegate.list(p, filter)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path =
    delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object CheckpointFiles {
  /** The Spark conf `CheckpointFileManager.create` reads the manager
    * class from. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"
}
