package graft.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, Path, PathFilter}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The streaming checkpoint file manager graft installs through Spark's
  * `spark.sql.streaming.checkpointFileManagerClass` ([[Sessions.build]] and
  * `io.Sinks.historizedSink`). It writes every offset, commit, source-log and
  * state-store file (HDFS-backed and RocksDB) of a query.
  *
  * Decision, by the checkpoint path's scheme (an unqualified path takes the
  * default file system's):
  *   - `file`: Spark's own [[FileSystemBasedCheckpointFileManager]]. It
  *     writes a temp file and renames it with `FileSystem.rename`, which on a
  *     local disk is one `rename(2)`: atomic, and no process is forked.
  *     Spark's default, `FileContextBasedCheckpointFileManager`, renames
  *     through `FileContext`, and without libhadoop Hadoop's
  *     `RawLocalFileSystem` forks `readlink` to stat the link on every such
  *     rename. That cost ~35–45 ms per checkpoint file, and a 1-s trigger
  *     writes several per batch (walCommit, commitOffsets, one delta file
  *     per state partition).
  *   - any other scheme: exactly what `CheckpointFileManager.create` returns
  *     with the key unset. The FS-based manager is only safe where rename is
  *     atomic, which object stores do not give; HDFS and S3 queries in the
  *     same session therefore behave as they do without graft. */
final class LocalFsCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[util] val delegate: CheckpointFileManager =
    if (LocalFsCheckpointFileManager.isLocal(path, hadoopConf))
      new FileSystemBasedCheckpointFileManager(path, hadoopConf)
    else {
      val unset = new Configuration(hadoopConf)
      unset.unset(LocalFsCheckpointFileManager.Key)
      CheckpointFileManager.create(path, unset)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = delegate.list(p, filter)
  override def list(p: Path): Array[FileStatus] = delegate.list(p)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object LocalFsCheckpointFileManager {

  /** Spark's key for the checkpoint file manager class. */
  val Key = "spark.sql.streaming.checkpointFileManagerClass"

  private def isLocal(path: Path, hadoopConf: Configuration): Boolean =
    Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme) == "file"

  /** Sets [[Key]] to this class on `spark` unless the session already names a
    * manager. */
  def installIfUnset(spark: SparkSession): Unit =
    if (spark.conf.getOption(Key).isEmpty)
      spark.conf.set(Key, classOf[LocalFsCheckpointFileManager].getName)
}
