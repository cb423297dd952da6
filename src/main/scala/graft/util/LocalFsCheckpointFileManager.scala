package graft.util

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
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
  *   - `file`: Spark's own [[FileSystemBasedCheckpointFileManager]] over a
  *     private, checksummed `LocalFileSystem` whose raw layer sets
  *     permissions through `java.nio`. The manager writes a temp file and
  *     renames it with `FileSystem.rename`, which on a local disk is one
  *     `rename(2)`: atomic. Spark's default,
  *     `FileContextBasedCheckpointFileManager`, renames through
  *     `FileContext`, and without libhadoop Hadoop's `RawLocalFileSystem`
  *     forks `readlink` to stat the link on every such rename. That same
  *     raw FS also forks `chmod` for the mode of every file it creates (the
  *     `.crc` side file too) and every directory it makes; here that is a
  *     `Files.setPosixFilePermissions` call with the same mode bits. Each
  *     fork cost ~35–45 ms of a 1-s trigger, on a path the batch waits on
  *     (walCommit, commitOffsets, one delta file per state partition).
  *     Everything else is Hadoop's: the `.crc` files, their verification on
  *     read, the 0644/0755 modes (umask from the Hadoop conf) and the
  *     rename. The manager builds its file system once and closes it in
  *     [[close]].
  *   - any other scheme: exactly what `CheckpointFileManager.create` returns
  *     with the key unset. The FS-based manager is only safe where rename is
  *     atomic, which object stores do not give; HDFS and S3 queries in the
  *     same session therefore behave as they do without graft. */
final class LocalFsCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[util] val delegate: CheckpointFileManager =
    if (LocalFsCheckpointFileManager.isLocal(path, hadoopConf))
      new LocalFsCheckpointFileManager.ForkFreeManager(path, hadoopConf)
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

  /** Spark's FS-based manager on its own [[NioLocalFileSystem]], uncached, so
    * closing it closes nothing another caller holds. */
  private[util] final class ForkFreeManager(path: Path, hadoopConf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {
    override val fs: FileSystem = {
      val local = new NioLocalFileSystem
      local.setConf(hadoopConf)
      local.initialize(java.net.URI.create("file:///"), hadoopConf)
      local
    }
    override def close(): Unit = try super.close() finally fs.close()
  }

  /** Hadoop's checksummed local FS over [[NioRawLocalFileSystem]]. */
  private[util] final class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

  /** `RawLocalFileSystem` whose `setPermission` is a system call instead of
    * a forked `chmod` when libhadoop is absent. A sticky bit, which
    * `PosixFilePermission` cannot express, keeps Hadoop's own path. */
  private[util] final class NioRawLocalFileSystem extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else {
        val bits = permission.toShort
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        // OWNER_READ .. OTHERS_EXECUTE are mode bits 8 .. 0
        PosixFilePermission.values.zipWithIndex.foreach { case (pp, i) =>
          if ((bits & (1 << (8 - i))) != 0) perms.add(pp)
        }
        Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      }
  }
}
