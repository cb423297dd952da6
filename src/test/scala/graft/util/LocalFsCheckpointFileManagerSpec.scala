package graft.util

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileContext, FileSystem, Path => HPath}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.SparkTestBase
import graft.core.Event
import graft.core.stats.PlayerStatsEngine
import graft.io.Sinks

class LocalFsCheckpointFileManagerSpec extends SparkTestBase {
  import spark.implicits._
  import LocalFsCheckpointFileManager.Key

  private def rmrf(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.deleteIfExists(f))

  private def delegateOf(path: String, conf: Configuration): CheckpointFileManager =
    new LocalFsCheckpointFileManager(new HPath(path), conf).delegate

  test("a file: path, qualified or not, goes through Spark's FileSystem-based manager") {
    val dir = Files.createTempDirectory("graft_cfm_local_")
    try {
      val conf = new Configuration()
      delegateOf(dir.toUri.toString, conf) shouldBe a[FileSystemBasedCheckpointFileManager]
      delegateOf(dir.toString, conf) shouldBe a[FileSystemBasedCheckpointFileManager]
    } finally rmrf(dir)
  }

  test("any other scheme gets what CheckpointFileManager.create gives with the key unset") {
    // viewfs resolves in-process (a mount table onto a local dir) and, unlike
    // the local FS, has a FileContext, so Spark's default is the
    // FileContext-based manager there: the one a local-only dispatch must keep
    val dir = Files.createTempDirectory("graft_cfm_viewfs_")
    try {
      val conf = new Configuration()
      conf.set("fs.viewfs.mounttable.graftspec.link./ckpt", dir.toUri.toString)
      val path = "viewfs://graftspec/ckpt/query"
      val default = CheckpointFileManager.create(new HPath(path), conf)
      default shouldBe a[FileContextBasedCheckpointFileManager]
      conf.set(Key, classOf[LocalFsCheckpointFileManager].getName)
      val viaKey = CheckpointFileManager.create(new HPath(path), conf)
      viaKey shouldBe a[LocalFsCheckpointFileManager]
      viaKey.asInstanceOf[LocalFsCheckpointFileManager].delegate.getClass shouldBe default.getClass
    } finally rmrf(dir)
  }

  test("historizedSink sets the manager only on a session that names none") {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption(Key)
    val stats = PlayerStatsEngine.statefulPlayerStats(MemoryStream[Event].toDS())
    try {
      val callers = classOf[FileContextBasedCheckpointFileManager].getName
      spark.conf.set(Key, callers)
      Sinks.historizedSink(stats)((_, _) => ())
      spark.conf.get(Key) shouldBe callers
      spark.conf.unset(Key)
      Sinks.historizedSink(stats)((_, _) => ())
      spark.conf.get(Key) shouldBe classOf[LocalFsCheckpointFileManager].getName
    } finally prev.fold(spark.conf.unset(Key))(spark.conf.set(Key, _))
  }

  /** Three single-file parquet inputs under `root/src`, for a 3-batch
    * AvailableNow stream. */
  private def threeBatchSource(root: Path): Path = {
    val src = Files.createDirectories(root.resolve("src"))
    (1 to 3).foreach { i =>
      Seq(Event("Ada", "S1", "kill", i, 0, i)).toDS()
        .coalesce(1).write.mode("append").parquet(src.toString)
    }
    src
  }

  private def runStats(src: Path, ckpt: String, maxFiles: Int): StreamingQuery = {
    val stream = spark.readStream.schema(Seq.empty[Event].toDF().schema)
      .option("maxFilesPerTrigger", maxFiles.toString).parquet(src.toString).as[Event]
    val q = Sinks.historizedSink(
        PlayerStatsEngine.statefulPlayerStats(stream), Trigger.AvailableNow(), Some(ckpt)) {
      (df, _) => df.count()
    }.start()
    q.awaitTermination()
    q
  }

  test("three checkpointed micro-batches of the historized stats fork no readlink") {
    // No fork of any kind touches the checkpoint, `chmod` included. JFR
    // records every process the JVM starts, with its command line. Without
    // libhadoop, a FileContext rename on the local FS forks `readlink
    // <path>` and Hadoop's raw local FS forks `chmod` for the mode of every
    // file it creates; graft's manager does neither.
    val root = Files.createTempDirectory("graft_cfm_forks_")
    val src = threeBatchSource(root)
    val ckpt = root.resolve("ckpt").toString
    val probe = Files.writeString(root.resolve("probe"), "x")
    try {
      val rec = new jdk.jfr.Recording()
      rec.enable("jdk.ProcessStart")
      rec.start()
      val q = try {
        val q = runStats(src, ckpt, maxFiles = 1)
        // the recorder sees both kinds of fork when they happen
        FileContext.getLocalFSFileContext.getFileLinkStatus(new HPath(probe.toString))
        FileSystem.getLocal(new Configuration()).create(new HPath(root.resolve("probe2").toString)).close()
        q
      } finally rec.stop()
      val jfr = root.resolve("forks.jfr")
      rec.dump(jfr)
      rec.close()
      val forks = jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala.toSeq
        .map(_.getString("command")).filter(_.contains(root.toString))
      def of(tool: String): Seq[String] = forks.filter(_.startsWith(tool))
      q.recentProgress.count(_.numInputRows > 0) shouldBe 3
      of("readlink").filter(_.contains(probe.toString)) should not be empty
      of("chmod").filter(_.contains("probe2")) should not be empty
      forks.filter(_.contains(ckpt)) shouldBe empty
    } finally rmrf(root)
  }

  test("checkpoint files keep their .crc side file, their 0644 mode and their read verification") {
    val root = Files.createTempDirectory("graft_cfm_crc_")
    val src = threeBatchSource(root)
    val ckpt = root.resolve("ckpt")
    try {
      def mode(p: Path): String =
        java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
      runStats(src, ckpt.toString, maxFiles = 3)
      val offset0 = ckpt.resolve("offsets/0")
      Files.exists(ckpt.resolve("offsets/.0.crc")) shouldBe true
      mode(offset0) shouldBe "rw-r--r--"
      mode(ckpt.resolve("offsets")) shouldBe "rwxr-xr-x"
      // the mode bits still follow the Hadoop conf's umask
      val strict = new Configuration()
      strict.set("fs.permissions.umask-mode", "027")
      val strictMgr = new LocalFsCheckpointFileManager(new HPath(root.toUri.toString), strict)
      try {
        strictMgr.mkdirs(new HPath(root.resolve("strict").toUri.toString))
        val out = strictMgr.createAtomic(
          new HPath(root.resolve("strict/f").toUri.toString), overwriteIfPossible = false)
        out.write(1); out.close()
      } finally strictMgr.close()
      mode(root.resolve("strict")) shouldBe "rwxr-x---"
      mode(root.resolve("strict/f")) shouldBe "rw-r-----"
      val mgr = new LocalFsCheckpointFileManager(new HPath(ckpt.toUri.toString), new Configuration())
      try {
        def read(): Array[Byte] = {
          val in = mgr.open(new HPath(offset0.toUri.toString))
          try in.readAllBytes() finally in.close()
        }
        val bytes = read()
        bytes.toSeq shouldBe Files.readAllBytes(offset0).toSeq
        bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 1).toByte
        Files.write(offset0, bytes) // .0.crc untouched
        intercept[ChecksumException](read())
      } finally mgr.close()
    } finally rmrf(root)
  }

  test("the manager builds one file system for all its files and closes it in close()") {
    val dir = Files.createTempDirectory("graft_cfm_close_")
    try {
      val conf = new Configuration()
      val mgr = new LocalFsCheckpointFileManager(new HPath(dir.toUri.toString), conf)
      val fs = mgr.delegate.asInstanceOf[LocalFsCheckpointFileManager.ForkFreeManager].fs
      fs should not be theSameInstanceAs(FileSystem.getLocal(conf))
      (0 until 3).foreach { i =>
        val out = mgr.createAtomic(new HPath(dir.resolve(s"f$i").toUri.toString), overwriteIfPossible = false)
        out.write(i); out.close()
      }
      mgr.delegate.asInstanceOf[LocalFsCheckpointFileManager.ForkFreeManager].fs should be theSameInstanceAs fs
      // FileSystem.close runs the instance's delete-on-exit list: the
      // marker goes exactly when the manager releases its file system
      val marker = Files.writeString(dir.resolve("marker"), "x")
      fs.deleteOnExit(new HPath(marker.toUri.toString)) shouldBe true
      Files.exists(marker) shouldBe true
      mgr.close()
      Files.exists(marker) shouldBe false
      (0 until 3).foreach(i => Files.exists(dir.resolve(s"f$i")) shouldBe true)
    } finally rmrf(dir)
  }
}
