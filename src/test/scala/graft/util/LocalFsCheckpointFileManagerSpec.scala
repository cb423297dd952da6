package graft.util

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, Path => HPath}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

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

  test("three checkpointed micro-batches of the historized stats fork no readlink") {
    // JFR records every process the JVM starts, with its command line. A
    // FileContext rename on the local FS without libhadoop forks
    // `readlink <path>`; the FS-based manager never does.
    val root = Files.createTempDirectory("graft_cfm_forks_")
    val src = Files.createDirectories(root.resolve("src"))
    val ckpt = root.resolve("ckpt").toString
    val probe = Files.writeString(root.resolve("probe"), "x")
    try {
      (1 to 3).foreach { i =>
        Seq(Event("Ada", "S1", "kill", i, 0, i)).toDS()
          .coalesce(1).write.mode("append").parquet(src.toString)
      }
      val rec = new jdk.jfr.Recording()
      rec.enable("jdk.ProcessStart")
      rec.start()
      val q = try {
        val stream = spark.readStream.schema(Seq.empty[Event].toDF().schema)
          .option("maxFilesPerTrigger", "1").parquet(src.toString).as[Event]
        val q = Sinks.historizedSink(
            PlayerStatsEngine.statefulPlayerStats(stream), Trigger.AvailableNow(), Some(ckpt)) {
          (df, _) => df.count()
        }.start()
        q.awaitTermination()
        // the recorder sees a readlink fork when one happens
        FileContext.getLocalFSFileContext.getFileLinkStatus(new HPath(probe.toString))
        q
      } finally rec.stop()
      val jfr = root.resolve("forks.jfr")
      rec.dump(jfr)
      rec.close()
      val readlinks = jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala.toSeq
        .map(_.getString("command")).filter(c => c.startsWith("readlink") && c.contains(root.toString))
      q.recentProgress.count(_.numInputRows > 0) shouldBe 3
      readlinks.filter(_.contains(probe.toString)) should not be empty
      readlinks.filterNot(_.contains(probe.toString)) shouldBe empty
    } finally rmrf(root)
  }
}
