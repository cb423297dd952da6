package graft.streaming

import java.nio.file.{Files, Path}

import org.apache.spark.sql.execution.streaming.checkpointing.{FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkTestBase
import graft.core.{Event, PlayerState, PlayerStatsRow}
import graft.core.stats.PlayerStatsEngine
import graft.core.enrich.Enrich
import graft.ext.Dedup

/** Streaming durability and composition: checkpoint recovery across process
  * "restarts", warm start from a state snapshot, stream-static enrichment
  * inside the streaming query, and cross-batch streaming dedup. */
class RecoverySpec extends SparkTestBase {
  import spark.implicits._

  private def rmrf(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.deleteIfExists(f))

  test("checkpointed stateful query + historized sink resume state after restart") {
    val src = Files.createTempDirectory("graft_src_")
    val ckpt = Files.createTempDirectory("graft_ckpt_")
    val out = Files.createTempDirectory("graft_out_")
    val schema = Seq.empty[Event].toDF().schema
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(src.toString).as[Event]
      val q = graft.io.Sinks.historizedSink(
        PlayerStatsEngine.statefulPlayerStats(stream),
        trigger = Trigger.AvailableNow(),
        checkpoint = Some(ckpt.toString)) {
        (df, _) => graft.io.Sinks.parquetAppend(df, out.toString)
      }.start()
      q.awaitTermination()
    }
    try {
      // run 1: two kills for S1 in one batch -> one appended row, kills=2
      Seq(
        Event("Ada", "S1", "kill", 1, 0, 1),
        Event("Ada", "S1", "kill", 2, 0, 1)).toDS()
        .coalesce(1).write.mode("append").parquet(src.toString)
      runOnce()
      spark.read.parquet(out.toString).as[PlayerStatsRow]
        .collect().map(_.kills).toSeq shouldBe Seq(2L)

      // "restart": a NEW query instance on the same checkpoint; new file only
      Seq(Event("Ada", "S1", "kill", 3, 0, 2)).toDS()
        .coalesce(1).write.mode("append").parquet(src.toString)
      runOnce()
      val hist = spark.read.parquet(out.toString).as[PlayerStatsRow]
        .collect().map(_.kills).sorted.toSeq
      // history: run-1 snapshot plus ONE new row whose counter carried on
      hist shouldBe Seq(2L, 3L)
    } finally {
      rmrf(src); rmrf(ckpt); rmrf(out)
    }
  }

  /** Run 1 on the checkpoint manager `before`, run 2 on
    * LocalFsCheckpointFileManager over the same offsets, commits and state
    * files: the restart an existing deployment makes when it upgrades. */
  private def resumesUnderGraft(before: Class[_]): Unit = {
    val key = graft.util.LocalFsCheckpointFileManager.Key
    val prev = spark.conf.getOption(key)
    val src = Files.createTempDirectory("graft_usrc_")
    val ckpt = Files.createTempDirectory("graft_uckpt_")
    val out = Files.createTempDirectory("graft_uout_")
    val schema = Seq.empty[Event].toDF().schema
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(src.toString).as[Event]
      graft.io.Sinks.historizedSink(
        PlayerStatsEngine.statefulPlayerStats(stream),
        trigger = Trigger.AvailableNow(),
        checkpoint = Some(ckpt.toString)) {
        (df, _) => graft.io.Sinks.parquetAppend(df, out.toString)
      }.start().awaitTermination()
    }
    try {
      spark.conf.set(key, before.getName)
      Seq(
        Event("Ada", "S1", "kill", 1, 0, 1),
        Event("Ada", "S1", "kill", 2, 0, 1)).toDS()
        .coalesce(1).write.mode("append").parquet(src.toString)
      runOnce()
      spark.conf.set(key, classOf[graft.util.LocalFsCheckpointFileManager].getName)
      Seq(Event("Ada", "S1", "kill", 3, 0, 2)).toDS()
        .coalesce(1).write.mode("append").parquet(src.toString)
      runOnce()
      spark.read.parquet(out.toString).as[PlayerStatsRow]
        .collect().map(_.kills).sorted.toSeq shouldBe Seq(2L, 3L)
    } finally {
      prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      rmrf(src); rmrf(ckpt); rmrf(out)
    }
  }

  test("a checkpoint written under Spark's default manager resumes under graft's") {
    resumesUnderGraft(classOf[FileContextBasedCheckpointFileManager])
  }

  test("a checkpoint written by Spark's FileSystem-based manager resumes under graft's") {
    // graft's own manager before its file system set modes without forking
    resumesUnderGraft(classOf[FileSystemBasedCheckpointFileManager])
  }

  test("checkpoint recovery also holds under the RocksDB state store provider") {
    // the 100 TB configuration: HDFSBackedStateStore holds every key
    // on-heap, RocksDB spills state to local disk — the restart must carry
    // the SAME counters through a provider whose files live off-heap
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val src = Files.createTempDirectory("graft_rsrc_")
    val ckpt = Files.createTempDirectory("graft_rckpt_")
    val out = Files.createTempDirectory("graft_rout_")
    val schema = Seq.empty[Event].toDF().schema
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(src.toString).as[Event]
      val q = graft.io.Sinks.historizedSink(
        PlayerStatsEngine.statefulPlayerStats(stream),
        trigger = Trigger.AvailableNow(),
        checkpoint = Some(ckpt.toString)) {
        (df, _) => graft.io.Sinks.parquetAppend(df, out.toString)
      }.start()
      q.awaitTermination()
    }
    try {
      Seq(
        Event("Ada", "S1", "kill", 1, 0, 1),
        Event("Ada", "S1", "kill", 2, 0, 1)).toDS()
        .coalesce(1).write.mode("append").parquet(src.toString)
      runOnce()
      Seq(Event("Ada", "S1", "kill", 3, 0, 2)).toDS()
        .coalesce(1).write.mode("append").parquet(src.toString)
      runOnce()
      spark.read.parquet(out.toString).as[PlayerStatsRow]
        .collect().map(_.kills).sorted.toSeq shouldBe Seq(2L, 3L)
    } finally {
      prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      rmrf(src); rmrf(ckpt); rmrf(out)
    }
  }

  test("TWS funnel carries multi-step state across a checkpointed restart (RocksDB)") {
    import graft.analytics.Funnel
    import Funnel.{FunnelEvent, FunnelState}
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val src = Files.createTempDirectory("graft_fsrc_")
    val ckpt = Files.createTempDirectory("graft_fckpt_")
    val out = Files.createTempDirectory("graft_fout_")
    val schema = Seq.empty[FunnelEvent].toDF().schema
    def runOnce(): Unit = {
      // foreachBatch append sink (memory sinks cannot recover a checkpoint)
      val stream = spark.readStream.schema(schema).parquet(src.toString)
        .as[FunnelEvent]
      val q = Funnel.funnelStreamTws(stream, 3).toDF()
        .writeStream
        .foreachBatch((df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          graft.io.Sinks.parquetAppend(df, out.toString))
        .outputMode("update")
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    try {
      // run 1: steps 1 and 2 fill
      Seq(FunnelEvent(1L, 10L, Seq(true, false, false)),
          FunnelEvent(1L, 20L, Seq(false, true, false))).toDS()
        .coalesce(1).write.mode("append").parquet(src.toString)
      runOnce()
      // "restart": a NEW query on the same checkpoint; only the step-3
      // event is new — its validity depends on the RECOVERED step-2 slot
      Seq(FunnelEvent(1L, 30L, Seq(false, false, true))).toDS()
        .coalesce(1).write.mode("append").parquet(src.toString)
      runOnce()
      val last = spark.read.parquet(out.toString).as[FunnelState]
        .collect().maxBy(_.funnelStep)
      last shouldBe FunnelState(1L, Seq(Some(10L), Some(20L), Some(30L)), 3L)
    } finally {
      prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      rmrf(src); rmrf(ckpt); rmrf(out)
    }
  }

  test("warm start from a state snapshot resumes counters without a checkpoint") {
    implicit val sqlCtx = spark.sqlContext
    val snapshot = Seq(
      "S1" -> PlayerState(kills = 10, deaths = 5, assists = 2, damage = 900, lastName = "Ada")).toDS()
    val mem = MemoryStream[Event]
    val q = PlayerStatsEngine.statefulPlayerStatsFrom(mem.toDS(), snapshot)
      .writeStream.outputMode("update").format("memory").queryName("warmstart_spec")
      .start()
    try {
      mem.addData(Event("Ada", "S1", "kill", 100, 0, 3))
      q.processAllAvailable()
      val r = spark.table("warmstart_spec").as[PlayerStatsRow].collect().head
      r.kills shouldBe 11L
      r.damage shouldBe 900L
      r.kdRatio shouldBe 2.2
    } finally {
      q.stop()
      spark.catalog.dropTempView("warmstart_spec")
    }
  }

  test("stream-static broadcast enrichment backfills names inside the streaming query") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq(("S9", "Niner")).toDF("steamId", "name")
    val mem = MemoryStream[Event]
    val enriched = Enrich.backfillName(
      PlayerStatsEngine.statefulPlayerStats(mem.toDS()).toDF(), dim)
    val q = enriched.writeStream.outputMode("update").format("memory")
      .queryName("enrich_stream_spec").start()
    try {
      mem.addData(Event("", "S9", "damage", 5, 40, 1)) // damage rows carry no name
      q.processAllAvailable()
      spark.table("enrich_stream_spec")
        .select("playerName").as[String].collect().head shouldBe "Niner"
    } finally {
      q.stop()
      spark.catalog.dropTempView("enrich_stream_spec")
    }
  }

  test("streaming dropDuplicates with watermark dedups across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long)]
    val deduped = mem.toDF().toDF("t", "id")
      .withWatermark("t", "1 hour")
      .dropDuplicates("id")
    val q = deduped.writeStream.outputMode("append").format("memory")
      .queryName("dedup_stream_spec").start()
    try {
      val ts = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
      mem.addData((ts, 1L), (ts, 2L), (ts, 1L))
      q.processAllAvailable()
      mem.addData((ts, 2L), (ts, 3L)) // id=2 is a cross-batch duplicate
      q.processAllAvailable()
      spark.table("dedup_stream_spec").select("id").as[Long]
        .collect().sorted.toSeq shouldBe Seq(1L, 2L, 3L)
    } finally {
      q.stop()
      spark.catalog.dropTempView("dedup_stream_spec")
    }
  }

  test("dropDuplicatesWithinWatermark bounds dedup state: expired keys re-emit") {
    // The 100 TB form of streaming dedup: plain dropDuplicates keeps every
    // key forever (state grows without bound); WithinWatermark evicts a
    // key's state once the watermark passes its event time, so state size
    // tracks the watermark window, not stream history. The trade: a
    // duplicate arriving AFTER eviction is re-emitted — prove both sides.
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long)]
    val deduped = mem.toDF().toDF("t", "id")
      .withWatermark("t", "1 hour")
      .dropDuplicatesWithinWatermark("id")
    val q = deduped.writeStream.outputMode("append").format("memory")
      .queryName("dedup_wm_stream_spec").start()
    try {
      val t10 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
      val t14 = java.sql.Timestamp.valueOf("2024-01-01 14:00:00")
      mem.addData((t10, 1L), (t10, 1L)) // in-window duplicate: suppressed
      q.processAllAvailable()
      mem.addData((t14, 2L)) // advances watermark to 13:00 → id=1 state evicted
      q.processAllAvailable()
      mem.addData((t14, 1L)) // same key AFTER eviction: re-emitted by design
      q.processAllAvailable()
      spark.table("dedup_wm_stream_spec").select("id").as[Long]
        .collect().sorted.toSeq shouldBe Seq(1L, 1L, 2L)
    } finally {
      q.stop()
      spark.catalog.dropTempView("dedup_wm_stream_spec")
    }
  }

  test("minhashStream bucket ownership survives a checkpointed restart") {
    // Run 1 ingests the LOW-id member of a dup pair and stops with its
    // window still open (no output). Run 2 — a new query on the same
    // checkpoint — ingests the HIGH-id dup plus a sentinel that closes the
    // window. Kept must be {3, 5}: doc 10 loses to run 1's doc 5, which is
    // only possible if the windowed min-ownership state survived the
    // restart (a state wipe would crown 10 and emit {3, 10}).
    val src = Files.createTempDirectory("graft_mh_src_")
    val ckpt = Files.createTempDirectory("graft_mh_ckpt_")
    val out = Files.createTempDirectory("graft_mh_out_")
    val t0 = 1_700_000_000_000L
    def ts(s: Long) = new java.sql.Timestamp(t0 + s * 1000)
    val dup = "the quick brown fox jumps over the lazy dog"
    val schema = Seq.empty[(Long, java.sql.Timestamp, String)]
      .toDF("doc_id", "ts", "text").schema
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(src.toString)
      val q = Dedup.minhashStream(
          stream, "doc_id", "text", "ts", "1 second", "10 seconds")
        .writeStream.outputMode("append").format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    try {
      Seq((5L, ts(0), dup)).toDF("doc_id", "ts", "text")
        .coalesce(1).write.mode("append").parquet(src.toString)
      runOnce()
      Seq(
        (10L, ts(0), dup),
        (3L, ts(1), "completely unrelated text body standing alone here"),
        (99L, ts(100000), "zz yy xx ww vv uu flush sentinel"))
        .toDF("doc_id", "ts", "text")
        .coalesce(1).write.mode("append").parquet(src.toString)
      runOnce()
      spark.read.parquet(out.toString).as[Long]
        .collect().sorted.toSeq shouldBe Seq(3L, 5L)
    } finally {
      rmrf(src); rmrf(ckpt); rmrf(out)
    }
  }
}
