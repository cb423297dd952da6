package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.io.Sinks
import graft.streaming.Pipeline

/** `stream_backlog`: a staged backlog over a large key set, drained closed
  * loop with `Trigger.AvailableNow` under a per-trigger file cap, into the
  * parquet sink. Per-event cost dominates: parse, the steamId shuffle, the
  * state fold over 36k+ keys, and sink bytes. Each drain ("round") is a
  * fresh query over the same staged files, so every round does identical
  * work; rounds repeat until the run's seconds are used. */
object StreamBacklog {

  val Users = 12500           // 37.5k steamIds
  val SourceEvents = 240000   // ~324k parsed events per drain, four micro-batches
  val FileEvents = 10000      // source events per kill file and per damage file
  val FilesPerTrigger = 6     // ~81k parsed events per micro-batch
  val WarmupFiles = 12        // the warm-up drain: the backlog's first two batches

  def run(o: Opts, processStartMs: Long): Outcome = {
    val slots = Env.nproc
    val spark = Env.session(o, slots)
    Trace.enabled = o.trace
    val counters = if (o.trace) Some(SparkCounters.install(spark)) else None
    val (users, events) = if (o.tiny) (500, 20000) else (Users, SourceEvents)

    val stage = Trace.span("setup", "stage")(
      Backlog.stage(Paths.get(o.tmp, "backlog"), o.seed, users, events))
    val staged = System.currentTimeMillis()
    drain(spark, stage.firstFiles(WarmupFiles), "warmup")
    val warmed = System.currentTimeMillis()
    val setupS = (System.currentTimeMillis() - processStartMs) / 1000.0

    counters.foreach(_.reset())
    val ws = System.currentTimeMillis()
    val rounds = ArrayBuffer[Drain]()
    while (rounds.isEmpty || System.currentTimeMillis() - ws < o.seconds * 1000L)
      rounds += drain(spark, stage, s"round-${rounds.size}")
    val we = System.currentTimeMillis()
    counters.foreach(_ => SparkCounters.settle())
    val layerCounters = counters.map(_.snapshot(ws, we)).getOrElse(Map.empty)

    // every round drains the same backlog into its own sink; the last one is checked
    val last = rounds.last
    val failures = StreamCheck.check(spark, Seq(last.name -> spark.read.parquet(last.out)),
      stage.kills.toString, stage.damages.toString, stage.model)
    failures.foreach(f => System.err.println(s"[perfbench] correctness: $f"))

    val batches = rounds.flatMap(_.batches)
    val batchMs = batches.map(_.batchDuration.toDouble).toSeq
    val lat = rounds.flatMap(_.rowLatencyMs).toSeq
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("batch_ms_p50", Metrics.median(batchMs), "ms"),
      ("latency_ms_p50", Metrics.median(lat), "ms"),
      ("latency_ms_p99", Metrics.quantile(lat, 0.99), "ms"),
      ("throughput_per_s", Metrics.median(rounds.map(r => stage.model.events / r.seconds).toSeq), "1/s"))
    val diagnostics = Seq(
      "rounds" -> rounds.size,
      "session_stage_s" -> (staged - processStartMs) / 1000.0,
      "warmup_s" -> (warmed - staged) / 1000.0,
      "check_s" -> (System.currentTimeMillis() - we) / 1000.0,
      "round_s" -> rounds.map(_.seconds),
      "events_per_round" -> stage.model.events,
      "steam_ids" -> stage.model.perKey.size,
      "source.backlog_files_max" -> 2 * stage.files,
      "sink.replays" -> 0,
      "correctness_failures" -> failures)
    val layers = if (!o.trace) Nil else {
      val names = (0 until math.min(FilesPerTrigger, stage.files)).map(k => f"part-$k%05d.csv")
      val probeOut = Paths.get(o.tmp, "probe-sink").toString
      val probe = StreamCheck.layerProbe(spark,
        spark.read.text(names.map(n => stage.kills.resolve(n).toString): _*),
        spark.read.text(names.map(n => stage.damages.resolve(n).toString): _*),
        (df, id) => Sinks.parquetAppend(df, s"$probeOut/batch_id=$id"))
      Phases.summarize(batches.toSeq) ++ probe ++
        layerCounters.toSeq.map { case (k, v) => (k, v, SparkCounters.Units(k)) } :+
        (("sink.replays", 0.0, "count"))
    }
    Outcome(failures.isEmpty, attempted = batches.size.toLong, failed = 0L,
      metrics = e2e ++ layers, diagnostics = diagnostics)
  }

  final case class Drain(name: String, out: String, seconds: Double,
      batches: Seq[StreamingQueryProgress], rowLatencyMs: Seq[Double])

  /** Drain the whole backlog once with a fresh checkpoint and sink
    * directory. Each output row's latency is its batch's commit time minus
    * the drain's start: how long that result waited in the backlog. */
  def drain(spark: SparkSession, stage: Backlog, name: String): Drain = {
    val root = stage.root.resolve(name)
    val out = root.resolve("sink").toString
    val commits = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Long]()
    val reader = (dir: Path) => spark.readStream.option("maxFilesPerTrigger", FilesPerTrigger.toString)
      .text(dir.toString).select("value")
    val t0 = System.currentTimeMillis()
    val q = Sinks.historizedSink(
        Pipeline.playerStats(reader(stage.kills), reader(stage.damages)),
        Trigger.AvailableNow(), Some(root.resolve("checkpoint").toString)) { (df, id) =>
        Sinks.parquetAppend(df, s"$out/batch_id=$id")
        commits.put(id, System.currentTimeMillis())
      }
      .queryName(s"stream_backlog_$name").start()
    q.awaitTermination()
    val secs = (System.currentTimeMillis() - t0) / 1000.0
    q.exception.foreach(e => throw e)
    val batches = q.recentProgress.toSeq.filter(_.numInputRows > 0)
    val perBatch = spark.read.parquet(out).groupBy("batch_id").count().collect()
      .map(r => r.getAs[Any]("batch_id").toString.toLong -> r.getLong(1))
    val lat = perBatch.toSeq.flatMap { case (id, n) =>
      val c = commits.get(id)
      Seq.fill(n.toInt)((c.longValue - t0).toDouble)
    }
    Drain(name, out, secs, batches, lat)
  }

  /** The staged backlog: kill and damage files of `FileEvents` source events
    * each, ticks = event index * 128. */
  final case class Backlog(root: Path, kills: Path, damages: Path, files: Int,
      model: GameLog.Model) {
    /** The first `n` files of each kind, hard-linked into a backlog of their own. */
    def firstFiles(n: Int): Backlog = {
      val r = root.resolve(s"first-$n")
      val (k, d) = (r.resolve("lines/kills"), r.resolve("lines/damages"))
      Files.createDirectories(k); Files.createDirectories(d)
      (0 until math.min(n, files)).foreach { i =>
        val name = f"part-$i%05d.csv"
        Files.createLink(k.resolve(name), kills.resolve(name))
        Files.createLink(d.resolve(name), damages.resolve(name))
      }
      copy(root = r, kills = k, damages = d, files = math.min(n, files))
    }
  }

  object Backlog {
    def stage(root: Path, seed: Long, users: Int, sourceEvents: Int): Backlog = {
      val kills = root.resolve("lines/kills")
      val damages = root.resolve("lines/damages")
      Files.createDirectories(kills); Files.createDirectories(damages)
      val log = new GameLog(seed, users)
      val files = (sourceEvents + FileEvents - 1) / FileEvents
      val mtimeBase = System.currentTimeMillis() - 3600 * 1000L
      (0 until files).foreach { k =>
        val n = math.min(FileEvents, sourceEvents - k * FileEvents)
        val kl = new ArrayBuffer[String](n)
        val dl = new ArrayBuffer[String](n)
        (0 until n).foreach { _ =>
          val (a, b) = log.next(log.sourceEvents * 128)
          kl += a; dl += b
        }
        val name = f"part-$k%05d.csv"
        GameLog.writeLines(kills.resolve(name), kl)
        GameLog.writeLines(damages.resolve(name), dl)
        // the file source takes files in modification-time order; distinct
        // mtimes make every drain cut the backlog into the same batches
        val mtime = java.nio.file.attribute.FileTime.fromMillis(mtimeBase + k * 1000L)
        Files.setLastModifiedTime(kills.resolve(name), mtime)
        Files.setLastModifiedTime(damages.resolve(name), mtime)
      }
      Backlog(root, kills, damages, files, log.model)
    }
  }
}
