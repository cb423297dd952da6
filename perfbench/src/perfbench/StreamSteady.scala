package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import graft.io.{Sinks, Sources}
import graft.streaming.Pipeline

/** `stream_steady`: the reference's operating point. An open-loop generator
  * publishes kill-log and damage-log files on a fixed schedule at a fixed
  * event rate; the pipeline runs on a 1-s processing-time trigger with a
  * checkpoint and appends through the replay-idempotent JDBC sink into
  * in-process Derby. Few keys (300 steamIds), so per-batch fixed overhead
  * dominates. */
object StreamSteady {

  /** Source events per second; each renders to ~1.35 parsed events, so this
    * offers ~2k events/s. Per-batch fixed cost is ~0.8 s on 3 task slots
    * (4-core VM), so the batch stays under the 1-s trigger only at a few
    * thousand events/s. */
  val SourceEventsPerSecond = 1500
  val Users = 100
  val FilePeriodMs = 100
  val WarmupS = 3
  val WarmupFiles = 20

  def run(o: Opts, processStartMs: Long): Outcome = {
    // one core is the generator's: task slots + generator thread <= nproc.
    // Derby connections are opened by the sink's tasks, inside those slots.
    val slots = math.max(1, Env.nproc - 1)
    val spark = Env.session(o, slots)
    Trace.enabled = o.trace
    val counters = if (o.trace) Some(SparkCounters.install(spark)) else None
    val rate = if (o.tiny) 500 else SourceEventsPerSecond
    val warmupS = if (o.tiny) 2 else WarmupS

    val stage = Staging(Paths.get(o.tmp, "steady"))
    warmUp(spark, stage, o.seed, rate)
    val sink = new JdbcSink(stage.derbyUrl, "player_stats")
    val query = Sinks.historizedSink(
        Pipeline.playerStats(
          Sources.fileLines(spark, stage.streamKills.toString),
          Sources.fileLines(spark, stage.streamDamages.toString)),
        Trigger.ProcessingTime("1 second"),
        Some(stage.root.resolve("checkpoint").toString))(sink.write)
      .queryName("stream_steady").start()
    val gen = new Generator(o.seed, stage, rate, dropFile = o.fault.contains("drop-file"))
    gen.start()
    val ws = gen.t0 + warmupS * 1000L
    val we = ws + o.seconds * 1000L
    sleepUntil(ws)
    counters.foreach(_.reset())
    val setupS = (ws - processStartMs) / 1000.0
    gen.stopAt(we)
    gen.join()
    query.processAllAvailable()
    val drainedMs = System.currentTimeMillis()
    counters.foreach(_ => SparkCounters.settle())
    val layerCounters = counters.map(_.snapshot(ws, drainedMs)).getOrElse(Map.empty)
    query.stop()
    if (gen.failure != null) throw gen.failure
    query.exception.foreach(e => throw e)

    val progress = query.recentProgress.toSeq
    val window = progress.filter { p =>
      val t = java.time.Instant.parse(p.timestamp).toEpochMilli
      t >= ws && t < we && p.numInputRows > 0
    }
    val batchMs = window.map(_.batchDuration.toDouble)
    val rows = spark.read.jdbc(stage.derbyUrl, "player_stats", new java.util.Properties()).cache()
    val latencies = rows.select("batch_id", "second").collect().toSeq.flatMap { r =>
      val due = gen.t0 + r.getLong(1)
      Option(sink.commits.get(r.getLong(0))).filter(_ => due >= ws && due < we)
        .map(c => (due, (c.longValue - due).toDouble))
    }
    val lat = latencies.map(_._2)
    val lastCommit = sink.commits.values.asScala.map(_.longValue).max
    val windowEvents = gen.eventsDueIn(ws, we)
    val failures = StreamCheck.check(spark, Seq("player_stats" -> rows), stage.ledgerKills.toString,
      stage.ledgerDamages.toString, gen.log.model)
    failures.foreach(f => System.err.println(s"[perfbench] correctness: $f"))

    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("batch_ms_p50", Metrics.median(batchMs), "ms"),
      ("latency_ms_p50", Metrics.median(lat), "ms"),
      ("latency_ms_p99", Metrics.quantile(lat, 0.99), "ms"),
      ("throughput_per_s", windowEvents / ((lastCommit - ws) / 1000.0), "1/s"))
    val half = (ws + we) / 2
    val firstHalf = latencies.filter(_._1 < half).map(_._2)
    val secondHalf = latencies.filter(_._1 >= half).map(_._2)
    val diagnostics = Seq(
      "latency_ms_p99_first_half" -> Metrics.quantile(firstHalf, 0.99),
      "latency_ms_p99_second_half" -> Metrics.quantile(secondHalf, 0.99),
      "gen.late_ms_p99" -> Metrics.quantile(gen.lateMs.toSeq, 0.99),
      "gen.events" -> gen.log.model.events,
      "gen.events_per_s_offered" -> windowEvents / (o.seconds.toDouble),
      "source.backlog_files_max" -> gen.backlogFilesMax(progress),
      "stream.idle_trigger_ratio" -> idleRatio(progress, ws, we),
      "sink.replays" -> sink.replays,
      "batches_in_window" -> window.size,
      "latency_samples" -> lat.size,
      "correctness_failures" -> failures)
    val layers = if (!o.trace) Nil else {
      val probeFiles = gen.lastWindowFiles(we)
      val probe = StreamCheck.layerProbe(spark,
        spark.read.text(probeFiles.map(f => stage.ledgerKills.resolve(f).toString): _*),
        spark.read.text(probeFiles.map(f => stage.ledgerDamages.resolve(f).toString): _*),
        new JdbcSink(stage.derbyUrl, "probe_stats").write)
      Phases.summarize(window) ++ probe ++
        layerCounters.toSeq.map { case (k, v) => (k, v, SparkCounters.Units(k)) } :+
        (("sink.replays", sink.replays.toDouble, "count"))
    }
    rows.unpersist()
    Outcome(failures.isEmpty, attempted = window.size.toLong, failed = 0L,
      metrics = e2e ++ layers, diagnostics = diagnostics)
  }

  /** Share of the window's triggers that found no new input. */
  private def idleRatio(progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
      ws: Long, we: Long): Double = {
    val inWin = progress.filter { p =>
      val t = java.time.Instant.parse(p.timestamp).toEpochMilli
      t >= ws && t < we
    }
    if (inWin.isEmpty) 0.0 else inWin.count(_.numInputRows == 0).toDouble / inWin.size
  }

  /** Compile and JIT the pipeline before the clock starts: the same plan,
    * drained with AvailableNow over a few seconds of lines from another
    * seed into its own table. */
  private def warmUp(spark: SparkSession, stage: Staging, seed: Long, rate: Int): Unit = {
    val log = new GameLog(seed ^ 0x5eedL, Users)
    val dirs = Seq("kills", "damages").map(d => stage.root.resolve(s"warmup/$d"))
    dirs.foreach(Files.createDirectories(_))
    val perFile = rate * FilePeriodMs / 1000
    (0 until WarmupFiles).foreach { k =>
      val lines = (0 until perFile).map(j => log.next((k.toLong * perFile + j) * 128))
      GameLog.writeLines(dirs(0).resolve(f"part-$k%06d.csv"), lines.map(_._1))
      GameLog.writeLines(dirs(1).resolve(f"part-$k%06d.csv"), lines.map(_._2))
    }
    val read = (d: Path) => spark.readStream.option("maxFilesPerTrigger", "10").text(d.toString)
    Sinks.historizedSink(Pipeline.playerStats(read(dirs(0)), read(dirs(1))), Trigger.AvailableNow(),
        Some(stage.root.resolve("warmup/checkpoint").toString))(
        new JdbcSink(stage.derbyUrl, "warmup_stats").write)
      .queryName("stream_steady_warmup").start().awaitTermination()
  }

  private def sleepUntil(t: Long): Unit = {
    var now = System.currentTimeMillis()
    while (now < t) { Thread.sleep(math.min(200L, t - now)); now = System.currentTimeMillis() }
  }

  /** Directories and database of one set-up. */
  final case class Staging(root: Path) {
    val ledgerKills: Path = root.resolve("ledger/kills")
    val ledgerDamages: Path = root.resolve("ledger/damages")
    val streamKills: Path = root.resolve("stream/kills")
    val streamDamages: Path = root.resolve("stream/damages")
    Seq(ledgerKills, ledgerDamages, streamKills, streamDamages).foreach(Files.createDirectories(_))
    val derbyUrl: String = s"jdbc:derby:${root.resolve("derby")}"
    java.sql.DriverManager.getConnection(derbyUrl + ";create=true").close()
  }

  /** `foreachBatch` writer: the replay-idempotent JDBC append, plus the wall
    * time each batch committed and how many batches were written twice. */
  final class JdbcSink(url: String, table: String) extends Serializable {
    val commits = new ConcurrentHashMap[Long, java.lang.Long]()
    @volatile var replays = 0
    def write(df: DataFrame, batchId: Long): Unit = {
      Sinks.idempotentJdbcAppend(df, batchId, url, table, JdbcSink.props)
      if (commits.put(batchId, System.currentTimeMillis()) != null) replays += 1
    }
  }

  object JdbcSink {
    /** Key and name columns as VARCHAR, as in the reference's Postgres
      * table, instead of the CLOBs Spark's Derby dialect creates. */
    def props: java.util.Properties = {
      val p = new java.util.Properties()
      p.setProperty("createTableColumnTypes", "playerName VARCHAR(64), steamId VARCHAR(64)")
      p
    }
  }

  /** The open-loop generator: file k holds the events due in
    * [t0 + k*P, t0 + (k+1)*P) and is published at its end. Each line's tick
    * is its due time in ms since t0, times 128, so the parsed `second` is
    * the event's due time. Files are written to the ledger first and then
    * hard-linked into the stream directories, so the source never sees a
    * partial file; the ledger is what the correctness check replays. */
  final class Generator(seed: Long, stage: Staging, sourceRate: Int, dropFile: Boolean)
      extends Thread("perfbench-generator") {
    setDaemon(true)
    val log = new GameLog(seed, Users)
    val t0: Long = (System.currentTimeMillis() / FilePeriodMs + 2) * FilePeriodMs
    private val perFile = sourceRate * FilePeriodMs / 1000
    @volatile private var stopMs = Long.MaxValue
    @volatile var failure: Throwable = _
    val lateMs = ArrayBuffer[Double]()
    private val published = ArrayBuffer[(Long, Int)]() // (publish wall ms, file index)
    private val fileEvents = ArrayBuffer[Long]()

    def stopAt(ms: Long): Unit = stopMs = ms

    override def run(): Unit = try {
      var k = 0
      while (t0 + (k + 1L) * FilePeriodMs <= stopMs) {
        val due = t0 + (k + 1L) * FilePeriodMs
        val before = log.model.events
        val kills = new ArrayBuffer[String](perFile)
        val damages = new ArrayBuffer[String](perFile)
        var j = 0
        while (j < perFile) {
          val dueMs = k.toLong * FilePeriodMs + (j + 1L) * FilePeriodMs / perFile
          val (kl, dl) = log.next(dueMs * 128)
          kills += kl; damages += dl
          j += 1
        }
        val name = f"part-$k%06d.csv"
        GameLog.writeLines(stage.ledgerKills.resolve(name), kills)
        GameLog.writeLines(stage.ledgerDamages.resolve(name), damages)
        var now = System.currentTimeMillis()
        while (now < due) { Thread.sleep(due - now); now = System.currentTimeMillis() }
        if (!(dropFile && k == 3)) {
          Files.createLink(stage.streamKills.resolve(name), stage.ledgerKills.resolve(name))
          Files.createLink(stage.streamDamages.resolve(name), stage.ledgerDamages.resolve(name))
        }
        val at = System.currentTimeMillis()
        synchronized {
          lateMs += (at - due).toDouble
          published += ((at, k))
          fileEvents += log.model.events - before
        }
        k += 1
      }
    } catch { case e: Throwable => failure = e }

    /** Events whose file was due inside [from, to). */
    def eventsDueIn(from: Long, to: Long): Double = synchronized {
      fileEvents.indices.filter { k =>
        val due = t0 + (k + 1L) * FilePeriodMs
        due > from && due <= to
      }.map(fileEvents(_)).sum.toDouble
    }

    /** The names of the files due in the last second before `to`: one
      * trigger's worth of input, the batch the layer probe replays. */
    def lastWindowFiles(to: Long): Seq[String] = synchronized {
      published.map(_._2).filter { k =>
        val due = t0 + (k + 1L) * FilePeriodMs
        due > to - 1000 && due <= to
      }.map(k => f"part-$k%06d.csv").toSeq
    }

    /** Most files that arrived between two consecutive trigger starts: the
      * backlog a trigger found waiting. It grows when batches outlast the
      * trigger interval. */
    def backlogFilesMax(progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]): Double =
      synchronized {
        val starts = progress.filter(_.numInputRows > 0)
          .map(p => java.time.Instant.parse(p.timestamp).toEpochMilli)
        starts.zip(starts.drop(1)).map { case (a, b) =>
          published.count { case (at, _) => at >= a && at < b }
        }.maxOption.getOrElse(0).toDouble
      }
  }
}
