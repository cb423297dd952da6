package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryIdleEvent,
  QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

/** Spans recorded around the benchmark's calls into the library, kept in
  * memory and written out when the run ends. One trace id per micro-batch
  * or per catalog query; a span's parent is another span's name in the same
  * trace. Recording is on only in traced runs. */
object Trace {
  final case class Span(trace: String, name: String, parent: String, startMs: Long, endMs: Long)

  @volatile var enabled = false
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()

  def record(s: Span): Unit = if (enabled) spans.add(s)

  def span[T](trace: String, name: String, parent: String = "")(body: => T): T = {
    val t0 = System.currentTimeMillis()
    try body
    finally record(Span(trace, name, parent, t0, System.currentTimeMillis()))
  }

  /** Write env, diagnostics and spans to `perfbench/results/`. */
  def writeOut(o: Opts, env: Seq[(String, Any)], diagnostics: Json.Raw): Unit = {
    val dir = Paths.get(o.home, "results")
    Files.createDirectories(dir)
    val spanJson = spans.asScala.toSeq.map(s => Json.obj(Seq(
      "trace" -> s.trace, "name" -> s.name, "parent" -> s.parent,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
    val name = f"${System.currentTimeMillis()}%d-${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}.json"
    Files.writeString(dir.resolve(name), Json.obj(Seq(
      "env" -> Json.obj(env), "diagnostics" -> diagnostics, "spans" -> spanJson)).json + "\n")
  }
}

/** Spark's execution counters, read through the public listener API. */
final class SparkCounters extends SparkListener {
  private var jobs, stages, tasks = 0L
  private var runMs, cpuNs, gcMs, shuffleWrite, shuffleRead = 0L
  private val jobStart = scala.collection.mutable.Map[Int, Long]()
  private val jobSpans = ArrayBuffer[(Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1; jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
    }
  }

  /** Counter values, plus `driver.gap_ms`: the part of [fromMs, toMs] that
    * no Spark job covered (driver-side planning, scheduling gaps, sleeps). */
  def snapshot(fromMs: Long, toMs: Long): Map[String, Double] = synchronized {
    val inWindow = jobSpans.map { case (a, b) => (math.max(a, fromMs), math.min(b, toMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    inWindow.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    Map(
      "spark.jobs" -> jobs.toDouble, "spark.stages" -> stages.toDouble,
      "spark.tasks" -> tasks.toDouble, "spark.executor_run_ms" -> runMs.toDouble,
      "spark.executor_cpu_ms" -> cpuNs / 1e6, "spark.gc_ms" -> gcMs.toDouble,
      "spark.shuffle_write_bytes" -> shuffleWrite.toDouble,
      "spark.shuffle_read_bytes" -> shuffleRead.toDouble,
      "driver.gap_ms" -> ((toMs - fromMs) - covered).toDouble)
  }

  def reset(): Unit = synchronized {
    jobs = 0; stages = 0; tasks = 0; runMs = 0; cpuNs = 0; gcMs = 0
    shuffleWrite = 0; shuffleRead = 0; jobSpans.clear()
  }
}

object SparkCounters {
  val Units: Map[String, String] = Map(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.executor_run_ms" -> "ms", "spark.executor_cpu_ms" -> "ms", "spark.gc_ms" -> "ms",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "driver.gap_ms" -> "ms")

  /** The listener bus delivers events asynchronously; give it time to drain
    * before the counters are read. */
  def settle(): Unit = Thread.sleep(300)

  def install(spark: SparkSession): SparkCounters = {
    val c = new SparkCounters
    spark.sparkContext.addSparkListener(c)
    c
  }
}

/** Every progress report of every streaming query in the session, in order. */
final class ProgressLog extends StreamingQueryListener {
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(event: QueryStartedEvent): Unit = ()
  override def onQueryIdle(event: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(event: QueryProgressEvent): Unit = buf.add(event.progress)
  def all: Seq[StreamingQueryProgress] = buf.asScala.toSeq
}

/** Per-layer numbers read from Structured Streaming's query progress: the
  * engine's own phase split of every micro-batch. */
object Phases {
  /** Engine phases, in the order a micro-batch runs them. */
  val Names: Seq[(String, String)] = Seq(
    "latestOffset" -> "stream.latest_offset_ms",
    "walCommit" -> "stream.wal_commit_ms",
    "getBatch" -> "stream.get_batch_ms",
    "queryPlanning" -> "stream.query_planning_ms",
    "addBatch" -> "stream.add_batch_ms",
    "commitOffsets" -> "stream.commit_offsets_ms")

  def ms(p: StreamingQueryProgress, phase: String): Double =
    Option(p.durationMs.get(phase)).map(_.doubleValue).getOrElse(0.0)

  private def stateSum(p: StreamingQueryProgress, f: org.apache.spark.sql.streaming.StateOperatorProgress => Double): Double =
    p.stateOperators.map(f).sum

  def stateCommitMs(p: StreamingQueryProgress): Double =
    stateSum(p, _.commitTimeMs.toDouble)

  /** Median per batch of each phase and of the state commit, the share of the
    * median batch the named phases cover, and state-store size over the
    * batches with input. Records spans for each batch's phases, laid out in
    * the order the engine runs them. */
  def summarize(batches: Seq[StreamingQueryProgress]): Seq[(String, Double, String)] = {
    val b = batches.filter(_.numInputRows > 0)
    if (b.isEmpty) throw new IllegalStateException("no micro-batch with input in the window")
    b.foreach { p =>
      val trace = s"${p.name}-batch-${p.batchId}"
      var t = java.time.Instant.parse(p.timestamp).toEpochMilli
      val total = ms(p, "triggerExecution").toLong
      Trace.record(Trace.Span(trace, "micro-batch", "", t, t + total))
      Names.foreach { case (phase, _) =>
        val d = ms(p, phase).toLong
        Trace.record(Trace.Span(trace, phase, "micro-batch", t, t + d))
        t += d
      }
    }
    def med(f: StreamingQueryProgress => Double) = Metrics.median(b.map(f))
    val phaseMedians = Names.map { case (phase, metric) => (metric, med(ms(_, phase)), "ms") }
    val batchMed = med(_.batchDuration.toDouble)
    val cover = b.map(p => Names.map(n => ms(p, n._1)).sum / math.max(1.0, p.batchDuration.toDouble))
    phaseMedians ++ Seq(
      ("stream.batches", b.size.toDouble, "count"),
      ("stream.phase_cover_ratio", Metrics.median(cover), "ratio"),
      ("stream.batch_ms_p50", batchMed, "ms"),
      ("state.commit_ms", med(stateCommitMs), "ms"),
      ("state.rows_total", b.map(p => stateSum(p, _.numRowsTotal.toDouble)).max, "count"),
      ("state.rows_updated", b.map(p => stateSum(p, _.numRowsUpdated.toDouble)).sum, "count"),
      ("state.memory_bytes", b.map(p => stateSum(p, _.memoryUsedBytes.toDouble)).max, "bytes"))
  }
}
