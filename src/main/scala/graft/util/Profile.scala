package graft.util

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.GraftExecutionBridge
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Per-query profiles read from Spark's own listener bus: one SparkListener
  * per SparkContext, installed by [[Sessions.build]].
  *
  * A runner wraps a query in [[tagged]], which sets the local property
  * [[TagKey]] on the calling thread. Local properties are inherited by
  * threads created later, so jobs started from `Par` branches and from a
  * streaming query's execution thread carry the tag too. The job group
  * cannot serve as the tag: `StreamExecution.runStream` overwrites it with
  * the stream's run id. Jobs and stages are attributed through the
  * properties their start events carry, tasks through their stage, and a
  * SQL execution through the tag of its jobs; an execution that runs no
  * job does no executor work and is not attributed.
  *
  * A SQL execution's planning-phase times and formatted plan come from the
  * `QueryExecution` its `SparkListenerSQLExecutionEnd` carries. That event
  * is where Spark's own QueryExecutionListeners get it; a listener
  * registered on one session would miss the child sessions catalog gates
  * create with `newSession()`, and its callback carries no execution id to
  * attribute it by.
  *
  * Listener events arrive asynchronously: [[report]] first runs a fence
  * job and waits until the listener has seen it start, so every event
  * posted before the report is counted. */
object Profile {

  /** Local property holding the tag of the query the thread runs. */
  val TagKey = "graft.profile.tag"
  private val ExecutionIdKey = "spark.sql.execution.id"

  /** One tag's counters. `gapMs` is wall time not covered by any of the
    * tag's jobs: driver-side planning, scheduling and result handling. */
  final case class Counters(
      wallMs: Long, jobs: Long, stages: Long, tasks: Long,
      executorRunMs: Long, executorCpuMs: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, shuffleWriteRecords: Long,
      spillBytes: Long, gapMs: Long, phaseMs: Map[String, Long], plans: Seq[String]) {
    def json: String = (Seq(
      "wall_ms" -> wallMs, "spark.jobs" -> jobs, "spark.stages" -> stages,
      "spark.tasks" -> tasks, "spark.executor_run_ms" -> executorRunMs,
      "spark.executor_cpu_ms" -> executorCpuMs,
      "spark.shuffle_read_bytes" -> shuffleReadBytes,
      "spark.shuffle_write_bytes" -> shuffleWriteBytes,
      "spark.shuffle_write_records" -> shuffleWriteRecords,
      "spark.spill_bytes" -> spillBytes, "driver.gap_ms" -> gapMs) ++
      phaseMs.toSeq.sorted.map { case (p, ms) => s"plan.${p}_ms" -> ms })
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
  }

  private final class Acc {
    var jobs, stages, tasks, runMs, cpuNs, shuffleRead, shuffleWrite, shuffleRecords, spill = 0L
    val windows = mutable.ArrayBuffer[(Long, Long)]()
    val jobSpans = mutable.ArrayBuffer[(Long, Long)]()
    val phaseMs = mutable.Map[String, Long]().withDefaultValue(0L)
    val plans = mutable.ArrayBuffer[String]()
  }

  final class Listener private[Profile] extends SparkListener {
    private val accs = mutable.Map[String, Acc]()
    private val stageTag = mutable.Map[Int, String]()
    private val jobOpen = mutable.Map[Int, (String, Long)]()
    private val executionTag = mutable.Map[Long, String]()
    private[Profile] val explained = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    @volatile private[Profile] var lastJobSeen = -1

    private def acc(tag: String): Acc = accs.getOrElseUpdate(tag, new Acc)
    private def tagOf(p: java.util.Properties): Option[String] =
      Option(p).flatMap(p => Option(p.getProperty(TagKey)))

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      tagOf(e.properties).foreach { t =>
        acc(t).jobs += 1
        jobOpen(e.jobId) = (t, e.time)
        Option(e.properties.getProperty(ExecutionIdKey))
          .foreach(id => executionTag(id.toLong) = t)
      }
      lastJobSeen = e.jobId
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobOpen.remove(e.jobId).foreach { case (t, start) =>
        acc(t).jobSpans += ((start, e.time)) }
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      tagOf(e.properties).foreach { t =>
        stageTag(e.stageInfo.stageId) = t
        acc(t).stages += 1
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (t <- stageTag.get(e.stageId); m <- Option(e.taskMetrics)) {
        val a = acc(t)
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd => synchronized {
        for (t <- executionTag.remove(end.executionId);
             qe <- GraftExecutionBridge.queryExecution(end)) {
          val a = acc(t)
          qe.tracker.phases.foreach { case (p, s) => a.phaseMs(p) += s.durationMs }
          if (explained.contains(t)) a.plans += qe.explainString(FormattedMode)
        }
      }
      case _ => ()
    }

    private[Profile] def window(tag: String, from: Long, to: Long): Unit =
      synchronized { acc(tag).windows += ((from, to)) }

    private[Profile] def take(tag: String): Option[Counters] = synchronized {
      explained.remove(tag)
      accs.remove(tag).map { a =>
        val covered = a.windows.map { case (from, to) =>
          union(a.jobSpans.map { case (s, e) => (math.max(s, from), math.min(e, to)) }) }.sum
        val wall = a.windows.map { case (from, to) => to - from }.sum
        Counters(wall, a.jobs, a.stages, a.tasks, a.runMs, a.cpuNs / 1000000L,
          a.shuffleRead, a.shuffleWrite, a.shuffleRecords, a.spill, wall - covered,
          a.phaseMs.toMap, a.plans.toSeq)
      }
    }
  }

  /** Total length of a set of [start, end) spans, overlaps counted once. */
  private def union(spans: Iterable[(Long, Long)]): Long = {
    var covered, reach = 0L
    spans.filter { case (s, e) => e > s }.toSeq.sortBy(_._1).foreach { case (s, e) =>
      if (e > reach) { covered += e - math.max(s, reach); reach = e }
    }
    covered
  }

  private var installed: Option[(SparkContext, Listener)] = None

  /** The context's profiler, registered on its first call only. */
  def install(spark: SparkSession): Listener = synchronized {
    val sc = spark.sparkContext
    listener(sc).getOrElse {
      val l = new Listener
      sc.addSparkListener(l)
      installed = Some((sc, l))
      l
    }
  }

  private def listener(sc: SparkContext): Option[Listener] = synchronized {
    installed.collect { case (c, l) if c eq sc => l }
  }

  /** Run `body` with its Spark work attributed to `tag`. With `explain`,
    * the formatted plan of every SQL execution the tag runs is kept. On a
    * context without a profiler only the local property is set. */
  def tagged[T](spark: SparkSession, tag: String, explain: Boolean = false)(body: => T): T = {
    val sc = spark.sparkContext
    val l = listener(sc)
    if (explain) l.foreach(_.explained.add(tag))
    val prev = sc.getLocalProperty(TagKey)
    sc.setLocalProperty(TagKey, tag)
    val t0 = System.currentTimeMillis()
    try body
    finally {
      l.foreach(_.window(tag, t0, System.currentTimeMillis()))
      sc.setLocalProperty(TagKey, prev)
    }
  }

  /** The counters of each tag that ran any scope, after the listener bus
    * has delivered every event posted so far; the tags are then forgotten. */
  def report(spark: SparkSession, tags: Seq[String]): Map[String, Counters] = {
    val sc = spark.sparkContext
    listener(sc).fold(Map.empty[String, Counters]) { l =>
      val prev = sc.getLocalProperty(TagKey)
      sc.setLocalProperty(TagKey, null)
      val fence = try sc.submitJob(sc.parallelize(Seq(0), 1),
          (_: Iterator[Int]) => (), Seq(0), (_: Int, _: Unit) => (), ())
        finally sc.setLocalProperty(TagKey, prev)
      scala.concurrent.Await.ready(fence, scala.concurrent.duration.Duration.Inf)
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (l.lastJobSeen < fence.jobIds.head && System.nanoTime() < deadline)
        Thread.sleep(2)
      tags.flatMap(t => l.take(t).map(t -> _)).toMap
    }
  }
}
