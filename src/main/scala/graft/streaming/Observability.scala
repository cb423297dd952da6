package graft.streaming

import scala.concurrent.{Await, Promise}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.CollectMetrics
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{
  QueryIdleEvent, QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

/** Inline pipeline observability via `Dataset.observe`: named invariant
  * metrics (row counts, null rates, value bounds) computed DURING the
  * existing pass over the data — zero extra scans, zero extra shuffles —
  * and surfaced to the driver per action (batch) or per micro-batch
  * (streaming progress events).
  *
  * At 100 TB an unmetered pipeline is undebuggable: a second "audit" scan
  * doubles the bill, so the metrics must ride the production plan itself.
  * `observe` aggregates are accumulated task-side and merged on the
  * driver, exactly like SQL metrics.
  */
object Observability {

  /** Run `action` over `df` with `metrics` observed inline; returns the
    * metric values (one row, keyed by alias) after the action completes.
    * Batch only — streaming queries surface the same metrics through
    * [[ObservedMetricsCollector]]. */
  def observeBatch(df: DataFrame, name: String, metrics: Seq[Column])(
      action: DataFrame => Unit): Map[String, Any] = {
    require(metrics.nonEmpty, "observeBatch needs at least one metric column")
    observed(df, name, metrics)(action)
  }

  /** Runs `action` over `df` with `metrics` observed under `name`, then
    * waits for the metrics row of the execution that ran the observed
    * plan. The row is read by a listener of this call's own, not through
    * an `Observation`: that registers the session's `ObservationManager`,
    * whose listener stays for the session's life and rethrows every later
    * query's optimizer failure on the listener bus, logged as an
    * `ExecutionListenerBus` ERROR. This listener ignores failures and is
    * gone when the call returns. */
  private def observed(df: DataFrame, name: String, metrics: Seq[Column])(
      action: DataFrame => Unit): Map[String, Any] = {
    val obs = df.observe(name, metrics.head, metrics.tail: _*)
    val id = obs.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
      .queryExecution.logical.asInstanceOf[CollectMetrics].dataframeId
    val row = Promise[Row]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.logical.exists {
            case c: CollectMetrics => c.name == name && c.dataframeId == id
            case _ => false })
          qe.observedMetrics.get(name).foreach(row.trySuccess)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val listeners = df.sparkSession.listenerManager
    listeners.register(listener)
    try {
      action(obs)
      val r = Await.result(row.future, Duration.Inf)
      r.getValuesMap[Any](r.schema.fieldNames.toSeq)
    } finally listeners.unregister(listener)
  }

  /** Data-quality circuit breaker for `foreachBatch` sinks: the micro-batch
    * writes with `metrics` observed inline; if `invariant` rejects the
    * metrics the batch THROWS (after the write — the metrics only exist
    * once the write's action has run), which fails the streaming query
    * instead of letting a corrupt upstream keep poisoning the sink table.
    * Pair with [[graft.io.Sinks.idempotentJdbcAppend]]: on
    * restart-after-fix the replayed batch first deletes the poisoned
    * rows, so the guard composes to "bad data never survives". */
  def guardedForeachBatch(
      metrics: Seq[Column],
      invariant: Map[String, Any] => Boolean)(
      write: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit = {
    require(metrics.nonEmpty, "guardedForeachBatch needs at least one metric column")
    (df: DataFrame, batchId: Long) => {
      val m = observed(df, s"graft_guard_$batchId", metrics)(write(_, batchId))
      if (!invariant(m))
        throw new IllegalStateException(
          s"graft batch guard: invariant violated at batch $batchId: $m")
    }
  }

  /** Per-micro-batch latency SLO gate over a FINISHED streaming query:
    * reads the batch durations the engine already recorded in the query's
    * progress events (zero instrumentation cost — the
    * StreamingQueryProgress is collected regardless) and REQUIRES the
    * MEDIAN steady-state batch under `sloMs`. The serving SLO is the
    * operating point a 1 s-trigger deployment runs at: a median batch
    * slower than the trigger means the serve is falling behind its own
    * arrival rate.
    *
    * `skipFirst` batches are excluded as cold start (plan compilation,
    * codegen, broadcast build — paid once per query, not per trigger);
    * the assertion is on the MEDIAN steady-state batch — a single batch
    * spiking under shared-VM contention is noise, but a plan regression
    * (a lost pin, a corpus rescan) shifts every batch and so the median.
    * An SLO of 0 disables the assertion and just returns the durations,
    * so callers can gate on a conf-selected budget
    * (`spark.graft.serve.sloMs`) and report the numbers either way.
    * @return all batch durations in ms, arrival order (incl. cold start) */
  def assertBatchSlo(query: org.apache.spark.sql.streaming.StreamingQuery,
      sloMs: Long, skipFirst: Int = 1): Seq[Long] = {
    require(skipFirst >= 0, s"skipFirst must be >= 0, got $skipFirst")
    val durs = query.recentProgress.toSeq
      .filter(_.numInputRows > 0) // AvailableNow emits a trailing no-data commit
      .map(_.batchDuration)
    if (sloMs > 0) {
      val steady = durs.drop(skipFirst)
      if (steady.nonEmpty) {
        val sorted = steady.sorted
        val median = sorted(sorted.size / 2)
        require(median < sloMs,
          s"serving SLO violated: median steady-state micro-batch " +
            s"$median ms >= $sloMs ms (durations ms: ${durs.mkString(",")})")
      }
    }
    durs
  }

  /** Process-global record of the most recent per-batch durations each
    * serving gate measured via [[assertBatchSlo]] — Bench folds it into
    * the bench JSON (`serve_batch_ms`) so the serving-SLO numbers ride
    * the same record the throughput totals do. Last write per name wins
    * (the bench's final pass is the one reported). */
  private val sloRecord =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Long]]()

  /** Each serving gate's INTRINSIC per-batch budget (ms) — recorded next
    * to its durations so a harness that disabled the in-body assert
    * (sloMs=0, Bench's record-only mode) can still grade the medians
    * against the budgets AFTER the run, in a clean window. */
  private val sloBudget =
    new java.util.concurrent.ConcurrentHashMap[String, Long]()

  def batchDurationRecord: Map[String, Seq[Long]] = {
    import scala.jdk.CollectionConverters._
    sloRecord.asScala.toMap
  }

  def serveBudgetRecord: Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    sloBudget.asScala.toMap
  }

  /** The one SLO entry point the serving gates call: resolves the
    * effective assert budget from `spark.graft.serve.sloMs` (falling back
    * to the gate's intrinsic `budgetMs`), runs [[assertBatchSlo]] at it,
    * and records BOTH the measured durations and the intrinsic budget.
    * The conf split is what de-flakes the acceptance bench: Verify pins a
    * large headroom (correctness must not fail on a VM throttle blip),
    * Bench pins 0 (record-only) and grades the recorded medians against
    * the intrinsic budgets after the timed passes, where a blown budget
    * is a repair-eligible verdict instead of a thrown query. An unset
    * conf leaves the gate self-asserting at its intrinsic budget — the
    * production default. */
  def gateServeSlo(name: String,
      query: org.apache.spark.sql.streaming.StreamingQuery,
      budgetMs: Long, spark: org.apache.spark.sql.SparkSession): Seq[Long] = {
    val sloMs = spark.conf.get("spark.graft.serve.sloMs", budgetMs.toString).toLong
    val durs = assertBatchSlo(query, sloMs)
    sloRecord.put(name, durs)
    sloBudget.put(name, budgetMs)
    durs
  }

  /** Collects the `observe`d metrics rows a streaming query reports in its
    * progress events — attach with `spark.streams.addListener`. Thread-safe;
    * remember to `removeListener` when done. */
  final class ObservedMetricsCollector(metricName: String) extends StreamingQueryListener {
    private val buf = new java.util.concurrent.ConcurrentLinkedQueue[Row]()

    override def onQueryStarted(event: QueryStartedEvent): Unit = ()
    override def onQueryIdle(event: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(event: QueryProgressEvent): Unit = {
      val m = event.progress.observedMetrics
      if (m.containsKey(metricName)) buf.add(m.get(metricName))
    }

    def collected: Seq[Row] = {
      import scala.jdk.CollectionConverters._
      buf.iterator().asScala.toSeq
    }
  }
}
