package perfbench

import java.nio.file.Paths

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.streaming.Observability

/** `catalog_mix`: a fixed slice of the catalog run closed loop, one query at
  * a time, in a seed-permuted order. The first pass is untimed and checks
  * every query's result fingerprint; untimed warm-up passes through the
  * `noop` sink follow, then timed ones until the run's seconds are used. */
object CatalogMix {

  /** (family, query). Cold, the two take ~20 s at sf0.1 on 4 cores and a
    * warm pass 6-8 s, so a run has room for a check pass, two warm-up
    * passes and three timed passes but not for more queries. q252 is the
    * cheapest serving gate and exercises ext (IVF-PQ), functions and util;
    * q99 the analytics layer. */
  val Queries: Seq[(String, String)] = Seq(
    "analytics" -> "q99_rfm_segments",
    "store" -> "q252_stream_ann_serve")

  /** Untimed passes after the check pass. The JVM is still compiling the
    * planner's hot paths for the first few passes: q252's micro-batches run
    * ~1.25 s in the first pass after the check, ~1.0 s by the third, and
    * when that step comes varies from run to run, so timing from the first
    * pass measured the step rather than the code. */
  val WarmPasses = 2

  /** No warm-up pass starts this many seconds after process start: on a host
    * that runs this far behind, the run would outlast run.py's JVM limit. */
  val WarmDeadlineS = 90

  /** Task slots: half the cores. Both queries are bound by per-stage fixed
    * cost at sf0.1 (q252 serves two vectors a batch), so on 4 cores two slots
    * run them faster than four (q252's batches ~0.8 s against ~1.0 s) and
    * leave the driver thread, the JIT and GC cores of their own. */
  val Slots: Int = math.max(1, Env.nproc / 2)

  /** Timed passes per run, at least; each query's time is its median. Three
    * take ~20 s on 4 cores, longer than a 15-s run asks for, so every such
    * run times the same passes (with two, a fast run got a third, warmer pass
    * and a slow one did not). */
  val TimedPasses = 3

  val ServingGates = Set("q252_stream_ann_serve")

  /** The catalog data is fixed (the seed only orders the queries), so the
    * expected fingerprints can be recorded once against the DuckDB oracle. */
  val DataSeed = 42L
  def scale(tiny: Boolean): (String, Double) = if (tiny) ("sf0.001", 0.001) else ("sf0.1", 0.1)

  /** Row count and an order-insensitive hash of every column of `df`. */
  def fingerprint(df: DataFrame): String = {
    val r = df.agg(count(lit(1)),
      sum(pmod(xxhash64(to_json(struct(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*))),
        lit(Int.MaxValue.toLong)))).collect()(0)
    s"${r.getLong(0)}:${if (r.isNullAt(1)) 0L else r.getLong(1)}"
  }

  def expectedFingerprints(path: String, label: String): Map[String, String] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))
    val node = root.get(label)
    require(node != null, s"$path has no fingerprints for $label")
    Queries.map(_._2).map(q => q -> Option(node.get(q)).map(_.asText())
      .getOrElse(throw new IllegalStateException(s"$path has no fingerprint for $q"))).toMap
  }

  final case class Sample(query: String, startMs: Long, endMs: Long, buildMs: Double,
      actionMs: Double) {
    def ms: Double = buildMs + actionMs
  }

  /** The gate's steady micro-batch median from its latest run (the first,
    * cold batch dropped), as `graft.Bench` grades it. */
  private def serveMs(gate: String): Option[Double] =
    Observability.batchDurationRecord.get(gate).map(_.drop(1).map(_.toDouble))
      .filter(_.nonEmpty).map(Metrics.median)

  def run(o: Opts, processStartMs: Long): Outcome = {
    val spark = Env.session(o, Slots)
    Trace.enabled = o.trace
    val counters = if (o.trace) Some(SparkCounters.install(spark)) else None
    // the streaming queries' micro-batches are the latency this workload reports
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val (label, sf) = scale(o.tiny)
    val expected = expectedFingerprints(
      o.expected.getOrElse(Paths.get(o.home, "expected_fingerprints.json").toString), label)
    val dir = Trace.span("setup", "fixture")(Fixture.cached(spark, o.cache, label, sf, DataSeed))
    val order = new scala.util.Random(o.seed).shuffle(Queries.map(_._2))
    val fns = SparkEntry.queries

    // Pass 0 checks each query's fingerprint. WarmPasses untimed passes
    // through the noop sink follow, then timed ones: at least TimedPasses of
    // them and until the timed runs add up to the run's seconds.
    val failures = ArrayBuffer[String]()
    val samples = ArrayBuffer[Sample]()
    val batches = ArrayBuffer[org.apache.spark.sql.streaming.StreamingQueryProgress]()
    val layerCounters = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)
    var failed = 0L
    var attempted = 0L
    var pass = 0
    var warm = WarmPasses
    def timedSeconds = samples.map(_.ms).sum / 1000.0
    while (pass <= warm + TimedPasses || timedSeconds < o.seconds) {
      if (pass >= 1 && pass <= warm &&
          System.currentTimeMillis() - processStartMs > WarmDeadlineS * 1000L) warm = pass - 1
      order.foreach { q =>
        try {
          if (pass == 0) {
            val got = Trace.span(s"check-$q", "fingerprint")(fingerprint(fns(q)(spark, dir)))
            if (got != expected(q)) failures += s"$q fingerprint $got, expected ${expected(q)}"
          } else if (pass <= warm) {
            timed(spark, q, dir, fns(q))
          } else {
            attempted += 1
            counters.foreach(_.reset())
            val before = progress.all.size
            val sample = timed(spark, q, dir, fns(q))
            samples += sample
            // every micro-batch the query ran but its first (cold) one
            batches ++= progress.all.drop(before).filter(_.numInputRows > 0)
              .groupBy(_.runId).values.flatMap(_.sortBy(_.batchId).drop(1))
            counters.foreach { c =>
              SparkCounters.settle()
              c.snapshot(sample.startMs, sample.endMs).foreach { case (k, v) => layerCounters(k) += v }
            }
          }
        } catch { case e: Throwable =>
          failed += 1
          failures += s"$q threw $e"
        } finally graft.util.Caches.releaseAll()
      }
      pass += 1
    }
    val passes = pass - 1 - warm
    val setupS = (System.currentTimeMillis() - processStartMs) / 1000.0 - timedSeconds
    failures.foreach(f => System.err.println(s"[perfbench] correctness: $f"))

    val ms = samples.map(_.ms).toSeq
    val batchMs = batches.map(_.batchDuration.toDouble).toSeq
    // each query's median over the timed passes
    val perQuery = samples.groupBy(_.query).values.map(v => Metrics.median(v.map(_.ms).toSeq)).toSeq
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("batch_ms_p50", Metrics.median(batchMs), "ms"),
      ("latency_ms_p50", Metrics.median(perQuery), "ms"),
      ("latency_ms_p99", Metrics.quantile(perQuery, 0.99), "ms"),
      ("throughput_per_s", perQuery.size / (perQuery.sum / 1000.0), "1/s"))
    val family = Queries.map(_.swap).toMap
    def perPass(xs: Seq[Double]) = xs.sum / passes
    val diagnostics = Seq(
      "warm_passes" -> warm,
      "passes" -> passes,
      "timed_s" -> timedSeconds,
      "micro_batches" -> batches.size,
      "batch_ms" -> batchMs,
      "catalog_s" -> perPass(ms) / 1000.0,
      "catalog.build_ms" -> perPass(samples.map(_.buildMs).toSeq),
      "catalog.action_ms" -> perPass(samples.map(_.actionMs).toSeq),
      "serve_batch_ms" -> ServingGates.toSeq.sorted.flatMap(serveMs).sum,
      "failed_ratio" -> (if (attempted == 0) 0.0 else failed.toDouble / attempted),
      "correctness_failures" -> failures.toSeq) ++
      Queries.map(_._1).distinct.map(f => s"catalog.${f}_s" ->
        perPass(samples.filter(s => family(s.query) == f).map(_.ms).toSeq) / 1000.0) ++
      ServingGates.toSeq.sorted.map(g => s"serve.${g.take(4)}_ms_p50" -> serveMs(g).getOrElse(-1.0)) ++
      Queries.map(_._2).map(q => s"query.${q}_ms" ->
        Metrics.median(samples.filter(_.query == q).map(_.ms).toSeq))
    val layers = if (!o.trace) Nil else {
      val probeLog = new GameLog(o.seed, StreamSteady.Users)
      val lines = (1 to StreamSteady.SourceEventsPerSecond).map(i => probeLog.next(i * 128L))
      import spark.implicits._
      val probeOut = Paths.get(o.tmp, "probe-sink").toString
      val probe = StreamCheck.layerProbe(spark, lines.map(_._1).toDF("value"),
        lines.map(_._2).toDF("value"),
        (df, id) => graft.io.Sinks.parquetAppend(df, s"$probeOut/batch_id=$id"))
      // the catalog's streams (the serving gate) keep no state; the state
      // layer is read from the stateful pipeline over the probe's lines
      Phases.summarize(batches.toSeq).filterNot(_._1.startsWith("state.")) ++
        StreamCheck.stateProbe(spark, Paths.get(o.tmp, "state-probe"), lines) ++ probe ++
        layerCounters.toSeq.map { case (k, v) => (k, v, SparkCounters.Units(k)) } :+
        (("sink.replays", 0.0, "count"))
    }
    Outcome(failures.isEmpty && failed == 0, attempted, failed, e2e ++ layers, diagnostics)
  }

  /** One timed query: building the DataFrame (`fn`, which runs any actions
    * the query needs to plan, e.g. its streams) and the `noop` write. */
  private def timed(spark: SparkSession, q: String, dir: String,
      fn: (SparkSession, String) => DataFrame): Sample = {
    val start = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val df = Trace.span(q, "build", "query")(fn(spark, dir))
    val t1 = System.nanoTime()
    Trace.span(q, "action", "query")(df.write.format("noop").mode("overwrite").save())
    val t2 = System.nanoTime()
    val end = System.currentTimeMillis()
    Trace.record(Trace.Span(q, "query", "", start, end))
    Sample(q, start, end, (t1 - t0) / 1e6, (t2 - t1) / 1e6)
  }
}
