package perfbench

import org.apache.spark.sql.SparkSession

/** Command-line options the runner (`perfbench/run.py`) passes to the JVM. */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    tmp: String,
    home: String,
    cache: String,
    tiny: Boolean,
    expected: Option[String],
    fault: Option[String])

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def req(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Opts(
      workload = req("--workload"),
      seed = req("--seed").toLong,
      seconds = req("--seconds").toInt,
      trace = req("--trace") == "1",
      tmp = req("--tmp"),
      home = req("--home"),
      cache = req("--cache"),
      tiny = args.contains("--tiny"),
      expected = kv.get("--expected"),
      fault = kv.get("--fault"))
  }
}

/** What one workload run measured: operations attempted and failed, whether
  * every correctness check passed, and the metrics to print. */
final case class Outcome(
    correct: Boolean,
    attempted: Long,
    failed: Long,
    metrics: Seq[(String, Double, String)],
    diagnostics: Seq[(String, Any)] = Nil)

object Main {

  /** Entry point: `perfbench.Main --workload W --seed N --seconds S --trace 0|1
    * --tmp DIR --home DIR --cache DIR [--tiny] [--expected FILE] [--fault drop-file]`.
    * Prints an environment line, then the result JSON as the last line, and
    * exits 1 when a correctness check failed. */
  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val processStartMs =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val outcome = o.workload match {
      case "stream_steady"  => StreamSteady.run(o, processStartMs)
      case "stream_backlog" => StreamBacklog.run(o, processStartMs)
      case "catalog_mix"    => CatalogMix.run(o, processStartMs)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val rss = Env.peakRssMb
    val all = outcome.metrics :+ (("peak_rss_mb", rss, "MB"))
    val wanted = Metrics.declared(o.home, if (o.trace) "per_layer" else "end_to_end")
    val printed = all.filter { case (n, _, _) => wanted.contains(n) }
    val missing = wanted.filterNot(n => printed.exists(_._1 == n))
    require(missing.isEmpty, s"workload ${o.workload} did not measure: ${missing.mkString(", ")}")
    val env = Env.describe(o)
    val diag = Json.obj(outcome.diagnostics ++
      all.filterNot { case (n, _, _) => wanted.contains(n) }.map { case (n, v, _) => n -> v })
    Trace.writeOut(o, env, diag)
    println(Json.obj(Seq("env" -> Json.obj(env), "diagnostics" -> diag)).json)
    val metricsJson = Json.obj(printed.map { case (n, v, u) =>
      n -> Json.obj(Seq("value" -> v, "unit" -> u)) })
    println(Json.obj(Seq(
      "correct" -> outcome.correct,
      "attempted" -> outcome.attempted,
      "failed" -> outcome.failed,
      "metrics" -> metricsJson)).json)
    System.out.flush()
    SparkSession.getActiveSession.foreach(_.stop())
    sys.exit(if (outcome.correct) 0 else 1)
  }
}
