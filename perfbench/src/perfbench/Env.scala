package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** The one session builder and the machine facts recorded with every result. */
object Env {

  val nproc: Int = Runtime.getRuntime.availableProcessors

  /** `local[slots]` with as many shuffle partitions as task slots, UTC, UI off,
    * AQE on, and every Spark scratch path under the run's temp root. Serving
    * gates run record-only (`spark.graft.serve.sloMs=0`): their batch times
    * are measured, not asserted. */
  def session(o: Opts, slots: Int): SparkSession = {
    require(slots >= 1 && slots <= nproc, s"slots $slots outside 1..$nproc")
    val s = SparkSession.builder()
      .appName(s"perfbench-${o.workload}")
      .master(s"local[$slots]")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"${o.tmp}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.tmp}/warehouse")
      .config("spark.graft.serve.sloMs", "0")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** VmHWM of this process: the peak resident set, in MB. */
  def peakRssMb: Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:"))
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def memTotalMb: Double =
    scala.util.Try(Files.readAllLines(Paths.get("/proc/meminfo")).toArray.map(_.toString)
      .find(_.startsWith("MemTotal:")).get.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  /** Commit of the checkout, read from `.git` when there is one. */
  private def gitCommit(repo: Path): String = scala.util.Try {
    val git = repo.resolve(".git")
    val head = Files.readString(git.resolve("HEAD")).trim
    if (!head.startsWith("ref: ")) head
    else {
      val ref = head.stripPrefix("ref: ")
      val loose = git.resolve(ref)
      if (Files.exists(loose)) Files.readString(loose).trim
      else Files.readAllLines(git.resolve("packed-refs")).toArray.map(_.toString)
        .find(_.endsWith(" " + ref)).map(_.split(" ")(0)).getOrElse("unknown")
    }
  }.getOrElse("unknown")

  def describe(o: Opts): Seq[(String, Any)] = Seq(
    "workload" -> o.workload,
    "seed" -> o.seed,
    "seconds" -> o.seconds,
    "trace" -> o.trace,
    "tiny" -> o.tiny,
    "nproc" -> nproc,
    "mem_total_mb" -> memTotalMb,
    "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024.0 * 1024.0),
    "jvm" -> (sys.props("java.vm.name") + " " + sys.props("java.runtime.version")),
    "spark" -> org.apache.spark.SPARK_VERSION,
    "git_commit" -> gitCommit(Paths.get(o.home).getParent))
}

/** Minimal JSON writer for the result lines. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case r: Raw => r.json
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }).json
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  final case class Raw(json: String)
  def obj(kvs: Seq[(String, Any)]): Raw =
    Raw(kvs.map { case (k, v) => quote(k) + ":" + value(v) }.mkString("{", ",", "}"))
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Order statistics and the metric names BENCHMARK.json declares. */
object Metrics {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Names listed under `section` in the BENCHMARK.json next to the benchmark. */
  def declared(home: String, section: String): Seq[String] = {
    val f = Paths.get(home).getParent.resolve("BENCHMARK.json").toFile
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
    val it = root.get(section).elements()
    val out = Seq.newBuilder[String]
    while (it.hasNext) out += it.next().get("name").asText()
    out.result()
  }
}
