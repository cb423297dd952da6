package graft.util

import org.apache.spark.sql.SparkSession

/** The one session builder of the runners (Bench, Verify, the test
  * session and the `graft.Profile` main). It sets the confs every runner
  * shares, installs [[Profile]] on the SparkContext, and leaves only the
  * runner's own conf pairs to the caller:
  *   - `local[slots]` with `spark.sql.shuffle.partitions` = slots;
  *   - session time zone UTC (the catalog's epoch arithmetic assumes it);
  *   - no UI;
  *   - `nanosAsLong`, so int64-nanos `events.parquet` fixtures read as long;
  *   - AQE on;
  *   - streaming checkpoints through [[LocalFsCheckpointFileManager]]: on a
  *     local disk no checkpoint file forks a process (`readlink`, `chmod`),
  *     other schemes keep Spark's default manager.
  * Library code never builds a session: it runs on the caller's. */
object Sessions {

  /** `SPARK_GRAFT_CPUS`, else the cores the JVM sees — read once. */
  lazy val slots: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def build(
      confs: Seq[(String, String)] = Nil,
      slots: Int = Sessions.slots,
      logLevel: String = "WARN"): SparkSession = {
    val common = Seq(
      "spark.sql.shuffle.partitions" -> slots.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.adaptive.enabled" -> "true",
      LocalFsCheckpointFileManager.Key -> classOf[LocalFsCheckpointFileManager].getName)
    val spark = (common ++ confs).foldLeft(
      SparkSession.builder().master(s"local[$slots]")) { case (b, (k, v)) =>
      b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    Profile.install(spark)
    spark
  }
}
