package graft

/** Test-scope profiling main (never ships in the library jar): runs catalog
  * queries one after another in a runner session and prints one JSON line
  * per query with its wall time and its [[graft.util.Profile]] counters.
  * Each argument is a spec:
  *   - `name` runs the query on `SPARK_GRAFT_SF_DIR`;
  *   - `sf0.01:name` runs it on that scale factor's fixture dir, a sibling
  *     of `SPARK_GRAFT_SF_DIR`;
  *   - `explain:name` or `explain:sf0.01:name` also prints the formatted
  *     plan of every SQL execution the query ran, gates' serve plans
  *     included.
  * A spec runs as often as it is given, so pass it twice for a cold/warm
  * pair. Run via
  * `SPARK_GRAFT_SF_DIR=<fixtures>/sf0.1 sbt "Test/runMain graft.Profile sf0.01:q01_pricing_summary"`. */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("SPARK_GRAFT_SF_DIR names the fixture dir"))
    // record-only serving SLO (as in graft.Bench): a busy host must not
    // fail a serving gate mid-run and cut its job counts short
    val spark = graft.util.Sessions.build(Seq("spark.graft.serve.sloMs" -> "0"))
    args.zipWithIndex.foreach { case (spec, i) =>
      val explain = spec.startsWith("explain:")
      val (dir, name) = spec.stripPrefix("explain:").split(":") match {
        case Array(sf, n) => (new java.io.File(new java.io.File(sfDir).getParentFile, sf).getPath, n)
        case Array(n)     => (sfDir, n)
      }
      val tag = s"$spec#$i"
      val ok = graft.util.Profile.tagged(spark, tag, explain) {
        try { SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable => System.err.println(s"[profile] $spec failed: $e"); false }
      }
      graft.util.Caches.releaseAll() // outside the profiled span, as in Bench
      graft.util.Profile.report(spark, Seq(tag)).get(tag).foreach { c =>
        c.plans.zipWithIndex.foreach { case (p, k) =>
          println(s"===== $spec: SQL execution ${k + 1} of ${c.plans.size} =====\n$p") }
        println(s"""{"spec":"$spec","ok":$ok,""" + c.json.drop(1))
      }
    }
    spark.stop()
  }
}
