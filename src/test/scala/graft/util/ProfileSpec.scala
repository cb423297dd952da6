package graft.util

import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.{SparkEntry, SparkTestBase}

class ProfileSpec extends SparkTestBase {

  private def profiled(tag: String)(body: => Unit): Profile.Counters = {
    Profile.tagged(spark, tag)(body)
    Profile.report(spark, Seq(tag))(tag)
  }
  private def counts(c: Profile.Counters) = (c.jobs, c.stages, c.tasks)

  test("a catalog query's job, stage and task counts repeat exactly across runs") {
    def run(tag: String) = profiled(tag) {
      SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    }
    run("catalog_warm") // the first read infers the fixture schema
    val a = run("catalog_a")
    val b = run("catalog_b")
    a.jobs should be > 0L
    a.tasks should be >= a.stages
    counts(b) shouldBe counts(a)
    a.phaseMs.keySet should contain allOf ("analysis", "optimization", "planning")
    a.gapMs should (be >= 0L and be <= a.wallMs)
  }

  test("jobs started from Par branches are attributed to the tag") {
    def job(n: Long): () => Unit = () => { spark.range(n).selectExpr("id % 3 AS k")
      .groupBy("k").count().collect(); () }
    val sequential = profiled("par_sequential") { job(100)(); job(200)() }
    val branches = profiled("par_branches") { Par.run(Seq(job(100), job(200))) }
    sequential.jobs should be > 0L
    counts(branches) shouldBe counts(sequential)
  }

  test("jobs started from a streaming foreachBatch are attributed to the tag") {
    // StreamExecution overwrites the job group with its run id; the tag
    // property survives because the stream thread inherits it
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Long]
    mem.addData(1L to 100L)
    val batchJobs = new java.util.concurrent.atomic.AtomicLong()
    val ckpt = java.nio.file.Files.createTempDirectory("graft_profile_spec_")
    try {
      val c = profiled("stream") {
        mem.toDF().writeStream
          .foreachBatch((b: Dataset[Row], _: Long) => {
            b.count(); batchJobs.incrementAndGet(); () })
          .option("checkpointLocation", ckpt.toString)
          .trigger(Trigger.AvailableNow()).start().awaitTermination()
      }
      batchJobs.get should be > 0L
      c.jobs should be >= batchJobs.get
    } finally Fs.deleteRecursively(ckpt)
  }

  test("installing the profiler again does not double any count") {
    def run(tag: String) = profiled(tag) {
      spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().collect(); ()
    }
    val once = run("install_once")
    Profile.install(spark) should be theSameInstanceAs Profile.install(spark)
    val again = run("install_again")
    counts(again) shouldBe counts(once)
    again.phaseMs.keySet shouldBe once.phaseMs.keySet
  }
}
