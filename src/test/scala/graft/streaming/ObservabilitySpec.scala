package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.SparkTestBase

class ObservabilitySpec extends SparkTestBase {
  import spark.implicits._

  test("observeBatch computes exact inline metrics during the action's single pass") {
    val df = Seq((1L, 10.0), (2L, -5.0), (3L, 7.5)).toDF("id", "v")
    var rows = 0L
    val m = Observability.observeBatch(df, "gate",
      Seq(count(lit(1)).as("n"), sum(col("v")).as("total"),
        count(when(col("v") < 0, 1)).as("n_negative"))) { observed =>
      rows = observed.count()
    }
    rows shouldBe 3L
    m("n") shouldBe 3L
    m("total") shouldBe 12.5
    m("n_negative") shouldBe 1L
  }

  test("observeBatch leaves no listener that logs a later query's optimizer failure") {
    // a listener that rethrows a failed plan's error is logged by Spark's
    // ExecutionListenerBus as an ERROR with a stack trace
    val busErrors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new org.apache.logging.log4j.core.appender.AbstractAppender(
        "graft-bus-errors", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
        if (e.getLevel == org.apache.logging.log4j.Level.ERROR)
          busErrors.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val busLog = org.apache.logging.log4j.LogManager
      .getLogger("org.apache.spark.sql.util.ExecutionListenerBus")
      .asInstanceOf[org.apache.logging.log4j.core.Logger]
    // registered after observeBatch's run, so its onFailure runs after any
    // listener the run left behind: the failure has been delivered to all
    val delivered = new java.util.concurrent.CountDownLatch(1)
    val probe = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit = ()
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit =
        delivered.countDown()
    }
    Observability.observeBatch(Seq(1L, 2L).toDF("v"), "gate",
      Seq(count(lit(1)).as("n")))(_.count()) shouldBe Map("n" -> 2L)
    busLog.addAppender(appender)
    spark.listenerManager.register(probe)
    try {
      // constant folding evaluates the out-of-bounds element_at, so the
      // query fails while it is optimized
      intercept[Exception] {
        spark.range(1).select(element_at(array(lit(1)), 5).as("x")).collect()
      }
      delivered.await(60, java.util.concurrent.TimeUnit.SECONDS) shouldBe true
      busErrors.toArray.toSeq shouldBe empty
    } finally {
      spark.listenerManager.unregister(probe)
      busLog.removeAppender(appender)
      appender.stop()
    }
  }

  test("guardedForeachBatch halts the query when a batch violates the invariant") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Long]
    val written = scala.collection.mutable.ArrayBuffer[Long]()
    val q = mem.toDS().toDF("v").writeStream
      .outputMode("append")
      .foreachBatch(Observability.guardedForeachBatch(
        metrics = Seq(count(when(col("v") < 0, 1)).as("n_negative")),
        invariant = m => m("n_negative") == 0L) { (df, _) =>
        written.synchronized { written ++= df.select("v").as[Long].collect() }
      })
      .start()
    try {
      mem.addData(1L, 2L, 3L) // clean batch: passes
      q.processAllAvailable()
      written.toSet shouldBe Set(1L, 2L, 3L)

      mem.addData(4L, -9L) // poisoned batch: guard must fail the query
      val e = intercept[StreamingQueryException] { q.processAllAvailable() }
      e.getCause.getMessage should include("invariant violated")
      // the write ran before the guard (metrics ride the write's pass);
      // idempotentJdbcAppend's replay-delete is what reverses it on restart
      written.toSet shouldBe Set(1L, 2L, 3L, 4L, -9L)
    } finally q.stop()
  }

  test("gateServeSlo: conf sloMs=0 is record-only; unset conf asserts the intrinsic budget") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Long]
    val q = mem.toDS().toDF("v").writeStream
      .outputMode("append").format("noop").start()
    try {
      mem.addData(1L, 2L, 3L); q.processAllAvailable()
      mem.addData(4L, 5L); q.processAllAvailable()
      mem.addData(6L); q.processAllAvailable()
      // record-only session (Bench's timed passes): a 0 ms budget that
      // every real batch would blow must NOT throw, and durations +
      // intrinsic budget must land in the records for post-hoc grading
      val s0 = spark.newSession()
      s0.conf.set("spark.graft.serve.sloMs", "0")
      val durs = Observability.gateServeSlo("slo_test_gate", q, budgetMs = 1, s0)
      durs.size should be >= 2
      Observability.batchDurationRecord("slo_test_gate") shouldBe durs
      Observability.serveBudgetRecord("slo_test_gate") shouldBe 1L
      // unset conf (production default): the gate self-asserts at its
      // intrinsic budget — 1 ms must trip on any real batch
      val e = intercept[IllegalArgumentException] {
        Observability.gateServeSlo("slo_test_gate", q, budgetMs = 1, spark)
      }
      e.getMessage should include("serving SLO violated")
      // a generous intrinsic budget passes and re-records
      Observability.gateServeSlo("slo_test_gate", q,
        budgetMs = 600000L, spark) shouldBe durs
      Observability.serveBudgetRecord("slo_test_gate") shouldBe 600000L
    } finally q.stop()
  }

  test("streaming observed metrics arrive in progress events via the collector") {
    val collector = new Observability.ObservedMetricsCollector("stream_gate")
    spark.streams.addListener(collector)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Long]
    val q = mem.toDS().toDF("v")
      .observe("stream_gate", count(lit(1)).as("n"), sum(col("v")).as("total"))
      .writeStream.outputMode("append").format("noop").start()
    try {
      mem.addData(5L, 6L, 7L)
      q.processAllAvailable()
      val metric = collector.collected.find(_.getAs[Long]("n") == 3L)
      metric.isDefined shouldBe true
      metric.get.getAs[Long]("total") shouldBe 18L
    } finally {
      q.stop()
      spark.streams.removeListener(collector)
    }
  }
}
