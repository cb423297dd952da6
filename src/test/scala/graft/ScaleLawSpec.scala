package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StateOperatorProgress

import graft.analytics.TimeSeries
import graft.core.Event
import graft.core.stats.PlayerStatsEngine
import graft.ext.{Bpe, Dedup, Diff}
import graft.util.Profile

/** Scale laws: each runs one operator at two sizes, c and 2c, and asserts a
  * stated growth ratio over numbers that VM weather does not move: result
  * cardinalities, `util.Profile` job and shuffle-record counts, and the
  * state store's own counters. No law reads a wall clock. Each law is also
  * stated in the scaladoc of the operator it covers. */
class ScaleLawSpec extends SparkTestBase {
  import spark.implicits._

  private def profiled[T](tag: String)(body: => T): (T, Profile.Counters) = {
    val r = Profile.tagged(spark, tag)(body)
    (r, Profile.report(spark, Seq(tag))(tag))
  }
  private def run(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    .select(col("doc_id"), col("text"))

  /** Every document `copies` times under disjoint ids: one exact-duplicate
    * class of `copies` members per document. */
  private def replicated(copies: Int): DataFrame = spark.range(copies).crossJoin(docs)
    .select((col("doc_id") + col("id") * lit(10000000L)).as("doc_id"), col("text"))

  test("LSH candidate pairs on exact-duplicate mega-classes grow as C(copies, 2)") {
    // replicas share every band: C(c, 2) pairs inside each class, and the
    // replicas of two documents that pair once pair c² ways
    val once = Dedup.minhashCandidatePairs(docs, "doc_id", "text").count()
    val bucketed = Dedup.minhashBuckets(docs, "doc_id", "text").select("doc_id").distinct().count()
    val Seq(small, large) = Seq(4, 8).map { c =>
      val pairs = Dedup.minhashCandidatePairs(replicated(c), "doc_id", "text").count()
      pairs shouldBe bucketed * c * (c - 1) / 2 + once * c * c
      pairs
    }
    large.toDouble / small should be >= 4.0 // quadratic: 3528 → 16112 at sf0.001
  }

  test("semDedup's maxClusterSize keeps one adversarial cluster's pair space linear") {
    // n vectors of one direction: one centroid takes them all and every
    // pair clears the threshold, so the edge shuffles carry the pair space
    val cent = Seq((0L, Seq(1.0, 0.0, 0.5))).toDF("cid", "v")
    def records(n: Int, cap: Int): Long = profiled(s"semdedup_${n}_$cap") {
      run(Dedup.semDedup(
        spark.range(n).select(col("id"), array(lit(1.0), col("id") * 1e-4, lit(0.5)).as("v")),
        cent, "id", "v", "cid", "v", threshold = 0.9, maxClusterSize = cap))
    }._2.shuffleWriteRecords
    def growth(cap: Int): Double = records(600, cap).toDouble / records(300, cap)
    growth(Int.MaxValue) should be > 3.5 // C(n, 2): 95541 → 371091 records
    growth(50) should be < 2.2 // ⌈n/cap⌉·C(cap, 2): 20881 → 41595
  }

  test("learnMergesBatched rounds grow slower than merges, at most 4 jobs a round") {
    val Seq((r64, j64), (r128, j128)) = Seq(64, 128).map { m =>
      val (rounds, c) = profiled(s"bpe_batched_$m") {
        Bpe.learnMergesBatched(docs, "text", m, batch = 8).agg(max("round")).head().getInt(0)
      }
      rounds should be <= 3 * m / 8 // deferrals: at most 3× the ideal merges/batch
      c.jobs should be <= 4L * rounds
      (rounds, c.jobs)
    }
    r128 should be < 2 * r64 // 15 → 24 rounds
    j128 should be < 2 * j64 // 49 → 77 jobs
  }

  test("simhash and snapshot diff shuffle exactly 2× the records at 2c, in as many jobs") {
    def diff(n: Long): DataFrame = {
      val snap = spark.range(n).select(col("id").as("k"), (col("id") % 7).as("v"))
      Diff.snapshotDiff(snap,
        snap.where(col("k") % 5 =!= 0).withColumn("v", col("v") + col("k") % 3), Seq("k"))
    }
    Seq[(String, Int => DataFrame)](
      "simhash" -> (c => Dedup.simhashTable(replicated(c), "doc_id", "text")),
      "diff" -> (c => diff(c * 1000L))).foreach { case (name, op) =>
      val Seq(small, large) = Seq(2, 4).map(c => profiled(s"${name}_$c")(run(op(c)))._2)
      small.shuffleWriteRecords should be > 0L
      large.shuffleWriteRecords shouldBe 2 * small.shuffleWriteRecords
      large.jobs shouldBe small.jobs
    }
  }

  /** The state operator's progress for `probe`, run as the batch after `warm`. */
  private def probeBatch[T: Encoder](warm: Seq[T], probe: Seq[T])(
      query: Dataset[T] => Dataset[_]): StateOperatorProgress = {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[T]
    val q = query(mem.toDS()).writeStream.outputMode("update").format("noop").start()
    try {
      mem.addData(warm); q.processAllAvailable()
      mem.addData(probe); q.processAllAvailable()
      q.lastProgress.stateOperators.head
    } finally q.stop()
  }

  test("a fixed-size probe batch does the same state-store work against 1k and 10k stored keys") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    def events(n: Int, second: Long) =
      (0 until n).map(i => Event(s"p$i", s"s$i", "kill", second, 0L, 1L))
    def points(n: Int, day: Long) =
      (0 until n).map(i => TimeSeries.DayPoint(s"k$i", day, i % 97 + 1L))
    // the ValueState fold and the MapState baseline (per-entry lookups)
    val families = Seq[Int => StateOperatorProgress](
      stored => probeBatch(events(stored, 1L), events(200, 2L))(
        PlayerStatsEngine.statefulPlayerStatsTws(_)),
      stored => probeBatch(points(stored, 0L), points(200, 1L))(
        TimeSeries.spikeStreamTws(_)))
    def work(p: StateOperatorProgress) = (p.numRowsUpdated,
      p.customMetrics.asScala("rocksdbGetCount"), p.customMetrics.asScala("rocksdbPutCount"))
    try families.foreach { family =>
      val Seq(small, large) = Seq(1000, 10000).map(family)
      large.numRowsTotal - small.numRowsTotal shouldBe 9000L
      small.numRowsUpdated shouldBe 200L
      small.customMetrics.get("rocksdbGetCount").longValue should be > 0L
      work(large) shouldBe work(small)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
