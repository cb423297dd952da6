package graft.util

import java.net.URI
import java.util.EnumSet
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{CreateFlag, FSDataOutputStream, FilterFileSystem,
  Path, RawLocalFileSystem}
import org.apache.hadoop.fs.Options.ChecksumOpt
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.ext.{Similarity, TextAnalysis}

/** A local filesystem under the `countfs` scheme that counts every
  * mutating call (create, rename, delete, mkdirs) and records the paths
  * it creates — the seam a crash-point enumerator injects faults into. */
class CountingFs extends FilterFileSystem(new CountingFs.Local) {
  import CountingFs.record

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    record("create", f)
    fs.create(f, permission, overwrite, bufferSize, replication, blockSize,
      progress)
  }
  override def create(f: Path, permission: FsPermission,
      flags: EnumSet[CreateFlag], bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable,
      checksumOpt: ChecksumOpt): FSDataOutputStream = {
    record("create", f)
    fs.create(f, permission, flags, bufferSize, replication, blockSize,
      progress, checksumOpt)
  }
  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: EnumSet[CreateFlag], bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    record("create", f)
    fs.createNonRecursive(f, permission, flags, bufferSize, replication,
      blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    record("rename", src)
    fs.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    record("delete", f)
    fs.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    record("mkdirs", f)
    fs.mkdirs(f, permission)
  }
  override def mkdirs(f: Path): Boolean = mkdirs(f, FsPermission.getDirDefault)
}

object CountingFs {
  val Scheme = "countfs"

  class Local extends RawLocalFileSystem {
    override def getUri: URI = URI.create(s"$Scheme:///")
    override def getScheme: String = Scheme
  }

  private val counts = new ConcurrentHashMap[String, AtomicLong]()
  /** local paths of every file created through the wrapper */
  val created: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()

  private def record(op: String, f: Path): Unit = {
    counts.computeIfAbsent(op, _ => new AtomicLong()).incrementAndGet()
    if (op == "create") created.add(f.toUri.getPath)
  }
  def count(op: String): Long =
    Option(counts.get(op)).map(_.get).getOrElse(0L)
  def reset(): Unit = { counts.clear(); created.clear() }
}

/** The delta-store laws, run as ONE table over both store instances: the
  * vector index (latest-wins merge, ids may be re-ingested) and the
  * postings store (additive merge, disjoint ids). Every law states the
  * served content against a from-scratch expectation. */
class DeltaStoreSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** A delta is (batch id, item ids). */
  private type Deltas = Seq[(Long, Seq[Long])]

  /** One store instance under the shared laws. */
  private trait StoreCase {
    def name: String
    /** ids may be re-ingested by a later delta (latest-wins) */
    def upserts: Boolean
    def ingest(root: String, b: Long, ids: Seq[Long]): Unit
    def writeFlat(root: String): Unit
    /** everything the store (or a generation) serves, canonically ordered */
    def served(root: String): Map[String, Seq[Row]]
    /** what serving exactly these deltas must return, built from scratch */
    def expected(deltas: Deltas): Map[String, Seq[Row]]
    def maintain(root: String, maxDeltas: Int, tombstones: Seq[Long] = Nil,
        dropBelow: Option[Long] = None): Boolean
    def publish(root: String, genRoot: String, onlyBelow: Option[Long]): Boolean
    def deltas(root: String): Seq[Long]
  }

  private object IndexCase extends StoreCase {
    val name = "index store"
    val upserts = true
    lazy val corpus = (1 to 60).map(i =>
      (i.toLong, Array.tabulate(4)(j => ((i * 17 + j * 11) % 15 - 7).toFloat)))
      .toDF("id", "v")
    lazy val cents = Seq(
      (0L, Array(3.0f, 3.0f, 3.0f, 3.0f)),
      (1L, Array(-3.0f, -3.0f, -3.0f, -3.0f))).toDF("cid", "v")
    /** even batches encode under one codebook, odd ones under another, so
      * a re-ingested id really changes its codes */
    lazy val codebooks = Seq(7, 11).map(stride => Similarity.pqCodebookByStride(
      Similarity.residuals(corpus, cents, "id", "cid", "v"),
      "id", "res", m = 2, subDim = 2, stride = stride).localCheckpoint())
    def encode(b: Long, ids: Seq[Long]): DataFrame =
      Similarity.residualIndex(corpus.where(col("id").isin(ids: _*)), cents,
        codebooks((b % 2).toInt), "id", "cid", "v", m = 2, subDim = 2)
    def ingest(root: String, b: Long, ids: Seq[Long]): Unit =
      Similarity.idempotentIndexSink(root)(encode(b, ids), b)
    def writeFlat(root: String): Unit =
      encode(0L, 1L to 10L).write.parquet(root)
    def served(root: String) = Map("index" ->
      Similarity.readIndexStore(spark, root).orderBy("n_id").collect().toSeq)
    def expected(deltas: Deltas) = {
      val winner = deltas.flatMap { case (b, ids) => ids.map(_ -> b) }
        .groupMapReduce(_._1)(_._2)(math.max)
      Map("index" -> deltas.map { case (b, ids) =>
          encode(b, ids.filter(winner(_) == b)) }
        .reduce(_ unionByName _).orderBy("n_id").collect().toSeq)
    }
    def maintain(root: String, maxDeltas: Int, tombstones: Seq[Long],
        dropBelow: Option[Long]) =
      Similarity.maintainIndexStore(spark, root, maxDeltas, cap = 5L,
        tombstones = if (tombstones.isEmpty) null else tombstones.toDF("n_id"),
        dropBelow = dropBelow)
    def publish(root: String, genRoot: String, onlyBelow: Option[Long]) =
      Similarity.indexStore(cap = 5L).publish(spark, root, genRoot, onlyBelow)
    def deltas(root: String) = Similarity.indexStoreDeltas(spark, root)
  }

  /** @param vectors whether the store carries a vector side (for even ids
    *        only) or is lexical-only */
  private class PostingsCase(vectors: Boolean) extends StoreCase {
    val name = if (vectors) "postings store" else "lexical postings"
    val upserts = false
    private val (embId, vec) =
      if (vectors) ("vec_id", "embedding") else (null, null)
    private val vocab = Seq("spark", "joins", "fast", "slow", "scans", "beat")
    lazy val docs = (0 to 60).map(i => (i.toLong,
      (0 until 3).map(k => vocab((i * 7 + k * 3 + i / 5) % vocab.size))
        .mkString(" "))).toDF("doc_id", "text")
    lazy val emb = (0 to 60 by 2).map(i =>
      (i.toLong, Array.tabulate(2)(j => ((i * 31 + j * 7) % 13 - 6).toFloat)))
      .toDF("vec_id", "embedding")
    def prepared(ids: Seq[Long]) = TextAnalysis.prepareHybridCorpus(
      docs.where(col("doc_id").isin(ids: _*)), "doc_id", "text",
      if (vectors) emb.where(col("vec_id").isin(ids: _*)) else null, embId, vec)
    def ingest(root: String, b: Long, ids: Seq[Long]): Unit =
      TextAnalysis.writeHybridCorpusDelta(prepared(ids), root, Some(b))
    def writeFlat(root: String): Unit =
      TextAnalysis.writeHybridCorpusDelta(prepared(0L to 10L), root)
    private def frames(hc: TextAnalysis.HybridCorpus) = Map(
      "toks" -> hc.toks.orderBy("doc_id", "t").collect().toSeq,
      "dl" -> hc.dl.orderBy("doc_id").collect().toSeq,
      "stats" -> hc.stats.collect().toSeq,
      "alldf" -> hc.alldf.orderBy("t").collect().toSeq) ++
      Option.when(vectors)("emb" -> hc.emb.orderBy("vec_id").collect().toSeq)
    def served(root: String) = frames(TextAnalysis.readHybridCorpus(spark,
      root, "doc_id", "text", embId, vec))
    def expected(deltas: Deltas) = frames(prepared(deltas.flatMap(_._2)))
    def maintain(root: String, maxDeltas: Int, tombstones: Seq[Long],
        dropBelow: Option[Long]) =
      TextAnalysis.maintainHybridStore(spark, root, maxDeltas,
        "doc_id", "text", embId, vec,
        tombstones = if (tombstones.isEmpty) null else tombstones.toDF("doc_id"),
        dropBelow = dropBelow)
    def publish(root: String, genRoot: String, onlyBelow: Option[Long]) =
      TextAnalysis.publishHybridGeneration(spark, root, genRoot,
        "doc_id", "text", embId, vec, deltaBelow = onlyBelow)
    def deltas(root: String) = Similarity.indexStoreDeltas(spark, s"$root/stats")
  }

  private def genFs(genRoot: String) =
    new Path(genRoot).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** `ids` plus, for a store that takes upserts, re-ingests of `again` */
  private def plus(c: StoreCase, ids: Seq[Long], again: Long*): Seq[Long] =
    if (c.upserts) ids ++ again else ids

  for (c <- Seq[StoreCase](IndexCase, new PostingsCase(vectors = true),
      new PostingsCase(vectors = false))) {

    test(s"${c.name}: threshold no-op, then consolidate and swap") {
      val root = tmp("graft_ds_maint")
      val d = Seq(0L -> (1L to 30L), 1L -> plus(c, 31L to 40L, 5L, 10L, 15L))
      d.foreach { case (b, ids) => c.ingest(root, b, ids) }
      val want = c.expected(d)
      c.served(root) shouldBe want
      if (c.upserts) // the re-ingested ids really change: latest-wins shows
        c.expected(Seq(d(0), 1L -> (31L to 40L))) should not be want
      c.maintain(root, maxDeltas = 2) shouldBe false
      c.deltas(root) shouldBe Seq(0L, 1L)
      c.maintain(root, maxDeltas = 1) shouldBe true
      c.deltas(root) shouldBe Seq(1L)
      c.served(root) shouldBe want
      c.maintain(root, maxDeltas = 1) shouldBe false
    }

    test(s"${c.name}: retention forces a cycle, refuses an empty window") {
      val root = tmp("graft_ds_retain")
      val d = (0L to 2L).map(b => b -> (1L to 30L).filter(_ % 3 == b))
      d.foreach { case (b, ids) => c.ingest(root, b, ids) }
      // an all-covering window under the count threshold: no cycle
      c.maintain(root, maxDeltas = 5, dropBelow = Some(0L)) shouldBe false
      // an aged delta forces the cycle below the count threshold
      c.maintain(root, maxDeltas = 5, dropBelow = Some(1L)) shouldBe true
      c.deltas(root) shouldBe Seq(2L)
      val want = c.expected(d.drop(1))
      c.served(root) shouldBe want
      an[IllegalArgumentException] should be thrownBy
        c.maintain(root, maxDeltas = 1, dropBelow = Some(99L))
      c.served(root) shouldBe want
    }

    test(s"${c.name}: tombstones are erased at compaction") {
      val root = tmp("graft_ds_tomb")
      val d = Seq(0L -> (1L to 20L).filter(_ % 2 == 0),
        1L -> (1L to 20L).filter(_ % 2 == 1), 2L -> plus(c, 21L to 26L, 4L))
      c.ingest(root, 0L, d(0)._2); c.ingest(root, 1L, d(1)._2)
      c.maintain(root, maxDeltas = 1) shouldBe true
      c.ingest(root, 2L, d(2)._2)
      val dead = Seq(1L, 3L, 4L, 22L)
      c.maintain(root, maxDeltas = 1, tombstones = dead) shouldBe true
      c.deltas(root) shouldBe Seq(2L)
      c.served(root) shouldBe
        c.expected(d.map { case (b, ids) => b -> ids.diff(dead) })
    }

    test(s"${c.name}: incremental publish equals one full consolidation") {
      val live = tmp("graft_ds_live")
      val genRoot = tmp("graft_ds_gens")
      val fs = genFs(genRoot)
      val d = Seq(0L -> (1L to 10L), 1L -> plus(c, 11L to 20L, 3L),
        2L -> plus(c, 21L to 30L, 3L, 12L))
      d.foreach { case (b, ids) => c.ingest(live, b, ids) }
      c.publish(live, genRoot, Some(0L)) shouldBe false // nothing committed
      GenStore.current(fs, genRoot) shouldBe None
      c.publish(live, genRoot, Some(1L)) shouldBe true // full: no previous
      GenStore.current(fs, genRoot) shouldBe Some(0L)
      c.publish(live, genRoot, Some(2L)) shouldBe true // incremental
      c.publish(live, genRoot, Some(2L)) shouldBe false // pointer not lagging
      c.publish(live, genRoot, None) shouldBe true
      GenStore.current(fs, genRoot) shouldBe Some(2L)
      val gen = GenStore.currentPath(fs, genRoot).get.toString
      c.deltas(gen) shouldBe Seq(0L, 1L, 2L) // one chunk per publish
      val full = tmp("graft_ds_full")
      c.publish(live, full, None) shouldBe true
      c.deltas(GenStore.currentPath(fs, full).get.toString) shouldBe Seq(2L)
      c.served(gen) shouldBe c.served(GenStore.currentPath(fs, full).get.toString)
      c.served(gen) shouldBe c.expected(d)
    }

    test(s"${c.name}: a k-chunk generation serves exactly as its full rewrite") {
      val live = tmp("graft_ds_klive")
      val genRoot = tmp("graft_ds_kgens")
      val fs = genFs(genRoot)
      val steps = DeltaStore.MaxChunks + 2
      val d = (0 until steps).map(b => b.toLong ->
        plus(c, (b * 5 + 1).toLong to (b * 5 + 5).toLong, 2L, (b * 5 - 1).toLong)
          .filter(_ > 0).distinct)
      d.foreach { case (b, ids) =>
        c.ingest(live, b, ids)
        c.publish(live, genRoot, None) shouldBe true
        val gen = GenStore.currentPath(fs, genRoot).get.toString
        // chunks grow to the cap, then the next publish rewrites in full
        val k = c.deltas(gen).size
        k shouldBe
          (if (b < DeltaStore.MaxChunks) b + 1 else b - DeltaStore.MaxChunks + 1)
        c.served(gen) shouldBe c.expected(d.take(b.toInt + 1))
        if (k == DeltaStore.MaxChunks) { // the fullest generation vs a rewrite
          val full = tmp("graft_ds_kfull")
          c.publish(live, full, None) shouldBe true
          c.deltas(GenStore.currentPath(fs, full).get.toString) shouldBe Seq(b)
          c.served(gen) shouldBe
            c.served(GenStore.currentPath(fs, full).get.toString)
        }
      }
    }

    test(s"${c.name}: a bare-append (flat) store is refused, never skipped") {
      val root = tmp("graft_ds_flat") + "/store"
      c.writeFlat(root)
      an[IllegalArgumentException] should be thrownBy
        c.maintain(root, maxDeltas = 1, dropBelow = Some(1L))
      an[IllegalArgumentException] should be thrownBy
        c.maintain(root, maxDeltas = 1)
      an[IllegalArgumentException] should be thrownBy
        c.publish(root, tmp("graft_ds_flatgen"), None)
    }

    test(s"${c.name}: maintain and publish mutate only through Hadoop FS") {
      spark.sparkContext.hadoopConfiguration
        .set(s"fs.${CountingFs.Scheme}.impl", classOf[CountingFs].getName)
      val base = s"${CountingFs.Scheme}://${tmp("graft_ds_countfs")}"
      val (live, genRoot) = (s"$base/live", s"$base/gens")
      (0L to 2L).foreach(b => c.ingest(live, b, (b * 10 + 1) to (b * 10 + 10)))
      c.publish(live, genRoot, Some(2L)) shouldBe true
      CountingFs.reset()
      c.publish(live, genRoot, None) shouldBe true // incremental: copies gen 1
      // every file of the copied chunk was created through the wrapper
      val gen = new Path(GenStore.currentPath(genFs(genRoot), genRoot).get
        .toUri.getPath)
      val copied = java.nio.file.Files.walk(java.nio.file.Paths.get(gen.toString))
        .toArray.map(_.toString).filter(p =>
          p.contains("/delta=1/") && new java.io.File(p).isFile).toSeq
      copied should not be empty
      copied.foreach { p =>
        CountingFs.created should contain(p.replace("/gen=2/", "/gen=2.staging/"))
      }
      CountingFs.reset()
      c.maintain(live, maxDeltas = 1) shouldBe true
      Seq("create", "rename", "delete", "mkdirs").foreach { op =>
        withClue(s"$op calls in one maintain cycle: ") {
          CountingFs.count(op) should be > 0L
        }
      }
    }
  }
}
