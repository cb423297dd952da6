package graft.util

import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The ONE lifecycle of graft's batch-addressed serving stores — the
  * residual-IVFADC vector index ([[graft.ext.Similarity.indexStore]]) and
  * the BM25 postings store ([[graft.ext.TextAnalysis.postingsStore]]).
  * Both land each micro-batch as a replay-idempotent `delta=<batchId>`
  * (overwrite under the batch id — foreachBatch is at-least-once, so a
  * replay rewrites its own attempt), and both run the same state machine
  * over that layout:
  *
  *  - the ingest clock: one FS listing of the `clock` dir's delta ids —
  *    durable store metadata, never an external counter, no data read;
  *  - the committed cut (`onlyBelow`: at the `beforeBatch(b)` seam every
  *    delta below b is committed and no replay can rewrite it) and the
  *    retention window (`dropBelow`: older deltas age out), which refuses
  *    to empty the store;
  *  - [[maintain]]: the count-threshold consolidation, installed in place
  *    by [[StoreSwap]] (sequenced readers);
  *  - [[publish]]: the generation publish by [[GenStore]] (concurrent
  *    readers) — the previous generation copied through Hadoop FS plus
  *    the uncovered deltas as one chunk, or a full rewrite once the
  *    previous generation holds [[MaxChunks]] chunks;
  *  - [[DeltaStore.sink]]: the batch-addressed foreachBatch sink with its
  *    `beforeBatch`/`afterBatch` hooks.
  *
  * A store supplies only its MERGE step, which writes the consolidation
  * of the given deltas (oldest first, never empty) of `root` as ONE chunk
  * batch-addressed at their max id under `out`, erasing `tombstones`
  * (a bare-id frame, or null). The index merges latest-wins (a later
  * chunk carries a higher id, so `max_by(delta)` stays correct across
  * chunks); the postings store re-reduces additively (per-delta doc ids
  * are disjoint, so chunks sum). Either way a chunked generation serves
  * exactly like its full rewrite.
  *
  * A store is either maintained in place or published to generations:
  * a consolidated delta re-labels older deltas with a newer id, which an
  * incremental publish would then count again.
  *
  * @param clock the subdirectory of a store (and of a generation) whose
  *        `delta=` dirs are its ingest clock; "" is the root itself */
private[graft] final case class DeltaStore(clock: String,
    merge: (SparkSession, String, Seq[Long], DataFrame, String) => Unit) {

  import DeltaStore._

  private def clockDir(root: String): Path =
    if (clock.isEmpty) new Path(root) else new Path(root, clock)

  /** The committed deltas (below `onlyBelow`), loud on a bare-append
    * (flat) store: it holds data but no delta dirs, so it was never
    * batch-addressed and no cycle over it can be correct — a wiring bug,
    * not a no-op. A store not written yet lists empty. */
  private def committed(fs: FileSystem, root: String,
      onlyBelow: Option[Long]): Seq[Long] = {
    val dir = clockDir(root)
    val listed = listDeltas(fs, dir)
    require(listed.nonEmpty || !fs.exists(dir) ||
        fs.listStatus(dir).forall { st =>
          val n = st.getPath.getName
          n.startsWith("_") || n.startsWith(".")
        },
      s"a delta store needs a batch-addressed store (delta=<id> layout), " +
        s"found a bare-append store at $root")
    listed.filter(d => onlyBelow.forall(d < _))
  }

  /** One maintenance cycle: repair any interrupted swap, then — iff the
    * committed window holds more than `maxDeltas` deltas, or retention
    * ages any out — merge the window into ONE delta at its max id, write
    * it completely into the swap staging dir and install it by
    * [[StoreSwap]]. Deltas at/above `onlyBelow` (a doomed partial of the
    * in-flight batch) and below `dropBelow` leave with the swap.
    * @return true iff the cycle fired and the store root was swapped */
  def maintain(spark: SparkSession, root: String, maxDeltas: Int,
      tombstones: DataFrame = null, onlyBelow: Option[Long] = None,
      dropBelow: Option[Long] = None): Boolean = {
    require(maxDeltas >= 1, s"maxDeltas must be >= 1, got $maxDeltas")
    val fs = fsOf(spark, root)
    StoreSwap.recover(fs, root)
    // evaluated post-recovery, off the repaired root's own layout
    val all = committed(fs, root, onlyBelow)
    val window = all.filter(d => dropBelow.forall(d >= _))
    require(window.nonEmpty || all.isEmpty,
      s"retention window dropBelow=${dropBelow.get} would empty the " +
        s"store at $root — refusing to age out every delta")
    if (window.size <= maxDeltas && window.size == all.size) false
    else {
      val staging = StoreSwap.begin(fs, root)
      merge(spark, root, window, tombstones, staging.toString)
      StoreSwap.commit(fs, root)
      true
    }
  }

  /** Publish the committed prefix of `root` as generation `<max id>` under
    * `genRoot` iff the pointer lags it. The new generation is the previous
    * one copied through Hadoop FS plus ONE chunk merged from only the
    * deltas it does not cover — work proportional to the new data; once
    * the previous generation holds [[MaxChunks]] chunks the publish
    * rewrites every committed delta instead, so serve cost stays bounded.
    * @return true iff a new generation was published */
  def publish(spark: SparkSession, root: String, genRoot: String,
      onlyBelow: Option[Long] = None): Boolean = {
    val done = committed(fsOf(spark, root), root, onlyBelow)
    if (done.isEmpty) false
    else {
      val fs = fsOf(spark, genRoot)
      GenStore.cycle(fs, genRoot, gen = done.max) {
        GenStore.current(fs, genRoot).forall(_ < done.max)
      } { out =>
        def genDir(g: Long) = GenStore.generationPath(genRoot, g)
        GenStore.current(fs, genRoot).filter(g =>
          listDeltas(fs, clockDir(genDir(g).toString)).size < MaxChunks)
        match {
          case Some(g) =>
            copyInto(fs, genDir(g), out)
            merge(spark, root, done.filter(_ > g), null, out.toString)
          case None =>
            merge(spark, root, done, null, out.toString)
        }
      }
    }
  }
}

private[graft] object DeltaStore {

  /** A generation holding this many chunks is rewritten in full by the
    * next publish. */
  val MaxChunks = 4

  private def fsOf(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The `delta=<id>` dir ids under `dir`, oldest first. */
  def listDeltas(fs: FileSystem, dir: Path): Seq[Long] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .filter(_.isDirectory).map(_.getPath.getName)
      .collect { case n if n.startsWith("delta=") =>
        n.stripPrefix("delta=").toLong }
      .sorted

  /** Copy the CONTENTS of directory `src` into directory `dst` (created
    * if missing). Every mkdirs and file create goes through `fs`, so the
    * copy works on any Hadoop filesystem and any FS wrapper sees it. */
  def copyInto(fs: FileSystem, src: Path, dst: Path): Unit = {
    fs.mkdirs(dst)
    FileUtil.copy(fs, fs.listStatus(src).map(_.getPath), fs, dst,
      false, true, fs.getConf)
  }

  /** The batch-addressed foreachBatch sink: `write` lands the batch under
    * `delta=<batchId>` with overwrite semantics, so a replay (same id,
    * same content) overwrites its own earlier attempt.
    * @param beforeBatch runs BEFORE the delta write — where maintenance
    *        and publish compose in with `onlyBelow = Some(batchId)`: every
    *        delta below the batch id is committed here, and the batch's
    *        own delta, the only replayable one, does not exist yet
    * @param afterBatch runs after the delta is durable but BEFORE the
    *        offset commit — metrics and crash injection. A compaction here
    *        would fold an uncommitted delta that a replay then rewrites */
  def sink(afterBatch: Long => Unit, beforeBatch: Long => Unit)(
      write: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
    (batch, batchId) => {
      beforeBatch(batchId)
      write(batch, batchId)
      afterBatch(batchId)
    }
}
