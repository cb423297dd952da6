package graft.util

import org.apache.hadoop.fs.{FileSystem, Path}

/** Crash-recoverable directory swap for store maintenance (the
  * compaction cycle of [[DeltaStore.maintain]]): the consolidated
  * store is WRITTEN COMPLETELY to a sibling staging dir before any
  * rename, then installed by a fixed-order protocol whose every
  * intermediate state is mechanically recoverable —
  *
  *   1. write `<root>.compacting` (the staging dir) + a `_SWAP_READY`
  *      marker once the write is complete
  *   2. rename `<root>` → `<root>.old`
  *   3. rename `<root>.compacting` → `<root>`
  *   4. delete `<root>.old`
  *
  * A crash BEFORE step 2 leaves the original store untouched (staging is
  * garbage, reclaimed on the next cycle). A crash between 2 and 3 leaves
  * no root — [[recover]] detects the marker-complete staging and
  * finishes steps 3-4. A crash between 3 and 4 leaves a stale `.old` —
  * recover deletes it. The marker distinguishes a COMPLETE staging from
  * one whose write job died mid-flight: without it, recovery could
  * install a half-written store. [[recover]] runs at the top of every
  * maintenance cycle (single-writer: maintenance composes into the
  * ingest's sequential afterBatch seam).
  *
  * CONCURRENCY CONTRACT: single writer AND no concurrent readers during
  * the swap — between steps 2 and 3 there is no root at all, so a reader
  * racing the swap (a serve loop running alongside maintenance) hits
  * path-not-found. Use this protocol only where reads and maintenance
  * are sequenced through one seam (the in-loop `beforeBatch` placement
  * the lifecycle gates pin). When a live serve must keep answering
  * across maintenance, use [[GenStore]] — the generation-pointer layout
  * whose flip is one atomic marker create and whose readers always
  * resolve a complete store; it is the manifest-pointer form this
  * protocol's portable-filesystem design stands in for.
  */
object StoreSwap {

  private val Marker = "_SWAP_READY"

  def stagingPath(root: String) = new Path(root + ".compacting")
  def oldPath(root: String) = new Path(root + ".old")

  /** Begin a cycle: clear any stale staging dir and return it for the
    * consolidated-store write. Call [[commit]] after the staging write
    * completes. PRECONDITION: [[recover]] already ran this cycle (the
    * maintenance entry points run it before they LIST the store, so a
    * repaired root is what gets compacted — begin does not repeat the
    * existence probes). */
  def begin(fs: FileSystem, root: String): Path = {
    val staging = stagingPath(root)
    fs.delete(staging, true)
    staging
  }

  /** Install a COMPLETELY WRITTEN staging dir as the new store root
    * (steps 1b-4 above). */
  def commit(fs: FileSystem, root: String): Unit = {
    val staging = stagingPath(root)
    val old = oldPath(root)
    require(fs.exists(staging), s"commit without a staged store at $staging")
    fs.create(new Path(staging, Marker), true).close() // step 1b
    fs.delete(old, true)
    require(fs.rename(new Path(root), old), s"swap step 2 failed for $root")
    require(fs.rename(staging, new Path(root)), s"swap step 3 failed for $root")
    fs.delete(new Path(root, Marker), true)
    fs.delete(old, true) // step 4
  }

  /** Finish or roll back an interrupted swap; safe to call any time the
    * writer holds the store (idempotent, no-op on a healthy store).
    * @return true iff an interrupted swap was repaired */
  def recover(fs: FileSystem, root: String): Boolean = {
    val rootP = new Path(root)
    val staging = stagingPath(root)
    val old = oldPath(root)
    if (!fs.exists(rootP) && fs.exists(staging) &&
        fs.exists(new Path(staging, Marker))) {
      // crashed between steps 2 and 3: staging is complete — install it
      require(fs.rename(staging, rootP), s"swap recovery failed for $root")
      fs.delete(new Path(rootP, Marker), true)
      fs.delete(old, true)
      true
    } else if (!fs.exists(rootP) && fs.exists(old)) {
      // crashed in step 2 with an incomplete (or absent) staging: the old
      // store is the last good state — roll back
      require(fs.rename(old, rootP), s"swap rollback failed for $root")
      fs.delete(staging, true)
      true
    } else if (fs.exists(rootP) && (fs.exists(old) || fs.exists(staging))) {
      // crashed after step 3 (stale .old, possibly a marker still in the
      // root) or before step 2 (staging garbage — even a complete one is
      // safely discarded: the root is consistent and the policy simply
      // re-fires next cycle): reclaim leftovers
      fs.delete(old, true)
      fs.delete(staging, true)
      fs.delete(new Path(rootP, Marker), true)
      true
    } else false
  }
}
