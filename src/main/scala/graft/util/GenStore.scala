package graft.util

import org.apache.hadoop.fs.{FileSystem, Path}

/** GENERATION-POINTER store layout — the concurrent-reader-safe twin of
  * [[StoreSwap]]'s in-place swap (whose scaladoc names exactly this form
  * as what a production deployment would run). Layout under one root:
  *
  * {{{
  *   root/
  *     _GEN_<N>         pointer marker files; the LIVE generation is max N
  *     gen=<N>/         a complete, immutable store directory
  *     gen=<N>.staging/ an in-flight publish (garbage unless completed)
  * }}}
  *
  * The pointer is encoded as the NAME of an empty marker file rather than
  * the CONTENT of a single `_CURRENT` file, for one reason: every mutation
  * of the pointer set is a single atomic create or delete, so AT EVERY
  * INSTANT — including mid-publish and mid-crash — at least one marker
  * exists and the maximum marker always names a COMPLETE generation
  * directory. A reader ([[current]]) lists markers once per query, takes
  * the max, and reads `gen=<N>/`; it can never observe a missing root or
  * a half-written store, which is precisely the window the in-place swap
  * cannot close for readers (StoreSwap's steps 2-3 leave no root at all).
  *
  * Publish protocol ([[publish]]; single WRITER, any number of readers):
  *
  *   1. caller writes the new generation COMPLETELY into [[stage]]'s
  *      `gen=<N>.staging` dir
  *   2. rename `gen=<N>.staging` → `gen=<N>`  (atomic; a `gen=` dir
  *      therefore exists iff its content is complete)
  *   3. create marker `_GEN_<N>`              (atomic — THE flip: readers
  *      resolve N from this instant on)
  *   4. delete older markers `_GEN_<M>`, M < N
  *   5. reclaim generation dirs older than the `retain` most recent ones
  *      (retain ≥ 1 keeps the previous generation as a GRACE period for
  *      readers that resolved the pointer just before the flip: a dir is
  *      only deleted ≥ 1 publish after its marker disappeared)
  *
  * Crash anywhere leaves one of four states, each repaired by
  * [[recover]]: a garbage `.staging` (reclaimed), a complete unpointered
  * `gen=<N>` (the flip is finished — the content is complete by the
  * rename-only construction), two markers (the stale one is dropped), or
  * unreclaimed old dirs (reclaimed). Readers need no recovery logic at
  * all: max-marker resolution is correct in every one of those states.
  */
object GenStore {

  private val MarkerPrefix = "_GEN_"

  def generationPath(root: String, gen: Long): Path =
    new Path(root, s"gen=$gen")
  private def stagingPath(root: String, gen: Long): Path =
    new Path(root, s"gen=$gen.staging")
  private def markerPath(root: String, gen: Long): Path =
    new Path(root, MarkerPrefix + gen)

  private def listMarkers(fs: FileSystem, root: String): Seq[Long] = {
    val rootP = new Path(root)
    if (!fs.exists(rootP)) Seq.empty
    else fs.listStatus(rootP).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith(MarkerPrefix) =>
        n.stripPrefix(MarkerPrefix).toLong }
      .sorted
  }

  /** The live generation id — one FS metadata listing, max marker wins.
    * None iff nothing was ever published. Safe to call concurrently with
    * a publish: the marker set always resolves to a complete dir. */
  def current(fs: FileSystem, root: String): Option[Long] =
    listMarkers(fs, root).lastOption

  /** Resolve the live generation's directory (readers call this once per
    * query and read within it). */
  def currentPath(fs: FileSystem, root: String): Option[Path] =
    current(fs, root).map(generationPath(root, _))

  /** Begin publishing generation `gen`: clear and return its staging dir
    * for the caller's complete store write; then call [[publish]]. */
  def stage(fs: FileSystem, root: String, gen: Long): Path = {
    require(current(fs, root).forall(_ < gen),
      s"generation $gen is not newer than the live one at $root")
    val staging = stagingPath(root, gen)
    fs.delete(staging, true)
    fs.mkdirs(staging)
    staging
  }

  /** Install a COMPLETELY staged generation as the live one (steps 2-5).
    * @param retain how many superseded generation DIRS to keep as reader
    *        grace (markers are dropped immediately; dirs linger `retain`
    *        publishes) — must be ≥ 1 when any concurrent reader exists */
  def publish(fs: FileSystem, root: String, gen: Long, retain: Int = 1): Unit = {
    val staging = stagingPath(root, gen)
    require(fs.exists(staging), s"publish without a staged generation at $staging")
    require(current(fs, root).forall(_ < gen),
      s"generation $gen is not newer than the live one at $root")
    require(fs.rename(staging, generationPath(root, gen)),
      s"generation install failed for $root gen=$gen") // step 2
    fs.create(markerPath(root, gen), true).close() // step 3 — the flip
    finish(fs, root, gen, retain) // steps 4-5
  }

  private def finish(fs: FileSystem, root: String, gen: Long, retain: Int): Unit = {
    listMarkers(fs, root).filter(_ < gen)
      .foreach(m => fs.delete(markerPath(root, m), true)) // step 4
    val dirs = fs.listStatus(new Path(root)).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("gen=") && !n.endsWith(".staging") =>
        n.stripPrefix("gen=").toLong }
      .sorted
    dirs.dropRight(retain + 1) // live + `retain` grace dirs stay
      .foreach(d => fs.delete(generationPath(root, d), true)) // step 5
  }

  /** Repair any interrupted publish; idempotent, no-op on a healthy root.
    * Single-writer: call at the top of a maintenance cycle, like
    * [[StoreSwap.recover]]. @return true iff something was repaired */
  def recover(fs: FileSystem, root: String, retain: Int = 1): Boolean = {
    val rootP = new Path(root)
    if (!fs.exists(rootP)) return false
    var repaired = false
    val names = fs.listStatus(rootP).toSeq.map(_.getPath.getName)
    // garbage stagings: a crash mid-write (or between a completed write
    // and step 2 — the content is complete but unINSTALLED; the policy
    // that produced it simply re-fires) leaves `gen=<N>.staging`
    names.filter(_.endsWith(".staging")).foreach { n =>
      fs.delete(new Path(rootP, n), true); repaired = true
    }
    val markers = listMarkers(fs, root)
    val dirs = names
      .collect { case n if n.startsWith("gen=") && !n.endsWith(".staging") =>
        n.stripPrefix("gen=").toLong }
    // a complete generation dir newer than every marker = crash between
    // steps 2 and 3; the rename-only construction guarantees completeness,
    // so FINISH the flip (deterministic: max such dir wins)
    val unpointered = dirs.filter(d => markers.lastOption.forall(d > _))
    if (unpointered.nonEmpty) {
      val g = unpointered.max
      fs.create(markerPath(root, g), true).close()
      finish(fs, root, g, retain)
      repaired = true
    } else if (markers.size > 1) {
      // crash between steps 3 and 4: drop stale markers, finish reclaim
      finish(fs, root, markers.last, retain)
      repaired = true
    }
    repaired
  }

  /** One publish cycle (what [[DeltaStore.publish]] runs): repair, evaluate
    * the policy, and — iff it fires — stage generation `gen`, run the
    * caller's complete write, and flip the pointer. Readers keep
    * resolving the previous generation until the single atomic marker
    * create. @return true iff the policy fired and `gen` went live */
  def cycle(fs: FileSystem, root: String, gen: Long, retain: Int = 1)(
      shouldFire: => Boolean)(writeGeneration: Path => Unit): Boolean = {
    recover(fs, root, retain)
    if (!shouldFire) false
    else {
      val staging = stage(fs, root, gen)
      writeGeneration(staging)
      publish(fs, root, gen, retain)
      true
    }
  }
}
