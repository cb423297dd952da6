package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import TextAnalysis.hash48

/** Deduplication operators for training-data pipelines, each designed for the
  * 100 TB path:
  *
  *  - exact:   hash-groupBy on the content key — one shuffle, map-side partial
  *             aggregation, AQE handles skew.
  *  - MinHash+LSH: shingle → k permuted min-hashes → band buckets → bucket
  *             equi-join. The join key (band, signature) replaces the O(n²)
  *             pair space with near-linear bucket joins; per-doc state is a
  *             fixed numPerm-long signature regardless of document size.
  *  - SimHash: 48-bit signature per doc, near-dups = small hamming distance;
  *             banding the bits gives the same bucket-join scale path.
  *  - n-gram Jaccard: EXACT pair similarity via an inverted index — explode
  *             distinct shingles, equi-join on (block, shingle), count shared
  *             shingles per pair. Work is Σ_shingle c(s)² (c = docs containing
  *             the shingle), near-linear on real corpora, instead of the
  *             all-pairs O(n²·|shingles|) a naive self-join pays. Hot-shingle
  *             skew is AQE-skew-join territory (or pre-drop shingles with
  *             document frequency above a cap — stopword shingles carry no
  *             dedup signal anyway).
  *
  * Cost discipline: signature math is explode + codegen'd groupBy aggregates,
  * NOT nested higher-order-function lambdas. HOF expressions are interpreted
  * (CodegenFallback) and re-evaluate their subtrees per (element × probe) —
  * the round-1 shape paid 16×/48× repeated md5 passes plus per-element
  * interpretation. The explode form hashes each shingle/word exactly once in
  * codegen, partial-aggregates map-side, and shuffles only (id, k longs).
  *
  * All signature math is deterministic, expression-only, and mirrored 1:1 in
  * the DuckDB oracle SQL (SparkEntry.oracleSql).
  */
object Dedup {

  /** Exact dedup: one surviving (minimal) id per distinct key; groups with
    * duplicates are reported with their cardinality. */
  def exactDupGroups(df: DataFrame, idCol: String, key: Column): DataFrame =
    df.groupBy(key.as("dup_key"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** 3-word shingles from a pre-split word array (1-based element_at to
    * mirror DuckDB list indexing); documents shorter than 3 words fall back
    * to the whole text as a single shingle (Spark's `sequence(1,0)` would
    * DESCEND, DuckDB's would be empty — both sides guard explicitly). */
  def shingles(text: Column, words: Column): Column =
    when(size(words) >= 3,
      transform(sequence(lit(1), size(words) - 2), i =>
        concat_ws(" ",
          element_at(words, i), element_at(words, i + 1), element_at(words, i + 2))))
      .otherwise(array(text))

  val MinhashPrime = 2147483647L // 2^31 - 1; (a*h48 + b) stays < 2^63

  /** Permutation p of a 48-bit hash: h ↦ (a_p·h + b_p) mod P with
    * a_p = 2p+1, b_p = 10007p+1. */
  private def permute(h: Column, p: Int): Column =
    (lit(2L * p + 1) * h + lit(10007L * p + 1)) % lit(MinhashPrime)

  /** Doc → MinHash signature (numPerm minhashes), as explode + groupBy-min:
    * one md5 per (doc, shingle), then numPerm codegen'd `min` aggregates over
    * the permuted hashes. Catalyst's interpreted higher-order-function
    * lambdas never touch the hot path, the partial mins combine map-side, and
    * the single shuffle carries only (id, numPerm longs) — the shape that
    * holds at 100 TB. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String, numPerm: Int = 16): DataFrame = {
    val exploded = df
      .withColumn("__words", split(col(textCol), " "))
      .select(col(idCol), explode(shingles(col(textCol), col("__words"))).as("__s"))
      .select(col(idCol), hash48(col("__s")).as("__h"))
    val aggs = (0 until numPerm).map(p => min(permute(col("__h"), p)).as(s"mh_$p"))
    exploded.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Doc → LSH band buckets `(idCol, band, sig)`: the PERSISTABLE dedup
    * index. Write this table once per corpus snapshot (partitioned by band)
    * and new increments join against it — see [[minhashIncrementPairs]]. */
  def minhashBuckets(
      df: DataFrame, idCol: String, textCol: String,
      numPerm: Int = 16, bands: Int = 4): DataFrame =
    bucketsFromSignatures(
      minhashSignatures(df, idCol, textCol, numPerm), idCol, Nil, numPerm, bands)

  /** Band buckets from an ALREADY-computed `mh_*` signature frame:
    * (idCol, keep…, band, sig). The single source of the band/sig recipe —
    * [[minhashBuckets]] (stored index), [[streamBuckets]] (live ingest) and
    * the calibration queries all derive buckets here, so the signature
    * format (and the null-text guard) can never drift between paths. */
  def bucketsFromSignatures(
      sigs: DataFrame, idCol: String, keep: Seq[String] = Nil,
      numPerm: Int = 16, bands: Int = 4): DataFrame = {
    require(numPerm % bands == 0,
      s"numPerm ($numPerm) must be divisible by bands ($bands) — anything else silently truncates the signature")
    val rows = numPerm / bands
    val bandCols = (0 until bands).map { b =>
      val sig = concat_ws("-", (0 until rows).map(r => col(s"mh_${b * rows + r}")): _*)
      struct(lit(b).as("band"), sig.as("sig"))
    }
    sigs
      // a null/absent text folds to ALL-null minhashes: exclude the doc here.
      // (concat_ws skips null args, so the band signature of a null-text doc
      // would be "" — never NULL — and every null-text doc would share one
      // bucket per band, inventing pairs the oracle's NULL-excluding join
      // semantics reject.)
      .where(col("mh_0").isNotNull)
      .select((col(idCol) +: keep.map(col)) :+
        explode(array(bandCols: _*)).as("bk"): _*)
      .select((col(idCol) +: keep.map(col)) :+
        col("bk.band").as("band") :+ col("bk.sig").as("sig"): _*)
  }

  /** Incremental dedup: candidate (new_id, corpus_id) pairs between a new
    * batch's buckets and a precomputed corpus bucket table — the nightly-
    * increment shape. The corpus is NEVER re-paired with itself (that work
    * was paid when its snapshot was built), so a day's increment costs
    * O(|new|) signature work + one equi-join against the bucket index.
    * Null-text docs were already excluded when the buckets were built
    * ([[minhashBuckets]]), so no guard is needed here. */
  def minhashIncrementPairs(
      newBuckets: DataFrame, corpusBuckets: DataFrame, idCol: String): DataFrame =
    newBuckets
      .select(col("band"), col("sig"), col(idCol).as("new_id"))
      .join(
        corpusBuckets.select(col("band"), col("sig"), col(idCol).as("corpus_id")),
        Seq("band", "sig"))
      // a re-ingested id (same doc in batch and snapshot) must not report
      // itself as its own duplicate
      .where(col("new_id") =!= col("corpus_id"))
      .select(col("new_id"), col("corpus_id"))
      .distinct()

  /** Streaming near-dup dedup twin — the bounded-state LSH path for a live
    * ingest feed, completing the batch/stream twin convention (exact dedup
    * already has `dropDuplicates`; this covers NEAR-dup).
    *
    * Semantics (min-id bucket ownership per event-time window): each
    * arriving doc lands in `bands` LSH buckets; within a tumbling
    * `windowDuration` window a bucket is owned by the LOWEST doc id that
    * claimed it, and a doc is KEPT iff it owns every bucket it lands in —
    * i.e. it near-collides with NO lower-id doc in its window. Dropped docs
    * still claim their novel buckets, so near-dup chains collapse
    * transitively like [[dedupCorpus]]'s connected components. Ownership is
    * decided by id, NOT by micro-batch arrival order: the verdict is
    * deterministic however the rows are batched or partitioned, and the
    * batch twin (min-id owners over the same window) matches bit-for-bit.
    * (A first-arrival `dropDuplicatesWithinWatermark` ownership looks
    * simpler but is unsound: two same-window dups arriving in ONE
    * micro-batch can split the band wins between them — per-key winners are
    * partition-order-dependent — leaving NO member owning all its buckets,
    * and the content vanishes entirely. Min-id ownership always keeps
    * exactly the lowest-id representative.) Cross-window dups are out of
    * scope by design — dedup across snapshots is the batch/incremental
    * path's job ([[minhashIncrementPairs]]).
    *
    * Stream-legal shape: signatures are computed PER ROW with array HOFs
    * (one md5 pass per shingle into `__hs`, then numPerm
    * `array_min(transform(__hs, permute))` over the precomputed longs —
    * bit-identical values to [[minhashSignatures]]' groupBy-min, no
    * aggregation on the stream), buckets explode 1→bands, bucket owners are
    * a windowed `min(id)` per (window, band, sig), and the doc-level
    * verdict is a chained windowed count == bands — both aggregations in
    * append mode with state evicted by the watermark (O(live buckets), the
    * 100 TB form).
    *
    * Returns the kept docs' ids (append mode — rows finalize once the
    * watermark passes their window). */
  def minhashStream(
      docs: DataFrame, idCol: String, textCol: String, tsCol: String,
      delayThreshold: String, windowDuration: String = "10 seconds",
      numPerm: Int = 16, bands: Int = 4): DataFrame = {
    // null-text rows are dropped BEFORE the watermark node, exactly as the
    // pre-refactor inline form did — their timestamps never advance the
    // watermark (streamBuckets' own null guard would filter them too, but
    // only after the watermark had already seen them)
    val buckets = streamBuckets(
      docs.where(col(textCol).isNotNull).withWatermark(tsCol, delayThreshold),
      idCol, textCol, keep = Seq(tsCol), numPerm = numPerm, bands = bands)
    buckets
      // bucket owner = min id per (window, band, sig): deterministic in
      // batching/partition order, unlike first-arrival dropDuplicates
      .groupBy(window(col(tsCol), windowDuration), col("band"), col("sig"))
      .agg(min(col(idCol)).as("__owner"))
      // chained windowed agg (Spark 4.x multi-stateful append): a doc is
      // kept iff it owns all `bands` of its buckets in its window
      .groupBy(window(col("window"), windowDuration), col("__owner"))
      .agg(count(lit(1)).as("__owned"))
      .where(col("__owned") === lit(bands.toLong))
      .select(col("__owner").as(idCol))
  }

  /** Stream-legal LSH band buckets `(idCol, keep..., band, sig)`: per-row
    * HOF signatures — one md5 pass per shingle into a hash array, then
    * numPerm `array_min(transform(...))` permutation mins, bit-identical to
    * [[minhashSignatures]]' groupBy-min — exploded to band buckets with NO
    * aggregation anywhere. That makes it legal on an unbounded stream
    * without watermark or state: it composes with a stream-static join
    * against a persisted corpus store (the live-ingest increment-dedup
    * shape, q188) just as well as with [[minhashStream]]'s windowed owners.
    * `keep` columns (e.g. the event-time column, which preserves an
    * upstream watermark tag) pass through untouched. */
  def streamBuckets(
      docs: DataFrame, idCol: String, textCol: String,
      keep: Seq[String] = Nil,
      numPerm: Int = 16, bands: Int = 4): DataFrame = {
    require(numPerm % bands == 0,
      s"numPerm ($numPerm) must be divisible by bands ($bands) — anything else silently truncates the signature")
    val rows = numPerm / bands
    val hs = docs
      .where(col(textCol).isNotNull)
      .withColumn("__words", split(col(textCol), " "))
      // hash each shingle ONCE; the numPerm signature mins below permute the
      // precomputed longs (1 md5 pass per shingle, not numPerm)
      .withColumn("__hs",
        transform(shingles(col(textCol), col("__words")), s => hash48(s)))
    val sigCols = (0 until numPerm).map { p =>
      array_min(transform(col("__hs"), h => permute(h, p))).as(s"mh_$p")
    }
    val sigs = hs.select((col(idCol) +: keep.map(col)) ++ sigCols: _*)
    bucketsFromSignatures(sigs, idCol, keep, numPerm, bands)
  }

  /** [[bucketPairs]] over freshly computed [[minhashBuckets]]; the scale
    * law stated there holds here. */
  def minhashCandidatePairs(
      df: DataFrame, idCol: String, textCol: String,
      numPerm: Int = 16, bands: Int = 4,
      maxBucket: Option[Int] = None): DataFrame =
    bucketPairs(minhashBuckets(df, idCol, textCol, numPerm, bands), idCol, maxBucket)

  /** Candidate pairs from an ALREADY-COMPUTED (id, band, sig) bucket table
    * — the reuse seam of a production pipeline, where signatures are
    * computed once, persisted (parquet), and every downstream product
    * (pairs, clusters, canonical picks, ledgers) derives from the STORED
    * table without re-touching the corpus text (q176 proves the round-trip
    * is exact). [[minhashCandidatePairs]] is this over a freshly-computed
    * bucket table.
    *
    * Scale law (`ScaleLawSpec`): exact duplicates share every band, so a
    * corpus whose every document has c copies yields d·C(c, 2) + p·c²
    * pairs (d bucketed documents, p pairs of the corpus itself): quadratic
    * in c, ×4.57 from 4 to 8 copies at sf0.001. `maxBucket` or an
    * `exactDupGroups` pass upstream is the cure. */
  def bucketPairs(
      buckets: DataFrame, idCol: String,
      maxBucket: Option[Int] = None): DataFrame = {
    maxBucket.foreach(m => require(m > 1, s"maxBucket must be > 1 to allow any pair, got $m"))
    // Pair generation via collect_list per (band, sig) bucket + double
    // explode: the signature pipeline (md5 + numPerm mins) runs ONCE — a
    // self-join would execute it per side. LSH buckets are tiny by
    // construction (documents land together only when a whole band of
    // minhashes agrees) — EXCEPT exact duplicates, which share every band:
    // run exactDupGroups first and feed one representative per exact-dup
    // class, or a mega-bucket of N copies degenerates to one N-element list
    // and N²/2 pairs in a single task (a distributed self-join has the same
    // N² output, just spread out — the real fix is upstream either way).
    // `maxBucket` enforces that contract at open-web scale: a bucket larger
    // than maxBucket (an un-collapsed exact-dup mega-class, or a pathological
    // band collision) is DROPPED from pair generation, capping any single
    // aggregation buffer at maxBucket ids and any bucket's fan-out at
    // maxBucket²/2 pairs. The size check runs BEFORE collect_list (a count
    // aggregate + semi-join back), so the oversized list is never buffered —
    // a post-hoc size() filter would still OOM the collecting task. Recall
    // loss only affects pairs whose sole shared band is the oversized one —
    // the safe direction for a dedup candidate generator (never invents a
    // pair). Default None = exact parity.
    val eligible = maxBucket.fold(buckets) { m =>
      // materialize once: Spark shares no subplans across join branches, so
      // without this the md5+min signature pipeline would run on BOTH sides
      val mat = buckets.localCheckpoint(true)
      val sizes = mat.groupBy(col("band"), col("sig"))
        .agg(count(lit(1)).as("__n"))
        .where(col("__n").between(2, m))
        .drop("__n")
      mat.join(sizes, Seq("band", "sig"), "left_semi")
    }
    val grouped = eligible
      .groupBy(col("band"), col("sig"))
      .agg(collect_list(col(idCol)).as("__ids"))
      .where(size(col("__ids")) > 1)
    grouped
      .select(explode(col("__ids")).as("id_a"), col("__ids"))
      .select(col("id_a"), explode(col("__ids")).as("id_b"))
      .where(col("id_a") < col("id_b"))
      .distinct()
  }

  /** Doc → (id, 48-bit SimHash): bit b is set iff Σ_words (±1 by word-hash
    * bit b) > 0. Explode + groupBy-sum: one md5 per (doc, word), then `bits`
    * codegen'd sums of (2·bit−1) — partial sums combine map-side, the shuffle
    * carries (id, bits longs), and no interpreted lambda runs per element.
    * Scale law (`ScaleLawSpec`): one shuffle record per document, so twice
    * the documents shuffle exactly twice the records in as many jobs. */
  def simhashTable(df: DataFrame, idCol: String, textCol: String, bits: Int = 48): DataFrame = {
    val exploded = df
      // explode_OUTER: a null-text doc keeps one (id, null-hash) row, so it
      // still reaches the groupBy and emits simhash=0 — matching the
      // oracle's ELSE-0 branch instead of silently vanishing from the output
      .select(col(idCol), explode_outer(split(col(textCol), " ")).as("__w"))
      .select(col(idCol), hash48(col("__w")).as("__h"))
    val aggs = (0 until bits).map { b =>
      sum(shiftright(col("__h"), b).bitwiseAND(lit(1L)) * 2 - 1).as(s"__b$b")
    }
    val counts = exploded.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
    val sim = (0 until bits)
      .map(b => when(col(s"__b$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    counts.select(col(idCol), sim.cast("long").as("simhash"))
  }

  /** SimHash near-duplicate candidate pairs: band the `bits`-bit SimHash
    * into `bands` contiguous slices; docs sharing ANY band value become
    * candidates (two hashes within Hamming distance d differ in ≤ d bands,
    * so with d < bands at least one band matches — the standard pigeonhole
    * guarantee), then the exact `bit_count(xor)` filter keeps pairs within
    * `maxHamming`. Same shape as the MinHash path: explode to (band, value)
    * postings, ONE groupBy + double-explode for pair generation (no
    * self-join — Spark shares no uncached subplans across join sides), all
    * codegen. `maxBucket` bounds a degenerate bucket's C(n,2) fan-out like
    * minhashCandidatePairs' guard. */
  def simhashCandidatePairs(
      df: DataFrame, idCol: String, textCol: String,
      bits: Int = 48, bands: Int = 4, maxHamming: Int = 3,
      maxBucket: Option[Int] = None): DataFrame = {
    require(bits % bands == 0, s"bands ($bands) must divide bits ($bits)")
    require(maxHamming < bands,
      s"pigeonhole guarantee needs maxHamming ($maxHamming) < bands ($bands)")
    val width = bits / bands
    val mask = (1L << width) - 1
    val table = simhashTable(df, idCol, textCol, bits)
    val posted = table
      .select(explode(array((0 until bands).map(b => struct(
        lit(b).as("band"),
        shiftright(col("simhash"), b * width).bitwiseAND(lit(mask)).as("sig"),
        col(idCol).as("__id"), col("simhash").as("__sh"))): _*)).as("p"))
      .select(col("p.band"), col("p.sig"), col("p.__id"), col("p.__sh"))
    val grouped = posted
      .groupBy(col("band"), col("sig"))
      .agg(collect_list(struct(col("__id"), col("__sh"))).as("__docs"))
      .where(size(col("__docs")) > 1)
      .where(maxBucket.fold(lit(true))(m => size(col("__docs")) <= m))
    grouped
      .select(explode(col("__docs")).as("a"), col("__docs"))
      .select(col("a"), explode(col("__docs")).as("b"))
      .where(col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"),
        bit_count(col("a.__sh").bitwiseXOR(col("b.__sh"))).cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Exact pairwise n-gram Jaccard similarity within blocking groups, via an
    * inverted index: explode each doc's DISTINCT shingles, equi-join postings
    * on (blockCols, shingle), and count shared shingles per (id_a, id_b).
    * Pairs sharing no shingle never materialize (their Jaccard is 0 — below
    * any positive threshold by construction). Doc sizes ride along with the
    * postings, so no extra join is needed to assemble |A ∪ B|.
    *
    * `maxDf` is the open-web-scale guard: a shingle appearing in more than
    * maxDf docs within a block (a boilerplate/stopword shingle) is dropped
    * from PAIR GENERATION, capping any single group's fan-out at maxDf²/2
    * pairs. Denominators keep counting dropped shingles, so reported scores
    * are a LOWER bound on true Jaccard when the cap bites — the safe
    * direction for a dedup threshold (never invents a duplicate), at the
    * cost of possibly missing pairs whose overlap is pure boilerplate. */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String], minJaccard: Double,
      maxDf: Option[Int] = None): DataFrame = {
    maxDf.foreach(m => require(m > 1, s"maxDf must be > 1 to allow any pair, got $m"))
    require(minJaccard > 0.0, "minJaccard must be positive: zero-overlap pairs are never generated")
    // Per-doc DISTINCT shingles via explode + relational distinct — a
    // codegen'd hash aggregate. (array_distinct on a string array is an
    // interpreted O(|sh|²) per-row loop — measurably the dominant cost of the
    // naive shape.) Shingle strings reduce to 64-bit hashes BEFORE the
    // distinct (the prefixFilteredJaccardPairs discipline): every shuffle —
    // distinct, per-doc window, pair grouping — then keys on fixed-width
    // longs instead of ~25-byte strings. Set sizes and intersections are
    // exact modulo 64-bit collisions (~|shingles|²/2^65, negligible at any
    // in-gate scale; a 100 TB corpus would widen to a 128-bit digest).
    // Null filtering happens on the STRING (xxhash64(NULL) is the non-null
    // seed value, which would resurrect null shingles). The per-doc shingle
    // count |A| rides along via a window count over the distinct postings.
    val nonNull0 = (blockCols.map(col(_).isNotNull) :+ col("__s0").isNotNull).reduce(_ && _)
    val exploded = df
      .withColumn("__words", split(col(textCol), " "))
      .select(
        (col(idCol).as("__id") +: blockCols.map(col)) :+
          explode(shingles(col(textCol), col("__words"))).as("__s0"): _*)
      .where(nonNull0)
      .select(
        (col("__id") +: blockCols.map(col)) :+ xxhash64(col("__s0")).as("__s"): _*)
      .distinct()
    val postings = exploded.withColumn(
      "__n",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("__id"))))
    // Group the postings of each (block, shingle) and pair them with a double
    // explode — the postings pipeline runs ONCE (a self-join would execute it
    // twice; Spark does not share non-cached subplans across join sides).
    // Each group's pair fan-out is df(s)²/2: bounded on real corpora because
    // near-duplicate shingles are rare across unrelated docs; a pathological
    // stop-shingle (huge df) is the thing to cap upstream at open-web scale.
    // Null block keys / shingles never pair (SQL join-equality semantics —
    // the groupBy would otherwise bucket NULLs together and invent pairs the
    // oracle's `a.lang = b.lang` join excludes); both are already filtered
    // at the explode, before the hash.
    val byShingle = postings
      .groupBy((blockCols.map(col) :+ col("__s")): _*)
      .agg(collect_list(struct(col("__id"), col("__n"))).as("__docs"))
      .where(size(col("__docs")) > 1)
      .where(maxDf.fold(lit(true))(m => size(col("__docs")) <= m))
    val inter = byShingle
      .select(explode(col("__docs")).as("a"), col("__docs"))
      .select(col("a"), explode(col("__docs")).as("b"))
      .where(col("a.__id") < col("b.__id"))
      .groupBy(
        col("a.__id").as("id_a"), col("b.__id").as("id_b"),
        col("a.__n").as("na"), col("b.__n").as("nb"))
      .agg(count(lit(1)).as("inter"))
    inter
      .select(
        col("id_a"), col("id_b"),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter"))).as("jaccard"))
      .where(col("jaccard") >= minJaccard)
  }

  /** Prefix-filtered set-similarity join (the SSJoin/PPJoin prefix-filter
    * principle): RESULT-IDENTICAL to [[ngramJaccardPairs]] at the same
    * threshold, with a candidate space pruned by the prefix theorem —
    * sort every doc's distinct shingles by one global total order
    * (ascending document frequency, shingle tiebreak), index only each
    * doc's first `n − ceil(t·n) + 1` shingles, and join postings ONLY on
    * those prefixes. Any pair with `J ≥ t` shares ≥ ceil(t·max(na, nb))
    * shingles, and the smallest (in the global order) shared shingle
    * provably lands in BOTH prefixes — so pruning loses nothing, and the
    * exact verification join then computes full intersections for the
    * (much smaller) candidate set only.
    *
    * Why it matters at 100 TB: the inverted-index form pays Σ_s df(s)²
    * over ALL shingles; the prefix form pays it only over prefix
    * postings, which df-ordering biases toward RARE shingles — the
    * stop-shingle quadratic never enters the candidate stage at all
    * (where [[ngramJaccardPairs]] needs the lossy `maxDf` cap, this
    * prunes losslessly). Costs one df-count aggregation plus a per-doc
    * sort bounded by doc length (inside the collect_list aggregation —
    * never a corpus-scale window sort). */
  def prefixFilteredJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String], minJaccard: Double): DataFrame = {
    require(minJaccard > 0.0 && minJaccard <= 1.0,
      s"minJaccard must be in (0, 1], got $minJaccard")
    // shingle strings are reduced to 64-bit hashes BEFORE any shuffle: every
    // downstream stage (distinct, df-count, per-doc sort, candidate
    // self-join, verification join) then keys on fixed-width longs instead
    // of ~25-byte strings — the prefix theorem only needs SOME consistent
    // total order over tokens, and (__df, hash) is one. Set-size counts are
    // exact modulo 64-bit collisions (~|shingles|²/2^65 — negligible at any
    // in-gate scale; a 100 TB corpus would widen to a 128-bit digest).
    // Null filtering happens on the STRING (xxhash64(NULL) is the non-null
    // seed value, which would resurrect null shingles).
    val exploded = df
      .withColumn("__words", split(col(textCol), " "))
      .select(
        (col(idCol).as("__id") +: blockCols.map(col)) :+
          explode(shingles(col(textCol), col("__words"))).as("__s0"): _*)
    val nonNull = (blockCols.map(col(_).isNotNull) :+ col("__s0").isNotNull).reduce(_ && _)
    // NOT materialized: its two consumers (the df table, the per-doc
    // aggregation below) share the distinct's exchange via ReuseExchange —
    // only the cheap post-exchange aggregations run twice.
    val posts = exploded.where(nonNull)
      .select((col("__id") +: blockCols.map(col)) :+ xxhash64(col("__s0")).as("__s"): _*)
      .distinct()
    val dfreq = posts
      .groupBy((blockCols.map(col) :+ col("__s")): _*)
      .agg(count(lit(1)).as("__df"))
    // ONE per-doc frame serves BOTH the prefix index and the verification
    // join: each doc's postings collapse to a single row holding its
    // (__df, __s)-sorted shingle array. `sort_array` over the struct gives
    // exactly the (df asc, hash asc) global order the prefix theorem needs —
    // per-doc work bounded by doc length, no corpus-scale window sort, and
    // the separate docSets shuffle of the windowed form disappears (its
    // set IS this array, projected). Materialized once (localCheckpoint —
    // the measured choice over persist for this shape: raw row blocks skip
    // InMemoryRelation's compress/decompress pass; the trade is lineage
    // truncation — at 100 TB swap for a reliable `checkpoint`, the
    // connectedComponents caveat). The checkpoint also preserves the
    // (__id, block) hash partitioning, so the verification joins below
    // probe it with NO exchange on the doc side.
    val docs = posts
      .join(dfreq, blockCols :+ "__s")
      .groupBy((col("__id") +: blockCols.map(col)): _*)
      .agg(sort_array(collect_list(struct(col("__df"), col("__s")))).as("__ord"),
        count(lit(1)).as("__n"))
      .localCheckpoint(true)
    // the 1e-9 nudge guards the FP product rounding UP past the true
    // rational ceiling (e.g. 0.07·100 = 7.000000000000001 ⇒ ceil 8, one
    // prefix element short — a dropped qualifying pair). Erring low keeps
    // the prefix one element longer: more candidates, still lossless.
    val prefLen = (col("__n") - ceil(lit(minJaccard) * col("__n") - lit(1e-9)) + 1)
      .cast("int")
    val prefix = docs.select(
      (blockCols.map(col) :+ col("__id") :+ col("__n") :+
        explode(transform(slice(col("__ord"), lit(1), prefLen), x => x("__s")))
          .as("__s")): _*)
    val pa = prefix.select((blockCols.map(col) :+ col("__s") :+
      col("__id").as("id_a") :+ col("__n").as("na")): _*)
    val pb = prefix.select((blockCols.map(col) :+ col("__s") :+
      col("__id").as("id_b") :+ col("__n").as("nb")): _*)
    val cands = pa.join(pb, blockCols :+ "__s")
      // PPJoin length filter alongside the id order: J ≥ t forces
      // min(na,nb) ≥ t·max(na,nb) (J ≤ min/max) — size-incompatible
      // candidates never reach dedup or verification. Same 1e-9 nudge as
      // the prefix ceiling: t·n can round UP past the true rational bound
      // (0.07·100 = 7.000000000000001) and drop an exactly-at-threshold
      // pair; erring low keeps the filter lossless.
      .where(col("id_a") < col("id_b") &&
        col("na") >= col("nb") * lit(minJaccard) - lit(1e-9) &&
        col("nb") >= col("na") * lit(minJaccard) - lit(1e-9))
      .select((blockCols.map(col) :+ col("id_a") :+ col("id_b") :+
        col("na") :+ col("nb")): _*)
      .distinct()
    // exact verification via the per-doc shingle-hash SETS already sitting
    // in `docs`: each candidate pair fetches its two fixed-width long
    // arrays (two equi-joins on (block, doc id) — block included so the
    // docs side reuses its checkpointed partitioning) and intersects them
    // in a single codegen'd expression — versus the posting re-explode
    // form, whose |cands|·avg(na) intermediate rows paid a corpus-scale
    // shuffle before the pair aggregation (measured 11M rows at sf0.1 for
    // a 213k-candidate set).
    val docSets = docs.select(
      (blockCols.map(col) :+ col("__id") :+
        transform(col("__ord"), x => x("__s")).as("__set")): _*)
    cands
      .join(docSets.select((blockCols.map(col) :+ col("__id").as("id_a") :+
        col("__set").as("__sa")): _*), blockCols :+ "id_a")
      .join(docSets.select((blockCols.map(col) :+ col("__id").as("id_b") :+
        col("__set").as("__sb")): _*), blockCols :+ "id_b")
      .select(
        col("id_a"), col("id_b"), col("na"), col("nb"),
        size(array_intersect(col("__sa"), col("__sb"))).cast("long").as("inter"))
      .select(
        col("id_a"), col("id_b"),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter"))).as("jaccard"))
      .where(col("jaccard") >= minJaccard)
  }

  /** [[prefixFilteredJaccardPairs]] with EXACT-DUPLICATE PRE-COLLAPSE —
    * result-identical, but the prefix index sees each distinct (block, text)
    * once instead of N copies. A class of N byte-identical docs otherwise
    * injects a C(N,2) clique into every posting, candidate, and
    * verification stage (the measured quadratic on mirror-heavy corpora);
    * collapsed, the index pays one representative and the clique is
    * re-created arithmetically at output time, where it is inherent to the
    * result size.
    *
    * Re-expansion is exact: members of one class share the rep's shingle
    * set, so every cross-class member pair has the rep pair's jaccard
    * verbatim, and every within-class pair has jaccard 1.0 ≥ any valid
    * threshold. Classes are disjoint per block, so no expanded pair is
    * emitted twice. Null-text docs produce no postings in the direct form
    * and are excluded from classes here — identical behavior. */
  def prefixFilteredJaccardPairsCollapsed(
      df: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String], minJaccard: Double): DataFrame =
    withExactDupCollapse(df, idCol, textCol, blockCols,
      reps => prefixFilteredJaccardPairs(reps, idCol, textCol, blockCols, minJaccard))

  /** [[ngramJaccardPairs]] with the same exact-duplicate pre-collapse as
    * [[prefixFilteredJaccardPairsCollapsed]] — the inverted-index form's
    * guard against mirror-heavy corpora, where a class of N byte-identical
    * docs otherwise injects a C(N,2) clique into every posting group.
    * Result-identical to the direct form (no `maxDf` here: the df cap
    * counts DOCS, which collapse changes — use the prefix-filtered form
    * when boilerplate shingles need lossless pruning). */
  def ngramJaccardPairsCollapsed(
      df: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String], minJaccard: Double): DataFrame = {
    require(minJaccard > 0.0 && minJaccard <= 1.0,
      s"minJaccard must be in (0, 1], got $minJaccard")
    withExactDupCollapse(df, idCol, textCol, blockCols,
      reps => ngramJaccardPairs(reps, idCol, textCol, blockCols, minJaccard))
  }

  /** The exact-duplicate pre-collapse harness shared by the collapsed pair
    * joins: group byte-identical (block, text) docs into classes, run
    * `pairFn` over ONE representative per class, then re-create member
    * pairs arithmetically at output time, where the clique is inherent to
    * the result size.
    *
    * Re-expansion is exact: members of one class share the rep's shingle
    * set, so every cross-class member pair has the rep pair's jaccard
    * verbatim, and every within-class pair has jaccard 1.0 ≥ any valid
    * threshold. Classes are disjoint per block, so no expanded pair is
    * emitted twice. Docs with a NULL text or a NULL block key never pair
    * in the direct forms (SQL join-equality semantics) and are excluded
    * from classes here — identical behavior. */
  private def withExactDupCollapse(
      df: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String],
      pairFn: DataFrame => DataFrame): DataFrame = {
    val keyCols = blockCols :+ textCol
    val keysNonNull = keyCols.map(col(_).isNotNull).reduce(_ && _)
    // ONE corpus pass builds classes AND membership: collect_list keeps each
    // class's member ids right in the class row (bounded by class size —
    // the same bound the within-class pair output already implies), so
    // member resolution below is a map-side explode over this cached frame
    // instead of a SECOND corpus scan + broadcast probe. Caches.pin
    // materializes it BEFORE any multi-branch job: concurrent branches
    // of an uncached persist race to compute the same partitions (each
    // branch pays the corpus scan — the measured regression when this
    // pin was dropped); see Caches.pin for the checkpoint-mode story.
    val classes = graft.util.Caches.pin(df
      .where(keysNonNull)
      .groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as("__rep"), count(lit(1)).as("__n"),
        collect_list(col(idCol)).as("__ids")))
    val reps = classes.select((col("__rep").as(idCol) +: keyCols.map(col)): _*)
    val repPairs = pairFn(reps)
    // dup-class membership (rep → every member id, rep included): only
    // classes with copies, exploded from the cached id lists — cheap enough
    // per consumer that no separate materialization (and no eager count) is
    // needed; member ORDER inside a list is nondeterministic, but every use
    // below is set-shaped (least/greatest + the final caller sort)
    val members = classes.where(col("__n") >= 2)
      .select(col("__rep"), explode(col("__ids")).as("__member"))
    // cross-class pairs: substitute each rep by its members (left join +
    // coalesce keeps singleton reps as themselves); repPairs is the small
    // side, so these resolve as broadcast probes of the member table
    val cross = repPairs
      .join(members.select(col("__rep").as("id_a"), col("__member").as("__ma")),
        Seq("id_a"), "left")
      .join(members.select(col("__rep").as("id_b"), col("__member").as("__mb")),
        Seq("id_b"), "left")
      .select(coalesce(col("__ma"), col("id_a")).as("__xa"),
        coalesce(col("__mb"), col("id_b")).as("__xb"), col("jaccard"))
      .select(least(col("__xa"), col("__xb")).as("id_a"),
        greatest(col("__xa"), col("__xb")).as("id_b"), col("jaccard"))
    // within-class pairs: the C(n,2) clique per dup class at jaccard 1.0 —
    // output-bound work (these pairs ARE in the exact result)
    val within = members.select(col("__rep"), col("__member").as("id_a"))
      .join(members.select(col("__rep"), col("__member").as("id_b")), Seq("__rep"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), lit(1.0).as("jaccard"))
    // The RESULT frame is pinned (lazily — no extra pass) because every
    // caller total-orders it for deterministic output, and a global sort's
    // range exchange runs its child TWICE: once to sample partition
    // boundaries, once to shuffle. Everything downstream of the last
    // shuffle here — the verification joins and this expansion — is
    // broadcast-joined, so without the pin the sampling pass re-executes
    // the entire verification stage (measured ~1.3 s of the q161 medians).
    // Pinned, the sampling pass populates the (result-sized) cache and the
    // shuffle pass reads it. Registered with Caches for release.
    graft.util.Caches.register(cross.unionByName(within)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
  }

  /** Test-set decontamination: for every corpus doc, how many of its DISTINCT
    * word 3-grams also occur anywhere in `evalDocs` — the overlap check a
    * training pipeline runs so benchmark material never leaks into training
    * data (the n-gram–collision methodology of published LLM training
    * reports, with n shrunk to 3 to fit the synthetic corpus).
    *
    * Shape: both sides explode to distinct n-gram postings; the eval side
    * collapses to a DISTINCT n-gram SET — its size is the eval SUITE's
    * vocabulary, tiny and independent of corpus scale — which is BROADCAST
    * to the corpus postings join. The corpus side is therefore one
    * map-side-only pass (explode → broadcast-hash probe → partial count),
    * and the only exchange is the per-doc count aggregation. A doc with
    * null/empty text has no n-grams and reports 0 shared.
    *
    * Returns every corpus row's id with `n_shared` (count of its distinct
    * n-grams that hit the eval set) and `contaminated` (n_shared > 0) —
    * filter or invert downstream to drop/keep. */
  /** Cross-doc repeated-span detection — the exact-substring dedup family
    * of the public training-data literature (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better": remove every ≥50-token
    * span that occurs twice anywhere in the corpus, found there with
    * suffix arrays). A suffix array is the wrong shape for a distributed
    * engine; the equivalent fixed-width formulation is: hash every
    * `spanTokens`-token sliding window, keep windows whose corpus-wide
    * occurrence count reaches `minDf` (within-doc repeats count — any
    * repeat is a repeat), and merge each doc's surviving window positions
    * into maximal repeated spans (gaps-and-islands over the 1-based token
    * positions: overlapping or adjacent windows fuse).
    *
    * Scale shape: the window table (corpus × avg-len rows, but only
    * (id, pos, hash48) wide — the text itself never replicates) is
    * computed ONCE and shuffles twice: by window hash for the occurrence
    * count (an unordered COUNT window frame — no sort), then only the
    * SURVIVING rows shuffle by doc for the island merge. No join, no
    * second corpus scan, no driver materialization. 48-bit hashing can
    * merge distinct windows (same accepted false-positive direction as
    * every hash-keyed stage here).
    *
    * `maxDf` is the open-web-scale stop-phrase guard (mirroring
    * [[ngramJaccardPairs]]): a corpus-wide hot window (a boilerplate
    * phrase in millions of docs) makes the count frame's partition huge —
    * WindowExec buffers a partition's rows before emitting. With maxDf
    * set, the df computation switches to a hash AGGREGATE (map-side
    * partial combine, so the hot hash concentrates one combined row per
    * map partition, never the raw rows) and the survivors come back via
    * an inner join whose probe side streams — hot-hash rows hash-probe,
    * miss, and drop without buffering. DROP SEMANTICS: a window with
    * df > maxDf is treated as NOT repeated — boilerplate that frequent is
    * a boilerplate-removal concern (q168), not span dedup — so its
    * positions never seed or extend an island. NOTE: __df counts window
    * OCCURRENCES, not distinct documents — within-doc repeats count toward
    * both minDf (deliberately: a phrase repeated inside one doc IS a
    * repeated span) and therefore also toward the maxDf cap; a phrase
    * repeated > maxDf times inside a single document is dropped like
    * corpus-wide boilerplate. Use countDistinct-on-id semantics upstream
    * if true document frequency is needed for the cap.
    *
    * Returns (idCol, island, start_pos, end_pos, span_tokens, n_windows),
    * positions 1-based inclusive, island numbered 1.. per doc in position
    * order. */
  def repeatedSpans(
      df: DataFrame, idCol: String, textCol: String,
      spanTokens: Int = 50, minDf: Long = 2L,
      maxDf: Option[Long] = None): DataFrame = {
    require(spanTokens > 0, s"spanTokens must be positive, got $spanTokens")
    require(minDf >= 2, s"minDf < 2 would flag every window as repeated, got $minDf")
    maxDf.foreach(m => require(m >= minDf,
      s"maxDf must be >= minDf ($minDf) to keep any window, got $m"))
    // tokenized ONCE into a column before the lambda: a raw split() inside
    // the transform body would re-tokenize the doc per window (O(tokens²))
    val words = col("__words")
    val wins = df
      .where(col(textCol).isNotNull)
      .select(col(idCol), split(col(textCol), " ").as("__words"))
      // the size guard must precede the sequence: Spark's sequence(1, n)
      // DESCENDS for n < 1 instead of returning empty
      .where(size(words) >= spanTokens)
      .select(col(idCol),
        explode(transform(sequence(lit(1), size(words) - spanTokens + 1), i =>
          struct(i.cast("int").as("pos"),
            TextAnalysis.hash48(
              array_join(slice(words, i, lit(spanTokens)), " ")).as("wh")))).as("w"))
      .select(col(idCol), col("w.pos").as("pos"), col("w.wh").as("wh"))
    val rep = maxDf match {
      case None =>
        wins
          .withColumn("__df", count(lit(1)).over(Window.partitionBy(col("wh"))))
          .where(col("__df") >= minDf)
          .select(col(idCol), col("pos"))
      case Some(m) =>
        val keep = wins.groupBy(col("wh")).agg(count(lit(1)).as("__df"))
          .where(col("__df") >= minDf && col("__df") <= m)
          .select(col("wh"))
        wins.join(keep, Seq("wh")).select(col(idCol), col("pos"))
    }
    val ord = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val prevEnd = max(col("pos") + lit(spanTokens - 1))
      .over(ord.rowsBetween(Window.unboundedPreceding, -1))
    rep
      .withColumn("__new",
        when(prevEnd.isNull || col("pos") > prevEnd + 1, 1L).otherwise(0L))
      .withColumn("island",
        sum(col("__new")).over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("island"))
      .agg(
        min(col("pos")).cast("long").as("start_pos"),
        (max(col("pos")) + lit(spanTokens - 1)).cast("long").as("end_pos"),
        (max(col("pos")) + lit(spanTokens - 1) - min(col("pos")) + 1).cast("long")
          .as("span_tokens"),
        count(lit(1)).as("n_windows"))
  }

  /** Corpus-wide exact SEGMENT dedup with document reassembly — the
    * line/paragraph-level dedup stage of a web-corpus pipeline (the CCNet /
    * RefinedWeb shape, where duplicated boilerplate LINES are dropped
    * corpus-wide while the host documents survive). The driver corpus has
    * no line structure, so segments are fixed windows of `segTokens`
    * space-separated tokens (the last segment of a doc may be shorter).
    *
    * Semantics: a segment INSTANCE survives iff it is the corpus-wide FIRST
    * occurrence of its content — lowest doc id, then lowest position within
    * that doc — so every later copy (including within-doc repeats) is
    * dropped; each document is rebuilt from its surviving segments joined
    * in position order (a document whose every segment is owned elsewhere
    * comes back empty, not missing). First-occurrence ownership is decided
    * by (id, pos), never by arrival or partition order, so the output is
    * deterministic under any partitioning.
    *
    * Scale shape (the 100 TB form): one in-stage Generate (1 → n/segTokens
    * rows), one hash AGGREGATE on the 48-bit segment hash for the owner
    * table (map-side partial combine — a boilerplate segment in millions of
    * docs concentrates to one combined row per map partition, never the raw
    * rows), one shuffle hash join of instances back to owners on the same
    * key (probe side streams), and one per-doc aggregate to reassemble.
    * No window over an unbounded partition anywhere. Ownership is a
    * lexicographic `min(struct(id, pos))` — structs order field-by-field,
    * so no arithmetic packing and no overflow for any id or segment count.
    *
    * Returns (idCol, n_segs, n_kept, text_dedup), one row per non-null-text
    * input doc. */
  def segmentDedup(
      df: DataFrame, idCol: String, textCol: String,
      segTokens: Int = 32): DataFrame = {
    require(segTokens > 0, s"segTokens must be positive, got $segTokens")
    val inst = segmentInstances(df, idCol, textCol, segTokens)
    val kept = inst
      .join(segmentOwners(df, idCol, textCol, segTokens)
        .select(col("seg_hash").as("__wh"), col("owner_key")), Seq("__wh"))
      .where(ownerKey(idCol) === col("owner_key"))
      .select(col(idCol), col("pos"))
    rebuildFromKept(df, kept, idCol, textCol, segTokens)
  }

  /** Lexicographic (id, pos) ownership key — struct ordering is
    * field-by-field, so `min` picks lowest id then lowest position with no
    * overflow for any id magnitude or per-doc segment count (the packed
    * id·2^20+pos form this replaces silently collided past 2^20 segments
    * or ids ≥ 2^43). */
  private def ownerKey(idCol: String) =
    struct(col(idCol).cast("long").as("id"), col("pos").as("pos"))

  /** The PERSISTABLE product of [[segmentDedup]]'s first pass: one row per
    * distinct segment content — (seg_hash, owner_key) with owner_key =
    * min(struct(id, pos)) — the store an incremental pipeline keeps between
    * snapshots (the segment-level sibling of [[minhashBuckets]]'s
    * signature store; [[segmentDedupIncrement]] consumes it). */
  def segmentOwners(
      df: DataFrame, idCol: String, textCol: String,
      segTokens: Int = 32): DataFrame = {
    require(segTokens > 0, s"segTokens must be positive, got $segTokens")
    segmentInstances(df, idCol, textCol, segTokens)
      .groupBy(col("__wh").as("seg_hash"))
      .agg(min(ownerKey(idCol)).as("owner_key"))
  }

  /** Incremental twin of [[segmentDedup]]: dedup an INCREMENT of new docs
    * against a stored base-corpus [[segmentOwners]] table without touching
    * the base text — a new segment instance survives iff its content is
    * absent from the store AND it is the first occurrence within the
    * increment ((id, pos) ownership, deterministic under any
    * partitioning). Same plan family as the full pass plus one left-anti
    * hash join against the store. */
  def segmentDedupIncrement(
      newDocs: DataFrame, storedOwners: DataFrame, idCol: String,
      textCol: String, segTokens: Int = 32): DataFrame = {
    require(segTokens > 0, s"segTokens must be positive, got $segTokens")
    val inst = segmentInstances(newDocs, idCol, textCol, segTokens)
    val novel = inst.join(
      storedOwners.select(col("seg_hash").as("__wh")), Seq("__wh"), "left_anti")
    val owners = novel.groupBy(col("__wh")).agg(min(ownerKey(idCol)).as("__owner_key"))
    val kept = novel
      .join(owners, Seq("__wh"))
      .where(ownerKey(idCol) === col("__owner_key"))
      .select(col(idCol), col("pos"))
    rebuildFromKept(newDocs, kept, idCol, textCol, segTokens)
  }

  /** (id, pos, __wh): every fixed-width segment instance of every
    * non-null-text doc, content reduced to the shared 48-bit hash. */
  private def segmentInstances(
      df: DataFrame, idCol: String, textCol: String, segTokens: Int): DataFrame = {
    // tokenized ONCE into a column before the lambda: a raw split() inside
    // the transform body would re-tokenize the doc per segment
    val words = col("__words")
    val nSegs = ceil(size(words).cast("double") / segTokens).cast("int")
    df.where(col(textCol).isNotNull)
      .select(col(idCol), split(col(textCol), " ").as("__words"))
      .select(col(idCol),
        posexplode(transform(sequence(lit(0), nSegs - 1), k =>
          array_join(slice(words, k * segTokens + 1, lit(segTokens)), " "))))
      .select(col(idCol), col("pos").cast("long").as("pos"),
        TextAnalysis.hash48(col("col")).as("__wh"))
  }

  /** Rebuild each doc's text from its surviving segment positions —
    * re-derives segment text from the doc row (cheap transform) instead of
    * carrying seg strings through the shuffle twice. */
  private def rebuildFromKept(
      df: DataFrame, kept: DataFrame, idCol: String, textCol: String,
      segTokens: Int): DataFrame = {
    val words = split(col(textCol), " ")
    val nSegs = ceil(size(words).cast("double") / segTokens).cast("int")
    val keptAgg = kept.groupBy(col(idCol))
      .agg(sort_array(collect_list(col("pos"))).as("__kept_pos"))
    df.where(col(textCol).isNotNull)
      .select(col(idCol), words.as("__words"), nSegs.cast("long").as("n_segs"))
      .join(keptAgg, Seq(idCol), "left")
      .select(col(idCol), col("n_segs"),
        coalesce(size(col("__kept_pos")), lit(0)).cast("long").as("n_kept"),
        when(col("__kept_pos").isNull, lit(""))
          .otherwise(array_join(
            transform(col("__kept_pos"), p =>
              array_join(slice(col("__words"),
                (p * segTokens).cast("int") + 1, lit(segTokens)), " ")),
            " ")).as("text_dedup"))
  }

  def contaminationReport(
      corpus: DataFrame, evalDocs: DataFrame, idCol: String, textCol: String): DataFrame = {
    def grams(df: DataFrame, cols: Seq[Column]): DataFrame = df
      .withColumn("__words", split(col(textCol), " "))
      .select(cols :+ explode(shingles(col(textCol), col("__words"))).as("__g"): _*)
      .distinct()
    val evalGrams = grams(evalDocs, Nil)
    val hits = grams(corpus, Seq(col(idCol)))
      .join(broadcast(evalGrams), Seq("__g"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared"))
    corpus.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) > 0).as("contaminated"))
  }

  /** Overlap-FRACTION decontamination — the thresholded form of
    * [[contaminationReport]] that published pipelines apply on
    * template-heavy web corpora, where ANY-overlap annihilates the corpus
    * (boilerplate n-grams appear in every doc): report each corpus doc's
    * distinct-gram total alongside its eval-shared count, so callers gate
    * on the ratio (exactly, via integer cross-multiplication: dirty iff
    * `n_shared · k > n_grams` for a fraction 1/k).
    *
    * One corpus scan: the distinct postings LEFT-join the broadcast eval
    * gram set and ONE per-doc aggregate counts both totals and hits —
    * never two passes over the postings.
    * @return (idCol, n_grams, n_shared) for every non-null-text corpus doc */
  def contaminationFractions(
      corpus: DataFrame, evalDocs: DataFrame, idCol: String, textCol: String): DataFrame = {
    def grams(df: DataFrame, cols: Seq[Column]): DataFrame = df
      .withColumn("__words", split(col(textCol), " "))
      .select(cols :+ explode(shingles(col(textCol), col("__words"))).as("__g"): _*)
      .distinct()
    val evalGrams = grams(evalDocs, Nil).withColumn("__hit", lit(1))
    grams(corpus, Seq(col(idCol)))
      .join(broadcast(evalGrams), Seq("__g"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"), count(col("__hit")).as("n_shared"))
  }

  /** [[contaminationReport]] for eval suites too large to broadcast as an
    * exact gram set — the shape that survives when the held-out benchmark
    * union is itself hundreds of GB.
    *
    * Same EXACT result (bit-identical, same oracle): a Bloom filter over the
    * eval grams prunes the corpus gram stream at the SCAN stage, and the
    * survivors are verified with a real shuffle equi-join against the eval
    * grams. False positives only pass the prefilter, never the verify join,
    * so the false-positive rate trades shuffle volume, not correctness —
    * with web-scale corpora the overwhelming majority of corpus grams are
    * clean, so the sketch (a few hundred MB at billions of eval grams vs the
    * tens-of-GB exact set) drops ~(1 − fpp) of the gram shuffle.
    *
    * Scale shape: one pass over eval grams to build the sketch (distributed
    * aggregate, merged on the driver like any broadcast build), one filtered
    * corpus scan, one equi-join whose left side is already ≈ the true hit
    * set. Size `expectedGrams` at or above the eval side's distinct-gram
    * count; undersizing degrades fpp toward 1 (filter prunes nothing, join
    * still exact). */
  def contaminationReportBloom(
      corpus: DataFrame, evalDocs: DataFrame, idCol: String, textCol: String,
      expectedGrams: Long = 1000000L, fpp: Double = 0.01): DataFrame = {
    def grams(df: DataFrame, cols: Seq[Column]): DataFrame = df
      .withColumn("__words", split(col(textCol), " "))
      .select(cols :+ explode(shingles(col(textCol), col("__words"))).as("__g"): _*)
      .distinct()
    // pinned: the sketch build below is an EAGER action over the eval grams
    // and the verify join re-reads them — without the persist the
    // (potentially hundreds-of-GB) eval explode+distinct would run twice.
    // Registered with Caches; runners release after materialization.
    val evalGrams = graft.util.Caches.register(grams(evalDocs, Nil)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val bf = evalGrams.stat.bloomFilter("__g", expectedGrams, fpp)
    // same lifecycle as a broadcast-join relation: the UDF closure is the
    // only reference, ContextCleaner reclaims the blocks with the plan
    val bcast = corpus.sparkSession.sparkContext.broadcast(bf)
    val mightContain = udf { g: String => g != null && bcast.value.mightContainString(g) }
    val hits = grams(corpus, Seq(col(idCol)))
      .where(mightContain(col("__g")))
      .join(evalGrams, Seq("__g"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared"))
    corpus.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) > 0).as("contaminated"))
  }

  /** Connected components over an undirected dup-pair edge list — the dedup
    * endgame: candidate pairs only say "a ~ b"; keeping one doc per
    * TRANSITIVE duplicate class needs the component structure (a~b, b~c ⇒
    * one keeper among {a,b,c}).
    *
    * Iterative min-label propagation, all DataFrame ops: each round every
    * node adopts the smallest label among itself and its neighbors; fixpoint
    * = every node carries its component's minimum id. Each round is one
    * shuffle join + one hash aggregate — the plan that scales out — and
    * `localCheckpoint` truncates lineage so the plan does not grow with the
    * iteration count (at 100 TB swap it for a reliable `checkpoint`).
    * Rounds needed = graph diameter; near-dup clusters are shallow
    * star-like blobs in practice (diameter ~2-4). For adversarial long-chain
    * graphs the large-star/small-star contraction (Kiveris et al., "CC in
    * MapReduce and Spark") drops this to O(log d) — noted, not needed here.
    *
    * Returns (id, cluster_id) for every node that appears in any edge;
    * deterministic (exact min per component) regardless of execution order.
    */
  def connectedComponents(
      edges: DataFrame, aCol: String, bCol: String, maxIter: Int = 25): DataFrame =
    connectedComponents(edges, aCol, bCol, maxIter, starContraction = false)

  /** Throws `IllegalArgumentException` unless column `c` of `df` is
    * integral: `op` keys on longs, and a cast of any other type would
    * null out or change the key without an error. */
  private[ext] def requireIntegral(df: DataFrame, c: String, op: String): Unit = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    df.schema(c).dataType match {
      case LongType | IntegerType | ShortType | ByteType => ()
      case t => throw new IllegalArgumentException(
        s"$op requires integral id/key columns, got $c: ${t.simpleString} " +
          "(map string/UUID ids to a surrogate long first)")
    }
  }

  /** As [[connectedComponents]], with an algorithm switch:
    * `starContraction = true` runs the alternating large-star/small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", 2014) instead of min-label propagation. Label propagation
    * needs diameter-many rounds — right for the shallow star-like blobs
    * near-dup clusters form (d ≈ 2-4), wrong for adversarial long chains
    * (a 1000-node path = 1000 rounds). Star contraction converges in
    * O(log d) alternations: each large-star hangs every node's larger
    * neighbors off its local minimum (halving tree heights), each
    * small-star re-centers the smaller neighbors, and the fixpoint is a
    * union of stars whose centers are the component minima. Both phases
    * are one groupBy-min + one equi-join on the CURRENT edge set — edges
    * shrink toward |nodes−1|, so later rounds get cheaper, and no step
    * ever materializes more than the symmetrized edge list. */
  def connectedComponents(
      edges: DataFrame, aCol: String, bCol: String, maxIter: Int,
      starContraction: Boolean): DataFrame = {
    // both algorithms label with longs; a non-integral id column would
    // null out under cast("long") and be silently DROPPED by the isNotNull
    // filters — refuse loudly instead (same contract as dedupCorpus)
    Seq(aCol, bCol).foreach(requireIntegral(edges, _, "connectedComponents"))
    if (starContraction) connectedComponentsStar(edges, aCol, bCol, maxIter)
    else connectedComponentsLabel(edges, aCol, bCol, maxIter)
  }

  /** Large-star phase: for every node u (both edge directions), hang each
    * STRICTLY LARGER neighbor v > u onto m = min(Γ(u) ∪ {u}). Output edges
    * are canonical (hi, lo): v > u ≥ m. */
  private def largeStar(canon: DataFrame): DataFrame = {
    val sym = canon.union(canon.select(col("lo").as("hi"), col("hi").as("lo")))
      .toDF("u", "v")
    val mins = sym.groupBy(col("u"))
      .agg(min(col("v")).as("__mn"))
      .select(col("u"), least(col("__mn"), col("u")).as("m"))
    sym.join(mins, "u")
      .where(col("v") > col("u"))
      .select(col("v").as("hi"), col("m").as("lo"))
      .where(col("hi") =!= col("lo"))
      .distinct()
  }

  /** Small-star phase: every node u with its SMALLER neighbors N (canonical
    * edges already point hi→lo, so N = {v : (u, v)}), m = min(N); re-hang
    * N \ {m} and u itself onto m. Output stays canonical (both v and u
    * exceed m). */
  private def smallStar(canon: DataFrame): DataFrame = {
    val mins = canon.groupBy(col("hi")).agg(min(col("lo")).as("m"))
    canon.join(mins, "hi")
      .where(col("lo") =!= col("m"))
      .select(col("lo").as("hi"), col("m").as("lo"))
      .union(mins.select(col("hi"), col("m").as("lo")))
      .distinct()
  }

  private def connectedComponentsStar(
      edges: DataFrame, aCol: String, bCol: String, maxIter: Int): DataFrame = {
    // LAZY checkpoints throughout the setup: raw and canon materialize
    // into the block store during the FIRST stats job below (the same
    // one-job-per-step discipline the alternation loop uses) instead of
    // paying three eager setup jobs; nodes is consumed exactly once (the
    // final labeling join) over raw's saved blocks, so it needs no
    // checkpoint at all. Iterative rounds live or die on job count.
    val raw = edges
      .select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .where(col("a").isNotNull && col("b").isNotNull)
      .localCheckpoint(false)
    val nodes = raw.select(col("a").as("id"))
      .union(raw.select(col("b").as("id"))).distinct()
    var canon = raw
      .select(greatest(col("a"), col("b")).as("hi"), least(col("a"), col("b")).as("lo"))
      .where(col("hi") =!= col("lo"))
      .distinct()
      .localCheckpoint(false)
    // per-round fixpoint screen: (count, XOR of xxhash64(hi, lo)) — a
    // single map-side-combinable aggregation over ONE edge set, vs the
    // exact symmetric-difference check which shuffles BOTH rounds' edge
    // sets. XOR is order-independent and overflow-free (a sum would trip
    // ANSI long overflow), and both sides are DISTINCT sets so no multiset
    // cancellation applies; it is a sound equality witness up to a
    // 2^-64-ish collision — and a stats match is only a CANDIDATE
    // fixpoint: the exact set check below confirms it before the loop may
    // exit, so convergence stays exact, with the expensive check running
    // once instead of every round.
    def edgeStats(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), expr("bit_xor(xxhash64(hi, lo))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var canonStats = edgeStats(canon)
    var converged = canonStats._1 == 0L
    var i = 0
    while (!converged && i < maxIter) {
      // LAZY checkpoint: the stats screen below is the round's ONLY job —
      // it materializes `next` into the block store as it scans, so each
      // alternation costs one job, not a checkpoint job plus a check job.
      // Iterative rounds live or die on per-round job count.
      val next = smallStar(largeStar(canon)).localCheckpoint(false)
      val nextStats = edgeStats(next)
      if (nextStats == canonStats) {
        // exact set fixpoint (both sides distinct): symmetric difference
        // empty ⟺ equal sets (rows in exactly one side have union-count 1).
        // At the fixpoint every component is a star centered at its minimum.
        converged = next.union(canon)
          .groupBy(col("hi"), col("lo")).agg(count(lit(1)).as("__c"))
          .where(col("__c") === 1)
          .isEmpty
      }
      canon = next
      canonStats = nextStats
      i += 1
    }
    require(converged,
      s"connectedComponents(star) did not converge in $maxIter alternations")
    nodes
      .join(canon.select(col("hi").as("id"), col("lo").as("ctr")), Seq("id"), "left")
      .select(col("id"), coalesce(col("ctr"), col("id")).as("cluster_id"))
  }

  private def connectedComponentsLabel(
      edges: DataFrame, aCol: String, bCol: String, maxIter: Int): DataFrame = {
    // materialize the DIRECTED edges before symmetrizing: the union below
    // references them twice, and Spark does not share non-cached subplans
    // across union branches — without this the upstream pair pipeline
    // (signatures + bucket join) would execute twice. LAZY: the blocks
    // save during adj's materialization — one setup job, not two.
    val sym = edges
      .select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .localCheckpoint(false)
    // reused every round: leave the edge list HASH-PARTITIONED BY src so
    // each round's edge⋈label join reuses this layout — only the (tiny)
    // label table shuffles per round, never the edge list
    val adj = sym.union(sym.select(col("dst").as("src"), col("src").as("dst")))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      .repartition(col("src"))
      .localCheckpoint(false)
    var labels = adj.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label"))
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      val nbrMin = adj
        .join(labels.select(col("id").as("src"), col("label")), "src")
        .groupBy(col("dst").as("id"))
        .agg(min(col("label")).as("nbr"))
      // LAZY checkpoint: the `changed` count below is the round's ONLY
      // job — it materializes next into the block store as it counts,
      // halving the per-round job count (the star loop's discipline)
      val next = labels
        .join(nbrMin, Seq("id"), "left")
        .select(
          col("id"),
          least(col("label"), coalesce(col("nbr"), col("label"))).as("label"),
          (col("nbr") < col("label")).as("chg"))
        .localCheckpoint(false)
      changed = next.where(col("chg")).count()
      labels = next.select(col("id"), col("label"))
      i += 1
    }
    require(changed == 0L,
      s"connectedComponents did not converge in $maxIter rounds — component diameter exceeds maxIter")
    labels.select(col("id"), col("label").as("cluster_id"))
  }

  /** End-to-end corpus dedup: minhash-LSH pairs → connected components →
    * ONE surviving row per duplicate class, chosen by `keepBy` descending
    * (ties → lowest id); docs in no duplicate class survive untouched as
    * their own singleton cluster. Returns the surviving rows with all of
    * `docs`' columns plus `cluster_id`.
    *
    * Scale shape: the pair/cluster stages touch only docs that collide in
    * some LSH bucket (tiny vs corpus); the final keeper choice is one
    * shuffle of the corpus by cluster_id (overwhelmingly singletons) and a
    * per-cluster row_number — the same one-exchange cost as any keyed
    * aggregation of the corpus. */
  def dedupCorpus(
      docs: DataFrame, idCol: String, textCol: String, keepBy: Column,
      numPerm: Int = 16, bands: Int = 4): DataFrame = {
    // the cluster labels are longs (connectedComponents casts its edge
    // ids); a non-integral id would null out under the cast and every doc
    // would collapse into the NULL cluster — refuse loudly instead
    requireIntegral(docs, idCol, "dedupCorpus")
    val clusters = connectedComponents(
      minhashCandidatePairs(docs, idCol, textCol, numPerm, bands), "id_a", "id_b")
    val withCluster = docs
      .join(clusters.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col(idCol).cast("long")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id")).orderBy(keepBy.desc, col(idCol))
    withCluster
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): embedding-space
    * deduplication that only ever compares WITHIN a coarse cluster.
    *
    * Every vector is assigned to its most-cosine-similar centroid
    * (broadcast — the centroid table is k rows); pairs inside one cluster
    * with cosine ≥ `threshold` form the semantic-duplicate graph; its
    * connected components (star contraction, O(log d) alternations) are
    * the duplicate groups, and per group the paper's keeper rule applies:
    * KEEP the example LEAST similar to its centroid (ties → smaller id) —
    * the most "extreme" representative — and drop the rest.
    *
    * Scale shape: the cluster assignment is one broadcast-product argmax
    * (no shuffle of scores); the pair join is cluster-bucketed, so the pair
    * space is Σ_c |c|² — the whole point of SemDeDup vs all-pairs cosine;
    * components run on the (sparse) above-threshold edges only. Centroids
    * come from the caller: [[Similarity.fitCentroids]] is the production
    * fit, a deterministic stride-sample is the reproducible-gate form (the
    * q212 discipline). The assigned frame feeds the two pair sides and the
    * final report, so it is Caches-pinned and eagerly materialized.
    *
    * Returns one row per corpus vector: (`idCol`, cid, sim_c, comp, keep)
    * where comp is the duplicate-group label (its minimal member id;
    * singletons label themselves) and sim_c the similarity to the assigned
    * centroid.
    *
    * `maxClusterSize` is the giant-cluster guard: the within-cluster pair
    * space is Σ_c |c|², which one skewed coarse cluster (bad centroids, a
    * near-duplicate-saturated corpus) degenerates toward n² in a single
    * join key. With a cap, any cluster larger than the cap is
    * stride-split into ceil(|c|/cap) sub-buckets by a deterministic
    * member-id hash (the repo's shared 48-bit md5 — oracle-replayable),
    * and pairs are generated per (cluster, sub-bucket): the pair space is
    * bounded near cap·n regardless of skew. Result-EQUIVALENT to the
    * unguarded form whenever every cluster is at or under the cap (one
    * sub-bucket ⇒ same pairs); over the cap it trades cross-sub-bucket
    * duplicate edges for the bound — SemDeDup's own extreme-dedup regime
    * already accepts approximate grouping (the paper dedups within coarse
    * clusters only, dropping cross-cluster pairs by design; this is the
    * same cut one level down). Hash-stride bucket sizes are expected
    * |c|/ceil(|c|/cap) — concentration at large |c| keeps them within a
    * few percent of the cap. Scale law (`ScaleLawSpec`): on one cluster
    * holding every vector, all pairs above the threshold, doubling n from
    * 300 to 600 multiplies the shuffled records ×3.9 uncapped and ×2.0
    * at cap 50. */
  def semDedup(corpus: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, cidCol: String, cVecCol: String,
      threshold: Double, maxIter: Int = 25,
      maxClusterSize: Int = Int.MaxValue): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    require(maxClusterSize > 0,
      s"maxClusterSize must be positive, got $maxClusterSize")
    val cents = centroids.select(
      col(cidCol).as("__cid"), col(cVecCol).cast("array<double>").as("__cv"))
    val vecs = corpus
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("__v"))
    // the broadcast product is n·k rows — project ONLY scalars through it
    // (id, cid, cosine): dragging the d-dim vector into the aggregation
    // buffers would materialize it n·k times; the vector joins back by id
    // afterwards, one corpus-sized hash join
    // eager pin: three uncached consumers would race re-scans
    val assigned = graft.util.Caches.pin(vecs
      .crossJoin(broadcast(cents))
      .select(col("id"), col("__cid"),
        Similarity.cosine(col("__v"), col("__cv")).as("__s"))
      .groupBy(col("id"))
      .agg(max_by(struct(col("__cid"), col("__s")),
        struct(col("__s"), -col("__cid"))).as("__best"))
      .select(col("id"),
        col("__best.__cid").as("cid"), col("__best.__s").as("sim_c"))
      .join(vecs, Seq("id")))
    // giant-cluster guard: sub-split oversized clusters before pairing.
    // The size table is one hash agg over the PINNED assigned frame —
    // k-ish rows, broadcast back.
    val (pairSide, joinKeys) =
      if (maxClusterSize == Int.MaxValue) (assigned, Seq("cid"))
      else {
        val sizes = assigned.groupBy(col("cid")).agg(count(lit(1)).as("__csz"))
        val sub = assigned.join(broadcast(sizes), Seq("cid"))
          .withColumn("__sub", pmod(
            TextAnalysis.hash48(col("id").cast("string")),
            ceil(col("__csz").cast("double") / maxClusterSize).cast("long")))
          .drop("__csz")
        (sub, Seq("cid", "__sub"))
      }
    val a = pairSide.select(
      (joinKeys.map(col) :+ col("id").as("id_a") :+ col("__v").as("__va")): _*)
    val b = pairSide.select(
      (joinKeys.map(col) :+ col("id").as("id_b") :+ col("__v").as("__vb")): _*)
    val edges = a.join(b, joinKeys)
      .where(col("id_a") < col("id_b"))
      .where(Similarity.cosine(col("__va"), col("__vb")) >= threshold)
      .select(col("id_a"), col("id_b"))
    val comps = connectedComponents(edges, "id_a", "id_b", maxIter,
      starContraction = true)
    val labeled = assigned.select(col("id"), col("cid"), col("sim_c"))
      .join(comps, Seq("id"), "left")
      .withColumn("comp", coalesce(col("cluster_id"), col("id").cast("long")))
      .drop("cluster_id")
    // keeper per duplicate group: least-similar-to-centroid, ties by id —
    // a keyed min over (sim_c, id); groups are tiny, the exchange is O(|groups|)
    val keepers = labeled.groupBy(col("comp"))
      .agg(min(struct(col("sim_c"), col("id"))).as("__k"))
      .select(col("comp"), col("__k.id").as("__keep_id"))
    labeled.join(keepers, Seq("comp"))
      .select(col("id").as(idCol), col("cid"), col("sim_c"), col("comp"),
        (col("id") === col("__keep_id")).as("keep"))
  }

  /** Perceptual-hash image near-duplicate pairs — the image twin of the
    * simhash text pipeline, over [[Multimodal.averageHash]]'s two-half
    * 64-bit aHash: the hash splits into four 16-bit bands (two per half),
    * candidates are exact-match bucket joins per band (pigeonhole: two
    * hashes within hamming ≤ 3 MUST agree on at least one of 4 bands, so
    * recall is total for `maxHamming` ≤ 3 — the standard aHash dup
    * threshold), and the verify stage computes the exact hamming distance
    * `bit_count(hi⊕hi) + bit_count(lo⊕lo)`. Never all-pairs: the pair
    * space is Σ per-bucket |b|², the banding discipline every dedup
    * family here uses. Rows with `hashOk = false` (undecodable payloads)
    * are excluded — a corrupt image matches nothing rather than
    * everything (an all-zero hash would bucket-collide with every other
    * corrupt image).
    * @param hashes ([[Multimodal.ImageHash]]-shaped: id, hashOk, hi, lo)
    * @return (id_a, id_b, hamming) with id_a < id_b, hamming ≤ maxHamming */
  def imageDupPairs(hashes: DataFrame, idCol: String, hiCol: String,
      loCol: String, maxHamming: Int, okCol: String = "hashOk"): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4-band pigeonhole recall only holds for maxHamming in [0, 3], got $maxHamming")
    val ok = hashes
      .where(col(okCol))
      .select(col(idCol).as("id"), col(hiCol).as("__hi"), col(loCol).as("__lo"))
    val banded = ok.select(col("id"), col("__hi"), col("__lo"),
      explode(array(
        struct(lit(0).as("band"), (shiftright(col("__hi"), 16) bitwiseAND lit(0xFFFFL)).as("key")),
        struct(lit(1).as("band"), (col("__hi") bitwiseAND lit(0xFFFFL)).as("key")),
        struct(lit(2).as("band"), (shiftright(col("__lo"), 16) bitwiseAND lit(0xFFFFL)).as("key")),
        struct(lit(3).as("band"), (col("__lo") bitwiseAND lit(0xFFFFL)).as("key")))).as("__b"))
      .select(col("id"), col("__hi"), col("__lo"),
        col("__b.band").as("band"), col("__b.key").as("key"))
    val a = banded.select(col("band"), col("key"), col("id").as("id_a"),
      col("__hi").as("__hia"), col("__lo").as("__loa"))
    val b = banded.select(col("band"), col("key"), col("id").as("id_b"),
      col("__hi").as("__hib"), col("__lo").as("__lob"))
    a.join(b, Seq("band", "key"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (bit_count(col("__hia").bitwiseXOR(col("__hib"))) +
         bit_count(col("__loa").bitwiseXOR(col("__lob")))).cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct() // a pair can agree on several bands
  }

  /** Edit-distance verification of LSH candidate pairs — the exact-verify
    * stage of a character-level near-dup pipeline: MinHash banding proposes
    * (cheap, recall-oriented), Levenshtein disposes (exact, precision).
    * The candidate set comes from [[minhashCandidatePairs]] (or any
    * (id_a, id_b) frame), texts are joined back (candidates are sparse —
    * two hash joins keyed by id move only candidate texts, never the
    * corpus cross product), and each pair gets its exact edit distance
    * plus a NORMALIZED verdict: near ⇔ lev·100 ≤ pct·max(len_a, len_b),
    * decided by integer cross-multiplication so the boundary is exact in
    * every engine (a lev/maxLen double could round across the threshold).
    *
    * Levenshtein is O(len_a·len_b) PER PAIR — fine on verify-stage
    * volumes, but at open-web document lengths cap the work: Spark's
    * three-arg `levenshtein(l, r, threshold)` abandons a pair once the
    * distance provably exceeds pct·maxLen/100 (banded DP, O(len·threshold))
    * — the production swap once a gate no longer needs the full distance
    * replayed by the oracle. Empty-vs-empty pairs (maxLen 0) are near.
    *
    * Output: (id_a, id_b, lev, max_len, near). */
  def editVerifiedPairs(df: DataFrame, candidates: DataFrame,
      idCol: String, textCol: String, maxDistancePct: Int): DataFrame = {
    require(maxDistancePct >= 0 && maxDistancePct <= 100,
      s"maxDistancePct must be in [0, 100], got $maxDistancePct")
    val texts = df.select(col(idCol), coalesce(col(textCol), lit("")).as("__t"))
    candidates
      .join(texts.select(col(idCol).as("id_a"), col("__t").as("__ta")), Seq("id_a"))
      .join(texts.select(col(idCol).as("id_b"), col("__t").as("__tb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        levenshtein(col("__ta"), col("__tb")).cast("long").as("lev"),
        greatest(length(col("__ta")), length(col("__tb"))).cast("long").as("max_len"))
      .withColumn("near", col("lev") * 100 <= col("max_len") * maxDistancePct)
  }
}
