package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Two paths:
  *  - brute-force top-k: exact, O(queries × corpus). Queries are broadcast,
  *    so the corpus is scanned once with no shuffle of the big side; the
  *    per-query top-k is a bounded window. Right when |queries| is small.
  *  - LSH-bucketed ANN: a deterministic sign-bit bucket per vector; the join
  *    is an equi-join on the bucket id — near-linear, the 100 TB path. Probing
  *    multiple buckets (hamming-adjacent) trades recall for cost.
  *
  * All arithmetic is double-precision, strictly left-to-right folds, mirrored
  * exactly by the DuckDB oracle (`list_transform` + ordered `list_sum`).
  */
object Similarity {

  /** cosine(a, b) = Σaᵢbᵢ/(√Σaᵢ²·√Σbᵢ²): the native codegen'd
    * [[graft.functions.CosineSimilarity]] expression — a tight primitive
    * loop inside whole-stage codegen. Elements are cast to double BEFORE
    * multiplying and accumulated strictly left-to-right, so results are
    * bit-identical to the DuckDB oracle's ordered list folds (and to
    * [[cosineComposable]]). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.cosineSim(a, b)

  /** L2 norm via the native [[graft.functions.DotProduct]] expression. */
  def l2Norm(v: Column): Column =
    sqrt(graft.functions.VectorFunctions.dotProduct(v, v))

  /** The same cosine as a composition of built-in higher-order functions —
    * kept as the pure-builtin reference implementation (tests assert the
    * native expression matches it bit-for-bit). HOF lambdas run interpreted,
    * so prefer [[cosine]] on any hot path. */
  def cosineComposable(a: Column, b: Column): Column = {
    val ad = a.cast("array<double>")
    val bd = b.cast("array<double>")
    val dot = aggregate(zip_with(ad, bd, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val na = aggregate(transform(ad, x => x * x), lit(0.0), (acc, x) => acc + x)
    val nb = aggregate(transform(bd, x => x * x), lit(0.0), (acc, x) => acc + x)
    dot / (sqrt(na) * sqrt(nb))
  }

  /** Exact top-k neighbors per query vector (brute force).
    *
    * The corpus is scanned ONCE against broadcast queries, and the per-query
    * reduction is the bounded [[graft.functions.TopKBySim]] Aggregator: the
    * k-element buffers combine map-side, so the exchange carries only
    * |queries|·k rows — a `row_number` window here would instead shuffle and
    * sort every scored (query, candidate) pair, which is exactly what cannot
    * survive a 100 TB corpus.
    *
    * @param queries  (qIdCol, vecCol) — SMALL (broadcast)
    * @param corpus   (idCol, vecCol)  — arbitrarily large
    */
  def bruteForceTopK(
      queries: DataFrame, corpus: DataFrame,
      qIdCol: String, idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(qIdCol).as("q_id"), col(vecCol).as("q_vec")))
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
    val scored = c.crossJoin(q)
      .where(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"), cosine(col("q_vec"), col("n_vec")).as("sim"))
    rankTopK(scored, Seq("q_id"), k)
  }

  /** Exact top-k by SQUARED L2 DISTANCE (ascending) — the exact twin of
    * [[pqTopK]]'s metric, so PQ recall audits compare like with like.
    * Same scale shape as [[bruteForceTopK]]: broadcast queries, one corpus
    * scan, bounded top-k reduction.
    * @return (q_id, rank, n_id, dist) */
  def bruteForceTopKL2(
      queries: DataFrame, corpus: DataFrame,
      qIdCol: String, idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(qIdCol).as("q_id"), col(vecCol).as("q_vec")))
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
    val scored = c.crossJoin(q)
      .where(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"),
        (-l2DistSq(col("q_vec"), col("n_vec"))).as("sim"))
    rankTopK(scored, Seq("q_id"), k)
      .select(col("q_id"), col("rank"), col("n_id"), (-col("sim")).as("dist"))
  }

  /** Deterministic Lloyd's k-means for the IVF coarse quantizer — so
    * [[ivfTopK]]'s centroid table can be FIT, not just injected.
    *
    * Init is the k corpus vectors with smallest `(hash48(id), id)` —
    * pseudorandom w.r.t. storage order yet exactly reproducible. Each round:
    * assign every vector to its nearest centroid (cosine, broadcast
    * centroids, max_by partial agg — no shuffle of scores), then recompute
    * centers as element-wise means via posexplode + codegen avg (rows×dim
    * exploded rows shuffle as (cid, pos) partials — the standard distributed
    * mean). Empty clusters keep their previous center. Per-round lineage is
    * truncated, so `iters` rounds cost `iters` jobs, not a growing plan.
    * Double means are partition-order-dependent in the last ulps (like every
    * distributed float mean); assignments are argmax over well-separated
    * scores and stable in practice.
    *
    * Returns (cidCol long 0..k-1, vecCol array<double>), the shape
    * [[ivfTopK]] takes. */
  def fitCentroids(
      corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int = 5,
      cidCol: String = "cid", outVecCol: String = "embedding"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(iters >= 0, s"iters must be non-negative, got $iters")
    // the corpus is re-scanned every round — materialize it once (the same
    // cache every iterative k-means implementation keeps)
    val vecs = corpus
      .select(col(idCol).as("__vid"), col(vecCol).cast("array<double>").as("__v"))
      .localCheckpoint()
    var cents = seedCentroids(vecs, k).localCheckpoint()
    for (_ <- 0 until iters) {
      val assigned = vecs.crossJoin(broadcast(cents))
        .select(col("__vid"), col("__v"), col("cid"),
          cosine(col("__v"), col("c_vec")).as("s"))
        .groupBy(col("__vid"))
        .agg(
          max_by(col("cid"), struct(col("s"), -col("cid"))).as("cid"),
          first(col("__v")).as("__v"))
      val means = assigned
        .select(col("cid"), posexplode(col("__v")).as(Seq("pos", "x")))
        .groupBy(col("cid"), col("pos")).agg(avg(col("x")).as("m"))
        .groupBy(col("cid"))
        .agg(collect_list(struct(col("pos"), col("m"))).as("pm"))
        .select(col("cid"),
          transform(array_sort(col("pm")), s => s.getField("m")).as("new_vec"))
      cents = cents.join(means, Seq("cid"), "left")
        .select(col("cid"), coalesce(col("new_vec"), col("c_vec")).as("c_vec"))
        .localCheckpoint()
    }
    cents.select(col("cid").as(cidCol), col("c_vec").as(outVecCol))
  }

  /** Seed stage of [[fitCentroids]]: the k vectors with smallest
    * `(hash48(id), id)`, numbered 0..k-1. orderBy+limit plans as a
    * DISTRIBUTED partial top-k (TakeOrderedAndProject) — never a global
    * single-partition sort; the k winners are tiny, so numbering them with
    * a window is free. Package-private so the plan spec can pin the shape. */
  private[graft] def seedCentroids(vecs: DataFrame, k: Int): DataFrame = {
    val seedKey = graft.ext.TextAnalysis.hash48(col("__vid").cast("string"))
    val seedW = Window.orderBy(seedKey, col("__vid"))
    vecs
      .orderBy(seedKey, col("__vid")).limit(k)
      .withColumn("__rn", row_number().over(seedW))
      .select((col("__rn") - 1).cast("long").as("cid"), col("__v").as("c_vec"))
  }

  /** Shared bounded top-k reduction: (..keys.., n_id, sim) →
    * (..keys.., rank, n_id, sim), ranked (sim desc, n_id asc) through the
    * map-side-combining [[graft.functions.TopKBySim]] Aggregator — identical
    * results to a row_number window, O(|keys|·k) exchange instead of
    * shuffling every scored candidate. The aggregator's typed input carries
    * long ids; non-integral id types take the (type-agnostic, but
    * full-shuffle-and-sort) window fallback. */
  private def rankTopK(scored: DataFrame, keys: Seq[String], k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val integralId = scored.schema("n_id").dataType match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }
    if (integralId) {
      val topk = udaf(new graft.functions.TopKBySim(k),
        org.apache.spark.sql.Encoders.product[graft.functions.SimCand])
      scored.groupBy(keys.map(col): _*)
        .agg(topk(col("n_id").cast("long"), col("sim")).as("top"))
        .select(keys.map(col) :+ posexplode(col("top")).as(Seq("pos", "t")): _*)
        .select(keys.map(col) ++ Seq(
          (col("pos") + 1).cast("int").as("rank"),
          col("t.n_id").as("n_id"), col("t.sim").as("sim")): _*)
    } else {
      val w = Window.partitionBy(keys.map(col): _*)
        .orderBy(col("sim").desc, col("n_id"))
      scored.withColumn("rank", row_number().over(w))
        .where(col("rank") <= k)
        .select(keys.map(col) ++ Seq(col("rank"), col("n_id"), col("sim")): _*)
    }
  }

  /** Deterministic LSH bucket: the sign bits of the first `bits` dimensions
    * packed into an integer. (A data-independent hyperplane family — at scale,
    * replace with learned/random hyperplanes shipped as a broadcast matrix.)
    * Unrolled when-sum over literal bit positions — plain codegen'd
    * expressions, no interpreted lambda. */
  def signBucket(vec: Column, bits: Int = 8): Column =
    signBucketAt(vec, 0, bits)

  /** [[signBucket]] over the dimension window [offset+1, offset+bits]
    * (1-indexed) — the per-table bucket of [[multiProbeTopK]]. */
  def signBucketAt(vec: Column, offset: Int, bits: Int): Column =
    (0 until bits)
      .map(i => when(element_at(vec, offset + i + 1) > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)

  /** Deterministic ±1 sign matrix for [[srpProject]] — sign(r)(j) is the
    * low bit of the 48-bit md5 hash of "j:r", the SAME keyed-hash family
    * every other deterministic operator here uses
    * ([[graft.ext.TextAnalysis.hash48]]), computed driver-side so the
    * matrix ships as plan literals (data-independent: nothing to train,
    * nothing to persist, any engine regenerates it from the formula). */
  private[graft] def srpSigns(dim: Int, outDims: Int): IndexedSeq[IndexedSeq[Double]] = {
    def h48(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      d.take(6).foldLeft(0L)((acc, b) => (acc << 8) | (b & 0xffL))
    }
    (0 until outDims).map(r => (0 until dim).map(j =>
      if (h48(s"$j:$r") % 2 == 1) 1.0 else -1.0))
  }

  /** Signed random projection (Johnson–Lindenstrauss sketch): maps a
    * `dim`-dimensional vector to `outDims` coordinates p_r = Σ_j v_j·s(j,r)
    * with the deterministic ±1 hyperplanes of [[srpSigns]] — the
    * dimensionality-reduction stage that makes a 100 TB rerank pipeline
    * cheap (a 64-d corpus scored in 16-d costs a quarter of the FLOPs and
    * a quarter of the candidate-state bytes; JL keeps relative distances).
    *
    * The whole matvec is ONE native codegen'd expression
    * ([[graft.functions.SignedProjection]] — a tight two-level primitive
    * loop; an unrolled dim×outDims literal tree was measured at MiB-scale
    * task binaries with codegen compile dominating the query), accumulated
    * strictly left-to-right in ascending j, so the DuckDB oracle's ordered
    * `list_sum` reproduces it bit-for-bit (same discipline as [[cosine]]).
    * [[signBucket]] is the 1-bit quantization of this projection; keeping
    * the real values preserves ranking information a sign bucket throws
    * away. */
  def srpProject(vec: Column, dim: Int, outDims: Int): Column = {
    require(dim > 0 && outDims > 0, s"dim/outDims must be positive, got $dim/$outDims")
    graft.functions.VectorFunctions.signedProjection(vec, srpSigns(dim, outDims))
  }

  /** Two-stage ANN: coarse top-`m` in [[srpProject]]ed space (squared L2,
    * ascending), then EXACT cosine rerank of those m candidates to top-`k`
    * — the project-then-rerank retrieval shape. Stage 1 scans the corpus
    * once against broadcast projected queries with the bounded top-m
    * reduction (the exchange carries |queries|·m rows, projections are
    * `outDims`-wide, the full vectors never enter the coarse pass); stage 2
    * joins the tiny candidate set (BROADCAST) back to the corpus for exact
    * vectors — the second corpus scan is the rerank's documented price (at
    * scale it is a point-lookup against an id-keyed store).
    *
    * Exactly reproducible: projections, coarse ties (dist asc, n_id), and
    * the final cosine rank (sim desc, n_id) are all deterministic, so the
    * whole two-stage result gates against a SQL oracle.
    * @return (q_id, rank, n_id, sim) */
  def srpRerankTopK(
      queries: DataFrame, corpus: DataFrame,
      qIdCol: String, idCol: String, vecCol: String,
      k: Int, m: Int, dim: Int, outDims: Int = 16): DataFrame = {
    require(m >= k, s"rerank pool m ($m) must be >= k ($k)")
    val qp = broadcast(queries.select(
      col(qIdCol).as("q_id"), col(vecCol).as("q_vec"),
      srpProject(col(vecCol), dim, outDims).as("q_pvec")))
    val cp = corpus.select(
      col(idCol).as("n_id"), srpProject(col(vecCol), dim, outDims).as("pvec"))
    val coarse = cp.crossJoin(qp.select(col("q_id"), col("q_pvec")))
      .where(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"),
        (-l2DistSq(col("pvec"), col("q_pvec"))).as("sim"))
    val cands = rankTopK(coarse, Seq("q_id"), m).select(col("q_id"), col("n_id"))
    val exact = broadcast(cands)
      .join(corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec")), Seq("n_id"))
      .join(qp.select(col("q_id"), col("q_vec")), Seq("q_id"))
      .select(col("q_id"), col("n_id"), cosine(col("q_vec"), col("n_vec")).as("sim"))
    rankTopK(exact, Seq("q_id"), k)
  }

  /** Hard-negative mining for contrastive training data: per query, the
    * top-k most-similar corpus vectors with a DIFFERENT label — the
    * near-the-margin negatives that make embedding training informative
    * (in-batch random negatives are mostly too easy). Same scale shape as
    * [[bruteForceTopK]] — broadcast queries, ONE corpus scan, the label
    * predicate applied before any scoring, bounded top-k reduction
    * (|queries|·k exchange) — and the same swap-in path to an ANN index
    * when the corpus outgrows the scan.
    * @return (q_id, q_label, rank, n_id, n_label, sim) */
  def hardNegativesTopK(
      queries: DataFrame, corpus: DataFrame,
      qIdCol: String, idCol: String, vecCol: String, labelCol: String,
      k: Int): DataFrame =
    labelConstrainedTopK(queries, corpus, qIdCol, idCol, vecCol, labelCol,
      k, sameLabel = false)

  /** The positive-mining twin of [[hardNegativesTopK]]: top-k most-similar
    * corpus vectors with the SAME label (excluding self) — together they
    * assemble contrastive triplets (anchor, nearest positive, hardest
    * negative) in two corpus scans. */
  def nearestSameLabelTopK(
      queries: DataFrame, corpus: DataFrame,
      qIdCol: String, idCol: String, vecCol: String, labelCol: String,
      k: Int): DataFrame =
    labelConstrainedTopK(queries, corpus, qIdCol, idCol, vecCol, labelCol,
      k, sameLabel = true)

  private def labelConstrainedTopK(
      queries: DataFrame, corpus: DataFrame,
      qIdCol: String, idCol: String, vecCol: String, labelCol: String,
      k: Int, sameLabel: Boolean): DataFrame = {
    val q = broadcast(queries.select(
      col(qIdCol).as("q_id"), col(labelCol).as("q_label"), col(vecCol).as("q_vec")))
    val c = corpus.select(
      col(idCol).as("n_id"), col(labelCol).as("n_label"), col(vecCol).as("n_vec"))
    val labelPred =
      if (sameLabel) col("n_label") <=> col("q_label")
      else !(col("n_label") <=> col("q_label"))
    val scored = c.crossJoin(q)
      .where(col("n_id") =!= col("q_id") && labelPred)
      .select(col("q_id"), col("q_label"),
        // the aggregator reduces on (keys, n_id, sim); the negative's label
        // is recovered by a tiny post-join on the k survivors per query
        col("n_id"), cosine(col("q_vec"), col("n_vec")).as("sim"))
    val ranked = rankTopK(
      scored.select(col("q_id"), col("q_label"), col("n_id"), col("sim")),
      Seq("q_id", "q_label"), k)
    // the |queries|·k survivors are the BROADCAST side; the corpus label
    // table streams (it is never driver-collected or broadcast)
    broadcast(ranked)
      .join(c.select(col("n_id"), col("n_label")), Seq("n_id"))
      .select(col("q_id"), col("q_label"), col("rank"),
        col("n_id"), col("n_label"), col("sim"))
  }

  /** ANN top-k restricted to the query's single sign bucket.
    *
    * RECALL-AUDIT DEMONSTRATION, not the recommended index: one 8-bit sign
    * table recalls only what lands in the exact same bucket, and the q164
    * audit measures recall@3 ≈ 0.03 on the synthetic embeddings (true
    * neighbors there sit at cosine ≈ 0.3-0.4, so each sign bit agrees with
    * probability ≈ 0.6 and all-8-agree is rare). Reach for [[ivfTopK]]
    * (data-dependent lists, recall ≈ 0.7 at nprobe=2) or [[multiProbeTopK]]
    * (no training, recall dialed by tables×flips) instead. */
  def bucketedTopK(
      queries: DataFrame, corpus: DataFrame,
      qIdCol: String, idCol: String, vecCol: String, k: Int, bits: Int = 8): DataFrame = {
    val q = broadcast(
      queries.select(
        col(qIdCol).as("q_id"), col(vecCol).as("q_vec"),
        signBucket(col(vecCol), bits).as("bucket")))
    val c = corpus.select(
      col(idCol).as("n_id"), col(vecCol).as("n_vec"),
      signBucket(col(vecCol), bits).as("bucket"))
    val scored = c.join(q, Seq("bucket"))
      .where(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("bucket"), col("n_id"),
        cosine(col("q_vec"), col("n_vec")).as("sim"))
    rankTopK(scored, Seq("q_id", "bucket"), k)
  }

  /** Multi-table, multi-probe sign-LSH ANN top-k — the fix for the one-table
    * recall collapse the q164 audit measures on [[bucketedTopK]].
    *
    * Two standard LSH amplifications compose here (both public-textbook:
    * Indyk-Motwani OR-amplification; Lv et al. VLDB'07 multi-probe):
    *  - `tables` independent sign tables — table t hashes the disjoint
    *    dimension window [t·bits+1, (t+1)·bits], so a true neighbor is found
    *    if it agrees in ANY table (OR over tables);
    *  - per table, the query probes its own bucket PLUS every subset-flip of
    *    the `flips` lowest-|margin| bits — the dimensions closest to the
    *    hyperplane are exactly the ones most likely to differ on a true
    *    neighbor, so flipping them buys recall at 2^flips probes/table.
    *
    * Scale shape: the corpus side is a narrow explode to `tables` rows per
    * vector joined by (table, bucket) equi-key against the BROADCAST probe
    * set — never all-pairs; candidate dedup and the bounded top-k reduction
    * touch only matched candidates. Probe cost is `tables · 2^flips` buckets
    * per query; recall is the dial (tables × bits × flips), measured
    * per-dataset by the q164 recall audit (defaults hit ≈ 0.87 on the
    * synthetic embeddings where one-table sign-LSH gets 0.03, at ~40% of the
    * corpus scored — that fraction is a property of this data's weak
    * neighbor structure; real embedding corpora with close neighbors
    * concentrate far more sharply).
    *
    * Requires vectors with at least `tables · bits` dimensions (missing
    * dimensions hash as sign 0 in both this and the oracle's semantics).
    *
    * @param queries (qIdCol, vecCol) — SMALL (broadcast)
    * @param corpus  (idCol, vecCol)  — arbitrarily large
    */
  def multiProbeTopK(
      queries: DataFrame, corpus: DataFrame,
      qIdCol: String, idCol: String, vecCol: String, k: Int,
      tables: Int = 8, bits: Int = 7, flips: Int = 3): DataFrame = {
    require(tables > 0, s"tables must be positive, got $tables")
    require(bits > 0 && bits < 63, s"bits must be in [1, 62], got $bits")
    require(flips >= 0 && flips <= bits, s"flips must be in [0, $bits], got $flips")
    // corpus membership: one (table, bucket) row per table — a narrow
    // explode feeding a broadcast-hash join, no shuffle of the corpus
    val c = corpus
      .select(col(idCol).as("n_id"), col(vecCol).as("n_vec"),
        explode(array((0 until tables).map(t =>
          struct(lit(t).as("tbl"),
            signBucketAt(col(vecCol), t * bits, bits).as("bucket"))): _*)).as("tb"))
      .select(col("n_id"), col("n_vec"),
        col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    // query probes: per table, the base bucket XOR every subset of the
    // `flips` lowest-|margin| bit masks. The masks ride the sort struct
    // (m, b, mask) — b is unique so the mask never influences the order.
    // STAGED deliberately: base + the sorted mask list materialize as
    // columns BEFORE the probe fan-out, so each probe is `base XOR
    // element_at(masks, j)` — tiny. Inlining the array_sort into every
    // XOR reference (the obvious one-shot form) re-states the margins
    // sort 2^flips·flips times per table and blows the plan to ~150 KB
    // of expression tree, where driver-side analysis/codegen — not the
    // data — was the measured cost (3.6 s for a 2000-row corpus).
    val vecD = col(vecCol).cast("array<double>")
    val tableStructs = (0 until tables).map { t =>
      val base = signBucketAt(col(vecCol), t * bits, bits)
      // a vector shorter than tables·bits dims yields NULL components here;
      // coalesce the margin to +inf so an ABSENT dimension is never among
      // the lowest-|margin| flip candidates (and the sort stays NULL-free,
      // immune to engine NULL-ordering divergence) — matching the corpus
      // side, where a missing dim hashes as sign 0 and is never flipped
      val margins = array_sort(array((0 until bits).map(b =>
        struct(coalesce(abs(element_at(vecD, t * bits + b + 1)),
            lit(Double.PositiveInfinity)).as("m"),
          lit(b).as("b"), lit(1L << b).as("mask"))): _*))
      struct(lit(t).as("tbl"), base.as("base"),
        transform(margins, m => m.getField("mask")).as("masks"))
    }
    val probes = (0 until (1 << flips)).map { s =>
      (0 until flips).foldLeft(col("base")) { (acc, j) =>
        if ((s & (1 << j)) != 0)
          acc.bitwiseXOR(element_at(col("masks"), j + 1))
        else acc
      }
    }
    val q = broadcast(
      queries
        .select(col(qIdCol).as("q_id"), col(vecCol).as("q_vec"),
          explode(array(tableStructs: _*)).as("tp"))
        .select(col("q_id"), col("q_vec"), col("tp.tbl").as("tbl"),
          col("tp.base").as("base"), col("tp.masks").as("masks"))
        .select(col("q_id"), col("q_vec"), col("tbl"),
          explode(array(probes: _*)).as("bucket")))
    // a pair can match in several tables/probes: score once per match (the
    // cosine is cheap), then collapse duplicates before the top-k so no
    // candidate is ranked twice — the groupBy shuffles only matched
    // (q_id, n_id, sim) triples, never vectors
    val scored = c.join(q, Seq("tbl", "bucket"))
      .where(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"), cosine(col("q_vec"), col("n_vec")).as("sim"))
      .groupBy(col("q_id"), col("n_id")).agg(first(col("sim")).as("sim"))
    rankTopK(scored, Seq("q_id"), k)
  }

  /** IVF-style ANN: a coarse quantizer (centroid set) partitions the corpus
    * into inverted lists; queries probe only the `nprobe` nearest lists.
    *
    * Scale path: centroids are SMALL (√n-ish) and broadcast; the corpus is
    * scanned once to assign lists (narrow, no shuffle of the vectors beyond
    * the assignment groupBy), and each query touches nprobe lists instead of
    * the whole corpus — the classic recall/cost dial. Here the centroid set
    * is an injected DataFrame (deterministic subset in tests; a k-means fit
    * at deployment — the plan is identical either way).
    *
    * @param centroids (cidCol, vecCol) — small, broadcast twice
    * @param nprobe    lists probed per query
    */
  def ivfTopK(
      queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
      qIdCol: String, idCol: String, cidCol: String, vecCol: String,
      k: Int, nprobe: Int = 2): DataFrame = {
    val cent = broadcast(centroids.select(col(cidCol).as("cid"), col(vecCol).as("c_vec")))
    // nearest centroid per corpus vector (ties -> lowest cid): max_by hash
    // aggregation with map-side partials — a window here would shuffle AND
    // sort every (vector, centroid) score
    val lists = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
      .crossJoin(cent)
      .select(col("n_id"), col("n_vec"), col("cid"),
        cosine(col("n_vec"), col("c_vec")).as("c_sim"))
      .groupBy(col("n_id"))
      .agg(
        max_by(col("cid"), struct(col("c_sim"), -col("cid"))).as("cid"),
        first(col("n_vec")).as("n_vec")) // n_vec is constant per n_id
    // nprobe nearest centroids per query
    val probeW = Window.partitionBy(col("q_id"))
      .orderBy(col("c_sim").desc, col("cid"))
    val probes = queries.select(col(qIdCol).as("q_id"), col(vecCol).as("q_vec"))
      .crossJoin(cent)
      .withColumn("c_sim", cosine(col("q_vec"), col("c_vec")))
      .withColumn("__rn", row_number().over(probeW))
      .where(col("__rn") <= nprobe)
      .select(col("q_id"), col("q_vec"), col("cid"))
    // search only the probed lists; bounded top-k reduction per query
    val scored = broadcast(probes).join(lists, Seq("cid"))
      .where(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"), cosine(col("q_vec"), col("n_vec")).as("sim"))
    rankTopK(scored, Seq("q_id"), k)
  }

  // ------------------------------------------------------- product quantization

  /** Squared L2 distance via the native codegen'd
    * [[graft.functions.L2DistanceSq]] expression — strict left-to-right
    * `(x−y)²` accumulation, bit-identical to the DuckDB oracle's ordered
    * `list_sum` fold of the same expression. */
  def l2DistSq(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.l2DistSq(a, b)

  /** Subspace slice j of a vector: dimensions [j·subDim+1, (j+1)·subDim],
    * 1-indexed — the decomposition PQ trains and scores over. */
  private def pqSlice(vec: Column, sub: Int, subDim: Int): Column =
    slice(vec.cast("array<double>"), sub * subDim + 1, subDim)

  /** One `(sub, s_vec)` row per subspace, `carry` columns riding along —
    * the narrow explode the encoders and the stride codebook feed from. */
  private def pqSliced(df: DataFrame, idCol: String, vecCol: String,
      m: Int, subDim: Int, carry: Seq[Column] = Nil): DataFrame =
    df.select((col(idCol).as("__pid") +: carry) :+
        explode(array((0 until m).map(j =>
          struct(lit(j).as("sub"), pqSlice(col(vecCol), j, subDim).as("s_vec"))): _*)).as("sc"): _*)
      .select((col("__pid") +: carry) ++
        Seq(col("sc.sub").as("sub"), col("sc.s_vec").as("s_vec")): _*)

  /** Renumber an injected codebook's cids to the contiguous 0..ksub−1 the
    * codes carry (per sub, ordered by the original cid) — so ANY
    * deterministic codebook works, not just pre-contiguous ones. The
    * encoders use it; the query side gets the same numbering from the cid
    * order of [[pqModel]]'s codeword arrays. The codebook is SMALL by
    * contract; the per-sub window is cheap. */
  private def pqNormalizeCodebook(codebooks: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("sub")).orderBy(col("cid"))
    codebooks
      .select(col("sub"), col("cid"), col("c_vec").cast("array<double>").as("c_vec"))
      .withColumn("cid", (row_number().over(w) - 1).cast("long"))
  }

  /** Deterministic stride-sampled PQ codebook: every `stride`-th id's
    * sub-vector slices become the centroids of each subspace. The injection
    * analog of [[ivfTopK]]'s centroid table — exactly reproducible by the
    * SQL oracle; use [[fitPqCodebooks]] for a trained deployment codebook
    * (the downstream plan is identical either way).
    * Returns (sub, cid, c_vec). */
  def pqCodebookByStride(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, subDim: Int, stride: Int): DataFrame =
    pqSliced(corpus.where(col(idCol) % stride === 0), idCol, vecCol, m, subDim)
      .select(col("sub"), col("__pid").as("cid"), col("s_vec").as("c_vec"))

  /** Trained PQ codebook: an independent [[fitCentroids]] k-means per
    * subspace over the sliced corpus (m small jobs — the standard PQ
    * training decomposition; subspaces are independent by construction).
    * Returns (sub, cid, c_vec) with cids already 0..ksub−1. */
  def fitPqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, subDim: Int, ksub: Int, iters: Int = 5): DataFrame =
    (0 until m).map { j =>
      fitCentroids(
        corpus.select(col(idCol), pqSlice(col(vecCol), j, subDim).as("__sv")),
        idCol, "__sv", ksub, iters, cidCol = "cid", outVecCol = "c_vec")
        .withColumn("sub", lit(j))
    }.reduce(_ unionByName _).select(col("sub"), col("cid"), col("c_vec"))

  /** PQ-encode a corpus: each vector compresses to `m` small codes (the
    * argmin-L2 centroid per subspace — ties to the lowest cid). 64 doubles
    * become m bytes-worth of codes: the 100 TB memory story for ANN.
    *
    * Scale shape: the corpus explodes to m NARROW (id, sub, slice) rows
    * joined against the BROADCAST codebook; the argmin is a min_by hash
    * aggregate with map-side partials (never a window over scores), and the
    * code-array pivot shuffles only (id, sub, cid) triples — the vectors
    * themselves never shuffle. The codes view of [[pqEncodeAndError]].
    *
    * @param codebooks (sub, cid, c_vec) — SMALL (broadcast); arbitrary cids
    * @return (idCol, codes array<long> ordered by sub, values 0..ksub−1)
    */
  def pqEncode(corpus: DataFrame, codebooks: DataFrame,
      idCol: String, vecCol: String, m: Int, subDim: Int): DataFrame =
    pqEncodeAndError(corpus, codebooks, idCol, vecCol, m, subDim)._1

  private def requirePqArgs(m: Int, subDim: Int): Unit = {
    require(m > 0, s"m must be positive, got $m")
    require(subDim > 0, s"subDim must be positive, got $subDim")
  }

  /** [[pqEncode]] AND [[pqQuantizationError]] from the ONE per-(id, sub)
    * encoder aggregation: one groupBy takes the argmin CODE and the min
    * DISTANCE together, and the two results branch off it. Every encoder is
    * a view of this aggregation — [[pqEncode]], [[pqQuantizationError]],
    * [[residualIndex]] and [[residualIndexAndError]] — and a view that
    * reads one output plans exactly as a standalone encoder would: Catalyst
    * column-prunes each lazy consumer's COPY of the subtree down to just its
    * own aggregate function (min_by-only vs min-only). NOTE the measured
    * limits of the sharing (r17, full-bench A/B): the canonicalized
    * exchanges of the two pruned copies then differ, and AQE runtime stage
    * reuse cannot dedupe them — so WITHOUT a pin the distance frame
    * (|corpus|·m·ksub rows) computes once per consumer. PINNING the
    * aggregate was tried and measured SLOWER at sf0.1 (q213 5.34 → 6.71 s,
    * back-to-back full benches with a 1.7 % tailwind): at this SF the
    * recompute is ~50 M fused flops while the pin pays two eager jobs + a
    * cache round trip — the r16 "pins inside one action" finding extends
    * even to subtrees stage reuse cannot share, whenever the shared work is
    * cheap. At a corpus scale where the distance frame dominates, pin the
    * returned frames' common parent at the CALL SITE (Caches.pin).
    * @param carryCols pass-through columns that ride the codes frame
    *        unchanged; they must be CONSTANT per id (e.g. the IVF list id
    *        of the residual index build, carried through one plan instead
    *        of re-deriving the assignment in a second corpus pass), so
    *        grouping on them leaves the aggregation's cardinality unchanged
    * @return (codes as [[pqEncode]] (+ carry), one-row error frame as
    *         [[pqQuantizationError]]) */
  def pqEncodeAndError(corpus: DataFrame, codebooks: DataFrame,
      idCol: String, vecCol: String, m: Int, subDim: Int,
      carryCols: Seq[String] = Nil): (DataFrame, DataFrame) = {
    requirePqArgs(m, subDim)
    val carry = carryCols.map(col)
    val perSub = pqSliced(corpus, idCol, vecCol, m, subDim, carry)
      .join(broadcast(pqNormalizeCodebook(codebooks)), Seq("sub"))
      .select((col("__pid") +: carry) ++ Seq(col("sub"), col("cid"),
        l2DistSq(col("s_vec"), col("c_vec")).as("d2")): _*)
      .groupBy((col("__pid") +: carry) :+ col("sub"): _*)
      .agg(min_by(col("cid"), struct(col("d2"), col("cid"))).as("cid"),
        min(col("d2")).as("__mind2"))
    val codes = perSub
      .groupBy(col("__pid") +: carry: _*)
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("cid")))),
        s => s.getField("cid")).as("codes"))
      .select((col("__pid").as(idCol) +: carry) :+ col("codes"): _*)
    val err = perSub
      .select(col("__pid"),
        floor(col("__mind2") * lit(1e9)).cast("long").as("e"))
      .agg(countDistinct(col("__pid")).as("n_vectors"),
        sum(col("e")).as("err_nano_total"))
      .select(col("n_vectors"), col("err_nano_total"),
        (col("err_nano_total").cast("double") / lit(1e9) /
          col("n_vectors").cast("double")).as("quant_mse"))
    (codes, err)
  }

  /** [[residualIndex]] AND its [[pqQuantizationError]] audit from the one
    * encoder aggregation of [[pqEncodeAndError]] — the residual-arm twin
    * for audits that report both (q213).
    * @return ((n_id, lcid, codes), one-row error frame) */
  def residualIndexAndError(corpus: DataFrame, centroids: DataFrame,
      codebooks: DataFrame, idCol: String, cidCol: String, vecCol: String,
      m: Int, subDim: Int): (DataFrame, DataFrame) = {
    val res = residuals(corpus, centroids, idCol, cidCol, vecCol)
    val (codes, err) = pqEncodeAndError(res, codebooks, idCol, "res",
      m, subDim, carryCols = Seq("lcid"))
    (codes.select(col(idCol).as("n_id"), col("lcid"), col("codes")), err)
  }

  /** The frozen PQ model as ONE row, the input of every query-side LUT and
    * probe:
    *  - `__cb` array<array<array<double>>>: per subspace 0..m−1 in order,
    *    its codewords sorted by cid, so a codeword's array position is the
    *    contiguous 0..ksub−1 id [[pqNormalizeCodebook]] gives the encoders
    *    (no renumbering window on the query side);
    *  - `__cents` array<struct<lcid, l_vec array<double>>>, only when
    *    `centroids` is given: every coarse centroid, in lcid order.
    * One global aggregate over the union of both sources — one exchange of
    * model-sized partials. Small by the PQ contract: callers broadcast it,
    * and a serve derives it once and pins it ([[serveIndexStream]]).
    * @param centroids (cidCol, vecCol), or null for plain PQ */
  private[graft] def pqModel(codebooks: DataFrame, m: Int,
      centroids: DataFrame = null, cidCol: String = null,
      vecCol: String = null): DataFrame = {
    val words = codebooks.select(col("sub").cast("int").as("sub"), col("cid"),
      col("c_vec").cast("array<double>").as("v"))
    val (rows, key) =
      if (centroids == null) (words, Seq("sub", "cid", "v"))
      else (words.unionByName(centroids.select(lit(-1).as("sub"),
          col(cidCol).as("lcid"), col(vecCol).cast("array<double>").as("v")),
          allowMissingColumns = true), Seq("sub", "cid", "lcid", "v"))
    val all = rows.agg(array_sort(collect_list(struct(key.map(col): _*))).as("__all"))
    def ofSub(j: Int) = filter(col("__all"), x => x.getField("sub") === j)
    val cb = array((0 until m).map(j =>
      transform(ofSub(j), x => x.getField("v"))): _*).as("__cb")
    if (centroids == null) all.select(cb)
    else all.select(cb, transform(ofSub(-1), x => struct(
      x.getField("lcid").as("lcid"), x.getField("v").as("l_vec"))).as("__cents"))
  }

  /** ADC lookup table of `v` (array<double>) against a model's `__cb`:
    * lut[j][c] = [[l2DistSq]] of v's subspace-j slice and codeword c — the
    * one LUT expression every PQ query path scores with, on the same double
    * slices the encoders take ([[pqSlice]]). */
  private def adcLut(v: Column, cb: Column, subDim: Int): Column =
    transform(cb, (words, j) => transform(words, c =>
      l2DistSq(slice(v, j * subDim + 1, lit(subDim)), c)))

  /** The `nprobe` coarse lists nearest to `v` (array<double>) among a
    * model's `__cents`, ranked by (l2DistSq, lcid) ascending as
    * array<struct<ld, lcid, l_vec>>. */
  private def nearestLists(v: Column, cents: Column, nprobe: Int): Column =
    slice(array_sort(transform(cents, c => struct(
      l2DistSq(v, c.getField("l_vec")).as("ld"), c.getField("lcid").as("lcid"),
      c.getField("l_vec").as("l_vec")))), 1, nprobe)

  /** The query-side builder of the IVF-PQ paths: per query its `nprobe`
    * probed lists, each with its ADC LUT — of the residual q − c(list) when
    * `residual`, else of q itself (one LUT per query, shared by its probes).
    * Array expressions over the broadcast one-row [[pqModel]] (with
    * centroids): no window, no shuffle, and the codebook array is never
    * copied into a per-probe row — each probe's LUT is built before the
    * explode.
    * @return (q_id, lcid, lut) */
  private[graft] def probeLuts(queries: DataFrame, model: DataFrame,
      qIdCol: String, vecCol: String, subDim: Int, nprobe: Int,
      residual: Boolean): DataFrame = {
    val qVec = col(vecCol).cast("array<double>")
    val probes = nearestLists(qVec, col("__cents"), nprobe)
    val q = queries.crossJoin(broadcast(model))
    if (residual)
      q.select(col(qIdCol).as("q_id"), explode(transform(probes, p => struct(
          p.getField("lcid").as("lcid"),
          adcLut(zip_with(qVec, p.getField("l_vec"), (a, b) => a - b),
            col("__cb"), subDim).as("lut")))).as("p"))
        .select(col("q_id"), col("p.lcid").as("lcid"), col("p.lut").as("lut"))
    else
      q.select(col(qIdCol).as("q_id"), adcLut(qVec, col("__cb"), subDim).as("lut"),
          transform(probes, p => p.getField("lcid")).as("lcids"))
        .select(col("q_id"), explode(col("lcids")).as("lcid"), col("lut"))
  }

  private def requireIvfPqArgs(m: Int, subDim: Int, nprobe: Int): Unit = {
    requirePqArgs(m, subDim)
    require(nprobe > 0, s"nprobe must be positive, got $nprobe")
  }

  /** The coarse centroids as the BROADCAST (lcid, l_vec array<double>)
    * frame the corpus side assigns against. */
  private def coarseCentroids(centroids: DataFrame, cidCol: String,
      vecCol: String): DataFrame =
    broadcast(centroids
      .select(col(cidCol).as("lcid"), col(vecCol).cast("array<double>").as("l_vec")))

  /** Coarse assignment: per `id` of `vecs`, the argmin-L2 list of its
    * vector `v` against [[coarseCentroids]] (ties to the lowest lcid) — a
    * min hash aggregate with map-side partials, never a score window. `v`
    * rides along (constant per id); a consumer that drops it has it pruned.
    * @return (id, lcid, v) */
  private def coarseAssign(vecs: DataFrame, id: String, v: String,
      cents: DataFrame): DataFrame =
    vecs.crossJoin(cents)
      .select(col(id), col(v),
        struct(l2DistSq(col(v), col("l_vec")).as("d"), col("lcid").as("c")).as("dc"))
      .groupBy(col(id))
      .agg(min(col("dc")).getField("c").as("lcid"), first(col(v)).as(v))

  /** The ADC scan every PQ query path ends in: `cands` pairs each query's
    * LUT with a candidate's codes (q_id, n_id, codes, lut); self-matches
    * drop, the native codegen'd ADC LUT sum scores — THE hot loop of a PQ
    * index scan (bit-identical to the interpreted zip_with+aggregate fold;
    * the identity is law-tested in SimilaritySpec) — and the bounded
    * [[rankTopK]] reduction keeps each query's k nearest.
    * @return (q_id, rank, n_id, adist) — rank ascending by approximate
    *         squared distance, ties to the lowest n_id */
  private def adcTopK(cands: DataFrame, k: Int): DataFrame = {
    val scored = cands
      .where(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"),
        graft.functions.VectorFunctions.adcDistance(
          col("codes"), col("lut")).as("adist"))
    // rankTopK ranks sim DESC; negate so ascending distance wins (exact:
    // IEEE negation is lossless, and −0.0 re-negates to 0.0)
    rankTopK(scored.withColumn("sim", -col("adist")), Seq("q_id"), k)
      .select(col("q_id"), col("rank"), col("n_id"), (-col("sim")).as("adist"))
  }

  /** PQ/ADC ANN top-k (Jégou et al., TPAMI'11 asymmetric distance): the
    * corpus is PQ-encoded once; each query precomputes an m×ksub lookup
    * table of partial squared distances to every sub-centroid, and a
    * candidate's approximate distance is the m-term LUT sum — no vector
    * arithmetic per (query, candidate) pair at scan time.
    *
    * Scale shape: codes are the only per-candidate state (m small ints vs
    * d doubles — the compression is what lets a 100 TB corpus's index fit
    * in cluster memory); the LUT set is |queries|·m·ksub doubles,
    * BROADCAST; scoring is a narrow map over the codes feeding the bounded
    * [[rankTopK]] reduction (O(|queries|·k) exchange). Plain PQ scans every
    * code like [[bruteForceTopK]] scans every vector — compose with the
    * [[ivfTopK]] coarse quantizer (IVF-ADC) to also prune candidates.
    *
    * The LUT sum folds subspaces strictly left-to-right (sub 0..m−1), so
    * results are bit-comparable with the oracle's ordered list fold.
    * Requires vectors with at least m·subDim dimensions.
    *
    * @return (q_id, rank, n_id, adist) — rank ascending by approximate
    *         squared distance, ties to the lowest n_id */
  def pqTopK(queries: DataFrame, corpus: DataFrame, codebooks: DataFrame,
      qIdCol: String, idCol: String, vecCol: String, k: Int,
      m: Int, subDim: Int): DataFrame = {
    val codes = pqEncode(corpus, codebooks, idCol, vecCol, m, subDim)
      .select(col(idCol).as("n_id"), col("codes"))
    val lut = queries
      .select(col(qIdCol).as("q_id"), col(vecCol).cast("array<double>").as("q_vec"))
      .crossJoin(broadcast(pqModel(codebooks, m)))
      .select(col("q_id"), adcLut(col("q_vec"), col("__cb"), subDim).as("lut"))
    adcTopK(codes.crossJoin(broadcast(lut)), k)
  }

  /** IVF-PQ ANN (the composition [[pqTopK]]'s scan-everything shape is
    * missing): an IVF coarse quantizer prunes candidates to `nprobe`
    * inverted lists, and PQ/ADC scores only those — prune × compress, the
    * actual 100 TB ANN deployment shape (Jégou et al. IVFADC, here the
    * common no-residual variant: codes quantize the raw vector, so one code
    * table serves any nprobe; [[ivfPqResidualTopK]] is the full
    * residual-encoding IVFADC).
    *
    * Metric is squared L2 throughout (coarse assignment, probes, ADC) —
    * consistent with the PQ family and unlike [[ivfTopK]]'s cosine.
    *
    * Scale shape: the index build is two narrow frames — (id, list) from an
    * argmin hash agg against BROADCAST centroids and (id, codes) from
    * [[pqEncode]] — joined once on id (rows of m+2 small ints; the vectors
    * themselves never shuffle). At query time the probe set (|queries|·
    * nprobe rows + their LUTs) is BROADCAST against the list-keyed index,
    * so each query pays only its probed lists, and the bounded top-k
    * reduction exchanges O(|queries|·k) rows.
    *
    * @param centroids (cidCol, vecCol) — small, broadcast
    * @param codebooks (sub, cid, c_vec) — small, broadcast
    * @return (q_id, rank, n_id, adist) — rank ascending by approximate
    *         squared distance, ties to the lowest n_id */
  def ivfPqTopK(
      queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
      codebooks: DataFrame, qIdCol: String, idCol: String, cidCol: String,
      vecCol: String, k: Int, m: Int, subDim: Int, nprobe: Int = 2): DataFrame =
    ivfPqTopKWithCodes(queries, corpus, centroids,
      pqEncode(corpus, codebooks, idCol, vecCol, m, subDim)
        .select(col(idCol).as("n_id"), col("codes")),
      codebooks, qIdCol, idCol, cidCol, vecCol, k, m, subDim, nprobe)

  /** [[ivfPqTopK]] over an externally-built code table (n_id, codes) —
    * for callers that already hold the corpus encode (e.g. shared with
    * the quantization-error audit via [[pqEncodeAndError]], q213) instead
    * of paying [[pqEncode]] a second time inside this plan. */
  def ivfPqTopKWithCodes(
      queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
      codes: DataFrame, codebooks: DataFrame, qIdCol: String, idCol: String,
      cidCol: String, vecCol: String, k: Int, m: Int, subDim: Int,
      nprobe: Int = 2): DataFrame = {
    requireIvfPqArgs(m, subDim, nprobe)
    val lists = coarseAssign(
      corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec")),
      "n_id", "n_vec", coarseCentroids(centroids, cidCol, vecCol))
    // nprobe nearest lists per query, each carrying the query's ADC LUT
    ivfPqResidualStoredTopKFromLuts(
      probeLuts(queries, pqModel(codebooks, m, centroids, cidCol, vecCol),
        qIdCol, vecCol, subDim, nprobe, residual = false),
      lists.join(codes, Seq("n_id")), k)
  }

  /** Residual IVF-PQ ANN — the full Jégou et al. IVFADC: PQ codes quantize
    * the RESIDUAL x − c(list(x)) instead of the raw vector, so the codebook
    * spends its bits on the (much tighter) within-list displacement
    * distribution rather than re-describing the coarse structure the IVF
    * level already captured — the accuracy gap [[ivfPqTopK]]'s Scaladoc
    * documents as its one deviation from the production index.
    *
    * Consequence at query time: the ADC lookup table depends on the PROBED
    * LIST (the query's residual q − c(list) differs per list), so LUTs are
    * per (query, probe) — nprobe× the LUT mass of the no-residual form,
    * still |queries|·nprobe·m·ksub doubles, still broadcast.
    *
    * Scale shape: ONE corpus pass — coarse argmin against BROADCAST
    * centroids, residual subtraction, and PQ encode in a single linear
    * plan ([[pqEncodeAndError]] carries the list id through the encode, so
    * the assignment is never re-derived); the index rows are (id, list,
    * codes) — m+2 small ints, vectors never shuffle. Everything else is
    * the [[ivfPqTopK]] plan with the per-probe LUT join on `lcid`.
    *
    * @param centroids (cidCol, vecCol) — small, broadcast
    * @param codebooks (sub, cid, c_vec) — trained/sampled over RESIDUALS
    *                  (see [[residuals]] for building the training frame)
    * @return (q_id, rank, n_id, adist) — rank ascending by approximate
    *         squared distance, ties to the lowest n_id */
  def ivfPqResidualTopK(
      queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
      codebooks: DataFrame, qIdCol: String, idCol: String, cidCol: String,
      vecCol: String, k: Int, m: Int, subDim: Int, nprobe: Int = 2): DataFrame =
    ivfPqResidualStoredTopK(queries,
      residualIndex(corpus, centroids, codebooks, idCol, cidCol, vecCol, m, subDim),
      centroids, codebooks, qIdCol, cidCol, vecCol, k, m, subDim, nprobe)

  /** The residual-IVFADC INDEX build, split out so it can be PERSISTED as
    * the deployment artifact (coarse list + residual PQ codes per vector —
    * m+2 small values, vectors never stored): one corpus pass — coarse
    * argmin against broadcast centroids, residual subtraction, PQ encode —
    * exactly [[ivfPqResidualTopK]]'s first stage. An INCREMENT encodes
    * against the same FROZEN (centroids, codebooks) model and appends;
    * nothing in the stored rows depends on corpus membership.
    * @return (n_id, lcid, codes) */
  def residualIndex(corpus: DataFrame, centroids: DataFrame,
      codebooks: DataFrame, idCol: String, cidCol: String, vecCol: String,
      m: Int, subDim: Int): DataFrame =
    residualIndexAndError(corpus, centroids, codebooks, idCol, cidCol, vecCol,
      m, subDim)._1

  /** [[ivfPqResidualTopK]]'s QUERY stage over an already-built (possibly
    * reloaded-from-store) index — the serving path of the persisted
    * artifact: per-(query, probe) residual LUTs joined to the index on the
    * probed list, ADC-scored, top-k ranked. `index` is (n_id, lcid, codes)
    * as produced by [[residualIndex]]. One-shot: the frozen model
    * (centroids, codebooks) is derived inside this plan and nothing is
    * pinned; a caller serving many query sets against one model uses
    * [[serveIndexBatch]], which derives the model once. */
  def ivfPqResidualStoredTopK(
      queries: DataFrame, index: DataFrame, centroids: DataFrame,
      codebooks: DataFrame, qIdCol: String, cidCol: String,
      vecCol: String, k: Int, m: Int, subDim: Int, nprobe: Int = 2): DataFrame =
    ivfPqResidualStoredTopKFromLuts(
      queryResidualLuts(queries, centroids, codebooks, qIdCol, cidCol,
        vecCol, m, subDim, nprobe),
      index, k)

  /** The QUERY-side state of [[ivfPqResidualStoredTopK]] — nprobe probed
    * lists per query with their per-(query, probe) residual ADC LUTs:
    * (q_id, lcid, lut), built by [[probeLuts]] over the one-row
    * [[pqModel]]. A pure function of (queries, frozen model, nprobe) and
    * NOT of the index: the model, not only the index, is constant across
    * serves. A gate that serves the SAME queries against several store
    * generations (q301's per-stage serves) derives it once, pins it
    * (multi-ACTION reuse — the r16 pin rule), and pays the probe/LUT
    * computation once instead of per serve. */
  def queryResidualLuts(
      queries: DataFrame, centroids: DataFrame, codebooks: DataFrame,
      qIdCol: String, cidCol: String, vecCol: String,
      m: Int, subDim: Int, nprobe: Int): DataFrame = {
    requireIvfPqArgs(m, subDim, nprobe)
    probeLuts(queries, pqModel(codebooks, m, centroids, cidCol, vecCol),
      qIdCol, vecCol, subDim, nprobe, residual = true)
  }

  /** The INDEX-side scan of [[ivfPqResidualStoredTopK]] over prepared
    * (possibly pinned) query LUTs: probed-list join, ADC scoring, bounded
    * top-k. */
  def ivfPqResidualStoredTopKFromLuts(
      luts: DataFrame, index: DataFrame, k: Int): DataFrame =
    adcTopK(broadcast(luts).join(index, Seq("lcid")), k)

  /** STREAMING serving of a persisted residual-IVFADC index — the query
    * side of the [[residualIndex]] artifact as a long-running service: a
    * STREAM of query vectors is answered micro-batch by micro-batch
    * against the STATIC (loaded, ideally cached) index — the same probes,
    * per-(query, probe) residual LUTs, ADC scoring and bounded top-k as
    * [[ivfPqResidualStoredTopK]]. `foreachBatch` is the right seam (not a
    * streaming plan): the serve's broadcast joins and bounded top-k
    * aggregation are not expressible in append mode, and — unlike an
    * aggregation — it NEEDS no cross-batch state: a query is answered
    * completely in the micro-batch it arrives in, so the serving is
    * STATELESS by construction and the union of per-batch answers equals
    * the one-shot batch serve for ANY micro-batch split of the query set
    * (law-tested in SimilaritySpec). Each batch runs [[serveIndexBatch]].
    *
    * Returns the un-started writer so the caller owns trigger, checkpoint
    * and start — `sink` receives each batch's (answers, batchId). */
  def serveIndexStream(
      queryStream: DataFrame, index: DataFrame, centroids: DataFrame,
      codebooks: DataFrame, qIdCol: String, cidCol: String, vecCol: String,
      k: Int, m: Int, subDim: Int, nprobe: Int = 2)(
      sink: (DataFrame, Long) => Unit):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val serve = serveIndexBatch(index, centroids, codebooks, qIdCol, cidCol,
      vecCol, k, m, subDim, nprobe)
    queryStream.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) => sink(serve(batch), batchId) }
  }

  /** [[serveIndexStream]]'s per-batch function, for a caller that owns its
    * own `foreachBatch`. Per-batch constants: the frozen MODEL and the
    * index. The one-row [[pqModel]] (centroids and codebooks) is derived
    * ONCE, here, when the function is built, and pinned through
    * [[graft.util.Caches.pin]]: it lives like the index pin a gate holds,
    * and [[graft.util.Caches.releaseAll]] releases it, so build this on the
    * thread that owns the query's pins and release after the stream ends.
    * A micro-batch then broadcasts the model row, builds its
    * |batch|·nprobe probe LUTs as array expressions ([[probeLuts]]: no
    * window, no shuffle), broadcasts them against the list-keyed index
    * (only probed lists pay) and exchanges O(|batch|·k) top-k rows — the
    * centroid and codebook sources are never re-read. Persist the index
    * once at service start, or the every-trigger re-scan is the bill.
    * @return batch of (qIdCol, vecCol) => (q_id, rank, n_id, adist) */
  def serveIndexBatch(index: DataFrame, centroids: DataFrame,
      codebooks: DataFrame, qIdCol: String, cidCol: String, vecCol: String,
      k: Int, m: Int, subDim: Int, nprobe: Int = 2): DataFrame => DataFrame = {
    requireIvfPqArgs(m, subDim, nprobe)
    val model = graft.util.Caches.pin(
      pqModel(codebooks, m, centroids, cidCol, vecCol))
    batch => ivfPqResidualStoredTopKFromLuts(
      probeLuts(batch, model, qIdCol, vecCol, subDim, nprobe, residual = true),
      index, k)
  }

  /** STREAMING INGEST of the residual-IVFADC store — the WRITE path of the
    * persisted artifact as a long-running service, closing the loop
    * [[serveIndexStream]] reads from: a STREAM of raw vectors is encoded
    * micro-batch by micro-batch against the FROZEN (centroids, codebooks)
    * model — [[residualIndex]] verbatim per batch — and each batch's code
    * rows append to the store. Like the serve, `foreachBatch` is the right
    * seam and the ingest NEEDS no cross-batch state: every index row is a
    * pure per-vector function of (vector, frozen model), so the union of
    * per-batch encodes equals the one-shot [[residualIndex]] of the whole
    * stream for ANY micro-batch split (law-tested in SimilaritySpec), and
    * serving the accumulated store reproduces the from-scratch oracle
    * VERBATIM (q276/q277 gates). Re-encodes of an id across batches are
    * resolved by [[compactIndex]]'s latest-wins — pass each batch as its
    * own snapshot (keyed by batchId) when ids can repeat.
    *
    * Scale shape per micro-batch: |batch| coarse argmins against the
    * broadcast centroids + |batch|·m codeword argmins against the
    * broadcast codebooks; O(|batch|) narrow (m+2 small values) rows out.
    * The model is the per-batch constant — broadcast-sized by the PQ
    * contract — so ingest throughput is bounded by the stream, never the
    * corpus.
    *
    * Returns the un-started writer so the caller owns trigger, checkpoint
    * and start — `sink` receives each batch's ((n_id, lcid, codes), batchId). */
  def ingestIndexStream(
      vectorStream: DataFrame, centroids: DataFrame, codebooks: DataFrame,
      idCol: String, cidCol: String, vecCol: String, m: Int, subDim: Int)(
      sink: (DataFrame, Long) => Unit):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vectorStream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        sink(residualIndex(batch, centroids, codebooks,
          idCol, cidCol, vecCol, m, subDim), batchId)
      }

  /** The vector index store as a [[graft.util.DeltaStore]]: the root's
    * own `delta=` dirs are its ingest clock, and the merge is
    * [[compactIndex]]'s latest-wins in delta order, written CLUSTERED by
    * its (lcid, sub) cells — the shuffle keeps every ≤cap-row cell whole
    * within one task's output, so no written row group mixes unbounded
    * slices of a skewed coarse list (the q247/q256 layout discipline).
    * `sub` itself is not persisted: the chunk keeps the uniform
    * (n_id, lcid, codes) schema that ingest deltas write, and serving joins
    * `lcid` alone either way. */
  private[graft] def indexStore(cap: Long): graft.util.DeltaStore =
    graft.util.DeltaStore("", (spark, root, deltas, tombstones, out) =>
      compactIndex(deltas.map(d => spark.read.parquet(s"$root/delta=$d")),
          cap, tombstones)
        .repartition(col("lcid"), col("sub"))
        .sortWithinPartitions(col("lcid"), col("sub"), col("n_id"))
        .select(col("n_id"), col("lcid"), col("codes"))
        .write.mode("overwrite")
        .parquet(s"$out/delta=${deltas.max}"))

  /** The replay-idempotent sink for [[ingestIndexStream]]
    * ([[graft.util.DeltaStore.sink]]): each batch's code rows land under
    * `delta=<batchId>/` with overwrite semantics — q290's kill-and-resume
    * gate. The `delta=` spelling makes the batch id a partition column,
    * so snapshot order is readable straight off the store for
    * [[readIndexStore]]'s latest-wins. */
  def idempotentIndexSink(storeRoot: String,
      afterBatch: Long => Unit = _ => (),
      beforeBatch: Long => Unit = _ => ()): (DataFrame, Long) => Unit =
    graft.util.DeltaStore.sink(afterBatch, beforeBatch)((idx, batchId) =>
      idx.write.mode("overwrite").parquet(s"$storeRoot/delta=$batchId"))

  /** A batch-addressed index store's delta ids, OLDEST FIRST — one
    * filesystem metadata listing, no data read. */
  def indexStoreDeltas(spark: org.apache.spark.sql.SparkSession,
      storeRoot: String): Seq[Long] = {
    val root = new org.apache.hadoop.fs.Path(storeRoot)
    graft.util.DeltaStore.listDeltas(
      root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)
  }

  /** The compaction TRIGGER POLICY for a live index store
    * ([[graft.util.DeltaStore.maintain]] over [[indexStore]]): below
    * `maxDeltas` deltas a no-op (q292's law), above it one consolidated
    * delta at the highest covered batch id, swapped in crash-recoverably.
    * @param tombstones optional id frame erased AT compaction
    * @param onlyBelow the committed cut at the `beforeBatch(b)` seam
    * @param dropBelow the retention window on the batch clock; aged deltas
    *        force the cycle, and a window that would empty the store fails
    * @return true iff the policy fired and the store was swapped */
  def maintainIndexStore(spark: org.apache.spark.sql.SparkSession,
      storeRoot: String, maxDeltas: Int, cap: Long,
      tombstones: DataFrame = null,
      onlyBelow: Option[Long] = None,
      dropBelow: Option[Long] = None): Boolean =
    indexStore(cap).maintain(spark, storeRoot, maxDeltas, tombstones,
      onlyBelow, dropBelow)

  /** Load a batch-addressed index store for SERVING: union of the deltas
    * with LATEST-WINS per vector id (a later delta may legitimately
    * re-encode an id — the upsert path), `delta` resolved and dropped.
    * Reading delta-by-delta through [[compactIndex]] is the compacted
    * twin; this is the direct serve of an uncompacted store, and equally
    * of a chunked generation (later chunks carry higher ids). */
  def readIndexStore(spark: org.apache.spark.sql.SparkSession,
      storeRoot: String): DataFrame = {
    val raw = spark.read.parquet(storeRoot)
    // ids are unique within one delta (compactIndex's snapshot contract):
    // only a store of several deltas needs the latest-wins shuffle
    if (indexStoreDeltas(spark, storeRoot).size <= 1)
      raw.select(col("n_id"), col("lcid"), col("codes"))
    else raw.groupBy(col("n_id"))
      .agg(max_by(struct(col("lcid"), col("codes")), col("delta")).as("__b"))
      .select(col("n_id"), col("__b").getField("lcid").as("lcid"),
        col("__b").getField("codes").as("codes"))
  }

  /** COMPACTION of accumulated [[residualIndex]] snapshots — the store
    * maintenance step between increments (q237's story proves store + one
    * increment; production accumulates k snapshots and compacts): union
    * the snapshots, keep the LATEST row per vector id (a later increment
    * may legitimately RE-ENCODE an id — snapshot order is the caller's
    * argument order), and re-balance oversized coarse lists by a STRICT
    * stride sub-split — `sub = rank-within-list div cap` — so no
    * (lcid, sub) cell ever exceeds `cap` rows, BY CONSTRUCTION (the q247
    * stride discipline, here with the deterministic rank instead of a
    * probabilistic hash: compaction is an offline job and can afford the
    * per-list sort). Codes are NEVER re-encoded: `sub` is physical
    * layout metadata only — the store writer partitions/buckets by
    * (lcid, sub) so no file or partition outgrows the cap — and serving
    * still joins on `lcid` alone, so compacted serving is
    * RESULT-IDENTICAL to serving the raw snapshot union (law-tested, and
    * q256 gates it on the full-corpus oracle).
    *
    * Scale shape: one union of narrow (m+2 small ints) code rows, one
    * max_by hash agg on n_id (map-side partials), one per-list
    * rank — a sort within each coarse list, which is exactly the skewed
    * thing compaction exists to bound. Vectors never appear.
    *
    * @param snapshots (n_id, lcid, codes) frames, OLDEST FIRST; ids must
    *                  be unique within one snapshot
    * @return (n_id, lcid, sub, codes) — ≤ cap rows per (lcid, sub) */
  def compactIndex(snapshots: Seq[DataFrame], cap: Long,
      tombstones: DataFrame = null): DataFrame = {
    require(snapshots.nonEmpty, "compactIndex needs at least one snapshot")
    require(cap > 0, s"cap must be positive, got $cap")
    val tagged = snapshots.zipWithIndex.map { case (df, i) =>
      df.select(col("n_id"), col("lcid"), col("codes"), lit(i).as("__snap"))
    }.reduce(_ unionByName _)
    // ids are unique within one snapshot: a lone snapshot is its own
    // latest-wins resolution (the common single-delta merge)
    val latest0 = if (snapshots.size == 1) tagged.drop("__snap")
      else tagged.groupBy(col("n_id"))
        .agg(max_by(struct(col("lcid"), col("codes")), col("__snap")).as("__b"))
        .select(col("n_id"), col("__b").getField("lcid").as("lcid"),
          col("__b").getField("codes").as("codes"))
    // tombstones kill an id REGARDLESS of which snapshot wrote it last —
    // deletion applied after latest-wins, before the layout re-balance
    val latest = if (tombstones == null) latest0
      else deleteFromIndex(latest0, tombstones)
    val w = Window.partitionBy(col("lcid")).orderBy(col("n_id"))
    latest
      .withColumn("__rn", row_number().over(w))
      .withColumn("sub", expr(s"(cast(__rn as bigint) - 1) div ${cap}L"))
      .select(col("n_id"), col("lcid"), col("sub"), col("codes"))
  }

  /** DELETION from the residual-IVFADC store — the third store op next to
    * increment (q237/q276) and compaction (q256/q277), and the one a
    * right-to-erasure request actually exercises: drop every index row
    * whose id appears in `tombstones` (first column, id-typed). A plain
    * id-keyed anti-join — codes are never touched, the model is never
    * refit (deleting vectors cannot invalidate an already-trained
    * codebook; it only shrinks lists), and serving the surviving rows is
    * BY CONSTRUCTION the index of the surviving corpus under the same
    * frozen model (q282's gate). Production applies tombstones at
    * compaction ([[compactIndex]]'s `tombstones` arg) so the store pays
    * one anti-join per compaction cycle, not per query. */
  def deleteFromIndex(index: DataFrame, tombstones: DataFrame): DataFrame = {
    val ids = tombstones.select(tombstones.columns.head)
      .withColumnRenamed(tombstones.columns.head, "n_id")
    index.join(ids, Seq("n_id"), "left_anti")
  }

  /** MMR diversification from CODES ALONE — the [[mmrSelect]] semantics
    * with every pairwise similarity computed by SYMMETRIC distance
    * computation (Jégou et al.'s SDC): candidate-to-candidate distance is
    * the sub-wise sum of codeword-to-codeword distances looked up in an
    * m × ksub² table derived once from the codebook (model metadata,
    * broadcast) — so the ENTIRE diversify stage runs against the code
    * store, raw vectors never touched (the q287 two-store discipline
    * extended through re-ranking; q288's gate). Relevance is the ADC
    * score (rel = −adist) so both MMR terms live in the same
    * squared-distance units: score = rel/2 − maxSim/2 with
    * sim(a,b) = −sdcDist(a,b), i.e. rel/2 + minDistToSelected/2 — first
    * pick penalty-free, ties to the lowest id, exactly [[mmrSelect]]'s
    * selection law.
    *
    * Exactness: the SDC table accumulates (x−y)² strictly left-to-right
    * within each sub (the [[l2DistSq]] op order) and pair distances sum
    * subs ascending; the oracle replays the same folds, so the greedy
    * recursion is bit-replayable.
    *
    * Scale shape: the table is m·ksub² doubles (pure model metadata); per
    * query ONE bounded row (the recall arm's m candidates: ids, rels,
    * codes — never vectors), the O(m²) loop inside a typed map (the
    * [[mmrSelect]] justification verbatim).
    *
    * Candidates are resolved to codes by an INNER join on the store: an
    * id absent from `index` (e.g. a recall set computed BEFORE a
    * tombstone compaction shrank the store) is silently dropped from the
    * MMR pool, which can return fewer than `k` picks. That is the correct
    * serving semantic — a deleted document must not be re-ranked back
    * into results — but a SYSTEMATIC mismatch (wrong store generation
    * wired in) would silently thin every answer, so `requireAllInStore`
    * turns the drop into a loud error (one count of each side — the
    * mergeHybridCorpus checkDisjoint discipline; off by default for hot
    * serves where post-compaction misses are expected).
    *
    * @param cands (q_id, n_id, rel) — rel typically −adist from
    *              [[ivfPqResidualStoredTopK]]
    * @param index (n_id, codes) — the code store rows for the candidates
    * @param requireAllInStore fail loudly if any candidate id is missing
    *                          from the code store instead of dropping it
    * @return (q_id, rank, n_id, score) — rank 1..k in selection order */
  def mmrSelectSdc(cands: DataFrame, index: DataFrame, codebooks: DataFrame,
      k: Int, m: Int, subDim: Int,
      requireAllInStore: Boolean = false): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(m > 0 && subDim > 0, s"need positive m/subDim, got $m/$subDim")
    val spark = cands.sparkSession
    if (requireAllInStore) {
      val missing = cands.select(col("n_id").cast("long").as("n_id")).distinct()
        .join(index.select(col("n_id").cast("long").as("n_id")).distinct(),
          Seq("n_id"), "left_anti").limit(1).count()
      require(missing == 0L,
        "mmrSelectSdc: a candidate id is missing from the code store — " +
          "the recall set and the store are from different generations")
    }
    // the SDC table: per sub, dist(cidA, cidB) over the NORMALIZED
    // codebook (same 0-based renumbering every encode/LUT path uses)
    val cbRows = pqNormalizeCodebook(codebooks).collect()
    val grouped = cbRows.groupBy(_.getAs[Int]("sub"))
    val sdcTable: Array[Array[Array[Double]]] = Array.tabulate(m) { j =>
      val vecs = grouped.getOrElse(j, Array.empty[org.apache.spark.sql.Row])
        .sortBy(_.getAs[Long]("cid"))
        .map(_.getSeq[Double](2).toArray)
      Array.tabulate(vecs.length, vecs.length) { (a, b) =>
        val va = vecs(a); val vb = vecs(b)
        val n = math.min(va.length, vb.length)
        var d = 0.0; var i = 0
        while (i < n) { val t = va(i) - vb(i); d += t * t; i += 1 }
        d
      }
    }
    val sdcB = spark.sparkContext.broadcast(sdcTable)
    val grouped2 = cands
      .select(col("q_id").cast("long").as("q_id"),
        col("n_id").cast("long").as("n_id"), col("rel").cast("double").as("rel"))
      .join(index.select(col("n_id").cast("long").as("n_id"),
        col("codes").cast("array<long>").as("codes")), Seq("n_id"))
      .groupBy(col("q_id"))
      .agg(sort_array(collect_list(
        struct(col("n_id"), col("rel"), col("codes")))).as("cs"))
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("q_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("rank",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("n_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("score",
        org.apache.spark.sql.types.DoubleType, nullable = false)))
    grouped2.mapPartitions { rows =>
      val sdc = sdcB.value
      rows.flatMap { r =>
        val qId = r.getLong(0)
        val cs = r.getSeq[org.apache.spark.sql.Row](1)
        val n = cs.size
        val ids = cs.map(_.getLong(0)).toArray
        val rel = cs.map(_.getDouble(1)).toArray
        val codes = cs.map(_.getSeq[Long](2).toArray).toArray
        // pair distance: per-sub SDC lookups summed subs-ascending (the
        // oracle's list_sum over the sub-ordered list)
        def dist(a: Array[Long], b: Array[Long]): Double = {
          var s = 0.0; var j = 0
          val mm = math.min(math.min(a.length, b.length), sdc.length)
          while (j < mm) { s += sdc(j)(a(j).toInt)(b(j).toInt); j += 1 }
          s
        }
        val pair = Array.ofDim[Double](n, n)
        for (i <- 0 until n; j <- i + 1 until n) {
          val d = dist(codes(i), codes(j)); pair(i)(j) = d; pair(j)(i) = d
        }
        val selected = new Array[Boolean](n)
        val picks = new Array[Int](math.min(k, n))
        val out = Array.newBuilder[org.apache.spark.sql.Row]
        var step = 0
        var exhausted = false
        while (step < math.min(k, n) && !exhausted) {
          var bestI = -1; var bestScore = Double.NegativeInfinity
          for (c <- 0 until n if !selected(c)) {
            val score =
              if (step == 0) rel(c) / 2
              else {
                var minD = pair(c)(picks(0))
                var t = 1
                while (t < step) {
                  val d = pair(c)(picks(t)); if (d < minD) minD = d; t += 1
                }
                rel(c) / 2 + minD / 2
              }
            if (score > bestScore ||
                (score == bestScore && (bestI < 0 || ids(c) < ids(bestI)))) {
              bestScore = score; bestI = c
            }
          }
          if (bestI < 0) exhausted = true // NaN-proof, as in mmrSelect
          else {
            selected(bestI) = true; picks(step) = bestI
            out += org.apache.spark.sql.Row(qId, step + 1, ids(bestI), bestScore)
            step += 1
          }
        }
        out.result()
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
      .toDF()
  }

  /** Coarse-assignment residuals: each vector's displacement from its
    * nearest centroid (argmin L2, ties to the lowest cid) — the frame
    * residual PQ codebooks train on and [[ivfPqResidualTopK]] encodes.
    * One corpus pass: argmin against the BROADCAST centroid set, then a
    * broadcast re-join recovers the centroid vector for the subtraction.
    * @return (idCol, lcid, res) */
  def residuals(corpus: DataFrame, centroids: DataFrame,
      idCol: String, cidCol: String, vecCol: String): DataFrame = {
    val cent = coarseCentroids(centroids, cidCol, vecCol)
    coarseAssign(corpus.select(col(idCol).as("__rid"),
        col(vecCol).cast("array<double>").as("__v")), "__rid", "__v", cent)
      .join(cent, Seq("lcid"))
      .select(col("__rid").as(idCol), col("lcid"),
        zip_with(col("__v"), col("l_vec"), (a, b) => a - b).as("res"))
  }

  /** PQ quantization error — the index-quality audit every PQ deployment
    * tracks (Jégou et al. report it alongside recall): per vector, the sum
    * over subspaces of the squared distance to the chosen codeword; here
    * aggregated corpus-wide. The per-(vector, sub) min distances are
    * floored to integer NANO-units before summing, so the corpus total is
    * an exact BIGINT sum (order-independent — a raw double sum would round
    * differently under Spark's partition order vs any replay) and the MSE
    * is a single final division. The error view of [[pqEncodeAndError]].
    * @return one row (n_vectors, err_nano_total, quant_mse) */
  def pqQuantizationError(corpus: DataFrame, codebooks: DataFrame,
      idCol: String, vecCol: String, m: Int, subDim: Int): DataFrame =
    pqEncodeAndError(corpus, codebooks, idCol, vecCol, m, subDim)._2

  /** Embedding-cosine near-duplicate pairs within buckets (dedup use-case):
    * distinct (id_a < id_b) pairs with cosine ≥ threshold, joined bucket-wise
    * so the pair space stays near-linear. */
  def cosineDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bits: Int = 8): DataFrame = {
    val withBucket = df.select(
      col(idCol).as("id"), col(vecCol).as("vec"),
      signBucket(col(vecCol), bits).as("bucket"))
    val a = withBucket.as("a")
    val b = withBucket.as("b")
    a.join(b, col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .withColumn("sim", cosine(col("a.vec"), col("b.vec")))
      .where(col("sim") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("sim"))
  }

  /** Lloyd's k-means on EXACT integer arithmetic — the reproducible twin
    * of [[fitCentroids]] (which averages in floating point and therefore
    * cannot hash-gate across engines): vectors land on a fixed-point grid
    * `floor(x·scale) + shift` (floor is exact on doubles and identical in
    * every engine; the shift makes every coordinate — and so every
    * centroid SUM — non-negative, so truncating and flooring integer
    * division agree), assignment is the exact squared-L2 argmin (ties →
    * smaller centroid id), and the centroid update is the elementwise
    * FLOORED mean `sum div count`. Squared L2 is translation-invariant,
    * so the shift never changes an assignment. The floored mean is the
    * one deliberate deviation from textbook Lloyd (a ≤1-grid-unit
    * centroid perturbation per round, immaterial at scale=1000); swap
    * [[fitCentroids]] in where FP centroids are acceptable and
    * replayability is not required.
    *
    * Scale shape: the vector frame is localCheckpointed once (every
    * iteration re-scans it); each iteration is one broadcast-k argmin
    * (no shuffle of scores) + one (cid, dim) hash aggregation whose
    * exchange is k·dims rows; per-iteration frames are checkpointed so
    * lineage stays one round deep (the Bpe lesson). Empty clusters keep
    * their previous centroid. Init centroids are the caller's id set —
    * deterministic and oracle-replayable.
    *
    * Returns the final assignment (`idCol`, cid, dist) with dist the
    * exact grid-space squared L2 to the FINAL centroid — a value that
    * witnesses the whole iteration chain. */
  def lloydInt(corpus: DataFrame, idCol: String, vecCol: String,
      initIds: Seq[Long], iters: Int,
      scale: Long = 1000L, shift: Long = 1024L): DataFrame = {
    val cents = lloydIntCentroids(corpus, idCol, vecCol, initIds, iters, scale, shift)
    val vecs = corpus.select(col(idCol).as("__vid"),
      gridCol(col(vecCol), scale, shift).as("__y"))
    assignGrid(vecs, cents)
      .select(col("__vid").as(idCol), col("__cid").as("cid"), col("__d").as("dist"))
  }

  /** The trained model of [[lloydInt]]: final centroids in GRID space,
    * (cid, centroid array<long>) — k rows of metadata, the artifact a
    * store persists and a stream ships as literals. Same exact-arithmetic
    * loop; see lloydInt for the contract. */
  def lloydIntCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      initIds: Seq[Long], iters: Int,
      scale: Long = 1000L, shift: Long = 1024L): DataFrame = {
    require(initIds.nonEmpty, "lloydInt needs at least one initial centroid id")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(scale > 0 && shift >= 0, s"bad grid: scale=$scale shift=$shift")
    val vecs = corpus
      .select(col(idCol).as("__vid"), gridCol(col(vecCol), scale, shift).as("__y"))
      .localCheckpoint(true)
    var cents = vecs
      .where(col("__vid").isin(initIds: _*))
      .select(col("__vid").as("__cid"), col("__y").as("__cy"))
      .localCheckpoint(true)
    for (_ <- 1 to iters) {
      val means = assignGrid(vecs, cents)
        .select(col("__cid"), posexplode(col("__y")).as(Seq("__pos", "__x")))
        .groupBy(col("__cid"), col("__pos"))
        .agg(expr("sum(__x) div count(1)").as("__m"))
        .groupBy(col("__cid"))
        .agg(collect_list(struct(col("__pos"), col("__m"))).as("__pm"))
        .select(col("__cid"),
          transform(array_sort(col("__pm")), s => s.getField("__m")).as("__new"))
      cents = cents.join(means, Seq("__cid"), "left")
        .select(col("__cid"), coalesce(col("__new"), col("__cy")).as("__cy"))
        .localCheckpoint(true)
    }
    cents.select(col("__cid").as("cid"), col("__cy").as("centroid"))
  }

  private def gridCol(vec: Column, scale: Long, shift: Long): Column =
    transform(vec.cast("array<double>"), x => floor(x * scale).cast("long") + shift)

  private def gridSqDist(y: Column, c: Column): Column =
    aggregate(zip_with(y, c, (a, b) => (a - b) * (a - b)), lit(0L), _ + _)

  /** Exact argmin assignment of grid vectors (`__vid`, `__y`) to grid
    * centroids (cid|__cid, centroid|__cy): broadcast-k product, keyed min,
    * ties → smaller cid. */
  private def assignGrid(vecs: DataFrame, cents: DataFrame): DataFrame = {
    val c = (if (cents.columns.contains("cid"))
      cents.select(col("cid").as("__cid"), col("centroid").as("__cy"))
    else cents)
    vecs.crossJoin(broadcast(c))
      .select(col("__vid"), col("__y"), col("__cid"),
        gridSqDist(col("__y"), col("__cy")).as("__d"))
      .groupBy(col("__vid"))
      .agg(min(struct(col("__d"), col("__cid"))).as("__best"),
        first(col("__y")).as("__y"))
      .select(col("__vid"), col("__y"),
        col("__best.__cid").as("__cid"), col("__best.__d").as("__d"))
  }

  /** STATELESS assignment to an already-trained [[lloydIntCentroids]]
    * model shipped as LITERALS — the streaming-inference shape: k
    * centroids are model metadata (k·dims longs), so the argmin folds
    * per row with no join, no aggregation, no state; `least` over
    * (dist, cid) structs gives the same exact argmin/tie contract as the
    * batch form. Each centroid array is ONE Literal node, so codegen
    * stays small at any realistic k. */
  def assignToCentroids(df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Long, Seq[Long])],
      scale: Long = 1000L, shift: Long = 1024L): DataFrame = {
    require(centroids.nonEmpty, "assignToCentroids needs at least one centroid")
    val y = col("__y")
    val cands = centroids.map { case (cid, cy) =>
      struct(gridSqDist(y, typedLit(cy)).as("__d"), lit(cid).as("__cid"))
    }
    val best =
      if (cands.size == 1) cands.head else least(cands: _*)
    df.withColumn("__y", gridCol(col(vecCol), scale, shift))
      .withColumn("__best", best)
      .select(col(idCol), col("__best.__cid").as("cid"), col("__best.__d").as("dist"))
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein, SIGIR'98)
    * — the diversification pass a retrieval pipeline runs AFTER top-m
    * recall: from each query's m candidates, greedily select k whose MMR
    * objective `rel/2 − maxSimToSelected/2` is maximal (λ = 1/2, a
    * power-of-two blend so every score is an EXACT IEEE half — no
    * rounding, engine-exact). First pick has no penalty (score = rel/2);
    * every tie breaks to the lowest candidate id.
    *
    * Scale shape: candidate recall is [[bruteForceTopK]] (broadcast
    * queries, ONE corpus scan, bounded top-k reduction — swap in any index
    * rung for the recall stage at larger corpora); the greedy loop then
    * touches only |queries|·m candidate rows. The selection itself is a
    * data-dependent iterative argmax — inexpressible as a fixed Catalyst
    * expression (each step's scores depend on the previous picks), so it
    * runs as a typed mapPartitions over ONE ROW PER QUERY holding the m
    * (id, rel, vec) candidates: per-group state is m·dims doubles +
    * an O(m²) bounded loop, never corpus-sized. Pairwise candidate
    * cosines are computed inside the fold with the same strict
    * left-to-right dot/norm/÷ sequence as the native [[cosine]]
    * expression, so scores stay bit-identical to an engine that derives
    * them from the same vectors.
    *
    * @param queries (qIdCol, vecCol) — SMALL (broadcast by the recall stage)
    * @param corpus  (idCol long-castable, vecCol) — arbitrarily large
    * @param k       results per query (k ≤ m)
    * @param m       candidate pool per query
    * @return (q_id, rank, n_id, score) — rank 1..k in selection order */
  def mmrRerank(queries: DataFrame, corpus: DataFrame,
      qIdCol: String, idCol: String, vecCol: String,
      k: Int, m: Int): DataFrame = {
    require(k > 0 && m >= k, s"need m >= k > 0, got k=$k m=$m")
    mmrSelect(
      bruteForceTopK(queries, corpus, qIdCol, idCol, vecCol, m)
        .select(col("q_id"), col("n_id"), col("sim").as("rel")),
      corpus, idCol, vecCol, k)
  }

  /** The MMR SELECTION stage over an externally-provided candidate set —
    * split out of [[mmrRerank]] so ANY recall arm can feed it (an index
    * rung, a hybrid RRF fusion, a filtered candidate list). Semantics and
    * exactness contract are [[mmrRerank]]'s: greedy argmax of
    * `rel/2 − maxSimToSelected/2`, first pick penalty-free, ties to the
    * lowest id, pairwise cosines in the native expression's exact op
    * order. `cands` must be BOUNDED per query (the m of the recall arm).
    * @param cands (q_id, n_id, rel) — n_id resolves its vector in `corpus`
    * @return (q_id, rank, n_id, score) — rank 1..k in selection order */
  def mmrSelect(cands: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val vecs = corpus.select(col(idCol).cast("long").as("n_id"),
      col(vecCol).cast("array<double>").as("n_vec"))
    val grouped = cands
      .select(col("q_id").cast("long").as("q_id"), col("n_id").cast("long").as("n_id"),
        col("rel"))
      .join(vecs, Seq("n_id"))
      .groupBy(col("q_id"))
      .agg(sort_array(collect_list(
        struct(col("n_id"), col("rel"), col("n_vec")))).as("cs"))
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("q_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("rank",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("n_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("score",
        org.apache.spark.sql.types.DoubleType, nullable = false)))
    grouped.mapPartitions { rows =>
      rows.flatMap { r =>
        val qId = r.getLong(0)
        val cs = r.getSeq[org.apache.spark.sql.Row](1)
        val n = cs.size
        val ids = cs.map(_.getLong(0)).toArray
        val rel = cs.map(_.getDouble(1)).toArray
        val vec = cs.map(_.getSeq[Double](2).toArray).toArray
        // pairwise cosine, exactly the native expression's op sequence:
        // strict left-to-right dot and norms, then dot / (√na · √nb)
        def cos(a: Array[Double], b: Array[Double]): Double = {
          val d = math.min(a.length, b.length)
          var dot = 0.0; var i = 0
          while (i < d) { dot += a(i) * b(i); i += 1 }
          var na = 0.0; i = 0
          while (i < a.length) { na += a(i) * a(i); i += 1 }
          var nb = 0.0; i = 0
          while (i < b.length) { nb += b(i) * b(i); i += 1 }
          dot / (math.sqrt(na) * math.sqrt(nb))
        }
        val pair = Array.ofDim[Double](n, n)
        for (i <- 0 until n; j <- i + 1 until n) {
          val s = cos(vec(i), vec(j)); pair(i)(j) = s; pair(j)(i) = s
        }
        val selected = new Array[Boolean](n)
        val picks = new Array[Int](math.min(k, n))
        val out = Array.newBuilder[org.apache.spark.sql.Row]
        var step = 0
        var exhausted = false
        while (step < math.min(k, n) && !exhausted) {
          var bestI = -1; var bestScore = Double.NegativeInfinity
          for (c <- 0 until n if !selected(c)) {
            // penalty = TRUE max of pairwise sims to the picked set (may be
            // negative — a diversity bonus); no penalty on the first pick
            val score =
              if (step == 0) rel(c) / 2
              else {
                var pen = pair(c)(picks(0))
                var t = 1
                while (t < step) {
                  val s = pair(c)(picks(t)); if (s > pen) pen = s; t += 1
                }
                rel(c) / 2 - pen / 2
              }
            if (score > bestScore ||
                (score == bestScore && (bestI < 0 || ids(c) < ids(bestI)))) {
              bestScore = score; bestI = c
            }
          }
          // bestI stays -1 when every remaining candidate's score is NaN
          // (a zero-norm vector yields cosine 0/0 = NaN, which fails both
          // comparisons above). Emit fewer than k picks instead of
          // indexing selected(-1).
          if (bestI < 0) exhausted = true
          else {
            selected(bestI) = true; picks(step) = bestI
            out += org.apache.spark.sql.Row(qId, step + 1, ids(bestI), bestScore)
            step += 1
          }
        }
        out.result()
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
      .toDF()
  }
}
