package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan assertions: the properties that make these plans survive a
  * 100× scale-up — filter/column pushdown into the scan, broadcast joins for
  * small dims, map-side partial aggregation, bounded top-k reduction. These
  * specs pin the PLAN, not just the answer, so a regression that silently
  * de-optimizes (e.g. a cast blocking pushdown) fails loudly. */
class PlanSpec extends SparkTestBase {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("q02 filter+project pushes filters and prunes columns at the parquet scan") {
    val p = plan(SparkEntry.queries("q02_filter_project")(spark, dir))
    p should include("PushedFilters: [")
    p should include("IsNotNull(l_shipdate)") // at least the null guards reach the scan
    // pruned read schema: none of the 16 lineitem columns beyond the 6 used
    p should not include "l_comment"
    p should not include "l_partkey"
  }

  test("q05 dim join is a broadcast hash join (no shuffle of the fact side)") {
    val p = plan(SparkEntry.queries("q05_join_const_filter")(spark, dir))
    p should include("BroadcastHashJoin")
  }

  test("q01 aggregation is partial (map-side combine) before the exchange") {
    val p = plan(SparkEntry.queries("q01_pricing_agg")(spark, dir))
    p should include("HashAggregate(keys=[l_returnflag")
    p should include("partial_sum")
  }

  test("minhash signatures partial-aggregate the permuted mins map-side") {
    val p = plan(graft.ext.Dedup.minhashSignatures(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text"))
    p should include("partial_min")
  }

  test("q23 minhash pairs scan documents ONCE: bucket-grouped generation, no self-join") {
    // the r3 bench flagged q23 as a 2.4× "regression"; same-JVM A/B showed
    // steady-state ~1.4 s (= r2) with a code-identical plan — VM noise, not
    // drift. This pin keeps the single-scan shape so a future edit that
    // reintroduces a signature self-join (2× md5+min pipelines) fails loudly.
    val p = plan(SparkEntry.queries("q23_minhash_lsh")(spark, dir))
    "FileScan parquet".r.findAllIn(p).size shouldBe 1
    p should include("partial_min") // signature mins combine map-side
    (p should not).include("SortMergeJoin")
  }

  test("brute-force top-k reduces through the bounded aggregator, not a window sort") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = plan(graft.ext.Similarity.bruteForceTopK(
      emb.where(col("vec_id") < 3), emb, "vec_id", "vec_id", "embedding", 3))
    p should include("TopKBySim")
    (p should not).include("Window")
  }

  test("enrich backfill broadcasts the dimension side") {
    val facts = Seq(("S1", "")).toDF("steamId", "playerName")
    val dim = Seq(("S1", "Ada")).toDF("steamId", "name")
    plan(graft.core.enrich.Enrich.backfillName(facts, dim)) should include("BroadcastHashJoin")
  }

  test("hashSample is a zero-shuffle codegen filter at the scan") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val p = plan(graft.ext.Sampling.hashSample(li, col("l_orderkey"), 5)
      .select(col("l_orderkey"), col("l_quantity")))
    (p should not).include("Exchange") // pure filter: no shuffle introduced
    p should include("Filter")
    // projection pruning still reaches the scan under the sample filter
    p should not include "l_comment"
  }

  test("chunking is a single-stage generate: no shuffle, no join") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.ext.TextAnalysis.chunkByTokens(docs, "doc_id", "text", 32, 8))
    (p should not).include("Exchange")
    (p should not).include("Join")
    p should include("Generate") // posexplode of the chunk starts
  }

  test("fitCentroids seed selection is a distributed partial top-k, not a global sort") {
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").as("__vid"), col("embedding").cast("array<double>").as("__v"))
    val p = plan(graft.ext.Similarity.seedCentroids(vecs, 4))
    p should include("TakeOrderedAndProject")
  }

  test("q62 salted join stays an equi-join — no nested loop, no cartesian") {
    val p = plan(SparkEntry.queries("q62_salted_join")(spark, dir))
    p should not include "NestedLoop"
    p should not include "CartesianProduct"
  }

  test("q70 SCD-2's two windows share ONE keyed exchange+sort") {
    val p = plan(SparkEntry.queries("q70_scd2_intervals")(spark, dir))
    // exactly one hash exchange feeds both Window operators; the only other
    // exchange is the final output ORDER BY (range partitioning)
    "Exchange hashpartitioning".r.findAllIn(p).size shouldBe 1
    "\\bWindow\\b".r.findAllIn(p).size should be >= 2
  }

  test("q56 cube and q66 unpivot are single-pass Expand plans") {
    plan(SparkEntry.queries("q56_cube_agg")(spark, dir)) should include("Expand")
    plan(SparkEntry.queries("q66_unpivot")(spark, dir)) should include("Expand")
  }

  test("q73 correlated EXISTS plans as a semi join, not a nested loop over orders") {
    val p = plan(SparkEntry.queries("q73_sql_subqueries")(spark, dir))
    p.toLowerCase should include("semi")
    p should not include "CartesianProduct"
  }

  test("q74 interval merge: both window passes share ONE keyed exchange") {
    val p = plan(SparkEntry.queries("q74_interval_merge")(spark, dir))
    // one hash exchange feeds the running-max and island-sum windows; the
    // only other exchange is the final ORDER BY range partitioning
    "Exchange hashpartitioning".r.findAllIn(p).size shouldBe 1
    p should not include "CartesianProduct"
  }

  test("q76 bloom prefilter runs below the join, on the fact scan side") {
    val p = plan(SparkEntry.queries("q76_bloom_join")(spark, dir))
    // the UDF probe itself must survive optimization AND sit under the
    // join (child operators print below their parent) — matching on a bare
    // "Filter" would pass via the dim-side filter even with the probe gone
    val joinAt = p.indexOf("Join")
    val udfAt = p.indexOf("UDF")
    joinAt should be >= 0
    udfAt should be > joinAt
  }

  test("q77 fence join broadcasts the per-group fences, no fact-side sort") {
    val p = plan(SparkEntry.queries("q77_iqr_outliers")(spark, dir))
    p should include("BroadcastHashJoin")
  }

  test("q83 moment aggregates reduce in ONE scan with map-side partials") {
    val p = plan(SparkEntry.queries("q83_corr_regression")(spark, dir))
    p should include("partial_sum")
    // one scan of lineitem feeds all six moments — no second pass
    "Scan parquet".r.findAllIn(p).size shouldBe 1
  }

  test("q88 series similarity: broadcast dense pairing with the codegen dot product") {
    // dense small-dim vectors: the INTENDED shape is a broadcast cross
    // pairing (one side tiny) whose per-row work is the native dot_product
    // expression — not a shuffled posting join
    val p = plan(SparkEntry.queries("q88_series_similarity")(spark, dir))
    p.toLowerCase should include("broadcastnestedloopjoin")
    p should include("dot_product")
    p should not include "CartesianProduct" // never the unbroadcast form
  }

  test("q89 funnel: all window stages share ONE keyed exchange, no re-scan per step") {
    val p = plan(SparkEntry.queries("q89_funnel")(spark, dir))
    "Exchange hashpartitioning".r.findAllIn(p).size shouldBe 1
    "Scan parquet".r.findAllIn(p).size shouldBe 1
  }

  test("q91 markov transitions: one scan, lag window over one keyed exchange") {
    val p = plan(SparkEntry.queries("q91_markov_transitions")(spark, dir))
    "Scan parquet".r.findAllIn(p).size shouldBe 1
    // the fact-table-sized stage is the lag window's user_id exchange; the
    // bigram aggregate and row-normalization exchanges are |types|²-sized
    p should include("lag(event_type")
  }

  test("q93 z-score fences broadcast back onto the fact rows, no fact sort") {
    val p = plan(SparkEntry.queries("q93_zscore_outliers")(spark, dir))
    p should include("BroadcastHashJoin")
    p should include("partial_sum") // moments combine map-side
  }

  test("q94 basket pairs: the (order, brand) reduction is scanned once, not per join side") {
    val p = plan(SparkEntry.queries("q94_basket_pairs")(spark, dir))
    // lineitem + part were scanned ONCE into the basket localCheckpoint;
    // the in-stage pair explode and the support total both read the
    // checkpoint, so no parquet scan survives in the pair plan at all
    "Scan parquet".r.findAllIn(p).size shouldBe 0
    p should not include "CartesianProduct"
  }

  test("q95 pagerank iterations join a BROADCAST rank vector against checkpointed edges") {
    val p = plan(SparkEntry.queries("q95_pagerank")(spark, dir))
    // the 4-way trade join ran once into the checkpoint: no lineitem scan
    // survives in the iteration plan
    p should not include "lineitem"
    p should include("BroadcastHashJoin")
  }

  test("q128 gram matrix reduces through the typed aggregator: one exchange, no pair explode before it") {
    val p = plan(SparkEntry.queries("q128_gram_matrix")(spark, dir))
    p should include("GramUpperTriangle")
    // partial (map-side) typed aggregation before the single keyed exchange
    p should include("partial_gramuppertriangle")
    // the (i,j) unpack Generate executes AFTER the aggregation — in the
    // top-down plan text it must sit ABOVE (before) the partial agg line,
    // proving no pair rows are generated on the fact side of the exchange
    p.indexOf("Generate") should be < p.indexOf("partial_gramuppertriangle")
  }

  test("q132 heavy-key report: bounded top-k via TakeOrdered, dims broadcast") {
    val p = plan(SparkEntry.queries("q132_heavy_keys")(spark, dir))
    p should include("TakeOrderedAndProject")
    p should include("BroadcastNestedLoopJoin") // 1-row total: broadcast, not shuffle
  }

  test("q126 content hash: one key exchange for the window, hashes computed below it") {
    val p = plan(SparkEntry.queries("q126_content_hash")(spark, dir))
    p should include("Window")
    // exactly ONE hash exchange (on the content key); the only other
    // exchange is the final global-order range partitioning
    "Exchange hashpartitioning".r.findAllIn(p).size shouldBe 1
    // the md5 projection sits BELOW the key exchange (computed scan-side,
    // so the blob-store sharding key never recomputes post-shuffle)
    p.indexOf("md5") should be > p.indexOf("Exchange hashpartitioning")
  }

  test("q124 lateral top-N decorrelates: no per-row subquery re-execution") {
    val p = plan(SparkEntry.queries("q124_lateral_topn")(spark, dir))
    // Catalyst rewrites the LIMIT-2 lateral into a windowed join plan
    (p should not).include("LateralJoin")
    p should include("Window")
  }

  test("q136 star join: the dimension chain broadcasts, at most one shuffle join") {
    val p = plan(SparkEntry.queries("q136_star_join")(spark, dir))
    // region→nation→customer chain + supplier all reach the fact scans as
    // broadcasts; the only shuffle-worthy join is lineitem ⋈ orders
    "BroadcastHashJoin".r.findAllIn(p).size should be >= 4
    "SortMergeJoin".r.findAllIn(p).size should be <= 1
    (p should not).include("CartesianProduct")
  }

  test("q167 join fan-out audit joins AGGREGATED sides only — the raw fact is never joined") {
    val p = plan(SparkEntry.queries("q167_join_explosion")(spark, dir))
    // per-key multiplicities reduce map-side before any join; the join keys
    // are the renamed aggregate outputs (k/kr), never bare l_partkey sides
    p should include("partial_count")
    "(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)".r.findAllIn(p) should not be empty
    (p should not).include("Join [l_partkey")
    (p should not).include("CartesianProduct")
  }

  test("q166 BPE merge scan is two pure reductions — no join anywhere") {
    val p = plan(SparkEntry.queries("q166_bpe_merges")(spark, dir))
    p should include("partial_count") // word-frequency reduce combines map-side
    p should include("partial_sum")   // pair-count reduce combines map-side
    (p should not).include("Join")
  }

  test("q175 multi-probe ANN: broadcast probe equi-join, candidate dedup partials, bounded top-k") {
    val p = plan(SparkEntry.queries("q175_ann_multiprobe")(spark, dir))
    p should include("BroadcastHashJoin")   // probe set broadcast onto the corpus explode
    p should include("partial_first")       // cross-table candidate dedup combines map-side
    p should include("TopKBySim")           // bounded top-k, not a window sort of all candidates
    (p should not).include("CartesianProduct")
    (p should not).include("SortMergeJoin") // the bucket match must stay a broadcast equi-join
  }

  test("q177 repeated spans: one corpus scan, window frames only, no join") {
    val p = plan(SparkEntry.queries("q177_repeated_spans")(spark, dir))
    "Scan parquet".r.findAllIn(p).size shouldBe 1
    (p should not).include("Join")
    p should include("Generate")            // the sliding-window explode
    "\\bWindow\\b".r.findAllIn(p).size should be >= 2 // df count frame + island merge
  }

  test("q145/q127 global ranks range-partition the frame, never single-partition it") {
    Seq("q145_sequence_pack", "q127_key_gaps").foreach { q =>
      val p = plan(SparkEntry.queries(q)(spark, dir))
      withClue(q) {
        p should include("rangepartitioning") // the two-phase scan's first exchange
        // the only SinglePartition exchange feeds the P-row offsets frame
        // (below a __pid aggregate), so the pattern "Exchange SinglePartition"
        // over a raw scan must not appear adjacent to the parquet relation
        "Exchange SinglePartition".r.findAllIn(p).size should be <= 1
      }
    }
  }

  test("q178 segment dedup: owner table is a hash aggregate, no unbounded window") {
    val p = plan(SparkEntry.queries("q178_segment_dedup")(spark, dir))
    (p should not).include("Window")        // no window anywhere in this plan
    p should include("partial_min")         // owner min combines map-side
    p should include("Generate")            // the segment explode
    (p should not).include("CartesianProduct")
  }

  test("q193 bloom decontamination: sketch filter below the verify join, eval grams NOT broadcast-pinned") {
    val p = plan(SparkEntry.queries("q193_bloom_decontaminate")(spark, dir))
    // the bloom prefilter is a Filter over the corpus gram stream — it must
    // sit BELOW the verify join (prune before shuffle), and unlike q51 the
    // plan carries no broadcast() hint on the eval gram set, so at real
    // scale the join degrades gracefully to a shuffle join instead of OOM
    p should include("UDF")                  // the mightContain prefilter
    p.indexOf("UDF") should be > p.indexOf("Join") // filter deeper than the join
  }

  test("q194 bigram LM: the (doc,bigram) reduction is pinned and shared by all three consumers") {
    val p = try plan(SparkEntry.queries("q194_bigram_lm")(spark, dir))
    finally graft.util.Caches.releaseAll()
    p should include("partial_count")        // the doc-bigram reduce combines map-side
    (p should not).include("CartesianProduct")
    // the bigram table, head counts, and flag join all read the CACHED
    // reduction — the corpus is never re-scanned or re-exploded per consumer
    p should include("InMemoryTableScan")
  }

  test("q195 SRP rerank: projected coarse pass broadcasts queries, exact math joins the candidate set") {
    val p = plan(SparkEntry.queries("q195_srp_rerank")(spark, dir))
    p should include("signed_projection")    // the native matvec in the plan
    p should include("BroadcastNestedLoopJoin") // corpus scanned once vs broadcast queries
    p should include("TopKBySim")            // bounded top-k reduction, not a global sort
    (p should not).include("SortMergeJoin")  // nothing shuffles both sides
  }

  test("q196/q198 label-constrained mining: label predicate sits below the scoring join output") {
    Seq("q196_hard_negatives", "q198_triplet_mining").foreach { q =>
      val p = plan(SparkEntry.queries(q)(spark, dir))
      withClue(q) {
        p should include("BroadcastNestedLoopJoin") // one corpus scan per constraint
        p should include("TopKBySim")
        (p should not).include("CartesianProduct")  // never an unbroadcast cross join
      }
    }
  }

  test("q200 flagship: the gate→dedup→decontaminate subtree executes ONCE — every consumer reads the pinned exchange") {
    // node-level check (TreeNode.collect does not descend into a cached
    // relation's inner plan): outside the InMemoryRelation there must be NO
    // parquet scan at all — the cumsum branch, the per-split bases branch,
    // and the packing manifest all consume GlobalCumsum's pinned ranged
    // frame, so the expensive quality-gate → dedup → decontaminate subtree
    // is executed exactly once, at pin time. AQE is disabled for the shape
    // assertion only (AdaptiveSparkPlanExec is opaque to collect).
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val exec = SparkEntry.queries("q200_training_snapshot")(spark, dir)
        .queryExecution.executedPlan
      val fileScans = exec.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      fileScans shouldBe empty
      val memScans = exec.collect {
        case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => m
      }
      memScans.size should be >= 2 // cumsum branch + per-split bases branch
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prev)
      graft.util.Caches.releaseAll()
    }
  }

  test("native ADC expression runs inside whole-stage codegen") {
    // codes derive from a parquet column (a purely-literal frame constant-
    // folds the whole projection away before any plan shape exists)
    // array() construction (not transform — interpreted HOFs would break
    // WSCG themselves and mask what this test pins)
    val df = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(
        expr("array(CAST(pmod(vec_id, 2) AS INT), CAST(pmod(vec_id + 1, 2) AS INT))").as("codes"),
        expr("array(array(1.0D, 2.0D), array(3.0D, 4.0D))").as("lut"))
      .select(graft.functions.VectorFunctions.adcDistance(col("codes"), col("lut")).as("d"))
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    formatted should include("adc_distance")
    formatted should include("* Project")
  }

  test("native cosine expression runs inside whole-stage codegen") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val df = emb.select(graft.ext.Similarity.cosine(col("embedding"), col("embedding")).as("c"))
    // the projection containing cosine_similarity must sit under a WSCG node
    // (formatted explain marks codegen'd operators with a leading "*")
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    formatted should include("cosine_similarity")
    formatted should include("* Project")
  }

  test("q218 DSIR: weight table and totals broadcast; no corpus-wide sort") {
    val p = plan(SparkEntry.queries("q218_dsir_selection")(spark, dir))
    p should include("BroadcastHashJoin")
    // top-k selection is a distributed TakeOrderedAndProject, never a
    // global Sort of the scored pool
    p should include("TakeOrderedAndProject")
    graft.util.Caches.releaseAll()
  }

  test("q219 semDedup: centroid assignment broadcasts the centroid side") {
    val p = plan(SparkEntry.queries("q219_semdedup")(spark, dir))
    p should include("BroadcastNestedLoopJoin") // the k-row centroid product
    graft.util.Caches.releaseAll()
  }

  test("q229 integer Lloyd: per-round argmin is a broadcast product, means partial-aggregate") {
    val p = plan(SparkEntry.queries("q229_kmeans_int")(spark, dir))
    p should include("BroadcastNestedLoopJoin")
    p should include("partial_min") // the keyed argmin combines map-side
  }

  test("streaming k-means inference is join-free: centroids are literals") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val model = Seq((0L, Seq.fill(64)(1024L)), (1L, Seq.fill(64)(1030L)))
    val p = plan(graft.ext.Similarity.assignToCentroids(
      emb, "vec_id", "embedding", model))
    (p should not).include("Join")
    (p should not).include("Exchange") // pure per-row projection
  }

  test("sparse TF-IDF pairs: postings aggregate partially; top-k windows per doc key") {
    val p = plan(graft.ext.TextAnalysis.sparseTfIdfTopK(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text", 5, 50L))
    p should include("partial_count") // tf build combines map-side
    // the neighbor ranking is a rank<=k window KEYED by doc with the
    // WindowGroupLimit pushdown: each map task keeps only its local top-k
    // per doc BEFORE the keyed exchange — never a global unkeyed window
    p should include("WindowGroupLimit")
    p should include("Exchange hashpartitioning(__ida")
    graft.util.Caches.releaseAll()
  }

  test("streaming tokenize-to-ids is join-free and exchange-free: model is literals") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.ext.Bpe.tokenIdsRowwise(docs, "doc_id", "text",
      Seq(("t", "h"), ("e", ">")), Map("t" -> 0, "h" -> 1, "e" -> 2,
        ">" -> 3, "th" -> 4, "e>" -> 5)))
    (p should not).include("Join")
    (p should not).include("Exchange") // pure per-row projection — streamable
  }

  test("packTokens: per-token rows exist only AFTER the doc-level cumsum spine") {
    import org.apache.spark.sql.functions._
    val docs = spark.range(100).select(col("id").as("doc_id"),
      transform(sequence(lit(1), (col("id") % 7 + 1).cast("int")),
        i => i.cast("int")).as("ids"))
    val df = graft.ext.Packing.packTokens(docs, "doc_id", "ids", 16L)
    val p = plan(df)
    // the generator (posexplode) must sit ABOVE every exchange: all
    // shuffles move doc-level rows, token payloads never shuffle
    val genIdx = p.indexOf("Generate posexplode")
    genIdx should be >= 0
    p.indexOf("Exchange") should be > genIdx // first Exchange is BELOW (printed after) the generate
    graft.util.Caches.releaseAll()
  }

  test("semDedup guarded path broadcasts the cluster-size table") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val cents = emb.where(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("cid"), col("embedding"))
    val p = plan(graft.ext.Dedup.semDedup(emb, cents, "vec_id", "embedding",
      "cid", "embedding", threshold = 0.9, maxClusterSize = 10))
    p should include("BroadcastHashJoin") // sizes join back broadcast
    graft.util.Caches.releaseAll()
  }

  test("production-size tokenizer model never lands in the plan: typed route, bounded plan size") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // a vocab past RankPathMaxVocab: the expression path would typedLit all
    // V entries into the plan (re-serialized per task); the typed route
    // must broadcast instead, leaving a model-size-independent plan
    val bigVocab = (0 until graft.ext.Bpe.RankPathMaxVocab + 256)
      .map(i => s"tok$i" -> i).toMap ++ Map("t" -> 0, "h" -> 1, "e" -> 2, ">" -> 3)
    val merges = Seq(("t", "h"))
    val typed = graft.ext.Bpe.tokenIdsRowwise(docs, "doc_id", "text", merges,
      bigVocab) // routes typed past the vocab threshold
    val pTyped = plan(typed)
    pTyped should include("MapPartitions") // the typed route marker
    (pTyped should not).include("keys: [") // no literal map node
    withClue("plan must not grow with the model size:") {
      pTyped.length should be < 10000
    }
    // same shape for a merge table past RankPathMaxMerges
    val bigMerges = (0 until graft.ext.Bpe.RankPathMaxMerges + 8)
      .map(i => (s"zz$i", s"qq$i"))
    val pCounts = plan(graft.ext.Bpe.tokenizeRowwise(docs, "doc_id", "text", bigMerges))
    pCounts should include("MapPartitions")
    (pCounts should not).include("replace(") // no merge-deep expression chain
    withClue("plan must not grow with the merge count:") {
      pCounts.length should be < 10000
    }
  }

  test("q262 cluster-balanced pick collapses to the keyed WindowGroupLimit pushdown") {
    val p = plan(SparkEntry.queries("q262_cluster_balanced_sample")(spark, dir))
    p should include("WindowGroupLimit")
  }

  test("q266 BM25 top-k is a distributed TakeOrdered, terms filtered at the scan") {
    val p = plan(SparkEntry.queries("q266_bm25")(spark, dir))
    p should include("TakeOrderedAndProject")
  }

  test("q268 hybrid fusion: per-query top-k via WindowGroupLimit, metadata sides broadcast") {
    val p = plan(SparkEntry.queries("q268_hybrid_rrf")(spark, dir))
    p should include("WindowGroupLimit")
    p should include("BroadcastHashJoin")
  }

  test("index tombstone deletion is a BROADCAST anti-join — the store side never shuffles") {
    val index = (1 to 500).map(i => (i.toLong, i.toLong % 4,
      Seq(i % 7, i % 5))).toDF("n_id", "lcid", "codes")
    val tomb = Seq(3L, 9L, 27L).toDF("id")
    val out = graft.ext.Similarity.deleteFromIndex(index, tomb)
    out.collect() // settle AQE so the FINAL plan is asserted, not the initial
    val p = plan(out)
    p should include("BroadcastHashJoin")
    p should include("LeftAnti")
    (p should not).include("SortMergeJoin")
  }

  test("removeDocsById: every id-keyed prune broadcasts the (small) id set") {
    val docs = (1 to 200).map(i => (i.toLong, s"tok$i word common"))
      .toDF("doc_id", "text")
    val emb = docs.select(col("doc_id").as("vec_id"),
      transform(sequence(lit(1), lit(4)),
        j => (col("vec_id") + j).cast("float")).as("embedding"))
    val hc = graft.ext.TextAnalysis.prepareHybridCorpus(
      docs, "doc_id", "text", emb, "vec_id", "embedding")
    val removed = graft.ext.TextAnalysis.removeDocsById(
      hc, Seq(5L, 6L).toDF("doc_id"))
    // the corpus-sized frames (toks, dl, emb) prune via broadcast
    // anti-joins against the deleted-id set — no corpus-side merge join
    // appears (AQE settles the derived id frame to a broadcast at runtime)
    Seq(removed.toks, removed.dl, removed.emb).foreach { f =>
      f.collect() // settle AQE: assert the FINAL plan
      val p = plan(f)
      p should include("BroadcastHashJoin")
      (p should not).include("SortMergeJoin")
    }
  }

  test("wordpiece piece sets ride a broadcast, never the plan") {
    val docs = Seq((1L, "aa bb cc")).toDF("doc_id", "text")
    val big = (0 until 20000).map(i => s"piece$i").toSet
    val p = plan(graft.ext.Wordpiece.tokenizeRowwise(
      docs, "doc_id", "text", big, big, maxLen = 4))
    p should include("MapPartitions")
    withClue("plan must not grow with the piece-set size:") {
      p.length should be < 10000
    }
  }

  test("deltaBelow store reads PARTITION-PRUNE the excluded deltas (directory-level cut)") {
    // the maintenance-cycle claim: reading only committed deltas must be a
    // partition prune on the delta= directory layout, never a data-page
    // read-then-filter — at 100 TB the excluded delta could be the freshly
    // arriving increment, and scanning it to discard it doubles the cycle
    val root = java.nio.file.Files.createTempDirectory("graft_prune").toString
    val docs = Seq((0L, "spark joins fast"), (1L, "slow scans"),
      (2L, "fast joins")).toDF("doc_id", "text")
    for (b <- 0L to 2L)
      graft.ext.TextAnalysis.writeHybridCorpusDelta(
        graft.ext.TextAnalysis.prepareHybridCorpus(
          docs.where(col("doc_id") === b), "doc_id", "text", null, null, null),
        root, Some(b))
    val hc = graft.ext.TextAnalysis.readHybridCorpus(spark, root,
      "doc_id", "text", null, null, deltaBelow = Some(2L))
    val scans = hc.toks.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    scans should have size 1
    withClue("the delta<2 cut must land in PartitionFilters, " +
        "selecting 2 of the 3 delta directories:") {
      scans.head.selectedPartitions.partitionCount shouldBe 2
    }
    // and the cut is correct: only docs 0 and 1 are visible
    hc.dl.select(col("doc_id")).collect().map(_.getLong(0)).sorted shouldBe
      Array(0L, 1L)
    // the index store's latest-wins read keeps `delta` as a plain column
    // (all deltas consulted by design) — pin that it still reads the
    // partition layout, not data pages, for the delta values
    val idxRoot = java.nio.file.Files.createTempDirectory("graft_prune_ix").toString
    val rows = Seq((1L, 0L, Array(1L, 2L)), (2L, 0L, Array(3L, 4L)))
      .toDF("n_id", "lcid", "codes")
    rows.write.parquet(s"$idxRoot/delta=0")
    rows.withColumn("codes", array(lit(9L), lit(9L)))
      .write.parquet(s"$idxRoot/delta=1")
    val latest = graft.ext.Similarity.readIndexStore(spark, idxRoot)
    latest.collect().foreach(r =>
      r.getSeq[Long](2) shouldBe Seq(9L, 9L)) // delta 1 wins for every id
  }

  /** Every operator of an executed plan, through AQE stages; a cached
    * relation is one leaf (its plan ran when it was pinned). */
  private def operators(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = p +: (p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      operators(a.executedPlan)
    case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => operators(s.plan)
    case _ => p.children.flatMap(operators)
  })

  /** A tiny residual IVF-PQ model and index: (queries, centroids, codebooks, index). */
  private def ivfPqFixture() = {
    val corpus = (1 to 60).map(i =>
      (i.toLong, Array.tabulate(4)(j => ((i * 17 + j * 11) % 15 - 7).toFloat))).toDF("id", "v")
    val cents = Seq(
      (0L, Array(3.0f, 3.0f, 3.0f, 3.0f)),
      (1L, Array(-3.0f, -3.0f, -3.0f, -3.0f))).toDF("cid", "v")
    val cb = graft.ext.Similarity.pqCodebookByStride(
      graft.ext.Similarity.residuals(corpus, cents, "id", "cid", "v"),
      "id", "res", m = 2, subDim = 2, stride = 7).localCheckpoint(true)
    val index = graft.ext.Similarity.residualIndex(corpus, cents, cb,
      "id", "cid", "v", m = 2, subDim = 2).localCheckpoint(true)
    (corpus.where(col("id") <= 6), cents, cb, index)
  }

  test("queryResidualLuts builds probes and LUTs without a window or a keyed exchange") {
    val (qs, cents, cb, _) = ivfPqFixture()
    val p = plan(graft.ext.Similarity.queryResidualLuts(qs, cents, cb,
      "id", "cid", "v", m = 2, subDim = 2, nprobe = 2))
    (p should not).include("Window")
    (p should not).include("Exchange hashpartitioning")
  }

  test("IVF-PQ serve: the model is read once at writer build; a micro-batch " +
      "runs one shuffle exchange (the top-k) and at most 4 jobs") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.util.Profile
    val (qs, cents0, cb0, index) = ivfPqFixture()
    val tmp = java.nio.file.Files.createTempDirectory("graft_serve_plan").toString
    cents0.write.parquet(s"$tmp/centroids")
    cb0.write.parquet(s"$tmp/codebooks")
    qs.repartition(3).write.parquet(s"$tmp/queries")
    val cents = spark.read.parquet(s"$tmp/centroids")
    val cb = spark.read.parquet(s"$tmp/codebooks")
    val expected = graft.ext.Similarity.ivfPqResidualStoredTopK(qs, index, cents, cb,
      "id", "cid", "v", k = 3, m = 2, subDim = 2, nprobe = 2).collect().toSet
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.SparkPlan]()
    val got = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.Row]()
    val stream = spark.readStream.schema("id LONG, v ARRAY<FLOAT>")
      .option("maxFilesPerTrigger", 1).parquet(s"$tmp/queries")
    try {
      val writer = Profile.tagged(spark, "serve-build") {
        graft.ext.Similarity.serveIndexStream(stream, index, cents, cb,
            "id", "cid", "v", k = 3, m = 2, subDim = 2, nprobe = 2) { (ans, _) =>
          ans.collect().foreach(got.add)
          plans.add(ans.queryExecution.executedPlan)
        }
      }
      // the model sources are gone: a batch that re-read them would fail
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      Seq("centroids", "codebooks").foreach(d =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$tmp/$d"), true))
      Profile.tagged(spark, "serve-batches") {
        writer.trigger(Trigger.AvailableNow()).start().awaitTermination()
      }
      val counters = Profile.report(spark, Seq("serve-build", "serve-batches"))
      import scala.jdk.CollectionConverters._
      got.asScala.toSet shouldBe expected
      plans.size shouldBe 3
      counters("serve-build").jobs should be >= 1L
      counters("serve-batches").jobs should be <= 4L * plans.size
      plans.asScala.foreach { p =>
        val ops = operators(p)
        ops.count(_.isInstanceOf[
          org.apache.spark.sql.execution.exchange.ShuffleExchangeExec]) shouldBe 1
        val scanned = ops.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.relation.location.rootPaths.map(_.toString)
        }.flatten
        scanned.filter(s => s.contains("centroids") || s.contains("codebooks")) shouldBe empty
      }
    } finally graft.util.Caches.releaseAll()
  }
}
