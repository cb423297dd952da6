package graft
package catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.DecimalType

import graft.core.Event
import graft.core.parse.GameLogParser
import graft.core.stats.PlayerStatsEngine
import graft.core.enrich.Enrich
import graft.analytics.{AsofJoin, GlobalCumsum, Intervals, RangeJoin, Scoreboard, Sessionize}
import graft.ext.{Dedup, Diff, Multimodal, Prefilter, Sampling, Similarity, Skew, TextAnalysis}

import CatalogShared._

/** Sampling + sketches: hash/stratified/balanced/PPS/budget-capped
  * sampling, DSIR, mixing weights, histograms, HLL/t-digest, Misra-Gries,
  * count-min (batch + streaming).
  *
  * Each entry is (name, query, oracle SQL) exactly as it sat in
  * SparkEntry's catalog before the per-family split; SparkEntry composes
  * the families back into the single driver-contract map.
  */
private[graft] object SamplingCatalog {

  val entries: Seq[(String, Q, Option[String])] = Seq(


    // Deterministic keyed hash-sample: reproducible (engine/partitioning/
    // seed-independent) 5% sample of ORDERS — every lineitem of a sampled
    // order survives together; nested (5% ⊂ 10%); pure codegen filter at
    // the scan, no shuffle added.
    ("q42_hash_sample", (s, dir) => {
      Sampling.hashSample(T(s, dir, "lineitem"), col("l_orderkey"), 5)
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("l_orderkey")).as("n_orders"),
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))
        .orderBy(col("l_returnflag"))
    }, Some("""
      SELECT l_returnflag,
             count(*) AS n_rows,
             count(DISTINCT l_orderkey) AS n_orders,
             sum(l_quantity::DECIMAL(12,2))::DOUBLE AS sum_qty
      FROM lineitem
      WHERE ('0x' || substr(md5(l_orderkey::VARCHAR), 1, 12))::BIGINT % 100 < 5
      GROUP BY 1 ORDER BY 1""")),


    // Class-balanced downsample: ≤20 docs per language in deterministic
    // pseudorandom (id-hash) order — the unbiased-but-reproducible per-class
    // cap a balanced training mix needs.
    ("q43_balanced_sample", (s, dir) => {
      Sampling.balancedSample(T(s, dir, "documents"), Seq("lang"), col("doc_id"), 20)
        .select(col("lang"), col("doc_id"), col("sample_rank"))
        .orderBy(col("lang"), col("sample_rank"))
    }, Some("""
      WITH ranked AS (
        SELECT lang, doc_id,
          CAST(row_number() OVER (PARTITION BY lang
            ORDER BY ('0x' || substr(md5(doc_id::VARCHAR), 1, 12))::BIGINT, doc_id)
            AS INT) AS sample_rank
        FROM documents)
      SELECT lang, doc_id, sample_rank FROM ranked
      WHERE sample_rank <= 20 ORDER BY lang, sample_rank""")),


    // Fixed-width histogram per group: price distribution of lineitem by
    // return flag, one hash aggregation.
    ("q50_histogram", (s, dir) => {
      ext.Profiling.histogram(
        T(s, dir, "lineitem"), col("l_extendedprice"), 10000.0, Seq("l_returnflag"))
        .orderBy(col("l_returnflag"), col("bin"))
    }, Some("""
      SELECT l_returnflag,
             CAST(floor(l_extendedprice / 10000.0) AS BIGINT) AS bin,
             count(*) AS n,
             CAST(min(l_extendedprice) AS DOUBLE) AS bin_min,
             CAST(max(l_extendedprice) AS DOUBLE) AS bin_max
      FROM lineitem
      GROUP BY 1, 2 ORDER BY 1, 2""")),


    // Deterministic weighted training mix: 30% of one source, 60% of
    // another, keyed hash selection — reproducible and nested.
    ("q48_weighted_mix", (s, dir) => {
      val docs = T(s, dir, "documents")
      val webish = Seq("src0", "src1", "src2")
      val a = docs.where(col("source").isin(webish: _*))
        .select(col("doc_id"), col("lang"), lit("web").as("mix_src"))
      val b = docs.where(!col("source").isin(webish: _*))
        .select(col("doc_id"), col("lang"), lit("rest").as("mix_src"))
      Sampling.weightedMix(Seq((a, col("doc_id"), 30), (b, col("doc_id"), 60)))
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id, lang, 'web' AS mix_src FROM documents
      WHERE source IN ('src0', 'src1', 'src2')
        AND ('0x' || substr(md5(doc_id::VARCHAR), 1, 12))::BIGINT % 100 < 30
      UNION ALL
      SELECT doc_id, lang, 'rest' AS mix_src FROM documents
      WHERE source NOT IN ('src0', 'src1', 'src2')
        AND ('0x' || substr(md5(doc_id::VARCHAR), 1, 12))::BIGINT % 100 < 60
      ORDER BY doc_id""")),


    // Dataset profiling: row/null/distinct counts + min/max for several
    // columns in ONE aggregation over ONE scan (tall output, one row per
    // column).
    ("q45_profile", (s, dir) => {
      graft.ext.Profiling.profile(
        T(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"))
        .orderBy(col("column"))
    }, Some("""
      WITH one AS (
        SELECT
          count(*) AS n,
          count(CASE WHEN o_orderkey IS NULL THEN 1 END) AS null_ok,
          count(DISTINCT o_orderkey) AS dist_ok,
          CAST(min(o_orderkey) AS VARCHAR) AS min_ok, CAST(max(o_orderkey) AS VARCHAR) AS max_ok,
          count(CASE WHEN o_custkey IS NULL THEN 1 END) AS null_ck,
          count(DISTINCT o_custkey) AS dist_ck,
          CAST(min(o_custkey) AS VARCHAR) AS min_ck, CAST(max(o_custkey) AS VARCHAR) AS max_ck,
          count(CASE WHEN o_orderstatus IS NULL THEN 1 END) AS null_os,
          count(DISTINCT o_orderstatus) AS dist_os,
          CAST(min(o_orderstatus) AS VARCHAR) AS min_os, CAST(max(o_orderstatus) AS VARCHAR) AS max_os,
          count(CASE WHEN o_totalprice IS NULL THEN 1 END) AS null_tp,
          count(DISTINCT o_totalprice) AS dist_tp,
          CAST(min(o_totalprice) AS VARCHAR) AS min_tp, CAST(max(o_totalprice) AS VARCHAR) AS max_tp
        FROM orders)
      SELECT 'o_orderkey' AS "column", n AS n_rows, null_ok AS n_null,
             dist_ok AS n_distinct, min_ok AS min_value, max_ok AS max_value FROM one
      UNION ALL
      SELECT 'o_custkey', n, null_ck, dist_ck, min_ck, max_ck FROM one
      UNION ALL
      SELECT 'o_orderstatus', n, null_os, dist_os, min_os, max_os FROM one
      UNION ALL
      SELECT 'o_totalprice', n, null_tp, dist_tp, min_tp, max_tp FROM one
      ORDER BY "column" """)),


    // Deterministic train/val/test split (80/10/10 by content hash), summed
    // per (split, lang) — reproducible across engines/reruns/partitioning.
    ("q53_split_assign", (s, dir) => {
      Sampling.assignSplit(T(s, dir, "documents"), col("doc_id"),
          Seq(("train", 80), ("val", 10), ("test", 10)))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("split"), col("lang"))
    }, Some("""
      WITH s AS (
        SELECT lang, n_chars,
          CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
        FROM (SELECT lang, n_chars,
                ('0x' || substr(md5(doc_id::VARCHAR), 1, 12))::BIGINT % 100 AS b
              FROM documents))
      SELECT split, lang, count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars
      FROM s GROUP BY 1, 2 ORDER BY 1, 2""")),


    // Per-class sampling rates (stratified): rebalance a corpus by keeping a
    // different hash-bucket percentage per language — all of hashSample's
    // guarantees per class, still a pure scan-stage filter (q42's hash).
    ("q59_stratified_sample", (s, dir) => {
      Sampling.stratifiedSample(
          T(s, dir, "documents"), col("lang"), col("doc_id"),
          pct = Map("en" -> 50, "de" -> 20), defaultPct = 5)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("lang"))
    }, Some("""
      SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
      FROM documents
      WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 12))::BIGINT % 100
            < CASE lang WHEN 'en' THEN 50 WHEN 'de' THEN 20 ELSE 5 END
      GROUP BY 1 ORDER BY 1""")),


    // Temperature-based corpus mixing weights (the multilingual-sampling
    // recipe of published LLM training reports: w_l ∝ n_l^α with α = 0.5):
    // per language, doc/token counts plus the RELATIVE sampling weight and
    // the upsample factor vs proportional sampling. Every double is a
    // single sqrt/division over exact integer counts (max via window —
    // deterministic), so no float-sum ordering can break cross-engine
    // bit-equality. One scan, one tiny aggregation.
    ("q154_mixing_weights", (s, dir) => {
      val c = T(s, dir, "documents")
        .where(col("lang").isNotNull)
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
      c.withColumn("max_docs", max(col("n_docs")).over(Window.partitionBy()))
        .select(col("lang"), col("n_docs"), col("n_tokens"),
          sqrt(col("n_docs").cast("double") / col("max_docs").cast("double"))
            .as("rel_weight"),
          sqrt(col("max_docs").cast("double") / col("n_docs").cast("double"))
            .as("upsample_factor"))
        .orderBy(col("lang"))
    }, Some("""
      WITH c AS (
        SELECT lang, count(*) AS n_docs,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents WHERE lang IS NOT NULL GROUP BY lang),
      m AS (SELECT *, max(n_docs) OVER () AS max_docs FROM c)
      SELECT lang, n_docs, n_tokens,
        sqrt(CAST(n_docs AS DOUBLE) / CAST(max_docs AS DOUBLE)) AS rel_weight,
        sqrt(CAST(max_docs AS DOUBLE) / CAST(n_docs AS DOUBLE)) AS upsample_factor
      FROM m ORDER BY lang""")),


    // Equi-depth histogram (optimizer statistics / drift detection): nine
    // exact decile cuts per group over near-unique doubles, via the
    // rank-pick exactPercentilesGlobal — the values themselves gate against
    // DuckDB's quantile_cont (same 0-based pos, same lo·(1−f)+hi·f IEEE
    // blend — ulp-exact cross-engine), a stronger pin than q39's
    // error-bound booleans. Scan-shaped at any group size: no value
    // buffers, no single-partition sort.
    ("q187_equidepth_hist", (s, dir) => {
      ext.Profiling.exactPercentilesGlobal(
          T(s, dir, "lineitem").select(col("l_returnflag"), col("l_extendedprice")),
          Seq("l_returnflag"), "l_extendedprice",
          (1 to 9).map(i => s"p${i * 10}" -> i / 10.0))
        .orderBy(col("l_returnflag"))
    }, Some("""
      SELECT l_returnflag, count(*) AS n,
        quantile_cont(l_extendedprice, 0.1) AS p10,
        quantile_cont(l_extendedprice, 0.2) AS p20,
        quantile_cont(l_extendedprice, 0.3) AS p30,
        quantile_cont(l_extendedprice, 0.4) AS p40,
        quantile_cont(l_extendedprice, 0.5) AS p50,
        quantile_cont(l_extendedprice, 0.6) AS p60,
        quantile_cont(l_extendedprice, 0.7) AS p70,
        quantile_cont(l_extendedprice, 0.8) AS p80,
        quantile_cont(l_extendedprice, 0.9) AS p90
      FROM lineitem GROUP BY 1 ORDER BY 1""")),


    // Per-source token-budget selection (the domain-allowance curation
    // rule): rank each source's docs by a deterministic quality score
    // (distinct-token fraction, exact-integer ordering semantics) and keep
    // the maximal prefix fitting a 5000-token budget. Keyed window — the
    // exchange is the source key, never a global sort. Output: per-source
    // selection accounting.
    ("q203_budget_selection", (s, dir) => {
      val docs = T(s, dir, "documents")
        .where(col("text").isNotNull)
        .withColumn("__ws", split(col("text"), " "))
        .select(col("doc_id"), col("source"),
          size(col("__ws")).cast("long").as("n_tokens"),
          (size(array_distinct(col("__ws"))).cast("double") /
            size(col("__ws")).cast("double")).as("score"))
      Sampling.budgetCappedSelection(
          docs, Seq("source"), col("doc_id"), col("n_tokens"), col("score"), 5000L)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("kept"), col("n_tokens")).otherwise(0L)).as("tokens_kept"))
        .withColumn("budget_tokens", lit(5000L))
        .orderBy(col("source"))
    }, Some("""
      WITH t AS (
        SELECT doc_id, source,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
          len(list_distinct(string_split(text, ' ')))::DOUBLE /
            len(string_split(text, ' ')) AS score
        FROM documents WHERE text IS NOT NULL),
      c AS (
        SELECT source, n_tokens,
          CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source
            ORDER BY score DESC, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
        FROM t)
      SELECT source, count(*) AS n_docs,
        sum(CASE WHEN cb + n_tokens <= 5000 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
        sum(CASE WHEN cb + n_tokens <= 5000 THEN n_tokens ELSE 0 END)::BIGINT AS tokens_kept,
        CAST(5000 AS BIGINT) AS budget_tokens
      FROM c GROUP BY 1 ORDER BY 1""")),


    // Sketch aggregates (HLL cardinality, quantile sketch): the raw estimates
    // are engine-specific, so the gated output is the exact grouping columns
    // plus deterministic error-bound BOOLEANS (|approx − exact| ≤ bound).
    // Spark verifies its sketches against exact aggregates computed in the
    // same pass; DuckDB's side of each check is trivially true (its "approx"
    // would be exact), so the booleans hash-compare. Bounds: 3× the default
    // HLL++ rsd (0.05) plus absolute slack for tiny groups; 2% relative for
    // percentile_approx at accuracy=10000 (rank error n/10000 ⇒ ~0.01%
    // relative rank error, far inside 2% on a dense price distribution).
    // The exact reference percentiles are NOT `percentile(...)` — that
    // aggregate buffers every (near-unique) price per group, a per-group
    // memory hog that measured 27 s at sf0.1. Profiling.exactPercentilesGlobal
    // ranks via GlobalCumsum's two-phase scan (no single-partition sort, no
    // value buffers — 3 groups over 100 TB would otherwise be 3 tasks) and
    // picks/blends the 2 bracketing ranks per cut. Same answer, scan-shaped
    // cost: 27 s → under 2 s at sf0.1.
    ("q39_sketches", (s, dir) => {
      val li = T(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_orderkey"), col("l_extendedprice"))
      // countDistinct must NOT share an agg with the typed-imperative
      // sketches (approx_count_distinct, percentile_approx): the distinct
      // rewrite's Expand drops the combined aggregate out of the hash path
      // and the sketch buffers pay per-row serialization — measured 30–50 s
      // for a 600k-row frame whose pieces each run in under a second. Two
      // aggregations + a |groups|-row join keep both sides sub-second.
      val sketches = li.groupBy(col("l_returnflag"))
        .agg(
          approx_count_distinct(col("l_orderkey")).as("ac"),
          percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).as("ap50"),
          percentile_approx(col("l_extendedprice"), lit(0.99), lit(10000)).as("ap99"),
          count(lit(1)).as("n_rows"))
      val base = sketches.join(
        li.groupBy(col("l_returnflag"))
          .agg(countDistinct(col("l_orderkey")).as("exact_orders")),
        Seq("l_returnflag"))
      val picks = ext.Profiling.exactPercentilesGlobal(
          li.select(col("l_returnflag"), col("l_extendedprice")),
          Seq("l_returnflag"), "l_extendedprice",
          Seq("ep50" -> 0.5, "ep99" -> 0.99))
        .select(col("l_returnflag"), col("ep50"), col("ep99"))
      base.join(picks, Seq("l_returnflag"))
        .select(
          col("l_returnflag"),
          col("n_rows"),
          col("exact_orders"),
          (abs(col("ac") - col("exact_orders")) <= col("exact_orders") * 0.15 + lit(8)).as("orders_ok"),
          (abs(col("ap50") - col("ep50")) <= abs(col("ep50")) * 0.02 + lit(1.0)).as("p50_ok"),
          (abs(col("ap99") - col("ep99")) <= abs(col("ep99")) * 0.02 + lit(1.0)).as("p99_ok"))
        .orderBy(col("l_returnflag"))
    }, Some("""
      SELECT l_returnflag, COUNT(*) AS n_rows,
             COUNT(DISTINCT l_orderkey) AS exact_orders,
             true AS orders_ok, true AS p50_ok, true AS p99_ok
      FROM lineitem GROUP BY 1 ORDER BY 1""")),


    // Frequent tokens via the Misra–Gries sketch (Profiling.heavyHitters):
    // the bounded-memory answer when the key's cardinality is itself
    // web-scale — each partition folds into ≤ k counters and only O(k) rows
    // cross the exchange, vs the exact form shipping one hash entry per
    // DISTINCT token. Which sub-threshold keys survive (and their exact
    // estimates) depend on partitioning, so per the q39 sketch discipline
    // the gate is the exact top-25 (deterministic: ties break by token)
    // plus the sketch's two ALWAYS-TRUE invariants, evaluated as booleans:
    //   est_ok:       0 ≤ f(token) − estimate ≤ N/(k+1)  (absent ⇒ est 0)
    //   guarantee_ok: f(token) > N/(k+1) ⇒ token present in the sketch
    // Both hold for EVERY partitioning and merge order (Misra–Gries 1982;
    // mergeability per Agarwal et al., PODS 2012), so the output
    // hash-matches DuckDB's trivially-true side. k=64 < the corpus
    // vocabulary, so the sketch genuinely evicts — the invariants are
    // exercised, not vacuous. The exact top-N side exists only to audit;
    // production reads Profiling.heavyHitters alone (one pass, O(k) state).
    ("q205_heavy_hitters", (s, dir) => {
      val toks = T(s, dir, "documents")
        .where(col("text").isNotNull)
        .select(explode(TextAnalysis.words(col("text"))).as("token"))
        .where(col("token") =!= "")
      ext.Profiling.heavyHittersAudit(toks, "token", 64, 25)
        .orderBy(col("cnt").desc, col("token"))
    }, Some("""
      SELECT token, cnt, true AS est_ok, true AS guarantee_ok FROM (
        SELECT token, count(*) AS cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS token
              FROM documents WHERE text IS NOT NULL)
        WHERE token <> '' GROUP BY token
        ORDER BY cnt DESC, token LIMIT 25)
      ORDER BY cnt DESC, token""")),


    // Count-min point-frequency estimates (Profiling.countMin /
    // countMinLookup) — the dual of q205's Misra–Gries: MG UNDER-estimates
    // and its surviving key set is partitioning-dependent (hence q205 gates
    // bounds-booleans), while a count-min cell is a pure SUM over fixed
    // hash buckets — commutative, associative, partitioning-independent —
    // so here the RAW estimates hash-gate against DuckDB recomputing the
    // identical (a·h48+b) mod p mod w arithmetic (every product < 2^62,
    // wrap-free BIGINT in both engines). 4×2048 cells means at most 8192
    // rows cross the build exchange no matter the vocabulary size, and the
    // probe side reads the broadcast table without shuffling. Probes = the
    // exact top-40 tokens (deterministic; ties by token): head probes show
    // est = cnt, tail probes sit where collisions (est > cnt) appear —
    // `ge_ok` (est ≥ f, the CMS law) is true for every key by construction.
    // The exact side exists only to pick probes and audit; production reads
    // the sketch alone.
    ("q206_count_min", (s, dir) => {
      val toks = T(s, dir, "documents")
        .where(col("text").isNotNull)
        .select(explode(TextAnalysis.words(col("text"))).as("token"))
        .where(col("token") =!= "")
      val cms = ext.Profiling.countMin(toks, "token", 4, 2048)
      // 40 rows feeding two consumers (lookup + the cnt join): persist the
      // REDUCED frame and force it NOW so the vocabulary aggregation runs
      // once (concurrent branches of an uncached persist race and each
      // re-runs the upstream scan — the withExactDupCollapse discipline)
      val probes = graft.util.Caches.pin(
        toks.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("token")).limit(40))
      ext.Profiling.countMinLookup(cms, probes.select("token"), "token", 4, 2048)
        .join(probes, Seq("token"))
        .select(col("token"), col("cnt"), col("est"),
          (col("est") >= col("cnt")).as("ge_ok"))
        .orderBy(col("cnt").desc, col("token"))
    }, Some(countMinOracle)),


    // Systematic PPS sampling (Sampling.ppsSystematicSample): docs laid on
    // a global token axis in id-hash order, every 500th token selects its
    // doc — sampling ∝ training cost with ZERO selection variance (exactly
    // ⌊W/500⌋±1 draws) and integer-only arithmetic, so the oracle replays
    // the draw bit-for-bit. The cumsum spine is GlobalCumsum's two-phase
    // scan (range exchange + broadcast offsets), never a single-partition
    // window; the selection rule is per-row codegen after it. All docs gate
    // (zeros included) so the oracle proves non-selection too.
    ("q207_pps_sample", (s, dir) => {
      val t = T(s, dir, "documents")
        .where(col("text").isNotNull)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
      Sampling.ppsSystematicSample(t, col("doc_id"), col("n_tokens"), 500L)
        .select(col("doc_id"), col("n_tokens"), col("cum_before"),
          col("pps_count"), (col("pps_count") >= 1).as("kept"))
        .orderBy(col("doc_id"))
    }, Some("""
      WITH t AS (
        SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               ('0x' || substr(md5(doc_id::VARCHAR), 1, 12))::BIGINT AS ph
        FROM documents WHERE text IS NOT NULL),
      c AS (
        SELECT doc_id, n_tokens,
          CAST(coalesce(sum(n_tokens) OVER (ORDER BY ph, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
            AS cum_before
        FROM t)
      SELECT doc_id, n_tokens, cum_before,
        ((cum_before + n_tokens - 1 + 500) // 500
          - (cum_before - 1 + 500) // 500) AS pps_count,
        ((cum_before + n_tokens - 1 + 500) // 500
          - (cum_before - 1 + 500) // 500) >= 1 AS kept
      FROM c ORDER BY doc_id""")),


    // Streaming count-min maintenance — q206's sketch built INCREMENTALLY
    // by REAL Structured Streaming (file source batched 2 files/trigger →
    // 4 micro-batches, complete-mode state merged across them) and gated
    // on q206's oracle VERBATIM. This works because a CMS cell is a pure
    // SUM over fixed hash buckets: commutative + associative, so the
    // incremental state after any micro-batch sequence is bit-identical
    // to the one-shot batch table — the same `Profiling.countMin` code
    // runs both paths unchanged, and the final estimates hash-gate raw.
    // This is the sketch a streaming ingest keeps warm so point-frequency
    // queries never re-scan the corpus. Probes (exact top-40) come from
    // the batch side — production would read the sketch alone.
    // VERIFICATION-HARNESS BOUNDARY (same as q19/q170): memory sink +
    // collect is the only way to hand a streaming result to the batch
    // oracle; the production path writes through the distributed sinks.
    ("q211_stream_count_min", (s, dir) => {
      val toks = T(s, dir, "documents")
        .where(col("text").isNotNull)
        .select(explode(TextAnalysis.words(col("text"))).as("token"))
        .where(col("token") =!= "")
      val tmp = graft.util.Staging.dir("q211_tokens", dir) { p =>
        toks.repartition(8).write.mode("overwrite").parquet(p)
      }
      // 4 shuffle partitions: one state-store commit per partition per
      // micro-batch; 8192 cells do not need 32 stores (q170 discipline)
      val s2 = isolated(s, "spark.sql.shuffle.partitions" -> "4")
      val stream = s2.readStream.schema(toks.schema)
        .option("maxFilesPerTrigger", 2).parquet(tmp)
      val cms = memorySinkRows(s, ext.Profiling.countMin(stream, "token", 4, 2048),
        "graft_stream_cms", "complete")
      // two branches of the final action consume `probes` — eager pin so
      // the token aggregation runs once (the withExactDupCollapse
      // discipline: concurrent branches of an uncached persist race)
      val probes = graft.util.Caches.pin(
        toks.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("token")).limit(40))
      ext.Profiling.countMinLookup(cms, probes.select("token"), "token", 4, 2048)
        .join(probes, Seq("token"))
        .select(col("token"), col("cnt"), col("est"),
          (col("est") >= col("cnt")).as("ge_ok"))
        .orderBy(col("cnt").desc, col("token"))
    }, Some(countMinOracle)),


    // DSIR importance scoring + top-k resampling (Xie et al. 2023): the
    // English docs play the TARGET distribution, every other doc is the
    // raw pool to be scored; hashed-bigram bucket profiles (64 buckets,
    // shared 48-bit md5 prefix) give each pool doc an exact-BIGINT
    // target-vs-raw evidence score, and the 100 best (score desc, id)
    // are flagged. Every arithmetic step is integer (the log-ratio of the
    // paper is linearized to a cross-difference — Sampling.dsirScores's
    // docstring carries the equivalence and the production swap), so the
    // gate hash-matches DuckDB exactly. Scale: one explode+reduce per
    // corpus, B-row broadcast weight table, TakeOrderedAndProject top-k —
    // no corpus-width shuffle beyond the (doc, bucket) reduce.
    ("q218_dsir_selection", (s, dir) => {
      val docs = T(s, dir, "documents")
      val scored = Sampling.dsirScores(
        docs.where(col("lang") =!= "en"),
        docs.where(col("lang") === "en"),
        "doc_id", "text", buckets = 64)
      Sampling.selectTopK(scored, col("doc_id"), col("score"), k = 100)
        .orderBy(col("doc_id"))
    }, Some("""
      WITH pool AS (SELECT doc_id, text FROM documents WHERE lang <> 'en'),
      tgt AS (SELECT doc_id, text FROM documents WHERE lang = 'en'),
      pg AS (
        SELECT doc_id,
          ('0x' || substr(md5(g), 1, 12))::BIGINT % 64 AS b
        FROM (
          SELECT doc_id, unnest(list_transform(
            generate_series(1, len(ws) - 1),
            i -> concat_ws(' ', ws[i], ws[i + 1]))) AS g
          FROM (SELECT doc_id, string_split(text, ' ') AS ws
                FROM pool WHERE text IS NOT NULL)
          WHERE len(ws) >= 2)),
      tg AS (
        SELECT ('0x' || substr(md5(g), 1, 12))::BIGINT % 64 AS b
        FROM (
          SELECT unnest(list_transform(
            generate_series(1, len(ws) - 1),
            i -> concat_ws(' ', ws[i], ws[i + 1]))) AS g
          FROM (SELECT string_split(text, ' ') AS ws
                FROM tgt WHERE text IS NOT NULL)
          WHERE len(ws) >= 2)),
      pc AS (SELECT doc_id, b, count(*) AS c FROM pg GROUP BY 1, 2),
      ct AS (SELECT b, count(*) AS ct FROM tg GROUP BY b),
      cr AS (SELECT b, sum(c) AS cr FROM pc GROUP BY b),
      tot AS (
        SELECT (SELECT sum(ct) FROM ct) AS nt, (SELECT sum(cr) FROM cr) AS nr),
      w AS (
        SELECT COALESCE(ct.b, cr.b) AS b,
          (COALESCE(ct.ct, 0) + 1) * (COALESCE(tot.nr, 0) + 64)
            - (COALESCE(cr.cr, 0) + 1) * (COALESCE(tot.nt, 0) + 64) AS w
        FROM ct FULL OUTER JOIN cr ON ct.b = cr.b CROSS JOIN tot),
      per AS (
        SELECT pc.doc_id, CAST(sum(pc.c) AS BIGINT) AS n_grams,
          CAST(sum(pc.c * w.w) AS BIGINT) AS score
        FROM pc JOIN w USING (b) GROUP BY pc.doc_id),
      allp AS (
        SELECT p.doc_id,
          COALESCE(per.n_grams, 0) AS n_grams,
          COALESCE(per.score, 0) AS score
        FROM pool p LEFT JOIN per USING (doc_id))
      SELECT doc_id, n_grams, score,
        row_number() OVER (ORDER BY score DESC, doc_id) <= 100 AS selected
      FROM allp ORDER BY doc_id""")),

    // Cluster-balanced diversity sampling: the exact integer k-means
    // assignment (q229's model verbatim) followed by an equal per-cluster
    // quota picked by (hash48, id) — the cluster-then-sample step of
    // diversity-aware training-data curation, so one dense topic cannot
    // dominate the sample. The window's row_number ≤ quota collapses to
    // the per-group WindowGroupLimit pushdown.
    ("q262_cluster_balanced_sample", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val inits = emb.where(col("vec_id") % 100 === 0)
        .select(col("vec_id")).collect().map(_.getLong(0)).toSeq
      val assigned = ext.Similarity
        .lloydInt(emb, "vec_id", "embedding", inits, iters = 3)
        .select(col("vec_id"), col("cid"))
      Sampling.clusterBalanced(assigned, "vec_id", "cid", quota = 8)
        .orderBy(col("cid"), col("pick_rank"))
    }, Some(s"""
      WITH ${lloydOracleCtes(3, 64)},
      fin AS (
        SELECT vec_id, cid FROM (
          SELECT v.vec_id, c.cid,
            row_number() OVER (PARTITION BY v.vec_id ORDER BY
              list_sum(list_transform(range(1, len(v.y) + 1),
                j -> (v.y[j] - c.cy[j]) * (v.y[j] - c.cy[j]))), c.cid) AS rn
          FROM v CROSS JOIN c3 c) WHERE rn = 1),
      picked AS (
        SELECT vec_id, cid, row_number() OVER (PARTITION BY cid ORDER BY
            ('0x' || substr(md5(vec_id::VARCHAR), 1, 12))::BIGINT, vec_id)
          AS pick_rank
        FROM fin)
      SELECT vec_id, cid, CAST(pick_rank AS INT) AS pick_rank
      FROM picked WHERE pick_rank <= 8
      ORDER BY cid, pick_rank""")),

    // Per-source frequency capping — the anti-domination rule web
    // pipelines apply before mixing (no single domain/source may exceed
    // its cap): clusterBalanced generalizes directly, the cluster key is
    // the source column. Deterministic (hash48, id) picks, monotone in
    // the cap, WindowGroupLimit pushdown.
    ("q271_source_cap", (s, dir) => {
      Sampling.clusterBalanced(
          T(s, dir, "documents").where(col("text").isNotNull)
            .select(col("doc_id"), col("source")),
          "doc_id", "source", quota = 15)
        .orderBy(col("source"), col("pick_rank"))
    }, Some("""
      SELECT doc_id, source, CAST(pick_rank AS INT) AS pick_rank FROM (
        SELECT doc_id, source, row_number() OVER (PARTITION BY source ORDER BY
            ('0x' || substr(md5(doc_id::VARCHAR), 1, 12))::BIGINT, doc_id)
          AS pick_rank
        FROM documents WHERE text IS NOT NULL)
      WHERE pick_rank <= 15
      ORDER BY source, pick_rank"""))
  )
}
