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

/** Business/ML analytics: funnels, cohorts, outliers, correlation,
  * graph measures (pagerank, triangles, k-hop, BFS), time-series (EWMA,
  * autocorr, drawdown), data-quality audits.
  *
  * Each entry is (name, query, oracle SQL) exactly as it sat in
  * SparkEntry's catalog before the per-family split; SparkEntry composes
  * the families back into the single driver-contract map.
  */
private[graft] object AnalyticsCatalog {

  val entries: Seq[(String, Q, Option[String])] = Seq(


    // IQR outlier fences: exact dyadic percentiles (as q61) → Tukey fences
    // → one broadcast join back → conditional counts. The two-pass shape is
    // the 100 TB form: pass 1 reduces to one tiny fence row per group,
    // pass 2 is a map-side broadcast probe — no sort of the fact table.
    ("q77_iqr_outliers", (s, dir) => {
      val li = T(s, dir, "lineitem").select(col("l_returnflag"), col("l_extendedprice"))
      // both cut points from ONE keyed sort (Profiling.exactPercentiles),
      // not two hash-map percentile buffers — measured ~3× at sf0.1
      val fences = ext.Profiling.exactPercentiles(
          li, Seq("l_returnflag"), "l_extendedprice",
          Seq("p25" -> 0.25, "p75" -> 0.75))
        .select(col("l_returnflag"),
          (col("p25") - lit(1.5) * (col("p75") - col("p25"))).as("lo"),
          (col("p75") + lit(1.5) * (col("p75") - col("p25"))).as("hi"))
      li.join(broadcast(fences), Seq("l_returnflag"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          count_if(col("l_extendedprice") < col("lo")).as("n_low"),
          count_if(col("l_extendedprice") > col("hi")).as("n_high"),
          min(col("lo")).as("fence_lo"), max(col("hi")).as("fence_hi"))
        .orderBy(col("l_returnflag"))
    }, Some("""
      WITH f AS (SELECT l_returnflag,
              quantile_cont(l_extendedprice, 0.25) AS p25,
              quantile_cont(l_extendedprice, 0.75) AS p75
            FROM lineitem GROUP BY 1),
      b AS (SELECT l_returnflag, p25 - 1.5 * (p75 - p25) AS lo,
                   p75 + 1.5 * (p75 - p25) AS hi FROM f)
      SELECT l.l_returnflag, count(*) AS n,
             count(*) FILTER (WHERE l_extendedprice < lo) AS n_low,
             count(*) FILTER (WHERE l_extendedprice > hi) AS n_high,
             min(lo) AS fence_lo, max(hi) AS fence_hi
      FROM lineitem l JOIN b USING (l_returnflag)
      GROUP BY 1 ORDER BY 1""")),


    // Statistical aggregates from exact moments: Pearson correlation and
    // the OLS slope/intercept, assembled from DECIMAL sums (exact in both
    // engines) with the SAME double expression tree at the end — built-in
    // corr()/regr_slope() use engine-specific streaming update formulas
    // whose rounding differs, so the moment form is both the cross-engine-
    // exact one AND the one whose partials combine map-side (each task
    // ships 6 numbers, not a covariance state).
    ("q83_corr_regression", (s, dir) => {
      val x = dec(col("l_quantity"))
      val y = dec(col("l_extendedprice"))
      val moments = T(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sum(x).cast("double").as("sx"), sum(y).cast("double").as("sy"),
          sum(x * y).cast("double").as("sxy"),
          sum(x * x).cast("double").as("sxx"), sum(y * y).cast("double").as("syy"))
      val nd = col("n").cast("double")
      val cov = nd * col("sxy") - col("sx") * col("sy")
      val vx = nd * col("sxx") - col("sx") * col("sx")
      val vy = nd * col("syy") - col("sy") * col("sy")
      moments.select(
          col("l_returnflag"), col("n"),
          (cov / (sqrt(vx) * sqrt(vy))).as("corr_qty_price"),
          (cov / vx).as("slope"),
          ((col("sy") - (cov / vx) * col("sx")) / nd).as("intercept"))
        .orderBy(col("l_returnflag"))
    }, Some("""
      WITH m AS (
        SELECT l_returnflag, count(*) AS n,
          CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sx,
          CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sy,
          CAST(sum(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sxy,
          CAST(sum(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sxx,
          CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS syy
        FROM lineitem GROUP BY 1)
      SELECT l_returnflag, n,
        (CAST(n AS DOUBLE) * sxy - sx * sy)
          / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
             * sqrt(CAST(n AS DOUBLE) * syy - sy * sy)) AS corr_qty_price,
        (CAST(n AS DOUBLE) * sxy - sx * sy)
          / (CAST(n AS DOUBLE) * sxx - sx * sx) AS slope,
        (sy - ((CAST(n AS DOUBLE) * sxy - sx * sy)
               / (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx)
          / CAST(n AS DOUBLE) AS intercept
      FROM m ORDER BY l_returnflag""")),


    // EWMA smoothing (TimeSeries.ewma): the per-key running metric of a
    // stream analyzer, batch form — ordered fold with dyadic α=0.5 so every
    // step is exact IEEE arithmetic; DuckDB's seedless list_reduce seeds
    // with element 1, mirrored by the Spark fold's element-1 seed. The
    // streaming twin (one double of state per key) is TimeSeries.ewmaStream.
    ("q87_ewma", (s, dir) => {
      val ev = T(s, dir, "events")
        .select(col("user_id"), expr("ts div 1000").as("tus"),
          col("event_id"), col("value"))
        .where(col("value").isNotNull)
      graft.analytics.TimeSeries.ewma(
          ev, Seq("user_id"), Seq("tus", "event_id"), "value", 0.5)
        .orderBy(col("user_id"))
    }, Some("""
      WITH e AS (SELECT user_id, epoch_us(ts) AS tus, event_id, value
                 FROM events WHERE value IS NOT NULL),
      a AS (SELECT user_id, list(value ORDER BY tus, event_id) AS vals
            FROM e GROUP BY 1)
      SELECT user_id, CAST(len(vals) AS BIGINT) AS n_points,
             list_reduce(vals, (acc, x) -> 0.5 * x + 0.5 * acc) AS ewma
      FROM a ORDER BY user_id""")),


    // Time-series similarity search: each user's 24-dim hourly-activity
    // vector, all-pairs squared Euclidean distance as |a|² + |b|² − 2⟨a,b⟩
    // over DENSE arrays with the native codegen DotProduct — the dense-
    // small-dim regime where an inverted index is the WRONG shape (every
    // user is active in most hours, so a posting join degenerates into the
    // all-pairs matrix × 24 redundant rows + a giant hash agg; measured 4×
    // slower than this form at sf0.1). Sparse/high-dim is where the
    // bucketed forms (q26/q28/q35) take over. Counts are small integers ⇒
    // every double op is exact; top-3 per user, deterministic tiebreak.
    ("q88_series_similarity", (s, dir) => {
      import graft.functions.VectorFunctions.dotProduct
      val counts = T(s, dir, "events")
        .select(col("user_id"),
          (expr("(ts div 1000) div 3600000000") % 24).as("h"))
        .groupBy(col("user_id"), col("h"))
        .agg(count(lit(1)).as("c"))
      val vecs = counts.groupBy(col("user_id"))
        .agg(map_from_arrays(collect_list(col("h")), collect_list(col("c"))).as("m"))
        .select(col("user_id"), expr(
          // 1500 rows × 24 elements: the interpreted transform is noise;
          // the hot path below is the codegen'd dot product
          "transform(sequence(0, 23), h -> CAST(coalesce(try_element_at(m, CAST(h AS BIGINT)), 0) AS DOUBLE))")
          .as("vec"))
        .withColumn("norm2", dotProduct(col("vec"), col("vec")))
        // both join sides consume the vectors — materialize once or the
        // counts aggregation over the fact table runs twice
        .localCheckpoint()
      val a = vecs.select(col("user_id").as("qid"), col("vec").as("qv"), col("norm2").as("qn"))
      val b = vecs.select(col("user_id").as("nid"), col("vec").as("nv"), col("norm2").as("nn"))
      val dist = a.crossJoin(broadcast(b))
        .where(col("qid") =!= col("nid"))
        .select(col("qid"), col("nid"),
          (col("qn") + col("nn") - lit(2) * dotProduct(col("qv"), col("nv"))).as("dist2"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("dist2").asc, col("nid").asc)
      dist.withColumn("rank", row_number().over(w))
        .where(col("rank") <= 3)
        .select(col("qid"), col("rank").cast("long").as("rank"),
          col("nid"), col("dist2"))
        .orderBy(col("qid"), col("rank"))
    }, Some("""
      WITH counts AS (
        SELECT user_id, (epoch_us(ts) // 3600000000) % 24 AS h, count(*) AS c
        FROM events GROUP BY 1, 2),
      grid AS (
        SELECT u.user_id, g.h
        FROM (SELECT DISTINCT user_id FROM counts) u
        CROSS JOIN (SELECT unnest(range(0, 24)) AS h) g),
      dense AS (
        SELECT grid.user_id, grid.h, coalesce(c.c, 0) AS c
        FROM grid LEFT JOIN counts c
          ON c.user_id = grid.user_id AND c.h = grid.h),
      vecs AS (
        SELECT user_id, list(CAST(c AS DOUBLE) ORDER BY h) AS v
        FROM dense GROUP BY 1),
      dist AS (
        SELECT a.user_id AS qid, b.user_id AS nid,
          list_sum(list_transform(range(1, 25), i -> a.v[i] * a.v[i]))
          + list_sum(list_transform(range(1, 25), i -> b.v[i] * b.v[i]))
          - 2 * list_sum(list_transform(range(1, 25), i -> a.v[i] * b.v[i])) AS dist2
        FROM vecs a CROSS JOIN vecs b WHERE a.user_id <> b.user_id),
      ranked AS (
        SELECT *, row_number() OVER
          (PARTITION BY qid ORDER BY dist2 ASC, nid ASC) AS rank
        FROM dist)
      SELECT qid, CAST(rank AS BIGINT) AS rank, nid, dist2
      FROM ranked WHERE rank <= 3 ORDER BY qid, rank""")),


    // Ordered funnel (view → click → purchase, strictly increasing time):
    // the product-analytics staple. One keyed sort feeds everything — a
    // running min-view-time window decides which clicks are sequence-valid,
    // then full-frame mins pick the earliest valid click/purchase. No
    // per-step re-scan of the fact table (the naive form scans once per
    // funnel step), no self-join; funnel depth is a CASE at the end.
    ("q89_funnel", (s, dir) => {
      val ev = T(s, dir, "events").select(col("user_id"),
        expr("ts div 1000").as("tus"), col("event_type"))
      graft.analytics.Funnel.funnelSteps(ev, Seq("user_id"), "tus", Seq(
          "view" -> (col("event_type") === "view"),
          "click" -> (col("event_type") === "click"),
          "purchase" -> (col("event_type") === "purchase")))
        .orderBy(col("user_id"))
    }, Some(funnelOracle)),


    // Cohort retention triangle (q89's sibling): users cohorted by first
    // active week, retention = distinct active users per (cohort, week
    // offset). Distinct (user, week) activity reduces the fact table ONCE
    // to ~|users|·|weeks| rows (localCheckpointed — both the cohort
    // aggregate and the offset join consume it); everything after is
    // small-table work. Integral µs week buckets ⇒ exact in both engines.
    ("q90_cohort_retention", (s, dir) => {
      val activity = T(s, dir, "events")
        .select(col("user_id"),
          expr("(ts div 1000) div 604800000000").as("wk"))
        .distinct()
        .localCheckpoint()
      val cohorts = activity.groupBy(col("user_id"))
        .agg(min(col("wk")).as("cohort_wk"))
      activity.join(cohorts, Seq("user_id"))
        .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("offset_wk"))
        .agg(countDistinct(col("user_id")).as("n_active"))
        .orderBy(col("cohort_wk"), col("offset_wk"))
    }, Some("""
      WITH activity AS (
        SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS wk
        FROM events),
      cohorts AS (
        SELECT user_id, min(wk) AS cohort_wk FROM activity GROUP BY 1)
      SELECT c.cohort_wk, a.wk - c.cohort_wk AS offset_wk,
             count(DISTINCT a.user_id) AS n_active
      FROM activity a JOIN cohorts c USING (user_id)
      GROUP BY 1, 2 ORDER BY 1, 2""")),


    // Markov transition matrix over per-user event sequences: lag() pairs
    // each event with its predecessor (ONE keyed exchange over the fact
    // table — the only big-data stage), then the bigram counts and the
    // row-normalized transition probabilities are |event_types|² work.
    // p = n/total is a single IEEE division of two exact BIGINTs ⇒
    // bit-identical cross-engine.
    ("q91_markov_transitions", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("tus"), col("event_id"))
      val bigrams = T(s, dir, "events")
        .select(col("user_id"), expr("ts div 1000").as("tus"),
          col("event_id"), col("event_type"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"))
      bigrams
        .withColumn("p", col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy(col("prev_type"))).cast("double"))
        .orderBy(col("prev_type"), col("next_type"))
    }, Some("""
      WITH e AS (SELECT user_id, epoch_us(ts) AS tus, event_id, event_type
                 FROM events),
      seq AS (
        SELECT event_type,
          lag(event_type) OVER (PARTITION BY user_id ORDER BY tus, event_id)
            AS prev_type
        FROM e),
      big AS (
        SELECT prev_type, event_type AS next_type, count(*) AS n
        FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2)
      SELECT prev_type, next_type, n,
        CAST(n AS DOUBLE)
          / CAST(sum(n) OVER (PARTITION BY prev_type) AS DOUBLE) AS p
      FROM big ORDER BY prev_type, next_type""")),


    // Z-score anomaly detection — q77's parametric sibling: per-group
    // mean/std from exact DECIMAL moments (ONE map-side-combining scan, 3
    // numbers per group per task), broadcast back onto the fact rows, flag
    // |z| > 1.5 (the fence that has a tail on this bounded-uniform price
    // distribution — max |z| < 1.8, so a 3σ fence would be vacuous). The
    // identical (sum, sumsq, n) → double expression tree on both engines
    // makes z bit-exact, so even the flag boundary agrees.
    ("q93_zscore_outliers", (s, dir) => {
      val x = dec(col("l_extendedprice"))
      val m = T(s, dir, "lineitem")
        .groupBy(col("l_returnflag").as("g"))
        .agg(count(lit(1)).as("n"),
          sum(x).cast("double").as("s1"),
          sum(x * x).cast("double").as("s2"))
        .select(col("g"),
          (col("s1") / col("n").cast("double")).as("mean"),
          sqrt(col("s2") / col("n").cast("double") -
            (col("s1") / col("n").cast("double")) *
            (col("s1") / col("n").cast("double"))).as("std"))
      T(s, dir, "lineitem")
        .join(broadcast(m), col("l_returnflag") === col("g"))
        .withColumn("z",
          (col("l_extendedprice") - col("mean")) / col("std"))
        .filter(abs(col("z")) > 1.5)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_extendedprice"), col("z"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }, Some("""
      WITH m AS (
        SELECT l_returnflag AS g, count(*) AS n,
          CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS s1,
          CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                 * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS s2
        FROM lineitem GROUP BY 1),
      f AS (
        SELECT g, s1 / CAST(n AS DOUBLE) AS mean,
          sqrt(s2 / CAST(n AS DOUBLE)
               - (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE))) AS std
        FROM m)
      SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice,
        (l_extendedprice - mean) / std AS z
      FROM lineitem JOIN f ON l_returnflag = g
      WHERE abs((l_extendedprice - mean) / std) > 1.5
      ORDER BY l_orderkey, l_linenumber""")),


    // Market-basket co-occurrence (association mining's candidate pairs):
    // orders' line items reduce ONCE to distinct (order, brand) rows —
    // localCheckpointed, Spark shares no subplans across self-join branches
    // — then the within-order self-join generates Σ C(brands_per_order, 2)
    // pairs (bounded by basket width, never N²). Support threshold 2% as
    // the integer cross-multiplication n*50 >= total ⇒ no float compare.
    ("q94_basket_pairs", (s, dir) => {
      // One shuffle on ok builds each order's SORTED distinct-brand basket
      // (map-side partial sets); C(basket,2) pairs generate IN-STAGE from
      // the array — the within-order self-join this replaces paid a second
      // full shuffle of the (ok, brand) table and re-materialized Σ pairs
      // through an exchange. Baskets are bounded (brands per order), so the
      // nested transform never sees a hot row.
      val baskets = T(s, dir, "lineitem")
        .join(T(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_orderkey").as("ok"))
        .agg(sort_array(collect_set(col("p_brand"))).as("bs"))
        .localCheckpoint() // feeds the order count AND the pair explode
      val tot = baskets.agg(count(lit(1)).as("n_orders"))
      baskets
        .select(explode(expr(
          """flatten(transform(bs, (x, i) ->
               transform(slice(bs, i + 2, size(bs)),
                         y -> struct(x AS brand_a, y AS brand_b))))""")).as("p"))
        .groupBy(col("p.brand_a").as("brand_a"), col("p.brand_b").as("brand_b"))
        .agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(tot))
        .filter(col("n") * 50 >= col("n_orders"))
        .select(col("brand_a"), col("brand_b"), col("n"),
          (col("n").cast("double") / col("n_orders").cast("double")).as("support"))
        .orderBy(col("brand_a"), col("brand_b"))
    }, Some("""
      WITH ob AS (
        SELECT DISTINCT l_orderkey AS ok, p_brand
        FROM lineitem JOIN part ON l_partkey = p_partkey),
      tot AS (SELECT count(DISTINCT ok) AS n_orders FROM ob),
      pairs AS (
        SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, count(*) AS n
        FROM ob a JOIN ob b ON a.ok = b.ok AND a.p_brand < b.p_brand
        GROUP BY 1, 2)
      SELECT brand_a, brand_b, n,
        CAST(n AS DOUBLE) / CAST(n_orders AS DOUBLE) AS support
      FROM pairs, tot WHERE n * 50 >= n_orders
      ORDER BY brand_a, brand_b""")),


    // PageRank over the nation-level trade graph (customer nation →
    // supplier nation, weighted by lineitem count): the iterative graph
    // algorithm, made cross-engine BIT-EXACT by fixed-point integer
    // arithmetic — ranks are BIGINTs scaled by 1e9, every step is integer
    // multiply + truncating div (Spark `div` ≡ DuckDB `//` for positive
    // values), so no float-summation-order nondeterminism can creep in.
    // The heavy stage (4-way join → edge aggregation) runs ONCE and is
    // localCheckpointed; 8 power iterations are then |edges|-sized joins
    // against a broadcast rank vector. Dangling-node mass is not
    // redistributed (the standard simplification); overflow bound:
    // scale · max_edge_weight < 2^63 / 85.
    ("q95_pagerank", (s, dir) => {
      val edges = T(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
        .join(T(s, dir, "orders").select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(T(s, dir, "customer").select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(T(s, dir, "supplier").select("s_suppkey", "s_nationkey"),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
        .agg(count(lit(1)).as("w"))
      val nodes = T(s, dir, "nation")
        .select(col("n_nationkey").as("node"), col("n_name"))
      graft.analytics.Graph
        .pageRankFixedPoint(nodes.select("node"), "node",
          edges, "src", "dst", "w", iterations = 8)
        .join(nodes, Seq("node"))
        .select(col("node").as("n_nationkey"), col("n_name"), col("rank_fp"),
          (col("rank_fp").cast("double") / lit(1.0e9)).as("rank"))
        .orderBy(col("rank_fp").desc, col("n_nationkey"))
    }, Some {
      val iter = (1 to 8).map { k =>
        s"""r$k AS (
        SELECT v.node, (15 * CAST(1000000000 AS BIGINT)) // (100 * (SELECT nn FROM n))
          + (85 * CAST(COALESCE(c.s, 0) AS BIGINT)) // 100 AS rank
        FROM (SELECT n_nationkey AS node FROM nation) v
        LEFT JOIN (
          SELECT e.dst, sum((r.rank * e.w) // e.outw) AS s
          FROM ew e JOIN r${k - 1} r ON e.src = r.node GROUP BY 1) c
        ON v.node = c.dst)"""
      }.mkString(",\n")
      s"""
      WITH edges AS (
        SELECT c.c_nationkey AS src, s.s_nationkey AS dst, count(*) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2),
      ew AS (SELECT src, dst, w,
               CAST(sum(w) OVER (PARTITION BY src) AS BIGINT) AS outw
             FROM edges),
      n AS (SELECT count(*) AS nn FROM nation),
      r0 AS (SELECT n_nationkey AS node,
               CAST(1000000000 AS BIGINT) // (SELECT nn FROM n) AS rank
             FROM nation),
      $iter
      SELECT r8.node AS n_nationkey, nt.n_name,
        CAST(r8.rank AS BIGINT) AS rank_fp,
        CAST(r8.rank AS DOUBLE) / 1.0E9 AS rank
      FROM r8 JOIN nation nt ON r8.node = nt.n_nationkey
      ORDER BY rank_fp DESC, n_nationkey"""
    }),


    // Categorical feature encoders (label + smoothed target encoding): one
    // hash-aggregated pass builds per-category (n, Σtarget) in exact
    // DECIMAL; the 25-row category table is then checkpointed and consumed
    // by both the global prior and the final projection. label_id =
    // frequency rank (deterministic count-then-value tiebreak); target_enc
    // = (Σ + m·prior)/(n + m) with m=100 — the standard leakage-smoothed
    // encoder, bit-exact cross-engine via the shared expression tree.
    ("q96_target_encoding", (s, dir) => {
      val per = T(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_extendedprice"))
        .join(T(s, dir, "part").select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"), sum(dec(col("l_extendedprice"))).as("sd"))
        .localCheckpoint() // tiny; consumed by the prior AND the projection
      val glob = per.agg(sum(col("n")).as("ng"), sum(col("sd")).as("sgd"))
      val nd = col("n").cast("double")
      per.crossJoin(broadcast(glob))
        .select(col("p_brand"), col("n"),
          row_number().over(Window.orderBy(col("n").desc, col("p_brand")))
            .cast("long").as("label_id"),
          (col("sd").cast("double") / nd).as("target_mean"),
          ((col("sd").cast("double") +
            lit(100.0) * (col("sgd").cast("double") / col("ng").cast("double"))) /
            (nd + lit(100.0))).as("target_enc"))
        .orderBy(col("p_brand"))
    }, Some("""
      WITH j AS (
        SELECT p_brand, CAST(l_extendedprice AS DECIMAL(12,2)) AS x
        FROM lineitem JOIN part ON l_partkey = p_partkey),
      per AS (SELECT p_brand, count(*) AS n, sum(x) AS sd FROM j GROUP BY 1),
      g AS (SELECT CAST(sum(n) AS BIGINT) AS ng, sum(sd) AS sgd FROM per)
      SELECT p_brand, n,
        CAST(row_number() OVER (ORDER BY n DESC, p_brand) AS BIGINT) AS label_id,
        CAST(sd AS DOUBLE) / CAST(n AS DOUBLE) AS target_mean,
        (CAST(sd AS DOUBLE)
           + CAST(100 AS DOUBLE) * (CAST(sgd AS DOUBLE) / CAST(ng AS DOUBLE)))
          / (CAST(n AS DOUBLE) + CAST(100 AS DOUBLE)) AS target_enc
      FROM per, g ORDER BY p_brand""")),


    // Event-path analysis (the "top user journeys" query): each user's
    // first 5 events in strict (time, id) order become a '>'-joined path
    // string, then paths are counted. The fact table pays ONE keyed
    // window exchange (row_number prunes to ≤5 rows per user IN-stage);
    // the path aggregation and ranking run on |users| and |paths| rows.
    // The per-user array is ≤5 elements, so the interpreted transform()
    // is off the hot path by construction.
    ("q97_event_paths", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("tus"), col("event_id"))
      val first5 = T(s, dir, "events")
        .select(col("user_id"), expr("ts div 1000").as("tus"),
          col("event_id"), col("event_type"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
      first5.groupBy(col("user_id"))
        .agg(expr("""array_join(
            transform(array_sort(collect_list(struct(rn, event_type))),
                      p -> p.event_type), '>')""").as("path"))
        .groupBy(col("path")).agg(count(lit(1)).as("n_users"))
        .orderBy(col("n_users").desc, col("path"))
    }, Some("""
      WITH e AS (SELECT user_id, epoch_us(ts) AS tus, event_id, event_type
                 FROM events),
      r AS (SELECT *, row_number() OVER
              (PARTITION BY user_id ORDER BY tus, event_id) AS rn FROM e),
      p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
            FROM r WHERE rn <= 5 GROUP BY 1)
      SELECT path, count(*) AS n_users FROM p
      GROUP BY 1 ORDER BY n_users DESC, path""")),


    // RFM segmentation (recency / frequency / monetary quartiles → segment
    // code): the classic customer-analytics composite. One hash aggregation
    // reduces orders to |customers| rows; the three quartile rankings run
    // on GlobalCumsum.ntile — the range-partitioned two-phase scan, BIT-
    // IDENTICAL to `ntile(4).over(Window.orderBy(value, key))` (the
    // (value, key) total order makes the quartile deterministic) — instead
    // of three unpartitioned WindowExecs, each of which would sort the
    // whole per-customer frame on ONE partition (the scale-killer the
    // guide opens with; q127/q145/q186 already rank on this seam). The
    // calls chain, so ntile 2 and 3 range-partition the PREVIOUS call's
    // pinned output, never re-running the orders aggregation.
    ("q99_rfm_segments", (s, dir) => {
      val rfm = T(s, dir, "orders").groupBy(col("o_custkey"))
        .agg( // NTZ → µs: the cast is timezone-free under the UTC session
          max(unix_micros(col("o_orderdate").cast("timestamp"))).as("recency_us"),
          count(lit(1)).as("frequency"),
          sum(dec(col("o_totalprice"))).cast("double").as("monetary"))
      val ranked = GlobalCumsum.ntile(
        GlobalCumsum.ntile(
          GlobalCumsum.ntile(rfm,
            Seq(col("recency_us"), col("o_custkey")), 4, "r_q"),
          Seq(col("frequency"), col("o_custkey")), 4, "f_q"),
        Seq(col("monetary"), col("o_custkey")), 4, "m_q")
      ranked.select(col("o_custkey"), col("recency_us"), col("frequency"),
          col("monetary"), col("r_q"), col("f_q"), col("m_q"),
          (col("r_q") * 100 + col("f_q") * 10 + col("m_q")).as("segment"))
        .orderBy(col("o_custkey"))
    }, Some("""
      WITH rfm AS (
        SELECT o_custkey, max(epoch_us(o_orderdate)) AS recency_us,
          count(*) AS frequency,
          CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS monetary
        FROM orders GROUP BY 1),
      q AS (
        SELECT *,
          CAST(ntile(4) OVER (ORDER BY recency_us, o_custkey) AS BIGINT) AS r_q,
          CAST(ntile(4) OVER (ORDER BY frequency, o_custkey) AS BIGINT) AS f_q,
          CAST(ntile(4) OVER (ORDER BY monetary, o_custkey) AS BIGINT) AS m_q
        FROM rfm)
      SELECT o_custkey, recency_us, frequency, monetary, r_q, f_q, m_q,
        r_q * 100 + f_q * 10 + m_q AS segment
      FROM q ORDER BY o_custkey""")),


    // Market concentration (Herfindahl–Hirschman index) per nation: the
    // fact table reduces ONCE (hash agg with map-side partials) to
    // |suppliers| exact-DECIMAL revenue rows. For the squared-share sum,
    // revenues are first TRUNCATED to whole-$1k integer units (exact
    // integral div of the cent value — HHI is scale-invariant, and the
    // Σr² of full-precision cents carries ~18 significant digits, past
    // double precision, where the two engines' decimal→double roundings
    // diverge); every term then fits int64/double exactly and hhi/
    // top_share are single IEEE divisions ⇒ bit-exact cross-engine.
    ("q100_hhi_concentration", (s, dir) => {
      val rev = T(s, dir, "lineitem")
        .join(T(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_nationkey"), col("s_suppkey"))
        .agg(sum(dec(col("l_extendedprice"))).cast(DecimalType(14, 2)).as("r"))
        .withColumn("rk",
          expr("CAST(r * 100 AS BIGINT) div 100000")) // cents → whole $1k
      val h = rev.groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_suppliers"),
          sum(col("r")).cast(DecimalType(18, 2)).as("tot"),
          sum(col("rk") * col("rk")).as("sqk"),
          sum(col("rk")).as("totk"),
          max(col("r")).as("maxr"))
      h.join(broadcast(T(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("n_nationkey"), col("n_name"), col("n_suppliers"),
          col("tot").cast("double").as("total_rev"),
          (col("sqk").cast("double") /
            (col("totk") * col("totk")).cast("double")).as("hhi"),
          (col("maxr").cast("double") / col("tot").cast("double")).as("top_share"))
        .orderBy(col("n_nationkey"))
    }, Some("""
      WITH rev AS (
        SELECT s_nationkey, s_suppkey,
          CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(14,2)) AS r
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY 1, 2),
      rk AS (
        SELECT *, CAST(r * 100 AS BIGINT) // 100000 AS rk FROM rev),
      h AS (
        SELECT s_nationkey, count(*) AS n_suppliers,
          CAST(sum(r) AS DECIMAL(18,2)) AS tot,
          CAST(sum(rk * rk) AS BIGINT) AS sqk,
          CAST(sum(rk) AS BIGINT) AS totk,
          max(r) AS maxr
        FROM rk GROUP BY 1)
      SELECT n_nationkey, n_name, n_suppliers,
        CAST(tot AS DOUBLE) AS total_rev,
        CAST(sqk AS DOUBLE) / CAST(totk * totk AS DOUBLE) AS hhi,
        CAST(maxr AS DOUBLE) / CAST(tot AS DOUBLE) AS top_share
      FROM h JOIN nation ON s_nationkey = n_nationkey
      ORDER BY n_nationkey""")),


    // Triangle counting on the brand co-occurrence graph — the graph-
    // structure sibling of q94: the fact table reduces ONCE to distinct
    // (order, brand), edges are the within-order co-occurrence pairs, and
    // Graph.triangles runs the DEGREE-ORIENTED O(m^1.5) algorithm (orient
    // edges low→high degree ⇒ out-degree ≤ O(√m) ⇒ the wedge self-join
    // never explodes on hubs — the naive triple join is quadratic in the
    // hottest node). The oracle counts the same triangles by their unique
    // a<b<c form. Output: per-brand triangle participation.
    ("q101_triangle_count", (s, dir) => {
      // q94's basket rewrite: one shuffle on ok builds sorted distinct-brand
      // baskets, co-occurrence pairs generate in-stage from the array, and
      // only the (tiny) pair set pays the distinct exchange — the
      // (ok, brand) self-join this replaces re-shuffled the full reduction.
      val edges = T(s, dir, "lineitem")
        .join(T(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_orderkey").as("ok"))
        .agg(sort_array(collect_set(col("p_brand"))).as("bs"))
        .select(explode(expr(
          """flatten(transform(bs, (x, i) ->
               transform(slice(bs, i + 2, size(bs)),
                         y -> struct(x AS u, y AS v))))""")).as("p"))
        .select(col("p.u").as("u"), col("p.v").as("v")).distinct()
      graft.analytics.Graph.triangles(edges, "u", "v")
        .select(explode(array(col("a"), col("b"), col("c"))).as("brand"))
        .groupBy(col("brand")).agg(count(lit(1)).as("n_triangles"))
        .orderBy(col("brand"))
    }, Some("""
      WITH ob AS (
        SELECT DISTINCT l_orderkey AS ok, p_brand
        FROM lineitem JOIN part ON l_partkey = p_partkey),
      e AS (
        SELECT DISTINCT a.p_brand AS u, b.p_brand AS v
        FROM ob a JOIN ob b ON a.ok = b.ok AND a.p_brand < b.p_brand),
      t AS (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM e e1
        JOIN e e2 ON e1.v = e2.u
        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
      x AS (SELECT a AS brand FROM t
            UNION ALL SELECT b FROM t
            UNION ALL SELECT c FROM t)
      SELECT brand, count(*) AS n_triangles
      FROM x GROUP BY 1 ORDER BY 1""")),


    // Bounded-depth BFS (k-hop reachability) over the top-3-partner trade
    // graph: each nation keeps its 3 heaviest distinct-destination trade
    // edges (deterministic (w DESC, dst) rank), then Graph.kHopReachable
    // runs 3 rounds of frontier-join + anti-join-visited with checkpointed
    // lineage. The heavy 4-way join builds the edge weights ONCE; the
    // iteration works on |nations|-sized frames. Oracle: the same BFS
    // unrolled as 3 CTE rounds.
    ("q102_khop_reach", (s, dir) => {
      val ew = T(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
        .join(T(s, dir, "orders").select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(T(s, dir, "customer").select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(T(s, dir, "supplier").select("s_suppkey", "s_nationkey"),
          col("l_suppkey") === col("s_suppkey"))
        .where(col("c_nationkey") =!= col("s_nationkey"))
        .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
        .agg(count(lit(1)).as("w"))
      val top3 = ew
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("src")).orderBy(col("w").desc, col("dst"))))
        .where(col("rn") <= 3).select(col("src"), col("dst"))
      val seeds = T(s, dir, "nation")
        .where(col("n_nationkey") === 0).select(col("n_nationkey"))
      graft.analytics.Graph
        .kHopReachable(top3, "src", "dst", seeds, "n_nationkey", maxHops = 3)
        .orderBy(col("hop"), col("n_nationkey"))
    }, Some("""
      WITH ew AS (
        SELECT c.c_nationkey AS src, s.s_nationkey AS dst, count(*) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE c.c_nationkey <> s.s_nationkey
        GROUP BY 1, 2),
      e AS (
        SELECT src, dst FROM (
          SELECT src, dst,
            row_number() OVER (PARTITION BY src ORDER BY w DESC, dst) AS rn
          FROM ew)
        WHERE rn <= 3),
      r0 AS (SELECT CAST(0 AS INTEGER) AS node, CAST(0 AS INTEGER) AS hop),
      f1 AS (SELECT DISTINCT dst AS node FROM e JOIN r0 ON src = r0.node
             WHERE dst NOT IN (SELECT node FROM r0)),
      r1 AS (SELECT * FROM r0
             UNION ALL SELECT node, CAST(1 AS INTEGER) FROM f1),
      f2 AS (SELECT DISTINCT dst AS node FROM e JOIN r1 ON src = r1.node
             WHERE dst NOT IN (SELECT node FROM r1)),
      r2 AS (SELECT * FROM r1
             UNION ALL SELECT node, CAST(2 AS INTEGER) FROM f2),
      f3 AS (SELECT DISTINCT dst AS node FROM e JOIN r2 ON src = r2.node
             WHERE dst NOT IN (SELECT node FROM r2)),
      r3 AS (SELECT * FROM r2
             UNION ALL SELECT node, CAST(3 AS INTEGER) FROM f3)
      SELECT node AS n_nationkey, hop FROM r3 ORDER BY hop, node""")),


    // Ordered-subsequence pattern match over full event journeys (the
    // MATCH_RECOGNIZE-shaped query): each user's complete event-type path
    // in strict (time, id) order, flagged when a 'signup' is EVER followed
    // by a 'purchase'. One keyed exchange builds the per-user sequence;
    // the multi-wildcard LIKE compiles to a codegen'd scan of the path
    // string. Per-user sequences are bounded (|events|/|users|), so the
    // interpreted transform stays off the fact-table hot path.
    ("q103_sequence_match", (s, dir) => {
      T(s, dir, "events")
        .select(col("user_id"), expr("ts div 1000").as("tus"),
          col("event_id"), col("event_type"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          expr("""array_join(
              transform(array_sort(collect_list(struct(tus, event_id, event_type))),
                        p -> p.event_type), '>')""").as("path"))
        .select(col("user_id"), col("n_events"),
          col("path").like("%signup%purchase%").as("matched"))
        .orderBy(col("user_id"))
    }, Some("""
      WITH e AS (SELECT user_id, epoch_us(ts) AS tus, event_id, event_type
                 FROM events),
      p AS (SELECT user_id, count(*) AS n_events,
              string_agg(event_type, '>' ORDER BY tus, event_id) AS path
            FROM e GROUP BY 1)
      SELECT user_id, n_events, path LIKE '%signup%purchase%' AS matched
      FROM p ORDER BY user_id""")),


    // Median-absolute-deviation outlier fences — q77 IQR's robust sibling:
    // med and MAD are exact interpolated medians (dyadic 0.5 ⇒ the (a+b)/2
    // midpoint is one IEEE add + halving, bit-exact cross-engine, q61's
    // argument), each deviation |x − med| is a single exact subtraction,
    // and the 3·MAD fence is one multiply — so even rows ON the fence
    // agree. Two aggregation passes + one probe pass, each with map-side
    // partials; the per-group scalars travel by broadcast, the fact table
    // is never sorted globally.
    ("q104_mad_outliers", (s, dir) => {
      val li = T(s, dir, "lineitem")
        .select(col("l_returnflag").as("g"), col("l_extendedprice").as("x"))
      // med and madt are |groups|-sized but EXPENSIVE (exact percentile over
      // the fact table); each has two consumers, and without a checkpoint
      // Spark re-derives the whole percentile pass per consumer — measured
      // 2× on this query. Each median comes from ONE keyed sort
      // (Profiling.exactPercentiles) instead of the hash-map percentile
      // buffer — measured ~3× at sf0.1.
      val med = ext.Profiling.exactPercentiles(
          li, Seq("g"), "x", Seq("med" -> 0.5))
        .select(col("g"), col("med"))
        .localCheckpoint()
      val dev = li.join(broadcast(med), "g")
        .select(col("g"), col("x"), col("med"),
          abs(col("x") - col("med")).as("d"))
      val madt = ext.Profiling.exactPercentiles(
          dev, Seq("g"), "d", Seq("mad" -> 0.5))
        .join(med, "g") // reattach the (checkpointed, tiny) median
        .select(col("g"), col("med"), col("mad"), col("n"))
        .localCheckpoint()
      dev.join(broadcast(madt.select(col("g"), col("mad"))), "g")
        .groupBy(col("g"))
        .agg(count(when(col("d") > lit(3.0) * col("mad"), 1)).as("n_outliers"))
        .join(madt, "g")
        .select(col("g").as("l_returnflag"), col("n"), col("med"), col("mad"),
          col("n_outliers"))
        .orderBy(col("l_returnflag"))
    }, Some("""
      WITH m AS (
        SELECT l_returnflag AS g, quantile_cont(l_extendedprice, 0.5) AS med
        FROM lineitem GROUP BY 1),
      d AS (
        SELECT g, med, abs(l_extendedprice - med) AS d
        FROM lineitem JOIN m ON l_returnflag = g),
      t AS (
        SELECT g, max(med) AS med, quantile_cont(d, 0.5) AS mad,
          count(*) AS n
        FROM d GROUP BY 1)
      SELECT d.g AS l_returnflag, t.n, t.med, t.mad,
        count(*) FILTER (WHERE d.d > 3.0 * t.mad) AS n_outliers
      FROM d JOIN t ON d.g = t.g
      GROUP BY 1, 2, 3, 4 ORDER BY 1""")),


    // A/B experiment readout: users split into two arms by the shared
    // 48-bit content hash (assignment is engine-, seed- and partitioning-
    // independent — the q42 sampling key), conversion = any purchase
    // event. The fact table reduces ONCE to per-user rows; the readout is
    // a single conditional aggregation. Rates, absolute lift and the
    // two-proportion z statistic are built from exact BIGINT counts
    // through an IDENTICAL double expression tree in both engines
    // (divisions + one sqrt, both correctly rounded) ⇒ hash-exact.
    ("q106_ab_lift", (s, dir) => {
      import graft.ext.TextAnalysis.hash48
      val per = T(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1).otherwise(0)).as("conv"))
        .select(col("user_id"), col("conv"),
          (hash48(col("user_id").cast("string")) % 2).as("arm"))
      val r = per.agg(
        count(when(col("arm") === 0, 1)).as("n_a"),
        count(when(col("arm") === 1, 1)).as("n_b"),
        sum(when(col("arm") === 0, col("conv")).otherwise(0)).as("conv_a"),
        sum(when(col("arm") === 1, col("conv")).otherwise(0)).as("conv_b"))
      val naD = col("n_a").cast("double"); val nbD = col("n_b").cast("double")
      val ra = col("conv_a").cast("double") / naD
      val rb = col("conv_b").cast("double") / nbD
      val pp = (col("conv_a") + col("conv_b")).cast("double") /
        (col("n_a") + col("n_b")).cast("double")
      // z is undefined when the pooled rate is degenerate (pp ∈ {0,1} ⇒
      // zero variance): emit NULL, matching DuckDB's NULL-on-/0 semantics
      // (Spark's ANSI double division instead raises DIVIDE_BY_ZERO).
      val zDen = sqrt(pp * (lit(1.0) - pp) * (lit(1.0) / naD + lit(1.0) / nbD))
      r.select(col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
        ra.as("rate_a"), rb.as("rate_b"), (rb - ra).as("abs_lift"),
        when(zDen =!= 0.0, (rb - ra) / zDen).otherwise(lit(null)).as("z"))
    }, Some("""
      WITH per AS (
        SELECT user_id,
          max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv,
          ('0x' || substr(md5(user_id::VARCHAR), 1, 12))::BIGINT % 2 AS arm
        FROM events GROUP BY user_id),
      r AS (
        SELECT
          count(*) FILTER (WHERE arm = 0) AS n_a,
          count(*) FILTER (WHERE arm = 1) AS n_b,
          CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
          CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS conv_b
        FROM per),
      rr AS (
        SELECT n_a, n_b, conv_a, conv_b,
          CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS rate_a,
          CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS rate_b,
          CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS pp
        FROM r)
      SELECT n_a, n_b, conv_a, conv_b, rate_a, rate_b,
        rate_b - rate_a AS abs_lift,
        CASE WHEN sqrt(pp * (CAST(1 AS DOUBLE) - pp)
               * (CAST(1 AS DOUBLE) / CAST(n_a AS DOUBLE)
                    + CAST(1 AS DOUBLE) / CAST(n_b AS DOUBLE))) <> 0
          THEN (rate_b - rate_a)
            / sqrt(pp * (CAST(1 AS DOUBLE) - pp)
                 * (CAST(1 AS DOUBLE) / CAST(n_a AS DOUBLE)
                      + CAST(1 AS DOUBLE) / CAST(n_b AS DOUBLE)))
          ELSE NULL END AS z
      FROM rr""")),


    // Lorenz deciles + exact Gini coefficient of customer spend: orders
    // reduce ONCE to |customers| exact-DECIMAL totals; the decile ranking
    // and the Gini rank column both come from ONE GlobalCumsum.rankNtile
    // pass (range-partitioned, bit-identical to the (value, key)-ordered
    // row_number/ntile window pair — q99's argument: the unpartitioned
    // WindowExec would sort every customer on one partition); Gini comes
    // from the exact rank-weighted sum
    // G = (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx)  where every product/sum stays in
    // DECIMAL (rank × spend fits DECIMAL(25,2)) — only the final division
    // is a double op ⇒ bit-exact.
    ("q107_lorenz_gini", (s, dir) => {
      val spend = T(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(dec(col("o_totalprice"))).cast(DecimalType(14, 2)).as("x"))
      val ranked = GlobalCumsum.rankNtile(spend,
          Seq(col("x"), col("o_custkey")), 10, rnOut = Some("__rn"), "decile")
        .select(col("o_custkey"), col("x"),
          col("__rn").cast(DecimalType(10, 0)).as("i"), col("decile"))
        .localCheckpoint() // consumed by the gini scalar AND the deciles
      val g = ranked.agg(
          count(lit(1)).as("n"),
          sum(col("x")).cast(DecimalType(18, 2)).as("tot"),
          sum(col("i") * col("x")).as("six"))
        .select(((lit(2) * col("six") -
            (col("n") + lit(1)).cast(DecimalType(10, 0)) * col("tot"))
            .cast("double") /
          (col("n").cast(DecimalType(10, 0)) * col("tot")).cast("double"))
          .as("gini"),
          col("tot"))
      val dw = Window.orderBy(col("decile"))
      ranked.groupBy(col("decile"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("x")).cast(DecimalType(18, 2)).as("dsum"))
        .select(col("decile"), col("n_customers"),
          col("dsum").as("dsum"),
          sum(col("dsum")).over(dw).cast(DecimalType(18, 2)).as("csum"))
        .crossJoin(broadcast(g))
        .select(col("decile"), col("n_customers"),
          col("dsum").cast("double").as("decile_spend"),
          (col("csum").cast("double") / col("tot").cast("double")).as("cum_share"),
          col("gini"))
        .orderBy(col("decile"))
    }, Some("""
      WITH spend AS (
        SELECT o_custkey,
          CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(14,2)) AS x
        FROM orders GROUP BY 1),
      ranked AS (
        SELECT o_custkey, x,
          CAST(row_number() OVER (ORDER BY x, o_custkey) AS DECIMAL(10,0)) AS i,
          CAST(ntile(10) OVER (ORDER BY x, o_custkey) AS BIGINT) AS decile
        FROM spend),
      g AS (
        SELECT count(*) AS n, CAST(sum(x) AS DECIMAL(18,2)) AS tot,
          sum(i * x) AS six
        FROM ranked),
      gg AS (
        SELECT
          CAST(2 * six - CAST(n + 1 AS DECIMAL(10,0)) * tot AS DOUBLE)
            / CAST(CAST(n AS DECIMAL(10,0)) * tot AS DOUBLE) AS gini,
          tot
        FROM g),
      d AS (
        SELECT decile, count(*) AS n_customers,
          CAST(sum(x) AS DECIMAL(18,2)) AS dsum
        FROM ranked GROUP BY 1),
      c AS (
        SELECT decile, n_customers, dsum,
          CAST(sum(dsum) OVER (ORDER BY decile) AS DECIMAL(18,2)) AS csum
        FROM d)
      SELECT decile, n_customers, CAST(dsum AS DOUBLE) AS decile_spend,
        CAST(csum AS DOUBLE) / CAST(tot AS DOUBLE) AS cum_share, gini
      FROM c, gg ORDER BY decile""")),


    // Rolling 7-day distinct active users — the sliding-DISTINCT window no
    // frame can express (count(DISTINCT) over RANGE isn't supported
    // anywhere): the fact table reduces ONCE to distinct (day, user) rows;
    // each then EXPLODES into the ≤7 window-end days it covers and one
    // hash aggregation counts distincts per day — a keyed equi-shuffle
    // (Σ rows · 7), not a day×activity range join. Day ids are integral
    // day-epochs from the int64 nano timestamps ⇒ exact.
    ("q108_rolling_distinct", (s, dir) => {
      val au = T(s, dir, "events")
        .select(expr("ts div 86400000000000").as("day"), col("user_id"))
        .distinct()
        .localCheckpoint() // small; feeds the explode AND the day grid
      val days = au.select(col("day")).distinct()
      au.select(explode(sequence(col("day"), col("day") + lit(6))).as("tday"),
          col("user_id"))
        .groupBy(col("tday"))
        .agg(countDistinct(col("user_id")).as("wau"))
        .join(days, col("tday") === col("day"))
        .select(col("day"), col("wau"))
        .orderBy(col("day"))
    }, Some("""
      WITH au AS (
        SELECT DISTINCT epoch_us(ts) // 86400000000 AS day, user_id
        FROM events),
      days AS (SELECT DISTINCT day FROM au)
      SELECT d.day, count(DISTINCT a.user_id) AS wau
      FROM days d JOIN au a ON a.day BETWEEN d.day - 6 AND d.day
      GROUP BY 1 ORDER BY 1""")),


    // Behavioral diversity per user (Gini–Simpson index and its inverse,
    // the "effective number of behaviors"): D = 1 − Σcᵢ²/n², computed
    // entirely from exact BIGINT counts — two keyed hash aggs with
    // map-side partials and two final IEEE divisions ⇒ bit-exact.
    // (Shannon entropy is the transcendental sibling; ln is NOT identically
    // rounded between JVM StrictMath and libm — measured 54/2M integer
    // inputs differ — so the hash-gated catalog uses the exact index and
    // leaves entropy to sketch-style bounds like q39.)
    ("q109_behavior_diversity", (s, dir) => {
      val c = T(s, dir, "events")
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("c"))
      c.groupBy(col("user_id"))
        .agg(sum(col("c")).as("n_events"),
          count(lit(1)).as("n_types"),
          sum(col("c") * col("c")).as("ssq"))
        .select(col("user_id"), col("n_events"), col("n_types"),
          (lit(1.0) - col("ssq").cast("double") /
            (col("n_events") * col("n_events")).cast("double")).as("simpson"),
          ((col("n_events") * col("n_events")).cast("double") /
            col("ssq").cast("double")).as("effective_types"))
        .orderBy(col("user_id"))
    }, Some("""
      WITH c AS (
        SELECT user_id, event_type, count(*) AS c
        FROM events GROUP BY 1, 2),
      l AS (
        SELECT user_id, CAST(sum(c) AS BIGINT) AS n_events,
          count(*) AS n_types,
          CAST(sum(c * c) AS BIGINT) AS ssq
        FROM c GROUP BY 1)
      SELECT user_id, n_events, n_types,
        CAST(1 AS DOUBLE) - CAST(ssq AS DOUBLE)
          / CAST(n_events * n_events AS DOUBLE) AS simpson,
        CAST(n_events * n_events AS DOUBLE) / CAST(ssq AS DOUBLE)
          AS effective_types
      FROM l ORDER BY user_id""")),


    // Per-user activity bitmap: each user's active days packed into ONE
    // 64-bit word (slot = day mod 64) with bit_or, per-behavior bitmaps via
    // conditional masks, and set algebra (intersection cardinality) as
    // bit_count(a & b) — O(1) state per user where collect_set(day) is
    // O(days), and the roaring-bitmap pattern for 100 TB audience overlap
    // queries. Pure integer ops ⇒ bit-exact.
    ("q110_bitmap_activity", (s, dir) => {
      val b = T(s, dir, "events")
        .select(col("user_id"),
          (expr("ts div 86400000000000") % 64).cast("int").as("slot"),
          col("event_type"))
        .select(col("user_id"),
          expr("shiftleft(CAST(1 AS BIGINT), slot)").as("m"),
          col("event_type"))
        .groupBy(col("user_id"))
        .agg(
          expr("bit_or(m)").as("all_days"),
          expr("bit_or(CASE WHEN event_type = 'purchase' THEN m ELSE 0 END)")
            .as("buy_days"),
          expr("bit_or(CASE WHEN event_type = 'error' THEN m ELSE 0 END)")
            .as("err_days"))
      b.select(col("user_id"), col("all_days"),
          bit_count(col("all_days")).cast("int").as("n_active"),
          bit_count(col("buy_days")).cast("int").as("n_buy_days"),
          bit_count(col("buy_days").bitwiseAND(col("err_days"))).cast("int")
            .as("n_overlap"))
        .orderBy(col("user_id"))
    }, Some("""
      WITH slots AS (
        SELECT user_id,
          CAST(CAST(epoch_us(ts) // 86400000000 AS BIGINT) % 64 AS INTEGER) AS slot,
          event_type
        FROM events),
      b AS (
        SELECT user_id,
          bit_or(1::BIGINT << slot) AS all_days,
          bit_or(CASE WHEN event_type = 'purchase' THEN 1::BIGINT << slot ELSE 0 END) AS buy_days,
          bit_or(CASE WHEN event_type = 'error' THEN 1::BIGINT << slot ELSE 0 END) AS err_days
        FROM slots GROUP BY 1)
      SELECT user_id, all_days,
        CAST(bit_count(all_days) AS INTEGER) AS n_active,
        CAST(bit_count(buy_days) AS INTEGER) AS n_buy_days,
        CAST(bit_count(buy_days & err_days) AS INTEGER) AS n_overlap
      FROM b ORDER BY user_id""")),


    // Chi-square test of independence (event_type × user cohort), cell
    // level: the fact table reduces ONCE to |types|·|cohorts| observed
    // BIGINT counts; row/column/grand totals come from windows over that
    // tiny frame (no second scan); expected counts and (O−E)²/E are an
    // IDENTICAL double expression tree from exact BIGINT products ⇒
    // hash-exact. Cell-level output keeps the result deterministic — a
    // single chi² total would sum doubles in engine-dependent order.
    ("q111_chisq_cells", (s, dir) => {
      val c = T(s, dir, "events")
        .groupBy(col("event_type"), (col("user_id") % 4).as("cohort"))
        .agg(count(lit(1)).as("o"))
      val t = c.select(col("event_type"), col("cohort"), col("o"),
        sum(col("o")).over(Window.partitionBy(col("event_type"))).as("rt"),
        sum(col("o")).over(Window.partitionBy(col("cohort"))).as("ct"),
        sum(col("o")).over(Window.partitionBy()).as("n"))
      val e = (col("rt") * col("ct")).cast("double") / col("n").cast("double")
      t.select(col("event_type"), col("cohort"), col("o"),
          e.as("expected"),
          ((col("o").cast("double") - e) * (col("o").cast("double") - e) / e)
            .as("contrib"))
        .orderBy(col("event_type"), col("cohort"))
    }, Some("""
      WITH c AS (
        SELECT event_type, user_id % 4 AS cohort, count(*) AS o
        FROM events GROUP BY 1, 2),
      t AS (
        SELECT event_type, cohort, o,
          sum(o) OVER (PARTITION BY event_type) AS rt,
          sum(o) OVER (PARTITION BY cohort) AS ct,
          sum(o) OVER () AS n
        FROM c)
      SELECT event_type, cohort, o,
        CAST(rt*ct AS DOUBLE)/CAST(n AS DOUBLE) AS expected,
        (CAST(o AS DOUBLE) - CAST(rt*ct AS DOUBLE)/CAST(n AS DOUBLE))
          * (CAST(o AS DOUBLE) - CAST(rt*ct AS DOUBLE)/CAST(n AS DOUBLE))
          / (CAST(rt*ct AS DOUBLE)/CAST(n AS DOUBLE)) AS contrib
      FROM t ORDER BY event_type, cohort""")),


    // Autocorrelation of the daily event-count series at lags 1 and 7:
    // the fact table reduces ONCE to |days| BIGINT counts; each lag is an
    // equi-join of that tiny series against itself shifted (join on
    // d = d + lag — no window spill, works for ANY lag set); Pearson r
    // comes from exact DECIMAL moments (q83's argument) so the result is
    // bit-exact despite being a float statistic.
    ("q112_autocorr", (s, dir) => {
      import s.implicits._
      val daily = T(s, dir, "events")
        .groupBy(expr("ts div 86400000000000").as("d"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint() // tiny; feeds both sides of both lag joins
      val lags = Seq(1L, 7L).toDF("lag")
      val pairs = lags.crossJoin(daily.select(col("d"), col("c").as("x")))
        .join(daily.select(col("d").as("d2"), col("c").as("y")),
          col("d2") === col("d") + col("lag"))
      val m = pairs.groupBy(col("lag"))
        .agg(count(lit(1)).as("n"),
          sum(col("x")).cast(DecimalType(20, 0)).as("sx"),
          sum(col("y")).cast(DecimalType(20, 0)).as("sy"),
          sum(col("x") * col("y")).cast(DecimalType(30, 0)).as("sxy"),
          sum(col("x") * col("x")).cast(DecimalType(30, 0)).as("sxx"),
          sum(col("y") * col("y")).cast(DecimalType(30, 0)).as("syy"))
      m.select(col("lag"), col("n"),
          ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
             sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))))
            .as("r"))
        .orderBy(col("lag"))
    }, Some("""
      WITH daily AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d, count(*) AS c
        FROM events GROUP BY 1),
      pairs AS (
        SELECT l.lag, a.c AS x, b.c AS y
        FROM (VALUES (CAST(1 AS BIGINT)), (CAST(7 AS BIGINT))) l(lag)
        JOIN daily a ON true
        JOIN daily b ON b.d = a.d + l.lag),
      m AS (
        SELECT lag, count(*) AS n,
          CAST(sum(x) AS DECIMAL(20,0)) AS sx, CAST(sum(y) AS DECIMAL(20,0)) AS sy,
          CAST(sum(x*y) AS DECIMAL(30,0)) AS sxy,
          CAST(sum(x*x) AS DECIMAL(30,0)) AS sxx,
          CAST(sum(y*y) AS DECIMAL(30,0)) AS syy
        FROM pairs GROUP BY 1)
      SELECT lag, n,
        CAST(n*sxy - sx*sy AS DOUBLE)
          / (sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) * sqrt(CAST(n*syy - sy*sy AS DOUBLE))) AS r
      FROM m ORDER BY lag""")),


    // Period-over-period revenue: monthly totals (exact DECIMAL), MoM via
    // lag over the |months| frame, YoY via a self-join on (y−1, m) — join,
    // not lag(12), so gaps in the month sequence can never silently pair
    // the wrong periods. The fact table pays ONE keyed exchange; everything
    // downstream is |months|-sized.
    ("q113_period_growth", (s, dir) => {
      val m = T(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).cast("long").as("y"),
          month(col("o_orderdate")).cast("long").as("mo"))
        .agg(sum(dec(col("o_totalprice"))).cast(DecimalType(18, 2)).as("rev"),
          count(lit(1)).as("n_orders"))
        .localCheckpoint() // tiny; feeds the MoM window AND the YoY join
      val g = m.select((col("y") * 100 + col("mo")).as("ym"), col("y"),
        col("mo"), col("rev"), col("n_orders"),
        lag(col("rev"), 1).over(Window.orderBy(col("y"), col("mo")))
          .as("prev_rev"))
      g.join(m.select(col("y").as("py"), col("mo").as("pmo"),
            col("rev").as("yoy_rev")),
          col("py") === col("y") - 1 && col("pmo") === col("mo"), "left")
        .select(col("ym"), col("rev").cast("double").as("revenue"),
          col("n_orders"),
          col("prev_rev").cast("double").as("prev_revenue"),
          ((col("rev") - col("prev_rev")).cast("double") /
            col("prev_rev").cast("double")).as("mom_pct"),
          col("yoy_rev").cast("double").as("yoy_revenue"),
          ((col("rev") - col("yoy_rev")).cast("double") /
            col("yoy_rev").cast("double")).as("yoy_pct"))
        .orderBy(col("ym"))
    }, Some("""
      WITH m AS (
        SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
          CAST(month(o_orderdate) AS BIGINT) AS mo,
          CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS rev,
          count(*) AS n_orders
        FROM orders GROUP BY 1, 2),
      g AS (
        SELECT y*100+mo AS ym, y, mo, rev, n_orders,
          lag(rev) OVER (ORDER BY y, mo) AS prev_rev
        FROM m)
      SELECT g.ym, CAST(g.rev AS DOUBLE) AS revenue, g.n_orders,
        CAST(g.prev_rev AS DOUBLE) AS prev_revenue,
        CAST(g.rev - g.prev_rev AS DOUBLE) / CAST(g.prev_rev AS DOUBLE) AS mom_pct,
        CAST(p.rev AS DOUBLE) AS yoy_revenue,
        CAST(g.rev - p.rev AS DOUBLE) / CAST(p.rev AS DOUBLE) AS yoy_pct
      FROM g LEFT JOIN m p ON p.y = g.y - 1 AND p.mo = g.mo
      ORDER BY g.ym""")),


    // Data-quality audit (the Deequ-shaped constraint pass a training-data
    // pipeline runs before every ingest): referential integrity both ways
    // (anti joins), key uniqueness, null and domain checks — each check is
    // one scan or one join, results union into a tall (check, count)
    // report. Exact BIGINT counts.
    ("q114_dq_audit", (s, dir) => {
      val li = T(s, dir, "lineitem")
      val ord = T(s, dir, "orders")
      def one(name: String, d: DataFrame): DataFrame =
        d.agg(count(lit(1)).as("n")).select(lit(name).as("check_name"), col("n"))
      one("lineitem_orphan_fk",
          li.join(ord, col("l_orderkey") === col("o_orderkey"), "left_anti"))
        .unionByName(one("orders_childless",
          ord.join(li, col("o_orderkey") === col("l_orderkey"), "left_anti")))
        .unionByName(
          li.groupBy(col("l_orderkey"), col("l_linenumber"))
            .agg(count(lit(1)).as("c")).where(col("c") > 1)
            .agg(count(lit(1)).as("n"))
            .select(lit("lineitem_dup_pk").as("check_name"), col("n")))
        .unionByName(one("orders_null_custkey",
          ord.where(col("o_custkey").isNull)))
        .unionByName(one("lineitem_nonpositive_qty",
          li.where(col("l_quantity") <= 0)))
        .unionByName(one("lineitem_discount_range",
          li.where(col("l_discount") < 0 || col("l_discount") > 1)))
        .orderBy(col("check_name"))
    }, Some("""
      SELECT 'lineitem_orphan_fk' AS check_name, count(*) AS n
      FROM lineitem l
      WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
      UNION ALL
      SELECT 'orders_childless', count(*) FROM orders o
      WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
      UNION ALL
      SELECT 'lineitem_dup_pk', count(*) FROM (
        SELECT l_orderkey, l_linenumber FROM lineitem
        GROUP BY 1, 2 HAVING count(*) > 1)
      UNION ALL
      SELECT 'orders_null_custkey', count(*) FROM orders WHERE o_custkey IS NULL
      UNION ALL
      SELECT 'lineitem_nonpositive_qty', count(*) FROM lineitem WHERE l_quantity <= 0
      UNION ALL
      SELECT 'lineitem_discount_range', count(*) FROM lineitem
      WHERE l_discount < 0 OR l_discount > 1
      ORDER BY check_name""")),


    // Incremental aggregate maintenance: the stream splits into a BASE and
    // a DELTA batch (even/odd days); each batch aggregates independently
    // into mergeable partials (count/sum/min/max — the algebraic aggregates
    // a materialized view keeps), and the view refresh is a SECOND-level
    // aggregation over the partial rows — never a re-scan of base. Distinct
    // users merge through the (type,user) key set, the one aggregate whose
    // partial IS a set. Oracle: the same stats computed directly over the
    // full table — the merge law count(A∪B)=count(A)+count(B) etc. is what
    // the hash match proves.
    ("q115_incremental_agg", (s, dir) => {
      val ev = T(s, dir, "events")
        .select(col("event_type"), col("user_id"), dec(col("value")).as("v"),
          (expr("ts div 86400000000000") % 2 === 0).as("is_base"))
      val partials = ev.groupBy(col("event_type"), col("is_base"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("v")).cast(DecimalType(16, 2)).as("s"),
          min(col("v")).as("mn"), max(col("v")).as("mx"))
      val merged = partials.groupBy(col("event_type"))
        .agg(sum(col("cnt")).as("n"),
          sum(col("s")).cast("double").as("sum_value"),
          min(col("mn")).cast("double").as("min_value"),
          max(col("mx")).cast("double").as("max_value"))
      val users = ev.select(col("event_type"), col("user_id"), col("is_base"))
        .distinct() // per-batch key sets ...
        .select(col("event_type"), col("user_id")).distinct() // ... merged
        .groupBy(col("event_type")).agg(count(lit(1)).as("n_users"))
      merged.join(users, "event_type").orderBy(col("event_type"))
    }, Some("""
      SELECT event_type, count(*) AS n,
        CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
        CAST(min(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS min_value,
        CAST(max(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS max_value,
        count(DISTINCT user_id) AS n_users
      FROM events GROUP BY 1 ORDER BY 1""")),


    // New-vs-returning user split per day: the fact table reduces ONCE to
    // distinct (day, user) activity rows (q108's reduction); first-seen day
    // is one more hash agg over that small frame; the daily split is a
    // conditional count. Exact BIGINT counts; the growth-accounting query
    // every activity pipeline runs.
    ("q118_new_returning", (s, dir) => {
      val au = T(s, dir, "events")
        .select(expr("ts div 86400000000000").as("d"), col("user_id"))
        .distinct()
        .localCheckpoint() // feeds first-seen AND the day split
      val f = au.groupBy(col("user_id")).agg(min(col("d")).as("first_d"))
      au.join(f, "user_id")
        .groupBy(col("d"))
        .agg(count(lit(1)).as("dau"),
          count(when(col("d") === col("first_d"), 1)).as("new_users"),
          count(when(col("d") > col("first_d"), 1)).as("returning_users"))
        .orderBy(col("d"))
    }, Some("""
      WITH au AS (
        SELECT DISTINCT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d, user_id
        FROM events),
      f AS (SELECT user_id, min(d) AS first_d FROM au GROUP BY 1)
      SELECT d, count(*) AS dau,
        count(*) FILTER (WHERE d = first_d) AS new_users,
        count(*) FILTER (WHERE d > first_d) AS returning_users
      FROM au JOIN f USING (user_id) GROUP BY 1 ORDER BY 1""")),


    // Last-touch conversion attribution: each purchase credits the latest
    // STRICTLY-earlier non-purchase event of the same user — the correlated
    // LIMIT-1 subquery shape (J5's generalization) rewritten as ONE keyed
    // window: last(non-purchase type, ignoreNulls) over rows
    // (unboundedPreceding, -1) in deterministic (time, id) order. The fact
    // table pays one exchange+sort; no self-join, no subquery per row.
    ("q119_attribution", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("t"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      T(s, dir, "events")
        .select(col("user_id"), expr("ts div 1000").as("t"),
          col("event_id"), col("event_type"))
        .withColumn("channel",
          last(when(col("event_type") =!= "purchase", col("event_type")),
            ignoreNulls = true).over(w))
        .where(col("event_type") === "purchase")
        .groupBy(coalesce(col("channel"), lit("none")).as("channel"))
        .agg(count(lit(1)).as("conversions"))
        .orderBy(col("channel"))
    }, Some("""
      WITH e AS (
        SELECT user_id, epoch_us(ts) AS t, event_id, event_type FROM events),
      att AS (
        SELECT user_id, t, event_id, event_type,
          last(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
            OVER (PARTITION BY user_id ORDER BY t, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS channel
        FROM e)
      SELECT coalesce(channel, 'none') AS channel, count(*) AS conversions
      FROM att WHERE event_type = 'purchase'
      GROUP BY 1 ORDER BY 1""")),


    // Winsorization (percentile clipping — the outlier-mitigation pass a
    // training pipeline applies before normalization): exact interpolated
    // p25/p75 per group (dyadic fractions ⇒ bit-exact, q61), broadcast back
    // onto the fact rows, clamp with greatest/least (exact comparisons),
    // and compare raw vs clipped DECIMAL sums plus clip counts. Two passes,
    // no fact-table sort.
    ("q120_winsorize", (s, dir) => {
      val li = T(s, dir, "lineitem")
        .select(col("l_returnflag").as("g"), col("l_extendedprice").as("x"))
      // one keyed sort for both cut points (Profiling.exactPercentiles)
      val b = ext.Profiling.exactPercentiles(
          li, Seq("g"), "x", Seq("lo" -> 0.25, "hi" -> 0.75))
        .select(col("g"), col("lo"), col("hi"))
      li.join(broadcast(b), "g")
        .groupBy(col("g"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("x"))).cast("double").as("sum_raw"),
          sum(dec(greatest(least(col("x"), col("hi")), col("lo"))))
            .cast("double").as("sum_winsor"),
          count(when(col("x") < col("lo"), 1)).as("n_clipped_lo"),
          count(when(col("x") > col("hi"), 1)).as("n_clipped_hi"))
        .orderBy(col("g"))
    }, Some("""
      WITH b AS (
        SELECT l_returnflag AS g, quantile_cont(l_extendedprice, 0.25) AS lo,
               quantile_cont(l_extendedprice, 0.75) AS hi
        FROM lineitem GROUP BY 1)
      SELECT g, count(*) AS n,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_raw,
        CAST(sum(CAST(greatest(least(l_extendedprice, hi), lo) AS DECIMAL(12,2)))
          AS DOUBLE) AS sum_winsor,
        count(*) FILTER (WHERE l_extendedprice < lo) AS n_clipped_lo,
        count(*) FILTER (WHERE l_extendedprice > hi) AS n_clipped_hi
      FROM lineitem JOIN b ON l_returnflag = g
      GROUP BY 1 ORDER BY 1""")),


    // Distribution-drift report between a base and a delta batch (even/odd
    // days — the train-vs-serve drift check): per-category conditional
    // counts in ONE scan, shares and absolute drift from exact BIGINTs via
    // an identical double tree. (PSI's ln() is not cross-engine bit-stable
    // — the exact |Δshare| report is the hash-gated form.)
    ("q121_drift_report", (s, dir) => {
      val c = T(s, dir, "events")
        .select(col("event_type"),
          (expr("ts div 86400000000000") % 2 === 0).as("is_base"))
        .groupBy(col("event_type"))
        .agg(count(when(col("is_base"), 1)).as("cb"),
          count(when(!col("is_base"), 1)).as("cd"))
      val t = c.select(col("event_type"), col("cb"), col("cd"),
        sum(col("cb")).over(Window.partitionBy()).as("tb"),
        sum(col("cd")).over(Window.partitionBy()).as("td"))
      val sb = col("cb").cast("double") / col("tb").cast("double")
      val sd = col("cd").cast("double") / col("td").cast("double")
      t.select(col("event_type"), col("cb"), col("cd"),
          sb.as("share_base"), sd.as("share_delta"),
          abs(sb - sd).as("abs_drift"))
        .orderBy(col("event_type"))
    }, Some("""
      WITH c AS (
        SELECT event_type,
          count(*) FILTER (WHERE CAST(epoch_us(ts) // 86400000000 AS BIGINT) % 2 = 0) AS cb,
          count(*) FILTER (WHERE CAST(epoch_us(ts) // 86400000000 AS BIGINT) % 2 <> 0) AS cd
        FROM events GROUP BY 1),
      t AS (SELECT sum(cb) AS tb, sum(cd) AS td FROM c)
      SELECT event_type, cb, cd,
        CAST(cb AS DOUBLE)/CAST(tb AS DOUBLE) AS share_base,
        CAST(cd AS DOUBLE)/CAST(td AS DOUBLE) AS share_delta,
        abs(CAST(cb AS DOUBLE)/CAST(tb AS DOUBLE)
          - CAST(cd AS DOUBLE)/CAST(td AS DOUBLE)) AS abs_drift
      FROM c, t ORDER BY event_type""")),


    // Recency-decayed engagement score with half-life = 1 day: weight
    // 2^(−age) is a DYADIC fraction, so the whole weighted sum stays EXACT —
    // each value scales by the integer 2^(31−age) (BIGINT shift, age capped
    // at 31 ⇒ older events round to weight 0, exactly like the double would
    // underflow the scale), sums in DECIMAL, and divides by 2^31 once at the
    // end. The float-decay idiom exp(−λ·age) is summation-order-dependent;
    // this form is hash-exact and one hash agg.
    ("q122_decay_score", (s, dir) => {
      val ev = T(s, dir, "events")
        .select(col("user_id"), dec(col("value")).as("v"),
          expr("ts div 86400000000000").as("d"))
      val maxd = ev.agg(max(col("d")).as("maxd"))
      ev.crossJoin(broadcast(maxd))
        .select(col("user_id"),
          (col("v") * expr(
            """CAST(shiftleft(CAST(1 AS BIGINT),
                              CAST(31 - least(maxd - d, 31) AS INT))
                    AS DECIMAL(12,0))""")).as("wv"))
        .groupBy(col("user_id"))
        .agg(sum(col("wv")).as("num"))
        .select(col("user_id"),
          (col("num").cast("double") / lit(2147483648.0)).as("decay_score"))
        .orderBy(col("user_id"))
    }, Some("""
      WITH mx AS (
        SELECT max(CAST(epoch_us(ts) // 86400000000 AS BIGINT)) AS maxd FROM events),
      e AS (
        SELECT user_id, CAST(value AS DECIMAL(12,2)) AS v,
          CAST(maxd - epoch_us(ts) // 86400000000 AS BIGINT) AS age
        FROM events, mx),
      s AS (
        SELECT user_id,
          sum(v * CAST(1::BIGINT << CAST(31 - least(age, 31) AS INTEGER)
                AS DECIMAL(12,0))) AS num
        FROM e GROUP BY 1)
      SELECT user_id, CAST(num AS DOUBLE) / 2147483648.0 AS decay_score
      FROM s ORDER BY user_id""")),


    // SQL surface: WITH RECURSIVE (Spark 4's UnionLoop) — bounded-depth BFS
    // from nation 0 over the customer→supplier trade graph, min-distance per
    // reached nation. The recursion is the SQL-parity twin of q102's
    // kHopReachable: the DataFrame form (checkpointed frontier, visited-set
    // anti-join) is the 100 TB path, because a recursive CTE re-evaluates
    // the edge-derivation join every iteration and keeps no visited set —
    // fine here only because depth is capped at 2 and nations number 25.
    ("q123_recursive_bfs", (s, dir) => {
      T(s, dir, "customer").createOrReplaceTempView("g_customer")
      T(s, dir, "orders").createOrReplaceTempView("g_orders")
      T(s, dir, "lineitem").createOrReplaceTempView("g_lineitem")
      T(s, dir, "supplier").createOrReplaceTempView("g_supplier")
      s.sql("""
        WITH RECURSIVE hop(dst, d) AS (
          SELECT CAST(0 AS BIGINT) AS dst, 0 AS d
          UNION ALL
          SELECT e.dst, h.d + 1
          FROM hop h
          JOIN (SELECT DISTINCT c_nationkey AS src, s_nationkey AS dst
                FROM g_customer JOIN g_orders ON o_custkey = c_custkey
                JOIN g_lineitem ON l_orderkey = o_orderkey
                JOIN g_supplier ON s_suppkey = l_suppkey) e
            ON e.src = h.dst
          WHERE h.d < 2)
        SELECT dst, min(d) AS dist FROM hop GROUP BY dst ORDER BY dst""")
    }, Some("""
      WITH RECURSIVE hop(dst, d) AS (
        SELECT CAST(0 AS BIGINT) AS dst, 0 AS d
        UNION ALL
        SELECT e.dst, h.d + 1
        FROM hop h
        JOIN (SELECT DISTINCT c_nationkey AS src, s_nationkey AS dst
              FROM customer JOIN orders ON o_custkey = c_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
              JOIN supplier ON s_suppkey = l_suppkey) e
          ON e.src = h.dst
        WHERE h.d < 2)
      SELECT dst, min(d) AS dist FROM hop GROUP BY dst ORDER BY dst""")),


    // Volume-spike anomaly detection: per-type daily counts (the fact table
    // reduces ONCE to |types|·|days| rows), then a RANGE-frame trailing
    // window (7 PRECEDING..1 PRECEDING by day VALUE, so calendar gaps can't
    // slide the baseline) and an exact cross-multiplied threshold —
    // cnt·days > 2·sum is pure BIGINT arithmetic, no float rate to drift.
    // The ≥3-day guard keeps series warm-up from flagging everything.
    ("q129_spike_detect", (s, dir) => {
      val d = T(s, dir, "events")
        .groupBy(col("event_type"), expr("ts div 86400000000000").as("d"))
        .agg(count(lit(1)).as("cnt"))
      graft.analytics.TimeSeries
        .spikeDetect(d, Seq("event_type"), "d", "cnt")
        .orderBy(col("event_type"), col("d"))
    }, Some("""
      WITH d AS (
        SELECT event_type, CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
               count(*) AS cnt
        FROM events GROUP BY 1, 2)
      SELECT event_type, d, cnt,
        CAST(coalesce(sum(cnt) OVER (PARTITION BY event_type ORDER BY d
          RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS trail_sum,
        count(cnt) OVER (PARTITION BY event_type ORDER BY d
          RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING) AS trail_days,
        (count(cnt) OVER (PARTITION BY event_type ORDER BY d
           RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING) >= 3
         AND cnt * count(cnt) OVER (PARTITION BY event_type ORDER BY d
           RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING)
           > 2 * coalesce(sum(cnt) OVER (PARTITION BY event_type ORDER BY d
           RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING), 0)) AS is_spike
      FROM d ORDER BY event_type, d""")),


    // Heavy-key skew diagnosis — the report you run BEFORE choosing q62's
    // salted join: per-key counts (one map-side-combining agg), global
    // total by broadcast, top 20 via TakeOrdered (no global sort of the
    // key table). Share = one exact division of BIGINTs.
    ("q132_heavy_keys", (s, dir) => {
      val c = T(s, dir, "lineitem")
        .groupBy(col("l_suppkey").as("k")).agg(count(lit(1)).as("cnt"))
      c.crossJoin(broadcast(c.agg(sum(col("cnt")).as("tot"))))
        .orderBy(col("cnt").desc, col("k")).limit(20)
        .select(col("k"), col("cnt"),
          (col("cnt").cast("double") / col("tot").cast("double")).as("share"))
        .orderBy(col("cnt").desc, col("k"))
    }, Some("""
      WITH c AS (SELECT l_suppkey AS k, count(*) AS cnt FROM lineitem GROUP BY 1),
      t AS (SELECT sum(cnt) AS tot FROM c),
      r AS (SELECT k, cnt, row_number() OVER (ORDER BY cnt DESC, k) AS rk FROM c)
      SELECT r.k, r.cnt, CAST(r.cnt AS DOUBLE) / CAST(t.tot AS DOUBLE) AS share
      FROM r, t WHERE r.rk <= 20 ORDER BY r.cnt DESC, r.k""")),


    // TPC-H Q22-shaped lapsed-customer report: positive-balance customers
    // ABOVE the global average balance (exact cross-multiplied bal·n > Σ —
    // the float-avg comparison would be summation-order-dependent) with NO
    // order since 2000 (anti join), grouped by the 2-digit name tail. The
    // one-row global aggregate broadcasts; the anti join is the only
    // fact-side exchange.
    ("q137_lapsed_cust", (s, dir) => {
      val pos = T(s, dir, "customer").where(col("c_acctbal") > 0)
        .select(col("c_custkey"), dec(col("c_acctbal")).as("bal"),
          expr("substr(c_name, -2)").as("cc"))
      val t = pos.agg(sum(col("bal")).cast(DecimalType(18, 2)).as("s"),
        count(lit(1)).as("n"))
      pos
        .join(T(s, dir, "orders")
          .where(col("o_orderdate") >= lit("2000-01-01").cast("timestamp_ntz"))
          .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .crossJoin(broadcast(t))
        .where(col("bal") * col("n") > col("s"))
        .groupBy(col("cc"))
        .agg(count(lit(1)).as("n_cust"),
          sum(col("bal")).cast("double").as("total_bal"))
        .orderBy(col("cc"))
    }, Some("""
      WITH pos AS (SELECT c_custkey, CAST(c_acctbal AS DECIMAL(12,2)) AS bal,
                          substr(c_name, -2) AS cc
                   FROM customer WHERE c_acctbal > 0),
      t AS (SELECT CAST(sum(bal) AS DECIMAL(18,2)) AS s, count(*) AS n FROM pos)
      SELECT cc, count(*) AS n_cust, CAST(sum(bal) AS DOUBLE) AS total_bal
      FROM pos, t
      WHERE bal * n > s
        AND NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey
                          AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
      GROUP BY cc ORDER BY cc""")),


    // Per-label feature CORRELATION matrix (feature-selection input),
    // derived from q133's exact covariance cells: corr = cov_num /
    // √(varᵢ·varⱼ). The BIGINT numerators are bit-exact; the variance
    // product is formed in doubles (the BIGINT product could overflow) and
    // the single sqrt+division tree is identical in both engines. The
    // covariance aggregation runs ONCE (checkpointed) for the cells and
    // both diagonal probes; diagonals broadcast.
    ("q142_correlation", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val codes = emb.select(col("label"),
        ext.Quantize.int8Codes(col("embedding"),
          ext.Quantize.int8Scale(col("embedding"))).as("codes"))
      val cells = ext.LinAlg.covarianceUpperTriangle(codes, "label", "codes", 64)
        .select(col("k"), col("i"), col("j"), col("cov_num"))
        .localCheckpoint() // one agg pass for cells + two diagonal probes
      val diag = cells.where(col("i") === col("j"))
        .select(col("k").as("dk"), col("i").as("d"), col("cov_num").as("var_num"))
      cells
        .join(broadcast(diag.select(col("dk"), col("d"),
          col("var_num").as("vi"))),
          col("k") === col("dk") && col("i") === col("d"))
        .drop("dk", "d")
        .join(broadcast(diag.select(col("dk"), col("d"),
          col("var_num").as("vj"))),
          col("k") === col("dk") && col("j") === col("d"))
        .drop("dk", "d")
        .select(col("k").as("label"), col("i"), col("j"), col("cov_num"),
          when(col("vi") === 0 || col("vj") === 0, lit(null).cast("double"))
            .otherwise(col("cov_num").cast("double") /
              sqrt(col("vi").cast("double") * col("vj").cast("double")))
            .as("corr"))
        .orderBy(col("label"), col("i"), col("j"))
    }, Some("""
      WITH v AS (SELECT label, embedding::DOUBLE[] AS vec FROM embeddings),
      s AS (SELECT label, vec,
              coalesce(list_max(list_transform(vec, x -> abs(x))), 0) / 127.0 AS scale FROM v),
      q AS (SELECT label, CASE WHEN scale = 0
              THEN list_transform(vec, x -> CAST(0 AS BIGINT))
              ELSE list_transform(vec, x -> CAST(round(x / scale) AS BIGINT)) END AS codes FROM s),
      e AS (SELECT label, i.i AS i, j.j AS j, codes[i.i] * codes[j.j] AS p
            FROM q CROSS JOIN (SELECT unnest(range(1, 65)) AS i) i
            CROSS JOIN (SELECT unnest(range(1, 65)) AS j) j WHERE i.i <= j.j),
      g AS (SELECT CAST(label AS BIGINT) AS label, CAST(i AS BIGINT) AS i,
              CAST(j AS BIGINT) AS j, CAST(sum(p) AS BIGINT) AS g, count(*) AS n
            FROM e GROUP BY 1, 2, 3),
      su AS (SELECT CAST(label AS BIGINT) AS label, CAST(d.d AS BIGINT) AS d,
              CAST(sum(codes[d.d]) AS BIGINT) AS s
             FROM q CROSS JOIN (SELECT unnest(range(1, 65)) AS d) d GROUP BY 1, 2),
      cells AS (
        SELECT g.label, g.i, g.j, g.n*g.g - si.s*sj.s AS cov_num
        FROM g JOIN su si ON si.label = g.label AND si.d = g.i
               JOIN su sj ON sj.label = g.label AND sj.d = g.j),
      diag AS (SELECT label, i AS d, cov_num AS var_num FROM cells WHERE i = j)
      SELECT c.label, c.i, c.j, c.cov_num,
        CASE WHEN di.var_num = 0 OR dj.var_num = 0 THEN NULL
             ELSE CAST(c.cov_num AS DOUBLE)
                  / sqrt(CAST(di.var_num AS DOUBLE) * CAST(dj.var_num AS DOUBLE)) END AS corr
      FROM cells c JOIN diag di ON di.label = c.label AND di.d = c.i
                   JOIN diag dj ON dj.label = c.label AND dj.d = c.j
      ORDER BY c.label, c.i, c.j""")),


    // Whole-warehouse reconciliation checksums — the migration-validation
    // pass run after any copy/engine-swap: per table, row count + an
    // order-independent XOR fold over the key and over key|payload. XOR
    // (not SUM) so the fold can never overflow and any partitioning merges
    // identically; one column-pruned scan per table, all in one job. A
    // single changed/missing/duplicated row flips the checksum. The
    // key-only fold uses the ALU-only intMix48 (keys are integral — no
    // string format, no md5); only the key|payload fold pays one md5 per
    // row, which halved this query's dominant cost vs hashing twice.
    ("q144_table_checksums", (s, dir) => {
      import graft.ext.TextAnalysis.{hash48, intMix48}
      def row(tbl: String, keyInt: Column, keyStr: Column, valCol: Column): DataFrame =
        T(s, dir, tbl).agg(
            count(lit(1)).as("n_rows"),
            call_function("bit_xor", intMix48(keyInt)).as("key_xor"),
            call_function("bit_xor",
              hash48(concat(keyStr, lit("|"), valCol.cast("string"))))
              .as("val_xor"))
          .select(lit(tbl).as("tbl"), col("n_rows"), col("key_xor"), col("val_xor"))
      Seq(
        row("region", col("r_regionkey"), col("r_regionkey").cast("string"), col("r_name")),
        row("nation", col("n_nationkey"), col("n_nationkey").cast("string"), col("n_name")),
        row("customer", col("c_custkey"), col("c_custkey").cast("string"), col("c_name")),
        row("supplier", col("s_suppkey"), col("s_suppkey").cast("string"), col("s_name")),
        row("part", col("p_partkey"), col("p_partkey").cast("string"), col("p_brand")),
        row("orders", col("o_orderkey"), col("o_orderkey").cast("string"), col("o_orderpriority")),
        row("lineitem",
          // l_linenumber ∈ 1..7, so key*8+ln is injective and stays integral
          col("l_orderkey").cast("long") * 8 + col("l_linenumber"),
          concat(col("l_orderkey").cast("string"), lit("_"),
            col("l_linenumber").cast("string")), col("l_returnflag")),
        row("events", col("event_id"), col("event_id").cast("string"), col("event_type")),
        row("documents", col("doc_id"), col("doc_id").cast("string"), col("lang")),
        row("embeddings", col("vec_id"), col("vec_id").cast("string"), col("label")))
        .reduce(_ unionByName _)
        .orderBy(col("tbl"))
    }, Some("""
      WITH ks AS (
        SELECT 'region' AS tbl, r_regionkey::BIGINT AS k,
               r_regionkey::VARCHAR || '|' || r_name AS s FROM region
        UNION ALL
        SELECT 'nation', n_nationkey::BIGINT,
               n_nationkey::VARCHAR || '|' || n_name FROM nation
        UNION ALL
        SELECT 'customer', c_custkey::BIGINT,
               c_custkey::VARCHAR || '|' || c_name FROM customer
        UNION ALL
        SELECT 'supplier', s_suppkey::BIGINT,
               s_suppkey::VARCHAR || '|' || s_name FROM supplier
        UNION ALL
        SELECT 'part', p_partkey::BIGINT,
               p_partkey::VARCHAR || '|' || p_brand FROM part
        UNION ALL
        SELECT 'orders', o_orderkey::BIGINT,
               o_orderkey::VARCHAR || '|' || o_orderpriority FROM orders
        UNION ALL
        SELECT 'lineitem', l_orderkey::BIGINT * 8 + l_linenumber,
               l_orderkey::VARCHAR || '_' || l_linenumber::VARCHAR || '|' || l_returnflag FROM lineitem
        UNION ALL
        SELECT 'events', event_id::BIGINT,
               event_id::VARCHAR || '|' || event_type FROM events
        UNION ALL
        SELECT 'documents', doc_id::BIGINT,
               doc_id::VARCHAR || '|' || lang FROM documents
        UNION ALL
        SELECT 'embeddings', vec_id::BIGINT,
               vec_id::VARCHAR || '|' || label::VARCHAR FROM embeddings),
      -- intMix48: xorshift-multiply rounds, every intermediate < 2^63
      h  AS (SELECT tbl, k % 281474976710656 AS h0,
                    ('0x' || substr(md5(s), 1, 12))::BIGINT AS vh FROM ks),
      m1 AS (SELECT tbl, xor(h0, h0 >> 21) AS h1, vh FROM h),
      m2 AS (SELECT tbl, (h1 * 26071) % 281474976710656 AS h2, vh FROM m1),
      m3 AS (SELECT tbl, xor(h2, h2 >> 17) AS h3, vh FROM m2),
      m4 AS (SELECT tbl, (h3 * 20267) % 281474976710656 AS h4, vh FROM m3)
      SELECT tbl, count(*) AS n_rows, bit_xor(xor(h4, h4 >> 13)) AS key_xor,
             bit_xor(vh) AS val_xor
      FROM m4 GROUP BY tbl ORDER BY tbl""")),


    // Accumulating-snapshot fact (order lifecycle): each order reduces
    // ONCE to its milestone row (first/last ship, line count) in a single
    // hash agg over the join, then the per-priority report is small-table
    // work. Day arithmetic on midnight-aligned dates is identical in both
    // engines.
    ("q148_order_lifecycle", (s, dir) => {
      val o = T(s, dir, "orders")
        .join(T(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderpriority"), col("o_orderdate"))
        .agg(min(col("l_shipdate")).as("first_ship"),
          max(col("l_shipdate")).as("last_ship"),
          count(lit(1)).as("n_lines"))
      o.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          min(datediff(to_date(col("first_ship")), to_date(col("o_orderdate"))))
            .cast("long").as("min_days_to_first"),
          max(datediff(to_date(col("last_ship")), to_date(col("o_orderdate"))))
            .cast("long").as("max_days_to_last"),
          sum(datediff(to_date(col("last_ship")), to_date(col("first_ship"))))
            .cast("long").as("total_span_days"),
          sum(col("n_lines")).as("total_lines"))
        .orderBy(col("o_orderpriority"))
    }, Some("""
      WITH o AS (
        SELECT o_orderkey, o_orderpriority, o_orderdate,
          min(l_shipdate) AS first_ship, max(l_shipdate) AS last_ship,
          count(*) AS n_lines
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        GROUP BY 1, 2, 3)
      SELECT o_orderpriority, count(*) AS n_orders,
        CAST(min(date_diff('day', o_orderdate, first_ship)) AS BIGINT) AS min_days_to_first,
        CAST(max(date_diff('day', o_orderdate, last_ship)) AS BIGINT) AS max_days_to_last,
        CAST(sum(date_diff('day', first_ship, last_ship)) AS BIGINT) AS total_span_days,
        CAST(sum(n_lines) AS BIGINT) AS total_lines
      FROM o GROUP BY 1 ORDER BY 1""")),


    // Running maximum drawdown per customer (the risk metric over a signed
    // cumulative balance): running balance and running peak are two window
    // passes over ONE keyed exchange+sort; the drawdown report is a final
    // hash agg. Exact DECIMAL arithmetic end-to-end — the doubles appear
    // only in the output projection.
    ("q150_max_drawdown", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val r = T(s, dir, "orders").select(
        col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
        sum(when(col("o_orderpriority") === "1-URGENT", dec(col("o_totalprice")))
          .otherwise(-dec(col("o_totalprice")))).over(w)
          .cast(DecimalType(18, 2)).as("bal"))
      r.select(col("o_custkey"), col("bal"),
          max(col("bal")).over(w).cast(DecimalType(18, 2)).as("peak"))
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          max(col("peak") - col("bal")).cast("double").as("max_drawdown"),
          max(col("peak")).cast("double").as("max_peak"))
        .orderBy(col("o_custkey"))
    }, Some("""
      WITH r AS (
        SELECT o_custkey, o_orderdate, o_orderkey,
          CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                    THEN CAST(o_totalprice AS DECIMAL(12,2))
                    ELSE -CAST(o_totalprice AS DECIMAL(12,2)) END)
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(18,2)) AS bal
        FROM orders),
      d AS (
        SELECT o_custkey, bal,
          CAST(max(bal) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(18,2)) AS peak
        FROM r)
      SELECT o_custkey, count(*) AS n_orders,
        CAST(max(peak - bal) AS DOUBLE) AS max_drawdown,
        CAST(max(peak) AS DOUBLE) AS max_peak
      FROM d GROUP BY 1 ORDER BY 1""")),


    // Session bounce-rate report over q36's gap sessions: the per-session
    // frame (one keyed window pass inside Sessionize) reduces to per-user
    // product metrics — bounce = single-event session; rate is one exact
    // division of BIGINTs; duration stays in integral µs.
    ("q151_bounce_rate", (s, dir) => {
      val sess = Sessionize.sessionize(
        T(s, dir, "events").select(col("user_id"), expr("ts div 1000").as("tus")),
        Seq("user_id"), "tus", gap = 1800L * 1000 * 1000)
      sess.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"),
          count(when(col("n_events") === 1, 1)).as("n_bounces"),
          max(col("end_time") - col("start_time")).cast("long")
            .as("max_duration_us"))
        .withColumn("bounce_rate",
          col("n_bounces").cast("double") / col("n_sessions").cast("double"))
        .select(col("user_id"), col("n_sessions"), col("n_bounces"),
          col("bounce_rate"), col("max_duration_us"))
        .orderBy(col("user_id"))
    }, Some("""
      WITH e AS (SELECT user_id, epoch_us(ts) AS tus FROM events),
      m AS (SELECT user_id, tus,
              CASE WHEN LAG(tus) OVER w IS NULL OR tus - LAG(tus) OVER w > 1800000000
                   THEN 1 ELSE 0 END AS is_new
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus)),
      sess AS (SELECT user_id, tus,
                 sum(is_new) OVER (PARTITION BY user_id ORDER BY tus
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
               FROM m),
      per AS (SELECT user_id, session_id, count(*) AS n_events,
                CAST(max(tus) - min(tus) AS BIGINT) AS duration_us
              FROM sess GROUP BY 1, 2)
      SELECT user_id, count(*) AS n_sessions,
        count(*) FILTER (WHERE n_events = 1) AS n_bounces,
        CAST(count(*) FILTER (WHERE n_events = 1) AS DOUBLE) / count(*) AS bounce_rate,
        CAST(max(duration_us) AS BIGINT) AS max_duration_us
      FROM per GROUP BY 1 ORDER BY 1"""))
  )
}
