package graft
package catalog

import org.apache.hadoop.fs.Path
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

/** Similarity search / vectors: brute-force and bucketed top-k, IVF,
  * PQ/ADC, residual IVFADC (store, increment, compaction, streaming serve,
  * lifecycle), recall audits, k-means (exact integer Lloyd + streaming
  * inference), exact Gram/covariance/correlation, embedding drift.
  *
  * Each entry is (name, query, oracle SQL) exactly as it sat in
  * SparkEntry's catalog before the per-family split; SparkEntry composes
  * the families back into the single driver-contract map.
  */
private[graft] object AnnCatalog {

  val entries: Seq[(String, Q, Option[String])] = Seq(


    // ================================================================
    // Extension surface: similarity search
    // ================================================================

    ("q27_cosine_topk", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.bruteForceTopK(
        emb.where(col("vec_id") < 10), emb, "vec_id", "vec_id", "embedding", 3)
        .orderBy(col("q_id"), col("rank"))
    }, Some("""
      WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
      c AS (SELECT vec_id AS n_id, embedding::DOUBLE[] AS nv FROM embeddings),
      scored AS (
        SELECT q_id, n_id,
          list_sum(list_transform(range(1, least(len(qv), len(nv)) + 1), i -> qv[i] * nv[i])) /
            (sqrt(list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * qv[i]))) *
             sqrt(list_sum(list_transform(range(1, len(nv) + 1), i -> nv[i] * nv[i])))) AS sim
        FROM q CROSS JOIN c WHERE n_id <> q_id),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank
        FROM scored)
      SELECT q_id, rank, n_id, sim FROM ranked WHERE rank <= 3
      ORDER BY q_id, rank""")),


    // AUDIT STRAWMAN — NOT the production index. Single-table sign-LSH
    // measures recall@3 ≈ 0.03 on these embeddings (q164's audit); it is
    // kept in the catalog solely as q164's negative baseline so the recall
    // gap stays measured. Production ANN is q175 (multiProbeTopK — no
    // training, recall ≈ 0.87) or q35 (ivfTopK — data-dependent lists,
    // recall ≈ 0.7). Do not ship this index.
    ("q28_ann_bucketed", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.bucketedTopK(
        emb.where(col("vec_id") < 10), emb, "vec_id", "vec_id", "embedding", 3)
        .orderBy(col("q_id"), col("rank"))
    }, Some("""
      WITH b AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
          CAST(list_sum(list_transform(range(0, 8), i ->
            CASE WHEN embedding[i + 1] > 0 THEN (1::BIGINT << i) ELSE 0::BIGINT END)) AS BIGINT) AS bucket
        FROM embeddings),
      scored AS (
        SELECT q.vec_id AS q_id, q.bucket AS bucket, c.vec_id AS n_id,
          list_sum(list_transform(range(1, least(len(q.v), len(c.v)) + 1), i -> q.v[i] * c.v[i])) /
            (sqrt(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * q.v[i]))) *
             sqrt(list_sum(list_transform(range(1, len(c.v) + 1), i -> c.v[i] * c.v[i])))) AS sim
        FROM b q JOIN b c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
        WHERE q.vec_id < 10),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank
        FROM scored)
      SELECT q_id, bucket, rank, n_id, sim FROM ranked WHERE rank <= 3
      ORDER BY q_id, rank""")),


    ("q35_ivf_ann", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val centroids = emb.where(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("cid"), col("embedding"))
      Similarity.ivfTopK(
        emb.where(col("vec_id") < 5), emb, centroids,
        "vec_id", "vec_id", "cid", "embedding", k = 3, nprobe = 2)
        .orderBy(col("q_id"), col("rank"))
    }, Some("""
      WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
      cent AS (SELECT vec_id AS cid, vec AS c_vec FROM v WHERE vec_id % 100 = 0),
      cosd AS (
        SELECT a.vec_id AS n_id, a.vec AS n_vec, c.cid,
          list_sum(list_transform(range(1, least(len(a.vec), len(c.c_vec)) + 1), i -> a.vec[i] * c.c_vec[i])) /
            (sqrt(list_sum(list_transform(range(1, len(a.vec) + 1), i -> a.vec[i] * a.vec[i]))) *
             sqrt(list_sum(list_transform(range(1, len(c.c_vec) + 1), i -> c.c_vec[i] * c.c_vec[i])))) AS c_sim
        FROM v a CROSS JOIN cent c),
      lists AS (
        SELECT n_id, n_vec, cid FROM (
          SELECT *, row_number() OVER (PARTITION BY n_id ORDER BY c_sim DESC, cid) AS rn
          FROM cosd) WHERE rn = 1),
      probes AS (
        SELECT n_id AS q_id, n_vec AS q_vec, cid FROM (
          SELECT *, row_number() OVER (PARTITION BY n_id ORDER BY c_sim DESC, cid) AS rn
          FROM cosd WHERE n_id < 5) WHERE rn <= 2),
      scored AS (
        SELECT p.q_id, l.n_id,
          list_sum(list_transform(range(1, least(len(p.q_vec), len(l.n_vec)) + 1), i -> p.q_vec[i] * l.n_vec[i])) /
            (sqrt(list_sum(list_transform(range(1, len(p.q_vec) + 1), i -> p.q_vec[i] * p.q_vec[i]))) *
             sqrt(list_sum(list_transform(range(1, len(l.n_vec) + 1), i -> l.n_vec[i] * l.n_vec[i])))) AS sim
        FROM probes p JOIN lists l ON l.cid = p.cid AND l.n_id <> p.q_id),
      ranked AS (
        SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS INT) AS rank
        FROM scored)
      SELECT q_id, rank, n_id, sim FROM ranked WHERE rank <= 3
      ORDER BY q_id, rank""")),


    ("q40_vector_norms", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      // norm once per output column (unit_first divides by the norm
      // directly instead of re-folding it per array element)
      emb.select(
        col("vec_id"),
        Similarity.l2Norm(col("embedding")).as("l2_norm"),
        (element_at(col("embedding").cast("array<double>"), 1) /
          Similarity.l2Norm(col("embedding"))).as("unit_first"))
        .orderBy(col("vec_id"))
    }, Some("""
      WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
      n AS (
        SELECT vec_id, vec,
          sqrt(list_sum(list_transform(range(1, len(vec) + 1), i -> vec[i] * vec[i]))) AS l2_norm
        FROM v)
      SELECT vec_id, l2_norm, vec[1] / l2_norm AS unit_first
      FROM n ORDER BY vec_id""")),


    // Int8 scalar quantization of the embedding column: per-vector scale,
    // code sum (integer-exact), max reconstruction error, and the cosine
    // between original and dequantized vector — the compression-fidelity
    // audit a 100 TB embedding store runs before switching storage.
    ("q49_quantize_int8", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val withScale = emb.withColumn("scale", ext.Quantize.int8Scale(col("embedding")))
      val withCodes = withScale.withColumn(
        "codes", ext.Quantize.int8Codes(col("embedding"), col("scale")))
      // dequantize ONCE and share it: error and cosine both consume it, and
      // Catalyst does not dedupe repeated lambda subtrees
      withCodes
        .withColumn("deq", ext.Quantize.dequantize(col("codes"), col("scale")))
        .select(
          col("vec_id"),
          col("scale"),
          aggregate(col("codes"), lit(0L), (a, x) => a + x.cast("long")).as("code_sum"),
          ext.Quantize.reconError(col("embedding"), col("deq")).as("max_err"),
          Similarity.cosine(col("embedding"), col("deq")).as("recon_cos"))
        .orderBy(col("vec_id"))
    }, Some("""
      WITH v AS (
        SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
      s AS (
        SELECT vec_id, vec,
          coalesce(list_max(list_transform(vec, x -> abs(x))), 0) / 127.0 AS scale
        FROM v),
      q AS (
        SELECT vec_id, vec, scale,
          CASE WHEN scale = 0
            THEN list_transform(vec, x -> CAST(0 AS BIGINT))
            ELSE list_transform(vec, x -> CAST(round(x / scale) AS BIGINT)) END AS codes
        FROM s),
      d AS (
        SELECT vec_id, vec, scale, codes,
          list_transform(codes, c -> c * scale) AS deq
        FROM q)
      SELECT vec_id, scale,
        CAST(list_sum(codes) AS BIGINT) AS code_sum,
        coalesce(list_max(list_transform(range(1, len(vec) + 1), i -> abs(vec[i] - deq[i]))), 0)
          AS max_err,
        list_sum(list_transform(range(1, len(vec) + 1), i -> vec[i] * deq[i])) /
          (sqrt(list_sum(list_transform(range(1, len(vec) + 1), i -> vec[i] * vec[i]))) *
           sqrt(list_sum(list_transform(range(1, len(vec) + 1), i -> deq[i] * deq[i])))) AS recon_cos
      FROM d ORDER BY vec_id""")),


    // Per-label centroids over int8-QUANTIZED embeddings: codes sum as
    // exact BIGINTs per (label, position) — the float-summation-order trap
    // that makes naive mean-vector aggregation engine-dependent never
    // appears, and at 100 TB the 4×-smaller codes are what you'd scan
    // anyway (q49). posexplode is a 1→64 in-stage Generate; one keyed hash
    // agg with map-side partials does the rest.
    ("q116_label_centroids", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val codes = emb.select(col("label"),
        ext.Quantize.int8Codes(col("embedding"),
          ext.Quantize.int8Scale(col("embedding"))).as("codes"))
      codes.select(col("label"), posexplode(col("codes")).as(Seq("p", "c")))
        .groupBy(col("label"), (col("p") + 1).cast("long").as("pos"))
        .agg(count(lit(1)).as("n"),
          sum(col("c").cast("long")).as("code_sum"))
        .select(col("label").cast("long").as("label"), col("pos"), col("n"),
          col("code_sum"),
          (col("code_sum").cast("double") / col("n").cast("double"))
            .as("centroid"))
        .orderBy(col("label"), col("pos"))
    }, Some("""
      WITH v AS (SELECT label, embedding::DOUBLE[] AS vec FROM embeddings),
      s AS (
        SELECT label, vec,
          coalesce(list_max(list_transform(vec, x -> abs(x))), 0) / 127.0 AS scale
        FROM v),
      q AS (
        SELECT label, CASE WHEN scale = 0
          THEN list_transform(vec, x -> CAST(0 AS BIGINT))
          ELSE list_transform(vec, x -> CAST(round(x / scale) AS BIGINT)) END AS codes
        FROM s),
      e AS (
        SELECT label, i, codes[i] AS c
        FROM q CROSS JOIN (SELECT unnest(range(1, 65)) AS i) r)
      SELECT CAST(label AS BIGINT) AS label, CAST(i AS BIGINT) AS pos,
        count(*) AS n, CAST(sum(c) AS BIGINT) AS code_sum,
        CAST(sum(c) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS centroid
      FROM e GROUP BY 1, 2 ORDER BY 1, 2""")),


    // Per-label Gram matrix (XᵀX upper triangle) over int8-QUANTIZED codes:
    // the covariance/PCA scaffold computed the way a 100 TB vector store
    // would — 4×-smaller codes, products as exact BIGINTs (no float
    // summation-order drift). LinAlg.gramUpperTriangle is ONE typed
    // aggregation: each task multiply-accumulates rows into a 2080-slot
    // BIGINT triangle buffer (no per-pair hash probes, no exploded pair
    // rows — measured ~3× faster than the explode + hash-agg form at
    // sf0.1), buffers combine map-side, and only |labels| buffer rows
    // cross the exchange regardless of corpus size.
    ("q128_gram_matrix", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val codes = emb.select(col("label"),
        ext.Quantize.int8Codes(col("embedding"),
          ext.Quantize.int8Scale(col("embedding"))).as("codes"))
      ext.LinAlg.gramUpperTriangle(codes, "label", "codes", 64)
        .select(col("k").as("label"), col("i"), col("j"), col("g"), col("n"))
        .orderBy(col("label"), col("i"), col("j"))
    }, Some("""
      WITH v AS (SELECT label, embedding::DOUBLE[] AS vec FROM embeddings),
      s AS (
        SELECT label, vec,
          coalesce(list_max(list_transform(vec, x -> abs(x))), 0) / 127.0 AS scale
        FROM v),
      q AS (
        SELECT label, CASE WHEN scale = 0
          THEN list_transform(vec, x -> CAST(0 AS BIGINT))
          ELSE list_transform(vec, x -> CAST(round(x / scale) AS BIGINT)) END AS codes
        FROM s),
      e AS (
        SELECT label, i.i AS i, j.j AS j, codes[i.i] * codes[j.j] AS p
        FROM q
        CROSS JOIN (SELECT unnest(range(1, 65)) AS i) i
        CROSS JOIN (SELECT unnest(range(1, 65)) AS j) j
        WHERE i.i <= j.j)
      SELECT CAST(label AS BIGINT) AS label, CAST(i AS BIGINT) AS i,
        CAST(j AS BIGINT) AS j, CAST(sum(p) AS BIGINT) AS g, count(*) AS n
      FROM e GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""")),


    // Per-label EXACT covariance matrix — the PCA/whitening input, from
    // the SAME one-pass typed aggregation as q128 (the triangle buffer
    // also carries Σxᵢ): cov·n² = n·Σxᵢxⱼ − Σxᵢ·Σxⱼ stays in BIGINTs, so
    // the matrix is bit-exact in any partitioning; the single final
    // division is the only float op. The float-moments alternative
    // (built-in covar_pop) is summation-order-dependent and could never
    // hash-match.
    ("q133_covariance", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val codes = emb.select(col("label"),
        ext.Quantize.int8Codes(col("embedding"),
          ext.Quantize.int8Scale(col("embedding"))).as("codes"))
      ext.LinAlg.covarianceUpperTriangle(codes, "label", "codes", 64)
        .select(col("k").as("label"), col("i"), col("j"), col("g"),
          col("si"), col("sj"), col("n"), col("cov_num"), col("cov"))
        .orderBy(col("label"), col("i"), col("j"))
    }, Some("""
      WITH v AS (SELECT label, embedding::DOUBLE[] AS vec FROM embeddings),
      s AS (
        SELECT label, vec,
          coalesce(list_max(list_transform(vec, x -> abs(x))), 0) / 127.0 AS scale
        FROM v),
      q AS (
        SELECT label, CASE WHEN scale = 0
          THEN list_transform(vec, x -> CAST(0 AS BIGINT))
          ELSE list_transform(vec, x -> CAST(round(x / scale) AS BIGINT)) END AS codes
        FROM s),
      e AS (
        SELECT label, i.i AS i, j.j AS j, codes[i.i] * codes[j.j] AS p
        FROM q
        CROSS JOIN (SELECT unnest(range(1, 65)) AS i) i
        CROSS JOIN (SELECT unnest(range(1, 65)) AS j) j
        WHERE i.i <= j.j),
      g AS (
        SELECT CAST(label AS BIGINT) AS label, CAST(i AS BIGINT) AS i,
          CAST(j AS BIGINT) AS j, CAST(sum(p) AS BIGINT) AS g, count(*) AS n
        FROM e GROUP BY 1, 2, 3),
      su AS (
        SELECT CAST(label AS BIGINT) AS label, CAST(d.d AS BIGINT) AS d,
          CAST(sum(codes[d.d]) AS BIGINT) AS s
        FROM q CROSS JOIN (SELECT unnest(range(1, 65)) AS d) d
        GROUP BY 1, 2)
      SELECT g.label, g.i, g.j, g.g, si.s AS si, sj.s AS sj, g.n,
        g.n*g.g - si.s*sj.s AS cov_num,
        CAST(g.n*g.g - si.s*sj.s AS DOUBLE)/CAST(g.n*g.n AS DOUBLE) AS cov
      FROM g JOIN su si ON si.label = g.label AND si.d = g.i
             JOIN su sj ON sj.label = g.label AND sj.d = g.j
      ORDER BY g.label, g.i, g.j""")),


    // Label-centroid separation matrix over int8-QUANTIZED embeddings
    // (q116's exact-BIGINT centroid sums, taken pairwise): Euclidean
    // distance between every label pair's centroid, the "are my classes
    // separable?" audit. The corpus reduces ONCE to |labels|·64 exact
    // integer sums; the |labels|² pairing and the per-pair 64-term fold
    // run on that tiny frame, with a SEQUENTIAL left-to-right fold
    // (zip_with + aggregate ≡ DuckDB's list fold) so the double sum has
    // ONE evaluation order in both engines.
    ("q163_centroid_distances", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val codes = emb.select(col("label"),
        ext.Quantize.int8Codes(col("embedding"),
          ext.Quantize.int8Scale(col("embedding"))).as("codes"))
      val cent = codes
        .select(col("label"), posexplode(col("codes")).as(Seq("p", "c")))
        .groupBy(col("label").cast("long").as("label"), col("p"))
        .agg((sum(col("c").cast("long")).cast("double") /
          count(lit(1)).cast("double")).as("centroid"))
        .groupBy(col("label"))
        .agg(expr("transform(array_sort(collect_list(struct(p, centroid))), x -> x.centroid)")
          .as("cvec"))
      val a = cent.select(col("label").as("label_a"), col("cvec").as("ca"))
      val b = cent.select(col("label").as("label_b"), col("cvec").as("cb"))
      a.crossJoin(b).where(col("label_a") < col("label_b"))
        .select(col("label_a"), col("label_b"),
          sqrt(expr("aggregate(zip_with(ca, cb, (x, y) -> (x - y) * (x - y)), cast(0.0 as double), (acc, v) -> acc + v)"))
            .as("dist"))
        .orderBy(col("label_a"), col("label_b"))
    }, Some("""
      WITH v AS (SELECT label, embedding::DOUBLE[] AS vec FROM embeddings),
      s AS (
        SELECT label, vec,
          coalesce(list_max(list_transform(vec, x -> abs(x))), 0) / 127.0 AS scale
        FROM v),
      q AS (
        SELECT label, CASE WHEN scale = 0
          THEN list_transform(vec, x -> CAST(0 AS BIGINT))
          ELSE list_transform(vec, x -> CAST(round(x / scale) AS BIGINT)) END AS codes
        FROM s),
      e AS (
        SELECT label, i, codes[i] AS c
        FROM q CROSS JOIN (SELECT unnest(range(1, 65)) AS i) r),
      cent AS (
        SELECT CAST(label AS BIGINT) AS label, i,
          CAST(sum(c) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS centroid
        FROM e GROUP BY 1, 2),
      cv AS (SELECT label, list(centroid ORDER BY i) AS cvec FROM cent GROUP BY label)
      SELECT a.label AS label_a, b.label AS label_b,
        sqrt(list_sum(list_transform(range(1, 65),
          i -> (a.cvec[i] - b.cvec[i]) * (a.cvec[i] - b.cvec[i])))) AS dist
      FROM cv a JOIN cv b ON a.label < b.label
      ORDER BY label_a, label_b""")),


    // ANN recall audit (q160's sibling for the vector side): every
    // approximate index trades recall for probe cost, and this report is the
    // number that decides whether the trade is acceptable — per-query
    // recall@k of all three approximate methods (one-table sign-bucket LSH,
    // IVF/nprobe, and q175's multi-table multi-probe sign-LSH)
    // against the exact brute-force top-k. The exact side is computed once
    // on the (tiny) query set; the joins that score the methods touch only
    // |queries|·k rows, never the corpus. At 100 TB the brute-force side is
    // the expensive one — it runs over a fixed evaluation slice (here
    // vec_id < 10), which is exactly how production recall audits bound it.
    ("q164_ann_recall", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val qs = emb.where(col("vec_id") < 10)
      val bf = Similarity.bruteForceTopK(qs, emb, "vec_id", "vec_id", "embedding", 3)
        .select(col("q_id").as("bq"), col("n_id").as("bn"))
      val cents = emb.where(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("cid"), col("embedding"))
      val meth =
        Similarity.bucketedTopK(qs, emb, "vec_id", "vec_id", "embedding", 3)
          .select(lit("bucketed").as("method"), col("q_id").as("mq"), col("n_id").as("mn"))
        .unionByName(
          Similarity.ivfTopK(qs, emb, cents, "vec_id", "vec_id", "cid", "embedding",
              k = 3, nprobe = 2)
            .select(lit("ivf").as("method"), col("q_id").as("mq"), col("n_id").as("mn")))
        .unionByName(
          Similarity.multiProbeTopK(qs, emb, "vec_id", "vec_id", "embedding",
              k = 3, tables = 8, bits = 7, flips = 3)
            .select(lit("multiprobe").as("method"), col("q_id").as("mq"), col("n_id").as("mn")))
      val mm = meth.select(col("method").as("mthd")).distinct()
      bf.crossJoin(mm)
        .join(meth,
          col("mthd") === col("method") && col("bq") === col("mq") &&
            col("bn") === col("mn"),
          "left")
        .groupBy(col("mthd"), col("bq"))
        .agg(count(col("mn")).as("n_hit"))
        .select(col("mthd").as("method"), col("bq").as("q_id"), col("n_hit"),
          lit(3).as("k"),
          (col("n_hit").cast("double") / lit(3)).as("recall"))
        .orderBy(col("method"), col("q_id"))
    }, Some("""
      WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
      scored AS (
        SELECT q.vec_id AS q_id, c.vec_id AS n_id,
          list_sum(list_transform(range(1, least(len(q.vec), len(c.vec)) + 1), i -> q.vec[i] * c.vec[i])) /
            (sqrt(list_sum(list_transform(range(1, len(q.vec) + 1), i -> q.vec[i] * q.vec[i]))) *
             sqrt(list_sum(list_transform(range(1, len(c.vec) + 1), i -> c.vec[i] * c.vec[i])))) AS sim
        FROM v q CROSS JOIN v c WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
      bf AS (
        SELECT q_id, n_id FROM (
          SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank FROM scored) t
        WHERE rank <= 3),
      b AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
          CAST(list_sum(list_transform(range(0, 8), i ->
            CASE WHEN embedding[i + 1] > 0 THEN (1::BIGINT << i) ELSE 0::BIGINT END)) AS BIGINT) AS bucket
        FROM embeddings),
      ascored AS (
        SELECT q.vec_id AS q_id, c.vec_id AS n_id,
          list_sum(list_transform(range(1, least(len(q.v), len(c.v)) + 1), i -> q.v[i] * c.v[i])) /
            (sqrt(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * q.v[i]))) *
             sqrt(list_sum(list_transform(range(1, len(c.v) + 1), i -> c.v[i] * c.v[i])))) AS sim
        FROM b q JOIN b c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
        WHERE q.vec_id < 10),
      ann AS (
        SELECT q_id, n_id FROM (
          SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank FROM ascored) t
        WHERE rank <= 3),
      cent AS (SELECT vec_id AS cid, vec AS c_vec FROM v WHERE vec_id % 100 = 0),
      cosd AS (
        SELECT a.vec_id AS n_id, a.vec AS n_vec, c.cid,
          list_sum(list_transform(range(1, least(len(a.vec), len(c.c_vec)) + 1), i -> a.vec[i] * c.c_vec[i])) /
            (sqrt(list_sum(list_transform(range(1, len(a.vec) + 1), i -> a.vec[i] * a.vec[i]))) *
             sqrt(list_sum(list_transform(range(1, len(c.c_vec) + 1), i -> c.c_vec[i] * c.c_vec[i])))) AS c_sim
        FROM v a CROSS JOIN cent c),
      lists AS (
        SELECT n_id, n_vec, cid FROM (
          SELECT *, row_number() OVER (PARTITION BY n_id ORDER BY c_sim DESC, cid) AS rn
          FROM cosd) WHERE rn = 1),
      probes AS (
        SELECT n_id AS q_id, n_vec AS q_vec, cid FROM (
          SELECT *, row_number() OVER (PARTITION BY n_id ORDER BY c_sim DESC, cid) AS rn
          FROM cosd WHERE n_id < 10) WHERE rn <= 2),
      iscored AS (
        SELECT p.q_id, l.n_id,
          list_sum(list_transform(range(1, least(len(p.q_vec), len(l.n_vec)) + 1), i -> p.q_vec[i] * l.n_vec[i])) /
            (sqrt(list_sum(list_transform(range(1, len(p.q_vec) + 1), i -> p.q_vec[i] * p.q_vec[i]))) *
             sqrt(list_sum(list_transform(range(1, len(l.n_vec) + 1), i -> l.n_vec[i] * l.n_vec[i])))) AS sim
        FROM probes p JOIN lists l ON l.cid = p.cid AND l.n_id <> p.q_id),
      ivf AS (
        SELECT q_id, n_id FROM (
          SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank FROM iscored) t
        WHERE rank <= 3),
      mpb AS (
        SELECT tbl, vec_id, CAST(list_sum(list_transform(range(0, 7), bb ->
            CASE WHEN vec[tbl*7 + bb + 1] > 0 THEN (1::BIGINT << bb) ELSE 0::BIGINT END)) AS BIGINT) AS bucket
        FROM v CROSS JOIN (SELECT unnest(range(0, 8)) AS tbl)),
      mpp AS (
        SELECT q_id, tbl, unnest(probes) AS bucket FROM (
          SELECT vec_id AS q_id, tbl,
            [base,
             xor(base, sorted[1].k),
             xor(base, sorted[2].k),
             xor(xor(base, sorted[1].k), sorted[2].k),
             xor(base, sorted[3].k),
             xor(xor(base, sorted[1].k), sorted[3].k),
             xor(xor(base, sorted[2].k), sorted[3].k),
             xor(xor(xor(base, sorted[1].k), sorted[2].k), sorted[3].k)] AS probes
          FROM (
            SELECT vec_id, tbl,
              CAST(list_sum(list_transform(range(0, 7), bb ->
                CASE WHEN vec[tbl*7 + bb + 1] > 0 THEN (1::BIGINT << bb) ELSE 0::BIGINT END)) AS BIGINT) AS base,
              list_sort(list_transform(range(0, 7), bb ->
                {'m': abs(vec[tbl*7 + bb + 1]), 'b': bb, 'k': (1::BIGINT << bb)})) AS sorted
            FROM v CROSS JOIN (SELECT unnest(range(0, 8)) AS tbl)
            WHERE vec_id < 10))),
      mpcand AS (
        SELECT DISTINCT p.q_id, b.vec_id AS n_id
        FROM mpp p JOIN mpb b ON b.tbl = p.tbl AND b.bucket = p.bucket AND b.vec_id <> p.q_id),
      mpscored AS (
        SELECT c.q_id, c.n_id,
          list_sum(list_transform(range(1, least(len(q.vec), len(n.vec)) + 1), i -> q.vec[i] * n.vec[i])) /
            (sqrt(list_sum(list_transform(range(1, len(q.vec) + 1), i -> q.vec[i] * q.vec[i]))) *
             sqrt(list_sum(list_transform(range(1, len(n.vec) + 1), i -> n.vec[i] * n.vec[i])))) AS sim
        FROM mpcand c JOIN v q ON q.vec_id = c.q_id JOIN v n ON n.vec_id = c.n_id),
      mp AS (
        SELECT q_id, n_id FROM (
          SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank FROM mpscored) t
        WHERE rank <= 3),
      meth AS (
        SELECT 'bucketed' AS method, q_id, n_id FROM ann
        UNION ALL SELECT 'ivf', q_id, n_id FROM ivf
        UNION ALL SELECT 'multiprobe', q_id, n_id FROM mp)
      SELECT mm.method AS method, bf.q_id AS q_id, count(m.n_id) AS n_hit, 3 AS k,
        CAST(count(m.n_id) AS DOUBLE) / 3 AS recall
      FROM bf CROSS JOIN (SELECT DISTINCT method FROM meth) mm
      LEFT JOIN meth m ON m.method = mm.method AND m.q_id = bf.q_id AND m.n_id = bf.n_id
      GROUP BY 1, 2 ORDER BY method, q_id""")),


    // Multi-table multi-probe sign-LSH ANN — the round-4 verdict's fix for
    // q28's one-table recall collapse (q164 measured recall@3 ≈ 0.03 there).
    // 8 independent sign tables over disjoint 7-dim windows; per table the
    // query probes its bucket plus every subset-flip of the 3 lowest-|margin|
    // bits (Lv et al. multi-probe), so a true neighbor is recalled if ANY of
    // the 64 probed buckets holds it. q164 measures recall@3 ≈ 0.87 for this
    // method on the same data. Corpus side is a narrow 8-row explode into a
    // broadcast-probe equi-join — never all-pairs; candidates are deduped
    // before the bounded top-k.
    ("q175_ann_multiprobe", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.multiProbeTopK(
        emb.where(col("vec_id") < 10), emb, "vec_id", "vec_id", "embedding",
        k = 3, tables = 8, bits = 7, flips = 3)
        .orderBy(col("q_id"), col("rank"))
    }, Some("""
      WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      mpb AS (
        SELECT tbl, vec_id, CAST(list_sum(list_transform(range(0, 7), bb ->
            CASE WHEN v[tbl*7 + bb + 1] > 0 THEN (1::BIGINT << bb) ELSE 0::BIGINT END)) AS BIGINT) AS bucket
        FROM v CROSS JOIN (SELECT unnest(range(0, 8)) AS tbl)),
      mpp AS (
        SELECT q_id, tbl, unnest(probes) AS bucket FROM (
          SELECT vec_id AS q_id, tbl,
            [base,
             xor(base, sorted[1].k),
             xor(base, sorted[2].k),
             xor(xor(base, sorted[1].k), sorted[2].k),
             xor(base, sorted[3].k),
             xor(xor(base, sorted[1].k), sorted[3].k),
             xor(xor(base, sorted[2].k), sorted[3].k),
             xor(xor(xor(base, sorted[1].k), sorted[2].k), sorted[3].k)] AS probes
          FROM (
            SELECT vec_id, tbl,
              CAST(list_sum(list_transform(range(0, 7), bb ->
                CASE WHEN v[tbl*7 + bb + 1] > 0 THEN (1::BIGINT << bb) ELSE 0::BIGINT END)) AS BIGINT) AS base,
              list_sort(list_transform(range(0, 7), bb ->
                {'m': abs(v[tbl*7 + bb + 1]), 'b': bb, 'k': (1::BIGINT << bb)})) AS sorted
            FROM v CROSS JOIN (SELECT unnest(range(0, 8)) AS tbl)
            WHERE vec_id < 10))),
      mpcand AS (
        SELECT DISTINCT p.q_id, b.vec_id AS n_id
        FROM mpp p JOIN mpb b ON b.tbl = p.tbl AND b.bucket = p.bucket AND b.vec_id <> p.q_id),
      mpscored AS (
        SELECT c.q_id, c.n_id,
          list_sum(list_transform(range(1, least(len(q.v), len(n.v)) + 1), i -> q.v[i] * n.v[i])) /
            (sqrt(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * q.v[i]))) *
             sqrt(list_sum(list_transform(range(1, len(n.v) + 1), i -> n.v[i] * n.v[i])))) AS sim
        FROM mpcand c JOIN v q ON q.vec_id = c.q_id JOIN v n ON n.vec_id = c.n_id)
      SELECT q_id, rank, n_id, sim FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank
        FROM mpscored) t
      WHERE rank <= 3
      ORDER BY q_id, rank""")),


    // Product-quantization ANN (Jégou et al. ADC): corpus encoded to m=4
    // codes over 16-dim subspaces against a stride-sampled codebook (the
    // q35 injection discipline — a trained fitPqCodebooks codebook yields
    // the identical plan); queries score candidates via per-query LUT sums.
    // Every double on both sides comes from the same strict left-to-right
    // fold ((x−y)² partials, then sub 0..3), so the gate compares exactly.
    ("q190_pq_ann", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val cb = Similarity.pqCodebookByStride(emb, "vec_id", "embedding",
        m = 4, subDim = 16, stride = 50)
      Similarity.pqTopK(
        emb.where(col("vec_id") < 8), emb, cb,
        "vec_id", "vec_id", "embedding", k = 3, m = 4, subDim = 16)
        .orderBy(col("q_id"), col("rank"))
    }, Some("""
      WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
      subs AS (SELECT unnest(range(0, 4)) AS sub),
      cb AS (
        SELECT sub,
          CAST(row_number() OVER (PARTITION BY sub ORDER BY vec_id) - 1 AS BIGINT) AS cid,
          vec[sub*16 + 1 : sub*16 + 16] AS c_vec
        FROM v CROSS JOIN subs WHERE vec_id % 50 = 0),
      cd AS (
        SELECT c.vec_id AS n_id, b.sub, b.cid,
          list_sum(list_transform(range(1, 17), i ->
            (c.vec[b.sub*16 + i] - b.c_vec[i]) * (c.vec[b.sub*16 + i] - b.c_vec[i]))) AS d2
        FROM v c CROSS JOIN cb b),
      codes AS (
        SELECT n_id, list(cid ORDER BY sub) AS codes FROM (
          SELECT n_id, sub, cid,
            row_number() OVER (PARTITION BY n_id, sub ORDER BY d2, cid) AS rn
          FROM cd) WHERE rn = 1 GROUP BY n_id),
      ld AS (
        SELECT q.vec_id AS q_id, b.sub, b.cid,
          list_sum(list_transform(range(1, 17), i ->
            (q.vec[b.sub*16 + i] - b.c_vec[i]) * (q.vec[b.sub*16 + i] - b.c_vec[i]))) AS pd
        FROM v q CROSS JOIN cb b WHERE q.vec_id < 8),
      lut1 AS (SELECT q_id, sub, list(pd ORDER BY cid) AS lrow FROM ld GROUP BY q_id, sub),
      lut AS (SELECT q_id, list(lrow ORDER BY sub) AS lut FROM lut1 GROUP BY q_id),
      scored AS (
        SELECT l.q_id, c.n_id,
          list_sum(list_transform(range(0, 4), j -> l.lut[j+1][c.codes[j+1] + 1])) AS adist
        FROM lut l CROSS JOIN codes c WHERE c.n_id <> l.q_id),
      ranked AS (
        SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY adist, n_id) AS INT) AS rank
        FROM scored)
      SELECT q_id, rank, n_id, adist FROM ranked WHERE rank <= 3
      ORDER BY q_id, rank""")),


    // PQ recall audit (the q164 discipline, L2 metric on both sides so the
    // number isolates pure quantization loss): PQ/ADC top-3 vs the exact
    // squared-L2 top-3 on the same bounded query slice.
    ("q191_pq_recall", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val qs = emb.where(col("vec_id") < 8)
      val bf = Similarity.bruteForceTopKL2(qs, emb, "vec_id", "vec_id", "embedding", 3)
        .select(col("q_id").as("bq"), col("n_id").as("bn"))
      val cb = Similarity.pqCodebookByStride(emb, "vec_id", "embedding",
        m = 4, subDim = 16, stride = 50)
      val pq = Similarity.pqTopK(qs, emb, cb, "vec_id", "vec_id", "embedding",
          k = 3, m = 4, subDim = 16)
        .select(col("q_id").as("mq"), col("n_id").as("mn"))
      bf.join(pq, col("bq") === col("mq") && col("bn") === col("mn"), "left")
        .groupBy(col("bq"))
        .agg(count(col("mn")).as("n_hit"))
        .select(lit("pq").as("method"), col("bq").as("q_id"), col("n_hit"),
          lit(3).as("k"), (col("n_hit").cast("double") / lit(3)).as("recall"))
        .orderBy(col("q_id"))
    }, Some("""
      WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
      bscored AS (
        SELECT q.vec_id AS q_id, c.vec_id AS n_id,
          list_sum(list_transform(range(1, least(len(q.vec), len(c.vec)) + 1), i ->
            (q.vec[i] - c.vec[i]) * (q.vec[i] - c.vec[i]))) AS d2
        FROM v q CROSS JOIN v c WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id),
      bf AS (
        SELECT q_id, n_id FROM (
          SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY d2, n_id) AS rank
          FROM bscored) t WHERE rank <= 3),
      subs AS (SELECT unnest(range(0, 4)) AS sub),
      cb AS (
        SELECT sub,
          CAST(row_number() OVER (PARTITION BY sub ORDER BY vec_id) - 1 AS BIGINT) AS cid,
          vec[sub*16 + 1 : sub*16 + 16] AS c_vec
        FROM v CROSS JOIN subs WHERE vec_id % 50 = 0),
      cd AS (
        SELECT c.vec_id AS n_id, b.sub, b.cid,
          list_sum(list_transform(range(1, 17), i ->
            (c.vec[b.sub*16 + i] - b.c_vec[i]) * (c.vec[b.sub*16 + i] - b.c_vec[i]))) AS d2
        FROM v c CROSS JOIN cb b),
      codes AS (
        SELECT n_id, list(cid ORDER BY sub) AS codes FROM (
          SELECT n_id, sub, cid,
            row_number() OVER (PARTITION BY n_id, sub ORDER BY d2, cid) AS rn
          FROM cd) WHERE rn = 1 GROUP BY n_id),
      ld AS (
        SELECT q.vec_id AS q_id, b.sub, b.cid,
          list_sum(list_transform(range(1, 17), i ->
            (q.vec[b.sub*16 + i] - b.c_vec[i]) * (q.vec[b.sub*16 + i] - b.c_vec[i]))) AS pd
        FROM v q CROSS JOIN cb b WHERE q.vec_id < 8),
      lut1 AS (SELECT q_id, sub, list(pd ORDER BY cid) AS lrow FROM ld GROUP BY q_id, sub),
      lut AS (SELECT q_id, list(lrow ORDER BY sub) AS lut FROM lut1 GROUP BY q_id),
      ascored AS (
        SELECT l.q_id, c.n_id,
          list_sum(list_transform(range(0, 4), j -> l.lut[j+1][c.codes[j+1] + 1])) AS adist
        FROM lut l CROSS JOIN codes c WHERE c.n_id <> l.q_id),
      pq AS (
        SELECT q_id, n_id FROM (
          SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adist, n_id) AS rank
          FROM ascored) t WHERE rank <= 3)
      SELECT 'pq' AS method, bf.q_id, COUNT(pq.n_id) AS n_hit, 3 AS k,
             CAST(COUNT(pq.n_id) AS DOUBLE) / 3 AS recall
      FROM bf LEFT JOIN pq ON pq.q_id = bf.q_id AND pq.n_id = bf.n_id
      GROUP BY bf.q_id ORDER BY bf.q_id""")),


    // IVF-PQ: coarse lists prune candidates (nprobe=2 of the stride-100
    // centroids, L2 metric), PQ/ADC scores only the probed lists — the
    // prune × compress composition that is the production 100 TB ANN shape.
    ("q192_ivfpq_ann", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val cent = emb.where(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("cid"), col("embedding"))
      val cb = Similarity.pqCodebookByStride(emb, "vec_id", "embedding",
        m = 4, subDim = 16, stride = 50)
      Similarity.ivfPqTopK(
        emb.where(col("vec_id") < 8), emb, cent, cb,
        "vec_id", "vec_id", "cid", "embedding",
        k = 3, m = 4, subDim = 16, nprobe = 2)
        .orderBy(col("q_id"), col("rank"))
    }, Some("""
      WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
      cent AS (SELECT vec_id AS lcid, vec AS l_vec FROM v WHERE vec_id % 100 = 0),
      ldist AS (
        SELECT a.vec_id AS n_id, c.lcid,
          list_sum(list_transform(range(1, least(len(a.vec), len(c.l_vec)) + 1), i ->
            (a.vec[i] - c.l_vec[i]) * (a.vec[i] - c.l_vec[i]))) AS d
        FROM v a CROSS JOIN cent c),
      lists AS (
        SELECT n_id, lcid FROM (
          SELECT *, row_number() OVER (PARTITION BY n_id ORDER BY d, lcid) AS rn
          FROM ldist) WHERE rn = 1),
      probes AS (
        SELECT n_id AS q_id, lcid FROM (
          SELECT *, row_number() OVER (PARTITION BY n_id ORDER BY d, lcid) AS rn
          FROM ldist WHERE n_id < 8) WHERE rn <= 2),
      subs AS (SELECT unnest(range(0, 4)) AS sub),
      cb AS (
        SELECT sub,
          CAST(row_number() OVER (PARTITION BY sub ORDER BY vec_id) - 1 AS BIGINT) AS cid,
          vec[sub*16 + 1 : sub*16 + 16] AS c_vec
        FROM v CROSS JOIN subs WHERE vec_id % 50 = 0),
      cd AS (
        SELECT c.vec_id AS n_id, b.sub, b.cid,
          list_sum(list_transform(range(1, 17), i ->
            (c.vec[b.sub*16 + i] - b.c_vec[i]) * (c.vec[b.sub*16 + i] - b.c_vec[i]))) AS d2
        FROM v c CROSS JOIN cb b),
      codes AS (
        SELECT n_id, list(cid ORDER BY sub) AS codes FROM (
          SELECT n_id, sub, cid,
            row_number() OVER (PARTITION BY n_id, sub ORDER BY d2, cid) AS rn
          FROM cd) WHERE rn = 1 GROUP BY n_id),
      ld AS (
        SELECT q.vec_id AS q_id, b.sub, b.cid,
          list_sum(list_transform(range(1, 17), i ->
            (q.vec[b.sub*16 + i] - b.c_vec[i]) * (q.vec[b.sub*16 + i] - b.c_vec[i]))) AS pd
        FROM v q CROSS JOIN cb b WHERE q.vec_id < 8),
      lut1 AS (SELECT q_id, sub, list(pd ORDER BY cid) AS lrow FROM ld GROUP BY q_id, sub),
      lut AS (SELECT q_id, list(lrow ORDER BY sub) AS lut FROM lut1 GROUP BY q_id),
      scored AS (
        SELECT l.q_id, x.n_id,
          list_sum(list_transform(range(0, 4), j -> l.lut[j+1][x.codes[j+1] + 1])) AS adist
        FROM probes p
        JOIN lut l ON l.q_id = p.q_id
        JOIN lists li ON li.lcid = p.lcid
        JOIN codes x ON x.n_id = li.n_id
        WHERE x.n_id <> l.q_id),
      ranked AS (
        SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY adist, n_id) AS INT) AS rank
        FROM scored)
      SELECT q_id, rank, n_id, adist FROM ranked WHERE rank <= 3
      ORDER BY q_id, rank""")),


    // Project-then-rerank retrieval: coarse top-32 in a 16-d deterministic
    // signed-random-projection (Johnson–Lindenstrauss) space, exact cosine
    // rerank to top-3 — stage 1 scores the corpus at a quarter of the
    // FLOPs/state bytes, stage 2 pays exact math on 32 candidates only.
    // Fully deterministic (hash-derived ±1 hyperplanes, strict
    // left-to-right folds), so the WHOLE two-stage result is hash-gated —
    // not just a recall bound.
    ("q195_srp_rerank", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.srpRerankTopK(
        emb.where(col("vec_id") < 8), emb, "vec_id", "vec_id", "embedding",
        k = 3, m = 32, dim = 64, outDims = 16)
        .orderBy(col("q_id"), col("rank"))
    }, Some("""
      WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
      signs AS (
        SELECT r, list(CASE WHEN ('0x' || substr(md5(j::VARCHAR || ':' || r::VARCHAR), 1, 12))::BIGINT % 2 = 1
                       THEN 1.0 ELSE -1.0 END ORDER BY j) AS srow
        FROM range(0, 16) t(r) CROSS JOIN range(0, 64) u(j) GROUP BY r),
      proj AS (
        SELECT vec_id, list(p ORDER BY r) AS pvec FROM (
          SELECT v.vec_id, s.r,
            list_sum(list_transform(range(1, 65), j -> v.vec[j] * s.srow[j])) AS p
          FROM v CROSS JOIN signs s) GROUP BY vec_id),
      coarse AS (
        SELECT q.vec_id AS q_id, c.vec_id AS n_id,
          list_sum(list_transform(range(1, 17), i ->
            (q.pvec[i] - c.pvec[i]) * (q.pvec[i] - c.pvec[i]))) AS d2
        FROM proj q JOIN proj c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < 8),
      cands AS (
        SELECT q_id, n_id FROM (
          SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY d2, n_id) AS rn
          FROM coarse) WHERE rn <= 32),
      exact AS (
        SELECT x.q_id, x.n_id,
          list_sum(list_transform(range(1, least(len(q.vec), len(n.vec)) + 1), i -> q.vec[i] * n.vec[i])) /
            (sqrt(list_sum(list_transform(range(1, len(q.vec) + 1), i -> q.vec[i] * q.vec[i]))) *
             sqrt(list_sum(list_transform(range(1, len(n.vec) + 1), i -> n.vec[i] * n.vec[i])))) AS sim
        FROM cands x JOIN v q ON q.vec_id = x.q_id JOIN v n ON n.vec_id = x.n_id),
      ranked AS (
        SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS INT) AS rank
        FROM exact)
      SELECT q_id, rank, n_id, sim FROM ranked WHERE rank <= 3
      ORDER BY q_id, rank""")),


    // Hard-negative mining for contrastive training: per query vector, the
    // top-3 most-similar corpus vectors with a DIFFERENT label — one corpus
    // scan against broadcast queries, label predicate below the scoring,
    // bounded top-k reduction; the k survivors broadcast back for the
    // negative's label (the corpus is never broadcast or collected).
    ("q196_hard_negatives", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.hardNegativesTopK(
        emb.where(col("vec_id") < 8), emb, "vec_id", "vec_id", "embedding",
        "label", k = 3)
        .orderBy(col("q_id"), col("rank"))
    }, Some("""
      WITH q AS (SELECT vec_id AS q_id, label AS q_label, embedding::DOUBLE[] AS qv
                 FROM embeddings WHERE vec_id < 8),
      c AS (SELECT vec_id AS n_id, label AS n_label, embedding::DOUBLE[] AS nv
            FROM embeddings),
      scored AS (
        SELECT q_id, q_label, n_id, n_label,
          list_sum(list_transform(range(1, least(len(qv), len(nv)) + 1), i -> qv[i] * nv[i])) /
            (sqrt(list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * qv[i]))) *
             sqrt(list_sum(list_transform(range(1, len(nv) + 1), i -> nv[i] * nv[i])))) AS sim
        FROM q CROSS JOIN c
        WHERE n_id <> q_id AND n_label IS DISTINCT FROM q_label),
      ranked AS (
        SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS INT) AS rank
        FROM scored)
      SELECT q_id, q_label, rank, n_id, n_label, sim FROM ranked WHERE rank <= 3
      ORDER BY q_id, rank""")),


    // Incremental ANN-index maintenance — the vector sibling of q176
    // (minhash signature store) and q181 (segment-owner store): the PQ code
    // table is the persisted index artifact; a new snapshot encodes ONLY
    // the new vectors (vec_id % 7 = 0) against the codebook FROZEN on the
    // base snapshot and unions the stored codes, so the base corpus is
    // never re-encoded. The oracle computes every code from scratch against
    // the same frozen codebook — store + increment must equal it exactly.
    ("q197_pq_code_increment", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val base = emb.where(col("vec_id") % 7 =!= 0)
      val incr = emb.where(col("vec_id") % 7 === 0)
      val cb = Similarity.pqCodebookByStride(base, "vec_id", "embedding",
        m = 4, subDim = 16, stride = 50)
      // snapshot 1 — the base corpus encoded once, persisted — is staged
      // per JVM: the stored code table PRE-EXISTING is the scenario under
      // test (that is what "incremental maintenance" means); only the
      // increment pays encoding per execution.
      val tmp = graft.util.Staging.dir("q197_pqstore", dir) { p =>
        Similarity.pqEncode(base, cb, "vec_id", "embedding", m = 4, subDim = 16)
          .write.mode("overwrite").parquet(s"$p/codes")
      }
      // snapshot 2: stored codes reload; only the increment pays encoding
      val stored = readFixture(s, s"$tmp/codes")
        .select(col("vec_id"), col("codes"), lit("stored").as("src"))
      val fresh = Similarity
        .pqEncode(incr, cb, "vec_id", "embedding", m = 4, subDim = 16)
        .select(col("vec_id"), col("codes"), lit("fresh").as("src"))
      stored.unionByName(fresh)
        .select(col("vec_id"), col("src"),
          posexplode(col("codes")).as(Seq("sub", "cid")))
        .select(col("vec_id"), col("sub").cast("int").as("sub"),
          col("cid"), col("src"))
        .orderBy(col("vec_id"), col("sub"))
    }, Some("""
      WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
      subs AS (SELECT unnest(range(0, 4)) AS sub),
      cb AS (
        SELECT sub,
          CAST(row_number() OVER (PARTITION BY sub ORDER BY vec_id) - 1 AS BIGINT) AS cid,
          vec[sub*16 + 1 : sub*16 + 16] AS c_vec
        FROM v CROSS JOIN subs WHERE vec_id % 50 = 0 AND vec_id % 7 <> 0),
      cd AS (
        SELECT c.vec_id, b.sub, b.cid,
          list_sum(list_transform(range(1, 17), i ->
            (c.vec[b.sub*16 + i] - b.c_vec[i]) * (c.vec[b.sub*16 + i] - b.c_vec[i]))) AS d2
        FROM v c CROSS JOIN cb b),
      codes AS (
        SELECT vec_id, sub, cid FROM (
          SELECT vec_id, sub, cid,
            row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cid) AS rn
          FROM cd) WHERE rn = 1)
      SELECT vec_id, CAST(sub AS INT) AS sub, cid,
        CASE WHEN vec_id % 7 = 0 THEN 'fresh' ELSE 'stored' END AS src
      FROM codes ORDER BY vec_id, sub""")),


    // Contrastive triplet mining — q196's completion: per anchor, the
    // nearest SAME-label positive and the hardest CROSS-label negative in
    // one row, with the margin that decides whether the triplet is worth
    // training on. Two bounded corpus scans (one per label constraint),
    // then a join of two 8-row frames.
    ("q198_triplet_mining", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val qs = emb.where(col("vec_id") < 8)
      val pos = Similarity.nearestSameLabelTopK(
          qs, emb, "vec_id", "vec_id", "embedding", "label", k = 1)
        .select(col("q_id").as("anchor"), col("q_label").as("a_label"),
          col("n_id").as("pos_id"), col("sim").as("pos_sim"))
      val neg = Similarity.hardNegativesTopK(
          qs, emb, "vec_id", "vec_id", "embedding", "label", k = 1)
        .select(col("q_id").as("anchor"),
          col("n_id").as("neg_id"), col("sim").as("neg_sim"))
      pos.join(neg, Seq("anchor"))
        .select(col("anchor"), col("a_label"), col("pos_id"), col("pos_sim"),
          col("neg_id"), col("neg_sim"),
          (col("pos_sim") - col("neg_sim")).as("margin"))
        .orderBy(col("anchor"))
    }, Some("""
      WITH q AS (SELECT vec_id AS q_id, label AS q_label, embedding::DOUBLE[] AS qv
                 FROM embeddings WHERE vec_id < 8),
      c AS (SELECT vec_id AS n_id, label AS n_label, embedding::DOUBLE[] AS nv
            FROM embeddings),
      scored AS (
        SELECT q_id, q_label, n_id, n_label,
          list_sum(list_transform(range(1, least(len(qv), len(nv)) + 1), i -> qv[i] * nv[i])) /
            (sqrt(list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * qv[i]))) *
             sqrt(list_sum(list_transform(range(1, len(nv) + 1), i -> nv[i] * nv[i])))) AS sim
        FROM q CROSS JOIN c WHERE n_id <> q_id),
      pos AS (
        SELECT q_id, q_label, n_id AS pos_id, sim AS pos_sim FROM (
          SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rn
          FROM scored WHERE n_label IS NOT DISTINCT FROM q_label) WHERE rn = 1),
      neg AS (
        SELECT q_id, n_id AS neg_id, sim AS neg_sim FROM (
          SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rn
          FROM scored WHERE n_label IS DISTINCT FROM q_label) WHERE rn = 1)
      SELECT p.q_id AS anchor, p.q_label AS a_label, p.pos_id, p.pos_sim,
             n.neg_id, n.neg_sim, p.pos_sim - n.neg_sim AS margin
      FROM pos p JOIN neg n USING (q_id)
      ORDER BY anchor""")),


    // Embedding-space drift audit between two corpus snapshots (vec_id
    // parity split): per-dimension exact quantized sums + mean shift — the
    // model-input monitor that catches a silently shifted feature
    // distribution. Quantization (floor(x·1000) BIGINT) keeps the sums
    // exact and engine-independent; one narrow explode + one 64-key agg.
    ("q201_embedding_drift", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      ext.LinAlg.perDimDrift(
          emb.where(col("vec_id") % 2 === 0),
          emb.where(col("vec_id") % 2 =!= 0),
          "embedding", scale = 1000)
        .orderBy(col("dim"))
    }, Some(perDimDriftOracle)),


    // Residual IVF-PQ (the FULL Jégou et al. IVFADC — closes q192's one
    // documented gap): PQ codes quantize the residual x − c(list(x)), the
    // codebook is stride-sampled over RESIDUALS, and the per-(query, probe)
    // ADC LUTs score each probed list against the query's residual to THAT
    // list's centroid. The oracle replays the whole residual chain —
    // assignment, residual subtraction, residual codebook, codes, per-probe
    // LUTs, ADC sum — so the gate is bit-exact (the q190/q192 discipline).
    ("q212_ivfpq_residual", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val cent = emb.where(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("cid"), col("embedding"))
      // codebook training is offline index-build work: stride-sample the
      // residual frame (every 50th id's residual slices become centroids)
      val cbRes = Similarity.pqCodebookByStride(
        Similarity.residuals(emb, cent, "vec_id", "cid", "embedding"),
        "vec_id", "res", m = 4, subDim = 16, stride = 50)
      Similarity.ivfPqResidualTopK(
        emb.where(col("vec_id") < 8), emb, cent, cbRes,
        "vec_id", "vec_id", "cid", "embedding",
        k = 3, m = 4, subDim = 16, nprobe = 2)
        .orderBy(col("q_id"), col("rank"))
    }, Some(ivfAdcFullOracle)),


    // Residual-vs-no-residual audit (q164's methodology, head to head at
    // EQUAL nprobe/m/subDim/k): exact L2 top-3 over 16 queries is ground
    // truth; both IVF-PQ forms run with their matching stride-10 codebooks
    // (raw vectors vs residuals) at m=16×4 — the fine-grained PQ geometry
    // that actually ranks on this corpus — and ONE row carries both
    // recalls, the ≥ verdict, and both corpus quantization errors
    // (Similarity.pqQuantizationError — exact nano-unit BIGINT sums).
    // HONESTY NOTE (read with the recall columns): the fixture embeddings
    // are unit-norm ISOTROPIC, so any coarse centroid is near-orthogonal
    // to the data (E‖x−c‖² ≈ 2 > E‖x‖² = 1) and residual subtraction
    // INFLATES the vectors it encodes — the measured quant_mse_res >
    // quant_mse_nores shows exactly that, and recall parity/small-margin
    // wins are all this regime allows. On a clustered production corpus
    // (the regime IVFADC targets) the energy inequality reverses and the
    // residual form wins outright; the gate pins that BOTH forms are
    // computed exactly and the audit measures them honestly.
    ("q213_ivfpq_residual_recall", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val qs = emb.where(col("vec_id") < 16)
      val cent = emb.where(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("cid"), col("embedding"))
      // NOT pinned (measured, r16): one action — AQE stage reuse already
      // dedupes the repeated codebook/residual subtrees at runtime; eager
      // pins ran this audit 1.46× SLOWER (q287's finding). NEW (r17):
      // each arm's ENCODE and its QUANTIZATION-ERROR audit branch off ONE
      // shared per-(id, sub) aggregation (pqEncodeAndError) — run as two
      // separate functions their partial aggregates differed below the
      // exchange, so stage reuse could not dedupe them and the
      // |corpus|·m·ksub distance frame was computed twice per arm.
      val cbRaw = Similarity.pqCodebookByStride(emb, "vec_id", "embedding",
        m = 16, subDim = 4, stride = 10)
      val residFrame = Similarity.residuals(emb, cent, "vec_id", "cid", "embedding")
      val cbRes = Similarity.pqCodebookByStride(residFrame,
        "vec_id", "res", m = 16, subDim = 4, stride = 10)
      val bf = Similarity.bruteForceTopKL2(qs, emb, "vec_id", "vec_id", "embedding", 3)
        .select(col("q_id").as("bq"), col("n_id").as("bn"))
      val (codesRaw, qeNShared) = Similarity.pqEncodeAndError(emb, cbRaw,
        "vec_id", "embedding", m = 16, subDim = 4)
      val nores = Similarity.ivfPqTopKWithCodes(qs, emb, cent,
          codesRaw.select(col("vec_id").as("n_id"), col("codes")), cbRaw,
          "vec_id", "vec_id", "cid", "embedding", k = 3, m = 16, subDim = 4, nprobe = 5)
        .select(col("q_id").as("mq"), col("n_id").as("mn"))
      val (residIdx, qeRShared) = Similarity.residualIndexAndError(emb, cent,
        cbRes, "vec_id", "cid", "embedding", m = 16, subDim = 4)
      val resid = Similarity.ivfPqResidualStoredTopK(qs, residIdx, cent, cbRes,
          "vec_id", "cid", "embedding", k = 3, m = 16, subDim = 4, nprobe = 5)
        .select(col("q_id").as("rq"), col("n_id").as("rn"))
      val hitsN = bf.join(nores, col("bq") === col("mq") && col("bn") === col("mn"))
        .agg(count(lit(1)).as("hits_nores"))
      val hitsR = bf.join(resid, col("bq") === col("rq") && col("bn") === col("rn"))
        .agg(count(lit(1)).as("hits_res"))
      val qeN = qeNShared
        .select(col("err_nano_total").as("err_nano_nores"),
          col("quant_mse").as("quant_mse_nores"))
      val qeR = qeRShared
        .select(col("err_nano_total").as("err_nano_res"),
          col("quant_mse").as("quant_mse_res"))
      hitsN.crossJoin(hitsR).crossJoin(qeN).crossJoin(qeR)
        .select(lit(16L).as("n_queries"), lit(3L).as("k"), lit(5L).as("nprobe"),
          col("hits_nores"), col("hits_res"),
          (col("hits_nores").cast("double") / lit(48.0)).as("recall_nores"),
          (col("hits_res").cast("double") / lit(48.0)).as("recall_res"),
          (col("hits_res") >= col("hits_nores")).as("res_recall_ge"),
          col("err_nano_nores"), col("err_nano_res"),
          col("quant_mse_nores"), col("quant_mse_res"))
    }, Some("""
      WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
      bscored AS (
        SELECT q.vec_id AS q_id, c.vec_id AS n_id,
          list_sum(list_transform(range(1, least(len(q.vec), len(c.vec)) + 1), i ->
            (q.vec[i] - c.vec[i]) * (q.vec[i] - c.vec[i]))) AS d2
        FROM v q CROSS JOIN v c WHERE q.vec_id < 16 AND c.vec_id <> q.vec_id),
      bf AS (
        SELECT q_id, n_id FROM (
          SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY d2, n_id) AS rank
          FROM bscored) t WHERE rank <= 3),
      cent AS (SELECT vec_id AS lcid, vec AS l_vec FROM v WHERE vec_id % 100 = 0),
      ldist AS (
        SELECT a.vec_id AS n_id, c.lcid,
          list_sum(list_transform(range(1, least(len(a.vec), len(c.l_vec)) + 1), i ->
            (a.vec[i] - c.l_vec[i]) * (a.vec[i] - c.l_vec[i]))) AS d
        FROM v a CROSS JOIN cent c),
      assign AS (
        SELECT n_id, lcid FROM (
          SELECT *, row_number() OVER (PARTITION BY n_id ORDER BY d, lcid) AS rn
          FROM ldist) WHERE rn = 1),
      probes AS (
        SELECT n_id AS q_id, lcid FROM (
          SELECT *, row_number() OVER (PARTITION BY n_id ORDER BY d, lcid) AS rn
          FROM ldist WHERE n_id < 16) WHERE rn <= 5),
      subs AS (SELECT unnest(range(0, 16)) AS sub),
      cbraw AS (
        SELECT sub,
          CAST(row_number() OVER (PARTITION BY sub ORDER BY vec_id) - 1 AS BIGINT) AS cid,
          vec[sub*4 + 1 : sub*4 + 4] AS c_vec
        FROM v CROSS JOIN subs WHERE vec_id % 10 = 0),
      cdraw AS (
        SELECT c.vec_id AS n_id, b.sub, b.cid,
          list_sum(list_transform(range(1, 5), i ->
            (c.vec[b.sub*4 + i] - b.c_vec[i]) * (c.vec[b.sub*4 + i] - b.c_vec[i]))) AS d2
        FROM v c CROSS JOIN cbraw b),
      codesraw AS (
        SELECT n_id, list(cid ORDER BY sub) AS codes FROM (
          SELECT n_id, sub, cid,
            row_number() OVER (PARTITION BY n_id, sub ORDER BY d2, cid) AS rn
          FROM cdraw) WHERE rn = 1 GROUP BY n_id),
      qeraw AS (
        SELECT count(DISTINCT n_id) AS n, CAST(sum(CAST(floor(mind2 * 1000000000) AS BIGINT)) AS BIGINT) AS e
        FROM (SELECT n_id, sub, min(d2) AS mind2 FROM cdraw GROUP BY 1, 2)),
      ldraw AS (
        SELECT q.vec_id AS q_id, b.sub, b.cid,
          list_sum(list_transform(range(1, 5), i ->
            (q.vec[b.sub*4 + i] - b.c_vec[i]) * (q.vec[b.sub*4 + i] - b.c_vec[i]))) AS pd
        FROM v q CROSS JOIN cbraw b WHERE q.vec_id < 16),
      lutraw1 AS (SELECT q_id, sub, list(pd ORDER BY cid) AS lrow FROM ldraw GROUP BY q_id, sub),
      lutraw AS (SELECT q_id, list(lrow ORDER BY sub) AS lut FROM lutraw1 GROUP BY q_id),
      snores AS (
        SELECT l.q_id, a.n_id,
          list_sum(list_transform(range(0, 16), j -> l.lut[j+1][x.codes[j+1] + 1])) AS adist
        FROM probes p
        JOIN lutraw l ON l.q_id = p.q_id
        JOIN assign a ON a.lcid = p.lcid
        JOIN codesraw x ON x.n_id = a.n_id
        WHERE a.n_id <> l.q_id),
      nores AS (
        SELECT q_id, n_id FROM (
          SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adist, n_id) AS rank
          FROM snores) WHERE rank <= 3),
      resid AS (
        SELECT a.n_id, a.lcid,
          list_transform(range(1, least(len(x.vec), len(c.l_vec)) + 1),
            i -> x.vec[i] - c.l_vec[i]) AS rv
        FROM assign a JOIN v x ON x.vec_id = a.n_id JOIN cent c ON c.lcid = a.lcid),
      cbres AS (
        SELECT sub,
          CAST(row_number() OVER (PARTITION BY sub ORDER BY n_id) - 1 AS BIGINT) AS cid,
          rv[sub*4 + 1 : sub*4 + 4] AS c_vec
        FROM resid CROSS JOIN subs WHERE n_id % 10 = 0),
      cdres AS (
        SELECT r.n_id, b.sub, b.cid,
          list_sum(list_transform(range(1, 5), i ->
            (r.rv[b.sub*4 + i] - b.c_vec[i]) * (r.rv[b.sub*4 + i] - b.c_vec[i]))) AS d2
        FROM resid r CROSS JOIN cbres b),
      codesres AS (
        SELECT n_id, list(cid ORDER BY sub) AS codes FROM (
          SELECT n_id, sub, cid,
            row_number() OVER (PARTITION BY n_id, sub ORDER BY d2, cid) AS rn
          FROM cdres) WHERE rn = 1 GROUP BY n_id),
      qeres AS (
        SELECT count(DISTINCT n_id) AS n, CAST(sum(CAST(floor(mind2 * 1000000000) AS BIGINT)) AS BIGINT) AS e
        FROM (SELECT n_id, sub, min(d2) AS mind2 FROM cdres GROUP BY 1, 2)),
      qres AS (
        SELECT p.q_id, p.lcid,
          list_transform(range(1, least(len(q.vec), len(c.l_vec)) + 1),
            i -> q.vec[i] - c.l_vec[i]) AS rv
        FROM probes p JOIN v q ON q.vec_id = p.q_id JOIN cent c ON c.lcid = p.lcid),
      ldres AS (
        SELECT r.q_id, r.lcid, b.sub, b.cid,
          list_sum(list_transform(range(1, 5), i ->
            (r.rv[b.sub*4 + i] - b.c_vec[i]) * (r.rv[b.sub*4 + i] - b.c_vec[i]))) AS pd
        FROM qres r CROSS JOIN cbres b),
      lutres1 AS (SELECT q_id, lcid, sub, list(pd ORDER BY cid) AS lrow
                  FROM ldres GROUP BY q_id, lcid, sub),
      lutres AS (SELECT q_id, lcid, list(lrow ORDER BY sub) AS lut
                 FROM lutres1 GROUP BY q_id, lcid),
      sres AS (
        SELECT l.q_id, a.n_id,
          list_sum(list_transform(range(0, 16), j -> l.lut[j+1][x.codes[j+1] + 1])) AS adist
        FROM lutres l
        JOIN assign a ON a.lcid = l.lcid
        JOIN codesres x ON x.n_id = a.n_id
        WHERE a.n_id <> l.q_id),
      resk AS (
        SELECT q_id, n_id FROM (
          SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adist, n_id) AS rank
          FROM sres) WHERE rank <= 3),
      hn AS (SELECT count(*) AS hits_nores FROM bf JOIN nores n
             ON n.q_id = bf.q_id AND n.n_id = bf.n_id),
      hr AS (SELECT count(*) AS hits_res FROM bf JOIN resk r
             ON r.q_id = bf.q_id AND r.n_id = bf.n_id)
      SELECT CAST(16 AS BIGINT) AS n_queries, CAST(3 AS BIGINT) AS k,
        CAST(5 AS BIGINT) AS nprobe,
        hn.hits_nores, hr.hits_res,
        hn.hits_nores::DOUBLE / 48 AS recall_nores,
        hr.hits_res::DOUBLE / 48 AS recall_res,
        hr.hits_res >= hn.hits_nores AS res_recall_ge,
        qeraw.e AS err_nano_nores, qeres.e AS err_nano_res,
        qeraw.e::DOUBLE / 1000000000 / qeraw.n AS quant_mse_nores,
        qeres.e::DOUBLE / 1000000000 / qeres.n AS quant_mse_res
      FROM hn CROSS JOIN hr CROSS JOIN qeraw CROSS JOIN qeres""")),


    // k-means (Lloyd) on exact integer arithmetic — the reproducible twin
    // of the FP fitCentroids: fixed-point grid (floor is engine-exact,
    // the +1024 shift keeps every coordinate and centroid sum
    // non-negative so floored and truncating division agree), exact
    // squared-L2 argmin with deterministic ties, elementwise floored
    // means. THREE full rounds replayed by the oracle UNROLLED; the gate
    // output is the final assignment + distance, which witnesses every
    // round (a wrong centroid anywhere changes some dist). Per round: one
    // broadcast-k argmin, one (cid, dim) aggregation (k·64 exchange rows).
    ("q229_kmeans_int", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val inits = emb.where(col("vec_id") % 100 === 0)
        .select(col("vec_id")).collect().map(_.getLong(0)).toSeq
      ext.Similarity.lloydInt(emb, "vec_id", "embedding", inits, iters = 3)
        .orderBy(col("vec_id"))
    }, Some(kmeansIntOracle)),


    // q229's assignment computed ON THE STREAM — the inference shape:
    // the k-means model is trained offline (lloydIntCentroids, the same
    // 3 exact rounds), its k·64 grid longs ship as LITERALS, and the
    // stream assignment is a pure per-row argmin (least over (dist, cid)
    // structs — no join, no aggregation, no state). Gated on q229's
    // oracle VERBATIM; spec law pins inference ≡ batch assignment.
    ("q231_stream_kmeans_assign", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val inits = emb.where(col("vec_id") % 100 === 0)
        .select(col("vec_id")).collect().map(_.getLong(0)).toSeq
      val model = ext.Similarity.lloydIntCentroids(
          emb, "vec_id", "embedding", inits, iters = 3)
        .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSeq)).toSeq
      val tmp = graft.util.Staging.dir("q231_emb", dir) { p =>
        emb.select(col("vec_id"), col("embedding"))
          .repartition(8).write.mode("overwrite").parquet(s"$p/stream")
      }
      val stream = s.readStream
        .schema("vec_id LONG, embedding ARRAY<FLOAT>").parquet(s"$tmp/stream")
      memorySinkRows(s,
          ext.Similarity.assignToCentroids(stream, "vec_id", "embedding", model),
          "graft_stream_kmeans", "append")
        .orderBy(col("vec_id"))
    }, Some(kmeansIntOracle)),


    // The residual-IVFADC index as a STORED deployment artifact (q197's
    // stored-index discipline for the q212 production form): centroids,
    // residual codebooks, and the encoded base index (vec_id % 7 != 0 —
    // coarse list + residual PQ codes, m+2 small values per vector, the
    // vectors themselves never stored) persist as parquet ONCE per JVM;
    // the consumer reloads the frozen model, encodes ONLY the increment
    // (vec_id % 7 == 0) against it, unions the index rows, and serves
    // queries — and must reproduce q212's from-scratch oracle VERBATIM,
    // because nothing in an index row depends on corpus membership.
    ("q237_ivfpq_residual_store", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val tmp = graft.util.Staging.dir("q237_ivfpq_store", dir) { p =>
        val cent = emb.where(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("cid"), col("embedding"))
        val cbRes = Similarity.pqCodebookByStride(
          Similarity.residuals(emb, cent, "vec_id", "cid", "embedding"),
          "vec_id", "res", m = 4, subDim = 16, stride = 50)
        cent.write.mode("overwrite").parquet(s"$p/centroids")
        cbRes.write.mode("overwrite").parquet(s"$p/codebooks")
        Similarity.residualIndex(emb.where(col("vec_id") % 7 =!= 0),
            cent, cbRes, "vec_id", "cid", "embedding", m = 4, subDim = 16)
          .write.mode("overwrite").parquet(s"$p/index")
      }
      val cent = readFixture(s, s"$tmp/centroids")
      val cb = readFixture(s, s"$tmp/codebooks")
      val stored = readFixture(s, s"$tmp/index")
      val incr = Similarity.residualIndex(emb.where(col("vec_id") % 7 === 0),
        cent, cb, "vec_id", "cid", "embedding", m = 4, subDim = 16)
      ivfAdcGateServe(emb, stored.unionByName(incr), cent, cb)
    }, Some(ivfAdcFullOracle)),


    // The ANN index LIFECYCLE — the operational loop a production vector
    // store runs, composed from the individually-gated pieces and
    // oracle-replayed end to end: an increment arrives DRIFTED (every
    // element x → 0.75·x + 0.1 — elementwise IEEE ops, exact in both
    // engines); q201's drift audit detects it (exact quantized BIGINT
    // sums, per-dim mean shift); serving then compares the two responses —
    // FROZEN (q237: increment encoded against the old centroids+codebooks,
    // unioned with the stored base index) vs REFIT (centroids and residual
    // codebooks re-derived from the drifted corpus — stride-picked, the
    // reproducible-gate stand-in for fitCentroids — and the whole corpus
    // re-encoded). Both serve the same 8 queries; per-query top-5 hits
    // against the exact L2 ground truth land in one report with the
    // drifted-dimension count. Everything is exact integers, so the gate
    // hash-pins the entire loop: audit arithmetic, both encode chains,
    // both ADC rankings, the ground truth, and the recall bookkeeping.
    ("q249_ann_lifecycle", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val base = emb.where(col("vec_id") % 7 =!= 0)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val inc = emb.where(col("vec_id") % 7 === 0)
        .select(col("vec_id"), transform(col("embedding").cast("array<double>"),
          x => x * lit(0.75) + lit(0.1)).as("embedding"))
      val cur = graft.util.Caches.register(
        base.unionByName(inc).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      // 1. drift audit (q201 path): dims whose base-vs-increment mean shift
      // exceeds 20 grid units — a 1-row frame, crossJoined into the report
      val driftRow = graft.ext.LinAlg.perDimDrift(base, inc, "embedding")
        .agg(count(when(abs(col("shift_milli")) > 20.0, 1)).as("drifted_dims"))
      val queries = cur.where(col("vec_id") < 8)
      // 2. FROZEN serving: old model from the base only; increment encoded
      // against it (q237's frozen-model contract) and unioned in
      val centOld = base.where(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("cid"), col("embedding"))
      val cbOld = Similarity.pqCodebookByStride(
        Similarity.residuals(base, centOld, "vec_id", "cid", "embedding"),
        "vec_id", "res", m = 4, subDim = 16, stride = 5)
      val idxFrozen = Similarity
        .residualIndex(base, centOld, cbOld, "vec_id", "cid", "embedding", 4, 16)
        .unionByName(Similarity
          .residualIndex(inc, centOld, cbOld, "vec_id", "cid", "embedding", 4, 16))
      val frozenTop = Similarity.ivfPqResidualStoredTopK(queries, idxFrozen,
        centOld, cbOld, "vec_id", "cid", "embedding", k = 10, m = 4, subDim = 16,
        nprobe = 4)
      // 3. REFIT serving: model re-derived from the drifted corpus, whole
      // corpus re-encoded — the cost the recall delta is weighed against
      val centNew = cur.where(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("cid"), col("embedding"))
      val cbNew = Similarity.pqCodebookByStride(
        Similarity.residuals(cur, centNew, "vec_id", "cid", "embedding"),
        "vec_id", "res", m = 4, subDim = 16, stride = 5)
      val idxNew = Similarity
        .residualIndex(cur, centNew, cbNew, "vec_id", "cid", "embedding", 4, 16)
      val refitTop = Similarity.ivfPqResidualStoredTopK(queries, idxNew,
        centNew, cbNew, "vec_id", "cid", "embedding", k = 10, m = 4, subDim = 16,
        nprobe = 4)
      // 4. exact L2 ground truth over the current corpus (bounded: 8 queries)
      // queries side pinned broadcast: the product stays linear in the
      // corpus (the bounded-evaluation-slice discipline every recall audit
      // here uses)
      val exact = broadcast(
          queries.select(col("vec_id").as("q_id"), col("embedding").as("__qv")))
        .crossJoin(cur.select(col("vec_id").as("n_id"), col("embedding").as("__nv")))
        .where(col("n_id") =!= col("q_id"))
        .withColumn("__d", aggregate(
          zip_with(col("__qv"), col("__nv"), (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, z) => acc + z))
        .withColumn("__rn", row_number().over(
          Window.partitionBy(col("q_id")).orderBy(col("__d"), col("n_id"))))
        .where(col("__rn") <= 10)
        .select(col("q_id"), col("n_id"))
      // 5. the report: per-query hit counts of both configurations
      val hf = exact.join(frozenTop.select(col("q_id"), col("n_id")),
        Seq("q_id", "n_id")).groupBy(col("q_id"))
        .agg(count(lit(1)).as("hits_frozen"))
      val hr = exact.join(refitTop.select(col("q_id"), col("n_id")),
        Seq("q_id", "n_id")).groupBy(col("q_id"))
        .agg(count(lit(1)).as("hits_refit"))
      queries.select(col("vec_id").as("q_id"))
        .join(hf, Seq("q_id"), "left").join(hr, Seq("q_id"), "left")
        .crossJoin(broadcast(driftRow))
        .select(col("q_id"), lit(10L).as("n_exact"),
          coalesce(col("hits_frozen"), lit(0L)).as("hits_frozen"),
          coalesce(col("hits_refit"), lit(0L)).as("hits_refit"),
          col("drifted_dims"))
        .orderBy(col("q_id"))
    }, Some(s"""
      WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
      bse AS (SELECT vec_id, vec FROM v WHERE vec_id % 7 <> 0),
      incr AS (SELECT vec_id, list_transform(vec, x -> x * 0.75 + 0.1) AS vec
               FROM v WHERE vec_id % 7 = 0),
      cur AS MATERIALIZED (SELECT * FROM bse UNION ALL SELECT * FROM incr),
      subs AS (SELECT unnest(range(0, 4)) AS sub),
      bq AS (
        SELECT u.i AS dim, CAST(floor(vec[u.i] * 1000) AS BIGINT) AS q
        FROM bse CROSS JOIN LATERAL (SELECT unnest(range(1, len(vec) + 1)) AS i) u),
      dq AS (
        SELECT u.i AS dim, CAST(floor(vec[u.i] * 1000) AS BIGINT) AS q
        FROM incr CROSS JOIN LATERAL (SELECT unnest(range(1, len(vec) + 1)) AS i) u),
      drift AS (
        SELECT count(*) FILTER (abs(shift) > 20.0)::BIGINT AS drifted_dims FROM (
          SELECT b.dim, (b.sb::DOUBLE / b.nb) - (d.sd::DOUBLE / d.nd) AS shift
          FROM (SELECT dim, count(*) AS nb, sum(q)::BIGINT AS sb FROM bq GROUP BY 1) b
          JOIN (SELECT dim, count(*) AS nd, sum(q)::BIGINT AS sd FROM dq GROUP BY 1) d
            USING (dim))),
      ${residualServeCtes("f", "bse", "AND n_id % 7 <> 0")},
      ${residualServeCtes("n", "cur", "")},
      exact AS (
        SELECT q_id, n_id FROM (
          SELECT q.vec_id AS q_id, x.vec_id AS n_id,
            row_number() OVER (PARTITION BY q.vec_id ORDER BY
              list_sum(list_transform(range(1, least(len(q.vec), len(x.vec)) + 1),
                i -> (q.vec[i] - x.vec[i]) * (q.vec[i] - x.vec[i]))), x.vec_id) AS rn
          FROM (SELECT * FROM cur WHERE vec_id < 8) q
          CROSS JOIN cur x WHERE x.vec_id <> q.vec_id) WHERE rn <= 10),
      hf AS (
        SELECT e.q_id, count(*)::BIGINT AS hits_frozen
        FROM exact e JOIN ftop t ON t.q_id = e.q_id AND t.n_id = e.n_id
        GROUP BY 1),
      hr AS (
        SELECT e.q_id, count(*)::BIGINT AS hits_refit
        FROM exact e JOIN ntop t ON t.q_id = e.q_id AND t.n_id = e.n_id
        GROUP BY 1)
      SELECT q.vec_id AS q_id, CAST(10 AS BIGINT) AS n_exact,
        COALESCE(hf.hits_frozen, 0) AS hits_frozen,
        COALESCE(hr.hits_refit, 0) AS hits_refit,
        d.drifted_dims
      FROM (SELECT vec_id FROM cur WHERE vec_id < 8) q
      LEFT JOIN hf ON hf.q_id = q.vec_id
      LEFT JOIN hr ON hr.q_id = q.vec_id
      CROSS JOIN drift d
      ORDER BY q_id""")),


    // STREAMING ANN serving — the query side of the persisted residual-
    // IVFADC artifact run as a SERVICE, the one serving-shaped loop the
    // vector store was missing (token ids have q238, k-means assignment
    // q231, dedup buckets q188, count-min q211): centroids + residual
    // codebooks + full-corpus index are built once and PERSISTED (q237's
    // artifact discipline), then a STREAM of query vectors is answered
    // micro-batch by micro-batch through Similarity.serveIndexStream:
    // the frozen model (centroids + codebooks) is derived and pinned ONCE
    // when the writer is built, and each batch only builds its probe LUTs
    // against it, broadcasts them against the loaded, cache-pinned index
    // and runs the bounded top-k — the same answers as the one-shot
    // ivfPqResidualStoredTopK (stateless by construction: a query is
    // answered completely in its arrival batch, so the union over ANY
    // micro-batch split equals the one-shot serve — law-tested in
    // SimilaritySpec). releaseAll after the query frees both pins.
    // maxFilesPerTrigger=1 forces 4 REAL micro-batches, so the gate
    // replays the split law against q212's oracle VERBATIM, not a
    // degenerate 1-batch pass. VERIFICATION-HARNESS BOUNDARY (q19/q238
    // convention): each batch's answers append to a per-run temp parquet
    // sink — the production sink shape — read back only for the gate.
    ("q252_stream_ann_serve", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val tmp = graft.util.Staging.dir("q252_ivfpq_store", dir) { p =>
        val cent = emb.where(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("cid"), col("embedding"))
        val cbRes = Similarity.pqCodebookByStride(
          Similarity.residuals(emb, cent, "vec_id", "cid", "embedding"),
          "vec_id", "res", m = 4, subDim = 16, stride = 50)
        cent.write.mode("overwrite").parquet(s"$p/centroids")
        cbRes.write.mode("overwrite").parquet(s"$p/codebooks")
        Similarity.residualIndex(emb, cent, cbRes,
            "vec_id", "cid", "embedding", m = 4, subDim = 16)
          .write.mode("overwrite").parquet(s"$p/index")
        // the query stream: 8 probe vectors split across 4 files so
        // AvailableNow + maxFilesPerTrigger=1 yields 4 micro-batches
        emb.where(col("vec_id") < 8).select(col("vec_id"), col("embedding"))
          .repartition(4).write.mode("overwrite").parquet(s"$p/queries")
      }
      // pin BEFORE serving: every micro-batch re-consumes the index
      val stored = graft.util.Caches.pin(readFixture(s, s"$tmp/index"))
      // the reference's operating point is a 1 s trigger: every
      // steady-state batch must beat it or the serve falls behind its
      // own arrival rate (cold batch excluded — plan/codegen/broadcast
      // are per-query costs). spark.graft.serve.sloMs dials the budget.
      serveGate(s, s, "q252_stream_ann_serve", budgetMs = 1000,
          s"$tmp/queries", "vec_id LONG, embedding ARRAY<FLOAT>")(
        Similarity.serveIndexBatch(stored, readFixture(s, s"$tmp/centroids"),
          readFixture(s, s"$tmp/codebooks"), "vec_id", "cid", "embedding",
          k = 3, m = 4, subDim = 16, nprobe = 2))
    }, Some(ivfAdcFullOracle)),


    // INDEX COMPACTION — the store-maintenance step between increments:
    // q237 proves store + ONE increment; production accumulates k code
    // snapshots and compacts. Similarity.compactIndex unions the two
    // snapshots (disjoint %7 split here), keeps the latest row per id,
    // and STRIDE-sub-splits every coarse list so no (lcid, sub) cell
    // exceeds the cap — WITHOUT re-encoding a single code (sub is layout
    // metadata; serving joins lcid alone), so serving the compacted store
    // must reproduce q212's answers verbatim. The cap law (<= 16 rows per
    // cell, exact rank stride) is spec-tested; the gate proves the result
    // identity the compaction contract hinges on.
    ("q256_index_compaction", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val tmp = graft.util.Staging.dir("q256_ivfpq_snaps", dir) { p =>
        val cent = emb.where(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("cid"), col("embedding"))
        val cbRes = Similarity.pqCodebookByStride(
          Similarity.residuals(emb, cent, "vec_id", "cid", "embedding"),
          "vec_id", "res", m = 4, subDim = 16, stride = 50)
        cent.write.mode("overwrite").parquet(s"$p/centroids")
        cbRes.write.mode("overwrite").parquet(s"$p/codebooks")
        Similarity.residualIndex(emb.where(col("vec_id") % 7 =!= 0),
            cent, cbRes, "vec_id", "cid", "embedding", m = 4, subDim = 16)
          .write.mode("overwrite").parquet(s"$p/snap0")
        Similarity.residualIndex(emb.where(col("vec_id") % 7 === 0),
            cent, cbRes, "vec_id", "cid", "embedding", m = 4, subDim = 16)
          .write.mode("overwrite").parquet(s"$p/snap1")
      }
      val cent = readFixture(s, s"$tmp/centroids")
      val cb = readFixture(s, s"$tmp/codebooks")
      val compacted = Similarity.compactIndex(
        Seq(readFixture(s, s"$tmp/snap0"), readFixture(s, s"$tmp/snap1")),
        cap = 16L)
      ivfAdcGateServe(emb, compacted.drop("sub"), cent, cb)
    }, Some(ivfAdcFullOracle)),


    // STREAMING drift monitor — q201's gauge kept LIVE: the per-dimension
    // (count, exact quantized BIGINT sum) pairs are pure commutative adds
    // (exactly the q211 count-min shape), so LinAlg.perDimQuantStats runs
    // as a COMPLETE-mode streaming aggregation over the delta vector
    // stream — state is one (count, sum) per dim, 64 rows, never
    // corpus-sized — and index refit (q249's trigger) is decided by a
    // live gauge instead of a batch job. The final complete-mode table
    // joins the batch base gauge through LinAlg.driftFromStats (2x64 rows
    // of integer arithmetic + two divisions) and must reproduce q201's
    // oracle VERBATIM. VERIFICATION-HARNESS BOUNDARY (q19/q238
    // convention): memory sink + collect of the 64-row gauge.
    ("q257_stream_drift_monitor", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val tmp = graft.util.Staging.dir("q257_delta", dir) { p =>
        emb.where(col("vec_id") % 2 =!= 0).select(col("vec_id"), col("embedding"))
          .repartition(8).write.mode("overwrite").parquet(s"$p/stream")
      }
      // 4 shuffle partitions: one state-store commit per partition per
      // micro-batch; 64 dims do not need 32 stores (q170/q211 discipline)
      val s2 = isolated(s, "spark.sql.shuffle.partitions" -> "4")
      val stream = s2.readStream.schema("vec_id LONG, embedding ARRAY<FLOAT>")
        .option("maxFilesPerTrigger", 2).parquet(s"$tmp/stream")
      val deltaStats = memorySinkRows(s,
        ext.LinAlg.perDimQuantStats(stream, "embedding", scale = 1000),
        "graft_stream_drift", "complete")
      val baseStats = ext.LinAlg.perDimQuantStats(
        emb.where(col("vec_id") % 2 === 0), "embedding", scale = 1000)
      ext.LinAlg.driftFromStats(baseStats, deltaStats).orderBy(col("dim"))
    }, Some(perDimDriftOracle)),

    // MMR diversification — the re-rank pass a retrieval pipeline runs
    // after top-m recall so the k results it returns are not m copies of
    // the same neighborhood. Greedy argmax of rel/2 − maxSimToSelected/2
    // (λ = 1/2: every blend is an exact IEEE half, so the oracle's
    // recursive replay hash-matches bit for bit). The oracle carries the
    // selected set as a list column through a recursive CTE — the FFD
    // (q253) state-carrying discipline — and re-derives rel and the
    // pairwise penalties from the same double-cast vectors.
    ("q258_mmr_rerank", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.mmrRerank(emb.where(col("vec_id") < 6), emb,
        "vec_id", "vec_id", "embedding", k = 5, m = 10)
        .orderBy(col("q_id"), col("rank"))
    }, Some("""
      WITH RECURSIVE
      q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 6),
      c AS (SELECT vec_id AS n_id, embedding::DOUBLE[] AS nv FROM embeddings),
      scored AS (
        SELECT q_id, n_id,
          list_sum(list_transform(range(1, least(len(qv), len(nv)) + 1), i -> qv[i] * nv[i])) /
            (sqrt(list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * qv[i]))) *
             sqrt(list_sum(list_transform(range(1, len(nv) + 1), i -> nv[i] * nv[i])))) AS sim
        FROM q CROSS JOIN c WHERE n_id <> q_id),
      cands AS (
        SELECT q_id, n_id, sim FROM (
          SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rn
          FROM scored) WHERE rn <= 10),
      cv AS (SELECT cd.q_id, cd.n_id, cd.sim, c.nv FROM cands cd JOIN c USING (n_id)),
      p AS (
        SELECT a.q_id, a.n_id AS ia, b.n_id AS ib,
          list_sum(list_transform(range(1, least(len(a.nv), len(b.nv)) + 1), i -> a.nv[i] * b.nv[i])) /
            (sqrt(list_sum(list_transform(range(1, len(a.nv) + 1), i -> a.nv[i] * a.nv[i]))) *
             sqrt(list_sum(list_transform(range(1, len(b.nv) + 1), i -> b.nv[i] * b.nv[i])))) AS s
        FROM cv a JOIN cv b ON a.q_id = b.q_id AND a.n_id < b.n_id),
      sel(q_id, step, sel_ids, n_id, score) AS (
        SELECT q_id, 1, [n_id], n_id, sim / 2 FROM (
          SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rn
          FROM cands) WHERE rn = 1
        UNION ALL
        SELECT q_id, step, list_append(sel_ids, n_id), n_id, score FROM (
          SELECT x.*, row_number() OVER (PARTITION BY x.q_id ORDER BY x.score DESC, x.n_id) AS rn
          FROM (
            SELECT s.q_id, s.step + 1 AS step, s.sel_ids, c2.n_id,
              c2.sim / 2 - max(p.s) / 2 AS score
            FROM sel s
            JOIN cands c2 ON c2.q_id = s.q_id AND NOT list_contains(s.sel_ids, c2.n_id)
            JOIN p ON p.q_id = s.q_id
              AND ((p.ia = c2.n_id AND list_contains(s.sel_ids, p.ib))
                OR (p.ib = c2.n_id AND list_contains(s.sel_ids, p.ia)))
            WHERE s.step < 5
            GROUP BY s.q_id, s.step, s.sel_ids, c2.n_id, c2.sim) x) WHERE rn = 1)
      SELECT q_id, CAST(step AS INT) AS rank, n_id, score FROM sel
      ORDER BY q_id, rank""")),

    // RAG context assembly: retrieval (exact top-m per query, the q27
    // plan) joined to passage token lengths (q243's whitespace-token
    // source via the 1:1 vec_id↔doc_id mapping), then a rank-prefix fill
    // of a fixed token budget — the context window is packed in relevance
    // order and truncated at the first passage that would overflow.
    // Scale shape: the candidate set is |queries|·m rows broadcast into
    // the length join; the running sum windows over ≤ m rows per query —
    // bounded by construction, never corpus-wide.
    ("q259_rag_context_pack", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val cands = Similarity.bruteForceTopK(
        emb.where(col("vec_id") < 6), emb, "vec_id", "vec_id", "embedding", 10)
      val lens = T(s, dir, "documents").where(col("text").isNotNull)
        .select(col("doc_id"),
          size(filter(TextAnalysis.words(col("text")), w => w =!= ""))
            .cast("long").as("n_tokens"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("rank"))
      lens.join(broadcast(cands), col("doc_id") === col("n_id"))
        .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
        .where(col("cum_tokens") <= 256L)
        .select(col("q_id"), col("rank"), col("doc_id"),
          col("n_tokens"), col("cum_tokens"))
        .orderBy(col("q_id"), col("rank"))
    }, Some("""
      WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 6),
      c AS (SELECT vec_id AS n_id, embedding::DOUBLE[] AS nv FROM embeddings),
      scored AS (
        SELECT q_id, n_id,
          list_sum(list_transform(range(1, least(len(qv), len(nv)) + 1), i -> qv[i] * nv[i])) /
            (sqrt(list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * qv[i]))) *
             sqrt(list_sum(list_transform(range(1, len(nv) + 1), i -> nv[i] * nv[i])))) AS sim
        FROM q CROSS JOIN c WHERE n_id <> q_id),
      cands AS (
        SELECT q_id, n_id, rn AS rank FROM (
          SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rn
          FROM scored) WHERE rn <= 10),
      lens AS (
        SELECT doc_id, len(list_filter(string_split(text, ' '), w -> w <> ''))::BIGINT AS n_tokens
        FROM documents WHERE text IS NOT NULL),
      packed AS (
        SELECT cd.q_id, cd.rank, l.doc_id, l.n_tokens,
          CAST(sum(l.n_tokens) OVER (PARTITION BY cd.q_id ORDER BY cd.rank) AS BIGINT) AS cum_tokens
        FROM cands cd JOIN lens l ON l.doc_id = cd.n_id)
      SELECT q_id, rank, doc_id, n_tokens, cum_tokens
      FROM packed WHERE cum_tokens <= 256
      ORDER BY q_id, rank""")),

    // Spectral direction of the corpus: 6 fixed rounds of power iteration
    // on the EXACT integer covariance numerator (q133's one-pass BIGINT
    // aggregation, single global key) — the top-PC estimate a whitening /
    // drift pipeline needs, with zero float matvec drift because every
    // round is BIGINT mul/add plus a sign-split integer renormalization.
    // The oracle replays the identical rounds in a recursive CTE carrying
    // the integer vector as a list column.
    ("q260_power_iteration", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val codes = emb.select(lit(0L).as("k"),
        ext.Quantize.int8Codes(col("embedding"),
          ext.Quantize.int8Scale(col("embedding"))).as("codes"))
      val cov = ext.LinAlg.covarianceUpperTriangle(codes, "k", "codes", 64)
      ext.LinAlg.powerIterationTop(cov, 64, 6)
    }, Some("""
      WITH RECURSIVE
      v0 AS (SELECT embedding::DOUBLE[] AS vec FROM embeddings),
      s0 AS (
        SELECT vec,
          coalesce(list_max(list_transform(vec, x -> abs(x))), 0) / 127.0 AS scale
        FROM v0),
      q0 AS (
        SELECT CASE WHEN scale = 0
          THEN list_transform(vec, x -> CAST(0 AS BIGINT))
          ELSE list_transform(vec, x -> CAST(round(x / scale) AS BIGINT)) END AS codes
        FROM s0),
      e0 AS (
        SELECT i.i AS i, j.j AS j, codes[i.i] * codes[j.j] AS p
        FROM q0
        CROSS JOIN (SELECT unnest(range(1, 65)) AS i) i
        CROSS JOIN (SELECT unnest(range(1, 65)) AS j) j
        WHERE i.i <= j.j),
      g0 AS (
        SELECT i, j, CAST(sum(p) AS BIGINT) AS g, count(*) AS n
        FROM e0 GROUP BY 1, 2),
      su0 AS (
        SELECT d.d AS d, CAST(sum(codes[d.d]) AS BIGINT) AS s
        FROM q0 CROSS JOIN (SELECT unnest(range(1, 65)) AS d) d
        GROUP BY 1),
      cn AS (
        SELECT g0.i, g0.j, g0.n*g0.g - si.s*sj.s AS x
        FROM g0 JOIN su0 si ON si.d = g0.i JOIN su0 sj ON sj.d = g0.j),
      m AS (
        SELECT i, j, x FROM cn
        UNION ALL
        SELECT j AS i, i AS j, x FROM cn WHERE i <> j),
      sc AS (
        SELECT least(100000, 4611686018427387903 // greatest(1, 64 * max(abs(x)))) AS sv
        FROM m),
      pw(step, vl) AS (
        SELECT 0, list_transform(range(1, 65), i -> CAST(1 AS BIGINT))
        UNION ALL
        SELECT step + 1,
          list(CASE WHEN w < 0 THEN -(abs(w) // dv) ELSE abs(w) // dv END ORDER BY i)
        FROM (
          SELECT step, i, w, max(abs(w)) OVER () // sv + 1 AS dv
          FROM (
            SELECT p.step, m.i, CAST(sum(m.x * p.vl[m.j]) AS BIGINT) AS w
            FROM pw p CROSS JOIN m
            WHERE p.step < 6
            GROUP BY p.step, m.i) t
          CROSS JOIN sc)
        GROUP BY step)
      SELECT d.i AS dim, vl[d.i] AS v
      FROM pw CROSS JOIN (SELECT unnest(range(1, 65)) AS i) d
      WHERE step = 6
      ORDER BY dim""")),

    // Matryoshka-truncation recall audit: exact top-3 on 8/16/32-dim
    // PREFIXES of the embeddings vs exact top-3 on the full 64 dims — the
    // measurement that decides how far MRL-style dimension truncation can
    // cut storage and LUT cost before recall pays (the q164 audit
    // discipline applied to the dimension axis instead of the index).
    // Everything is an exact broadcast-query scan; recall is a bounded
    // per-(dims, query) join count.
    ("q263_matryoshka_recall", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val qs = emb.where(col("vec_id") < 10)
      val bf = Similarity.bruteForceTopK(qs, emb, "vec_id", "vec_id", "embedding", 3)
        .select(col("q_id").as("bq"), col("n_id").as("bn"))
      def truncated(d: Int) = {
        val t = emb.select(col("vec_id"), slice(col("embedding"), 1, d).as("embedding"))
        Similarity.bruteForceTopK(t.where(col("vec_id") < 10), t,
            "vec_id", "vec_id", "embedding", 3)
          .select(lit(d).as("dims"), col("q_id").as("mq"), col("n_id").as("mn"))
      }
      val meth = truncated(8).unionByName(truncated(16)).unionByName(truncated(32))
      val mm = meth.select(col("dims").as("dms")).distinct()
      bf.crossJoin(mm)
        .join(meth,
          col("dms") === col("dims") && col("bq") === col("mq") &&
            col("bn") === col("mn"),
          "left")
        .groupBy(col("dms"), col("bq"))
        .agg(count(col("mn")).as("n_hit"))
        .select(col("dms").as("dims"), col("bq").as("q_id"), col("n_hit"),
          lit(3).as("k"),
          (col("n_hit").cast("double") / lit(3)).as("recall"))
        .orderBy(col("dims"), col("q_id"))
    }, Some {
      def topCte(d: Int) = s"""
      m$d AS (
        SELECT $d AS dims, q_id, n_id FROM (
          SELECT q.q_id, c.n_id, row_number() OVER (PARTITION BY q.q_id ORDER BY
            list_sum(list_transform(range(1, $d + 1), i -> qv[i] * nv[i])) /
              (sqrt(list_sum(list_transform(range(1, $d + 1), i -> qv[i] * qv[i]))) *
               sqrt(list_sum(list_transform(range(1, $d + 1), i -> nv[i] * nv[i])))) DESC,
            c.n_id) AS rn
          FROM q CROSS JOIN c WHERE c.n_id <> q.q_id) WHERE rn <= 3)"""
      s"""
      WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
      c AS (SELECT vec_id AS n_id, embedding::DOUBLE[] AS nv FROM embeddings),
      ${Seq(64, 8, 16, 32).map(topCte).mkString(",")},
      mm AS (
        SELECT * FROM m8 UNION ALL SELECT * FROM m16 UNION ALL SELECT * FROM m32),
      rec AS (
        SELECT d.dims, b.q_id, count(m.n_id) AS n_hit
        FROM m64 b CROSS JOIN (SELECT DISTINCT dims FROM mm) d
        LEFT JOIN mm m ON m.dims = d.dims AND m.q_id = b.q_id AND m.n_id = b.n_id
        GROUP BY 1, 2)
      SELECT dims, q_id, n_hit, 3 AS k, n_hit::DOUBLE / 3 AS recall
      FROM rec ORDER BY dims, q_id"""
    }),

    // Spectral-signatures poisoning audit (Tran et al., NeurIPS'18 —
    // public method): every vector's int8 codes project onto the exact
    // integer dominant eigenvector (q260's power iteration), centering is
    // the cross-multiplication n·p − Σp — no floats anywhere, so the
    // top-20 |centered| outliers replay bit for bit. The direction is
    // model metadata (64 longs, collected by contract); the projection
    // folds per row inside the scan.
    ("q272_spectral_outliers", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val codes = emb.select(col("vec_id"),
        ext.Quantize.int8Codes(col("embedding"),
          ext.Quantize.int8Scale(col("embedding"))).as("codes"))
      val cov = ext.LinAlg.covarianceUpperTriangle(
        codes.select(lit(0L).as("k"), col("codes")), "k", "codes", 64)
      val v = ext.LinAlg.powerIterationTop(cov, 64, 6)
        .orderBy(col("dim")).collect().map(_.getLong(1)).toSeq
      val scored = ext.LinAlg.spectralOutlierScores(codes, "vec_id", "codes", v)
      val top = scored.orderBy(abs(col("centered")).desc, col("vec_id")).limit(20)
      top.withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(abs(col("centered")).desc, col("vec_id"))))
        .select(col("vec_id"), col("rank"), col("p"), col("centered"))
        .orderBy(col("rank"))
    }, Some("""
      WITH RECURSIVE
      v0 AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
      s0 AS (
        SELECT vec_id, vec,
          coalesce(list_max(list_transform(vec, x -> abs(x))), 0) / 127.0 AS scale
        FROM v0),
      q0 AS (
        SELECT vec_id, CASE WHEN scale = 0
          THEN list_transform(vec, x -> CAST(0 AS BIGINT))
          ELSE list_transform(vec, x -> CAST(round(x / scale) AS BIGINT)) END AS codes
        FROM s0),
      e0 AS (
        SELECT i.i AS i, j.j AS j, codes[i.i] * codes[j.j] AS p
        FROM q0
        CROSS JOIN (SELECT unnest(range(1, 65)) AS i) i
        CROSS JOIN (SELECT unnest(range(1, 65)) AS j) j
        WHERE i.i <= j.j),
      g0 AS (
        SELECT i, j, CAST(sum(p) AS BIGINT) AS g, count(*) AS n
        FROM e0 GROUP BY 1, 2),
      su0 AS (
        SELECT d.d AS d, CAST(sum(codes[d.d]) AS BIGINT) AS s
        FROM q0 CROSS JOIN (SELECT unnest(range(1, 65)) AS d) d
        GROUP BY 1),
      cn AS (
        SELECT g0.i, g0.j, g0.n*g0.g - si.s*sj.s AS x
        FROM g0 JOIN su0 si ON si.d = g0.i JOIN su0 sj ON sj.d = g0.j),
      m AS (
        SELECT i, j, x FROM cn
        UNION ALL
        SELECT j AS i, i AS j, x FROM cn WHERE i <> j),
      sc AS (
        SELECT least(100000, 4611686018427387903 // greatest(1, 64 * max(abs(x)))) AS sv
        FROM m),
      pw(step, vl) AS (
        SELECT 0, list_transform(range(1, 65), i -> CAST(1 AS BIGINT))
        UNION ALL
        SELECT step + 1,
          list(CASE WHEN w < 0 THEN -(abs(w) // dv) ELSE abs(w) // dv END ORDER BY i)
        FROM (
          SELECT step, i, w, max(abs(w)) OVER () // sv + 1 AS dv
          FROM (
            SELECT p.step, m.i, CAST(sum(m.x * p.vl[m.j]) AS BIGINT) AS w
            FROM pw p CROSS JOIN m
            WHERE p.step < 6
            GROUP BY p.step, m.i) t
          CROSS JOIN sc)
        GROUP BY step),
      dirv AS (SELECT vl FROM pw WHERE step = 6),
      proj AS (
        SELECT vec_id,
          CAST(list_sum(list_transform(range(1, 65), i -> codes[i] * vl[i])) AS BIGINT) AS p
        FROM q0 CROSS JOIN dirv),
      st AS (SELECT count(*)::BIGINT AS n, CAST(sum(p) AS BIGINT) AS sp FROM proj),
      cent AS (
        SELECT vec_id, p, p * n - sp AS centered FROM proj CROSS JOIN st)
      SELECT vec_id, CAST(rn AS INT) AS rank, p, centered FROM (
        SELECT vec_id, p, centered,
          row_number() OVER (ORDER BY abs(centered) DESC, vec_id) AS rn
        FROM cent)
      WHERE rn <= 20 ORDER BY rank""")),

    // Streaming covariance gauge: the exact second-moment state (g, si,
    // sj, n per dimension pair) is pure commutative BIGINT adds — the
    // q257 first-moment discipline one moment up — so the FULL exact
    // covariance numerator of a vector stream is maintained live as a
    // complete-mode typed aggregation whose state is ONE dim·(dim+1)/2
    // BIGINT triangle, never corpus-sized. This is what keeps q260's
    // spectral direction and q272's poisoning audit refreshable from a
    // stream instead of a batch job.
    ("q273_stream_covariance", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val tmp = graft.util.Staging.dir("q273_cov_stream", dir) { p =>
        emb.where(col("vec_id") % 2 === 1)
          .select(col("vec_id"), col("embedding"))
          .repartition(8).write.mode("overwrite").parquet(s"$p/stream")
      }
      // 4 shuffle partitions: ONE triangle buffer of state needs no more
      // state-store commits per micro-batch (q211 discipline)
      val s2 = isolated(s, "spark.sql.shuffle.partitions" -> "4")
      val codes = s2.readStream.schema("vec_id LONG, embedding ARRAY<FLOAT>")
        .option("maxFilesPerTrigger", 2).parquet(s"$tmp/stream")
        .select(lit(0L).as("k"),
          ext.Quantize.int8Codes(col("embedding"),
            ext.Quantize.int8Scale(col("embedding"))).as("codes"))
      memorySinkRows(s, ext.LinAlg.covarianceUpperTriangle(codes, "k", "codes", 64),
          "graft_stream_cov", "complete")
        .select(col("i"), col("j"), col("g"), col("si"), col("sj"),
          col("n"), col("cov_num"), col("cov"))
        .orderBy(col("i"), col("j"))
    }, Some("""
      WITH v AS (
        SELECT embedding::DOUBLE[] AS vec FROM embeddings WHERE vec_id % 2 = 1),
      s0 AS (
        SELECT vec,
          coalesce(list_max(list_transform(vec, x -> abs(x))), 0) / 127.0 AS scale
        FROM v),
      q0 AS (
        SELECT CASE WHEN scale = 0
          THEN list_transform(vec, x -> CAST(0 AS BIGINT))
          ELSE list_transform(vec, x -> CAST(round(x / scale) AS BIGINT)) END AS codes
        FROM s0),
      e0 AS (
        SELECT i.i AS i, j.j AS j, codes[i.i] * codes[j.j] AS p
        FROM q0
        CROSS JOIN (SELECT unnest(range(1, 65)) AS i) i
        CROSS JOIN (SELECT unnest(range(1, 65)) AS j) j
        WHERE i.i <= j.j),
      g0 AS (
        SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
          CAST(sum(p) AS BIGINT) AS g, count(*) AS n
        FROM e0 GROUP BY 1, 2),
      su0 AS (
        SELECT CAST(d.d AS BIGINT) AS d, CAST(sum(codes[d.d]) AS BIGINT) AS s
        FROM q0 CROSS JOIN (SELECT unnest(range(1, 65)) AS d) d
        GROUP BY 1)
      SELECT g0.i, g0.j, g0.g, si.s AS si, sj.s AS sj, g0.n,
        g0.n*g0.g - si.s*sj.s AS cov_num,
        CAST(g0.n*g0.g - si.s*sj.s AS DOUBLE)/CAST(g0.n*g0.n AS DOUBLE) AS cov
      FROM g0 JOIN su0 si ON si.d = g0.i JOIN su0 sj ON sj.d = g0.j
      ORDER BY g0.i, g0.j""")),


    // STREAMING INGEST — the WRITE path of the vector store run live, the
    // half q252 (read path) left batch-only: the raw corpus vectors arrive
    // as a STREAM (3 files, maxFilesPerTrigger=1 → 3 REAL micro-batches);
    // each batch encodes against the FROZEN persisted model through
    // Similarity.ingestIndexStream — residualIndex verbatim per batch —
    // and appends its (n_id, lcid, codes) rows to the store; serving the
    // ACCUMULATED store then reproduces q212's from-scratch oracle
    // VERBATIM, because an index row is a pure per-vector function of
    // (vector, frozen model) — the split-invariance law SimilaritySpec
    // pins. This is q188's discipline (incremental ≡ from-scratch) applied
    // to the store's write side. VERIFICATION-HARNESS BOUNDARY (q252
    // convention): per-batch appends land in a per-run temp parquet store,
    // read back only for the gate's serve.
    ("q276_stream_index_ingest", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val tmp = ivfIngestStaging(s, dir)
      val cent = readFixture(s, s"$tmp/centroids")
      val cb = readFixture(s, s"$tmp/codebooks")
      val storeDir = scratch("q276_store")
      val stream = stagedVectorStream(s, tmp)
      // batch-addressed idempotent sink (delta=<batchId>/, overwrite) —
      // the replay-safe write path; q290 exercises the actual crash+replay
      val q = Similarity.ingestIndexStream(stream, cent, cb,
          "vec_id", "cid", "embedding", m = 4, subDim = 16)(
          Similarity.idempotentIndexSink(storeDir))
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      ivfAdcGateServe(emb, Similarity.readIndexStore(s, storeDir), cent, cb)
    }, Some(ivfAdcFullOracle)),


    // The FULL live store loop — ingest → compact → serve, chaining q276's
    // streamed write path into q256's compaction identity: each of the 3
    // ingest micro-batches lands as its OWN snapshot (keyed by batchId —
    // exactly how a production store accumulates increments), compaction
    // unions the snapshots oldest-first, keeps latest-wins per id, and
    // stride-sub-splits oversized coarse lists WITHOUT re-encoding a code;
    // serving the compacted store must still reproduce q212's oracle
    // VERBATIM. Nothing here is batch-twinned: the snapshots the compactor
    // eats came from a real stream.
    ("q277_stream_ingest_compact", (s, dir) => {
      val tmp = ivfIngestStaging(s, dir)
      // 4-partition AQE-off gate session (q270/q296/q304's discipline)
      val (s2, emb2, cent, cb) = ivfGateSession(s, dir)
      val snapRoot = scratch("q277_snaps")
      val seen = scala.collection.mutable.SortedSet[Long]()
      val stream = stagedVectorStream(s2, tmp)
      val q = Similarity.ingestIndexStream(stream, cent, cb,
          "vec_id", "cid", "embedding", m = 4, subDim = 16) { (idx, batchId) =>
          idx.write.mode("overwrite").parquet(s"$snapRoot/snap_$batchId")
          seen.synchronized { seen += batchId }
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val snaps = seen.toSeq.map(b => s2.read.parquet(s"$snapRoot/snap_$b"))
      val compacted = Similarity.compactIndex(snaps, cap = 16L)
      ivfAdcGateServe(emb2, compacted.drop("sub"), cent, cb)
    }, Some(ivfAdcFullOracle)),


    // STORE DELETION — the third store op next to increment (q237/q276)
    // and compaction (q256/q277), the one a right-to-erasure request
    // exercises: tombstones (vec_id % 5 == 0) are applied AT COMPACTION
    // (one anti-join per cycle, not per query), codes untouched, the
    // model NEVER refit — deleting vectors cannot invalidate an
    // already-trained codebook, it only shrinks lists. Serving the
    // compacted store must equal serving the index of the SURVIVING
    // corpus under the same frozen model: the oracle keeps the model
    // derivation over the full corpus and restricts only the index rows
    // joined at scoring time (ivfAdcOracleFor). Deleted ids may still
    // QUERY (their vectors live outside the store) — ids 0 and 5 do, and
    // the gate pins that their former index rows never answer.
    ("q282_index_tombstones", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val tmp = ivfIngestStaging(s, dir)
      val cent = readFixture(s, s"$tmp/centroids")
      val cb = readFixture(s, s"$tmp/codebooks")
      // the full-corpus index (built once via the q237/q252 artifact path)
      val idx = Similarity.residualIndex(emb, cent, cb,
        "vec_id", "cid", "embedding", m = 4, subDim = 16)
      val tombstones = emb.where(col("vec_id") % 5 === 0)
        .select(col("vec_id"))
      val compacted = Similarity.compactIndex(Seq(idx), cap = 16L,
        tombstones = tombstones)
      ivfAdcGateServe(emb, compacted.drop("sub"), cent, cb)
    }, Some(ivfAdcOracleFor("a.n_id % 5 <> 0"))),


    // MMR DIVERSIFICATION FROM CODES ALONE — the q287 two-store
    // discipline extended through re-ranking: recall is ADC over the code
    // store (rel = −adist), and the pairwise diversity penalty is
    // SYMMETRIC distance computation (Jégou's SDC) — candidate-to-
    // candidate distance looked up sub-wise in an m·ksub² table derived
    // once from the codebook. The whole retrieve→diversify loop touches
    // raw vectors ONLY at query time (the query's own LUTs); candidates
    // exist purely as codes. Both MMR terms live in squared-distance
    // units: score = rel/2 + minDistToSelected/2, first pick
    // penalty-free, ties to the lowest id — mmrSelect's law verbatim.
    // The oracle chains the FULL residual serve (residualServeCtes), the
    // SDC table, the pairwise sub-ordered folds, and the state-carrying
    // greedy recursion (q258's shape) in one statement.
    ("q288_sdc_mmr", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val cent = emb.where(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("cid"), col("embedding"))
      // cb/index pinned: cb feeds the index build, the serve's LUTs AND
      // the SDC table collect; index feeds the serve and the MMR code
      // lookup — unpinned, each consumer re-runs the full-corpus
      // codebook/encode lineage (guide §5)
      val cb = graft.util.Caches.pin(Similarity.pqCodebookByStride(
        Similarity.residuals(emb, cent, "vec_id", "cid", "embedding"),
        "vec_id", "res", m = 4, subDim = 16, stride = 5))
      val index = graft.util.Caches.pin(Similarity.residualIndex(emb, cent, cb,
        "vec_id", "cid", "embedding", m = 4, subDim = 16))
      val cands = Similarity.ivfPqResidualStoredTopK(
          emb.where(col("vec_id") < 6), index, cent, cb,
          "vec_id", "cid", "embedding", k = 10, m = 4, subDim = 16, nprobe = 4)
        .select(col("q_id"), col("n_id"), (-col("adist")).as("rel"))
      Similarity.mmrSelectSdc(cands,
          index.select(col("n_id"), col("codes")), cb,
          k = 5, m = 4, subDim = 16)
        .orderBy(col("q_id"), col("rank"))
    }, Some(s"""
      WITH RECURSIVE
      cur AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
      subs AS (SELECT unnest(range(0, 4)) AS sub),
      ${residualServeCtes("x", "cur", "", stride = 5, nprobe = 4, k = 10,
        qPred = "n_id < 6")},
      cands AS (
        SELECT q_id, n_id, -adist AS rel FROM (
          SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adist, n_id) AS rn
          FROM xscored) WHERE rn <= 10),
      sdc AS (
        SELECT a.sub, a.cid AS ca, b.cid AS cb,
          list_sum(list_transform(range(1, 17), i ->
            (a.c_vec[i] - b.c_vec[i]) * (a.c_vec[i] - b.c_vec[i]))) AS d
        FROM xcb a JOIN xcb b ON a.sub = b.sub),
      cc AS (SELECT cd.q_id, cd.n_id, cd.rel, x.codes
             FROM cands cd JOIN xcodes x USING (n_id)),
      pparts AS (
        SELECT a.q_id, a.n_id AS ia, b.n_id AS ib, s.sub, t.d
        FROM cc a JOIN cc b ON a.q_id = b.q_id AND a.n_id < b.n_id
        CROSS JOIN subs s
        JOIN sdc t ON t.sub = s.sub
          AND t.ca = a.codes[s.sub + 1] AND t.cb = b.codes[s.sub + 1]),
      p AS (
        SELECT q_id, ia, ib, list_sum(list(d ORDER BY sub)) AS dist
        FROM pparts GROUP BY 1, 2, 3),
      sel(q_id, step, sel_ids, n_id, score) AS (
        SELECT q_id, 1, [n_id], n_id, rel / 2 FROM (
          SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, n_id) AS rn
          FROM cands) WHERE rn = 1
        UNION ALL
        SELECT q_id, step, list_append(sel_ids, n_id), n_id, score FROM (
          SELECT x.*, row_number() OVER (PARTITION BY x.q_id ORDER BY x.score DESC, x.n_id) AS rn
          FROM (
            SELECT s.q_id, s.step + 1 AS step, s.sel_ids, c2.n_id,
              c2.rel / 2 + min(p.dist) / 2 AS score
            FROM sel s
            JOIN cands c2 ON c2.q_id = s.q_id AND NOT list_contains(s.sel_ids, c2.n_id)
            JOIN p ON p.q_id = s.q_id
              AND ((p.ia = c2.n_id AND list_contains(s.sel_ids, p.ib))
                OR (p.ib = c2.n_id AND list_contains(s.sel_ids, p.ia)))
            WHERE s.step < 5
            GROUP BY s.q_id, s.step, s.sel_ids, c2.n_id, c2.rel) x) WHERE rn = 1)
      SELECT q_id, CAST(step AS INT) AS rank, n_id, score FROM sel
      ORDER BY q_id, rank""")),


    // THE CODE-ONLY RAG FLAGSHIP — q269's three stages with the vector
    // store as CODES end to end: ADC recall over the residual index
    // (rel = −adist), SDC MMR diversification (q288 — pairwise penalties
    // from the codebook table, candidates never materialize vectors),
    // then the 192-token budget fill in selection order. The only
    // vector arithmetic anywhere is the query's own per-probe LUTs —
    // the serving memory story a 100 TB deployment actually runs. One
    // oracle statement chains the residual serve, the SDC recursion,
    // and the windowed cumsum.
    ("q289_rag_codes_only", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val docs = T(s, dir, "documents")
      val cent = emb.where(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("cid"), col("embedding"))
      // cb/index pinned — q288's rationale (multi-consumer model frames)
      val cb = graft.util.Caches.pin(Similarity.pqCodebookByStride(
        Similarity.residuals(emb, cent, "vec_id", "cid", "embedding"),
        "vec_id", "res", m = 4, subDim = 16, stride = 5))
      val index = graft.util.Caches.pin(Similarity.residualIndex(emb, cent, cb,
        "vec_id", "cid", "embedding", m = 4, subDim = 16))
      val cands = Similarity.ivfPqResidualStoredTopK(
          emb.where(col("vec_id") < 6), index, cent, cb,
          "vec_id", "cid", "embedding", k = 10, m = 4, subDim = 16, nprobe = 4)
        .select(col("q_id"), col("n_id"), (-col("adist")).as("rel"))
      val sel = Similarity.mmrSelectSdc(cands,
        index.select(col("n_id"), col("codes")), cb,
        k = 5, m = 4, subDim = 16)
      val lens = docs.where(col("text").isNotNull)
        .select(col("doc_id"),
          size(filter(TextAnalysis.words(col("text")), w => w =!= ""))
            .cast("long").as("n_tokens"))
      lens.join(broadcast(sel), col("doc_id") === col("n_id"))
        .withColumn("cum_tokens", sum(col("n_tokens")).over(
          Window.partitionBy(col("q_id")).orderBy(col("rank"))))
        .where(col("cum_tokens") <= 192L)
        .select(col("q_id"), col("rank"), col("doc_id"),
          col("n_tokens"), col("cum_tokens"), col("score"))
        .orderBy(col("q_id"), col("rank"))
    }, Some(s"""
      WITH RECURSIVE
      cur AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
      subs AS (SELECT unnest(range(0, 4)) AS sub),
      ${residualServeCtes("x", "cur", "", stride = 5, nprobe = 4, k = 10,
        qPred = "n_id < 6")},
      cands AS (
        SELECT q_id, n_id, -adist AS rel FROM (
          SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adist, n_id) AS rn
          FROM xscored) WHERE rn <= 10),
      sdc AS (
        SELECT a.sub, a.cid AS ca, b.cid AS cb,
          list_sum(list_transform(range(1, 17), i ->
            (a.c_vec[i] - b.c_vec[i]) * (a.c_vec[i] - b.c_vec[i]))) AS d
        FROM xcb a JOIN xcb b ON a.sub = b.sub),
      cc AS (SELECT cd.q_id, cd.n_id, cd.rel, x.codes
             FROM cands cd JOIN xcodes x USING (n_id)),
      pparts AS (
        SELECT a.q_id, a.n_id AS ia, b.n_id AS ib, s.sub, t.d
        FROM cc a JOIN cc b ON a.q_id = b.q_id AND a.n_id < b.n_id
        CROSS JOIN subs s
        JOIN sdc t ON t.sub = s.sub
          AND t.ca = a.codes[s.sub + 1] AND t.cb = b.codes[s.sub + 1]),
      p AS (
        SELECT q_id, ia, ib, list_sum(list(d ORDER BY sub)) AS dist
        FROM pparts GROUP BY 1, 2, 3),
      sel(q_id, step, sel_ids, n_id, score) AS (
        SELECT q_id, 1, [n_id], n_id, rel / 2 FROM (
          SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, n_id) AS rn
          FROM cands) WHERE rn = 1
        UNION ALL
        SELECT q_id, step, list_append(sel_ids, n_id), n_id, score FROM (
          SELECT x.*, row_number() OVER (PARTITION BY x.q_id ORDER BY x.score DESC, x.n_id) AS rn
          FROM (
            SELECT s.q_id, s.step + 1 AS step, s.sel_ids, c2.n_id,
              c2.rel / 2 + min(p.dist) / 2 AS score
            FROM sel s
            JOIN cands c2 ON c2.q_id = s.q_id AND NOT list_contains(s.sel_ids, c2.n_id)
            JOIN p ON p.q_id = s.q_id
              AND ((p.ia = c2.n_id AND list_contains(s.sel_ids, p.ib))
                OR (p.ib = c2.n_id AND list_contains(s.sel_ids, p.ia)))
            WHERE s.step < 5
            GROUP BY s.q_id, s.step, s.sel_ids, c2.n_id, c2.rel) x) WHERE rn = 1),
      lens AS (
        SELECT doc_id, len(list_filter(string_split(text, ' '), w -> w <> ''))::BIGINT AS n_tokens
        FROM documents WHERE text IS NOT NULL),
      packed AS (
        SELECT sel.q_id, sel.step AS rank, l.doc_id, l.n_tokens,
          CAST(sum(l.n_tokens) OVER (PARTITION BY sel.q_id ORDER BY sel.step) AS BIGINT) AS cum_tokens,
          sel.score
        FROM sel JOIN lens l ON l.doc_id = sel.n_id)
      SELECT q_id, CAST(rank AS INT) AS rank, doc_id, n_tokens, cum_tokens, score
      FROM packed WHERE cum_tokens <= 192
      ORDER BY q_id, rank""")),


    // KILL-AND-RESUME on the store's WRITE path — the guarantee q276's
    // happy path doesn't prove: foreachBatch is at-least-once, so the
    // exact production failure is a crash AFTER the store write but
    // BEFORE the offset commit, which REPLAYS the batch on restart. The
    // gate injects precisely that (afterBatch throws once, batch 1, with
    // a REAL checkpoint), restarts the stream from the same checkpoint,
    // and requires (a) the replayed store holds every id EXACTLY once —
    // the batch-addressed delta=<id>/ overwrite eating its own previous
    // attempt; a plain append would hold batch 1's rows twice and fail
    // loudly here — and (b) serving it reproduces q212's from-scratch
    // oracle VERBATIM. RecoverySpec's discipline, applied to the vector
    // store (ADVICE r14 #2).
    ("q290_index_ingest_replay", (s, dir) => {
      val tmp = ivfIngestStaging(s, dir)
      // 4-partition AQE-off gate session (q270/q296/q304's discipline)
      val (s2, emb2, cent, cb) = ivfGateSession(s, dir)
      val storeDir = scratch("q290_store")
      val ckpt = scratch("q290_ckpt")
      val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
      def run() = Similarity.ingestIndexStream(stagedVectorStream(s2, tmp),
          cent, cb, "vec_id", "cid", "embedding", m = 4, subDim = 16)(
          Similarity.idempotentIndexSink(storeDir, afterBatch = b =>
            if (b == 1L && !crashed.getAndSet(true))
              throw new RuntimeException(
                "injected crash: delta durable, offset not committed")))
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      runWithInjectedCrash(() => run()) // batch 1 REPLAYS from the checkpoint
      require(crashed.get, "the crash injection never ran")
      // replay-idempotence, asserted on the store itself: every vector id
      // exactly once despite batch 1 being written twice
      val raw = s2.read.parquet(storeDir)
      require(raw.count() == raw.select(col("n_id")).distinct().count(),
        "replayed batch double-appended index rows — the store sink is " +
          "not replay-idempotent")
      ivfAdcGateServe(emb2, Similarity.readIndexStore(s2, storeDir), cent, cb)
    }, Some(ivfAdcFullOracle)),


    // COMPACTION TRIGGER POLICY, live in the ingest loop — q277 compacts
    // once, manually; production needs the WHEN: maintainIndexStore fires
    // compactIndex when the store's own layout says the COMMITTED delta
    // count exceeded the threshold (one FS listing — never an external
    // counter), consolidates to ONE delta, and swaps the root — composed
    // into the ingest's beforeBatch seam with onlyBelow = the current
    // batch id, the replay-safe placement: committed deltas can never be
    // rewritten by an at-least-once replay, and the one replayable delta
    // (the in-flight batch's) is never folded into a consolidation it
    // would then overwrite (q297 proves the actual crash). Two arms share
    // the stream: the POLICY arm (threshold 1) fires once in-stream
    // (beforeBatch(2): deltas {0,1} committed) and once more at rest
    // (stream terminated ⇒ everything committed), ending bounded at one
    // delta; the CONTROL arm (threshold 10) must never fire and keep all
    // 3 deltas — and BOTH must serve identically (below-threshold
    // maintenance is a no-op on results, firing maintenance is
    // result-identical by q256's compaction law), gated on q212's oracle
    // VERBATIM.
    ("q292_index_compact_policy", (s, dir) => {
      val tmp = ivfIngestStaging(s, dir)
      // 4-partition AQE-off gate session (q270/q296/q304's discipline)
      val (s2, emb2, cent, cb) = ivfGateSession(s, dir)
      def ingest(storeDir: String, maxDeltas: Int): Int = {
        val fired = new java.util.concurrent.atomic.AtomicInteger(0)
        val q = Similarity.ingestIndexStream(stagedVectorStream(s2, tmp),
            cent, cb, "vec_id", "cid", "embedding", m = 4, subDim = 16)(
            Similarity.idempotentIndexSink(storeDir, beforeBatch = b =>
              if (Similarity.maintainIndexStore(s2, storeDir, maxDeltas,
                  cap = 16L, onlyBelow = Some(b)))
                fired.incrementAndGet()))
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        fired.get
      }
      // the POLICY arm stays a live per-pass ingest; the CONTROL arm's
      // store is deterministic and never touched by the policy, so it
      // stages once per JVM (the q252 artifact discipline). NOTE the
      // no-fire require below runs inside the staging closure, i.e. the
      // control LAW is checked once per session, deliberately — the
      // artifact is deterministic, and the serve-equality law downstream
      // still runs every pass
      val policyDir = scratch("q292_store")
      val policyFired = ingest(policyDir, maxDeltas = 1)
      val controlRoot = graft.util.Staging.dir("q292_control_store", dir) { p =>
        require(ingest(s"$p/store", maxDeltas = 10) == 0,
          "below-threshold policy must never fire")
      }
      val controlDir = s"$controlRoot/store"
      require(policyFired == 1,
        s"threshold-1 policy must fire once in-stream (beforeBatch(2): " +
          s"committed deltas {0,1}), fired $policyFired")
      require(Similarity.indexStoreDeltas(s2, policyDir) == Seq(1L, 2L),
        "in-stream policy must leave the consolidated delta + the final batch")
      // at rest the stream has terminated ⇒ every delta is committed; the
      // same policy with no exclusion finishes the consolidation
      require(Similarity.maintainIndexStore(s2, policyDir, maxDeltas = 1,
          cap = 16L),
        "at-rest maintenance over threshold must fire")
      require(Similarity.indexStoreDeltas(s2, policyDir) == Seq(2L),
        "at-rest maintenance must leave ONE consolidated delta")
      require(Similarity.indexStoreDeltas(s2, controlDir) == Seq(0L, 1L, 2L),
        "below-threshold policy must keep every delta")
      def serve(d: String) = ivfAdcGateServe(emb2,
        Similarity.readIndexStore(s2, d), cent, cb)
      // the no-op law: compacted and untouched stores answer identically.
      // The law already materializes the policy store's answers — return
      // them as a local frame instead of running the same serve a third
      // time (result-identical; the total order is re-asserted on the
      // local rows). The two arms' serves are independent actions over
      // different stores — collect them concurrently (guide §2.6)
      val served = serve(policyDir)
      val rows = new Array[Array[org.apache.spark.sql.Row]](2)
      graft.util.Par.run(Seq(
        () => rows(0) = served.collect(),
        () => rows(1) = serve(controlDir).collect()))
      val servedRows = rows(0)
      require(servedRows.toSeq == rows(1).toSeq,
        "compaction must not change served answers")
      s.createDataFrame(java.util.Arrays.asList(servedRows: _*), served.schema)
        .orderBy(col("q_id"), col("rank"))
    }, Some(ivfAdcFullOracle)),


    // VECTOR-STORE UPSERT — q286's vector twin, the store op the code
    // store had machinery for (compactIndex latest-wins) but no gated
    // proof: vectors vec_id % 9 == 8 (disjoint from the query set) are
    // UPDATED (negated — exact in both engines since negation commutes
    // with the float→double cast), re-encoded against the FROZEN model
    // (an upsert never refits centroids or codebooks), written as a
    // LATER batch-addressed delta, and compacted latest-wins. Serving
    // the compacted store must equal the index of the POST-update corpus
    // under the same frozen model: the oracle keeps the model derivation
    // on the pre-update corpus and substitutes the updated vectors into
    // every assignment/code/score (ivfAdcUpsertOracle — the q286
    // textExpr discipline, vector form). The store read path's
    // latest-wins (readIndexStore) is pinned against the compaction
    // in-gate.
    ("q294_index_upsert", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val tmp = ivfIngestStaging(s, dir)
      val cent = readFixture(s, s"$tmp/centroids")
      val cb = readFixture(s, s"$tmp/codebooks")
      val storeDir = scratch("q294_store")
      // delta 0: the full pre-update corpus; delta 1: the updated
      // vectors re-encoded under the frozen model — the upsert
      Similarity.residualIndex(emb, cent, cb,
          "vec_id", "cid", "embedding", m = 4, subDim = 16)
        .write.mode("overwrite").parquet(s"$storeDir/delta=0")
      val updated = emb.where(col("vec_id") % 9 === 8)
        .select(col("vec_id"),
          transform(col("embedding"), x => -x).as("embedding"))
      Similarity.residualIndex(updated, cent, cb,
          "vec_id", "cid", "embedding", m = 4, subDim = 16)
        .write.mode("overwrite").parquet(s"$storeDir/delta=1")
      // compact latest-wins; the direct store read must agree
      require(Similarity.maintainIndexStore(s, storeDir, maxDeltas = 1,
          cap = 16L),
        "two deltas over threshold 1 must fire compaction")
      val compacted = Similarity.readIndexStore(s, storeDir)
      ivfAdcGateServe(emb, compacted, cent, cb)
    }, Some(ivfAdcUpsertOracle("vec_id % 9 = 8",
      "list_transform(vec, x -> -x)"))),


    // CRASH × POLICY × REPLAY, composed — the failure mode that made the
    // policy's SEAM PLACEMENT matter: with maintenance in afterBatch
    // compacting ALL deltas, a crash after a fire but before the offset
    // commit replays the batch, whose delta=<b> overwrite then collides
    // with a consolidation that already folded its rows in (lost rows on
    // the index store, double counts on the postings store). The
    // beforeBatch + onlyBelow placement makes the composition safe by
    // construction; this gate proves it the hard way: threshold-1 policy
    // fires at beforeBatch(2) (consolidating committed deltas {0,1}),
    // the crash hits AFTER delta=2 is durable but BEFORE its commit, the
    // restart replays batch 2 — whose beforeBatch sees only committed
    // {1} (no refire) and whose sink overwrites its own delta — and the
    // store must hold every id exactly once and serve q212's oracle
    // VERBATIM.
    ("q297_index_policy_replay", (s, dir) => {
      val tmp = ivfIngestStaging(s, dir)
      // 4-partition AQE-off gate session (q270/q296/q304's discipline)
      val (s2, emb2, cent, cb) = ivfGateSession(s, dir)
      val storeDir = scratch("q297_store")
      val ckpt = scratch("q297_ckpt")
      val fired = new java.util.concurrent.atomic.AtomicInteger(0)
      val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
      def run() = Similarity.ingestIndexStream(stagedVectorStream(s2, tmp),
          cent, cb, "vec_id", "cid", "embedding", m = 4, subDim = 16)(
          Similarity.idempotentIndexSink(storeDir,
            beforeBatch = b =>
              if (Similarity.maintainIndexStore(s2, storeDir, maxDeltas = 1,
                  cap = 16L, onlyBelow = Some(b)))
                fired.incrementAndGet(),
            afterBatch = b =>
              if (b == 2L && !crashed.getAndSet(true))
                throw new RuntimeException(
                  "injected crash: delta durable, policy fired, offset not committed")))
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      runWithInjectedCrash(() => run()) // batch 2 REPLAYS over the compacted store
      require(crashed.get && fired.get == 1,
        s"policy must fire exactly once (got ${fired.get}) and the crash must run")
      require(Similarity.indexStoreDeltas(s2, storeDir) == Seq(1L, 2L),
        "store must hold the consolidated delta + the replayed batch")
      val raw = s2.read.parquet(storeDir)
      require(raw.count() == raw.select(col("n_id")).distinct().count(),
        "replay over a compacted store lost or duplicated index rows")
      ivfAdcGateServe(emb2, Similarity.readIndexStore(s2, storeDir), cent, cb)
    }, Some(ivfAdcFullOracle)),


    // DRIFT-TRIGGERED MODEL REFRESH — the q201/q257 gauge made to ACT,
    // the way q279's OOV gauge acts for the tokenizer family: a drifted
    // re-observation batch streams in (dims 1-8 flipped to |x| for ids
    // vec_id % 9 == 8 — abs commutes with the float→double cast, so both
    // engines see bit-identical drifted vectors, and it moves those
    // dims' means by ~0.2 where the corpus means are ~0), the upserts
    // land in the live delta store ENCODED UNDER THE CURRENT MODEL (the
    // q294 upsert path — ingest never refits mid-stream), and the gauge
    // compares the batch against the PRIOR vectors of the same ids
    // (re-observation drift: the control arm is EXACTLY zero). After the
    // stream commits, the crossed gauge fires the refresh: refit
    // centroids + residual codebooks on the accumulated corpus
    // (latest-wins of base ∪ upserts, the stride-deterministic fits so
    // the oracle can replay them), re-encode the FULL corpus, and
    // install the result as a NEW GENERATION (index + its own model —
    // generations are self-describing) behind GenStore's atomic pointer
    // flip. Serving the refreshed generation must equal a FROM-SCRATCH
    // index of the post-drift corpus under the refit model — recall on a
    // drifting corpus is a correctness property of the serving system,
    // and ivfAdcRefitOracle replays the entire refit chain to pin it.
    // The CONTROL LAW rides along: an identity re-observation batch
    // gauges exactly zero, must NOT refit, and the untouched generation
    // must keep serving the pre-upsert answers verbatim.
    ("q299_index_model_refresh", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val tmp = ivfIngestStaging(s, dir)
      val cent0 = readFixture(s, s"$tmp/centroids")
      val cb0 = readFixture(s, s"$tmp/codebooks")
      // the generation-0 CONTENT (full-corpus index under the frozen
      // model) is a per-JVM staged artifact: the subject here is the
      // refresh protocol (gauge → refit → re-encode → pointer flip), not
      // the frozen-model encode — re-encoding it three times per pass
      // (ctrl gen 0, drift gen 0, pre-upsert serve) timed setup (r16)
      val fullIdx = frozenFullIndexStaging(s, dir)
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val drifted = transform(col("embedding"),
        (x, i) => when(i < 8, abs(x)).otherwise(x))
      // the re-observation batches, staged as one file each so the gauge
      // + upsert path runs through a real stream (hoisted OUT of arm():
      // Staging.dir must never nest inside another staging closure —
      // computeIfAbsent on the shared map)
      def stagedBatch(label: String, upsertVec: org.apache.spark.sql.Column) =
        graft.util.Staging.dir(s"q299_${label}_batch", dir) { p =>
          emb.where(col("vec_id") % 9 === 8)
            .select(col("vec_id"), upsertVec.as("embedding"))
            .coalesce(1).write.mode("overwrite").parquet(s"$p/stream")
        }
      val ctrlBatch = stagedBatch("ctrl", col("embedding"))
      val driftBatch = stagedBatch("drift", drifted)
      def arm(label: String, base: String, upTmp: String):
          (String, Boolean, Double) = {
        val root = s"$base/gens"
        val live = s"$base/live"
        val upStore = s"$base/upserts"
        // generation 0: the shipped store — full-corpus index under the
        // staged frozen model; a generation carries its own model. The
        // content INSTALLS by file copy from the staged artifacts; the
        // publish protocol (stage → rename → marker flip) runs live
        require(graft.util.GenStore.cycle(fs, root, gen = 0) { true } { p =>
          Seq(fullIdx -> "index", s"$tmp/centroids" -> "centroids",
              s"$tmp/codebooks" -> "codebooks").foreach { case (src, sub) =>
            graft.util.DeltaStore.copyInto(fs, new Path(src), new Path(p, sub))
          }
        }, "generation 0 must publish")
        val maxShiftRef = // written on the stream thread, read after await
          new java.util.concurrent.atomic.AtomicReference[Double](0.0)
        val q = s.readStream.schema("vec_id LONG, embedding ARRAY<FLOAT>")
          .parquet(s"$upTmp/stream")
          .writeStream.foreachBatch {
            (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                batchId: Long) =>
              // raw upsert vectors accumulate (batch-addressed, replay-
              // idempotent) — the corpus-vector side a refit reads
              batch.write.mode("overwrite").parquet(s"$upStore/delta=$batchId")
              // the upsert path: encode under the CURRENT generation's
              // model into the live delta store (q294's discipline)
              val gen = graft.util.GenStore.currentPath(fs, root).get.toString
              Similarity.idempotentIndexSink(live)(
                Similarity.residualIndex(batch.toDF(),
                  s.read.parquet(s"$gen/centroids"),
                  s.read.parquet(s"$gen/codebooks"),
                  "vec_id", "cid", "embedding", m = 4, subDim = 16), batchId)
              // the gauge: this batch vs the PRIOR vectors of the same ids
              val prior = emb.join(batch.select(col("vec_id").as("__u")),
                col("vec_id") === col("__u"), "left_semi")
              maxShiftRef.set(graft.ext.LinAlg.perDimDrift(prior,
                  batch.toDF(), "embedding")
                .agg(max(abs(col("shift_milli")))).head().getDouble(0))
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        val maxShift = maxShiftRef.get()
        // the TRIGGER, evaluated at rest (stream terminated ⇒ the upsert
        // store is fully committed — the q292 at-rest rationale)
        val refit = maxShift > 100.0
        if (refit) {
          // accumulated corpus, latest-wins: upserted ids take their new
          // vectors, everything else keeps the base corpus row
          val ups = s.read.parquet(upStore)
            .select(col("vec_id"), col("embedding"))
          val cur = emb.select(col("vec_id"), col("embedding"))
            .join(ups.select(col("vec_id").as("__u")),
              col("vec_id") === col("__u"), "left_anti")
            .unionByName(ups)
          // stride-deterministic refit (the staged model's own recipe,
          // re-run on the post-drift corpus) + full re-encode → gen 1
          val cent2 = cur.where(col("vec_id") % 100 === 0)
            .select(col("vec_id").as("cid"), col("embedding"))
          val cb2 = Similarity.pqCodebookByStride(
            Similarity.residuals(cur, cent2, "vec_id", "cid", "embedding"),
            "vec_id", "res", m = 4, subDim = 16, stride = 50)
          require(graft.util.GenStore.cycle(fs, root, gen = 1) { true } { p =>
            Similarity.residualIndex(cur, cent2, cb2,
                "vec_id", "cid", "embedding", m = 4, subDim = 16)
              .write.mode("overwrite").parquet(s"$p/index")
            cent2.write.mode("overwrite").parquet(s"$p/centroids")
            cb2.write.mode("overwrite").parquet(s"$p/codebooks")
          }, "refresh generation must publish")
        }
        (root, refit, maxShift)
      }
      def serve(root: String) = {
        val gen = graft.util.GenStore.currentPath(fs, root).get.toString
        ivfAdcGateServe(emb, Similarity.readIndexStore(s, s"$gen/index"),
          s.read.parquet(s"$gen/centroids"), s.read.parquet(s"$gen/codebooks"))
      }
      // CONTROL LAW: identity re-observations gauge exactly zero, no
      // refit, and the generation keeps serving pre-upsert answers. The
      // control arm's stores are deterministic (identity upserts, no
      // refit), so the arm STAGES once per JVM — the q293-control
      // discipline: the gauge-zero / no-refit laws run once per session
      // inside the staging closure; the serve-equality law below still
      // runs every pass
      val ctrlRoot = graft.util.Staging.dir("q299_ctrl_arm", dir) { p =>
        val (_, ctrlFired, ctrlShift) = arm("ctrl", p, ctrlBatch)
        require(!ctrlFired && ctrlShift == 0.0,
          s"identity re-observations must gauge zero drift and not refit " +
            s"(shift $ctrlShift)")
      } + "/gens"
      // the pointer invariant is CHEAP (one marker read) — re-check it
      // every pass, outside the staging closure, so a corrupted staged
      // arm can never serve silently from a later generation (the
      // gauge-zero/no-refit laws above run once per JVM by design)
      require(graft.util.GenStore.current(fs, ctrlRoot) == Some(0L),
        "control arm must stay on generation 0")
      // the pre-upsert answers come off the SAME staged artifact the
      // generations installed (parquet round trip of long/float columns
      // is exact — content-identical to the inline encode it replaces)
      val preUpsert = ivfAdcGateServe(emb,
        Similarity.readIndexStore(s, fullIdx), cent0, cb0)
      require(serve(ctrlRoot).collect().toSeq == preUpsert.collect().toSeq,
        "an unfired refresh must leave served answers untouched")
      // DRIFT arm: the gauge crosses, the refresh fires, generation 1 is
      // live, and serving it reproduces the from-scratch refit oracle —
      // LIVE per pass end to end (the gauge → refit → re-encode → flip
      // chain IS the subject)
      val (root, fired, shift) = arm("drift", scratch("q299_drift_arm"),
        driftBatch)
      require(fired && shift > 100.0,
        s"drifted re-observations must cross the gauge (shift $shift)")
      require(graft.util.GenStore.current(fs, root) == Some(1L),
        "drift arm must be serving generation 1")
      serve(root)
    }, Some(ivfAdcRefitOracle("vec_id % 9 = 8",
      "list_transform(range(1, len(vec) + 1), " +
        "i -> CASE WHEN i <= 8 THEN abs(vec[i]) ELSE vec[i] END)"))),


    // GENERATION-POINTER SERVE ACROSS A LIVE MAINTENANCE FLIP — the
    // concurrent-reader story StoreSwap's in-place protocol cannot give
    // (its steps 2-3 leave no root at all): a STREAMING serve answers
    // query micro-batches by resolving GenStore's pointer once per batch,
    // while maintenance publishes a new generation MID-STREAM in the same
    // session (after batch 0, from the between-batches seam a daemon
    // fires in). The flip is one atomic marker create, so the serve never
    // sees a missing or half-written store: batch 0 answers from
    // generation 0 (the 2/3-corpus index over vec_id % 3 <> 0), batch 1
    // from generation 1 (the full-corpus consolidation). Per-batch
    // membership and the generation each batch read are REQUIREd in-gate;
    // the returned frame carries (q_id, gen, …) rows gated against an
    // oracle whose serve side switches predicate exactly at the flip.
    ("q300_gen_pointer_serve", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val tmp = ivfIngestStaging(s, dir)
      val cent = readFixture(s, s"$tmp/centroids")
      val cb = readFixture(s, s"$tmp/codebooks")
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      // both generations' index CONTENT is a per-JVM staged artifact
      // (deterministic function of corpus + frozen model — q299's
      // rationale): the subject is the pointer protocol across a live
      // flip, not the encode; generations install by file copy while the
      // publish protocol (stage → rename → marker flip) runs live
      val fullIdx = frozenFullIndexStaging(s, dir)
      val part0Idx = graft.util.Staging.dir("q300_gen0_index", dir) { p =>
        Similarity.residualIndex(emb.where(col("vec_id") % 3 =!= 0),
            cent, cb, "vec_id", "cid", "embedding", m = 4, subDim = 16)
          .write.mode("overwrite").parquet(s"$p/index")
      } + "/index"
      val root = scratch("q300_gens")
      val outDir = scratch("q300_out")
      require(graft.util.GenStore.cycle(fs, root, gen = 0) { true } { p =>
        graft.util.DeltaStore.copyInto(fs, new Path(part0Idx),
          new Path(p, "index"))
      }, "generation 0 must publish")
      // query stream: two single-file micro-batches with id-determined
      // membership (the oracle's switch point must be statable in SQL)
      val qDir = orderedSliceStaging(s, dir, "q300_query_slices")(Seq(
        emb.where(col("vec_id") < 4).select(col("vec_id"), col("embedding")),
        emb.where(col("vec_id") >= 4 && col("vec_id") < 8)
          .select(col("vec_id"), col("embedding"))))
      val gensRead = // written on the stream thread, read after await
        new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
      val serveQ = s.readStream.schema("vec_id LONG, embedding ARRAY<FLOAT>")
        .option("maxFilesPerTrigger", 1).parquet(qDir)
        .writeStream.foreachBatch {
          (qbatch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              batchId: Long) =>
            // the READER protocol: resolve the pointer once per batch,
            // serve entirely within the resolved generation
            val gen = graft.util.GenStore.current(fs, root).get
            gensRead.add((batchId, gen))
            ivfAdcServe(qbatch.toDF(), Similarity.readIndexStore(s,
                s"${graft.util.GenStore.generationPath(root, gen)}/index"),
                cent, cb)
              .withColumn("gen", lit(gen))
              .write.mode("append").parquet(outDir)
            // the maintenance daemon, firing between serve batches: the
            // full-corpus consolidation goes live as generation 1 while
            // the stream is still running — readers flip at the marker
            if (batchId == 0L)
              require(graft.util.GenStore.cycle(fs, root, gen = 1) { true } { p =>
                graft.util.DeltaStore.copyInto(fs, new Path(fullIdx),
                  new Path(p, "index"))
              }, "mid-stream maintenance must publish generation 1")
        }
        .trigger(Trigger.AvailableNow()).start()
      serveQ.awaitTermination()
      val reads = {
        import scala.jdk.CollectionConverters._
        gensRead.iterator().asScala.toSeq.sortBy(_._1)
      }
      require(reads == Seq((0L, 0L), (1L, 1L)),
        s"serve must read gen 0 then gen 1 across the flip, got $reads")
      val out = s.read.parquet(outDir)
      // membership of each batch is id-determined by the staged slices —
      // require it so a file-source ordering deviation fails loudly
      require(out.where(col("gen") === 0 && col("q_id") >= 4).isEmpty &&
          out.where(col("gen") === 1 && col("q_id") < 4).isEmpty,
        "query slices served out of order against the staged batches")
      out.select(col("q_id"), col("gen"), col("rank"), col("n_id"),
          col("adist"))
        .orderBy(col("q_id"), col("rank"))
    }, Some(s"""
      SELECT q_id, gen, rank, n_id, adist FROM (
        SELECT CAST(0 AS BIGINT) AS gen, * FROM (${ivfAdcOracleFor(
          "a.n_id % 3 <> 0")}) WHERE q_id < 4
        UNION ALL
        SELECT CAST(1 AS BIGINT) AS gen, * FROM ($ivfAdcFullOracle)
          WHERE q_id >= 4)
      ORDER BY q_id, rank""")),


    // INGEST + SERVE IN ONE SESSION (read-committed isolation) — q296
    // served a store frozen before the stream started; this gate runs the
    // LIVE ingest and the serve in the SAME session with the generation
    // pointer as the isolation boundary: the in-loop maintenance seam
    // (beforeBatch, onlyBelow — the q292/q297 placement) consolidates the
    // COMMITTED deltas into a new generation and flips the pointer, and
    // every serve reads the pointer-resolved generation only — never the
    // live delta area, so never a half-written or replayable delta. The
    // ingest's micro-batch membership is id-determined (staged ordered
    // slices), so each serve's expected answer is a SQL predicate: serve
    // s (after batch s) sees exactly the vectors of batches < s. The
    // returned frame carries every serve's rows tagged by stage, gated
    // against a three-arm oracle whose serve predicate grows with the
    // committed prefix.
    ("q301_ingest_serve_committed", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val tmp = ivfIngestStaging(s, dir)
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val vDir = orderedSliceStaging(s, dir, "q301_vector_slices")(
        (0 until 3).map(i => emb.where(col("vec_id") % 3 === i)
          .select(col("vec_id"), col("embedding"))))
      // pinned-partition AQE-off gate session — the q270/q296/q304
      // discipline (|batch|-bounded deltas + model/store-sized compaction
      // and serve frames); partition count derived from the corpus size
      // (gatePartitions), every frame below lives on the gate session
      val s2 = gateSession(s, dir)
      val cent = readFixture(s2, s"$tmp/centroids")
      val cb = readFixture(s2, s"$tmp/codebooks")
      val emb2 = graft.util.EventTime.tsToLongNanos(
        readFixture(s2, s"$dir/embeddings.parquet"))
      val live = scratch("q301_live")
      val root = scratch("q301_gens")
      val outDir = scratch("q301_out")
      // the shared incremental publish: previous generation + one
      // latest-wins chunk of the newly committed deltas
      def publishCommitted(onlyBelow: Option[Long]): Unit =
        Similarity.indexStore(cap = 16L).publish(s2, live, root, onlyBelow)
      // the probe/LUT side is a pure function of (queries, frozen model) —
      // generation-INDEPENDENT — and every per-stage serve consumes it:
      // derive and pin it once (multi-ACTION reuse, the r16 pin rule)
      // instead of recomputing probes + per-probe residual LUTs per serve
      val qluts = graft.util.Caches.pin(
        Similarity.queryResidualLuts(emb2.where(col("vec_id") < 8),
          cent, cb, "vec_id", "cid", "embedding",
          m = 4, subDim = 16, nprobe = 2))
      def serveCommitted(stage: Long): Unit =
        graft.util.GenStore.currentPath(fs, root).foreach { gen =>
          Similarity.ivfPqResidualStoredTopKFromLuts(qluts,
              Similarity.readIndexStore(s2, gen.toString), k = 3)
            .withColumn("stage", lit(stage))
            .write.mode("append").parquet(outDir)
        }
      val q = Similarity.ingestIndexStream(
          s2.readStream.schema("vec_id LONG, embedding ARRAY<FLOAT>")
            .option("maxFilesPerTrigger", 1).parquet(vDir),
          cent, cb, "vec_id", "cid", "embedding", m = 4, subDim = 16)(
          Similarity.idempotentIndexSink(live,
            // committed prefix → generation, at the replay-safe seam
            beforeBatch = b => publishCommitted(Some(b)),
            // the serve side of the session: answers from the pointer —
            // batch b's OWN delta is durable here but uncommitted, and
            // the serve must not (and cannot) see it
            afterBatch = b => serveCommitted(b + 1)))
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      // stream done ⇒ all deltas committed: final maintenance + serve
      publishCommitted(None)
      serveCommitted(4L)
      // the id-determined membership the oracle states — loud if the
      // file source processed the staged slices out of order; asserted
      // from ONE aggregation over the whole store (per-delta row and
      // violation counts) instead of three per-delta collects
      val liveChk = s.read.parquet(live)
        .groupBy(col("delta").cast("long").as("__d"))
        .agg(count(lit(1)).as("__n"),
          count(when(col("n_id") % 3 =!= col("delta").cast("long"), lit(1)))
            .as("__bad"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
      (0 until 3).foreach { b =>
        val (n, bad) = liveChk.getOrElse(b.toLong, (0L, 0L))
        require(n > 0 && bad == 0,
          s"delta $b must hold exactly the vec_id % 3 == $b slice")
      }
      require(graft.util.GenStore.current(fs, root) == Some(2L),
        "final generation must cover every committed delta")
      val out = s.read.parquet(outDir)
      // serve 1 ran after batch 0 with nothing committed — no gen, no rows
      require(out.where(col("stage") === 1).isEmpty,
        "a serve before any commit must answer from no generation")
      out.select(col("stage"), col("q_id"), col("rank"), col("n_id"),
          col("adist"))
        .orderBy(col("stage"), col("q_id"), col("rank"))
    }, Some(s"""
      SELECT stage, q_id, rank, n_id, adist FROM (
        SELECT CAST(2 AS BIGINT) AS stage, * FROM (${ivfAdcOracleFor(
          "a.n_id % 3 = 0")})
        UNION ALL
        SELECT CAST(3 AS BIGINT) AS stage, * FROM (${ivfAdcOracleFor(
          "a.n_id % 3 <= 1")})
        UNION ALL
        SELECT CAST(4 AS BIGINT) AS stage, * FROM ($ivfAdcFullOracle))
      ORDER BY stage, q_id, rank""")),


    // TIME-BASED RETENTION — the time-keyed twin of q295's id tombstones:
    // production pipelines age data OUT, not just erase ids. The
    // maintenance policy gains a retention window keyed by the store's
    // own ingest clock (the batch-addressed delta id): deltas below the
    // window are EXCLUDED from the consolidation and removed with the
    // swap, and their presence FORCES the cycle to fire even under the
    // count threshold — retention is a correctness policy, not a layout
    // optimization. Three id-determined batches ingest; the window keeps
    // the last two; serving the swapped store must equal the full-model
    // index RESTRICTED to the surviving corpus (model frozen — aging out
    // training rows never refits an already-trained codebook, q232's
    // tombstone discipline). The control law rides along: a window
    // covering everything must leave answers untouched.
    ("q302_index_retention", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val tmp = ivfIngestStaging(s, dir)
      val vDir = orderedSliceStaging(s, dir, "q301_vector_slices")(
        (0 until 3).map(i => emb.where(col("vec_id") % 3 === i)
          .select(col("vec_id"), col("embedding"))))
      // pinned-partition AQE-off gate session — the q270/q296/q304
      // discipline, partition count derived from the corpus size
      val s2 = gateSession(s, dir)
      val cent = readFixture(s2, s"$tmp/centroids")
      val cb = readFixture(s2, s"$tmp/codebooks")
      val emb2 = graft.util.EventTime.tsToLongNanos(
        readFixture(s2, s"$dir/embeddings.parquet"))
      def ingest(storeDir: String): Unit = {
        val q = Similarity.ingestIndexStream(
            s2.readStream.schema("vec_id LONG, embedding ARRAY<FLOAT>")
              .option("maxFilesPerTrigger", 1).parquet(vDir),
            cent, cb, "vec_id", "cid", "embedding", m = 4, subDim = 16)(
            Similarity.idempotentIndexSink(storeDir))
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      def serve(storeDir: String) =
        ivfAdcGateServe(emb2, Similarity.readIndexStore(s2, storeDir), cent, cb)
      val storeDir = scratch("q302_store")
      ingest(storeDir)
      (0 until 3).foreach { b =>
        val ids = s2.read.parquet(s"$storeDir/delta=$b")
          .select(col("n_id")).collect().map(_.getLong(0)).toSet
        require(ids.nonEmpty && ids.forall(_ % 3 == b),
          s"delta $b must hold exactly the vec_id % 3 == $b slice")
      }
      // CONTROL LAW: a window covering every delta must not age anything
      // out — under the count threshold the cycle stays a no-op ...
      require(!Similarity.maintainIndexStore(s2, storeDir, maxDeltas = 10,
          cap = 16L, dropBelow = Some(0L)),
        "an all-covering retention window must not force a cycle")
      // ... and the aged-out arm FIRES below the count threshold: the
      // window keeps batches {1, 2}, batch 0 leaves with the swap
      require(Similarity.maintainIndexStore(s2, storeDir, maxDeltas = 10,
          cap = 16L, dropBelow = Some(1L)),
        "a delta outside the retention window must force the cycle")
      require(Similarity.indexStoreDeltas(s2, storeDir) == Seq(2L),
        "retention must leave ONE consolidated in-window delta")
      val raw = s2.read.parquet(storeDir)
      require(raw.where(col("n_id") % 3 === 0).isEmpty,
        "aged-out rows must leave the store with the swap")
      // the refused edge: a window aging out EVERYTHING fails loudly
      val err = try {
        Similarity.maintainIndexStore(s2, storeDir, maxDeltas = 1,
          cap = 16L, dropBelow = Some(3L)); false
      } catch { case _: IllegalArgumentException => true }
      require(err, "a store-emptying retention window must be refused")
      serve(storeDir)
    }, Some(ivfAdcOracleFor("a.n_id % 3 >= 1")))
  )
}
