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

/** Text analysis / curation: language-ID, quality scoring, Gopher
  * rules, TF-IDF (dense + sparse top-k join), n-gram novelty/repetition,
  * bigram-LM surprisal + perplexity buckets, PII redaction, curation
  * funnels (batch + streaming).
  *
  * Each entry is (name, query, oracle SQL) exactly as it sat in
  * SparkEntry's catalog before the per-family split; SparkEntry composes
  * the families back into the single driver-contract map.
  */
private[graft] object TextCatalog {

  val entries: Seq[(String, Q, Option[String])] = Seq(


    // ================================================================
    // Extension surface: text analysis + multimodal metadata
    // ================================================================

    ("q29_langid", (s, dir) => {
      // two projections: the marker-filter scores evaluate ONCE, and the
      // argmax reads the projected score_* columns (Catalyst keeps the
      // projects separate because the scores are non-cheap and multiply
      // referenced)
      T(s, dir, "documents")
        .select(
          (col("doc_id") +: col("lang").as("actual_lang") +:
            TextAnalysis.langScores("text")): _*)
        .select(col("*"),
          TextAnalysis.predictedLang("text", l => col(s"score_$l")).as("pred_lang"))
        .orderBy(col("doc_id"))
    }, Some("""
      WITH scored AS (
        SELECT doc_id, lang AS actual_lang,
          CAST(len(list_filter(string_split(text, ' '), w -> list_contains(['der','die','das','und'], w))) AS BIGINT) AS score_de,
          CAST(len(list_filter(string_split(text, ' '), w -> list_contains(['the','a','of','and'], w))) AS BIGINT) AS score_en,
          CAST(len(list_filter(string_split(text, ' '), w -> list_contains(['el','la','los','que'], w))) AS BIGINT) AS score_es,
          CAST(len(list_filter(string_split(text, ' '), w -> list_contains(['le','la','les','et'], w))) AS BIGINT) AS score_fr,
          CAST(len(list_filter(string_split(text, ' '), w -> list_contains(['de5','shi4','le5','zai4'], w))) AS BIGINT) AS score_zh
        FROM documents)
      SELECT doc_id, actual_lang, score_de, score_en, score_es, score_fr, score_zh,
        CASE WHEN greatest(score_de, score_en, score_es, score_fr, score_zh) = 0 THEN 'und'
             WHEN score_de = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'de'
             WHEN score_en = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'en'
             WHEN score_es = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'es'
             WHEN score_fr = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'fr'
             ELSE 'zh' END AS pred_lang
      FROM scored ORDER BY doc_id""")),


    ("q30_text_quality", (s, dir) => {
      T(s, dir, "documents")
        .select(col("doc_id") +: TextAnalysis.qualityColumns("text", "n_chars"): _*)
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
        CAST(len(list_filter(string_split(text, ' '), w -> list_contains(['the','a','of','and','to','in'], w))) AS BIGINT) AS n_stopwords,
        CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / len(string_split(text, ' ')) AS distinct_ratio,
        CAST(len(list_filter(string_split(text, ' '), w -> list_contains(['the','a','of','and','to','in'], w))) AS DOUBLE) / len(string_split(text, ' ')) AS stopword_ratio,
        CAST(n_chars - (len(string_split(text, ' ')) - 1) AS DOUBLE) / len(string_split(text, ' ')) AS avg_word_len
      FROM documents ORDER BY doc_id""")),


    ("q31_token_count", (s, dir) => {
      T(s, dir, "documents")
        .groupBy(col("source"))
        .agg(
          sum(size(split(col("text"), " ")).cast("long")).as("ws_tokens"),
          sum(TextAnalysis.regexTokenCount("text").cast("long")).as("re_tokens"))
        .orderBy(col("source"))
    }, Some("""
      SELECT source,
        CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
        CAST(SUM(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT) AS re_tokens
      FROM documents GROUP BY source ORDER BY source""")),


    ("q37_tfidf", (s, dir) => {
      TextAnalysis.tfIdf(T(s, dir, "documents"), "doc_id", "text", 3)
        .orderBy(col("doc_id"), col("rank"))
    }, Some("""
      WITH terms AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
      dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      scored AS (
        SELECT t.doc_id, t.term, t.tf, d.df,
          CAST(t.tf AS DOUBLE) * (CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) / d.df) AS score
        FROM tf t JOIN dfreq d USING (term)),
      ranked AS (
        SELECT *, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS INT) AS rank
        FROM scored)
      SELECT doc_id, rank, term, tf, df, score FROM ranked WHERE rank <= 3
      ORDER BY doc_id, rank""")),


    // Intra-doc repetition (duplicated-3-gram fraction): the boilerplate/
    // spam signal of published web-corpus quality heuristics.
    ("q52_repetition", (s, dir) => {
      TextAnalysis.repetitionStats(T(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH g AS (
        SELECT doc_id, unnest($trigramShinglesSql) AS gram
        FROM documents WHERE text IS NOT NULL),
      per AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2)
      SELECT doc_id,
             sum(c)::BIGINT AS n_grams,
             count(*) AS n_distinct_grams,
             (sum(c) - count(*))::DOUBLE / sum(c)::DOUBLE AS dup_frac
      FROM per GROUP BY doc_id ORDER BY doc_id""")),


    // Vocabulary build: global top-25 tokens by frequency (distributed
    // top-k — no global sort, no full-vocab window).
    ("q54_vocab_topk", (s, dir) => {
      TextAnalysis.vocabTopK(T(s, dir, "documents"), "text", 25)
        .orderBy(col("rank"))
    }, Some("""
      SELECT rank, token, cnt FROM (
        SELECT token, count(*) AS cnt,
               row_number() OVER (ORDER BY count(*) DESC, token) AS rank
        FROM (SELECT unnest(string_split(text, ' ')) AS token
              FROM documents WHERE text IS NOT NULL)
        WHERE token <> '' GROUP BY token)
      WHERE rank <= 25 ORDER BY rank""")),


    // Language-ID confusion matrix — the model-evaluation readout over
    // q29's classifier: cells from one hash agg on the |docs|-reduced
    // predictions, margins via two windows over the |langs|²-sized cell
    // table (the fact table is NOT re-scanned per margin). Recall and
    // precision shares are single divisions of exact BIGINTs.
    ("q143_lang_confusion", (s, dir) => {
      val cells = T(s, dir, "documents")
        .select(
          (col("doc_id") +: col("lang").as("actual_lang") +:
            TextAnalysis.langScores("text")): _*)
        .select(col("actual_lang"),
          TextAnalysis.predictedLang("text", l => col(s"score_$l")).as("pred_lang"))
        .groupBy(col("actual_lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
      val wa = Window.partitionBy(col("actual_lang"))
      val wp = Window.partitionBy(col("pred_lang"))
      cells.select(col("actual_lang"), col("pred_lang"), col("n"),
          sum(col("n")).over(wa).as("n_actual"),
          sum(col("n")).over(wp).as("n_pred"))
        .withColumn("recall_share",
          col("n").cast("double") / col("n_actual").cast("double"))
        .withColumn("precision_share",
          col("n").cast("double") / col("n_pred").cast("double"))
        .orderBy(col("actual_lang"), col("pred_lang"))
    }, Some("""
      WITH scored AS (
        SELECT doc_id, lang AS actual_lang,
          CAST(len(list_filter(string_split(text, ' '), w -> list_contains(['der','die','das','und'], w))) AS BIGINT) AS score_de,
          CAST(len(list_filter(string_split(text, ' '), w -> list_contains(['the','a','of','and'], w))) AS BIGINT) AS score_en,
          CAST(len(list_filter(string_split(text, ' '), w -> list_contains(['el','la','los','que'], w))) AS BIGINT) AS score_es,
          CAST(len(list_filter(string_split(text, ' '), w -> list_contains(['le','la','les','et'], w))) AS BIGINT) AS score_fr,
          CAST(len(list_filter(string_split(text, ' '), w -> list_contains(['de5','shi4','le5','zai4'], w))) AS BIGINT) AS score_zh
        FROM documents),
      pred AS (
        SELECT actual_lang,
          CASE WHEN greatest(score_de, score_en, score_es, score_fr, score_zh) = 0 THEN 'und'
               WHEN score_de = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'de'
               WHEN score_en = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'en'
               WHEN score_es = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'es'
               WHEN score_fr = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'fr'
               ELSE 'zh' END AS pred_lang
        FROM scored),
      cells AS (SELECT actual_lang, pred_lang, count(*) AS n FROM pred GROUP BY 1, 2)
      SELECT actual_lang, pred_lang, n,
        CAST(sum(n) OVER (PARTITION BY actual_lang) AS BIGINT) AS n_actual,
        CAST(sum(n) OVER (PARTITION BY pred_lang) AS BIGINT) AS n_pred,
        CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY actual_lang) AS BIGINT) AS recall_share,
        CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY pred_lang) AS BIGINT) AS precision_share
      FROM cells ORDER BY actual_lang, pred_lang""")),


    // Quality-gate funnel — the observability report every filtering
    // pipeline publishes: how many docs survive each CUMULATIVE gate
    // (length → token count → stopword evidence → distinct-token ratio).
    // ONE scan computes every gate as a conditional sum (the gates nest, so
    // later sums reuse the same row predicates); the 5-row result unpivots
    // driver-free via stack. Integer cross-multiplication for the ratio
    // gate — no float compare.
    ("q155_filter_funnel", (s, dir) => {
      val w = split(col("text"), " ")
      val sw = array(graft.ext.TextAnalysis.stopwords.map(lit): _*)
      val g1 = col("text").isNotNull && col("n_chars") >= 50
      val g2 = g1 && size(w) >= 10
      val g3 = g2 && arrays_overlap(w, sw)
      val g4 = g3 && size(array_distinct(w)) * 2 >= size(w)
      def cnt(c: Column): Column = sum(when(c, lit(1L)).otherwise(lit(0L)))
      T(s, dir, "documents")
        .agg(
          count(lit(1)).as("n_total"), cnt(g1).as("n1"), cnt(g2).as("n2"),
          cnt(g3).as("n3"), cnt(g4).as("n4"))
        .select(expr("""stack(5,
            'g0_total',     n_total, cast(n_total as double) / cast(n_total as double),
            'g1_length',    n1,      cast(n1 as double) / cast(n_total as double),
            'g2_tokens',    n2,      cast(n2 as double) / cast(n_total as double),
            'g3_stopwords', n3,      cast(n3 as double) / cast(n_total as double),
            'g4_distinct',  n4,      cast(n4 as double) / cast(n_total as double))
            AS (stage, n_pass, share)"""))
        .orderBy(col("stage"))
    }, Some("""
      WITH w AS (
        SELECT text, n_chars, string_split(text, ' ') AS ws FROM documents),
      g AS (
        SELECT count(*) AS n_total,
          CAST(sum(CASE WHEN text IS NOT NULL AND n_chars >= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
          CAST(sum(CASE WHEN text IS NOT NULL AND n_chars >= 50 AND len(ws) >= 10 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
          CAST(sum(CASE WHEN text IS NOT NULL AND n_chars >= 50 AND len(ws) >= 10
                        AND len(list_intersect(ws, ['the','a','of','and','to','in'])) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
          CAST(sum(CASE WHEN text IS NOT NULL AND n_chars >= 50 AND len(ws) >= 10
                        AND len(list_intersect(ws, ['the','a','of','and','to','in'])) > 0
                        AND len(list_distinct(ws)) * 2 >= len(ws) THEN 1 ELSE 0 END) AS BIGINT) AS n4
        FROM w)
      SELECT 'g0_total' AS stage, n_total AS n_pass,
             CAST(n_total AS DOUBLE) / CAST(n_total AS DOUBLE) AS share FROM g
      UNION ALL SELECT 'g1_length', n1, CAST(n1 AS DOUBLE) / CAST(n_total AS DOUBLE) FROM g
      UNION ALL SELECT 'g2_tokens', n2, CAST(n2 AS DOUBLE) / CAST(n_total AS DOUBLE) FROM g
      UNION ALL SELECT 'g3_stopwords', n3, CAST(n3 AS DOUBLE) / CAST(n_total AS DOUBLE) FROM g
      UNION ALL SELECT 'g4_distinct', n4, CAST(n4 AS DOUBLE) / CAST(n_total AS DOUBLE) FROM g
      ORDER BY stage""")),


    // Sequence-length histogram with cumulative token mass — the report
    // that sizes a packing configuration (q145): token counts bucketed at
    // width 64, each bucket's doc/token counts plus cumulative token share.
    // Integer sums feed every double division, and the windowed cumsum runs
    // over the |buckets|-sized reduction (single-partition is fine — and
    // exactly why the shares stay deterministic cross-engine).
    ("q156_seqlen_histogram", (s, dir) => {
      val b = T(s, dir, "documents")
        .where(col("text").isNotNull)
        .select((size(split(col("text"), " ")).cast("long")).as("nt"))
        .groupBy((floor(col("nt") / 64) * 64).as("bucket_lo"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
      val cum = Window.partitionBy().orderBy(col("bucket_lo"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = Window.partitionBy()
      b.select(col("bucket_lo"), col("n_docs"), col("n_tokens"),
          sum(col("n_tokens")).over(cum).as("cum_tokens"),
          sum(col("n_tokens")).over(tot).as("__tot"))
        .select(col("bucket_lo"), col("n_docs"), col("n_tokens"), col("cum_tokens"),
          (col("n_tokens").cast("double") / col("__tot").cast("double"))
            .as("token_share"),
          (col("cum_tokens").cast("double") / col("__tot").cast("double"))
            .as("cum_token_share"))
        .orderBy(col("bucket_lo"))
    }, Some("""
      WITH t AS (
        SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
        FROM documents WHERE text IS NOT NULL),
      b AS (
        SELECT (nt // 64) * 64 AS bucket_lo, count(*) AS n_docs,
               CAST(sum(nt) AS BIGINT) AS n_tokens
        FROM t GROUP BY 1),
      c AS (
        SELECT *,
          CAST(sum(n_tokens) OVER (ORDER BY bucket_lo
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
          CAST(sum(n_tokens) OVER () AS BIGINT) AS tot
        FROM b)
      SELECT bucket_lo, n_docs, n_tokens, cum_tokens,
             CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE) AS token_share,
             CAST(cum_tokens AS DOUBLE) / CAST(tot AS DOUBLE) AS cum_token_share
      FROM c ORDER BY bucket_lo""")),


    // Per-document n-gram novelty (corpus-unique gram share) — the
    // uniqueness/memorization-risk signal, computed on the same inverted
    // index as the Jaccard/decontamination operators: all work linear in
    // posting count, no pair space anywhere.
    ("q159_ngram_novelty", (s, dir) => {
      TextAnalysis.noveltyScores(T(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH docs AS (
        SELECT doc_id,
          list_distinct($trigramShinglesSql) AS sh
        FROM documents WHERE text IS NOT NULL),
      posts AS (SELECT doc_id, unnest(sh) AS g FROM docs),
      dfreq AS (SELECT g, count(*) AS df FROM posts GROUP BY g)
      SELECT doc_id, count(*) AS n_grams,
             CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
             CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS novelty
      FROM posts JOIN dfreq USING (g)
      GROUP BY doc_id ORDER BY doc_id""")),


    // Per-source boilerplate detection (C4-style cleaning signal): an
    // n-gram repeated across documents OF THE SAME SOURCE is
    // template/boilerplate text, not content. The corpus explodes once to
    // distinct per-doc shingles (the same inverted-index spine as
    // q25/q51/q159); within-source document frequency is one keyed reduce;
    // the per-doc share joins postings to flags BY (source, gram) — linear
    // in postings, no pair space anywhere. The df ≥ 2 floor is the
    // data-scaled knob (production corpora use a source-size fraction).
    ("q168_boilerplate_grams", (s, dir) => {
      val sh = T(s, dir, "documents")
        .withColumn("__words", split(col("text"), " "))
        .select(col("doc_id"), col("source"),
          explode(array_distinct(Dedup.shingles(col("text"), col("__words")))).as("g"))
      val flag = sh.groupBy(col("source"), col("g"))
        .agg(count(lit(1)).as("df"))
        .select(col("source").as("fs"), col("g").as("fg"), (col("df") >= 2).as("boiler"))
      sh.join(flag, col("source") === col("fs") && col("g") === col("fg"))
        .groupBy(col("doc_id"), col("source"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("boiler"), lit(1L)).otherwise(lit(0L))).as("n_boiler"))
        .select(col("doc_id"), col("source"), col("n_grams"), col("n_boiler"),
          (col("n_boiler").cast("double") / col("n_grams").cast("double")).as("boiler_share"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH sh AS (
        SELECT doc_id, source,
          unnest(list_distinct($trigramShinglesSql)) AS g
        FROM documents),
      gdf AS (SELECT source, g, CAST(count(*) AS BIGINT) AS df FROM sh GROUP BY 1, 2),
      flag AS (SELECT source, g, (df >= 2) AS boiler FROM gdf),
      per_doc AS (
        SELECT d.doc_id, d.source, CAST(count(*) AS BIGINT) AS n_grams,
          CAST(sum(CASE WHEN f.boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler
        FROM sh d JOIN flag f ON d.source = f.source AND d.g = f.g
        GROUP BY 1, 2)
      SELECT doc_id, source, n_grams, n_boiler,
        CAST(n_boiler AS DOUBLE) / n_grams AS boiler_share
      FROM per_doc ORDER BY doc_id""")),


    // Per-language adaptive quality gate — the real shape of a corpus
    // quality filter: instead of one global threshold (which would gut
    // low-resource languages), rank documents WITHIN each language by a
    // quality score and drop the bottom fifth. The gate itself is exact
    // integer arithmetic (5·(rn−1) ≥ n−1 ⇔ percent_rank ≥ 0.2 under a
    // total order), so no float comparison decides membership; the score
    // (q30's distinct_ratio) is a single IEEE division — bit-exact in both
    // engines. One shuffle (partition by lang) + per-partition sort; at
    // 100 TB the same report swaps the full sort for a percentile_approx
    // threshold with bounded rank error — the exact form here is the oracle
    // for that approximation.
    ("q169_quality_gate", (s, dir) => {
      // null texts are excluded explicitly: their score would be NULL, and
      // Spark's ASC ordering puts NULLs first while DuckDB defaults to
      // NULLS LAST — the filter pins one cross-engine kept-set
      val sc = T(s, dir, "documents")
        .where(col("text").isNotNull)
        .select(col("doc_id"), col("lang"),
        (size(array_distinct(split(col("text"), " "))).cast("double") /
          size(split(col("text"), " ")).cast("double")).as("score"))
      val w = Window.partitionBy(col("lang")).orderBy(col("score").asc, col("doc_id").asc)
      sc.withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("nd", count(lit(1)).over(Window.partitionBy(col("lang"))))
        .where((col("rn") - 1) * 5 >= col("nd") - 1)
        .groupBy(col("lang"))
        .agg(max(col("nd")).as("n_docs"), count(lit(1)).as("n_kept"),
          min(col("score")).as("cut_score"))
        .orderBy(col("lang"))
    }, Some("""
      WITH sc AS (
        SELECT doc_id, lang,
          CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) /
            len(string_split(text, ' ')) AS score
        FROM documents WHERE text IS NOT NULL),
      rk AS (
        SELECT *, CAST(row_number() OVER (PARTITION BY lang ORDER BY score, doc_id) AS BIGINT) AS rn,
          CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS nd
        FROM sc),
      kept AS (SELECT * FROM rk WHERE (rn - 1) * 5 >= nd - 1)
      SELECT lang, CAST(max(nd) AS BIGINT) AS n_docs, CAST(count(*) AS BIGINT) AS n_kept,
        min(score) AS cut_score
      FROM kept GROUP BY lang ORDER BY lang""")),


    // Skip-gram pair extraction (window ±2) — the word2vec/embedding
    // pre-training data prep op: context pairs are emitted PER ROW with
    // array HOFs (the q25-family precedent: CPU-only, no corpus shuffle —
    // the alternative posexplode + two shifted self-joins pays two
    // corpus-wide exchanges) and reduce onto the Zipf-small pair domain
    // with map-side combine. Both `sequence` calls are guarded: Spark's
    // sequence(1, 0) DESCENDS instead of being empty.
    ("q171_skipgram_pairs", (s, dir) => {
      val w = T(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
      val p1 = when(size(col("ws")) >= 2, expr(
        "transform(sequence(1, size(ws) - 1), i -> concat(element_at(ws, i), '|', element_at(ws, i + 1)))"))
        .otherwise(expr("cast(array() as array<string>)"))
      val p2 = when(size(col("ws")) >= 3, expr(
        "transform(sequence(1, size(ws) - 2), i -> concat(element_at(ws, i), '|', element_at(ws, i + 2)))"))
        .otherwise(expr("cast(array() as array<string>)"))
      w.select(explode(concat(p1, p2)).as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
        .withColumn("rank",
          row_number().over(Window.orderBy(col("cnt").desc, col("pair"))).cast("int"))
        .where(col("rank") <= 40)
        .select(col("rank"), col("pair"), col("cnt"))
        .orderBy(col("rank"))
    }, Some("""
      WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      pairs AS (
        SELECT unnest(flatten([
          CASE WHEN len(ws) >= 2
            THEN list_transform(range(1, len(ws)), i -> concat(ws[i], '|', ws[i + 1]))
            ELSE [] END,
          CASE WHEN len(ws) >= 3
            THEN list_transform(range(1, len(ws) - 1), i -> concat(ws[i], '|', ws[i + 2]))
            ELSE [] END])) AS pair
        FROM w),
      agg AS (SELECT pair, CAST(count(*) AS BIGINT) AS cnt FROM pairs GROUP BY pair),
      ranked AS (
        SELECT pair, cnt, CAST(row_number() OVER (ORDER BY cnt DESC, pair) AS INT) AS rank
        FROM agg)
      SELECT rank, pair, cnt FROM ranked WHERE rank <= 40 ORDER BY rank""")),


    // Per-language discriminative vocabulary by smoothed odds ratio — the
    // keyword-extraction sibling of TF-IDF (q37) that needs NO logarithm
    // (ln/exp are not cross-engine bit-stable): odds = c·(N−N_l) /
    // ((c_g−c+1)·N_l), every factor an exact BIGINT < 2^53 so the single
    // double division is IEEE-exact in both engines. One corpus reduce to
    // (lang, word) counts; the global word table and the 1-row total join
    // back onto that Zipf-small frame, never the corpus.
    ("q172_lang_keywords", (s, dir) => {
      val wc = T(s, dir, "documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("word"))
        .where(col("word") =!= "")
        .groupBy(col("lang"), col("word")).agg(count(lit(1)).as("c"))
      val tot = wc.groupBy(col("lang").as("tl")).agg(sum(col("c")).as("nl"))
      val gw = wc.groupBy(col("word").as("gword")).agg(sum(col("c")).as("cg"))
      val gn = wc.agg(sum(col("c")).as("n"))
      wc.join(tot, col("lang") === col("tl"))
        .join(gw, col("word") === col("gword"))
        .crossJoin(gn)
        .select(col("lang"), col("word"), col("c"),
          ((col("c").cast("double") * (col("n") - col("nl"))) /
            ((col("cg") - col("c") + 1).cast("double") * col("nl"))).as("odds_ratio"))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("lang"))
            .orderBy(col("odds_ratio").desc, col("word"))).cast("int"))
        .where(col("rank") <= 10)
        .orderBy(col("lang"), col("rank"))
    }, Some("""
      WITH wc AS (
        SELECT lang, word, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents) t
        WHERE word <> '' GROUP BY lang, word),
      tot AS (SELECT lang, CAST(sum(c) AS BIGINT) AS nl FROM wc GROUP BY lang),
      gw AS (SELECT word, CAST(sum(c) AS BIGINT) AS cg FROM wc GROUP BY word),
      gn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM wc),
      odds AS (
        SELECT w.lang, w.word, w.c,
          (CAST(w.c AS DOUBLE) * (n.n - t.nl)) /
            (CAST(g.cg - w.c + 1 AS DOUBLE) * t.nl) AS odds_ratio
        FROM wc w
        JOIN tot t ON w.lang = t.lang
        JOIN gw g ON w.word = g.word
        CROSS JOIN gn n),
      ranked AS (
        SELECT *, CAST(row_number() OVER (PARTITION BY lang ORDER BY odds_ratio DESC, word) AS INT) AS rank
        FROM odds)
      SELECT lang, rank, word, c, odds_ratio FROM ranked WHERE rank <= 10
      ORDER BY lang, rank""")),


    // PII redaction gate: every document gets deterministic synthetic PII
    // (an email, an IPv4, a spaced 16-digit card number — all derived from
    // doc_id, so both engines construct identical text) appended, then
    // TextAnalysis.redactPii masks them. The gate hash-compares the full
    // redacted text via md5 plus the mask count, so the three regexes'
    // exact span semantics (Java regex in Spark, RE2 in DuckDB — patterns
    // restricted to the common leftmost/greedy subset) are pinned end to
    // end. Per-row codegen'd regexp chain: no shuffle, linear scan — the
    // shape a 100 TB scrub pass needs.
    ("q182_pii_redaction", (s, dir) => {
      val salted = T(s, dir, "documents").select(col("doc_id"),
        piiSalt(col("text"), col("doc_id")).as("text"))
      salted.select(col("doc_id"),
          TextAnalysis.redactPii(col("text")).as("__red"))
        .select(col("doc_id"),
          length(col("__red")).as("n_chars_redacted"),
          ((length(col("__red")) - length(regexp_replace(col("__red"),
            "\\[PII\\]", ""))) / lit(5)).cast("long").as("n_masks"),
          md5(col("__red")).as("redacted_key"))
        .orderBy(col("doc_id"))
    }, Some("""
      WITH s AS (
        SELECT doc_id, text || ' contact user' || doc_id ||
          '@mail.example.org from ' || (doc_id % 256) || '.16.32.' ||
          ((doc_id * 7) % 256) || ' card 4111 2222 3333 ' ||
          lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
        FROM documents),
      r AS (
        SELECT doc_id,
          regexp_replace(regexp_replace(regexp_replace(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[PII]', 'g'),
            '\b(?:\d{1,3}\.){3}\d{1,3}\b', '[PII]', 'g'),
            '\b\d(?:[ .-]?\d){8,}\b', '[PII]', 'g') AS red
        FROM s)
      SELECT doc_id, CAST(len(red) AS BIGINT) AS n_chars_redacted,
        CAST((len(red) - len(replace(red, '[PII]', ''))) / 5 AS BIGINT)
          AS n_masks,
        md5(red) AS redacted_key
      FROM r ORDER BY doc_id""")),


    // End-to-end curation pipeline — the composition the engine exists
    // for, as ONE gated dataflow: quality gate (≥ 20 tokens) → exact dedup
    // (keep-min per distinct text: one text-keyed hash agg) → PII scrub
    // (q182's deterministic salt so the redaction regexes do real work) →
    // segment-level dedup + reassembly (q178). Every stage is an
    // already-gated operator; the gate here pins that they COMPOSE — each
    // stage's output schema/determinism contract feeds the next with no
    // collect, no recompute, one linear plan. Output stays compact: per
    // surviving doc, segment counts + md5 of the reassembled text.
    ("q189_curation_pipeline", (s, dir) => {
      val q = T(s, dir, "documents")
        .where(size(split(col("text"), " ")) >= 20)
      val uniq = q.groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
      val red = uniq.select(col("doc_id"),
        TextAnalysis.redactPii(piiSalt(col("text"), col("doc_id"))).as("text"))
      Dedup.segmentDedup(red, "doc_id", "text", 32)
        .select(col("doc_id"), col("n_segs"), col("n_kept"),
          length(col("text_dedup")).as("n_chars_kept"),
          md5(col("text_dedup")).as("dedup_key"))
        .orderBy(col("doc_id"))
    }, Some("""
      WITH kq AS (
        SELECT doc_id, text FROM documents
        WHERE len(string_split(text, ' ')) >= 20),
      u AS (SELECT min(doc_id) AS doc_id, text FROM kq GROUP BY text),
      sal AS (
        SELECT doc_id, text || ' contact user' || doc_id ||
          '@mail.example.org from ' || (doc_id % 256) || '.16.32.' ||
          ((doc_id * 7) % 256) || ' card 4111 2222 3333 ' ||
          lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t0
        FROM u),
      r AS (
        SELECT doc_id,
          regexp_replace(regexp_replace(regexp_replace(t0,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[PII]', 'g'),
            '\b(?:\d{1,3}\.){3}\d{1,3}\b', '[PII]', 'g'),
            '\b\d(?:[ .-]?\d){8,}\b', '[PII]', 'g') AS text
        FROM sal),
      t AS (
        SELECT doc_id, string_split(text, ' ') AS toks,
               len(string_split(text, ' ')) AS n
        FROM r WHERE text IS NOT NULL),
      inst AS (
        SELECT doc_id, CAST(start // 32 AS BIGINT) AS pos,
          array_to_string(list_slice(toks, start + 1, start + 32), ' ') AS seg
        FROM (SELECT doc_id, toks, n,
                unnest(generate_series(0, n - 1, 32)) AS start FROM t)),
      h AS (
        SELECT doc_id, pos, seg,
          ('0x' || substr(md5(seg), 1, 12))::BIGINT AS wh
        FROM inst),
      own AS (
        SELECT wh, min(doc_id * 1048576 + pos) AS owner_key FROM h GROUP BY wh),
      kept AS (
        SELECT h.doc_id, h.pos, h.seg
        FROM h JOIN own ON h.wh = own.wh
        WHERE h.doc_id * 1048576 + h.pos = own.owner_key),
      tot AS (SELECT doc_id, count(*) AS n_segs FROM inst GROUP BY doc_id),
      reb AS (
        SELECT doc_id, count(*) AS n_kept,
          string_agg(seg, ' ' ORDER BY pos) AS td
        FROM kept GROUP BY doc_id)
      SELECT tot.doc_id, tot.n_segs,
        coalesce(reb.n_kept, 0) AS n_kept,
        CAST(len(coalesce(reb.td, '')) AS BIGINT) AS n_chars_kept,
        md5(coalesce(reb.td, '')) AS dedup_key
      FROM tot LEFT JOIN reb ON tot.doc_id = reb.doc_id
      ORDER BY tot.doc_id""")),


    // Conditional bigram-LM surprisal scoring — the exact-arithmetic
    // sibling of KenLM-perplexity quality filtering: a doc's signal is the
    // fraction of its bigram instances whose corpus-conditional probability
    // P(w2|w1) < 1/20. Counts stay integral (no floating log-prob sums
    // whose addition order could drift between engines); the one division
    // happens last.
    ("q194_bigram_lm", (s, dir) => {
      TextAnalysis.bigramSurprisal(T(s, dir, "documents"), "doc_id", "text", k = 20)
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH ${bigramSurprisalCtes}
      SELECT d.doc_id,
             coalesce(p.n_bigrams, 0) AS n_bigrams,
             coalesce(p.n_rare, 0) AS n_rare,
             CASE WHEN p.n_bigrams > 0
               THEN p.n_rare::DOUBLE / p.n_bigrams ELSE NULL END AS rare_frac
      FROM documents d LEFT JOIN per p USING (doc_id)
      WHERE d.text IS NOT NULL
      ORDER BY d.doc_id""")),


    // Perplexity-bucketed quality filtering — the CCNet discipline (Wenzek
    // et al.: score the corpus with a language model, split into exact
    // head/middle/tail terciles, keep head+middle) over q194's integral
    // bigram-LM surprisal instead of a KenLM binary. The tercile cut uses
    // GlobalCumsum.ntile (two-phase spine — no single-partition sort), so
    // the thresholds are exact ORDER STATISTICS of the corpus, not sketch
    // quantiles: the bucket boundary is reproducible and hash-gateable.
    // rare_frac's single trailing division is IEEE-exact in both engines;
    // ties (shared rare_frac) break by doc_id so the total order is total.
    // Zero-bigram docs carry no signal and are excluded before ranking
    // (also pins away the Spark-nulls-first / DuckDB-nulls-last split).
    ("q210_perplexity_buckets", (s, dir) => {
      val scored = TextAnalysis.bigramSurprisal(
          T(s, dir, "documents"), "doc_id", "text", k = 20)
        .where(col("n_bigrams") > 0)
      graft.analytics.GlobalCumsum.ntile(scored,
          Seq(col("rare_frac"), col("doc_id")), 3, "bucket")
        .select(col("doc_id"), col("n_bigrams"), col("n_rare"),
          col("rare_frac"), col("bucket"), (col("bucket") <= 2).as("kept"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH ${bigramSurprisalCtes},
      ranked AS (
        SELECT doc_id, n_bigrams, n_rare,
               n_rare::DOUBLE / n_bigrams AS rare_frac,
               CAST(ntile(3) OVER (ORDER BY n_rare::DOUBLE / n_bigrams, doc_id)
                 AS BIGINT) AS bucket
        FROM per WHERE n_bigrams > 0)
      SELECT doc_id, n_bigrams, n_rare, rare_frac, bucket,
             bucket <= 2 AS kept
      FROM ranked ORDER BY doc_id""")),


    // Gopher composite quality filter (Rae et al. 2021, Appendix A): the
    // published rule set as ONE auditable operator — word-count bounds,
    // mean-word-length window, stopword floor, alphabetic-word floor,
    // duplicate-3-gram ceiling — with every signal, every per-rule
    // verdict, and the composite keep in the row (a bare boolean cannot
    // explain WHY a document died). All ratios are single divisions of
    // integer counts, so the verdicts hash-gate bit-exact.
    ("q217_gopher_rules", (s, dir) => {
      TextAnalysis.gopherRules(T(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH ${gopherSignalCtes}
      SELECT sc.doc_id, sc.n_words, sc.avg_word_len, sc.stopword_ratio,
        sc.alpha_ratio, rep.dup_frac,
        sc.n_words >= 50 AND sc.n_words <= 100000 AS words_ok,
        sc.avg_word_len >= 3.0 AND sc.avg_word_len <= 10.0 AS length_ok,
        sc.stopword_ratio >= 0.06 AS stop_ok,
        sc.alpha_ratio >= 0.8 AS alpha_ok,
        rep.dup_frac <= 0.2 AS rep_ok,
        (sc.n_words >= 50 AND sc.n_words <= 100000)
          AND (sc.avg_word_len >= 3.0 AND sc.avg_word_len <= 10.0)
          AND sc.stopword_ratio >= 0.06 AND sc.alpha_ratio >= 0.8
          AND rep.dup_frac <= 0.2 AS keep
      FROM sc JOIN rep USING (doc_id)
      ORDER BY sc.doc_id""")),


    // Gopher's full per-n repetition signal family (top n-gram char
    // fraction + duplicated n-gram char fraction for n = 2, 3, 4): one
    // corpus pass with the n values exploded alongside the grams, exact
    // BIGINT char mass, divisions last — q217's composite filter uses one
    // dup signal; this is the per-n audit the paper actually thresholds.
    ("q220_ngram_repetition", (s, dir) => {
      TextAnalysis.ngramRepetition(T(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"), col("n"))
    }, Some("""
      WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS ws
        FROM documents WHERE text IS NOT NULL),
      nn AS (SELECT unnest([2, 3, 4]) AS n),
      g AS (
        SELECT doc_id, n,
          unnest(list_transform(generate_series(1, len(ws) - n + 1),
            i -> array_to_string(ws[i : i + n - 1], ' '))) AS g
        FROM t CROSS JOIN nn WHERE len(ws) >= n),
      c AS (SELECT doc_id, n, g, count(*) AS c FROM g GROUP BY 1, 2, 3),
      agg AS (
        SELECT doc_id, n,
          CAST(sum(c) AS BIGINT) AS n_grams,
          CAST(sum(c * len(g)) AS BIGINT) AS total_chars,
          CAST(sum(CASE WHEN c >= 2 THEN c * len(g) ELSE 0 END) AS BIGINT) AS dup_chars
        FROM c GROUP BY 1, 2),
      top AS (
        SELECT doc_id, n, g AS top_gram, c * len(g) AS top_chars FROM (
          SELECT *, row_number() OVER (PARTITION BY doc_id, n ORDER BY c DESC, g) AS rn
          FROM c) WHERE rn = 1)
      SELECT agg.doc_id, agg.n, agg.n_grams, top.top_gram,
        top.top_chars::DOUBLE / agg.total_chars AS top_frac,
        agg.dup_chars::DOUBLE / agg.total_chars AS dup_frac
      FROM agg JOIN top USING (doc_id, n) ORDER BY doc_id, n""")),


    // Sparse TF-IDF top-k neighbors — the inverted-index dual of the dense
    // ANN family: pairs exist only where docs SHARE a 3-gram shingle (df
    // between 2 and 50 — the stopword prune that also bounds posting
    // fan-out), scored by the exact-BIGINT Σ tf_a·tf_b·(N div df)², so the
    // commutative integer sum hash-gates across engines with no fold-order
    // discipline needed.
    ("q222_sparse_tfidf_topk", (s, dir) => {
      TextAnalysis.sparseTfIdfTopK(T(s, dir, "documents"), "doc_id", "text",
          k = 5, maxDf = 50L)
        .orderBy(col("doc_id"), col("rank"))
    }, Some(s"""
      WITH docs AS (
        SELECT doc_id,
          $trigramShinglesSql AS sh
        FROM documents WHERE text IS NOT NULL),
      tf AS (
        SELECT doc_id, t, count(*)::BIGINT AS tf
        FROM (SELECT doc_id, unnest(sh) AS t FROM docs) GROUP BY 1, 2),
      dfr AS (
        SELECT t, count(*)::BIGINT AS df FROM tf
        GROUP BY t HAVING count(*) BETWEEN 2 AND 50),
      n AS (SELECT count(*)::BIGINT AS n FROM docs),
      posts AS (
        SELECT tf.doc_id, tf.t, tf.tf, (n.n // dfr.df) AS w
        FROM tf JOIN dfr USING (t) CROSS JOIN n),
      pairs AS (
        SELECT a.doc_id AS ida, b.doc_id AS idb,
          CAST(sum(a.tf * b.tf * a.w * a.w) AS BIGINT) AS score
        FROM posts a JOIN posts b ON a.t = b.t AND a.doc_id <> b.doc_id
        GROUP BY 1, 2)
      SELECT ida AS doc_id, idb AS neighbor_id, score, rank FROM (
        SELECT *, CAST(row_number() OVER (
          PARTITION BY ida ORDER BY score DESC, idb) AS INT) AS rank
        FROM pairs)
      WHERE rank <= 5 ORDER BY doc_id, rank""")),


    // Curation attrition / UpSet report over a 3-stage filter pipeline
    // (language gate → Gopher quality → exact-dup keeper): ONE hash
    // aggregation keyed by the verdict combination gives the overlap
    // counts AND retained char mass, plus funnel_depth = leading stages
    // survived (the sequential attrition curve is a rollup of this
    // frame). The exchange carries ≤ 2^3 rows; verdict computation is
    // the existing operators' plans unchanged.
    ("q227_curation_funnel", (s, dir) => {
      val docs = T(s, dir, "documents")
      val quality = TextAnalysis.gopherRules(docs, "doc_id", "text")
        .select(col("doc_id"), col("keep").as("v_quality"))
      val keepers = Dedup.exactDupGroups(docs, "doc_id",
          md5(col("text").cast("binary")))
        .select(col("keep_id").as("doc_id"), lit(true).as("v_dedup"))
      val verdicts = docs
        .select(col("doc_id"),
          coalesce(col("lang") === "en", lit(false)).as("v_lang"),
          col("n_chars"))
        .join(quality, Seq("doc_id"), "left")
        .join(keepers, Seq("doc_id"), "left")
      ext.Profiling.attritionReport(verdicts,
          Seq("v_lang", "v_quality", "v_dedup"), Some("n_chars"))
        .orderBy(col("v_lang"), col("v_quality"), col("v_dedup"))
    }, Some(curationFunnelOracle)),


    // q227's attrition report computed ON THE STREAM: quality verdicts are
    // the stateless ROWWISE Gopher projection (filter-on-ingest — law-
    // tested ≡ the grouped form), the dedup verdict is a stream-static
    // join against the precomputed keeper store (the q188 discipline: the
    // store is an ingest-time artifact that pre-exists the stream), and
    // the funnel itself is the one stateful op — a ≤8-group streaming
    // aggregation in complete mode. Gated on q227's oracle VERBATIM.
    ("q228_stream_curation_funnel", (s, dir) => {
      val docs = T(s, dir, "documents")
      val tmp = graft.util.Staging.dir("q228_docs", dir) { p =>
        docs.select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
          .repartition(8).write.mode("overwrite").parquet(s"$p/stream")
        Dedup.exactDupGroups(docs, "doc_id", md5(col("text").cast("binary")))
          .select(col("keep_id").as("doc_id"), lit(true).as("v_dedup"))
          .write.mode("overwrite").parquet(s"$p/store")
      }
      val store = readFixture(s, s"$tmp/store")
      val stream = s.readStream
        .schema("doc_id LONG, text STRING, lang STRING, n_chars LONG")
        .parquet(s"$tmp/stream")
      val verdicts = TextAnalysis.gopherRulesRowwise(stream, "text")
        .select(col("doc_id"),
          coalesce(col("lang") === "en", lit(false)).as("v_lang"),
          col("keep").as("v_quality"), col("n_chars"))
        .join(store, Seq("doc_id"), "left")
      memorySinkRows(s, ext.Profiling.attritionReport(verdicts,
          Seq("v_lang", "v_quality", "v_dedup"), Some("n_chars")),
        "graft_stream_funnel", "complete")
        .orderBy(col("v_lang"), col("v_quality"), col("v_dedup"))
    }, Some(curationFunnelOracle)),


    // Vocabulary coverage curve — the tokenizer budget-planning audit:
    // what fraction of all token instances the k most frequent types
    // claim, per rank. Integral masses, one final division; the running
    // sum windows over the k SURVIVING rows only.
    ("q230_vocab_coverage", (s, dir) => {
      TextAnalysis.vocabCoverage(T(s, dir, "documents"), "text", k = 25)
        .orderBy(col("rank"))
    }, Some("""
      WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS token
        FROM documents WHERE text IS NOT NULL),
      counts AS (
        SELECT token, count(*)::BIGINT AS cnt FROM toks
        WHERE token <> '' GROUP BY token),
      total AS (SELECT sum(cnt)::BIGINT AS t FROM counts),
      top AS (
        SELECT token, cnt,
          CAST(row_number() OVER (ORDER BY cnt DESC, token) AS INT) AS rank,
          sum(cnt) OVER (ORDER BY cnt DESC, token
            ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_cnt
        FROM counts ORDER BY cnt DESC, token LIMIT 25)
      SELECT rank, token, cnt, cum_cnt,
        CAST(cum_cnt AS DOUBLE) / total.t AS coverage
      FROM top CROSS JOIN total ORDER BY rank""")),

    // BM25 ranked retrieval — the lexical scorer of a hybrid search
    // stack next to the ANN rungs: query terms are the 4 most selective
    // tokens appearing in ≥ 10 docs (deterministic, derived from the
    // corpus), idf is the exact BIGINT N div df surrogate, k1/b are
    // dyadic (1.25/0.75) so every blend is an exact IEEE double, and the
    // per-doc term sum folds in sorted term order — the whole score
    // replays bit for bit.
    ("q266_bm25", (s, dir) => {
      val docs = T(s, dir, "documents")
      val toks = docs.where(col("text").isNotNull)
        .select(col("doc_id"), explode(TextAnalysis.words(col("text"))).as("t"))
        .where(col("t") =!= "")
      val terms = toks.distinct()
        .groupBy(col("t")).agg(count(lit(1)).as("adf"))
        .where(col("adf") >= 10)
        .orderBy(col("adf"), col("t")).limit(4)
        .select(col("t")).collect().map(_.getString(0)).toSeq
      TextAnalysis.bm25TopK(docs, "doc_id", "text", terms, topK = 10)
        .orderBy(col("rank"))
    }, Some("""
      WITH toks AS (
        SELECT doc_id, unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS t
        FROM documents WHERE text IS NOT NULL),
      dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM toks GROUP BY 1),
      stats AS (SELECT count(*)::BIGINT AS n, CAST(sum(dl) AS BIGINT) AS tot FROM dl),
      qt AS (
        SELECT t FROM (
          SELECT t, count(*)::BIGINT AS adf
          FROM (SELECT DISTINCT doc_id, t FROM toks) GROUP BY t)
        WHERE adf >= 10 ORDER BY adf, t LIMIT 4),
      tf AS (
        SELECT doc_id, t, count(*)::BIGINT AS tfv FROM toks
        WHERE t IN (SELECT t FROM qt) GROUP BY 1, 2),
      dfq AS (SELECT t, count(*)::BIGINT AS df FROM tf GROUP BY 1),
      term_scores AS (
        SELECT tf.doc_id, tf.t,
          (n // df)::DOUBLE * (tfv::DOUBLE * 2.25) /
            (tfv::DOUBLE + 1.25 * (0.25 + 0.75 *
              (dl::DOUBLE / (tot::DOUBLE / n::DOUBLE)))) AS s
        FROM tf JOIN dfq USING (t) JOIN dl USING (doc_id) CROSS JOIN stats),
      sc AS (
        SELECT doc_id,
          list_sum(list_transform(
            list(struct_pack(t := t, s := s) ORDER BY t), x -> x.s)) AS score
        FROM term_scores GROUP BY doc_id)
      SELECT doc_id, CAST(rn AS INT) AS rank, score FROM (
        SELECT doc_id, score,
          row_number() OVER (ORDER BY score DESC, doc_id) AS rn FROM sc)
      WHERE rn <= 10 ORDER BY rank""")),

    // Hybrid retrieval: per-query BM25 (each query doc's 4 most
    // distinctive terms by exact tf·idf-surrogate weight) fused with the
    // vector arm (exact cosine top-10, 1:1 vec_id↔doc_id) by Reciprocal
    // Rank Fusion, rrf = Σ 1/(60 + rank) — the production shape where
    // lexical and semantic recall cover each other's misses. Every
    // number is a sum of exact IEEE divisions of integers, so the fusion
    // replays bit for bit; both arms' rank ≤ k collapse to keyed
    // WindowGroupLimit pushdowns.
    ("q268_hybrid_rrf", (s, dir) => {
      val docs = T(s, dir, "documents")
      val emb = T(s, dir, "embeddings")
      val queries = docs.where(col("doc_id") < 6)
        .select(col("doc_id").as("q_id"), col("text"))
        .join(emb.select(col("vec_id").as("q_id"), col("embedding")), Seq("q_id"))
      TextAnalysis.hybridRrfTopK(docs, "doc_id", "text",
          emb, "vec_id", "embedding", queries,
          kArm = 10, kOut = 5, nTerms = 4)
        .orderBy(col("q_id"), col("rank"))
    }, Some(hybridRrfOracle)),

    // The RAG serving pipeline end to end, ONE gated plan: hybrid
    // retrieval (q268's BM25 + vector arms, RRF-fused rel), MMR
    // diversification over the fused candidate set (mmrSelect — the
    // split that makes ANY recall arm feed the greedy stage), then the
    // 192-token context-budget fill in selection order (q259's
    // discipline). The oracle chains all three replays — fusion CTEs,
    // the state-carrying MMR recursion, the windowed cumsum — in one
    // statement.
    ("q269_rag_pipeline", (s, dir) => {
      val docs = T(s, dir, "documents")
      val emb = T(s, dir, "embeddings")
      val queries = docs.where(col("doc_id") < 6)
        .select(col("doc_id").as("q_id"), col("text"))
        .join(emb.select(col("vec_id").as("q_id"), col("embedding")), Seq("q_id"))
      // kOut = 20 ≥ the union of both 10-deep arms: the FULL fused
      // candidate set feeds diversification, no premature rank cut
      val fused = TextAnalysis.hybridRrfTopK(docs, "doc_id", "text",
          emb, "vec_id", "embedding", queries,
          kArm = 10, kOut = 20, nTerms = 4)
        .select(col("q_id"), col("n_id"), col("rrf").as("rel"))
      val sel = Similarity.mmrSelect(fused, emb, "vec_id", "embedding", 5)
      val lens = docs.where(col("text").isNotNull)
        .select(col("doc_id"),
          textTokenCount.as("n_tokens"))
      packContext(lens, sel, 192L, "score")
        .orderBy(col("q_id"), col("rank"))
    }, Some(ragPipelineOracle)),

    // Streaming hybrid serve: the SAME hybridRrfTopK answers a query
    // STREAM micro-batch by micro-batch via foreachBatch (the q252
    // serving seam) — per-query work is independent and the corpus side
    // is static (pinned once, re-consumed per batch), so the union of
    // per-batch answers equals the one-shot batch serve for any split;
    // gated on q268's oracle VERBATIM.
    ("q270_stream_hybrid_serve", (s, dir) => {
      // serve on the gate session (pinned partitions, AQE off): the
      // per-batch plans are many small stages over pinned,
      // batch-sized-or-postings-sized frames — 32-task stages would pay
      // task-launch overhead, not parallelism, and adaptive re-planning of
      // every tiny per-batch stage was measured at ~30-35% of the
      // per-batch wall time here
      val s2 = gateSession(s, dir)
      val hc = pinnedHybridCorpus(s2, dir)
      // per-batch latency SLO on the pinned-postings path (the q252
      // convention). Default budget = 3 s: the measured sandbox steady
      // state is ~1.2 s/batch (AQE off) — the per-batch plan is ~a dozen small
      // stages whose LAUNCH latency dominates on a single shared VM, not
      // data volume — so 1 s is a cluster operating point, not a local
      // one; production pins spark.graft.serve.sloMs=1000 next to its
      // 1 s trigger and the assert becomes the real gate. The regression
      // value is identical either way: a plan that loses its pin or adds
      // a corpus rescan blows any budget loudly.
      serveGate(s, s2, "q270_stream_hybrid_serve", budgetMs = 3000,
          hybridQueriesStaging(s, dir), HybridQuerySchema) { batch =>
        TextAnalysis.hybridRrfTopKPrepared(hc, batch,
          kArm = 10, kOut = 5, nTerms = 4)
      }
    }, Some(hybridRrfOracle)),

    // Incremental postings maintenance: the hybrid serve's corpus side
    // updated by an append-only DELTA — prepare the even-id half and the
    // odd-id half independently, MERGE the postings (all frames additive
    // under disjoint doc ids), and serve. Result-identical to
    // re-preparing the full corpus: gated on q268's oracle VERBATIM, so
    // an accumulating corpus never pays a full postings rebuild.
    ("q274_postings_increment", (s, dir) => {
      val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
      val emb = T(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      def half(r: Int) = TextAnalysis.prepareHybridCorpus(
        docs.where(col("doc_id") % 2 === r), "doc_id", "text",
        emb.where(col("vec_id") % 2 === r), "vec_id", "embedding")
      val hc = TextAnalysis.mergeHybridCorpus(half(0), half(1))
      val queries = docs.where(col("doc_id") < 6)
        .select(col("doc_id").as("q_id"), col("text"))
        .join(emb.select(col("vec_id").as("q_id"), col("embedding")), Seq("q_id"))
      TextAnalysis.hybridRrfTopKPrepared(hc, queries,
          kArm = 10, kOut = 5, nTerms = 4)
        .orderBy(col("q_id"), col("rank"))
    }, Some(hybridRrfOracle)),

    // The WHOLE RAG pipeline as a streaming service: per micro-batch,
    // hybrid recall on the pinned postings → MMR diversification → the
    // 192-token budget fill (q269's three stages verbatim). Every stage
    // is per-query independent, so the union of per-batch answers equals
    // the one-shot flagship for any split — gated on q269's oracle
    // VERBATIM. This closes the serving story: retrieval, tokenizer,
    // index, drift, covariance, and now the full RAG loop all have live
    // twins.
    ("q275_stream_rag_serve", (s, dir) => {
      // the q270 gate session and pinned corpus
      val s2 = gateSession(s, dir)
      val hc = pinnedHybridCorpus(s2, dir)
      val lens = graft.util.Caches.pin(graft.util.EventTime.tsToLongNanos(
          readFixture(s2, s"$dir/documents.parquet"))
        .where(col("text").isNotNull)
        .select(col("doc_id"),
          textTokenCount.as("n_tokens")))
      // per-batch latency SLO on the pinned full-RAG path: recall → MMR →
      // budget fill per batch (three chained plans — measured ~1.5 s
      // steady with AQE off, stage-launch bound; see q270's note).
      // Default budget 4 s here; production pins sloMs at its trigger.
      serveGate(s, s2, "q275_stream_rag_serve", budgetMs = 4000,
          hybridQueriesStaging(s, dir), HybridQuerySchema) { batch =>
        val fused = TextAnalysis.hybridRrfTopKPrepared(hc, batch,
            kArm = 10, kOut = 20, nTerms = 4)
          .select(col("q_id"), col("n_id"), col("rrf").as("rel"))
        val sel = Similarity.mmrSelect(fused, hc.emb, "vec_id", "embedding", 5)
        packContext(lens, sel, 192L, "score")
      }
    }, Some(ragPipelineOracle)),

    // STREAMING POSTINGS INGEST — the WRITE path of the hybrid serve run
    // live (the lexical twin of q276's index ingest): the corpus arrives
    // as a STREAM of (doc_id, text, vec_id, embedding) rows (3 files,
    // maxFilesPerTrigger=1 → 3 REAL micro-batches); each batch reduces to
    // a postings DELTA (prepareHybridCorpus verbatim, |batch|-bounded)
    // that APPENDS to the store — token rows, doc lengths, 1-row stats,
    // per-term dfs, vectors — and serving the ACCUMULATED store read back
    // through readHybridCorpus (stats re-summed, dfs re-added: the
    // mergeHybridCorpus algebra folded over the deltas) reproduces q268's
    // one-shot oracle VERBATIM. The store never holds raw text —
    // postings, not corpus. VERIFICATION-HARNESS BOUNDARY: per-run temp
    // parquet store, read back only for the gate's serve.
    ("q278_stream_postings_ingest", (s, dir) => {
      val tmp = corpusStreamStaging(s, dir)
      // 4-partition AQE-off gate session (q270/q296/q304's discipline)
      val (s2, queries) = hybridGateSession(s, dir)
      val storeDir = scratch("q278_store")
      val stream = s2.readStream
        .schema("doc_id LONG, text STRING, vec_id LONG, embedding ARRAY<FLOAT>")
        .option("maxFilesPerTrigger", 1).parquet(s"$tmp/corpus")
      val q = TextAnalysis.ingestPostingsStream(stream,
          "doc_id", "text", "vec_id", "embedding", storeDir)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      // checkUnique: the loud append-contract audit — cheap here, and it
      // proves the streamed deltas really were disjoint
      val hc = TextAnalysis.readHybridCorpus(s2, storeDir,
        "doc_id", "text", "vec_id", "embedding", checkUnique = true)
      TextAnalysis.hybridRrfTopKPrepared(hc, queries,
          kArm = 10, kOut = 5, nTerms = 4)
        .orderBy(col("q_id"), col("rank"))
    }, Some(hybridRrfOracle)),

    // The RAG flagship on an INDEX-RUNG vector arm: at 100 TB the hybrid's
    // vector arm is an index, not a corpus scan, so hybridRrfTopKPrepared
    // now routes it through the Ann facade. This gate runs q269's full
    // pipeline (recall → RRF fusion → MMR → 192-token budget fill) with
    // annMethod = ivf at nprobe = nlist — the EXACT-EQUIVALENT index
    // configuration: every coarse list is probed, the candidate set is the
    // whole corpus, and the scores are the same native cosine with the
    // same tie rule, so the IVF arm reproduces the exact arm VERBATIM
    // (the q192 nprobe=all discipline, law-tested in AnnFacadeSpec) and
    // the flagship holds on q269's oracle unchanged. Dialing nprobe back
    // down is then a measured recall/cost trade on an already-gated path.
    ("q280_rag_index_arm", (s, dir) => {
      val docs = T(s, dir, "documents")
      val emb = T(s, dir, "embeddings")
      val queries = docs.where(col("doc_id") < 6)
        .select(col("doc_id").as("q_id"), col("text"))
        .join(emb.select(col("vec_id").as("q_id"), col("embedding")), Seq("q_id"))
      val hc = TextAnalysis.prepareHybridCorpus(
        docs.select(col("doc_id"), col("text")), "doc_id", "text",
        emb.select(col("vec_id"), col("embedding")), "vec_id", "embedding")
      val fused = TextAnalysis.hybridRrfTopKPrepared(hc, queries,
          kArm = 10, kOut = 20, nTerms = 4,
          annMethod = "ivf", annNlist = 4, annIters = 2, annNprobe = 4)
        .select(col("q_id"), col("n_id"), col("rrf").as("rel"))
      val sel = Similarity.mmrSelect(fused, emb, "vec_id", "embedding", 5)
      val lens = docs.where(col("text").isNotNull)
        .select(col("doc_id"),
          textTokenCount.as("n_tokens"))
      packContext(lens, sel, 192L, "score")
        .orderBy(col("q_id"), col("rank"))
    }, Some(ragPipelineOracle)),

    // POSTINGS-STORE DELETION — mergeHybridCorpus's inverse, the third
    // store op next to increment (q274/q278): a set of documents
    // (doc_id % 9 == 8 — disjoint from the query set) is removed WITHOUT
    // a rebuild: token rows / lengths / vectors drop by an id-keyed
    // anti-join, corpus stats and per-term document frequencies subtract
    // ADDITIVELY (negated sums — exact, because every deleted doc
    // contributed exactly its own prepared counts). Serving the shrunken
    // store must be RESULT-IDENTICAL to re-preparing the surviving corpus
    // from scratch: the oracle re-derives every df/idf/stats value from
    // the survivors only (hybridRrfOracleFor). The right-to-erasure path
    // for the lexical store: one anti-join + two metadata re-sums.
    ("q283_postings_deletion", (s, dir) => {
      val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
      val emb = T(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val full = TextAnalysis.prepareHybridCorpus(
        docs, "doc_id", "text", emb, "vec_id", "embedding")
      val deleted = TextAnalysis.prepareHybridCorpus(
        docs.where(col("doc_id") % 9 === 8), "doc_id", "text",
        emb.where(col("vec_id") % 9 === 8), "vec_id", "embedding")
      val hc = TextAnalysis.removeFromHybridCorpus(full, deleted)
      val queries = docs.where(col("doc_id") < 6)
        .select(col("doc_id").as("q_id"), col("text"))
        .join(emb.select(col("vec_id").as("q_id"), col("embedding")), Seq("q_id"))
      TextAnalysis.hybridRrfTopKPrepared(hc, queries,
          kArm = 10, kOut = 5, nTerms = 4)
        .orderBy(col("q_id"), col("rank"))
    }, Some(hybridRrfOracleFor("__id__ % 9 <> 8")))
,

    // POSTINGS-STORE COMPACTION — compactIndex's lexical twin, closing the
    // maintenance loop the streamed writes opened: q278's store holds one
    // parquet delta PER MICRO-BATCH (file count and the per-read stats/df
    // re-reduction grow with trigger count), so compaction rewrites the
    // accumulated deltas as ONE consolidated delta (same postings rows,
    // stats to one row, dfs to one row per term; swap-on-success). Serving
    // the compacted store must reproduce q268's oracle VERBATIM — the
    // merge algebra says consolidation changes nothing, this gate makes
    // the store's whole write→compact→serve cycle hold downstream of a
    // REAL stream.
    ("q284_postings_compaction", (s, dir) => {
      // the subject is COMPACTION; its input (the streamed 3-delta store)
      // is a deterministic artifact staged once per JVM — the live ingest
      // stays gated by q278/q291/q293/q298 where it is the subject
      val storeDir = ingestedPostingsStore(s, dir)
      // 4-partition AQE-off gate session (q270/q296/q304's discipline)
      val (s2, queries) = hybridGateSession(s, dir)
      val compactDir = scratch("q284_compact")
      TextAnalysis.compactHybridStore(s2, storeDir, compactDir,
        "doc_id", "text", "vec_id", "embedding")
      // the consolidation really happened: one stats row on disk (q278's
      // streamed store had one per micro-batch)
      require(s2.read.parquet(s"$compactDir/stats").count() == 1L,
        "compacted store must hold exactly one stats row")
      val hc = TextAnalysis.readHybridCorpus(s2, compactDir,
        "doc_id", "text", "vec_id", "embedding")
      TextAnalysis.hybridRrfTopKPrepared(hc, queries,
          kArm = 10, kOut = 5, nTerms = 4)
        .orderBy(col("q_id"), col("rank"))
    }, Some(hybridRrfOracle)),

    // DELETION FROM BARE IDS — the form an erasure request actually
    // arrives in: no access to the deleted documents' text (q283 prepares
    // the deleted docs from the raw corpus; here the raw corpus is GONE
    // for them). removeDocsById derives the deleted side's postings from
    // the STORE ITSELF — the store already holds exactly what each doc
    // contributed — then applies the same subtraction algebra. Same
    // surviving-corpus oracle as q283: the id-only path and the
    // prepared-docs path are result-identical.
    ("q285_postings_delete_by_id", (s, dir) => {
      val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
      val emb = T(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val full = TextAnalysis.prepareHybridCorpus(
        docs, "doc_id", "text", emb, "vec_id", "embedding")
      val hc = TextAnalysis.removeDocsById(full,
        docs.where(col("doc_id") % 9 === 8).select(col("doc_id")))
      val queries = docs.where(col("doc_id") < 6)
        .select(col("doc_id").as("q_id"), col("text"))
        .join(emb.select(col("vec_id").as("q_id"), col("embedding")), Seq("q_id"))
      TextAnalysis.hybridRrfTopKPrepared(hc, queries,
          kArm = 10, kOut = 5, nTerms = 4)
        .orderBy(col("q_id"), col("rank"))
    }, Some(hybridRrfOracleFor("__id__ % 9 <> 8"))),

    // POSTINGS UPSERT — a document UPDATE as the store composition it
    // decomposes into: delete the old version by bare id
    // (removeDocsById — the store's own rows supply the subtraction) and
    // merge the re-prepared new version (mergeHybridCorpus — disjoint
    // again after the delete). Serving the upserted store must be
    // RESULT-IDENTICAL to preparing the POST-UPDATE corpus from scratch:
    // the oracle re-derives every df/idf/stat with the updated text
    // substituted in (hybridRrfOracleFor's textExpr arm). Updated docs
    // (doc_id % 9 == 8, disjoint from the query set) get ' v2 spark'
    // appended — changing both their lengths and the shared-term dfs, so
    // a stats/df bookkeeping error anywhere in delete+merge would shift
    // every BM25 score and fail the hash.
    ("q286_postings_upsert", (s, dir) => {
      val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
      val emb = T(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val full = TextAnalysis.prepareHybridCorpus(
        docs, "doc_id", "text", emb, "vec_id", "embedding")
      val updDocs = docs.where(col("doc_id") % 9 === 8)
        .select(col("doc_id"), concat(col("text"), lit(" v2 spark")).as("text"))
      val updDelta = TextAnalysis.prepareHybridCorpus(
        updDocs, "doc_id", "text",
        emb.where(col("vec_id") % 9 === 8), "vec_id", "embedding")
      val hc = TextAnalysis.mergeHybridCorpus(
        TextAnalysis.removeDocsById(full, updDocs.select(col("doc_id"))),
        updDelta)
      val queries = docs.where(col("doc_id") < 6)
        .select(col("doc_id").as("q_id"), col("text"))
        .join(emb.select(col("vec_id").as("q_id"), col("embedding")), Seq("q_id"))
      TextAnalysis.hybridRrfTopKPrepared(hc, queries,
          kArm = 10, kOut = 5, nTerms = 4)
        .orderBy(col("q_id"), col("rank"))
    }, Some(hybridRrfOracleFor("TRUE",
      "CASE WHEN doc_id % 9 = 8 THEN text || ' v2 spark' ELSE text END"))),

    // THE TWO-STORE SERVE — the production 100 TB shape, both stores
    // consulted per query: the lexical arm reads the POSTINGS store
    // (BM25 over prepared token rows/dfs/stats), the vector arm reads the
    // residual-IVFADC CODE store (per-probe LUTs + ADC, vectors never
    // touched), and rrfFuse joins the ranks — the exact-cosine scan that
    // q268's vector arm pays is gone entirely. The oracle swaps its
    // exact-cosine vrank block for the FULL residual chain
    // (residualServeCtes — assignment, residual codebook, codes,
    // per-probe LUTs, ADC ranking), so the fusion of an EXACT lexical
    // arm with an APPROXIMATE-BY-CONSTRUCTION index arm is still
    // bit-exact end to end.
    ("q287_two_store_hybrid", (s, dir) => {
      val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
      val emb = T(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      // NOT pinned (measured, r16): this serve is ONE action, and AQE's
      // runtime stage reuse already dedupes the repeated corpus/codebook
      // subtrees — eager pins here ran 1.5× SLOWER (5-7 extra count jobs
      // bought nothing). Pins pay only when a SECOND action (a collect)
      // re-needs a frame — q288/q289's shape, not this one.
      val hc = TextAnalysis.prepareHybridCorpus(
        docs, "doc_id", "text", emb, "vec_id", "embedding")
      val queries = docs.where(col("doc_id") < 6)
        .select(col("doc_id").as("q_id"), col("text"))
        .join(emb.select(col("vec_id").as("q_id"), col("embedding")), Seq("q_id"))
      // the code store: frozen model (stride-5 residual codebook, the
      // q249 setting) + full-corpus index — q237's persistable artifact
      val cent = emb.where(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("cid"), col("embedding"))
      val cb = Similarity.pqCodebookByStride(
        Similarity.residuals(emb, cent, "vec_id", "cid", "embedding"),
        "vec_id", "res", m = 4, subDim = 16, stride = 5)
      val index = Similarity.residualIndex(emb, cent, cb,
        "vec_id", "cid", "embedding", m = 4, subDim = 16)
      val lex = TextAnalysis.bm25QueryTopKPrepared(hc,
          TextAnalysis.distinctiveQueryTerms(hc, queries, nTerms = 4), k = 10)
        .select(col("q_id"), col("n_id"), col("rank").as("rank_l"))
      val vec = Similarity.ivfPqResidualStoredTopK(
          queries.select(col("q_id"), col("embedding")), index, cent, cb,
          "q_id", "cid", "embedding", k = 10, m = 4, subDim = 16, nprobe = 4)
        .select(col("q_id"), col("n_id"), col("rank").as("rank_v"))
      TextAnalysis.rrfFuse(vec, lex, kOut = 5)
        .orderBy(col("q_id"), col("rank"))
    }, Some(hybridRrfOracleFor("TRUE", "text", vrankCtes = s"""
      cur AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
      subs AS (SELECT unnest(range(0, 4)) AS sub),
      ${residualServeCtes("x", "cur", "", stride = 5, nprobe = 4, k = 10,
        qPred = "n_id < 6")},
      vrank AS (
        SELECT q_id, n_id, rank_v FROM (
          SELECT q_id, n_id,
            row_number() OVER (PARTITION BY q_id ORDER BY adist, n_id) AS rank_v
          FROM xscored) WHERE rank_v <= 10)"""))),


    // KILL-AND-RESUME on the postings store's WRITE path — q290's lexical
    // twin (ADVICE r14 #2): the ingest crashes AFTER batch 1's delta is
    // durable but BEFORE its offset commits (the at-least-once window),
    // restarts from the same REAL checkpoint, and batch 1 REPLAYS. The
    // batch-addressed delta=<batchId>/ overwrite eats the previous
    // attempt, so the store holds every doc exactly once — audited
    // LOUDLY by checkUnique (a double-append would duplicate doc ids AND
    // double-count stats/dfs, shifting every BM25 score) — and serving
    // the replayed store reproduces q268's one-shot oracle VERBATIM.
    ("q291_postings_ingest_replay", (s, dir) => {
      val tmp = corpusStreamStaging(s, dir)
      // 4-partition AQE-off gate session (q270/q296/q304's discipline)
      val (s2, queries) = hybridGateSession(s, dir)
      val storeDir = scratch("q291_store")
      val ckpt = scratch("q291_ckpt")
      val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
      def run() = TextAnalysis.ingestPostingsStream(
          s2.readStream
            .schema("doc_id LONG, text STRING, vec_id LONG, embedding ARRAY<FLOAT>")
            .option("maxFilesPerTrigger", 1).parquet(s"$tmp/corpus"),
          "doc_id", "text", "vec_id", "embedding", storeDir,
          afterBatch = b =>
            if (b == 1L && !crashed.getAndSet(true))
              throw new RuntimeException(
                "injected crash: delta durable, offset not committed"))
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      runWithInjectedCrash(() => run()) // batch 1 REPLAYS from the checkpoint
      require(crashed.get, "the crash injection never ran")
      // checkUnique IS the replay audit: duplicated doc ids fail loudly
      val hc = TextAnalysis.readHybridCorpus(s2, storeDir,
        "doc_id", "text", "vec_id", "embedding", checkUnique = true)
      TextAnalysis.hybridRrfTopKPrepared(hc, queries,
          kArm = 10, kOut = 5, nTerms = 4)
        .orderBy(col("q_id"), col("rank"))
    }, Some(hybridRrfOracle)),


    // COMPACTION TRIGGER POLICY on the postings store — q292's lexical
    // twin: maintainHybridStore fires when the store's own metadata says
    // so (the stats frame holds one row per delta, so the threshold is a
    // metadata-row count), consolidates to ONE delta and swaps the root,
    // composed into the ingest's beforeBatch seam with onlyBelow = the
    // current batch id — the replay-safe placement (only COMMITTED
    // deltas are ever folded into a consolidation; q298 proves the
    // actual crash). Policy arm (threshold 1) fires once in-stream and
    // once at rest, ending at one stats row on disk; control arm
    // (threshold 10) never fires and keeps 3 — and both serve q268's
    // oracle-identical answers (consolidation changes nothing; NOT
    // consolidating changes nothing either).
    ("q293_postings_compact_policy", (s, dir) => {
      val tmp = corpusStreamStaging(s, dir)
      // 4-partition AQE-off gate session (q270/q296/q304's discipline)
      val (s2, queries) = hybridGateSession(s, dir)
      def ingest(storeDir: String, maxDeltas: Int): Int = {
        val fired = new java.util.concurrent.atomic.AtomicInteger(0)
        val q = TextAnalysis.ingestPostingsStream(
            s2.readStream
              .schema("doc_id LONG, text STRING, vec_id LONG, embedding ARRAY<FLOAT>")
              .option("maxFilesPerTrigger", 1).parquet(s"$tmp/corpus"),
            "doc_id", "text", "vec_id", "embedding", storeDir,
            beforeBatch = b =>
              if (TextAnalysis.maintainHybridStore(s2, storeDir, maxDeltas,
                  "doc_id", "text", "vec_id", "embedding",
                  onlyBelow = Some(b)))
                fired.incrementAndGet())
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        fired.get
      }
      // the POLICY arm stays a live per-pass ingest (the thing under
      // test); the CONTROL arm's store is deterministic and never touched
      // by the policy, so it stages once per JVM (the q252 artifact
      // discipline) — its law costs a serve per pass, not a re-ingest.
      // NOTE the no-fire require below runs inside the staging closure,
      // i.e. the control LAW is checked once per session, deliberately —
      // the artifact is deterministic, and the serve-equality law
      // downstream still runs every pass
      val policyDir = scratch("q293_store")
      val policyFired = ingest(policyDir, maxDeltas = 1)
      val controlRoot = graft.util.Staging.dir("q293_control_store", dir) { p =>
        require(ingest(s"$p/store", maxDeltas = 10) == 0,
          "below-threshold policy must never fire")
      }
      val controlDir = s"$controlRoot/store"
      require(policyFired == 1,
        s"threshold-1 policy must fire once in-stream (beforeBatch(2): " +
          s"committed deltas {0,1}), fired $policyFired")
      // delta counts read off the store's durable batch-addressed layout
      // (one stats dir = one stats row per delta, the writer contract) —
      // an FS listing each instead of a Spark count job
      require(Similarity.indexStoreDeltas(s2, s"$policyDir/stats").size == 2,
        "in-stream policy must leave the consolidated delta + the final batch")
      // at rest the stream has terminated ⇒ every delta is committed
      require(TextAnalysis.maintainHybridStore(s2, policyDir, maxDeltas = 1,
          "doc_id", "text", "vec_id", "embedding"),
        "at-rest maintenance over threshold must fire")
      require(Similarity.indexStoreDeltas(s2, s"$policyDir/stats").size == 1,
        "at-rest maintenance must leave ONE consolidated stats row on disk")
      require(Similarity.indexStoreDeltas(s2, s"$controlDir/stats").size == 3,
        "below-threshold policy must keep every delta")
      // the query-side frames are store-INDEPENDENT and both arms' serves
      // consume them — derive and pin once (multi-ACTION reuse, r16 rule)
      val qtf = graft.util.Caches.pin(
        TextAnalysis.queryTermFreqs(queries, "text"))
      val qvec = graft.util.Caches.pin(
        queries.select(col("q_id"), col("embedding")))
      def serve(d: String) = TextAnalysis.hybridRrfTopKFromQueryFreqs(
          TextAnalysis.readHybridCorpus(s2, d,
            "doc_id", "text", "vec_id", "embedding"),
          qtf, qvec, kArm = 10, kOut = 5, nTerms = 4)
        .orderBy(col("q_id"), col("rank"))
      // the law already materializes the policy store's answers — return
      // them as a local frame instead of running the same serve a third
      // time (q292's rationale; result-identical, total order re-asserted).
      // The two arms' serves are independent actions over different stores
      // — collect them concurrently (guide §2.6) instead of back to back
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
    }, Some(hybridRrfOracle)),


    // TOMBSTONES AT POSTINGS COMPACTION — the erasure+consolidation cycle
    // the vector store already has (q282): deletion applied AT lexical
    // compaction (removeDocsById folded into the consolidation rewrite),
    // so one cycle pays both — the deleted side derives from the store's
    // own rows and the stats/df subtraction lands in the same metadata
    // re-reduction the rewrite was paying anyway. Serving the compacted
    // store must equal re-preparing the SURVIVING corpus from scratch
    // (q283/q285's oracle), and the store really consolidated (one stats
    // row on disk).
    ("q295_postings_tombstone_compaction", (s, dir) => {
      // the subject is erasure AT compaction; the ingested store is the
      // same staged artifact q284 consumes (never mutated — the cycle
      // writes to a fresh out dir)
      val storeDir = ingestedPostingsStore(s, dir)
      // 4-partition AQE-off gate session (q270/q296/q304's discipline)
      val (s2, queries) = hybridGateSession(s, dir)
      val docs2 = graft.util.EventTime.tsToLongNanos(
        readFixture(s2, s"$dir/documents.parquet"))
      val compactDir = scratch("q295_compact")
      TextAnalysis.compactHybridStore(s2, storeDir, compactDir,
        "doc_id", "text", "vec_id", "embedding",
        tombstones = docs2.where(col("doc_id") % 9 === 8).select(col("doc_id")))
      require(s2.read.parquet(s"$compactDir/stats").count() == 1L,
        "compacted store must hold exactly one stats row")
      val hc = TextAnalysis.readHybridCorpus(s2, compactDir,
        "doc_id", "text", "vec_id", "embedding")
      TextAnalysis.hybridRrfTopKPrepared(hc, queries,
          kArm = 10, kOut = 5, nTerms = 4)
        .orderBy(col("q_id"), col("rank"))
    }, Some(hybridRrfOracleFor("__id__ % 9 <> 8"))),


    // TWO-STORE serve as a STREAMING service — q287 is batch; q270/q275
    // stream but their vector arm reads raw vectors. This is the
    // production serving loop with BOTH stores consulted per micro-batch:
    // the lexical arm reads the pinned POSTINGS frames (BM25 over
    // prepared token rows/dfs/stats), the vector arm reads the pinned
    // residual-IVFADC CODE store (per-probe LUTs + ADC — candidates as
    // codes, raw vectors touched only for the query's own residuals),
    // rrfFuse joins the ranks per batch. Per-query independence makes
    // union-over-any-split ≡ one-shot, so the gate holds q287's oracle
    // VERBATIM downstream of a real query stream; per-batch latency is
    // SLO-recorded like q270 (q268's exact-cosine corpus scan exists in
    // NO arm of this plan).
    ("q296_stream_two_store_serve", (s, dir) => {
      // the q270 gate session
      val s2 = gateSession(s, dir)
      val docs2 = graft.util.EventTime.tsToLongNanos(
        readFixture(s2, s"$dir/documents.parquet"))
      // postings store, prepared LEXICAL-ONLY (the vector arm never
      // touches corpus vectors) and pinned once
      val hc0 = TextAnalysis.prepareHybridCorpus(
        docs2.select(col("doc_id"), col("text")), "doc_id", "text",
        null, null, null)
      val hc = hc0.copy(
        toks = graft.util.Caches.pin(hc0.toks),
        dl = graft.util.Caches.pin(hc0.dl),
        stats = graft.util.Caches.pin(hc0.stats),
        alldf = graft.util.Caches.pin(hc0.alldf))
      // code store: frozen model (stride-5 residual codebook, q287's
      // setting) + full-corpus index — persisted artifacts, staged once
      // per JVM (the q252 discipline: a serve gate times SERVING, the
      // store build is the offline job); the index is pinned and the model
      // derived and pinned once by serveIndexBatch — every micro-batch
      // re-consumes both
      val codeTmp = graft.util.Staging.dir("q296_code_store", dir) { p =>
        val embC = T(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val c0 = embC.where(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("cid"), col("embedding"))
        val cb0 = Similarity.pqCodebookByStride(
          Similarity.residuals(embC, c0, "vec_id", "cid", "embedding"),
          "vec_id", "res", m = 4, subDim = 16, stride = 5)
        c0.write.mode("overwrite").parquet(s"$p/centroids")
        cb0.write.mode("overwrite").parquet(s"$p/codebooks")
        Similarity.residualIndex(embC, c0, cb0,
            "vec_id", "cid", "embedding", m = 4, subDim = 16)
          .write.mode("overwrite").parquet(s"$p/index")
      }
      val vecServe = Similarity.serveIndexBatch(
        graft.util.Caches.pin(readFixture(s2, s"$codeTmp/index")),
        readFixture(s2, s"$codeTmp/centroids"), readFixture(s2, s"$codeTmp/codebooks"),
        "q_id", "cid", "embedding", k = 10, m = 4, subDim = 16, nprobe = 4)
      // both arms are pinned-store lookups — same operating point as the
      // hybrid serve (see q270's budget note)
      serveGate(s, s2, "q296_stream_two_store_serve", budgetMs = 3000,
          hybridQueriesStaging(s, dir), HybridQuerySchema) { batch =>
        val lex = TextAnalysis.bm25QueryTopKPrepared(hc,
            TextAnalysis.distinctiveQueryTerms(hc, batch, nTerms = 4), k = 10)
          .select(col("q_id"), col("n_id"), col("rank").as("rank_l"))
        val vec = vecServe(batch.select(col("q_id"), col("embedding")))
          .select(col("q_id"), col("n_id"), col("rank").as("rank_v"))
        TextAnalysis.rrfFuse(vec, lex, kOut = 5)
      }
    }, Some(hybridRrfOracleFor("TRUE", "text", vrankCtes = s"""
      cur AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
      subs AS (SELECT unnest(range(0, 4)) AS sub),
      ${residualServeCtes("x", "cur", "", stride = 5, nprobe = 4, k = 10,
        qPred = "n_id < 6")},
      vrank AS (
        SELECT q_id, n_id, rank_v FROM (
          SELECT q_id, n_id,
            row_number() OVER (PARTITION BY q_id ORDER BY adist, n_id) AS rank_v
          FROM xscored) WHERE rank_v <= 10)"""))),


    // CRASH × POLICY × REPLAY on the postings store — q297's lexical
    // twin, where the unsafe composition's failure is DOUBLE COUNTING: a
    // consolidation that folded an uncommitted batch in, then a replay
    // re-appending the same postings, shifts every df/stats value and so
    // every BM25 score. The beforeBatch + onlyBelow placement prevents
    // it by construction; the gate crashes after batch 2's delta is
    // durable (policy already fired on committed {0,1}), replays batch 2
    // over the compacted store, and requires checkUnique (the loud
    // double-count audit) + q268's oracle VERBATIM.
    ("q298_postings_policy_replay", (s, dir) => {
      val tmp = corpusStreamStaging(s, dir)
      // 4-partition AQE-off gate session (q270/q296/q304's discipline)
      val (s2, queries) = hybridGateSession(s, dir)
      val storeDir = scratch("q298_store")
      val ckpt = scratch("q298_ckpt")
      val fired = new java.util.concurrent.atomic.AtomicInteger(0)
      val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
      def run() = TextAnalysis.ingestPostingsStream(
          s2.readStream
            .schema("doc_id LONG, text STRING, vec_id LONG, embedding ARRAY<FLOAT>")
            .option("maxFilesPerTrigger", 1).parquet(s"$tmp/corpus"),
          "doc_id", "text", "vec_id", "embedding", storeDir,
          beforeBatch = b =>
            if (TextAnalysis.maintainHybridStore(s2, storeDir, maxDeltas = 1,
                "doc_id", "text", "vec_id", "embedding",
                onlyBelow = Some(b)))
              fired.incrementAndGet(),
          afterBatch = b =>
            if (b == 2L && !crashed.getAndSet(true))
              throw new RuntimeException(
                "injected crash: delta durable, policy fired, offset not committed"))
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      runWithInjectedCrash(() => run()) // batch 2 REPLAYS over the compacted store
      require(crashed.get && fired.get == 1,
        s"policy must fire exactly once (got ${fired.get}) and the crash must run")
      require(Similarity.indexStoreDeltas(s2, s"$storeDir/stats").size == 2,
        "store must hold the consolidated delta + the replayed batch")
      // checkUnique IS the double-count audit
      val hc = TextAnalysis.readHybridCorpus(s2, storeDir,
        "doc_id", "text", "vec_id", "embedding", checkUnique = true)
      TextAnalysis.hybridRrfTopKPrepared(hc, queries,
          kArm = 10, kOut = 5, nTerms = 4)
        .orderBy(col("q_id"), col("rank"))
    }, Some(hybridRrfOracle)),


    // TIME-BASED RETENTION on the POSTINGS store — q302's lexical twin,
    // and q295's time-keyed one: the SAME documents q295 erases by id
    // tombstones (doc %9==8) here age out as a WHOLE INGEST BATCH falling
    // outside the retention window, and both roads must end at the same
    // served answers — the gate reuses q295's surviving-corpus oracle
    // VERBATIM. Three id-determined batches ingest (batch 0 = the %9==8
    // docs, batches 1/2 split the rest by parity); maintainHybridStore's
    // dropBelow window keeps {1, 2}: batch 0's postings, lengths, stats
    // row and df contributions all leave in the consolidation's metadata
    // re-reduction (a directory-level partition-pruned cut — aged deltas
    // are never read), and the presence of an aged delta FORCES the cycle
    // even under the count threshold. Control laws ride along: an
    // all-covering window under the threshold never fires, and a
    // store-emptying window is refused loudly.
    ("q303_postings_retention", (s, dir) => {
      val docs = T(s, dir, "documents")
      val emb = T(s, dir, "embeddings")
      val key = coalesce(col("doc_id"), col("vec_id"))
      def corpus = docs.select(col("doc_id"), col("text"))
        .join(emb.select(col("vec_id"), col("embedding")),
          col("doc_id") === col("vec_id"), "full_outer")
      val cDir = orderedSliceStaging(s, dir, "q303_corpus_slices")(Seq(
        corpus.where(key % 9 === 8),
        corpus.where(key % 9 =!= 8 && key % 2 === 0),
        corpus.where(key % 9 =!= 8 && key % 2 === 1)))
      // pinned-partition AQE-off gate session — the q270/q296/q304
      // discipline (|batch|-bounded deltas + store-sized maintenance/serve
      // frames), partition count derived from the corpus size
      val s2 = gateSession(s, dir)
      val storeDir = scratch("q303_store")
      val q = TextAnalysis.ingestPostingsStream(
          s2.readStream
            .schema("doc_id LONG, text STRING, vec_id LONG, embedding ARRAY<FLOAT>")
            .option("maxFilesPerTrigger", 1).parquet(cDir),
          "doc_id", "text", "vec_id", "embedding", storeDir)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      // id-determined batch membership, loud on both store sides (one
      // aggregation instead of two isEmpty scans — same facts, one job)
      val dl0 = s2.read.parquet(s"$storeDir/dl")
        .where(col("delta").cast("long") === 0)
        .agg(count(lit(1)).as("__n"),
          count(when(col("doc_id") % 9 =!= 8, lit(1))).as("__bad"))
        .head()
      require(dl0.getLong(0) > 0 && dl0.getLong(1) == 0,
        "delta 0 must hold exactly the doc_id % 9 == 8 docs")
      require(s.read.parquet(s"$storeDir/emb")
          .where(col("delta").cast("long") === 0 && col("vec_id") % 9 =!= 8)
          .isEmpty,
        "delta 0's vector side must hold exactly the vec_id % 9 == 8 rows")
      // control law: an all-covering window under the count threshold
      // must not force a cycle
      require(!TextAnalysis.maintainHybridStore(s2, storeDir, maxDeltas = 10,
          "doc_id", "text", "vec_id", "embedding", dropBelow = Some(0L)),
        "an all-covering retention window must not force a cycle")
      // the aged-out arm fires BELOW the count threshold; the window
      // keeps batches {1, 2} and batch 0 leaves with the swap
      require(TextAnalysis.maintainHybridStore(s2, storeDir, maxDeltas = 10,
          "doc_id", "text", "vec_id", "embedding", dropBelow = Some(1L)),
        "a delta outside the retention window must force the cycle")
      // delta ids read off the store's durable batch-addressed layout —
      // one FS listing instead of two Spark jobs on the stats frame
      require(Similarity.indexStoreDeltas(s2, s"$storeDir/stats") == Seq(2L),
        "retention must leave ONE consolidated in-window delta at id 2")
      require(s.read.parquet(s"$storeDir/dl")
          .where(col("doc_id") % 9 === 8).isEmpty,
        "aged-out docs must leave the store with the swap")
      // the refused edge: a window aging out EVERYTHING fails loudly
      val err = try {
        TextAnalysis.maintainHybridStore(s2, storeDir, maxDeltas = 1,
          "doc_id", "text", "vec_id", "embedding", dropBelow = Some(3L)); false
      } catch { case _: IllegalArgumentException => true }
      require(err, "a store-emptying retention window must be refused")
      // serve the survivors — q295's serve, q295's oracle (frames all on
      // the gate session: one plan never mixes sessions)
      val hc = TextAnalysis.readHybridCorpus(s2, storeDir,
        "doc_id", "text", "vec_id", "embedding")
      val docs2 = graft.util.EventTime.tsToLongNanos(
        readFixture(s2, s"$dir/documents.parquet"))
      val emb2 = graft.util.EventTime.tsToLongNanos(
        readFixture(s2, s"$dir/embeddings.parquet"))
      val queries = docs2.where(col("doc_id") < 6)
        .select(col("doc_id").as("q_id"), col("text"))
        .join(emb2.select(col("vec_id").as("q_id"), col("embedding")), Seq("q_id"))
      TextAnalysis.hybridRrfTopKPrepared(hc, queries,
          kArm = 10, kOut = 5, nTerms = 4)
        .orderBy(col("q_id"), col("rank"))
    }, Some(hybridRrfOracleFor("__id__ % 9 <> 8"))),


    // GENERATION-POINTER SERVE ON THE POSTINGS STORE — q300/q301's
    // lexical twin, closing the symmetry: BOTH stores now have the
    // concurrent-reader-safe maintenance form GenStore gives (the
    // in-place StoreSwap's steps 2-3 leave a window with no root at all;
    // the pointer flip is ONE atomic marker create). The LIVE
    // ingestPostingsStream and the hybrid serve share one session with
    // the pointer as the read-committed boundary: the beforeBatch seam
    // (onlyBelow — q293's replay-safe placement) consolidates the
    // COMMITTED deltas into an immutable generation dir and flips the
    // pointer MID-STREAM; every serve resolves the pointer once and reads
    // that generation only — never the live delta area, so never a
    // half-written or replayable delta. Query docs ride batch 0 so every
    // served stage holds their full text (distinctiveQueryTerms weighs
    // the query's tokens against the STORE's dfs, and the oracle derives
    // qterms from the restricted corpus's own toks — the two only agree
    // when the query doc is in-store); remaining ids split by % 3, so
    // each serve's expected answer is a SQL predicate over the committed
    // prefix. Gated against a three-arm oracle whose corpus predicate
    // grows with the prefix.
    ("q304_postings_gen_serve_committed", (s, dir) => {
      val docs = T(s, dir, "documents")
      val emb = T(s, dir, "embeddings")
      val key = coalesce(col("doc_id"), col("vec_id"))
      def corpus = docs.select(col("doc_id"), col("text"))
        .join(emb.select(col("vec_id"), col("embedding")),
          col("doc_id") === col("vec_id"), "full_outer")
      val cDir = orderedSliceStaging(s, dir, "q304_corpus_slices")(
        (0 until 3).map(i => corpus.where(
          when(key < 6, lit(0)).otherwise(key % 3) === i)))
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      // the in-gate work is |batch|-bounded deltas, store-sized compaction
      // frames and per-serve plans of many tiny stages — the q270/q296
      // serve-session discipline applies to the WHOLE gate: pinned shuffle
      // partitions (32-task stages would pay launch overhead, not
      // parallelism; count derived from the corpus size — gatePartitions)
      // and AQE off (its per-stage re-planning was measured at ~30-35% of
      // per-batch wall on these shapes, buying nothing)
      val s2 = gateSession(s, dir)
      val docs2 = graft.util.EventTime.tsToLongNanos(
        readFixture(s2, s"$dir/documents.parquet"))
      val emb2 = graft.util.EventTime.tsToLongNanos(
        readFixture(s2, s"$dir/embeddings.parquet"))
      val live = scratch("q304_live")
      val root = scratch("q304_gens")
      val outDir = scratch("q304_out")
      val queries = docs2.where(col("doc_id") < 6)
        .select(col("doc_id").as("q_id"), col("text"))
        .join(emb2.select(col("vec_id").as("q_id"), col("embedding")), Seq("q_id"))
      // the query-side frames (term freqs, vectors) are generation-
      // INDEPENDENT and every per-stage serve consumes them — derive and
      // pin them once (multi-ACTION reuse, the r16 pin rule) instead of
      // re-scanning documents/embeddings and re-tokenizing the query docs
      // inside each serve's plan; the corpus-dependent stages (df join,
      // distinctiveness ranking, BM25, vector arm) stay per-serve
      val qtf = graft.util.Caches.pin(
        TextAnalysis.queryTermFreqs(queries, "text"))
      val qvec = graft.util.Caches.pin(
        queries.select(col("q_id"), col("embedding")))
      // INCREMENTAL generation publish (TextAnalysis.publishHybridGeneration):
      // each cycle copies the previous generation's files byte-for-byte and
      // consolidates ONLY the newly committed deltas — per-cycle work
      // proportional to the new data, the protocol (recover → policy →
      // stage → complete write → atomic marker flip) fully live per cycle,
      // serves result-identical by the disjoint-id merge algebra
      // (law-tested; this gate's three-arm oracle re-proves it end to end)
      def publishCommitted(onlyBelow: Option[Long]): Unit =
        TextAnalysis.publishHybridGeneration(s2, live, root,
          "doc_id", "text", "vec_id", "embedding", deltaBelow = onlyBelow)
      def serveCommitted(stage: Long): Unit =
        graft.util.GenStore.currentPath(fs, root).foreach { gen =>
          TextAnalysis.hybridRrfTopKFromQueryFreqs(
              TextAnalysis.readHybridCorpus(s2, gen.toString,
                "doc_id", "text", "vec_id", "embedding"),
              qtf, qvec, kArm = 10, kOut = 5, nTerms = 4)
            .withColumn("stage", lit(stage))
            .write.mode("append").parquet(outDir)
        }
      val q = TextAnalysis.ingestPostingsStream(
          s2.readStream
            .schema("doc_id LONG, text STRING, vec_id LONG, embedding ARRAY<FLOAT>")
            .option("maxFilesPerTrigger", 1).parquet(cDir),
          "doc_id", "text", "vec_id", "embedding", live,
          // committed prefix → generation, at the replay-safe seam;
          // the serve side answers from the pointer — batch b's OWN
          // delta is durable here but uncommitted, and the serve must
          // not (and cannot) see it
          beforeBatch = b => publishCommitted(Some(b)),
          afterBatch = b => serveCommitted(b + 1))
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      // stream done ⇒ all deltas committed: final maintenance + serve
      publishCommitted(None)
      serveCommitted(4L)
      // id-determined membership the oracle states, loud on both sides —
      // asserted from ONE aggregation over the dl frame (per-delta row and
      // violation counts) instead of six per-delta isEmpty scans: the same
      // facts, one job (guide §1.2)
      val dl = s.read.parquet(s"$live/dl")
      val dlMember = when(col("delta").cast("long") === 0,
          col("doc_id") < 6 || col("doc_id") % 3 === 0)
        .otherwise(col("doc_id") >= 6 &&
          col("doc_id") % 3 === col("delta").cast("long"))
      val dlChk = dl.groupBy(col("delta").cast("long").as("__d"))
        .agg(count(lit(1)).as("__n"),
          count(when(!dlMember, lit(1))).as("__bad"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
      (0 until 3).foreach { b =>
        val (n, bad) = dlChk.getOrElse(b.toLong, (0L, 0L))
        require(n > 0 && bad == 0,
          s"delta $b must hold exactly its id-determined doc slice")
      }
      require(s.read.parquet(s"$live/emb")
          .where(col("delta").cast("long") === 0 &&
            !(col("vec_id") < 6 || col("vec_id") % 3 === 0)).isEmpty,
        "delta 0's vector side must hold exactly its id-determined slice")
      require(graft.util.GenStore.current(fs, root) == Some(2L),
        "final generation must cover every committed delta")
      val out = s.read.parquet(outDir)
      // serve 1 ran after batch 0 with nothing committed — no gen, no rows
      require(out.where(col("stage") === 1).isEmpty,
        "a serve before any commit must answer from no generation")
      out.select(col("stage"), col("q_id"), col("rank"), col("n_id"),
          col("rrf"), col("rank_v"), col("rank_l"))
        .orderBy(col("stage"), col("q_id"), col("rank"))
    }, Some(s"""
      SELECT stage, q_id, rank, n_id, rrf, rank_v, rank_l FROM (
        SELECT CAST(2 AS BIGINT) AS stage, * FROM (${hybridRrfOracleFor(
          "__id__ < 6 OR __id__ % 3 = 0")})
        UNION ALL
        SELECT CAST(3 AS BIGINT) AS stage, * FROM (${hybridRrfOracleFor(
          "__id__ < 6 OR __id__ % 3 <= 1")})
        UNION ALL
        SELECT CAST(4 AS BIGINT) AS stage, * FROM ($hybridRrfOracle))
      ORDER BY stage, q_id, rank"""))
  )
}
