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

/** Tokenizer + packing: BPE training (sequential, batched,
  * pre-tokenized), rank-path apply, byte fallback, token ids, detokenize,
  * store round trips, streaming tokenization; packing disciplines
  * (concat-chunk, binned, padded, FFD) with doc boundaries, FIM, loss
  * masks, manifests, epoch mixing and training order.
  *
  * Each entry is (name, query, oracle SQL) exactly as it sat in
  * SparkEntry's catalog before the per-family split; SparkEntry composes
  * the families back into the single driver-contract map.
  */
private[graft] object TokenizerCatalog {

  val entries: Seq[(String, Q, Option[String])] = Seq(


    // Sliding token-window chunking (32-token chunks, 8-token overlap):
    // 1→n row generation in one codegen projection, no shuffle.
    ("q44_chunk_docs", (s, dir) => {
      TextAnalysis.chunkByTokens(T(s, dir, "documents"), "doc_id", "text", 32, 8)
        .orderBy(col("doc_id"), col("chunk_idx"))
    }, Some("""
      WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks,
               len(string_split(text, ' ')) AS n
        FROM documents),
      s AS (
        SELECT doc_id, toks, n,
               unnest(generate_series(0, greatest(n - 1 - 8, 0), 24)) AS start
        FROM t)
      SELECT doc_id,
             CAST(start // 24 AS INT) AS chunk_idx,
             array_to_string(list_slice(toks, start + 1, start + 32), ' ') AS chunk_text,
             CAST(least(32, n - start) AS INT) AS chunk_tokens
      FROM s ORDER BY doc_id, chunk_idx""")),


    // Sequence packing (concatenate-then-chunk, the GPT training-data
    // layout): docs in deterministic id order, running token offset, each
    // doc's span in fixed 2048-token bins by pure integral arithmetic. The
    // offset is a GLOBAL cumsum over a corpus-sized frame, so it goes
    // through GlobalCumsum's two-phase scan (range partition + broadcast
    // per-partition bases) — a single-partition Window.orderBy here is the
    // one plan shape that cannot survive 100 TB.
    ("q145_sequence_pack", (s, dir) => {
      val t = T(s, dir, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
      ext.Packing.offsets(t, "doc_id", "n_tokens")
        .select(col("doc_id"), col("n_tokens"), col("cum_before"),
          expr("cum_before div 2048").as("start_bin"),
          expr("(cum_before + n_tokens - 1) div 2048").as("end_bin"),
          (col("cum_before") % 2048).as("start_offset"))
        .orderBy(col("doc_id"))
    }, Some("""
      WITH t AS (
        SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents),
      c AS (
        SELECT doc_id, n_tokens,
          CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
        FROM t)
      SELECT doc_id, n_tokens, cum_before,
        cum_before // 2048 AS start_bin,
        (cum_before + n_tokens - 1) // 2048 AS end_bin,
        cum_before % 2048 AS start_offset
      FROM c ORDER BY doc_id""")),


    // BPE merge-candidate scan — the inner loop of byte-pair-encoding
    // tokenizer training at corpus scale: word frequencies (ONE corpus
    // reduce; the word domain is Zipf-small), then adjacent character
    // pairs weighted by word frequency (a second reduce over the tiny
    // charset² pair domain — map-side combine collapses it before the
    // exchange). No per-document state, no driver loop: at 100 TB the
    // corpus is touched once and everything downstream is dictionary-sized.
    ("q166_bpe_merges", (s, dir) => {
      val w = T(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .where(col("word") =!= "")
        .groupBy(col("word")).agg(count(lit(1)).as("n"))
      w.where(length(col("word")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))")).as("pair"),
          col("n"))
        .groupBy(col("pair")).agg(sum(col("n")).as("cnt"))
        .withColumn("rank",
          row_number().over(Window.orderBy(col("cnt").desc, col("pair"))).cast("int"))
        .where(col("rank") <= 50)
        .select(col("rank"), col("pair"), col("cnt"))
        .orderBy(col("rank"))
    }, Some("""
      WITH w AS (
        SELECT word, CAST(count(*) AS BIGINT) AS n FROM (
          SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
        WHERE word <> '' GROUP BY word),
      p AS (
        SELECT unnest(list_transform(range(1, len(word)), i -> substr(word, i, 2))) AS pair, n
        FROM w WHERE len(word) >= 2),
      agg AS (SELECT pair, CAST(sum(n) AS BIGINT) AS cnt FROM p GROUP BY pair),
      ranked AS (
        SELECT pair, cnt, CAST(row_number() OVER (ORDER BY cnt DESC, pair) AS INT) AS rank
        FROM agg)
      SELECT rank, pair, cnt FROM ranked WHERE rank <= 50 ORDER BY rank""")),


    // Packed-example manifest — q145's inverse view: for each fixed
    // 2048-token training example, the docs that fill it (count, id range,
    // filled tokens — 2048 everywhere but the ragged tail). Offsets come
    // from GlobalCumsum's two-phase scan; each doc then explodes to only
    // the examples it touches (n_examples + n_docs rows total, never
    // tokens), and one hash agg on example_id builds the manifest.
    ("q179_pack_manifest", (s, dir) => {
      val t = T(s, dir, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
      ext.Packing.manifest(
          ext.Packing.offsets(t, "doc_id", "n_tokens"),
          "doc_id", "n_tokens", 2048L)
        .orderBy(col("example_id"))
    }, Some("""
      WITH t AS (
        SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents),
      c AS (
        SELECT doc_id, n_tokens,
          CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
        FROM t),
      e AS (
        SELECT doc_id, n_tokens, cum_before,
          unnest(generate_series(cum_before // 2048,
                                 (cum_before + n_tokens - 1) // 2048)) AS example_id
        FROM c)
      SELECT example_id, count(*) AS n_docs,
        min(doc_id) AS first_doc, max(doc_id) AS last_doc,
        CAST(sum(least(cum_before + n_tokens, (example_id + 1) * 2048) -
                 greatest(cum_before, example_id * 2048)) AS BIGINT)
          AS n_tokens_filled
      FROM e GROUP BY 1 ORDER BY 1""")),


    // Length-binned sequence packing (sorted batching): docs are quartiled
    // by token length (GlobalCumsum.ntile — bit-identical to SQL ntile,
    // no single-partition sort), then packed greedily into 2048-token
    // examples WITHIN each bin — the batching layout that keeps same-batch
    // sequence lengths near-uniform so padding-to-longest waste collapses.
    // In-bin offsets reuse the one global token cumsum over (bin, doc_id)
    // minus broadcast per-bin bases (the exactPercentilesGlobal rank
    // pattern); docs explode only to the examples they touch (q179's
    // manifest shape — n_docs + n_examples rows, never tokens).
    ("q186_binned_packing", (s, dir) => {
      // null text is excluded EXPLICITLY (mirrored in the oracle): a NULL
      // n_tokens would sort NULLS FIRST in Spark's ntile order but NULLS
      // LAST in DuckDB's, silently shifting every bin boundary
      val t = T(s, dir, "documents")
        .where(col("text").isNotNull)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
      ext.Packing.manifest(
          ext.Packing.binnedOffsets(t, "doc_id", "n_tokens", 4),
          "doc_id", "n_tokens", 2048L, extraKeys = Seq("bin"))
        .orderBy(col("bin"), col("example_id"))
    }, Some("""
      WITH t AS (
        SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents WHERE text IS NOT NULL),
      b AS (
        SELECT doc_id, n_tokens,
          CAST(ntile(4) OVER (ORDER BY n_tokens, doc_id) AS BIGINT) AS bin
        FROM t),
      c AS (
        SELECT doc_id, n_tokens, bin,
          CAST(coalesce(sum(n_tokens) OVER (PARTITION BY bin ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
        FROM b),
      e AS (
        SELECT bin, doc_id, n_tokens, cb,
          unnest(generate_series(cb // 2048,
                                 (cb + n_tokens - 1) // 2048)) AS example_id
        FROM c)
      SELECT bin, example_id, count(*) AS n_docs,
        min(doc_id) AS first_doc, max(doc_id) AS last_doc,
        CAST(sum(least(cb + n_tokens, (example_id + 1) * 2048) -
                 greatest(cb, example_id * 2048)) AS BIGINT)
          AS n_tokens_filled
      FROM e GROUP BY 1, 2 ORDER BY 1, 2""")),


    // Fractional-epoch mixing (Sampling.epochMix) — the UPSAMPLING dual of
    // q48's weightedMix: zh docs at 2.5 epochs (the low-resource upweight),
    // en at 0.4. Every key gets ⌊pct/100⌋ full copies + one more iff its
    // hash bucket < pct mod 100 — pure scan-stage explode, no shuffle, and
    // monotone in pct (raising a weight only ADDS copies, so a grown mix
    // never invalidates earlier training data). epoch_copy is 1-based so
    // packing can interleave copies instead of concatenating epochs.
    ("q208_epoch_mix", (s, dir) => {
      val d = T(s, dir, "documents")
      Sampling.epochMix(Seq(
          (d.where(col("lang") === "zh").select(col("doc_id"), col("lang")),
            col("doc_id"), 250),
          (d.where(col("lang") === "en").select(col("doc_id"), col("lang")),
            col("doc_id"), 40)))
        .orderBy(col("doc_id"), col("epoch_copy"))
    }, Some("""
      WITH src AS (
        SELECT doc_id, lang, 250 AS pct FROM documents WHERE lang = 'zh'
        UNION ALL
        SELECT doc_id, lang, 40 AS pct FROM documents WHERE lang = 'en'),
      c AS (
        SELECT doc_id, lang,
          pct // 100 + CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 12))::BIGINT
            % 100 < pct % 100 THEN 1 ELSE 0 END AS copies
        FROM src)
      SELECT doc_id, lang,
             CAST(unnest(generate_series(1, copies)) AS INT) AS epoch_copy
      FROM c WHERE copies >= 1
      ORDER BY doc_id, epoch_copy""")),


    // Training-order composition: q208's epoch mix → deterministic global
    // shuffle → shard assignment. Each (doc, copy) instance gets a shuffle
    // key = hash48(id:copy) — so the copies of one document land at
    // independent positions (the interleaving epochMix's epoch_copy exists
    // for), the order is a pure function of the corpus (rerun/engine/
    // partitioning-stable), and the global position comes from
    // GlobalCumsum.rowNumber's two-phase spine, never a single-partition
    // sort. shard = (pos-1) div 64 gives size-64 shards a writer can
    // partitionBy — contiguous in the shuffled order, balanced by
    // construction (every shard full except the last). The oracle replays
    // mix, shuffle key, and row_number independently.
    ("q209_training_order", (s, dir) => {
      val d = T(s, dir, "documents")
      val mixed = Sampling.epochMix(Seq(
        (d.where(col("lang") === "zh").select(col("doc_id"), col("lang")),
          col("doc_id"), 250),
        (d.where(col("lang") === "en").select(col("doc_id"), col("lang")),
          col("doc_id"), 40)))
      val keyed = mixed.withColumn("__sh", TextAnalysis.hash48(
        concat_ws(":", col("doc_id"), col("epoch_copy"))))
      graft.analytics.GlobalCumsum.rowNumber(
          keyed, Seq(col("__sh"), col("doc_id"), col("epoch_copy")), "pos")
        .withColumn("shard", expr("(pos - 1) div 64"))
        .select(col("doc_id"), col("lang"), col("epoch_copy"),
          col("pos"), col("shard"))
        .orderBy(col("pos"))
    }, Some("""
      WITH src AS (
        SELECT doc_id, lang, 250 AS pct FROM documents WHERE lang = 'zh'
        UNION ALL
        SELECT doc_id, lang, 40 AS pct FROM documents WHERE lang = 'en'),
      c AS (
        SELECT doc_id, lang,
          pct // 100 + CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 12))::BIGINT
            % 100 < pct % 100 THEN 1 ELSE 0 END AS copies
        FROM src),
      m AS (
        SELECT doc_id, lang,
               CAST(unnest(generate_series(1, copies)) AS INT) AS epoch_copy
        FROM c WHERE copies >= 1),
      o AS (
        SELECT doc_id, lang, epoch_copy,
          ('0x' || substr(md5(doc_id::VARCHAR || ':' || epoch_copy::VARCHAR),
            1, 12))::BIGINT AS sh
        FROM m),
      p AS (
        SELECT doc_id, lang, epoch_copy,
          CAST(row_number() OVER (ORDER BY sh, doc_id, epoch_copy) AS BIGINT) AS pos
        FROM o)
      SELECT doc_id, lang, epoch_copy, pos, (pos - 1) // 64 AS shard
      FROM p ORDER BY pos""")),


    // BPE vocabulary training (Sennrich et al. 2016) — 8 merge iterations
    // over the corpus word-frequency dict. The oracle replays the full
    // data-dependent loop UNROLLED (bpeOracleCtes): same delimited symbol
    // encoding, same plain-replace greedy merge, same (count desc, pair
    // lexicographic) argmax — so the learned merge table hash-gates
    // end-to-end. Corpus pays ONE scan (the dict build); every iteration
    // is vocabulary-sized.
    ("q223_bpe_merges", (s, dir) => {
      ext.Bpe.learnMerges(T(s, dir, "documents"), "text", merges = 8)
        .orderBy(col("step"))
    }, Some(s"""
      WITH ${bpeOracleCtes(8)}
      SELECT * FROM (
        ${(1 to 8).map(i => s"SELECT * FROM m$i").mkString(" UNION ALL ")})
      ORDER BY step""")),


    // Tokenization with the learned merges: the 8 merges compose into ONE
    // nested-replace projection — a single codegen'd corpus pass — and the
    // per-doc token counts (eow symbols included) gate against the oracle
    // re-deriving the same merges and applying them to the same words.
    ("q224_bpe_tokenize", (s, dir) => {
      ext.Bpe.applyMerges(T(s, dir, "documents"), "doc_id", "text",
          merges8(s, dir))
        .orderBy(col("doc_id"))
    }, Some(bpeTokenizeOracle)),


    // Tokenizer fertility audit — tokens-per-word by language, the
    // standard multilingual-tokenizer health check (a vocabulary trained
    // on skewed data over-fragments the under-represented languages).
    // Integer token/word masses summed per language, ONE final division.
    ("q225_bpe_fertility", (s, dir) => {
      val docs = T(s, dir, "documents")
      ext.Bpe.applyMerges(docs, "doc_id", "text", merges8(s, dir))
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(sum(col("n_words")).as("n_words"), sum(col("n_tokens")).as("n_tokens"))
        .withColumn("fertility",
          col("n_tokens").cast("double") / col("n_words"))
        .orderBy(col("lang"))
    }, Some(s"""
      WITH ${bpeOracleCtes(8)},
      tok AS (
        SELECT word, (length(sym) - length(replace(sym, '|', ''))) // 2 AS n_syms
        FROM w8),
      dw AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word
        FROM documents WHERE text IS NOT NULL),
      per AS (
        SELECT doc_id, count(*)::BIGINT AS n_words,
          CAST(sum(t.n_syms) AS BIGINT) AS n_tokens
        FROM dw JOIN tok t USING (word) WHERE word <> '' GROUP BY doc_id)
      SELECT d.lang, CAST(sum(per.n_words) AS BIGINT) AS n_words,
        CAST(sum(per.n_tokens) AS BIGINT) AS n_tokens,
        CAST(sum(per.n_tokens) AS DOUBLE) / sum(per.n_words) AS fertility
      FROM per JOIN documents d USING (doc_id)
      GROUP BY d.lang ORDER BY d.lang""")),


    // Streaming tokenization — the production shape: the merge table is
    // learned OFFLINE (batch, q223's loop), then the document stream is
    // tokenized by a STATELESS per-row projection (tokenizeRowwise: no
    // explode, no shuffle, no state — tokenize-on-ingest). Gated on
    // q224's oracle VERBATIM: the stream must reproduce the batch
    // tokenization exactly.
    ("q226_bpe_stream", (s, dir) => {
      val merges = merges8(s, dir)
      val tmp = docsStreamStaging(s, dir)
      val stream = s.readStream.schema("doc_id LONG, text STRING").parquet(tmp)
      memorySinkRows(s, ext.Bpe.tokenizeRowwise(stream, "doc_id", "text", merges),
          "graft_bpe_stream", "append")
        .orderBy(col("doc_id"))
    }, Some(bpeTokenizeOracle)),


    // The tokenizer-artifact round trip (q176's stored-index discipline,
    // for BPE): the merge table is TRAINED once, PERSISTED as parquet —
    // the artifact a production pipeline ships — then RELOADED by a
    // consumer that never touches the trainer, and tokenization off the
    // stored table must reproduce q224's batch result exactly (its oracle
    // VERBATIM). Step order survives the round trip explicitly via sort.
    ("q232_bpe_store_roundtrip", (s, dir) => {
      val docs = T(s, dir, "documents")
      val tmp = graft.util.Staging.dir("q232_bpe_store", dir) { p =>
        ext.Bpe.learnMerges(docs, "text", merges = 8)
          .write.mode("overwrite").parquet(s"$p/merges")
      }
      val merges = readFixture(s, s"$tmp/merges")
        .orderBy(col("step")).collect()
        .map(r => (r.getString(r.fieldIndex("left")), r.getString(r.fieldIndex("right"))))
        .toSeq
      ext.Bpe.applyMerges(docs, "doc_id", "text", merges)
        .orderBy(col("doc_id"))
    }, Some(bpeTokenizeOracle)),


    // The tokenization ITSELF, as strings — one row per (distinct word,
    // position) with the post-merge token; counts are audits, this is the
    // artifact that encodes text, and it must match the oracle's replay
    // of the same 8 merges string-for-string (the eow marker included).
    ("q233_bpe_tokens", (s, dir) => {
      val docs = T(s, dir, "documents")
      val merges = merges8(s, dir)
      ext.Bpe.tokenTable(docs, "text", merges)
        .orderBy(col("word"), col("token_idx"))
    }, Some(s"""
      WITH ${bpeOracleCtes(8)},
      t AS (
        SELECT word,
          string_split(substr(sym, 2, length(sym) - 2), '||') AS s
        FROM w8)
      SELECT word, CAST(u.i - 1 AS INT) AS token_idx, s[u.i] AS token
      FROM t CROSS JOIN LATERAL (
        SELECT unnest(range(1, len(s) + 1)) AS i) u
      ORDER BY word, token_idx""")),


    // Per-document TOKEN-ID sequences — the missing last mile between the
    // tokenizer family (which emitted counts and token strings) and
    // packing: a training pipeline ships id ARRAYS. Merges learned (q223's
    // loop), vocabulary ids assigned by frequency rank (Bpe.vocab — count
    // desc, token asc, dense 0-based), every doc's words resolved through
    // the word→ids artifact and flattened in (word pos, token pos) order.
    // Gated token by token: the id arrays are posexploded so the oracle
    // compares every (doc, pos, id) triple exactly.
    ("q234_bpe_token_ids", (s, dir) => {
      val docs = T(s, dir, "documents")
      val merges = merges8(s, dir)
      val v = vocab8Df(s, dir)
      ext.Bpe.tokenIds(docs, "doc_id", "text", merges, v)
        .select(col("doc_id"),
          posexplode(col("token_ids")).as(Seq("pos", "token_id")))
        .orderBy(col("doc_id"), col("pos"))
    }, Some(bpeTokenIdsOracle)),


    // The END-TO-END token pipeline: docs → learned merges → vocabulary →
    // per-doc token-id arrays → 2048-token packed training examples, every
    // example's payload gated position by position against the oracle's
    // independent replay (concatenate-the-corpus-then-chunk semantics; a
    // doc spanning an example boundary contributes to both). The offsets
    // come from the GlobalCumsum two-phase spine — per-token rows only
    // ever exist AFTER the doc-level cumsum, so token payloads never
    // shuffle (Packing.packTokens).
    ("q235_pack_token_ids", (s, dir) => {
      val docs = T(s, dir, "documents")
      val merges = merges8(s, dir)
      val v = vocab8Df(s, dir)
      val ids = ext.Bpe.tokenIds(docs, "doc_id", "text", merges, v)
      ext.Packing.packTokens(ids, "doc_id", "token_ids", exampleTokens = 2048L)
        .orderBy(col("example_id"), col("pos"))
    }, Some(s"""
      WITH ${bpeOracleCtes(8)},
      ${bpeTokenIdCtes},
      seq AS (
        SELECT dt.doc_id, v.token_id,
          row_number() OVER (ORDER BY dt.doc_id, dt.wpos, dt.tpos) - 1 AS g
        FROM dt JOIN vocab v USING (token))
      SELECT CAST(g // 2048 AS BIGINT) AS example_id,
        CAST(g % 2048 AS BIGINT) AS pos, doc_id, token_id
      FROM seq ORDER BY example_id, pos""")),


    // BATCHED BPE training gated end to end: 8 merges learned two
    // candidates per counting round with the deferral rule (a rank-2 pair
    // sharing a symbol with — or naming the output of — rank 1 waits for
    // the next round), against a full DuckDB replay of the same batched
    // rounds. This is the production merge-count path: driver round trips
    // drop batch× (Stress: 256 merges in 41 rounds), while batch=1
    // degenerates to q223's sequential loop exactly (spec law).
    ("q236_bpe_batched", (s, dir) => {
      ext.Bpe.learnMergesBatched(T(s, dir, "documents"), "text",
          merges = 8, batch = 2)
        .orderBy(col("step"))
    }, Some(s"""
      WITH ${bpeBatchedOracleCtes(8)}
      SELECT step, round, "left", "right", merged, pair_count FROM (
        SELECT CAST(row_number() OVER (ORDER BY round, rk) AS INT) AS step,
          round, l AS "left", r AS "right", l || r AS merged, c AS pair_count
        FROM (${(1 to 8).map(i =>
          s"SELECT CAST($i AS INT) AS round, l, r, c, rk FROM ba$i")
          .mkString(" UNION ALL ")}))
      WHERE step <= 8 ORDER BY step""")),


    // STREAMING tokenize-to-ids — the serving shape of the whole tokenizer
    // family: merges AND vocabulary are trained offline and ship as
    // LITERALS (the token space is alphabet + merges — model metadata), so
    // resolving a document to its id sequence is a pure per-row projection:
    // no join, no aggregation, no state (Bpe.tokenIdsRowwise). Gated on
    // q234's oracle VERBATIM — the stream must reproduce the batch id
    // assignment token for token. VERIFICATION-HARNESS BOUNDARY
    // (q19/q170 convention): memory sink + collect; the batch-side
    // posexplode just reshapes the collected arrays for the gate.
    ("q238_stream_token_ids", (s, dir) => {
      val merges = merges8(s, dir)
      val vocab = vocab8Map(s, dir)
      val tmp = docsStreamStaging(s, dir)
      // parquet sink instead of the memory sink (q281's rationale): the
      // per-doc token-id arrays are the whole tokenized corpus — the
      // memory sink hauled them to the driver only to re-serialize them
      // into a LocalRelation
      val outDir = scratch("q238_ids")
      val stream = s.readStream
        .schema("doc_id LONG, text STRING").parquet(tmp)
      val q = ext.Bpe.tokenIdsRowwise(stream, "doc_id", "text", merges, vocab)
        .writeStream.outputMode("append").format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", scratch("q238_ckpt"))
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(outDir)
        .select(col("doc_id"),
          posexplode(col("token_ids")).as(Seq("pos", "token_id")))
        .orderBy(col("doc_id"), col("pos"))
    }, Some(bpeTokenIdsOracle)),


    // Detokenization ROUND TRIP — the proof that the id arrays are
    // information-complete: ids resolve back through the INVERSE vocab
    // (literal map, no join), tokens concatenate, eow markers become word
    // boundaries, and the rebuilt text must equal the original (modulo
    // space runs — empty words are filtered at encode time, the
    // tokenizer's one documented loss; the oracle normalizes identically).
    ("q239_detokenize_roundtrip", (s, dir) => {
      val docs = T(s, dir, "documents")
      val merges = merges8(s, dir)
      val vdf = vocab8Df(s, dir)
      val vocab = vocab8Map(s, dir)
      val ids = ext.Bpe.tokenIds(docs, "doc_id", "text", merges, vdf)
      ext.Bpe.detokenize(ids, "doc_id", "token_ids", vocab)
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id,
        array_to_string(list_filter(string_split(text, ' '), w -> w <> ''), ' ')
          AS text_rebuilt
      FROM documents
      WHERE text IS NOT NULL
        AND len(list_filter(string_split(text, ' '), w -> w <> '')) > 0
      ORDER BY doc_id""")),


    // Padded-batch manifest — the SFT packing discipline (docs stay
    // ATOMIC; each batch pads to its max length): exact length-sorted
    // global order (GlobalCumsum row number — no single-partition sort),
    // consecutive 32-doc batches, exact integer padding economics
    // (padding_waste = n_docs·max_len − total_tokens is the token mass a
    // trainer burns on pads; length-sorting collapses the in-batch
    // spread — the reason sorted batching exists).
    ("q243_padded_batches", (s, dir) => {
      val docs = T(s, dir, "documents").where(col("text").isNotNull)
        .select(col("doc_id"),
          textTokenCount.as("n_tokens"))
      ext.Packing.paddedBatchManifest(docs, "doc_id", "n_tokens", batchDocs = 32)
        .orderBy(col("batch_id"))
    }, Some("""
      WITH d AS (
        SELECT doc_id,
          len(list_filter(string_split(text, ' '), w -> w <> ''))::BIGINT AS n
        FROM documents WHERE text IS NOT NULL),
      r AS (
        SELECT doc_id, n, row_number() OVER (ORDER BY n, doc_id) AS rn
        FROM d)
      SELECT CAST((rn - 1) // 32 AS BIGINT) AS batch_id,
        count(*)::BIGINT AS n_docs,
        min(doc_id) AS first_doc, max(doc_id) AS last_doc,
        min(n)::BIGINT AS min_len, max(n)::BIGINT AS max_len,
        sum(n)::BIGINT AS total_tokens,
        (count(*) * max(n) - sum(n))::BIGINT AS padding_waste
      FROM r GROUP BY 1 ORDER BY batch_id""")),


    // The PRODUCTION-merge-count apply path, gated end to end at 2048
    // merges: past Bpe.RankPathMaxMerges the apply family routes through
    // the typed rank tokenizer (broadcast pair→rank map + per-word
    // lowest-ranked-present-pair loop) instead of the nested-replace
    // expression chain, whose plan DEPTH grows with the merge count — the
    // one plan shape that fails structurally at a 32k-merge vocabulary.
    // The corpus's 31-word fixture vocabulary can't source 2048 merges, so
    // each doc is salted with 12 md5-derived pseudo-words (the
    // q240/q241 fixture discipline: payloads from a doc_id formula the
    // oracle replays) and the merge table is the top-450 words' prefix
    // chains — (prefix_j, char_{j+1}) in (word rank, j) order, deduped
    // keeping first, capped at 2048. Prefix chains satisfy the same
    // creation-order invariant every LEARNED table has (a pair's left
    // symbol is built by a strictly earlier merge), so rank application is
    // well-defined; the oracle replays the exact table and folds all 2048
    // delimited replaces per distinct word (list_reduce), then gates every
    // per-doc count. The merge table itself is model metadata (2048 rows
    // collected — the k-means discipline).
    ("q244_bpe_rank_2048", (s, dir) => {
      val docs = T(s, dir, "documents")
      val salted = docs.where(col("text").isNotNull)
        .select(col("doc_id"), concat(col("text"), lit(" "),
          concat_ws(" ", transform(sequence(lit(0), lit(11)), i =>
            md5(concat(col("doc_id").cast("string"), lit("_"), i.cast("string")))
              .substr(lit(1), (lit(3) + pmod(col("doc_id") * 7 + i * 13, lit(10)))
                .cast("int"))))).as("text2"))
      val counts = salted
        .select(explode(split(col("text2"), " ")).as("word"))
        .where(col("word") =!= "" && length(col("word")).between(2, 63))
        .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      val ranked = GlobalCumsum.rowNumber(counts,
        Seq(col("cnt").desc, md5(col("word")), col("word")), "rk")
        .where(col("rk") <= 450)
      val merges = ranked
        .select(col("rk"), col("word"),
          explode(sequence(lit(1), length(col("word")) - 1)).as("j"))
        .select(col("word").substr(lit(1), col("j")).as("l"),
          col("word").substr(col("j") + 1, lit(1)).as("r"),
          (col("rk") * 64 + col("j")).as("ord"))
        .groupBy(col("l"), col("r")).agg(min(col("ord")).as("ord"))
        .orderBy(col("ord")).limit(2048)
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      require(merges.size > ext.Bpe.RankPathMaxMerges,
        s"q244 must exercise the rank path, got only ${merges.size} merges")
      ext.Bpe.applyMerges(salted, "doc_id", "text2", merges) // routes typed at 2048
        .orderBy(col("doc_id"))
    }, Some(raw"""
      WITH sw AS (
        SELECT doc_id, i.i AS i,
          substr(md5(doc_id || '_' || i.i), 1,
            CAST(3 + (doc_id*7 + i.i*13) % 10 AS INT)) AS w
        FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL)
        CROSS JOIN (SELECT unnest(range(0, 12)) AS i) i),
      salt AS (SELECT doc_id, string_agg(w, ' ' ORDER BY i) AS swords
               FROM sw GROUP BY doc_id),
      d AS MATERIALIZED (
        SELECT dd.doc_id, dd.text || ' ' || s.swords AS text
        FROM documents dd JOIN salt s USING (doc_id) WHERE dd.text IS NOT NULL),
      w AS (
        SELECT word, count(*)::BIGINT AS cnt FROM (
          SELECT unnest(string_split(text, ' ')) AS word FROM d)
        WHERE word <> '' AND len(word) BETWEEN 2 AND 63 GROUP BY word),
      r AS (
        SELECT word, CAST(row_number() OVER (ORDER BY cnt DESC, md5(word), word) AS BIGINT) AS rk
        FROM w),
      chains AS (
        SELECT substr(word, 1, CAST(j.j AS INT)) AS l,
               substr(word, CAST(j.j AS INT) + 1, 1) AS r2,
               min(rk*64 + j.j) AS ord
        FROM r CROSS JOIN LATERAL (SELECT unnest(range(1, len(word))) AS j) j
        WHERE rk <= 450 GROUP BY 1, 2),
      mt AS (
        SELECT l, r2, CAST(row_number() OVER (ORDER BY ord) AS BIGINT) AS rank
        FROM chains QUALIFY rank <= 2048),
      ml AS (SELECT list('|' || l || '||' || r2 || '|' || chr(9) || '|' || l || r2 || '|'
               ORDER BY rank) AS ms FROM mt),
      dict AS (
        SELECT DISTINCT word FROM (
          SELECT unnest(string_split(text, ' ')) AS word FROM d) WHERE word <> ''),
      tok AS MATERIALIZED (
        SELECT word, list_reduce(
            list_prepend(regexp_replace(word, '(.)', '|\1|', 'g') || '|>|',
              (SELECT ms FROM ml)),
            (acc, m) -> replace(acc, split_part(m, chr(9), 1), split_part(m, chr(9), 2))) AS sym
        FROM dict),
      tokn AS (SELECT word,
          (length(sym) - length(replace(sym, '|', ''))) // 2 AS n_syms FROM tok),
      dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM d)
      SELECT doc_id, count(*)::BIGINT AS n_words,
        CAST(sum(t.n_syms) AS BIGINT) AS n_tokens
      FROM dw JOIN tokn t USING (word) WHERE word <> ''
      GROUP BY doc_id ORDER BY doc_id""")),


    // STREAMING tokenize-to-ids made TOTAL — the byte-fallback production
    // OOV path: the stream carries characters the training corpus never saw
    // (each doc salted with "theñ<d>→" — a 2-byte and a 3-byte code point
    // plus a digit, fused to a real-word prefix so learned merges apply
    // INSIDE the partially-OOV word), and instead of killing the query an
    // out-of-vocabulary token falls back to its UTF-8 bytes as ids
    // byteFallbackBase + byte (Bpe.tokenIdsTyped, the typed rank path —
    // model broadcast, never plan literals). The oracle learns the same 8
    // merges, tokenizes the SALTED words through the same replace chain,
    // resolves known tokens through the vocab and OOV tokens byte by byte
    // (hex(encode(token))), and gates every (doc, pos, id) triple.
    ("q245_stream_byte_fallback", (s, dir) => {
      val docs = T(s, dir, "documents")
      val merges = merges8(s, dir)
      val vocab = vocab8Map(s, dir)
      val tmp = graft.util.Staging.dir("q245_salted_docs", dir) { p =>
        docs.where(col("text").isNotNull)
          .select(col("doc_id"), concat(col("text"), lit(" theñ"),
            (col("doc_id") % 7).cast("string"), lit("→")).as("text"))
          .repartition(8).write.mode("overwrite").parquet(s"$p/stream")
      }
      // parquet sink instead of the memory sink (q281's rationale)
      val outDir = scratch("q245_ids")
      val stream = s.readStream
        .schema("doc_id LONG, text STRING").parquet(s"$tmp/stream")
      val q = ext.Bpe.tokenIdsTyped(stream, "doc_id", "text", merges, vocab,
          byteFallback = true)
        .writeStream.outputMode("append").format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", scratch("q245_ckpt"))
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(outDir)
        .select(col("doc_id"),
          posexplode(col("token_ids")).as(Seq("pos", "token_id")))
        .orderBy(col("doc_id"), col("pos"))
    }, Some(s"""
      WITH ${bpeOracleCtes(8)},
      ${bpeTokenIdCtes},
      sdw AS (
        SELECT doc_id, u.i AS wpos, ws[u.i] AS word
        FROM (SELECT doc_id,
                string_split(text || ' theñ' || (doc_id % 7) || '→', ' ') AS ws
              FROM documents WHERE text IS NOT NULL)
        CROSS JOIN LATERAL (SELECT unnest(range(1, len(ws) + 1)) AS i) u
        WHERE ws[u.i] <> ''),
      stok AS MATERIALIZED (
        SELECT word, string_split(substr(sym2, 2, length(sym2) - 2), '||') AS ts
        FROM (SELECT word, ${bpeApplyOracleExpr(8)} AS sym2
              FROM (SELECT DISTINCT word FROM sdw))),
      vsz AS (SELECT max(token_id) + 1 AS base FROM vocab),
      stid AS (
        SELECT d.doc_id, d.wpos, u.i AS tpos, t.ts[u.i] AS token
        FROM sdw d JOIN stok t USING (word)
        CROSS JOIN LATERAL (SELECT unnest(range(1, len(t.ts) + 1)) AS i) u),
      pertok AS (
        SELECT s.doc_id, s.wpos, s.tpos,
          CASE WHEN v.token_id IS NOT NULL THEN [v.token_id]
               ELSE list_transform(range(1, octet_length(encode(s.token)) + 1), j ->
                 CAST(z.base +
                   CAST('0x' || substr(hex(encode(s.token)), CAST(2*j-1 AS INT), 2) AS INT) AS INT))
          END AS ids
        FROM stid s LEFT JOIN vocab v USING (token) CROSS JOIN vsz z),
      flat AS (
        SELECT doc_id, wpos, tpos, u.i AS bpos, ids[u.i] AS token_id
        FROM pertok CROSS JOIN LATERAL (SELECT unnest(range(1, len(ids) + 1)) AS i) u)
      SELECT doc_id,
        CAST(row_number() OVER (PARTITION BY doc_id ORDER BY wpos, tpos, bpos) - 1 AS INT) AS pos,
        token_id
      FROM flat ORDER BY doc_id, pos""")),


    // Byte-fallback ROUND TRIP — the id arrays of the salted (OOV-bearing)
    // corpus are information-complete: detokenizeTyped resolves learned ids
    // through the inverse vocab and BYTE RUNS through one UTF-8 decode (a
    // multi-byte code point's bytes are adjacent by construction, and
    // UTF-8 concat-decode equals decode-concat), reproducing the salted
    // text exactly modulo space runs — q239's law, now under OOV input.
    ("q246_byte_fallback_roundtrip", (s, dir) => {
      val docs = T(s, dir, "documents")
      val merges = merges8(s, dir)
      val vocab = vocab8Map(s, dir)
      val salted = docs.where(col("text").isNotNull)
        .select(col("doc_id"), concat(col("text"), lit(" theñ"),
          (col("doc_id") % 7).cast("string"), lit("→")).as("text"))
      val ids = ext.Bpe.tokenIdsTyped(salted, "doc_id", "text", merges, vocab,
        byteFallback = true)
      ext.Bpe.detokenizeTyped(ids, "doc_id", "token_ids", vocab,
          byteFallback = true)
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id,
        array_to_string(list_filter(
          string_split(text || ' theñ' || (doc_id % 7) || '→', ' '),
          w -> w <> ''), ' ') AS text_rebuilt
      FROM documents WHERE text IS NOT NULL
      ORDER BY doc_id""")),


    // Packed-example DOC BOUNDARIES — the attention-masking metadata q235's
    // payload gate doesn't carry: a trainer packing multiple docs into one
    // 2048-token example must know where each doc segment starts so tokens
    // never attend across documents. packedExamplesWithBoundaries emits
    // (doc_starts, doc_ids) per example off the SAME one-agg fold as the
    // payload (a doc's tokens are contiguous by construction, so
    // boundaries are exactly the owner changes in position order); the
    // gate posexplodes the boundary arrays and the oracle recomputes every
    // (example, slot, start, doc) from the q235 token stream.
    ("q248_packed_doc_boundaries", (s, dir) => {
      val docs = T(s, dir, "documents")
      val merges = merges8(s, dir)
      val v = vocab8Df(s, dir)
      val ids = ext.Bpe.tokenIds(docs, "doc_id", "text", merges, v)
      ext.Packing.packedExamplesWithBoundaries(ids, "doc_id", "token_ids",
          exampleTokens = 2048L)
        .select(col("example_id"), col("n_tokens"),
          posexplode(arrays_zip(col("doc_starts"), col("doc_ids")))
            .as(Seq("slot", "__b")))
        .select(col("example_id"), col("n_tokens"), col("slot"),
          col("__b.doc_starts").as("doc_start"),
          col("__b.doc_ids").as("doc_id"))
        .orderBy(col("example_id"), col("slot"))
    }, Some(s"""
      WITH ${bpeOracleCtes(8)},
      ${bpeTokenIdCtes},
      seq AS (
        SELECT dt.doc_id, v.token_id,
          row_number() OVER (ORDER BY dt.doc_id, dt.wpos, dt.tpos) - 1 AS g
        FROM dt JOIN vocab v USING (token)),
      tok AS (
        SELECT CAST(g // 2048 AS BIGINT) AS example_id,
               CAST(g % 2048 AS BIGINT) AS pos, doc_id FROM seq),
      b AS (
        SELECT example_id, doc_id, min(pos) AS doc_start
        FROM tok GROUP BY 1, 2),
      n AS (SELECT example_id, count(*)::BIGINT AS n_tokens FROM tok GROUP BY 1)
      SELECT b.example_id, n.n_tokens,
        CAST(row_number() OVER (PARTITION BY b.example_id ORDER BY b.doc_start) - 1 AS INT) AS slot,
        b.doc_start, b.doc_id
      FROM b JOIN n USING (example_id)
      ORDER BY example_id, slot""")),


    // Fill-in-the-middle (PSM) training-data transform (Bavarian et al.
    // 2022) — the op that teaches a causal LM to infill: half the docs
    // (doc_id even — the paper's FIM rate) re-emit their id sequence as
    // [PRE] prefix [SUF] suffix [MID] middle, split at the exact integer
    // points (n·37) div 100 and (n·75) div 100, with sentinels allocated
    // immediately after the vocabulary; odd docs pass through. Pure
    // per-row array surgery over q234's id pipeline — no shuffle, no
    // state — and the oracle recomputes every output position from the
    // layout arithmetic (prefix keeps its index, suffix shifts behind
    // [SUF], the middle lands at the tail behind [MID]).
    ("q250_fim_transform", (s, dir) => {
      val docs = T(s, dir, "documents")
      val merges = merges8(s, dir)
      val v = vocab8Map(s, dir)
      val base = v.values.max + 1
      val ids = ext.Bpe.tokenIds(docs, "doc_id", "text", merges, vocab8Df(s, dir))
      ext.Packing.fimPsm(ids, "token_ids",
          preId = base, sufId = base + 1, midId = base + 2,
          midStartPct = 37, midEndPct = 75,
          transformPred = col("doc_id") % 2 === 0)
        .select(col("doc_id"),
          posexplode(col("fim_ids")).as(Seq("pos", "token_id")))
        .orderBy(col("doc_id"), col("pos"))
    }, Some(s"""
      WITH ${bpeOracleCtes(8)},
      ${bpeTokenIdCtes},
      seqd AS (
        SELECT dt.doc_id, v.token_id,
          row_number() OVER (PARTITION BY dt.doc_id ORDER BY dt.wpos, dt.tpos) AS i
        FROM dt JOIN vocab v USING (token)),
      nn AS (SELECT doc_id, max(i) AS n FROM seqd GROUP BY 1),
      vsz AS (SELECT max(token_id) + 1 AS v FROM vocab),
      fimtoks AS (
        SELECT s.doc_id,
          CASE WHEN s.doc_id % 2 <> 0 THEN s.i - 1
               WHEN s.i <= (n.n*37)//100 THEN s.i
               WHEN s.i > (n.n*75)//100
                 THEN (n.n*37)//100 + 1 + (s.i - (n.n*75)//100)
               ELSE n.n - (n.n*75)//100 + 2 + s.i END AS pos,
          s.token_id
        FROM seqd s JOIN nn n USING (doc_id)),
      sent AS (
        SELECT n.doc_id,
          CASE k.k WHEN 0 THEN 0
                   WHEN 1 THEN (n.n*37)//100 + 1
                   ELSE (n.n*37)//100 + (n.n - (n.n*75)//100) + 2 END AS pos,
          CAST(z.v + k.k AS INT) AS token_id
        FROM nn n CROSS JOIN (SELECT unnest(range(0, 3)) AS k) k CROSS JOIN vsz z
        WHERE n.doc_id % 2 = 0)
      SELECT doc_id, CAST(pos AS INT) AS pos, token_id
      FROM (SELECT * FROM fimtoks UNION ALL SELECT * FROM sent)
      ORDER BY doc_id, pos""")),


    // SFT prompt loss-masking THROUGH packing: the first 30% of each doc's
    // tokens (the prompt) mask to 0 — excluded from the loss — by exact
    // integer cross-multiplication, the mask fuses onto the id array as a
    // struct payload, and packTokens lays out (token_id, mask) with the
    // SAME offsets arithmetic as the ids (one pass, no second packer, no
    // join). The oracle recomputes the in-doc index, the mask boundary,
    // and the packed (example, pos) address for every token.
    ("q251_packed_loss_mask", (s, dir) => {
      val docs = T(s, dir, "documents")
      val ids = ext.Bpe.tokenIds(docs, "doc_id", "text", merges8(s, dir),
        vocab8Df(s, dir))
      val masked = ext.Packing.promptMasked(ids, "token_ids", promptPct = 30)
      ext.Packing.packTokens(masked, "doc_id", "masked", exampleTokens = 2048L)
        .select(col("example_id"), col("pos"), col("doc_id"),
          col("token_id").getField("token_id").as("token_id"),
          col("token_id").getField("mask").as("loss_mask"))
        .orderBy(col("example_id"), col("pos"))
    }, Some(s"""
      WITH ${bpeOracleCtes(8)},
      ${bpeTokenIdCtes},
      seqd AS (
        SELECT dt.doc_id, v.token_id,
          row_number() OVER (PARTITION BY dt.doc_id ORDER BY dt.wpos, dt.tpos) AS i,
          row_number() OVER (ORDER BY dt.doc_id, dt.wpos, dt.tpos) - 1 AS g
        FROM dt JOIN vocab v USING (token)),
      nn AS (SELECT doc_id, max(i) AS n FROM seqd GROUP BY 1)
      SELECT CAST(s.g // 2048 AS BIGINT) AS example_id,
        CAST(s.g % 2048 AS BIGINT) AS pos, s.doc_id, s.token_id,
        CASE WHEN (s.i - 1) * 100 < n.n * 30 THEN 0 ELSE 1 END AS loss_mask
      FROM seqd s JOIN nn n USING (doc_id)
      ORDER BY example_id, pos""")),


    // First-fit-decreasing bin packing — the THIRD packing discipline next
    // to concat-chunk (q235: docs split, no padding) and padded batches
    // (q243: docs atomic, one per row): docs atomic AND multi-doc bins of
    // a fixed budget. Deterministic FFD order (length desc, id asc — the
    // exact GlobalCumsum rank) with groups of 256 consecutive ranks packing
    // INDEPENDENTLY — the bounded sequential horizon that makes first-fit
    // (inherently order-dependent) distributable: every group is an
    // isolated ≤256-doc problem, all groups in parallel. The oracle replays
    // the identical fold as a recursive CTE advancing all groups in
    // lockstep, one rank per iteration, state = per-group bin loads —
    // assignment replayed row-exact, not just waste totals.
    ("q253_ffd_packing", (s, dir) => {
      val docs = T(s, dir, "documents").where(col("text").isNotNull)
        .select(col("doc_id"),
          textTokenCount.as("n"))
        .where(col("n") > 0)
      ext.Packing.ffdPack(docs, "doc_id", "n", budget = 256L, groupDocs = 256)
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH RECURSIVE ${ffdOracleCtes(256, 256)}
      SELECT x.doc_id, x.n AS n_tokens, x.grp,
        fin.bins[CAST(x.rnk AS INT) + 1] - 1 AS bin
      FROM g x JOIN fin USING (grp)
      ORDER BY doc_id""")),


    // The packing WASTE LEDGER — four disciplines costed over the SAME
    // docs in one report, the number a pipeline owner decides with: slots
    // allocated vs payload used, waste = slots − payload, plus the
    // split-doc count that is concat-chunk's (non-waste) price. The
    // honest comparison is WITHIN the fixed-width rows (what a fixed
    // context length can consume): concat_chunk < ffd < padded_fixed,
    // with ffd ≤ padded_fixed GUARANTEED (FFD never opens more bins than
    // docs — law-tested) — that pair is the packer's before/after.
    // padded_batches (length-sorted, padded to each batch's own max) posts
    // the smallest pad mass but VARIABLE-width examples — spendable only
    // by a trainer that accepts per-batch sequence lengths; the ledger
    // prints it with exactly that caveat. All counts integral, the one
    // ratio divides last (FP-determinism discipline).
    ("q254_packing_waste_ledger", (s, dir) => {
      val docs = T(s, dir, "documents").where(col("text").isNotNull)
        .select(col("doc_id"),
          textTokenCount.as("n"))
      ext.Packing.packingWasteLedger(docs, "doc_id", "n",
          exampleTokens = 256L, batchDocs = 32, groupDocs = 256)
        .orderBy(col("discipline"))
    }, Some(s"""
      WITH RECURSIVE ${ffdOracleCtes(256, 256)},
      tot AS (SELECT sum(n)::BIGINT AS payload, count(*)::BIGINT AS nd FROM g),
      co AS (
        SELECT doc_id, n,
          coalesce(sum(n) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        FROM g),
      cosplit AS (
        SELECT count(*) FILTER (cb // 256 <> (cb + n - 1) // 256)::BIGINT AS ds
        FROM co),
      pr AS (
        SELECT doc_id, n, row_number() OVER (ORDER BY n, doc_id) AS rn FROM g),
      pb AS (
        SELECT (rn-1)//32 AS batch_id, count(*)::BIGINT AS k,
               max(n)::BIGINT AS mx, sum(n)::BIGINT AS bt
        FROM pr GROUP BY 1),
      fb AS (SELECT sum(list_max(bins))::BIGINT AS nbins FROM fin),
      led AS (
        SELECT 'concat_chunk' AS discipline,
          (t.payload + 255) // 256 AS n_examples,
          ((t.payload + 255) // 256) * 256 AS slot_tokens,
          t.payload AS payload_tokens, s.ds AS docs_split
        FROM tot t CROSS JOIN cosplit s
        UNION ALL
        SELECT 'padded_batches', count(*)::BIGINT, sum(k * mx)::BIGINT,
          sum(bt)::BIGINT, 0 FROM pb
        UNION ALL
        SELECT 'padded_fixed', t.nd, t.nd * 256, t.payload, 0 FROM tot t
        UNION ALL
        SELECT 'ffd', f.nbins, f.nbins * 256, t.payload, 0
        FROM fb f CROSS JOIN tot t)
      SELECT discipline, CAST(n_examples AS BIGINT) AS n_examples,
        CAST(slot_tokens AS BIGINT) AS slot_tokens,
        CAST(payload_tokens AS BIGINT) AS payload_tokens,
        CAST(docs_split AS BIGINT) AS docs_split,
        CAST(slot_tokens - payload_tokens AS BIGINT) AS waste_tokens,
        CAST(slot_tokens - payload_tokens AS DOUBLE) /
          CAST(slot_tokens AS DOUBLE) AS waste_pct
      FROM led ORDER BY discipline""")),


    // Regex PRE-TOKENIZATION in front of BPE — production tokenizers
    // (GPT-2/tiktoken family) split text on a category regex BEFORE
    // merging, so merges never cross letter/digit/punctuation boundaries
    // and contractions detach ("don't 12ab!" -> don  't  12  ab  !).
    // Bpe.PreTokenPattern is the Java∩RE2 leftmost-first subset of the
    // GPT-2 split (no lookahead, whitespace a separator — the q80/q182
    // regex discipline), and Bpe.preTokenizedText feeds the EXISTING
    // merge path by re-joining the matches on single spaces (a pre-token
    // can never contain whitespace, so the pipeline's whitespace splitter
    // recovers exactly the pre-tokens). The fixture's 31 plain words
    // would make pre-tokenization the identity, so docs are salted with
    // 4 deterministic contraction/digit/punctuation tails keyed by
    // doc_id % 4; the oracle replays the SAME splits via DuckDB's
    // regexp_extract_all (RE2) — engine-identical matching is the whole
    // point of the pattern subset — then folds the 8 live-trained merges
    // over the pre-token dictionary (q233's gate shape).
    ("q255_bpe_pretokenize", (s, dir) => {
      val docs = T(s, dir, "documents")
      val salts = array(lit(" it's 42, x!"), lit(" don't a1-b2."),
        lit(" we're #99??"), lit(" i'll 3.14; ok"))
      val salted = docs.where(col("text").isNotNull)
        .select(col("doc_id"), concat(col("text"),
          element_at(salts, pmod(col("doc_id"), lit(4)).cast("int") + 1)).as("text"))
      val pre = ext.Bpe.preTokenizedText(salted, "text")
      val merges = ext.Bpe.learnMerges(pre, "text", merges = 8)
        .orderBy(col("step")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      ext.Bpe.tokenTable(pre, "text", merges)
        .orderBy(col("word"), col("token_idx"))
    }, Some(s"""
      WITH ${bpeOracleCtes(8, s"""SELECT unnest(regexp_extract_all(
                text || CASE doc_id % 4
                  WHEN 0 THEN ' it''s 42, x!'
                  WHEN 1 THEN ' don''t a1-b2.'
                  WHEN 2 THEN ' we''re #99??'
                  ELSE ' i''ll 3.14; ok' END,
                '${ext.Bpe.PreTokenPattern.replace("'", "''")}')) AS word
              FROM documents WHERE text IS NOT NULL""")},
      t AS (
        SELECT word,
          string_split(substr(sym, 2, length(sym) - 2), '||') AS s
        FROM w8)
      SELECT word, CAST(u.i - 1 AS INT) AS token_idx, s[u.i] AS token
      FROM t CROSS JOIN LATERAL (
        SELECT unnest(range(1, len(s) + 1)) AS i) u
      ORDER BY word, token_idx""")),

    // WordPiece (BERT-family) tokenization — the second production
    // tokenizer family next to BPE: greedy longest-match-first
    // segmentation of the distinct word dictionary against a
    // corpus-derived piece vocabulary (top-50 occurrence-weighted
    // substrings per side + every single character, so the corpus
    // tokenizes totally). The oracle re-derives the same vocabulary in
    // SQL and replays the greedy loop as a recursive CTE carrying the
    // piece list, with a static 1..4 length table (maxLen = 4) instead
    // of a correlated lateral inside the recursion.
    ("q261_wordpiece", (s, dir) => {
      ext.Wordpiece.tokenTable(T(s, dir, "documents"), "text",
          maxLen = 4, topK = 50)
        .orderBy(col("word"), col("piece_idx"))
    }, Some(s"""
      WITH RECURSIVE ${wordpieceOracleCtes}
      SELECT word, CAST(u.i - 1 AS INT) AS piece_idx,
        CASE WHEN u.i = 1 THEN pieces[u.i] ELSE '##' || pieces[u.i] END AS piece
      FROM fin CROSS JOIN LATERAL (
        SELECT unnest(range(1, len(pieces) + 1)) AS i) u
      ORDER BY word, piece_idx""")),

    // The WordPiece STREAMING twin: rowwise greedy segmentation of a
    // document stream against the SHIPPED piece sets (the per-JVM model
    // memo — training stays live-gated in q261), replayed through REAL
    // Structured Streaming (staged parquet → AvailableNow → memory sink).
    // Stateless per row by construction, so the streamed answer equals
    // the batch segmentation for ANY micro-batch split; the oracle
    // re-derives the vocabulary and per-doc positions from scratch.
    ("q264_stream_wordpiece", (s, dir) => {
      val (initSet, contSet) = wpModel(s, dir)
      val tmp = docsStreamStaging(s, dir)
      // parquet sink instead of the memory sink (q281's rationale): the
      // tokenize emits PIECE-level rows, and the memory sink hauled them
      // all to the driver only to re-serialize them into a LocalRelation
      val outDir = scratch("q264_pieces")
      val stream = s.readStream
        .schema("doc_id LONG, text STRING").parquet(tmp)
      val q = ext.Wordpiece.tokenizeRowwise(stream, "doc_id", "text",
          initSet, contSet, maxLen = 4)
        .writeStream.outputMode("append").format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", scratch("q264_ckpt"))
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(outDir)
        .orderBy(col("doc_id"), col("pos"))
    }, Some(s"""
      WITH RECURSIVE ${wordpieceOracleCtes},
      wd AS (
        SELECT doc_id, u.i AS widx, ws[u.i] AS word FROM (
          SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
          FROM documents WHERE text IS NOT NULL)
        CROSS JOIN LATERAL (SELECT unnest(range(1, len(ws) + 1)) AS i) u),
      outp AS (
        SELECT wd.doc_id, wd.widx, u.i AS pidx,
          CASE WHEN u.i = 1 THEN pieces[u.i] ELSE '##' || pieces[u.i] END AS piece
        FROM wd JOIN fin USING (word)
        CROSS JOIN LATERAL (SELECT unnest(range(1, len(pieces) + 1)) AS i) u)
      SELECT doc_id,
        CAST(row_number() OVER (PARTITION BY doc_id ORDER BY widx, pidx) - 1 AS INT) AS pos,
        piece
      FROM outp ORDER BY doc_id, pos""")),

    // WordPiece vocabulary-size economics: occurrence-weighted fertility
    // (pieces per word) at topK = 10 vs 50 in one report — the q225/q244
    // economics discipline applied to the piece-vocab axis: how much a
    // smaller vocabulary costs in sequence length. Both arms derive live;
    // the oracle replays both derivations as tagged recursions in one
    // statement.
    ("q265_wordpiece_fertility", (s, dir) => {
      val docs = T(s, dir, "documents")
      ext.Wordpiece.fertility(docs, "text", maxLen = 4, topK = 10)
        .unionByName(ext.Wordpiece.fertility(docs, "text", maxLen = 4, topK = 50))
        .orderBy(col("top_k"))
    }, Some(s"""
      WITH RECURSIVE ${wordpieceOracleCtesTagged(10, "a")},
      ${wordpieceOracleCtesTagged(50, "b")},
      arma AS (
        SELECT 10 AS top_k, CAST(sum(cnt) AS BIGINT) AS n_words,
          CAST(sum(cnt * len(pieces)) AS BIGINT) AS n_pieces
        FROM wa JOIN fina USING (word)),
      armb AS (
        SELECT 50 AS top_k, CAST(sum(cnt) AS BIGINT) AS n_words,
          CAST(sum(cnt * len(pieces)) AS BIGINT) AS n_pieces
        FROM wb JOIN finb USING (word))
      SELECT top_k, n_words, n_pieces,
        n_pieces::DOUBLE / n_words AS fertility
      FROM (SELECT * FROM arma UNION ALL SELECT * FROM armb)
      ORDER BY top_k""")),

    // Streaming tokenizer-health monitor: the live [UNK]/fallback rate of
    // the shipped WordPiece model over a document stream — the gauge that
    // decides when the vocabulary needs re-derivation (the q257 drift-
    // monitor discipline for the tokenizer). Docs are salted with an
    // out-of-corpus suffix so the fallback path actually fires; the
    // complete-mode aggregation keeps 4 bucket rows of state. The oracle
    // replays the salt, the greedy loop WITH the UNK terminal (a NULL
    // best-match in the recursion), and the weighted bucket aggregation.
    ("q267_stream_tokenizer_oov", (s, dir) => {
      val (initSet, contSet) = wpModel(s, dir)
      val tmp = saltedDocsStaging(s, dir)
      // 4 shuffle partitions: 4 bucket rows of state need no more commits
      val s2 = isolated(s, "spark.sql.shuffle.partitions" -> "4")
      val stream = s2.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 2).parquet(tmp)
      memorySinkRows(s, ext.Wordpiece.tokenizeRowwise(stream, "doc_id", "text",
            initSet, contSet, maxLen = 4)
          .groupBy((col("doc_id") % 4).as("bucket"))
          .agg(count(lit(1)).as("n_pieces"),
            count(when(col("piece") === ext.Wordpiece.Unk, 1)).as("n_unk")),
          "graft_stream_wp_oov", "complete")
        .select(col("bucket"), col("n_pieces"), col("n_unk"),
          (col("n_unk").cast("double") / col("n_pieces")).as("unk_rate"))
        .orderBy(col("bucket"))
    }, Some(s"""
      WITH RECURSIVE ${wordpieceOracleCtes},
      sd AS (
        SELECT doc_id, text || ' q9z' || CAST(doc_id % 5 AS VARCHAR) AS text2
        FROM documents WHERE text IS NOT NULL),
      sw AS (
        SELECT doc_id % 4 AS bucket,
          unnest(list_filter(string_split(text2, ' '), x -> x <> '')) AS word
        FROM sd),
      swc AS (SELECT bucket, word, count(*)::BIGINT AS cnt FROM sw GROUP BY 1, 2),
      swd AS (SELECT DISTINCT word FROM swc),
      ${wordpieceUnkCte("tok2", "swd")},
      wstat AS (SELECT word, np, nu FROM tok2 WHERE pos = length(word) + 1),
      agg AS (
        SELECT bucket, CAST(sum(cnt * np) AS BIGINT) AS n_pieces,
          CAST(sum(cnt * nu) AS BIGINT) AS n_unk
        FROM swc JOIN wstat USING (word) GROUP BY bucket)
      SELECT bucket, n_pieces, n_unk, n_unk::DOUBLE / n_pieces AS unk_rate
      FROM agg ORDER BY bucket""")),

    // TOKENIZER LIFECYCLE: the q267 gauge finally ACTS — the [UNK] rate of
    // the shipped model over a salted document stream crosses the 0.5%
    // threshold, the vocabulary is RE-DERIVED on the corpus that
    // ACCUMULATED from the same stream (a foreachBatch append store — no
    // side-channel to the staged batch), the model hot-swaps, and a second
    // serving pass proves the rate dropped to zero (the re-derived
    // vocabulary covers its own corpus totally by construction). One row:
    // before/after exact piece and UNK counts, both rates, the trigger
    // decision, and the recovery verdict. The oracle replays BOTH
    // derivations — the unsalted shipped vocab and the salted re-derived
    // vocab — plus BOTH greedy serving passes as recursions in one
    // statement (the q265 two-tagged-recursions shape under q267's
    // UNK-terminal loop).
    ("q279_wordpiece_oov_retrain", (s, dir) => {
      val (initOld, contOld) = wpModel(s, dir)
      val tmp = saltedDocsStaging(s, dir)
      val s2 = isolated(s, "spark.sql.shuffle.partitions" -> "4")
      // The gauge is a foreachBatch: per-batch exact (pieces, UNK) counts
      // summed on the driver — count is additive over disjoint micro-
      // batches, so the totals equal the old complete-mode global
      // aggregate bit-for-bit — and pass 1's corpus ACCUMULATION rides the
      // SAME stream (each batch appends its raw rows before the gauge
      // aggregates it) instead of a third stream re-reading the staged
      // files: one stream startup + scan pass saved, and the accumulated
      // store is byte-identical by construction (same batches, same rows —
      // law-pinned in WordpieceSpec "folded gauge+accumulate").
      def oovGauge(init: Set[String], cont: Set[String],
          accumTo: Option[String]): (Long, Long) = {
        val np = new java.util.concurrent.atomic.AtomicLong(0L)
        val nu = new java.util.concurrent.atomic.AtomicLong(0L)
        val q = s2.readStream.schema("doc_id LONG, text STRING")
          .option("maxFilesPerTrigger", 2).parquet(tmp)
          .writeStream.foreachBatch {
            (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
              accumTo.foreach(d => b.write.mode("append").parquet(d))
              val r = ext.Wordpiece.tokenizeRowwise(b.toDF(), "doc_id", "text",
                  init, cont, maxLen = 4)
                .agg(count(lit(1)).as("n_pieces"),
                  count(when(col("piece") === ext.Wordpiece.Unk, 1)).as("n_unk"))
                .collect().head
              np.addAndGet(r.getLong(0))
              nu.addAndGet(r.getLong(1))
              ()
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        (np.get, nu.get)
      }
      // pass 1: live gauge with the SHIPPED model + corpus accumulation
      // from the SAME stream (the store the re-derivation trains on)
      val accumDir = java.nio.file.Files
        .createTempDirectory("graft_q279_corpus").toString
      val (npBefore, nuBefore) = oovGauge(initOld, contOld, Some(accumDir))
      // the trigger: rate over threshold → re-derive on the ACCUMULATED
      // corpus and hot-swap (model metadata collected by the wpModel
      // contract: topK + alphabet per side)
      val retrained = nuBefore.toDouble / npBefore > 0.005
      val v = ext.Wordpiece.vocab(s2.read.parquet(accumDir), "text", 4, 50)
        .select(col("side"), col("piece")).collect()
      val initNew = v.collect {
        case r if r.getString(0) == "init" => r.getString(1) }.toSet
      val contNew = v.collect {
        case r if r.getString(0) == "cont" => r.getString(1) }.toSet
      // pass 2: the same stream served by the re-derived model
      val (npAfter, nuAfter) = oovGauge(initNew, contNew, None)
      s.range(1).select(
        lit(npBefore).as("n_pieces_before"), lit(nuBefore).as("n_unk_before"),
        (lit(nuBefore).cast("double") / lit(npBefore)).as("unk_rate_before"),
        lit(retrained).as("retrained"),
        lit(npAfter).as("n_pieces_after"), lit(nuAfter).as("n_unk_after"),
        (lit(nuAfter).cast("double") / lit(npAfter)).as("unk_rate_after"),
        ((lit(nuAfter).cast("double") / lit(npAfter)) <= lit(0.005))
          .as("recovered"))
    }, Some(s"""
      WITH RECURSIVE ${wordpieceOracleCtes},
      ${wordpieceOracleCtesTagged(50, "n",
        "text || ' q9z' || CAST(doc_id % 5 AS VARCHAR)")},
      ${wordpieceUnkCte("tokb", "wn")},
      ${wordpieceUnkCte("toka", "wn", "initvn", "contvn")},
      wsb AS (SELECT word, np, nu FROM tokb WHERE pos = length(word) + 1),
      wsa AS (SELECT word, np, nu FROM toka WHERE pos = length(word) + 1),
      bef AS (
        SELECT CAST(sum(cnt * np) AS BIGINT) AS np,
          CAST(sum(cnt * nu) AS BIGINT) AS nu
        FROM wn JOIN wsb USING (word)),
      aft AS (
        SELECT CAST(sum(cnt * np) AS BIGINT) AS np,
          CAST(sum(cnt * nu) AS BIGINT) AS nu
        FROM wn JOIN wsa USING (word))
      SELECT bef.np AS n_pieces_before, bef.nu AS n_unk_before,
        bef.nu::DOUBLE / bef.np AS unk_rate_before,
        bef.nu::DOUBLE / bef.np > 0.005 AS retrained,
        aft.np AS n_pieces_after, aft.nu AS n_unk_after,
        aft.nu::DOUBLE / aft.np AS unk_rate_after,
        aft.nu::DOUBLE / aft.np <= 0.005 AS recovered
      FROM bef CROSS JOIN aft""")),

    // WordPiece serving TOTALITY under char fallback (the BPE byte-
    // fallback discipline, q245, for the second family): the shipped
    // model serves a salted stream with charFallback — an unmatched
    // position emits the raw character and the loop CONTINUES instead of
    // dead-ending in [UNK] — so every document survives a live stream at
    // full fidelity. The gate REASSEMBLES each document from its streamed
    // pieces (a '##' piece glues to the current word, a bare piece opens
    // the next) and pins it against the normalized salted source text,
    // plus the exact per-doc piece count; the oracle replays the fallback
    // greedy loop (NULL best-match → take one char, keep going) as a
    // recursion.
    ("q281_stream_wordpiece_fallback", (s, dir) => {
      val (initSet, contSet) = wpModel(s, dir)
      val tmp = saltedDocsStaging(s, dir)
      // parquet sink instead of the memory sink: the tokenize emits
      // PIECE-level rows (hundreds of thousands at sf0.1), and the memory
      // sink hauled them all to the driver only for createDataFrame to
      // serialize them back into a LocalRelation — pure harness overhead;
      // the distributed append keeps rows on the executors (identical
      // rows, identical downstream aggregation)
      val outDir = scratch("q281_pieces")
      val stream = s.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 2).parquet(tmp)
      val q = ext.Wordpiece.tokenizeRowwise(stream, "doc_id", "text",
          initSet, contSet, maxLen = 4, charFallback = true)
        .writeStream.outputMode("append").format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", scratch("q281_ckpt"))
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(outDir)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_pieces"),
          sort_array(collect_list(struct(col("pos"), col("piece")))).as("ps"))
        .select(col("doc_id"), col("n_pieces"),
          ltrim(aggregate(col("ps"), lit(""), (acc, p) => {
            val pc = p.getField("piece")
            concat(acc, when(substring(pc, 1, 2) === "##",
              substring(pc, 3, 1 << 20)).otherwise(concat(lit(" "), pc)))
          })).as("rebuilt"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH RECURSIVE ${wordpieceOracleCtes},
      sd AS (
        SELECT doc_id, text || ' q9z' || CAST(doc_id % 5 AS VARCHAR) AS text2
        FROM documents WHERE text IS NOT NULL),
      sw AS (
        SELECT doc_id,
          unnest(list_filter(string_split(text2, ' '), x -> x <> '')) AS word
        FROM sd),
      swd AS (SELECT DISTINCT word FROM sw),
      tokf(word, pos, np) AS (
        SELECT word, CAST(1 AS BIGINT), CAST(0 AS BIGINT) FROM swd
        UNION ALL
        SELECT word,
          CASE WHEN bl IS NULL THEN pos + 1 ELSE pos + bl END,
          np + 1
        FROM (
          SELECT t.word, t.pos, t.np,
            max(CASE WHEN
              ((t.pos = 1 AND substr(t.word, CAST(t.pos AS INT), CAST(l.ll AS INT))
                  IN (SELECT piece FROM initv))
               OR (t.pos > 1 AND substr(t.word, CAST(t.pos AS INT), CAST(l.ll AS INT))
                  IN (SELECT piece FROM contv)))
              THEN l.ll END) AS bl
          FROM tokf t CROSS JOIN lens l
          WHERE t.pos <= length(t.word) AND l.ll <= length(t.word) - t.pos + 1
          GROUP BY t.word, t.pos, t.np)),
      wsf AS (SELECT word, np FROM tokf WHERE pos = length(word) + 1),
      agg AS (
        SELECT doc_id, CAST(sum(np) AS BIGINT) AS n_pieces
        FROM sw JOIN wsf USING (word) GROUP BY doc_id)
      SELECT a.doc_id, a.n_pieces,
        array_to_string(list_filter(string_split(s.text2, ' '), x -> x <> ''), ' ')
          AS rebuilt
      FROM agg a JOIN sd s USING (doc_id)
      ORDER BY doc_id"""))
  )
}
