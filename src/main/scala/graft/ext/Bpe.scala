package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StringType, StructField, StructType}

/** Byte-pair-encoding vocabulary learning and application (Sennrich et al.
  * 2016, "Neural Machine Translation of Rare Words with Subword Units") —
  * the tokenizer-training stage of an LLM data pipeline, distributed the
  * way the textbook algorithm already wants to be: over the WORD-FREQUENCY
  * dictionary, not the raw corpus. One corpus scan builds (word, count);
  * every merge iteration then touches only the dict (O(vocabulary) rows —
  * even a multilingual web crawl's word dict is billions at most, a frame
  * Spark aggregates without ceremony), so corpus size pays exactly one
  * pass no matter how many merges are learned.
  *
  * Symbol streams are encoded as delimited strings: every symbol is
  * wrapped in single `sep` characters and symbols are concatenated, so a
  * word's encoding is `|t||h||e||>|` (eow marker `>` is a symbol like any
  * other, per the paper). The merge of pair (a, b) is then the PLAIN
  * string replacement `|a||b|` → `|ab|` — leftmost, non-overlapping,
  * sequential, which is precisely BPE's greedy merge semantics, and
  * identical in Spark and DuckDB (`replace` in both engines scans
  * left-to-right and resumes AFTER the replacement), so the whole
  * training loop is replayable by the oracle. Delimiters double between
  * symbols (`||`) exactly so that adjacent merge sites stay matchable:
  * with single separators the trailing `|` of one match would consume the
  * leading `|` of the next and plain replace would skip every second
  * occurrence.
  *
  * The per-iteration argmax (ONE row: best pair by count desc, then
  * lexicographic) is collected to the driver — the k-means discipline: a
  * scalar per iteration, never the data. Each iteration's dict is
  * `localCheckpoint`ed: persist alone does NOT truncate lineage, and a
  * k-deep chain of nested cached plans makes analysis + codegen cost grow
  * superlinearly (measured: step 13 of a 500k-word dict jumped 1 s → 60 s
  * under persist; flat ~1 s/step checkpointed). Checkpoint blocks are
  * weakly referenced, so stale iterations are reclaimed by the
  * ContextCleaner without bookkeeping. On a real cluster swap for a
  * reliable `checkpoint` — localCheckpoint blocks die with an executor.
  *
  * Requires `sep` and the eow marker to be absent from the corpus
  * alphabet (enforced in the data path with `raise_error` naming the
  * offending word — a silent collision would corrupt merge boundaries).
  */
object Bpe {

  val Sep = "|"
  val Eow = ">"

  /** GPT-2-family pre-tokenization pattern (Radford et al. 2019 /
    * tiktoken's r50k split), restricted to the Java∩RE2 LEFTMOST-FIRST
    * subset so Spark (java.util.regex) and the DuckDB oracle (RE2) match
    * identically: lowercase contractions, letter runs, digit runs,
    * punctuation/symbol runs. Two deliberate deviations from the
    * original, both forced by the subset: the ` ?` leading-space capture
    * is dropped (whitespace is a SEPARATOR here, never token content —
    * the merge path's eow-marker discipline already encodes word
    * boundaries) and the `\s+(?!\S)` tail needs lookahead, which RE2
    * does not have. Unicode classes `\p{L}`/`\p{N}` behave identically
    * in both engines (law-tested against an in-JVM reference). */
  val PreTokenPattern: String =
    "'(?:s|t|re|ve|m|ll|d)|\\p{L}+|\\p{N}+|[^\\p{L}\\p{N}\\s]+"

  /** Pre-token array of a text column: every [[PreTokenPattern]] match in
    * order — `regexp_extract_all`, codegen'd, no UDF. */
  def preTokens(text: Column): Column =
    regexp_extract_all(text, lit(PreTokenPattern), lit(0))

  /** Pre-tokenizing NORMALIZATION of a text column — production BPE
    * (GPT-2/tiktoken family) splits on a category regex BEFORE merging,
    * so "don't 12ab!" merges within {don, 't, 12, ab, !}, never across
    * the category boundaries. A pre-token can never contain whitespace
    * (every branch of the pattern excludes it), so re-joining the matches
    * on single spaces makes the whitespace word splitter the whole merge
    * path already uses recover EXACTLY the pre-tokens: every existing
    * entry point — [[learnMerges]]/[[learnMergesBatched]],
    * [[applyMerges]], [[tokenTable]], [[vocab]], [[tokenIds]],
    * [[tokenIdsTyped]], [[detokenize]] — runs the regex-split discipline
    * by consuming this frame instead of the raw one. Pure per-row
    * projection: no shuffle, no state, streaming-legal. On text that is
    * already single-space-separated letter runs the normalization is the
    * IDENTITY (law-tested), so whitespace corpora reduce to the previous
    * behavior; reserved-symbol enforcement (`sep`/eow absent from tokens)
    * is unchanged and still fails loudly in the data path. */
  def preTokenizedText(df: DataFrame, textCol: String): DataFrame =
    df.withColumn(textCol, array_join(preTokens(col(textCol)), " "))

  /** (word, cnt, sym) dict off one corpus scan; `sym` is the delimited
    * initial encoding: each character a symbol, plus the eow symbol. */
  private[ext] def wordDict(df: DataFrame, textCol: String): DataFrame =
    df.where(col(textCol).isNotNull)
      .select(explode(TextAnalysis.words(col(textCol))).as("word"))
      .where(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .withColumn("sym", encodeWord(col("word"), Nil))

  /** Adjacent-pair counts over a dict's symbol streams: split each stream
    * back to symbols (strip the outer delimiters, split on the doubled
    * inner one), zip neighbors, weight by word count. Map-side partials
    * collapse in-dict repeats; the exchange carries (pair, partial). */
  private[ext] def pairCounts(dict: DataFrame): DataFrame = {
    val syms = split(
      expr("substring(sym, 2, length(sym) - 2)"), "\\|\\|").as("__s")
    dict
      .select(col("cnt"), syms)
      .where(size(col("__s")) >= 2)
      .select(col("cnt"), explode(transform(
        sequence(lit(1), size(col("__s")) - 1),
        i => struct(element_at(col("__s"), i).as("l"),
          element_at(col("__s"), i + 1).as("r")))).as("__p"))
      .groupBy(col("__p.l").as("l"), col("__p.r").as("r"))
      .agg(sum(col("cnt")).as("c"))
  }

  /** Learn `merges` BPE merge operations; returns the merge table
    * (step, left, right, merged, pair_count) — `merges` rows, or fewer if
    * the dict runs out of pairs first. Deterministic: the argmax breaks
    * ties by count desc, then (left, right) lexicographic. */
  def learnMerges(df: DataFrame, textCol: String, merges: Int): DataFrame = {
    require(merges > 0, s"merges must be positive, got $merges")
    val spark = df.sparkSession
    var dict = wordDict(df, textCol).localCheckpoint(true)
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= merges && !exhausted) {
      val best = pairCounts(dict)
        .orderBy(col("c").desc, col("l"), col("r")).limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (l, r, c) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        val merged = l + r
        learned += ((step, l, r, merged, c))
        dict = dict
          .withColumn("sym", replace(col("sym"),
            lit(s"$Sep$l$Sep$Sep$r$Sep"), lit(s"$Sep$merged$Sep")))
          .localCheckpoint(true) // truncate: plan depth stays ONE merge
        step += 1
      }
    }
    import spark.implicits._
    learned.toSeq.toDF("step", "left", "right", "merged", "pair_count")
  }

  /** [[learnMerges]] in BATCHED rounds — the standard distributed-BPE
    * batching that cuts driver round trips `batch`×: each round counts
    * pairs ONCE, collects the top `batch` candidates (count desc, then
    * (l, r) lexicographic — the sequential argmax order), and greedily
    * ACCEPTS a candidate only if neither of its symbols appears among the
    * symbols OR merged results of a higher-ranked pair already accepted
    * this round; otherwise it DEFERS to a later round. Deferral is what
    * keeps the round sound: two pairs sharing a symbol compete for the
    * same occurrences, so the lower-ranked one's count is stale the
    * moment the higher-ranked replace runs (and a pair whose side equals
    * an earlier pair's OUTPUT would match occurrences that replace just
    * created). Accepted pairs are symbol-disjoint, so their delimited
    * replaces touch disjoint sites and commute — the round applies them
    * as ONE chained-replace projection over the dict.
    *
    * Exact-sequential equivalence holds when each round's acceptances
    * don't interact AND no merge-created pair overtakes the next
    * acceptance's count (spec-tested both ways: an equality fixture and a
    * divergence fixture); `batch = 1` is [[learnMerges]] exactly. The
    * recorded `pair_count` of a non-first acceptance is its count at the
    * START of the round — the number the argmax actually ranked on.
    *
    * Returns (step, round, left, right, merged, pair_count); `step` is
    * the global application order ([[applyMerges]]-compatible), `round`
    * the counting round that accepted it.
    *
    * Scale law (`ScaleLawSpec`): deferrals keep the round count above the
    * ideal merges/batch but within 3× of it, and it grows slower than the
    * merges; each round is at most 4 Spark jobs. On sf0.001 documents at
    * batch 8: 64 merges in 15 rounds (49 jobs), 128 in 24 (77 jobs). */
  def learnMergesBatched(df: DataFrame, textCol: String, merges: Int,
      batch: Int): DataFrame = {
    require(merges > 0, s"merges must be positive, got $merges")
    require(batch > 0, s"batch must be positive, got $batch")
    val spark = df.sparkSession
    var dict = wordDict(df, textCol).localCheckpoint(true)
    val learned =
      scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String, String, String, Long)]
    var round = 1
    var exhausted = false
    while (learned.size < merges && !exhausted) {
      // fetch the full batch of candidates even when fewer merges remain:
      // a deferral must be able to let the NEXT-ranked candidate in, and a
      // pool clamped to the remaining-merge count would starve it
      val top = pairCounts(dict)
        .orderBy(col("c").desc, col("l"), col("r")).limit(batch).collect()
      if (top.isEmpty) exhausted = true
      else {
        val room = merges - learned.size
        val blocked = scala.collection.mutable.Set.empty[String]
        val accepted =
          scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        top.foreach { r =>
          val (l, rt, c) = (r.getString(0), r.getString(1), r.getLong(2))
          if (accepted.size < room && !blocked(l) && !blocked(rt)) {
            accepted += ((l, rt, c))
            blocked ++= Seq(l, rt, l + rt)
          }
        }
        accepted.foreach { case (l, r, c) =>
          learned += ((learned.size + 1, round, l, r, l + r, c))
        }
        dict = dict
          .withColumn("sym", accepted.foldLeft(col("sym")) {
            case (acc, (l, r, _)) =>
              replace(acc, lit(s"$Sep$l$Sep$Sep$r$Sep"), lit(s"$Sep${l + r}$Sep"))
          })
          .localCheckpoint(true) // truncate: plan depth stays ONE round
        round += 1
      }
    }
    import spark.implicits._
    learned.toSeq.toDF("step", "round", "left", "right", "merged", "pair_count")
  }

  /** The delimited encoding of one word column, with `merges` applied in
    * order as a single nested-replace expression chain. */
  private[ext] def encodeWord(word: Column, merges: Seq[(String, String)]): Column = {
    // same fail-loudly contract as wordDict: a reserved char in the input
    // would silently corrupt merge boundaries and symbol counts
    val guarded = when(word.contains(Sep) || word.contains(Eow),
      raise_error(concat(lit("Bpe: word contains a reserved delimiter: "), word)))
      .otherwise(word)
    val enc0 = concat(regexp_replace(guarded, "(.)", s"\\$Sep$$1\\$Sep"),
      lit(s"$Sep$Eow$Sep"))
    merges.foldLeft[Column](enc0) { case (acc, (l, r)) =>
      replace(acc, lit(s"$Sep$l$Sep$Sep$r$Sep"), lit(s"$Sep${l + r}$Sep"))
    }
  }

  /** Symbol count of a delimited encoding = half its delimiter count:
    * every symbol carries exactly two `sep`s in the delimited form. */
  private[ext] def symCount(encoded: Column): Column =
    ((length(encoded) - length(replace(encoded, lit(Sep), lit("")))) / 2)
      .cast("long")

  /** Tokenize a corpus with an ALREADY-LEARNED merge list, applied in
    * order. The k merges compose into ONE nested-replace projection —
    * a single codegen'd corpus pass, no iteration jobs, no shuffle beyond
    * the final per-doc count. Emits (`idCol`, n_words, n_tokens) where
    * n_tokens counts post-merge symbols INCLUDING each word's eow marker
    * (the paper's symbol space). Null-text docs are excluded. */
  def applyMerges(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame =
    if (merges.size > RankPathMaxMerges)
      applyMergesTyped(df, idCol, textCol, merges) // production merge counts
    else {
      val nSyms = symCount(encodeWord(col("__w"), merges))
      df.where(col(textCol).isNotNull)
        .select(col(idCol), explode(TextAnalysis.words(col(textCol))).as("__w"))
        .where(col("__w") =!= "")
        .groupBy(col(idCol))
        .agg(count(lit(1)).as("n_words"), sum(nSyms).as("n_tokens"))
    }

  /** [[applyMerges]] as a PURE PER-ROW PROJECTION — no explode, no
    * shuffle, no state: the word array is materialized once per row (the
    * HOF-lambda discipline) and the per-word symbol counts fold inside the
    * row. Exactly the shape a STREAMING tokenizer needs (tokenize-on-
    * ingest is a stateless map over the document stream once the merge
    * table is learned offline), and result-identical to the grouped form
    * on any batch frame. */
  def tokenizeRowwise(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame =
    if (merges.size > RankPathMaxMerges)
      tokenizeRowwiseTyped(df, idCol, textCol, merges) // production merge counts
    else df.where(col(textCol).isNotNull)
      .withColumn("__ws",
        filter(TextAnalysis.words(col(textCol)), w => w =!= ""))
      .where(size(col("__ws")) > 0) // grouped-form parity: no-word docs emit nothing
      .select(col(idCol),
        size(col("__ws")).cast("long").as("n_words"),
        aggregate(col("__ws"), lit(0L),
          (acc, w) => acc + symCount(encodeWord(w, merges))).as("n_tokens"))

  /** The tokenization itself, as strings: one row per (distinct word,
    * token position) with the post-merge token — the vocabulary-sized
    * lookup table a tokenizer service serves (token counts are audits;
    * THIS is the artifact that encodes text). One distinct-word pass, one
    * nested-replace chain, one split+posexplode; `token_idx` is 0-based
    * and the eow marker appears as its own final token. */
  def tokenTable(df: DataFrame, textCol: String,
      merges: Seq[(String, String)]): DataFrame =
    if (merges.size > RankPathMaxMerges)
      tokenTableTyped(df, textCol, merges) // production merge counts
    else df.where(col(textCol).isNotNull)
      .select(explode(TextAnalysis.words(col(textCol))).as("word"))
      .where(col("word") =!= "")
      .distinct()
      .withColumn("__enc", encodeWord(col("word"), merges))
      .select(col("word"),
        posexplode(split(expr("substring(__enc, 2, length(__enc) - 2)"), "\\|\\|"))
          .as(Seq("token_idx", "token")))

  /** [[applyMerges]] driven by a freshly-learned table — the end-to-end
    * train-then-tokenize convenience; the merge table is vocabulary-scale
    * metadata (k rows), so collecting it to the driver is the contract,
    * not a compromise. */
  def learnAndTokenize(df: DataFrame, idCol: String, textCol: String,
      merges: Int): DataFrame = {
    val table = learnMerges(df, textCol, merges)
      .orderBy(col("step"))
      .collect()
      .map(r => (r.getString(1), r.getString(2)))
      .toSeq
    applyMerges(df, idCol, textCol, table)
  }

  /** The id-assigned vocabulary over a tokenized corpus: every post-merge
    * token ranked by (corpus occurrence count desc, token asc) —
    * frequency rank is the id space real tokenizers ship (low ids = hot
    * tokens) — with `token_id` = rank − 1 (0-based, dense). Counts are
    * exact: per-word token multiplicity weighted by the word-dict count,
    * so the corpus pays ONE scan (the word dict) no matter the alphabet.
    * The rank is a [[graft.analytics.GlobalCumsum]] global row number —
    * never a single-partition sort, though the vocabulary is
    * metadata-scale by contract.
    * @return (token_id int, token, cnt) */
  def vocab(df: DataFrame, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val tokenCnt: DataFrame =
      if (merges.size > RankPathMaxMerges) { // production merge counts
        val dict = wordDict(df, textCol).select(col("word"), col("cnt"))
        val ranksB = df.sparkSession.sparkContext.broadcast(merges.toIndexedSeq)
        val schema = StructType(Seq(
          StructField("token", StringType, nullable = true),
          StructField("cnt", LongType, nullable = false)))
        dict.mapPartitions { it =>
          val ranks = rankMap(ranksB.value)
          it.flatMap { row =>
            val cnt = row.getLong(1)
            tokenizeWordRank(row.getString(0), ranks).iterator.map(Row(_, cnt))
          }
        }(Encoders.row(schema))
      } else wordDict(df, textCol)
        .withColumn("sym", encodeWord(col("word"), merges))
        .select(col("cnt"), explode(split(
          expr("substring(sym, 2, length(sym) - 2)"), "\\|\\|")).as("token"))
    val counts = tokenCnt
      .groupBy(col("token")).agg(sum(col("cnt")).as("cnt"))
    graft.analytics.GlobalCumsum
      .rowNumber(counts, Seq(col("cnt").desc, col("token")), "token_id")
      .select((col("token_id") - 1).cast("int").as("token_id"),
        col("token"), col("cnt"))
  }

  /** word → ordered token-ID array under a learned (merges, vocab) pair —
    * the serving artifact of a trained tokenizer (the [[tokenTable]] with
    * ids resolved and positions folded into one array per word). One
    * distinct-word pass; the vocab join broadcasts (vocabulary-scale by
    * contract). Join is INNER: by construction every token a corpus word
    * produces exists in a vocab trained on the same corpus; for
    * out-of-corpus serving, train vocab on the union or handle OOV
    * upstream. */
  def wordTokenIds(df: DataFrame, textCol: String,
      merges: Seq[(String, String)], vocabDf: DataFrame): DataFrame =
    tokenTable(df, textCol, merges)
      .join(broadcast(vocabDf.select(col("token"), col("token_id"))), Seq("token"))
      .groupBy(col("word"))
      .agg(transform(
        array_sort(collect_list(struct(col("token_idx"), col("token_id")))),
        s => s.getField("token_id")).as("ids"))

  /** [[tokenIds]] as a PURE PER-ROW PROJECTION — the streaming
    * tokenize-to-ids shape: the merge table AND the vocabulary ship as
    * literals (both are model metadata — the token space is alphabet +
    * merges, vocabulary-scale by construction), so resolving a document
    * to its id sequence needs no join, no aggregation, no state. Each
    * word encodes through the nested-replace chain and its tokens look up
    * in the literal map; an out-of-vocabulary token fails loudly (cannot
    * happen when the vocab was trained on a superset of the stream's
    * alphabet — the production OOV path is a byte-fallback vocab, not a
    * silent null). Result-identical to [[tokenIds]] on any batch frame
    * (law-tested). */
  def tokenIdsRowwise(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)], vocab: Map[String, Int]): DataFrame = {
    require(vocab.nonEmpty, "tokenIdsRowwise needs a non-empty vocabulary")
    if (merges.size > RankPathMaxMerges || vocab.size > RankPathMaxVocab)
      return tokenIdsTyped(df, idCol, textCol, merges, vocab) // production model sizes
    val vm = typedLit(vocab)
    def idsOfWord(w: Column): Column = {
      val enc = encodeWord(w, merges)
      transform(split(enc.substr(lit(2), length(enc) - 2), "\\|\\|"),
        t => coalesce(element_at(vm, t),
          raise_error(concat(lit("Bpe: out-of-vocabulary token: "), t))
            .cast("int")))
    }
    df.where(col(textCol).isNotNull)
      .withColumn("__ws",
        filter(TextAnalysis.words(col(textCol)), w => w =!= ""))
      .where(size(col("__ws")) > 0)
      .withColumn("token_ids", flatten(transform(col("__ws"), idsOfWord(_))))
      .select(col(idCol), size(col("token_ids")).cast("long").as("n_tokens"),
        col("token_ids"))
  }

  /** Detokenization — ids back to text: per doc, the id sequence resolves
    * through the INVERSE vocabulary (a literal map, model metadata —
    * no join, no state, streamable), tokens concatenate, and eow markers
    * become word boundaries. `detokenize(tokenIds(text))` reproduces
    * `text` with single spaces — runs of spaces are the tokenizer's one
    * documented loss (empty words are filtered at encode time) — which is
    * exactly what q239's round-trip oracle pins. An unknown id fails
    * loudly. Input is (`idCol`, `idsCol` array<int>). */
  def detokenize(df: DataFrame, idCol: String, idsCol: String,
      vocab: Map[String, Int]): DataFrame = {
    require(vocab.nonEmpty, "detokenize needs a non-empty vocabulary")
    if (vocab.size > RankPathMaxVocab)
      return detokenizeTyped(df, idCol, idsCol, vocab) // production model sizes
    val inv = typedLit(vocab.map { case (t, i) => i -> t })
    df.select(col(idCol),
      rtrim(translate(
        concat_ws("", transform(col(idsCol), i =>
          coalesce(element_at(inv, i),
            raise_error(concat(lit("Bpe: unknown token id: "),
              i.cast("string")))))),
        Eow, " ")).as("text_rebuilt"))
  }

  // ------------------------------------------------------------------------
  // Rank-based typed apply path — the PRODUCTION merge-count form.
  //
  // The expression path above ([[encodeWord]]) folds one `replace` node per
  // merge, so the Catalyst tree's DEPTH equals the merge count: at the gated
  // 8–256 merges that is the fastest form (whole-stage codegen, zero per-row
  // interpretation), but at a production 32k–64k-merge vocabulary the
  // analyzer/codegen stack and Janino method size blow up with the MODEL,
  // not the data. Past [[RankPathMaxMerges]] the apply family therefore
  // routes through a typed per-word tokenizer (the HuggingFace-BPE shape):
  // the merge table broadcasts ONCE per executor as a pair→rank map — never
  // a plan literal re-serialized into every task — and each word merges its
  // lowest-ranked present pair until none remains. The per-word loop is
  // genuinely opaque per-row work (data-dependent iteration), so the typed
  // form is justified under the functions-not-UDFs rule; everything around
  // it (explode, joins, aggregation) stays relational.
  //
  // Equivalence contract (law-tested in BpeSpec): for any merge table in
  // which a pair that references a merge OUTPUT has strictly higher rank
  // than the merge that created it — true of every table [[learnMerges]] /
  // [[learnMergesBatched]] can produce, because a symbol must exist before
  // it can be counted in a pair — merging the lowest-ranked PRESENT pair
  // repeatedly (all leftmost/non-overlapping occurrences per round, the
  // `replace` discipline) yields exactly the rank-order nested-replace
  // result: a merge can only CREATE pairs that involve its output, and
  // those sit at higher ranks than everything already processed.
  // ------------------------------------------------------------------------

  /** Above this merge count [[applyMerges]] / [[tokenizeRowwise]] /
    * [[tokenTable]] / [[vocab]] / [[tokenIds]] route through the typed rank
    * tokenizer. 512 keeps the expression form (measurably faster at small k)
    * for every gate-scale model while staying far below the plan-depth
    * regime where analysis cost dominates. */
  val RankPathMaxMerges = 512

  /** Above this vocabulary size [[tokenIdsRowwise]] / [[detokenize]] route
    * through the typed path: a `typedLit` map of V entries is re-serialized
    * into EVERY task and bloats the plan with the MODEL size, where the
    * typed path broadcasts it once per executor. */
  val RankPathMaxVocab = 4096

  private def rankKey(l: String, r: String): String = l + "\u0000" + r

  /** Tokenize ONE word under a pair→rank map: initial symbols are the
    * word's code points plus the eow marker; each round merges every
    * leftmost/non-overlapping occurrence of the lowest-ranked pair present.
    * Code points (not UTF-16 units) mirror the expression form's
    * `regexp_replace(word, "(.)", …)`, which matches per code point. */
  private[ext] def tokenizeWordRank(
      word: String, ranks: java.util.HashMap[String, Integer]): Array[String] = {
    if (word.contains(Sep) || word.contains(Eow))
      throw new IllegalArgumentException(
        s"Bpe: word contains a reserved delimiter: $word") // encodeWord parity
    val cps = word.codePoints().toArray
    var n = cps.length + 1
    var syms = new Array[String](n)
    var i = 0
    while (i < n - 1) { syms(i) = new String(Character.toChars(cps(i))); i += 1 }
    syms(n - 1) = Eow
    var done = ranks.isEmpty || n < 2
    while (!done) {
      var bestRank = Int.MaxValue
      var bestL: String = null
      var bestR: String = null
      i = 0
      while (i < n - 1) {
        val r = ranks.get(rankKey(syms(i), syms(i + 1)))
        if (r != null && r < bestRank) { bestRank = r; bestL = syms(i); bestR = syms(i + 1) }
        i += 1
      }
      if (bestL == null) done = true
      else {
        val merged = bestL + bestR
        val out = new Array[String](n)
        var j = 0
        i = 0
        while (i < n) {
          if (i < n - 1 && syms(i) == bestL && syms(i + 1) == bestR) {
            out(j) = merged; i += 2
          } else { out(j) = syms(i); i += 1 }
          j += 1
        }
        syms = out
        n = j
        if (n < 2) done = true
      }
    }
    if (n == syms.length) syms else java.util.Arrays.copyOfRange(syms, 0, n)
  }

  private def rankMap(merges: Seq[(String, String)]): java.util.HashMap[String, Integer] = {
    // the equivalence contract ("a pair referencing a merge OUTPUT outranks
    // the merge that created it") is well-defined only when merge outputs
    // are DISTINCT strings: with two merges producing the same output — e.g.
    // ("a","bc")→"abc" and ("ab","c")→"abc" — a pair ranked between the two
    // creators could re-merge in the rank loop where the once-per-merge
    // expression chain would not. Such tables are rejected loudly rather
    // than silently diverging from the law-tested expression form.
    // (a literally repeated PAIR stays legal — it is a no-op under
    // putIfAbsent below, exactly as re-applying it is in the chain)
    val outs = new java.util.HashMap[String, String](merges.size * 2)
    merges.foreach { case (l, r) =>
      val merged = l + r
      val prev = outs.putIfAbsent(merged, rankKey(l, r))
      if (prev != null && prev != rankKey(l, r))
        throw new IllegalArgumentException(
          "Bpe: rank-path tokenizer requires distinct merge outputs, but " +
            s"'$merged' is produced by two different merges — such tables " +
            "are only supported by the expression path " +
            s"(<= RankPathMaxMerges = $RankPathMaxMerges merges)")
    }
    val m = new java.util.HashMap[String, Integer](merges.size * 2)
    merges.zipWithIndex.foreach { case ((l, r), i) =>
      // first (lowest) rank wins on a duplicate pair — applying the same
      // pair twice is a no-op in the expression chain, so rank order = first
      m.putIfAbsent(rankKey(l, r), i)
    }
    m
  }

  /** The word splitter of [[TextAnalysis.words]] (`split(text, " ")` —
    * limit −1 semantics, trailing empties kept) on the JVM side. */
  private def splitWords(text: String): Array[String] = text.split(" ", -1)

  /** [[tokenizeRowwise]] on the typed rank path: a stateless per-row map
    * (streaming-legal — no shuffle, no state) with a per-partition
    * word→count memo (Zipf makes the cache rate dict-like). The merge
    * table rides an explicit `broadcast` — once per executor, never a
    * per-task plan literal. */
  private[ext] def tokenizeRowwiseTyped(df: DataFrame, idCol: String,
      textCol: String, merges: Seq[(String, String)]): DataFrame = {
    val base = df.where(col(textCol).isNotNull)
      .select(col(idCol), col(textCol).as("__text"))
    val ranksB = df.sparkSession.sparkContext.broadcast(merges.toIndexedSeq)
    val outSchema = StructType(Seq(base.schema.head,
      StructField("n_words", LongType, nullable = false),
      StructField("n_tokens", LongType, nullable = false)))
    base.mapPartitions { it =>
      val ranks = rankMap(ranksB.value)
      val memo = new java.util.HashMap[String, Integer]()
      it.flatMap { row =>
        val ws = splitWords(row.getString(1))
        var nw = 0L
        var nt = 0L
        ws.foreach { w =>
          if (w.nonEmpty) {
            nw += 1
            var c = memo.get(w)
            if (c == null) { c = tokenizeWordRank(w, ranks).length; memo.put(w, c) }
            nt += c.toLong
          }
        }
        if (nw == 0) Iterator.empty // grouped-form parity: no-word docs emit nothing
        else Iterator(Row(row.get(0), nw, nt))
      }
    }(Encoders.row(outSchema))
  }

  /** [[applyMerges]] on the typed rank path: the rowwise typed map plus ONE
    * tiny exchange to preserve the grouped form's duplicate-id semantics. */
  private[ext] def applyMergesTyped(df: DataFrame, idCol: String,
      textCol: String, merges: Seq[(String, String)]): DataFrame =
    tokenizeRowwiseTyped(df, idCol, textCol, merges)
      .groupBy(col(idCol))
      .agg(sum(col("n_words")).as("n_words"), sum(col("n_tokens")).as("n_tokens"))

  /** [[tokenTable]] on the typed rank path: one distinct-word pass, each
    * word tokenized once by the rank loop. */
  private[ext] def tokenTableTyped(df: DataFrame, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val words = df.where(col(textCol).isNotNull)
      .select(explode(TextAnalysis.words(col(textCol))).as("word"))
      .where(col("word") =!= "")
      .distinct()
    val ranksB = df.sparkSession.sparkContext.broadcast(merges.toIndexedSeq)
    val outSchema = StructType(Seq(
      StructField("word", StringType, nullable = true),
      StructField("__toks", ArrayType(StringType, containsNull = false), nullable = false)))
    words.mapPartitions { it =>
      val ranks = rankMap(ranksB.value)
      it.map(row => Row(row.getString(0), tokenizeWordRank(row.getString(0), ranks).toSeq))
    }(Encoders.row(outSchema))
      .select(col("word"),
        posexplode(col("__toks")).as(Seq("token_idx", "token")))
  }

  /** First id of the byte-fallback range for a vocabulary: ids
    * `base .. base+255` encode raw UTF-8 bytes, placed immediately after
    * the learned ids so the two ranges never collide. (Real tokenizers
    * reserve the byte range up front; appending it is the same contract
    * for an already-dense learned vocab.) */
  def byteFallbackBase(vocab: Map[String, Int]): Int = {
    require(vocab.nonEmpty, "byteFallbackBase needs a non-empty vocabulary")
    vocab.values.max + 1
  }

  /** [[tokenIdsRowwise]] on the typed rank path — the PRODUCTION streaming
    * tokenize-to-ids: merges and vocabulary broadcast once per executor
    * (never plan literals), the per-word rank loop replaces the
    * merge-count-deep replace chain, and with `byteFallback` the map is
    * TOTAL: an out-of-vocabulary token falls back to its UTF-8 bytes as
    * ids `byteFallbackBase(vocab) + byte` — the documented production OOV
    * path (a live stream WILL carry characters the training corpus never
    * saw; killing the query on them is a training-time contract, not a
    * serving-time one). With `byteFallback = false` an OOV token throws
    * with the expression form's message. Stateless per-row map —
    * streaming-legal, result-identical to [[tokenIdsRowwise]] on any
    * in-vocabulary frame (law-tested). */
  def tokenIdsTyped(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)], vocab: Map[String, Int],
      byteFallback: Boolean = false): DataFrame = {
    require(vocab.nonEmpty, "tokenIdsTyped needs a non-empty vocabulary")
    val base = df.where(col(textCol).isNotNull)
      .select(col(idCol), col(textCol).as("__text"))
    val sc = df.sparkSession.sparkContext
    val ranksB = sc.broadcast(merges.toIndexedSeq)
    val vocabB = sc.broadcast(vocab)
    val fbBase = if (byteFallback) byteFallbackBase(vocab) else -1
    val outSchema = StructType(Seq(base.schema.head,
      StructField("n_tokens", LongType, nullable = false),
      StructField("token_ids", ArrayType(IntegerType, containsNull = false),
        nullable = false)))
    base.mapPartitions { it =>
      val ranks = rankMap(ranksB.value)
      val voc = vocabB.value
      val memo = new java.util.HashMap[String, Array[Int]]()
      def idsOfWord(w: String): Array[Int] = {
        var ids = memo.get(w)
        if (ids == null) {
          val toks = tokenizeWordRank(w, ranks)
          val buf = new scala.collection.mutable.ArrayBuffer[Int](toks.length)
          toks.foreach { t =>
            voc.get(t) match {
              case Some(id) => buf += id
              case None if fbBase >= 0 =>
                t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
                  .foreach(b => buf += fbBase + (b & 0xff))
              case None =>
                throw new IllegalArgumentException(
                  s"Bpe: out-of-vocabulary token: $t")
            }
          }
          ids = buf.toArray
          memo.put(w, ids)
        }
        ids
      }
      it.flatMap { row =>
        val ws = splitWords(row.getString(1))
        val out = new scala.collection.mutable.ArrayBuffer[Int]()
        var nw = 0
        ws.foreach { w => if (w.nonEmpty) { nw += 1; out ++= idsOfWord(w) } }
        if (nw == 0) Iterator.empty
        else Iterator(Row(row.get(0), out.length.toLong, out.toSeq))
      }
    }(Encoders.row(outSchema))
  }

  /** [[detokenize]] on the typed rank path — vocabulary broadcast, not a
    * plan literal, and with `byteFallback` the inverse of
    * [[tokenIdsTyped]]'s total map: a RUN of consecutive byte-fallback ids
    * decodes as one UTF-8 sequence (a multi-byte code point's bytes are
    * adjacent by construction, and UTF-8 concat-decode equals decode-concat
    * across token boundaries), so `detokenize ∘ tokenize` reproduces the
    * normalized text even for out-of-vocabulary characters. An id outside
    * vocab ∪ byte range fails loudly, as the expression form does. */
  def detokenizeTyped(df: DataFrame, idCol: String, idsCol: String,
      vocab: Map[String, Int], byteFallback: Boolean = false): DataFrame = {
    require(vocab.nonEmpty, "detokenizeTyped needs a non-empty vocabulary")
    val base = df.select(col(idCol), col(idsCol).as("__ids"))
    val invB = base.sparkSession.sparkContext.broadcast(
      vocab.map { case (t, i) => i -> t })
    val fbBase = if (byteFallback) byteFallbackBase(vocab) else Int.MaxValue
    // nullable like the expression form: a null ids array rebuilds to a
    // null text (not an NPE) — parity must not flip when vocab.size
    // crosses RankPathMaxVocab
    val outSchema = StructType(Seq(base.schema.head,
      StructField("text_rebuilt", StringType, nullable = true)))
    base.mapPartitions { it =>
      val inv = invB.value
      it.map { row =>
        val ids = row.getSeq[Int](1)
        if (ids == null) Row(row.get(0), null)
        else {
        val sb = new java.lang.StringBuilder()
        val bytes = new java.io.ByteArrayOutputStream()
        def flushBytes(): Unit = if (bytes.size() > 0) {
          sb.append(new String(bytes.toByteArray,
            java.nio.charset.StandardCharsets.UTF_8))
          bytes.reset()
        }
        ids.foreach { id =>
          if (id >= fbBase && id < fbBase + 256) bytes.write(id - fbBase)
          else inv.get(id) match {
            case Some(t) => flushBytes(); sb.append(t)
            case None => throw new IllegalArgumentException(
              s"Bpe: unknown token id: $id")
          }
        }
        flushBytes()
        // expression-form parity: eow markers become spaces, trailing run trimmed
        var s = sb.toString.replace(Eow.charAt(0), ' ')
        var end = s.length
        while (end > 0 && s.charAt(end - 1) == ' ') end -= 1
        Row(row.get(0), s.substring(0, end))
        }
      }
    }(Encoders.row(outSchema))
  }

  /** Per-document token-ID sequences — the last mile between tokenizer
    * training and sequence packing: a training pipeline ships id ARRAYS,
    * not token counts. Each doc's words resolve through the
    * [[wordTokenIds]] artifact (one hash join keyed by word — per-doc
    * payloads never shuffle more than their own ids) and the per-word id
    * arrays flatten in (word position, token position) order. Documents
    * with no words emit nothing ([[applyMerges]] parity); `n_tokens` =
    * size(token_ids) matches [[applyMerges]]'s count by construction
    * (law-tested).
    * @return (`idCol`, n_tokens long, token_ids array<int>) */
  def tokenIds(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)], vocabDf: DataFrame): DataFrame = {
    val wt = wordTokenIds(df, textCol, merges, vocabDf)
    df.where(col(textCol).isNotNull)
      .select(col(idCol),
        posexplode(TextAnalysis.words(col(textCol))).as(Seq("__wp", "__w")))
      .where(col("__w") =!= "")
      .join(wt.withColumnRenamed("word", "__w"), Seq("__w"))
      .groupBy(col(idCol))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("__wp"), col("ids")))),
        s => s.getField("ids"))).as("token_ids"))
      .select(col(idCol), size(col("token_ids")).cast("long").as("n_tokens"),
        col("token_ids"))
  }
}
