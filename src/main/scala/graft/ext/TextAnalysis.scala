package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines: language
  * ID, quality scoring, token counting, document fingerprinting. All pure
  * Catalyst expressions (no UDFs) — they run inside codegen, scale linearly
  * with the scan, and need no shuffle at all (per-row), so 100 TB is just
  * more partitions.
  */
object TextAnalysis {

  /** Deterministic 48-bit hash of a string, shared with the DuckDB oracles:
    * the first 12 hex digits of md5, as a BIGINT (always positive, < 2^48 —
    * headroom for `(a*h+b) % p` permutation arithmetic without 64-bit
    * overflow). */
  def hash48(c: Column): Column =
    expr_hash48(c)

  private def expr_hash48(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 12), 16, 10).cast("long")

  /** Deterministic 48-bit integer mix (xorshift-multiply rounds) for
    * NON-NEGATIVE integral keys — a checksum-grade diffuser that costs a
    * few ALU ops instead of [[hash48]]'s string-format + md5. Every
    * intermediate stays below 2⁶³ (products are < 2⁴⁸·2¹⁵), so the same
    * arithmetic is bit-exact in any engine with wrap-free BIGINT ops —
    * the property that lets a DuckDB/Trino oracle reproduce it literally. */
  def intMix48(k: Column): Column = {
    val m = lit(1L << 48)
    // negative keys would make the multiply wrap here but RAISE in engines
    // with checked BIGINT arithmetic (DuckDB) — diverging checksums are
    // worse than an error, so refuse loudly
    val nonNeg = when(k.cast("long") >= 0, k.cast("long"))
      .otherwise(raise_error(concat(
        lit("intMix48: negative key "), k.cast("string"),
        lit(" — the mix is defined for non-negative integral keys"))))
    val h0 = nonNeg % m
    val h1 = h0.bitwiseXOR(shiftright(h0, 21))
    val h2 = (h1 * lit(26071L)) % m // 0x65D7, odd
    val h3 = h2.bitwiseXOR(shiftright(h2, 17))
    val h4 = (h3 * lit(20267L)) % m // 0x4F2B, odd
    h4.bitwiseXOR(shiftright(h4, 13))
  }

  /** Whitespace tokens. */
  def words(c: Column): Column = split(c, " ")

  /** BPE-ish regex token count: runs of letters, runs of digits, or single
    * other non-space characters — the standard pre-tokenizer shape. */
  def regexTokenCount(textCol: String): Column =
    expr(s"size(regexp_extract_all($textCol, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0))")

  /** Shared stopword list (quality + language scoring). */
  val stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")

  /** Quality-scoring columns over a text column: token count, distinct-token
    * ratio, stopword ratio, average word length. Integer-valued arithmetic
    * until the final double divisions, so results are bit-deterministic. */
  def qualityColumns(textCol: String, nCharsCol: String): Seq[Column] = {
    val w = words(col(textCol))
    val nWords = size(w).cast("long")
    val nDistinct = size(array_distinct(w)).cast("long")
    val stopArr = array(stopwords.map(lit): _*)
    val nStop = size(filter(w, x => array_contains(stopArr, x))).cast("long")
    Seq(
      nWords.as("n_words"),
      nDistinct.as("n_distinct"),
      nStop.as("n_stopwords"),
      (nDistinct.cast("double") / nWords).as("distinct_ratio"),
      (nStop.cast("double") / nWords).as("stopword_ratio"),
      ((col(nCharsCol) - (nWords - 1)).cast("double") / nWords).as("avg_word_len"))
  }

  /** N-gram-heuristic language ID: score marker-token hits per language and
    * take the argmax (ties broken by language code order). Marker lists are a
    * deterministic heuristic profile, not a model — at 100 TB this is a
    * per-row codegen'd expression with zero state. */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and"),
    "de" -> Seq("der", "die", "das", "und"),
    "es" -> Seq("el", "la", "los", "que"),
    "fr" -> Seq("le", "la", "les", "et"),
    "zh" -> Seq("de5", "shi4", "le5", "zai4"))

  def langScores(textCol: String): Seq[Column] = {
    val w = words(col(textCol))
    langMarkers.toSeq.sortBy(_._1).map { case (lang, markers) =>
      val arr = array(markers.map(lit): _*)
      size(filter(w, x => array_contains(arr, x))).cast("long").as(s"score_$lang")
    }
  }

  /** Predicted language = argmax score, ties → lexicographically first code,
    * all-zero → "und" (undetermined). `scoreOf` maps a language code to its
    * score column — pass `col` references to ALREADY-PROJECTED
    * [[langScores]] columns so the marker filters run once per row; the
    * default recomputes them from `textCol` (convenience only — each filter
    * is an interpreted HOF, so recomputation doubles the per-row text work). */
  def predictedLang(textCol: String): Column = predictedLang(textCol, None)

  def predictedLang(
      textCol: String,
      scoreOf: String => Column): Column = predictedLang(textCol, Some(scoreOf))

  def predictedLang(
      textCol: String,
      scoreOf: Option[String => Column]): Column = {
    val score: String => Column = scoreOf.getOrElse { lang =>
      val arr = array(langMarkers(lang).map(lit): _*)
      size(filter(words(col(textCol)), x => array_contains(arr, x)))
    }
    val best = langMarkers.keys.toSeq.sorted
      .map(lang => struct(score(lang).cast("long").as("s"), lit(lang).as("l")))
    // fold left with strict > so the FIRST (lexicographically smallest)
    // language wins ties — greatest(struct) would let the later code win
    val folded = best.reduceLeft { (acc, c) =>
      when(c.getField("s") > acc.getField("s"), c).otherwise(acc)
    }
    when(folded.getField("s") > 0, folded.getField("l")).otherwise(lit("und"))
  }

  /** Polynomial rolling hash over the word sequence (Rabin–Karp style):
    * fold h ↦ (acc·B + h) mod P over the per-word 48-bit hashes, seeded with
    * the FIRST word's hash (mirroring DuckDB's no-initializer `list_reduce`,
    * so the oracle is the identical fold). Order-SENSITIVE — reorderings that
    * the bag fingerprint maps together get distinct rolling hashes. Elements
    * are pre-reduced mod P so every intermediate stays < 2^52 (no overflow
    * divergence between engines). One pass per row, no shuffle. */
  val RollB = 1000003L
  val RollP = 2147483647L
  /** Internal: folds the `__rh` mod-P word-hash array that
    * [[rollingHashTable]] stages — meaningless on any other DataFrame,
    * hence not public API. */
  private def rollingHash: Column =
    expr(
      s"""aggregate(
         |  slice(__rh, 2, size(__rh) - 1),
         |  element_at(__rh, 1),
         |  (acc, h) -> (acc * $RollB + h) % $RollP)""".stripMargin)

  /** (id, rolling_hash) table form: hoists the mod-P word-hash array so md5
    * runs once per word. */
  def rollingHashTable(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("__rh",
        transform(split(col(textCol), " "), w => hash48(w) % lit(RollP)))
      .select(col(idCol), rollingHash.as("rolling_hash"))

  /** Top-k terms per document by tf·(N/df) — the linear-idf variant: the
    * classic ln(N/df) would hang bit-exactness on two engines' libm `log`
    * agreeing to the last ulp, while N/df is pure rational double arithmetic
    * and compares exactly (swap `lit(n) / col("df")` for `log(lit(n) /
    * col("df"))` at deployment if the standard weighting is wanted — the
    * plan is identical).
    *
    * Plan shape: explode → (doc, term) tf counts → term df counts (both
    * map-side partial) → broadcast scalar N → per-doc top-k window over the
    * already-aggregated (doc, term) rows — the window input is |distinct
    * terms per doc|, not the raw token stream, so it scales with vocabulary
    * not corpus size. */
  def tfIdf(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val terms = df.select(col(idCol), explode(split(col(textCol), " ")).as("term"))
    val tf = terms.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = df.select(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("score", col("tf").cast("double") * (col("n_docs").cast("double") / col("df")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("score").desc, col("term"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col(idCol), col("rank"), col("term"), col("tf"), col("df"), col("score"))
  }

  /** Per-document n-gram NOVELTY — the uniqueness/memorization-risk signal:
    * how many of a doc's distinct word 3-grams occur NOWHERE else in the
    * corpus (`n_unique`, corpus document frequency exactly 1), as a share
    * of its distinct grams (`novelty`). High-novelty docs carry content the
    * corpus cannot re-derive; low-novelty docs are recombinations.
    *
    * Shape: the SAME inverted index as the Jaccard/decontamination
    * operators — distinct (doc, gram) postings, one hash agg for corpus
    * document frequency, one join back, one per-doc fold. All work is
    * linear in posting count (no pair space), hot grams only ever carry a
    * count, and both shuffles key on gram/doc — the shape that holds at
    * 100 TB. Null-text docs have no grams and are excluded. */
  def noveltyScores(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val posts = df
      .where(col(textCol).isNotNull)
      .withColumn("__words", words(col(textCol)))
      .select(col(idCol), explode(Dedup.shingles(col(textCol), col("__words"))).as("__g"))
      .distinct()
    val dfreq = posts.groupBy(col("__g")).agg(count(lit(1)).as("__df"))
    posts.join(dfreq, "__g")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("__df") === 1, lit(1L)).otherwise(lit(0L))).as("n_unique"),
        (sum(when(col("__df") === 1, lit(1L)).otherwise(lit(0L))).cast("double") /
          count(lit(1)).cast("double")).as("novelty"))
  }

  /** Intra-document repetition stats — the "duplicated n-gram fraction"
    * quality signal (published web-corpus filtering heuristics): a document
    * whose 3-grams repeat heavily is boilerplate/spam-shaped regardless of
    * its other quality scores. Per doc: total 3-gram count, distinct 3-gram
    * count, and `dup_frac` = (total − distinct) / total.
    *
    * Shape: explode 3-grams → count per (doc, gram) → fold per doc. Two
    * hash aggregations keyed by (doc, gram) then doc; map-side partials
    * collapse each doc's repeats before either shuffle, and no per-row
    * array materializes (an `array_distinct` over a per-doc gram array
    * would be the interpreted O(n²) trap). Docs with < 3 words have one
    * whole-text gram ⇒ dup_frac 0; null-text docs are excluded (no grams).
    */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.where(col(textCol).isNotNull)
      .withColumn("__words", words(col(textCol)))
      .select(col(idCol), explode(Dedup.shingles(col(textCol), col("__words"))).as("__g"))
      .groupBy(col(idCol), col("__g")).agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol))
      .agg(
        sum(col("__c")).as("n_grams"),
        count(lit(1)).as("n_distinct_grams"),
        ((sum(col("__c")) - count(lit(1))).cast("double") / sum(col("__c")))
          .as("dup_frac"))

  /** Gopher's full n-gram repetition signal family (Rae et al. 2021,
    * Appendix A.1.1), generalizing [[repetitionStats]] from one n to many:
    * per (doc, n) the fraction of n-gram CHARACTERS claimed by the single
    * most frequent n-gram (`top_frac` — ties break to the lexicographically
    * smallest gram) and by all grams occurring ≥2 times (`dup_frac`), the
    * two signals the paper thresholds per n. Character mass = count ×
    * gram string length, all BIGINT until the final division, so both
    * fractions are bit-stable across engines.
    *
    * Shape: ONE corpus pass — the n values explode alongside the grams
    * (|ns|× row inflation of the gram stream, same asymptotics as running
    * repetitionStats |ns| times but one scan), then two hash aggregations
    * keyed (doc, n, gram) → (doc, n). The top gram is an exact min over
    * a (−count, gram, charmass) struct — no per-group window, no sort.
    * Docs with fewer than n words emit no row for that n. */
  def ngramRepetition(df: DataFrame, idCol: String, textCol: String,
      ns: Seq[Int] = Seq(2, 3, 4)): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1), s"ns must be positive, got $ns")
    val counts = df.where(col(textCol).isNotNull)
      .withColumn("__ws", words(col(textCol)))
      .select(col(idCol), col("__ws"), explode(array(ns.map(lit): _*)).as("n"))
      .where(size(col("__ws")) >= col("n"))
      .select(col(idCol), col("n"),
        explode(transform(sequence(lit(1), size(col("__ws")) - col("n") + 1),
          i => array_join(slice(col("__ws"), i, col("n")), " "))).as("__g"))
      .groupBy(col(idCol), col("n"), col("__g"))
      .agg(count(lit(1)).as("__c"))
    counts
      .withColumn("__cm", col("__c") * length(col("__g")).cast("long"))
      .groupBy(col(idCol), col("n"))
      .agg(
        sum(col("__c")).as("n_grams"),
        sum(col("__cm")).as("total_chars"),
        min(struct((-col("__c")).as("nc"), col("__g").as("g"), col("__cm").as("cm")))
          .as("__top"),
        sum(when(col("__c") >= 2, col("__cm")).otherwise(0L)).as("dup_chars"))
      .select(col(idCol), col("n"), col("n_grams"),
        col("__top.g").as("top_gram"),
        (col("__top.cm").cast("double") / col("total_chars")).as("top_frac"),
        (col("dup_chars").cast("double") / col("total_chars")).as("dup_frac"))
  }

  /** Global top-`k` token vocabulary with frequencies — the first pass of
    * any tokenizer/vocab build. One explode → hash aggregate keyed by token
    * (map-side partials collapse in-partition repeats, so the exchange
    * carries per-partition distinct tokens, not the corpus), then a
    * distributed top-k (TakeOrderedAndProject — each partition offers its
    * local top k, only k·partitions rows reach the driver side of the sort;
    * no global sort, no single-partition window over the full vocabulary).
    * Rank is assigned AFTER the limit, over k rows. Deterministic: ties
    * break by token. Empty tokens (split artifacts of doubled separators)
    * are dropped. */
  def vocabTopK(df: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val top = df
      .select(explode(words(col(textCol))).as("token"))
      .where(col("token") =!= "")
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(k)
    top.withColumn("rank", row_number().over(
      org.apache.spark.sql.expressions.Window.orderBy(col("cnt").desc, col("token"))))
      .select(col("rank"), col("token"), col("cnt"))
  }

  /** Cumulative corpus coverage of the top-`k` vocabulary — the tokenizer
    * budget-planning curve: what fraction of all token INSTANCES the k
    * most frequent types claim, per rank. One corpus pass builds the
    * vocabulary counts (persisted — the grand total and the top-k both
    * consume it; the frame is vocabulary-sized, so the cache is cheap and
    * at open-web scale swaps to a reliable checkpoint), the top-k is a
    * distributed TakeOrderedAndProject, and the running sum is a window
    * over the k SURVIVING rows only — metadata-sized by construction, so
    * the single-partition window is the right plan, not a hazard.
    * Counts stay integral; coverage is the one final division. */
  def vocabCoverage(df: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    // eager pin: total + top-k would race an uncached persist
    val counts = graft.util.Caches.pin(df
      .select(explode(words(col(textCol))).as("token"))
      .where(col("token") =!= "")
      .groupBy(col("token")).agg(count(lit(1)).as("cnt")))
    val total = counts.agg(sum(col("cnt")).as("__total"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("token"))
    counts.orderBy(col("cnt").desc, col("token")).limit(k)
      .crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(w))
      .withColumn("cum_cnt", sum(col("cnt")).over(w))
      .select(col("rank"), col("token"), col("cnt"), col("cum_cnt"),
        (col("cum_cnt").cast("double") / col("__total")).as("coverage"))
  }

  /** Gopher-style composite quality filter (Rae et al. 2021, Appendix A),
    * on this engine's exact-arithmetic signals: a document survives only if
    * its word count, mean word length, stopword ratio, alphabetic-word
    * ratio, and duplicate-3-gram fraction all land inside the published
    * bounds. Emits every measured signal, every per-rule verdict, and the
    * composite `keep` — the auditable form a curation pipeline needs (a
    * bare boolean cannot explain WHY a document died).
    *
    * Scale shape: the scalar signals are one codegen'd scan-stage pass
    * (array HOFs over a materialized words column — never re-split per
    * lambda); the repetition signal is the [[repetitionStats]] gram
    * aggregation (the one shuffle, keyed by (doc, gram) with map-side
    * partials) joined back by id. All ratios are single divisions of
    * integer counts, so verdicts are bit-stable across engines. Docs with
    * NULL text are excluded (they have no signals to judge). */
  def gopherRules(
      df: DataFrame, idCol: String, textCol: String,
      minWords: Long = 50, maxWords: Long = 100000,
      minAvgLen: Double = 3.0, maxAvgLen: Double = 10.0,
      minStopRatio: Double = 0.06, minAlphaRatio: Double = 0.8,
      maxDupFrac: Double = 0.2): DataFrame = {
    require(minWords >= 1 && maxWords >= minWords,
      s"word-count bounds must satisfy 1 <= min <= max, got [$minWords, $maxWords]")
    val stopArr = array(stopwords.map(lit): _*)
    val scalars = df
      .where(col(textCol).isNotNull)
      .withColumn("__w", words(col(textCol)))
      .select(col(idCol),
        size(col("__w")).cast("long").as("n_words"),
        ((length(col(textCol)) - (size(col("__w")) - 1)).cast("double") /
          size(col("__w"))).as("avg_word_len"),
        (size(filter(col("__w"), x => array_contains(stopArr, x))).cast("double") /
          size(col("__w"))).as("stopword_ratio"),
        (size(filter(col("__w"), x => x.rlike("[a-z]"))).cast("double") /
          size(col("__w"))).as("alpha_ratio"))
    val rep = repetitionStats(df, idCol, textCol)
      .select(col(idCol), col("dup_frac"))
    scalars.join(rep, Seq(idCol))
      .withColumn("words_ok",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("length_ok",
        col("avg_word_len") >= minAvgLen && col("avg_word_len") <= maxAvgLen)
      .withColumn("stop_ok", col("stopword_ratio") >= minStopRatio)
      .withColumn("alpha_ok", col("alpha_ratio") >= minAlphaRatio)
      .withColumn("rep_ok", col("dup_frac") <= maxDupFrac)
      .withColumn("keep",
        col("words_ok") && col("length_ok") && col("stop_ok") &&
          col("alpha_ok") && col("rep_ok"))
  }

  /** Content fingerprint: md5 of the lowercased text — exact-dup key. */
  def fingerprintExact(c: Column): Column = md5(lower(c).cast("binary"))

  /** Bag-of-words fingerprint: md5 over the sorted distinct lowercased tokens —
    * catches reorderings/duplicated-word edits (near-dup key). */
  def fingerprintBag(c: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(split(lower(c), " ")))).cast("binary"))

  /** PII scrub: mask emails, long digit runs (phone/account numbers), and
    * IPv4 literals. Pure per-row `regexp_replace` chain — codegen'd, no
    * shuffle, linear in the scan like every other text op here. The digit
    * rule runs LAST so address digits inside already-masked spans are gone,
    * and it is bounded (9+ digits, allowing separators) to keep ordinary
    * numbers/years intact. Heuristic by design: a recall-tuned scrubber for
    * training corpora, not a compliance guarantee. */
  def redactPii(c: Column, mask: String = "[PII]"): Column = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ipv4 = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"
    val digits = "\\b\\d(?:[ .-]?\\d){8,}\\b"
    // the replacement position treats $ and \ as group references — quote
    // the mask so any literal (e.g. "<$REDACTED>") survives
    val m = java.util.regex.Matcher.quoteReplacement(mask)
    regexp_replace(regexp_replace(regexp_replace(c, email, m), ipv4, m), digits, m)
  }

  /** Sliding token-window chunking — long documents into (chunkTokens)-token
    * chunks overlapping by overlapTokens, the shape a context-bounded
    * training pipeline feeds downstream. 1→n via posexplode of the chunk
    * starts (stride = chunk − overlap), slice per start: one codegen'd
    * projection, no shuffle, no per-row interpretation of the text body.
    * A chunk exists iff it contains at least one token beyond the previous
    * chunk's overlap (so short tails that are pure overlap never emit).
    * Output: (idCol, chunk_idx 0-based, chunk_text, chunk_tokens). */
  def chunkByTokens(
      df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, overlapTokens: Int): DataFrame = {
    require(chunkTokens > 0, s"chunkTokens must be positive, got $chunkTokens")
    require(overlapTokens >= 0 && overlapTokens < chunkTokens,
      s"overlap must be in [0, chunkTokens), got $overlapTokens")
    val step = chunkTokens - overlapTokens
    df.withColumn("__toks", words(col(textCol)))
      .withColumn("__n", size(col("__toks")))
      .select(
        col(idCol), col("__toks"), col("__n"),
        posexplode(sequence(
          lit(0), greatest(col("__n") - 1 - overlapTokens, lit(0)), lit(step)))
          .as(Seq("chunk_idx", "__start")))
      .select(
        col(idCol), col("chunk_idx"),
        array_join(slice(col("__toks"), col("__start") + 1, lit(chunkTokens)), " ")
          .as("chunk_text"),
        least(lit(chunkTokens), col("__n") - col("__start")).as("chunk_tokens"))
  }

  /** Conditional bigram-LM quality heuristic — the exact-arithmetic sibling
    * of the KenLM-perplexity filters of published web-corpus pipelines
    * (CCNet-style): a bigram instance (w1, w2) is SURPRISING when its
    * corpus-conditional probability is low, c(w1,w2)·k < c(w1·) — i.e.
    * P(w2|w1) < 1/k under the corpus's own bigram statistics — and a doc's
    * quality signal is its surprising-bigram fraction (machine-garbled and
    * mid-word-truncated text scores high; fluent text low). Counts stay
    * integral and the one division happens last, so the result is exact and
    * engine-independent — no floating log-prob sums whose addition order
    * could drift between engines.
    *
    * Scale shape: one in-stage Generate to bigram instances, ONE keyed
    * reduce to per-(doc, bigram) counts (map-side combine collapses hot
    * bigrams per partition before the exchange), a bigram-TYPE count table
    * derived from a second hash agg of that reduction (never a re-scan of
    * instances), head counts c(w1·) as an agg OVER the bigram table, and
    * the flag join runs on doc-distinct bigram rows — instance rows never
    * join. Hot-bigram skew ("of the" in every doc) is map-side-combined
    * away; AQE handles residual join skew.
    *
    * Output: (idCol, n_bigrams, n_rare, rare_frac) for every non-null-text
    * doc; rare_frac is NULL for docs with fewer than 2 tokens. */
  def bigramSurprisal(
      df: DataFrame, idCol: String, textCol: String, k: Int = 20): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    // the token array is materialized as a column BEFORE the lambda uses
    // it: referencing the raw split() expression inside transform() would
    // re-tokenize the document once per bigram position (O(tokens²) per doc)
    val ws = col("__ws")
    // the reduced (doc, bigram) frame feeds THREE consumers (the bigram
    // table, its head counts, and the per-doc flag join); without the pin
    // each consumer re-scans and re-explodes the corpus — Caches-registered
    // so catalog runners release it after materialization
    val docBigrams = graft.util.Caches.register(df
      .where(col(textCol).isNotNull)
      .select(col(idCol), words(col(textCol)).as("__ws"))
      .where(size(ws) >= 2)
      .select(col(idCol),
        explode(transform(sequence(lit(1), size(ws) - 1), i =>
          struct(element_at(ws, i).as("w1"), element_at(ws, i + 1).as("w2")))).as("bg"))
      .groupBy(col(idCol), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .agg(count(lit(1)).as("__dc"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val bigramCounts = docBigrams
      .groupBy(col("w1"), col("w2")).agg(sum(col("__dc")).as("__c12"))
    val headCounts = bigramCounts
      .groupBy(col("w1")).agg(sum(col("__c12")).as("__c1"))
    val flagged = bigramCounts.join(headCounts, Seq("w1"))
      .select(col("w1"), col("w2"), (col("__c12") * k < col("__c1")).as("__rare"))
    val per = docBigrams.join(flagged, Seq("w1", "w2"))
      .groupBy(col(idCol))
      .agg(sum(col("__dc")).as("n_bigrams"),
        sum(when(col("__rare"), col("__dc")).otherwise(0L)).as("n_rare"))
    df.where(col(textCol).isNotNull).select(col(idCol))
      .join(per, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_rare"), lit(0L)).as("n_rare"),
        when(col("n_bigrams") > 0,
          col("n_rare").cast("double") / col("n_bigrams")).as("rare_frac"))
  }

  /** [[gopherRules]] as a PURE PER-ROW PROJECTION — no shuffle, no join,
    * no state: every signal folds inside the row (the duplicate-3-gram
    * fraction reduces to `(|grams| − |distinct grams|) / |grams|` over the
    * row's own shingle array, which is exactly [[repetitionStats]]'
    * `(Σc − #grams) / Σc` computed locally). This is the shape a STREAMING
    * quality gate needs — filter-on-ingest over a document stream — and is
    * law-tested result-identical to the grouped form on any batch frame.
    * APPENDS the signal/verdict columns to the input frame (a projection
    * preserves its input, and a stream consumer usually needs the original
    * columns downstream); null-text rows are excluded like the grouped
    * form. */
  def gopherRulesRowwise(
      df: DataFrame, textCol: String,
      minWords: Long = 50, maxWords: Long = 100000,
      minAvgLen: Double = 3.0, maxAvgLen: Double = 10.0,
      minStopRatio: Double = 0.06, minAlphaRatio: Double = 0.8,
      maxDupFrac: Double = 0.2): DataFrame = {
    require(minWords >= 1 && maxWords >= minWords,
      s"word-count bounds must satisfy 1 <= min <= max, got [$minWords, $maxWords]")
    val stopArr = array(stopwords.map(lit): _*)
    val ws = col("__gr_ws")
    val sh = col("__gr_sh")
    df.where(col(textCol).isNotNull)
      .withColumn("__gr_ws", words(col(textCol)))
      .withColumn("__gr_sh", Dedup.shingles(col(textCol), ws))
      .withColumn("n_words", size(ws).cast("long"))
      .withColumn("avg_word_len",
        (length(col(textCol)) - (size(ws) - 1)).cast("double") / size(ws))
      .withColumn("stopword_ratio",
        size(filter(ws, x => array_contains(stopArr, x))).cast("double") / size(ws))
      .withColumn("alpha_ratio",
        size(filter(ws, x => x.rlike("[a-z]"))).cast("double") / size(ws))
      .withColumn("dup_frac",
        (size(sh) - size(array_distinct(sh))).cast("double") / size(sh))
      .withColumn("words_ok",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("length_ok",
        col("avg_word_len") >= minAvgLen && col("avg_word_len") <= maxAvgLen)
      .withColumn("stop_ok", col("stopword_ratio") >= minStopRatio)
      .withColumn("alpha_ok", col("alpha_ratio") >= minAlphaRatio)
      .withColumn("rep_ok", col("dup_frac") <= maxDupFrac)
      .withColumn("keep",
        col("words_ok") && col("length_ok") && col("stop_ok") &&
          col("alpha_ok") && col("rep_ok"))
      .drop("__gr_ws", "__gr_sh")
  }

  /** Sparse TF-IDF top-k similarity join — the inverted-index dual of the
    * dense ANN family: each document's k most similar neighbors under a
    * weighted shared-shingle score, computed entirely through term
    * postings (a pair is ever considered only if the docs SHARE a term —
    * the classic IR sparse join; no all-pairs product, no embeddings).
    *
    * Terms are the 3-word shingles of the dedup family; tf is the
    * multiset shingle count. The idf surrogate is integral:
    * w(t) = N div df(t) — monotone in the true log idf, and EXACT BIGINT,
    * so pair scores Σ_t tf_a·tf_b·w(t)² are commutative integer sums that
    * hash-gate across engines (the production swap to double log-idf is a
    * one-line change where FP ranking is acceptable). Terms with df > `maxDf`
    * are pruned (the stopword prune — it is also the SCALE contract: the
    * posting-list fan-out per term is bounded by maxDf, so the pair space
    * is ≤ maxDf·Σ df_t, linear in postings, never n²); df < 2 terms
    * contribute no pairs and are dropped with the same filter.
    *
    * Shape: one corpus scan → (doc, term, tf) hash agg (NOT persisted —
    * both consumers need the same hashpartitioning(__t) exchange, which
    * AQE runtime stage reuse shares inside the single action; r16 measured
    * the eager pin as pure overhead) → per-term posting lists (≤ maxDf
    * entries each, the [[Dedup.bucketPairs]] buffer discipline) → each
    * unordered pair generated ONCE and aggregated, then mirrored into both
    * directions off the same (again exchange-reused, unpersisted)
    * distinct-pair aggregate → per-doc top-k window over
    * already-aggregated neighbor rows, keyed by doc. Ties break by
    * neighbor id. Docs with no qualifying shared term emit no rows.
    *
    * Output: (`idCol`, neighbor_id, score, rank ≤ k). */
  def sparseTfIdfTopK(df: DataFrame, idCol: String, textCol: String,
      k: Int, maxDf: Long): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(maxDf >= 2, s"maxDf must be >= 2 to allow any pair, got $maxDf")
    // NOT pinned (measured, r16): both consumers (df agg + pair join)
    // need tf exchanged by __t, so AQE runtime stage reuse shares ONE
    // hashpartitioning(__t) materialization inside the single action —
    // the eager pin only added a count job and a cache round trip
    val tf = df
      .where(col(textCol).isNotNull)
      .select(col(idCol).as("__id"),
        explode(Dedup.shingles(col(textCol), words(col(textCol)))).as("__t"))
      .groupBy(col("__id"), col("__t")).agg(count(lit(1)).as("__tf"))
    val dfr = tf.groupBy(col("__t")).agg(count(lit(1)).as("__df"))
      .where(col("__df").between(2L, maxDf))
    val nDocs = df.where(col(textCol).isNotNull)
      .agg(count(lit(1)).as("__n"))
    val lists = tf.join(dfr, Seq("__t"))
      .crossJoin(broadcast(nDocs))
      .withColumn("__w", expr("__n div __df"))
      .groupBy(col("__t"))
      .agg(first(col("__w")).as("__w"),
        collect_list(struct(col("__id"), col("__tf"))).as("__ps"))
    // each unordered pair is generated ONCE per shared term — posexplode +
    // slice emits the C(df,2) combinations, not the df² product — and the
    // contribution is symmetric, so least/greatest canonicalizes without
    // loss; the mirror happens AFTER the pair aggregation, on the (much
    // smaller) distinct-pair frame
    val half = lists
      .select(col("__w"), col("__ps"),
        posexplode(col("__ps")).as(Seq("__i", "__a")))
      .select(col("__w"), col("__a"),
        explode(slice(col("__ps"), col("__i") + 2,
          size(col("__ps")) - col("__i") - 1)).as("__b"))
      .select(
        least(col("__a.__id"), col("__b.__id")).as("__ida"),
        greatest(col("__a.__id"), col("__b.__id")).as("__idb"),
        (col("__a.__tf") * col("__b.__tf") * col("__w") * col("__w")).as("__c"))
      .groupBy(col("__ida"), col("__idb"))
      .agg(sum(col("__c")).as("score"))
    // NOT pinned (measured, r16): the two mirror directions consume the
    // same hashpartitioning(__ida,__idb) aggregate — AQE stage reuse
    // shares it inside the single action
    val pairs = half
    val scores = pairs.union(pairs.select(
      col("__idb").as("__ida"), col("__ida").as("__idb"), col("score")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__ida")).orderBy(col("score").desc, col("__idb"))
    scores.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("__ida").as(idCol), col("__idb").as("neighbor_id"),
        col("score"), col("rank"))
  }

  /** BM25 ranked retrieval for a fixed query-term set — the lexical
    * scoring function production search stacks run next to the vector
    * index (and the hybrid-retrieval complement to [[Similarity]]'s ANN
    * rungs). Engine-exactness discipline:
    *
    *  - idf is the EXACT BIGINT surrogate `N div df` ([[tfidfTopK]]'s
    *    swap — monotone in the true log idf, hash-gateable; the
    *    production move to `ln((N−df+0.5)/(df+0.5)+1)` is a one-line
    *    swap that costs only the cross-engine bit match);
    *  - k1 = 1.25 and b = 0.75 are DYADIC rationals, so every blend is
    *    an exact IEEE double and the scoring expression replays bit for
    *    bit in any engine that mirrors its shape;
    *  - the per-document term-score sum folds in SORTED TERM ORDER
    *    (sort_array + left fold), never a partition-order float sum.
    *
    * Scale shape: one corpus explode; query terms are model metadata
    * (broadcast literal filter, no join for the corpus side); per-doc
    * state is ≤ |terms| scores; the final top-k is a distributed
    * TakeOrderedAndProject, with rank assigned on the k survivors only.
    *
    * @return (idCol, rank 1-based, score) — score desc, ties to low id */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], topK: Int): DataFrame = {
    require(terms.nonEmpty, "bm25TopK needs at least one query term")
    require(topK > 0, s"topK must be positive, got $topK")
    val toks = tokens(df.where(col(textCol).isNotNull), idCol, textCol, "__t")
    val dl = toks.groupBy(col(idCol)).agg(count(lit(1)).as("__dl"))
    val stats = dl.agg(count(lit(1)).as("__n"), sum(col("__dl")).as("__tot"))
    val tf = toks.where(col("__t").isin(terms: _*))
      .groupBy(col(idCol), col("__t")).agg(count(lit(1)).as("__tf"))
    val dfreq = tf.groupBy(col("__t")).agg(count(lit(1)).as("__df"))
    val scored = bm25Scores(tf.join(broadcast(dfreq), Seq("__t"))
      .join(dl, Seq(idCol))
      .crossJoin(broadcast(stats)), Seq(idCol), "__t")
    val top = scored.orderBy(col("score").desc, col(idCol)).limit(topK)
    // the unpartitioned window is intentional and BOUNDED: it ranks only
    // the limit(topK) survivors (k rows on one partition), never the
    // corpus — do not "fix" it into a keyed window, there is no key
    top.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col(idCol))))
      .select(col(idCol), col("rank"), col("score"))
  }

  /** One (idCol, `term`) row per non-empty space-separated token of
    * `textCol` — the corpus and query tokenization of the BM25 and hybrid
    * paths. */
  private def tokens(df: DataFrame, idCol: String, textCol: String,
      term: String = "t"): DataFrame =
    df.select(col(idCol), explode(words(col(textCol))).as(term))
      .where(col(term) =!= "")

  /** The BM25 score per `keys` group of (term, tf, df, dl, corpus stats)
    * rows: each term scores idf·tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    * with the BIGINT idf `N div df`, k1 = 1.25 and b = 0.75, and the
    * group's term scores fold left in SORTED `term` order — the exactness
    * discipline of [[bm25TopK]]. Input columns: `term`, `__tf`, `__df`,
    * `__dl`, `__n`, `__tot`.
    * @return (keys…, score) */
  private def bm25Scores(joined: DataFrame, keys: Seq[String],
      term: String): DataFrame =
    joined
      .withColumn("__idf", expr("__n div __df"))
      .withColumn("__ts",
        col("__idf").cast("double") * (col("__tf").cast("double") * lit(2.25)) /
          (col("__tf").cast("double") + lit(1.25) * (lit(0.25) + lit(0.75) *
            (col("__dl").cast("double") /
              (col("__tot").cast("double") / col("__n").cast("double"))))))
      .groupBy(keys.map(col): _*)
      .agg(aggregate(sort_array(collect_list(struct(col(term), col("__ts")))),
        lit(0.0), (a, x) => a + x.getField("__ts")).as("score"))

  /** PER-QUERY BM25 — [[bm25TopK]]'s scoring with a (q_id, term) query
    * table instead of one global term set: the lexical arm of hybrid
    * retrieval, one candidate ranking per query. Same exactness
    * discipline (BIGINT `N div df` idf, dyadic k1/b, sorted-term fold).
    *
    * Scale shape: `queryTerms` is model metadata (|queries|·terms rows,
    * broadcast); document frequencies are computed ONLY for the distinct
    * query terms (a broadcast semi-filter on the postings, never a
    * vocabulary-wide aggregate); candidates are docs sharing ≥ 1 query
    * term; the per-query `rank ≤ k` collapses to the keyed
    * WindowGroupLimit pushdown.
    *
    * @param queryTerms (q_id, term) — SMALL (broadcast)
    * @return (q_id, rank, n_id, score) — self-matches excluded when the
    *         query id space is the document id space */
  def bm25QueryTopK(df: DataFrame, idCol: String, textCol: String,
      queryTerms: DataFrame, k: Int): DataFrame =
    bm25QueryTopKPrepared(
      prepareHybridCorpus(df, idCol, textCol, null, null, null),
      queryTerms, k)

  /** The pre-reduced corpus side of the hybrid/lexical arms — derive it
    * ONCE (and pin it) when the same corpus answers many calls, e.g. a
    * streaming serve where every micro-batch re-consumes it:
    * `toks` (idCol, t), `dl` (idCol, __dl), `stats` (__n, __tot),
    * `alldf` (t, df — docs containing t). The emb/vec fields feed the
    * vector arm; `null` when only the lexical arm is used. */
  final case class HybridCorpus(
      docs: DataFrame, docIdCol: String, textCol: String,
      emb: DataFrame, embIdCol: String, vecCol: String,
      toks: DataFrame, dl: DataFrame, stats: DataFrame, alldf: DataFrame)

  def prepareHybridCorpus(docs: DataFrame, docIdCol: String, textCol: String,
      emb: DataFrame, embIdCol: String, vecCol: String): HybridCorpus = {
    val toks = tokens(docs.where(col(textCol).isNotNull), docIdCol, textCol)
    val (dl, stats, alldf) = postingsMeta(toks, docIdCol)
    HybridCorpus(docs, docIdCol, textCol, emb, embIdCol, vecCol,
      toks, dl, stats, alldf)
  }

  /** The metadata frames of a postings corpus, derived from its token
    * rows — the ONE definition both [[prepareHybridCorpus]] (lazy frames
    * over the corpus lineage) and the ingest's materialized delta write
    * (frames over the just-written toks parquet) must share, so the two
    * paths can never drift. */
  private def postingsMeta(toks: DataFrame, docIdCol: String):
      (DataFrame, DataFrame, DataFrame) = {
    val dl = toks.groupBy(col(docIdCol)).agg(count(lit(1)).as("__dl"))
    val stats = dl.agg(count(lit(1)).as("__n"), sum(col("__dl")).as("__tot"))
    val alldf = toks.select(col(docIdCol), col("t")).distinct()
      .groupBy(col("t")).agg(count(lit(1)).as("df"))
    (dl, stats, alldf)
  }

  /** Incremental postings maintenance: merge a prepared corpus side with
    * the prepared side of a DELTA of NEW documents — the append-only
    * update path of the hybrid serve. Every postings frame is additive
    * when the two doc-id sets are DISJOINT (the append contract): token
    * rows and per-doc lengths union, corpus stats add, and per-term
    * document frequencies add because no document is counted on both
    * sides. Serving from the merged postings is RESULT-IDENTICAL to
    * re-preparing the full corpus (q274's gate), so an accumulating
    * corpus never pays a full postings rebuild. */
  def mergeHybridCorpus(a: HybridCorpus, b: HybridCorpus,
      checkDisjoint: Boolean = true): HybridCorpus = {
    require(a.docIdCol == b.docIdCol && a.textCol == b.textCol,
      "mergeHybridCorpus: mismatched corpus schemas")
    if (checkDisjoint) {
      // The append contract: the two doc-id sets MUST be disjoint, or df
      // and corpus stats double-count and every downstream BM25 score is
      // silently skewed. Guard on the per-doc-length frames (doc-count
      // sized, the cheapest id-complete side); callers that have already
      // proven disjointness for a hot per-batch path may pass
      // checkDisjoint = false.
      val overlap = a.dl.select(col(a.docIdCol))
        .join(b.dl.select(col(b.docIdCol)), Seq(a.docIdCol), "left_semi")
        .limit(1).count()
      require(overlap == 0L,
        "mergeHybridCorpus: doc-id sets overlap — the append contract " +
          "requires disjoint ids (an overlapping doc would double-count " +
          "per-term document frequencies and corpus stats)")
    }
    val stats = a.stats.unionByName(b.stats)
      .agg(sum(col("__n")).as("__n"), sum(col("__tot")).as("__tot"))
    val alldf = a.alldf.unionByName(b.alldf)
      .groupBy(col("t")).agg(sum(col("df")).as("df"))
    a.copy(
      docs = a.docs.unionByName(b.docs),
      emb = if (a.emb == null || b.emb == null) a.emb
            else a.emb.unionByName(b.emb),
      toks = a.toks.unionByName(b.toks),
      dl = a.dl.unionByName(b.dl),
      stats = stats, alldf = alldf)
  }

  /** DELETION from the postings store — [[mergeHybridCorpus]]'s inverse,
    * and the third store op next to increment (q274/q278): remove a set
    * of documents (given as their own PREPARED corpus, so the exact
    * postings they contributed subtract) without rebuilding anything.
    * Row-level frames (token rows, lengths, vectors) drop by an id-keyed
    * anti-join; the metadata-sized frames subtract ADDITIVELY — corpus
    * stats as negated sums, per-term document frequencies as negated
    * adds with non-positive terms dropped — which is exact because every
    * deleted doc contributed exactly its own prepared counts (the same
    * disjoint-contribution algebra the merge relies on). Serving the
    * result is RESULT-IDENTICAL to re-preparing the surviving corpus
    * (q283's gate). The right-to-erasure path: one anti-join + two
    * metadata re-sums, never a postings rebuild.
    * @param checkSubset verify the deleted ids all exist in `a` (one
    *        deleted-doc-count-sized semi-join) — a deletion of an
    *        unknown doc would corrupt stats silently otherwise. */
  def removeFromHybridCorpus(a: HybridCorpus, d: HybridCorpus,
      checkSubset: Boolean = true): HybridCorpus = {
    require(a.docIdCol == d.docIdCol && a.textCol == d.textCol,
      "removeFromHybridCorpus: mismatched corpus schemas")
    if (checkSubset) {
      val missing = d.dl.select(col(d.docIdCol))
        .join(a.dl.select(col(a.docIdCol)), Seq(a.docIdCol), "left_anti")
        .limit(1).count()
      require(missing == 0L,
        "removeFromHybridCorpus: a deleted doc id is not in the store — " +
          "subtracting counts it never contributed would corrupt stats")
    }
    val delIds = d.dl.select(col(d.docIdCol))
    val stats = a.stats.unionByName(d.stats.select(
        (-col("__n")).as("__n"), (-col("__tot")).as("__tot")))
      .agg(sum(col("__n")).as("__n"), sum(col("__tot")).as("__tot"))
    val alldf = a.alldf.unionByName(d.alldf.select(
        col("t"), (-col("df")).as("df")))
      .groupBy(col("t")).agg(sum(col("df")).as("df"))
      .where(col("df") > 0)
    a.copy(
      docs = a.docs,
      emb = if (a.emb == null) null
            else a.emb.join(
              if (d.emb == null) delIds.withColumnRenamed(a.docIdCol, a.embIdCol)
              else d.emb.select(col(a.embIdCol)),
              Seq(a.embIdCol), "left_anti"),
      toks = a.toks.join(delIds, Seq(a.docIdCol), "left_anti"),
      dl = a.dl.join(delIds, Seq(a.docIdCol), "left_anti"),
      stats = stats, alldf = alldf)
  }

  /** [[removeFromHybridCorpus]] from BARE IDS — the form a deletion
    * request actually arrives in (the caller has doc ids, not the
    * documents' prepared counts): the deleted side's postings are derived
    * FROM THE STORE ITSELF (the store already holds exactly what each doc
    * contributed — its token rows and length; the 1-row stats and
    * per-term dfs of the deleted set re-reduce from those rows), then the
    * subtraction algebra applies unchanged. No access to the original
    * text is ever needed — deletion works even after the raw corpus is
    * gone, which is precisely the right-to-erasure situation.
    * @param ids one id-typed column naming the docs to delete */
  def removeDocsById(a: HybridCorpus, ids: DataFrame): HybridCorpus = {
    val delIds = ids.select(ids.columns.head)
      .withColumnRenamed(ids.columns.head, a.docIdCol)
    val dToks = a.toks.join(delIds, Seq(a.docIdCol), "left_semi")
    val dDl = a.dl.join(delIds, Seq(a.docIdCol), "left_semi")
    val d = HybridCorpus(null, a.docIdCol, a.textCol,
      emb = if (a.emb == null) null
            else a.emb.join(delIds.withColumnRenamed(a.docIdCol, a.embIdCol),
              Seq(a.embIdCol), "left_semi"),
      embIdCol = a.embIdCol, vecCol = a.vecCol,
      toks = dToks,
      dl = dDl,
      stats = dDl.agg(count(lit(1)).as("__n"), sum(col("__dl")).as("__tot")),
      alldf = dToks.select(col(a.docIdCol), col("t")).distinct()
        .groupBy(col("t")).agg(count(lit(1)).as("df")))
    // subset holds by construction (the deleted side is a's own rows) —
    // an id the store never held simply contributes nothing
    removeFromHybridCorpus(a, d, checkSubset = false)
  }

  /** COMPACTION of the postings store — [[Similarity.compactIndex]]'s
    * lexical twin: a store that accumulated many streamed deltas
    * ([[ingestPostingsStream]] writes one parquet append per micro-batch,
    * so file count and the per-read stats/df re-reduction grow with
    * trigger count) is rewritten as ONE consolidated delta — the same
    * postings rows, the stats re-summed to one row, the per-term dfs
    * re-added to one row per term. Serving the compacted store is
    * RESULT-IDENTICAL by the merge algebra (q284's gate); what compaction
    * buys is bounded file counts and O(1) metadata frames regardless of
    * how many micro-batches ever wrote. Writes to `outPath` (a fresh
    * store dir) — swap-on-success is the caller's move.
    *
    * `tombstones` (a frame of bare doc ids) are erased AT compaction —
    * [[removeDocsById]] folded into the consolidation rewrite, so one
    * cycle pays deletion and consolidation together (q295's gate).
    * @param deltas the batch-addressed deltas to consolidate (the window
    *        [[graft.util.DeltaStore]] computed); the result lands
    *        batch-addressed under `delta=<max>/`. Empty consolidates the
    *        whole store as a bare append — a one-shot write into a fresh
    *        dir, not a live store */
  def compactHybridStore(spark: org.apache.spark.sql.SparkSession,
      storePath: String, outPath: String,
      docIdCol: String, textCol: String,
      embIdCol: String, vecCol: String,
      tombstones: DataFrame = null,
      deltas: Seq[Long] = Nil): Unit = {
    val hc0 = readHybridCorpus(spark, storePath, docIdCol, textCol,
      embIdCol, vecCol, deltas = deltas)
    val hc = if (tombstones == null) hc0 else removeDocsById(hc0, tombstones)
    // readHybridCorpus already re-reduces stats/alldf; writing the result
    // back as one delta IS the consolidation
    writeHybridCorpusDelta(hc, outPath, deltas.maxOption)
  }

  /** The postings store as a [[graft.util.DeltaStore]]: the `stats` frame
    * is its ingest clock (the writer lands exactly one batch-addressed
    * stats dir per delta) and the merge is [[compactHybridStore]]'s
    * additive re-reduction — chunks hold disjoint doc ids, so
    * [[readHybridCorpus]] re-sums them at serve time. */
  private[graft] def postingsStore(docIdCol: String, textCol: String,
      embIdCol: String, vecCol: String): graft.util.DeltaStore =
    graft.util.DeltaStore("stats", (spark, root, deltas, tombstones, out) =>
      compactHybridStore(spark, root, out, docIdCol, textCol, embIdCol,
        vecCol, tombstones, deltas))

  /** INCREMENTAL generation publish of a live postings store
    * ([[graft.util.DeltaStore.publish]] over [[postingsStore]]): the
    * previous generation's files plus one consolidation chunk of the
    * uncovered deltas (q304's protocol; law-tested against a full rewrite).
    * @param deltaBelow the committed cut while a live ingest is writing
    *        (the `beforeBatch(b)` seam); None publishes everything
    * @return true iff a new generation was published */
  def publishHybridGeneration(spark: org.apache.spark.sql.SparkSession,
      storePath: String, genRoot: String,
      docIdCol: String, textCol: String, embIdCol: String, vecCol: String,
      deltaBelow: Option[Long] = None): Boolean =
    postingsStore(docIdCol, textCol, embIdCol, vecCol)
      .publish(spark, storePath, genRoot, deltaBelow)

  /** The compaction TRIGGER POLICY for a live postings store
    * ([[graft.util.DeltaStore.maintain]] over [[postingsStore]]): below
    * `maxDeltas` deltas a no-op (q293's law), above it one consolidated
    * delta at the highest covered batch id, swapped in crash-recoverably.
    * @param tombstones optional bare-id frame erased at compaction
    * @param onlyBelow the committed cut at the `beforeBatch(b)` seam
    * @param dropBelow the retention window on the batch clock: aged
    *        deltas' postings, lengths, stats and dfs leave in the same
    *        re-reduction; they force the cycle, and a window that would
    *        empty the store fails
    * @return true iff the policy fired and the store was swapped */
  def maintainHybridStore(spark: org.apache.spark.sql.SparkSession,
      storePath: String, maxDeltas: Int,
      docIdCol: String, textCol: String, embIdCol: String, vecCol: String,
      tombstones: DataFrame = null,
      onlyBelow: Option[Long] = None,
      dropBelow: Option[Long] = None): Boolean =
    postingsStore(docIdCol, textCol, embIdCol, vecCol)
      .maintain(spark, storePath, maxDeltas, tombstones, onlyBelow, dropBelow)

  /** Persist one prepared-corpus DELTA into a postings STORE directory —
    * the durable form of [[mergeHybridCorpus]]'s append algebra: every
    * postings frame is additive under disjoint doc ids, so a delta lands
    * as a parquet append per frame (token rows, per-doc lengths, the
    * 1-row stats, per-term document frequencies, and the vector side when
    * present). The store never holds raw document text — postings, not
    * corpus (the codes-not-vectors discipline's lexical twin).
    * [[readHybridCorpus]] re-reduces only the metadata-sized frames.
    *
    * With `batchId` set, the delta is BATCH-ADDRESSED: each frame lands
    * under `delta=<batchId>/` with OVERWRITE semantics, which is what
    * makes a streaming ingest replay-idempotent — foreachBatch is
    * at-least-once, and a crash between the store append and the offset
    * commit replays the batch with the SAME id and the same content (file
    * sources are deterministic), so the replay overwrites its own previous
    * (possibly partial) attempt instead of double-appending rows and
    * double-counting stats/dfs. The `delta=` spelling makes the batch id a
    * parquet partition column, so snapshot order is readable straight off
    * the store (and dropped by [[readHybridCorpus]] when serving). A bare
    * append (batchId = None) remains for one-shot batch writes where no
    * replay exists (e.g. [[compactHybridStore]]'s consolidated output). */
  def writeHybridCorpusDelta(hc: HybridCorpus, path: String,
      batchId: Option[Long] = None): Unit = {
    val (mode, sub) = batchId match {
      case Some(b) => ("overwrite", s"/delta=$b")
      case None    => ("append", "")
    }
    // the five frame writes land in DISJOINT output dirs and share no
    // write-side state — submit them concurrently so the store-sized jobs
    // overlap instead of paying five sequential stage-launch round trips
    // (guide §2.6; [[compactHybridStore]] feeds this with five independent
    // reads of the old store, where the overlap is total)
    graft.util.Par.run(Seq(
      () => hc.toks.write.mode(mode).parquet(s"$path/toks$sub"),
      () => hc.dl.write.mode(mode).parquet(s"$path/dl$sub"),
      () => hc.stats.write.mode(mode).parquet(s"$path/stats$sub"),
      () => hc.alldf.write.mode(mode).parquet(s"$path/alldf$sub")) ++
      (if (hc.emb == null) Seq.empty[() => Unit]
       else Seq(() => hc.emb.write.mode(mode).parquet(s"$path/emb$sub"))))
  }

  /** Load the ACCUMULATED postings store written by
    * [[writeHybridCorpusDelta]] as a serveable [[HybridCorpus]]: token
    * rows and per-doc lengths are unions as-written; the per-delta stats
    * rows re-sum (one row out) and per-term document frequencies re-add —
    * exactly folding [[mergeHybridCorpus]] over the deltas, by the same
    * disjoint-id algebra, without ever rebuilding postings from text.
    * `docs` is null in the result: the store holds postings, not corpus,
    * and no serving path ([[bm25QueryTopKPrepared]] /
    * [[hybridRrfTopKPrepared]]) consumes raw documents.
    * @param checkUnique verify no doc id was ingested twice (one
    *        doc-count-sized distinct) — the loud form of the append
    *        contract; default off for hot serve startup.
    * @param deltaBelow restrict the read to batch-addressed deltas BELOW
    *        this id — a read of only COMMITTED deltas while a live ingest
    *        is still writing; partition pruning makes it a
    *        directory-level cut, no data read from excluded deltas. None
    *        reads the whole store.
    * @param deltas restrict the read to exactly these batch-addressed
    *        deltas — the window a [[graft.util.DeltaStore]] cycle
    *        consolidates; a partition-pruned cut like `deltaBelow`. Empty
    *        applies no cut.
    * @param allowLexicalOnly permit embIdCol = null on a store that DOES
    *        carry a vector side — the intentional postings-only serve;
    *        without it that shape is rejected as a likely wiring bug. */
  def readHybridCorpus(spark: org.apache.spark.sql.SparkSession, path: String,
      docIdCol: String, textCol: String, embIdCol: String, vecCol: String,
      checkUnique: Boolean = false,
      deltaBelow: Option[Long] = None,
      deltas: Seq[Long] = Nil,
      allowLexicalOnly: Boolean = false): HybridCorpus = {
    // store-shape guard: emb presence is a property of the STORE (the
    // writer only appends `emb/` when the corpus had a vector side), so a
    // caller argument that disagrees with the directory layout is a wiring
    // bug — fail with a store-shape message instead of an opaque
    // path-not-found (embIdCol set, no emb/) or silently dropping the
    // store's vectors (embIdCol null, emb/ present)
    val embDir = new org.apache.hadoop.fs.Path(s"$path/emb")
    val hasEmb = embDir
      .getFileSystem(spark.sparkContext.hadoopConfiguration).exists(embDir)
    if (embIdCol != null)
      require(hasEmb, s"postings store at $path holds no vector side " +
        "(no emb/ subdirectory) but embIdCol was given — read it " +
        "lexical-only with embIdCol = null")
    else
      // the INTENTIONAL lexical-only read of a hybrid store (a serve
      // that wants postings and nothing else) stays expressible behind
      // the explicit opt-out; the default remains loud so a wiring bug
      // can't silently drop the store's vector side
      require(!hasEmb || allowLexicalOnly,
        s"postings store at $path holds a vector side " +
        "(emb/ subdirectory) but embIdCol is null — the store's vectors " +
        "would be silently dropped; pass the emb id/vector column names, " +
        "or set allowLexicalOnly = true for an intentional postings-only read")
    // `delta` is the batch-addressed stores' partition column (snapshot
    // order metadata) — layout, not postings; drop is a no-op on stores
    // written as bare appends
    def frame0(sub: String): DataFrame = {
      val raw = spark.read.parquet(s"$path/$sub")
      val cuts = deltaBelow.map(col("delta").cast("long") < _) ++
        Option.when(deltas.nonEmpty)(col("delta").cast("long").isin(deltas: _*))
      if (cuts.isEmpty) raw.drop("delta")
      else {
        require(raw.columns.contains("delta"),
          s"deltaBelow/deltas on a store without batch-addressed " +
            s"deltas: $path/$sub")
        raw.where(cuts.reduce(_ && _)).drop("delta")
      }
    }
    // spark.read.parquet resolves each frame EAGERLY on the driver (file
    // listing + footer schema inference — measured at ~60-70 ms per call);
    // the four/five frames are independent store subdirs, so resolve them
    // concurrently (guide §2.6 applied to driver-side metadata work) —
    // identical DataFrames, one inference round trip of wall instead of five
    val resolved = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
    val frameSubs = Seq("toks", "dl", "stats", "alldf") ++
      (if (embIdCol == null) Seq.empty else Seq("emb"))
    graft.util.Par.run(frameSubs.map(sub =>
      () => { resolved.put(sub, frame0(sub)); () }))
    def frame(sub: String): DataFrame = resolved.get(sub)
    val dl = frame("dl")
    if (checkUnique) {
      val dup = dl.groupBy(col(docIdCol)).agg(count(lit(1)).as("__c"))
        .where(col("__c") > 1).limit(1).count()
      require(dup == 0L,
        s"postings store at $path holds a doc id ingested more than once — " +
          "the append contract requires disjoint per-delta ids")
    }
    val emb = if (embIdCol == null) null else frame("emb")
    HybridCorpus(null, docIdCol, textCol, emb, embIdCol, vecCol,
      toks = frame("toks"),
      dl = dl,
      stats = frame("stats")
        .agg(sum(col("__n")).as("__n"), sum(col("__tot")).as("__tot")),
      alldf = frame("alldf")
        .groupBy(col("t")).agg(sum(col("df")).as("df")))
  }

  /** STREAMING INGEST of the postings store — the WRITE path of the
    * hybrid serve run live, mirroring [[Similarity.ingestIndexStream]]:
    * a STREAM of (doc id, text[, vector]) rows is reduced micro-batch by
    * micro-batch through [[prepareHybridCorpus]] — the postings derivation
    * verbatim, |batch|-bounded — and each delta lands in the store via
    * [[writeHybridCorpusDelta]], BATCH-ADDRESSED (`delta=<batchId>/`,
    * overwrite): foreachBatch is at-least-once, so with a real checkpoint
    * a crash between the store write and the offset commit REPLAYS the
    * batch — same id, same content — and the replay overwrites its own
    * previous attempt instead of double-appending (doc ids duplicated,
    * stats/dfs double-counted, every BM25 score shifted). Effectively-once
    * store content without transactions — [[graft.io.Sinks
    * .idempotentJdbcAppend]]'s discipline in parquet form (q291's
    * kill-and-resume gate). No cross-batch state: postings rows are
    * per-document functions and the merge algebra is associative and
    * commutative under disjoint ids, so serving the accumulated store
    * reproduces the one-shot prepared corpus VERBATIM for ANY micro-batch
    * split (q278's gate on q268's oracle). Null-id rows on either side
    * are dropped so a staged outer-join stream cannot pollute a frame.
    *
    * Returns the un-started writer so the caller owns trigger, checkpoint
    * and start; `beforeBatch`/`afterBatch` are
    * [[graft.util.DeltaStore.sink]]'s hooks. */
  def ingestPostingsStream(docStream: DataFrame, docIdCol: String,
      textCol: String, embIdCol: String, vecCol: String, storePath: String,
      afterBatch: Long => Unit = _ => (),
      beforeBatch: Long => Unit = _ => ()):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docStream.writeStream
      .foreachBatch(graft.util.DeltaStore.sink(afterBatch, beforeBatch) {
          (batch, batchId) =>
        // Materialize the row-level token frame ONCE, then derive the
        // metadata frames (dl/stats/alldf) from the WRITTEN parquet rather
        // than re-running the batch-scan → tokenize → explode lineage for
        // every frame: the lazy writeHybridCorpusDelta(prepareHybridCorpus(
        // batch…)) form re-scanned the micro-batch source 5× and re-ran
        // the explode 4× per delta (guide §1.2 — don't recompute what you
        // already have; at scale toks IS the heavy frame and tokenization
        // the heavy work). Identical store content by construction: the
        // metadata frames come from [[postingsMeta]] — the same definition
        // prepareHybridCorpus uses — applied to the read-back of the toks
        // rows this very write produced (law-pinned in TextAnalysisSpec;
        // q278/q291/q293/q298/q303/q304 gate the store against the
        // from-scratch oracle downstream). Replay-safety is unchanged:
        // every frame still lands batch-addressed with overwrite
        // semantics, and a replay overwrites toks first, so the derived
        // frames always read their own attempt's rows.
        val spark = batch.sparkSession
        val sub = s"/delta=$batchId"
        val toks = tokens(batch.select(col(docIdCol), col(textCol))
            .where(col(docIdCol).isNotNull && col(textCol).isNotNull),
          docIdCol, textCol)
        // overlap the independent actions (guide §2.6): the vector side
        // never touches the token lineage, so it writes concurrently with
        // the toks→metadata chain; the three metadata writes over the
        // written toks are themselves independent and run together. Same
        // frames, same store bytes — only the driver stops serializing
        // five tiny jobs that each leave most of the cores idle.
        graft.util.Par.run(Seq(
          () => {
            toks.write.mode("overwrite").parquet(s"$storePath/toks$sub")
            val toksW = spark.read.parquet(s"$storePath/toks$sub")
            val (dl, stats, alldf) = postingsMeta(toksW, docIdCol)
            graft.util.Par.run(Seq(
              () => dl.write.mode("overwrite").parquet(s"$storePath/dl$sub"),
              () => stats.write.mode("overwrite").parquet(s"$storePath/stats$sub"),
              () => alldf.write.mode("overwrite").parquet(s"$storePath/alldf$sub")))
          }) ++
          (if (embIdCol == null) Seq.empty[() => Unit]
           else Seq(() => batch.select(col(embIdCol), col(vecCol))
             .where(col(embIdCol).isNotNull)
             .write.mode("overwrite").parquet(s"$storePath/emb$sub"))))
      })

  /** [[bm25QueryTopK]] over a prepared (possibly pinned) corpus side.
    * @param excludeSelf drop candidates whose doc id equals the query id —
    *        correct ONLY when the query id space IS the document id space
    *        (the corpus-as-queries gates). Callers with an external query
    *        id space that numerically overlaps doc ids must pass `false`,
    *        or a legitimate document is silently excluded. */
  def bm25QueryTopKPrepared(hc: HybridCorpus,
      queryTerms: DataFrame, k: Int,
      excludeSelf: Boolean = true): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val idCol = hc.docIdCol
    val qt = queryTerms.select(col("q_id"), col("term").as("t"))
    val terms = qt.select(col("t")).distinct()
    // df values for the query terms come straight off the prepared
    // postings (same distinct-doc counts the inline form derived)
    val dfreq = hc.alldf.join(broadcast(terms), Seq("t"))
      .select(col("t"), col("df").as("__df"))
    val tf = hc.toks.join(broadcast(terms), Seq("t"))
      .groupBy(col(idCol), col("t")).agg(count(lit(1)).as("__tf"))
    val cands0 = tf.join(broadcast(qt), Seq("t"))
    val cands = if (excludeSelf) cands0.where(col(idCol) =!= col("q_id")) else cands0
    val scored = bm25Scores(cands.join(broadcast(dfreq), Seq("t"))
      .join(hc.dl, Seq(idCol))
      .crossJoin(broadcast(hc.stats)), Seq("q_id", idCol), "t")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("score").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("q_id"), col("rank"), col(idCol).as("n_id"), col("score"))
  }

  /** HYBRID retrieval: per-query BM25 ([[bm25QueryTopK]], query terms =
    * each query's `nTerms` most distinctive tokens by exact
    * `tf · (N div df)` weight) fused with the exact-cosine vector arm by
    * Reciprocal Rank Fusion, `rrf = Σ 1/(60 + rank)` — every fused score
    * a sum of exact IEEE divisions of integers. One function serves both
    * the batch gate and the STREAMING serve: per-query work is fully
    * independent and the corpus side is static, so the union of
    * per-micro-batch answers equals the one-shot answer for ANY split of
    * the query set. At production scale, pre-aggregate the corpus
    * postings (token counts, document frequencies, lengths) as static
    * tables instead of re-deriving them per batch — the function takes
    * `docs` as given, so a persisted/pre-reduced frame drops in.
    *
    * @param queries (q_id, textCol, vecCol) — SMALL (both arms broadcast)
    * @return (q_id, rank ≤ kOut, n_id, rrf, rank_v, rank_l) */
  def hybridRrfTopK(docs: DataFrame, docIdCol: String, textCol: String,
      emb: DataFrame, embIdCol: String, vecCol: String,
      queries: DataFrame, kArm: Int = 10, kOut: Int = 5,
      nTerms: Int = 4): DataFrame =
    hybridRrfTopKPrepared(
      prepareHybridCorpus(docs, docIdCol, textCol, emb, embIdCol, vecCol),
      queries, kArm, kOut, nTerms)

  /** [[hybridRrfTopK]] over a prepared corpus side — the SERVING form:
    * derive (and pin) the postings once, answer every micro-batch from
    * them instead of re-reducing the corpus per call.
    *
    * The VECTOR arm routes through the [[Ann]] facade: `annMethod`
    * defaults to `exact` ([[Similarity.bruteForceTopK]] — correct until
    * the corpus outgrows a scan), and at 100 TB the arm is an index rung —
    * `ivf` with the (annNlist, annIters, annNprobe) dials, or
    * `ivfpq_residual` when the vectors no longer fit anywhere. The q280
    * gate pins the exact-equivalence law: `ivf` with annNprobe ≥ annNlist
    * probes every list, scores the same exact cosine, and reproduces the
    * `exact` arm verbatim (so the flagship oracle holds on an index-rung
    * arm). */
  def hybridRrfTopKPrepared(hc: HybridCorpus, queries: DataFrame,
      kArm: Int = 10, kOut: Int = 5, nTerms: Int = 4,
      annMethod: String = "exact", annNlist: Int = 8,
      annIters: Int = 3, annNprobe: Int = 2): DataFrame =
    hybridRrfTopKFromQueryFreqs(hc,
      queryTermFreqs(queries, hc.textCol),
      queries.select(col("q_id"), col(hc.vecCol)),
      kArm, kOut, nTerms, annMethod, annNlist, annIters, annNprobe)

  /** [[hybridRrfTopKPrepared]] with the query side PRE-TOKENIZED: `qtf`
    * is [[queryTermFreqs]]' (q_id, t, qtf) and `qvec` the (q_id, vecCol)
    * projection. Both are pure functions of the query set alone — NOT of
    * the corpus — so a gate that serves the SAME queries against several
    * store generations (q293's two arms, q304's per-stage serves) derives
    * them once, pins them (multi-ACTION reuse — the r16 pin rule), and
    * pays the query-doc scan + tokenize once instead of per serve. The
    * corpus-dependent stages (df join, distinctiveness ranking, BM25,
    * vector arm) stay per-serve — they must see each generation's own
    * postings. */
  def hybridRrfTopKFromQueryFreqs(hc: HybridCorpus, qtf: DataFrame,
      qvec: DataFrame, kArm: Int = 10, kOut: Int = 5, nTerms: Int = 4,
      annMethod: String = "exact", annNlist: Int = 8,
      annIters: Int = 3, annNprobe: Int = 2): DataFrame = {
    require(kArm > 0 && kOut > 0 && nTerms > 0,
      s"need positive dials, got kArm=$kArm kOut=$kOut nTerms=$nTerms")
    val lex = bm25QueryTopKPrepared(hc,
        distinctiveQueryTermsFromFreqs(hc, qtf, nTerms), kArm)
      .select(col("q_id"), col("n_id"), col("rank").as("rank_l"))
    val vec = Ann.topK(
        qvec, hc.emb,
        "q_id", hc.embIdCol, hc.vecCol, kArm, method = annMethod,
        nlist = annNlist, iters = annIters, nprobe = annNprobe)
      .select(col("q_id"), col("n_id"), col("rank").as("rank_v"))
    rrfFuse(vec, lex, kOut)
  }

  /** Per-query term frequencies (q_id, t, qtf) — the corpus-INDEPENDENT
    * half of [[distinctiveQueryTerms]], split out so multi-serve gates can
    * tokenize the query docs once and reuse the frame across serves. */
  def queryTermFreqs(queries: DataFrame, textCol: String): DataFrame =
    tokens(queries.where(col(textCol).isNotNull), "q_id", textCol)
      .groupBy(col("q_id"), col("t")).agg(count(lit(1)).as("qtf"))

  /** Each query's `nTerms` most distinctive tokens by exact
    * `tf · (N div df)` weight against the prepared corpus — the query-
    * analysis stage of the hybrid serve, split out so ANY lexical arm can
    * consume it (ties to the lexicographically smaller term).
    * @return (q_id, term) */
  def distinctiveQueryTerms(hc: HybridCorpus, queries: DataFrame,
      nTerms: Int): DataFrame =
    distinctiveQueryTermsFromFreqs(hc,
      queryTermFreqs(queries, hc.textCol), nTerms)

  /** [[distinctiveQueryTerms]] over a pre-tokenized (possibly pinned)
    * (q_id, t, qtf) query frame — the corpus-DEPENDENT half: df join,
    * exact `qtf · (N div df)` weight, per-query top-`nTerms`. */
  def distinctiveQueryTermsFromFreqs(hc: HybridCorpus, qtf: DataFrame,
      nTerms: Int): DataFrame = {
    require(nTerms > 0, s"nTerms must be positive, got $nTerms")
    val nDocs = hc.stats.select(col("__n").as("n"))
    qtf
      .join(hc.alldf, Seq("t")).crossJoin(broadcast(nDocs))
      .withColumn("w", col("qtf") * expr("n div df"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
          .orderBy(col("w").desc, col("t"))))
      .where(col("rn") <= nTerms)
      .select(col("q_id"), col("t").as("term"))
  }

  /** Reciprocal Rank Fusion of two ranked arms, `rrf = Σ 1/(60 + rank)` —
    * split out of [[hybridRrfTopKPrepared]] so ANY vector arm fuses with
    * ANY lexical arm (q287 fuses the persisted residual-IVFADC store's
    * ranks with the BM25 postings arm — the two-store production shape).
    * Every fused score is a sum of exact IEEE divisions of integers.
    * @param vec (q_id, n_id, rank_v)   @param lex (q_id, n_id, rank_l)
    * @return (q_id, rank ≤ kOut, n_id, rrf, rank_v, rank_l) */
  def rrfFuse(vec: DataFrame, lex: DataFrame, kOut: Int): DataFrame = {
    require(kOut > 0, s"kOut must be positive, got $kOut")
    vec.join(lex, Seq("q_id", "n_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(60) + col("rank_v")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("rank_l")), lit(0.0)))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
          .orderBy(col("rrf").desc, col("n_id"))))
      .where(col("rank") <= kOut)
      .select(col("q_id"), col("rank"), col("n_id"), col("rrf"),
        col("rank_v"), col("rank_l"))
  }
}
