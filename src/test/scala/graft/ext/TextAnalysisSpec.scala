package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class TextAnalysisSpec extends SparkTestBase {
  import spark.implicits._

  test("qualityColumns on a known sentence") {
    val text = "the cat and the hat" // 5 words, 4 distinct, 2 stopwords
    val df = Seq((text, text.length.toLong)).toDF("text", "n_chars")
    val r = df.select(TextAnalysis.qualityColumns("text", "n_chars"): _*).collect().head
    r.getLong(r.fieldIndex("n_words")) shouldBe 5L
    r.getLong(r.fieldIndex("n_distinct")) shouldBe 4L
    r.getLong(r.fieldIndex("n_stopwords")) shouldBe 3L // the, and, the
    r.getDouble(r.fieldIndex("distinct_ratio")) shouldBe 0.8
    r.getDouble(r.fieldIndex("stopword_ratio")) shouldBe 0.6
    // avg word len: (19 chars - 4 spaces) / 5 words = 3.0
    r.getDouble(r.fieldIndex("avg_word_len")) shouldBe 3.0
  }

  test("predictedLang picks the argmax language, und when no markers hit") {
    val df = Seq(
      "the quick fox and a dog of war",  // en markers
      "der hund und die katze",          // de markers
      "xyzzy plugh",                     // nothing
      "le chat the dog le la les et"     // fr wins 4 hits vs en 1
    ).toDF("text")
    val out = df.select(TextAnalysis.predictedLang("text")).as[String].collect().toSeq
    out shouldBe Seq("en", "de", "und", "fr")
  }

  test("predictedLang breaks score ties by first language code") {
    // "la" is a marker for both es and fr; score 1-1 -> es (first alphabetically among tied)
    val out = Seq("la paloma").toDF("text")
      .select(TextAnalysis.predictedLang("text")).as[String].collect().head
    out shouldBe "es"
  }

  test("regexTokenCount: letter runs, digit runs, single others") {
    val df = Seq("abc12 de!").toDF("text")
    // tokens: abc, 12, de, ! -> 4
    df.select(TextAnalysis.regexTokenCount("text")).collect().head.getInt(0) shouldBe 4
  }

  test("fingerprintBag is order- and duplication-insensitive, fingerprintExact is not") {
    val df = Seq(
      ("b a a c", "a b c shuffled"),
      ("a b c", "original")).toDF("text", "tag")
    val bags = df.select(TextAnalysis.fingerprintBag(col("text"))).as[String].collect()
    bags(0) shouldBe bags(1)
    val exact = df.select(TextAnalysis.fingerprintExact(col("text"))).as[String].collect()
    exact(0) should not be exact(1)
  }

  test("rollingHash is order-sensitive where the bag fingerprint is not") {
    val df = Seq((1L, "a b c"), (2L, "c b a"), (3L, "a b c")).toDF("doc_id", "text")
    val rh = TextAnalysis.rollingHashTable(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rh(1L) shouldBe rh(3L)       // identical sequence -> identical hash
    rh(1L) should not be rh(2L)  // reordering -> different rolling hash
    val bags = df.select(TextAnalysis.fingerprintBag(col("text"))).as[String].collect()
    bags(0) shouldBe bags(1)     // ...but the bag fingerprint collapses them
  }

  test("rollingHash matches a JVM-side replica of the fold") {
    val words = "x y z".split(" ")
    val h = words.map { w =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(w.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
      java.lang.Long.parseLong(hex, 16) % TextAnalysis.RollP
    }
    val expected = h.tail.foldLeft(h.head)((acc, x) =>
      (acc * TextAnalysis.RollB + x) % TextAnalysis.RollP)
    val got = TextAnalysis.rollingHashTable(Seq((1L, "x y z")).toDF("doc_id", "text"),
      "doc_id", "text").collect().head.getLong(1)
    got shouldBe expected
  }

  test("single-word document rolling hash is the word hash mod P") {
    val got = TextAnalysis.rollingHashTable(Seq((1L, "solo")).toDF("doc_id", "text"),
      "doc_id", "text").collect().head.getLong(1)
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest("solo".getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    got shouldBe java.lang.Long.parseLong(hex, 16) % TextAnalysis.RollP
  }

  test("tfIdf ranks rare terms above common ones") {
    val df = Seq(
      (1L, "common rare1 common"),
      (2L, "common rare2"),
      (3L, "common other")).toDF("doc_id", "text")
    val out = TextAnalysis.tfIdf(df, "doc_id", "text", 2)
      .where(col("doc_id") === 1).orderBy("rank").collect()
      .map(r => (r.getInt(1), r.getString(2), r.getLong(3), r.getLong(4)))
    // rare1: tf=1 df=1 score=3; common: tf=2 df=3 score=2
    out.toSeq shouldBe Seq((1, "rare1", 1L, 1L), (2, "common", 2L, 3L))
  }

  test("hash48 equals first 12 hex digits of md5 as a long") {
    val got = Seq("abc").toDF("s")
      .select(TextAnalysis.hash48(col("s"))).collect().head.getLong(0)
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest("abc".getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    got shouldBe java.lang.Long.parseLong(hex, 16)
  }

  test("intMix48 matches a JVM replica, stays in [0, 2^48), rejects negatives") {
    def mix(k: Long): Long = {
      val m = 1L << 48
      val h0 = k % m
      val h1 = h0 ^ (h0 >>> 21)
      val h2 = (h1 * 26071L) % m
      val h3 = h2 ^ (h2 >>> 17)
      val h4 = (h3 * 20267L) % m
      h4 ^ (h4 >>> 13)
    }
    val keys = Seq(0L, 1L, 7L, 123456789L, (1L << 48) - 1, 48000007L)
    val got = keys.toDF("k").select(TextAnalysis.intMix48(col("k")).as("m"))
      .collect().map(_.getLong(0)).toSeq
    got shouldBe keys.map(mix)
    all(got) should (be >= 0L and be < (1L << 48))
    val e = intercept[Exception] {
      Seq(-1L).toDF("k").select(TextAnalysis.intMix48(col("k"))).collect()
    }
    e.getMessage should include("negative key")
  }

  test("redactPii masks emails, ip literals and long digit runs, keeps prose") {
    val df = Seq(
      "contact me at jane.doe+x@example.co.uk or 555-123-4567-89",
      "server 10.0.42.7 logged 2024 events in room 42",
      "plain text stays untouched").toDF("t")
    val out = df.select(TextAnalysis.redactPii(col("t")).as("r"))
      .collect().map(_.getString(0)).toSeq
    out shouldBe Seq(
      "contact me at [PII] or [PII]",
      "server [PII] logged 2024 events in room 42",
      "plain text stays untouched")
  }

  test("redactPii masks containing regex-replacement metachars are literal") {
    val got = Seq("mail bob@x.io now").toDF("t")
      .select(TextAnalysis.redactPii(col("t"), "<$REDACTED\\1>"))
      .collect().head.getString(0)
    got shouldBe "mail <$REDACTED\\1> now"
  }

  test("chunkByTokens slides with overlap and keeps only chunks with new tokens") {
    val toks = (1 to 10).map(i => s"w$i").mkString(" ") // 10 tokens
    val df = Seq((1L, toks)).toDF("doc_id", "text")
    // chunk=4, overlap=2, step=2: starts 0,2,4,6 then start 8 is cut by the
    // n-1-overlap bound (its window would add tokens 9,10 -> kept? n-1-2=7,
    // so starts 0,2,4,6 only; tokens 9,10 appear via start 6's window 7-10)
    val out = TextAnalysis.chunkByTokens(df, "doc_id", "text", 4, 2)
      .orderBy("chunk_idx").collect()
      .map(r => (r.getInt(1), r.getString(2), r.getInt(3))).toSeq
    out shouldBe Seq(
      (0, "w1 w2 w3 w4", 4),
      (1, "w3 w4 w5 w6", 4),
      (2, "w5 w6 w7 w8", 4),
      (3, "w7 w8 w9 w10", 4))
  }

  test("chunkByTokens emits a partial tail chunk when it carries new tokens") {
    val toks = (1 to 9).map(i => s"w$i").mkString(" ") // 9 tokens
    val out = TextAnalysis.chunkByTokens(
      Seq((1L, toks)).toDF("doc_id", "text"), "doc_id", "text", 4, 1)
      .orderBy("chunk_idx").collect()
      .map(r => (r.getString(2), r.getInt(3))).toSeq
    // step=3: starts 0,3,6 -> last chunk is the 3-token tail w7 w8 w9
    out shouldBe Seq(("w1 w2 w3 w4", 4), ("w4 w5 w6 w7", 4), ("w7 w8 w9", 3))
  }

  test("chunkByTokens reconstruction: first chunk + overlap-trimmed rest = original") {
    // seeded random corpus: lossless-coverage must hold for ANY doc length
    // (last start >= n - chunk guarantees the tail is always covered)
    val rnd = new scala.util.Random(7)
    val docs = (1L to 40L).map { i =>
      val n = 1 + rnd.nextInt(90)
      (i, (1 to n).map(j => s"t$j").mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    for ((chunk, overlap) <- Seq((16, 4), (10, 0), (7, 6))) {
      val byDoc = TextAnalysis.chunkByTokens(df, "doc_id", "text", chunk, overlap)
        .orderBy("doc_id", "chunk_idx").collect()
        .map(r => (r.getLong(0), r.getString(2)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
      docs.foreach { case (id, text) =>
        val chunks = byDoc(id).map(_.split(" ", -1).toSeq)
        val rebuilt = chunks.head ++ chunks.tail.flatMap(_.drop(overlap))
        rebuilt shouldBe text.split(" ", -1).toSeq
      }
    }
  }

  test("chunkByTokens: short and empty docs yield exactly one chunk") {
    val df = Seq((1L, "only three words"), (2L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.chunkByTokens(df, "doc_id", "text", 32, 8)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3))).toSeq
    out shouldBe Seq((1L, 0, "only three words", 3), (2L, 0, "", 1))
    an[IllegalArgumentException] should be thrownBy
      TextAnalysis.chunkByTokens(df, "doc_id", "text", 4, 4)
  }

  test("repetitionStats: dup_frac counts repeated 3-grams, short docs score 0") {
    val df = Seq(
      (1L, "a b c a b c a b c"), // grams: 7 total, distinct {abc,bca,cab} = 3
      (2L, "all words unique here now"), // 3 grams, all distinct
      (3L, "tiny doc"), // <3 words: whole text is the one gram
      (4L, null.asInstanceOf[String])) // null text: excluded
      .toDF("doc_id", "text")
    val out = TextAnalysis.repetitionStats(df, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    out shouldBe Seq(
      (1L, 7L, 3L, 4.0 / 7.0),
      (2L, 3L, 3L, 0.0),
      (3L, 1L, 1L, 0.0))
  }

  test("noveltyScores: corpus-unique gram share, duplicate docs score zero") {
    val df = Seq(
      (1L, "w x y z q r"),         // grams wxy,xyz,yzq,zqr — all corpus-unique
      (2L, "a b c d e"),           // abc,bcd,cde — all shared with doc 3
      (3L, "a b c d e"),           // exact dup of 2: novelty 0
      (4L, "a b c k l m"),         // abc shared; bck,ckl,klm unique
      (5L, null.asInstanceOf[String])) // excluded
      .toDF("doc_id", "text")
    val out = TextAnalysis.noveltyScores(df, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    out shouldBe Seq(
      (1L, 4L, 4L, 1.0),
      (2L, 3L, 0L, 0.0),
      (3L, 3L, 0L, 0.0),
      (4L, 4L, 3L, 0.75))
  }

  test("bigramSurprisal: rare = conditional probability below 1/k, exact counts") {
    val df = Seq(
      (1L, "a b c"),
      (2L, "a b a b"), // within-doc repeats count as instances: (a,b)x2, (b,a)x1
      (3L, "a x"),
      (4L, "solo"), // one token: zero bigrams, NULL fraction
      (5L, null.asInstanceOf[String])) // null text: not emitted
      .toDF("doc_id", "text")
    // corpus: c(a,b)=3 c(b,c)=1 c(b,a)=1 c(a,x)=1; heads: c(a·)=4 c(b·)=2
    // k=2 ⇒ rare iff 2·c12 < c1: only (a,x) (2 < 4)
    val out = TextAnalysis.bigramSurprisal(df, "doc_id", "text", k = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) null else r.getDouble(3))).toSeq
    out shouldBe Seq(
      (1L, 2L, 0L, 0.0),
      (2L, 3L, 0L, 0.0),
      (3L, 1L, 1L, 1.0),
      (4L, 0L, 0L, null))
    an[IllegalArgumentException] should be thrownBy
      TextAnalysis.bigramSurprisal(df, "doc_id", "text", k = 0)
  }

  test("vocabTopK ranks by count desc then token, drops empty tokens") {
    val df = Seq((1L, "b b a a a  c"), (2L, "b c d")).toDF("doc_id", "text")
    // counts: a=3, b=3, c=2, d=1; the doubled space yields an empty token
    val out = TextAnalysis.vocabTopK(df, "text", 3).orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    out shouldBe Seq((1, "a", 3L), (2, "b", 3L), (3, "c", 2L))
    an[IllegalArgumentException] should be thrownBy TextAnalysis.vocabTopK(df, "text", 0)
  }

  test("gopherRules: each rule kills its own violator, the clean doc survives") {
    val stops = Seq("the", "a", "of", "and", "to", "in")
    val clean = (stops ++ (1 to 54).map(i => s"word$i")).mkString(" ")
    val short = "the of a"
    val caps = (1 to 60).map(i => s"WORD$i").mkString(" ")
    val repeated = Seq.fill(60)("the").mkString(" ")
    val longwords = (stops ++ (1 to 54).map(i => s"extraordinarily$i")).mkString(" ")
    val df = Seq(
      (1L, clean), (2L, short), (3L, caps), (4L, repeated), (5L, longwords))
      .toDF("doc_id", "text")
      .unionByName(Seq((6L, Option.empty[String])).toDF("doc_id", "text"))
    val out = TextAnalysis.gopherRules(df, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> (
        r.getBoolean(r.fieldIndex("words_ok")),
        r.getBoolean(r.fieldIndex("length_ok")),
        r.getBoolean(r.fieldIndex("stop_ok")),
        r.getBoolean(r.fieldIndex("alpha_ok")),
        r.getBoolean(r.fieldIndex("rep_ok")),
        r.getBoolean(r.fieldIndex("keep")))).toMap
    out.keySet shouldBe Set(1L, 2L, 3L, 4L, 5L) // NULL text never judged
    out(1L) shouldBe ((true, true, true, true, true, true))
    out(2L)._1 shouldBe false // word count below the floor
    out(2L)._6 shouldBe false
    out(3L)._4 shouldBe false // no lowercase letters anywhere
    out(3L)._6 shouldBe false
    out(4L) shouldBe ((true, true, true, true, false, false)) // one gram, 58 copies
    out(5L)._2 shouldBe false // mean word length above the ceiling
    out(5L)._6 shouldBe false
    an[IllegalArgumentException] should be thrownBy
      TextAnalysis.gopherRules(df, "doc_id", "text", minWords = 10, maxWords = 5)
  }

  test("ngramRepetition: exact per-n top-gram and duplicated-gram char fractions") {
    val df = Seq(
      (1L, "a b a b a"), // n=2: {a b:2, b a:2}; n=3: {a b a:2, b a b:1}; n=4: two singletons
      (2L, "x y z"),     // n=2: two singletons; n=3: one gram; no n=4 row
      (3L, "solo"),      // below every n — no rows
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = TextAnalysis.ngramRepetition(df, "doc_id", "text")
      .orderBy("doc_id", "n").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3),
        r.getDouble(4), r.getDouble(5)))
    out shouldBe Seq(
      // doc 1, n=2: 4 grams × 3 chars = 12; top "a b" (tie 2-2 → lexic.
      // min) claims 6; every gram duplicated → dup mass 12
      (1L, 2, 4L, "a b", 0.5, 1.0),
      // n=3: mass 15; "a b a"×2 claims 10; "b a b" is a singleton
      (1L, 3, 3L, "a b a", 10.0 / 15.0, 10.0 / 15.0),
      // n=4: two distinct grams of 7 chars — no duplication
      (1L, 4, 2L, "a b a b", 0.5, 0.0),
      (2L, 2, 2L, "x y", 0.5, 0.0),
      (2L, 3, 1L, "x y z", 1.0, 0.0))
    an[IllegalArgumentException] should be thrownBy
      TextAnalysis.ngramRepetition(df, "doc_id", "text", ns = Seq(0))
  }

  test("vocabCoverage: exact cumulative masses over the top-k ranks") {
    val df = Seq(
      (1L, "a a a b b c"), (2L, "a b x"), (3L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    // counts: a=4, b=3, c=1, x=1 (total 9); ranks by (cnt desc, token)
    val out = TextAnalysis.vocabCoverage(df, "text", k = 3)
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    graft.util.Caches.releaseAll()
    out shouldBe Array(
      (1, "a", 4L, 4L, 4.0 / 9.0),
      (2, "b", 3L, 7L, 7.0 / 9.0),
      (3, "c", 1L, 8L, 8.0 / 9.0)) // ties (c=1, x=1) break lexicographically
    an[IllegalArgumentException] should be thrownBy
      TextAnalysis.vocabCoverage(df, "text", 0)
  }

  test("gopherRulesRowwise is law-identical to the grouped form on real docs") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val cols = Seq("doc_id", "n_words", "avg_word_len", "stopword_ratio",
      "alpha_ratio", "dup_frac", "words_ok", "length_ok", "stop_ok",
      "alpha_ok", "rep_ok", "keep")
    val grouped = TextAnalysis.gopherRules(docs, "doc_id", "text")
      .select(cols.head, cols.tail: _*).orderBy("doc_id").collect().toSeq
    val rowwise = TextAnalysis.gopherRulesRowwise(docs, "text")
      .select(cols.head, cols.tail: _*).orderBy("doc_id").collect().toSeq
    rowwise shouldBe grouped
    grouped.nonEmpty shouldBe true
    // the rowwise form preserves input columns (the streaming contract)
    TextAnalysis.gopherRulesRowwise(docs, "text").columns should contain ("lang")
  }

  test("sparseTfIdfTopK: postings-only pairs, exact integer scores, per-doc rank") {
    // docs 1/2 share "a b c"; doc 2/3 share "c d e"; docs 1 and 3 share
    // NOTHING — the inverted index must never propose that pair
    val df = Seq(
      (1L, "a b c x1 x2"),
      (2L, "a b c d e"),
      (3L, "c d e y1 y2"),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = TextAnalysis.sparseTfIdfTopK(df, "doc_id", "text", k = 5, maxDf = 50L)
      .orderBy("doc_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    graft.util.Caches.releaseAll()
    // N = 3 docs with text; shared shingles have df = 2 → w = 3 div 2 = 1;
    // each shared shingle contributes tf·tf·w² = 1
    val pairs = out.map(t => (t._1, t._2) -> t._3).toMap
    pairs.keySet shouldBe Set((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L))
    pairs((1L, 2L)) shouldBe 1L // one shared shingle "a b c"
    pairs((2L, 3L)) shouldBe 1L
    // symmetric scores, both directions emitted
    pairs((2L, 1L)) shouldBe pairs((1L, 2L))
    // doc 2 ranks its two neighbors deterministically (tie → smaller id)
    out.filter(_._1 == 2L).map(t => (t._2, t._4)) shouldBe Seq((1L, 1), (3L, 2))
    an[IllegalArgumentException] should be thrownBy
      TextAnalysis.sparseTfIdfTopK(df, "doc_id", "text", k = 0, maxDf = 50L)
    an[IllegalArgumentException] should be thrownBy
      TextAnalysis.sparseTfIdfTopK(df, "doc_id", "text", k = 5, maxDf = 1L)
  }

  test("hybrid retrieval: merged postings ≡ full preparation, split serve ≡ one-shot") {
    val docs = Seq(
      (0L, "spark joins fast tables"), (1L, "fast spark scans"),
      (2L, "slow table scans join"),   (3L, "spark spark spark fast"),
      (4L, "join the fast table"),     (5L, "scans join tables")
    ).toDF("doc_id", "text")
    val emb = docs.select(col("doc_id").as("vec_id"),
      transform(sequence(lit(1), lit(8)),
        i => ((col("vec_id") * 31 + i * 7) % 13 - 6).cast("float")).as("embedding"))
    val queries = docs.where(col("doc_id") < 2)
      .select(col("doc_id").as("q_id"), col("text"))
      .join(emb.select(col("vec_id").as("q_id"), col("embedding")), Seq("q_id"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("q_id", "rank").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    val full = TextAnalysis.prepareHybridCorpus(
      docs, "doc_id", "text", emb, "vec_id", "embedding")
    val oneShot = canon(TextAnalysis.hybridRrfTopKPrepared(full, queries,
      kArm = 4, kOut = 3, nTerms = 2))
    // merged halves serve identically (append-only postings maintenance)
    val merged = TextAnalysis.mergeHybridCorpus(
      TextAnalysis.prepareHybridCorpus(
        docs.where(col("doc_id") % 2 === 0), "doc_id", "text",
        emb.where(col("vec_id") % 2 === 0), "vec_id", "embedding"),
      TextAnalysis.prepareHybridCorpus(
        docs.where(col("doc_id") % 2 === 1), "doc_id", "text",
        emb.where(col("vec_id") % 2 === 1), "vec_id", "embedding"))
    canon(TextAnalysis.hybridRrfTopKPrepared(merged, queries,
      kArm = 4, kOut = 3, nTerms = 2)) shouldBe oneShot
    // per-query independence: serving each query alone, unioned, ≡ one-shot
    val split = canon(
      TextAnalysis.hybridRrfTopKPrepared(full, queries.where(col("q_id") === 0),
          kArm = 4, kOut = 3, nTerms = 2)
        .unionByName(TextAnalysis.hybridRrfTopKPrepared(full,
          queries.where(col("q_id") === 1), kArm = 4, kOut = 3, nTerms = 2)))
    split shouldBe oneShot
  }

  test("mergeHybridCorpus: overlapping doc ids fail loudly, not silently skew idf") {
    val a = Seq((0L, "spark joins"), (1L, "fast scans")).toDF("doc_id", "text")
    val b = Seq((1L, "fast scans"), (2L, "slow joins")).toDF("doc_id", "text")
    val ha = TextAnalysis.prepareHybridCorpus(a, "doc_id", "text", null, null, null)
    val hb = TextAnalysis.prepareHybridCorpus(b, "doc_id", "text", null, null, null)
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.mergeHybridCorpus(ha, hb)
    }
    e.getMessage should include("disjoint")
    // the opt-out exists for callers who proved the contract upstream
    noException should be thrownBy
      TextAnalysis.mergeHybridCorpus(ha, hb, checkDisjoint = false)
  }

  test("removeFromHybridCorpus: remove(merge(a,b), b) serves exactly like a alone; unknown ids fail loudly") {
    val docsA = Seq((0L, "spark joins fast tables"), (2L, "slow table scans join"),
      (4L, "join the fast table")).toDF("doc_id", "text")
    val docsB = Seq((1L, "fast spark scans"), (3L, "spark spark spark fast"),
      (5L, "scans join tables")).toDF("doc_id", "text")
    def embOf(d: org.apache.spark.sql.DataFrame) = d.select(
      col("doc_id").as("vec_id"),
      transform(sequence(lit(1), lit(8)),
        i => ((col("vec_id") * 31 + i * 7) % 13 - 6).cast("float")).as("embedding"))
    def prep(d: org.apache.spark.sql.DataFrame) = TextAnalysis.prepareHybridCorpus(
      d, "doc_id", "text", embOf(d), "vec_id", "embedding")
    val ha = prep(docsA); val hb = prep(docsB)
    val removed = TextAnalysis.removeFromHybridCorpus(
      TextAnalysis.mergeHybridCorpus(ha, hb), hb)
    val qs = docsA.where(col("doc_id") === 0)
      .select(col("doc_id").as("q_id"), col("text"))
      .join(embOf(docsA).select(col("vec_id").as("q_id"), col("embedding")), Seq("q_id"))
    def canon(hc: TextAnalysis.HybridCorpus) =
      TextAnalysis.hybridRrfTopKPrepared(hc, qs, kArm = 3, kOut = 2, nTerms = 2)
        .orderBy("q_id", "rank").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    canon(removed) shouldBe canon(ha)
    // subtraction algebra sanity: the metadata frames match a's exactly
    removed.stats.collect().toSeq shouldBe ha.stats.collect().toSeq
    removed.alldf.orderBy("t").collect().toSeq shouldBe
      ha.alldf.orderBy("t").collect().toSeq
    // deleting a doc the store never held fails loudly, not silently
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.removeFromHybridCorpus(ha, hb)
    }
    e.getMessage should include("not in the store")
  }

  test("removeDocsById ≡ removeFromHybridCorpus with the prepared deleted docs") {
    val docs = Seq((0L, "spark joins fast tables"), (1L, "fast spark scans"),
      (2L, "slow table scans join"), (3L, "spark spark spark fast"))
      .toDF("doc_id", "text")
    def embOf(d: org.apache.spark.sql.DataFrame) = d.select(
      col("doc_id").as("vec_id"),
      transform(sequence(lit(1), lit(8)),
        i => ((col("vec_id") * 31 + i * 7) % 13 - 6).cast("float")).as("embedding"))
    val full = TextAnalysis.prepareHybridCorpus(
      docs, "doc_id", "text", embOf(docs), "vec_id", "embedding")
    val delDocs = docs.where(col("doc_id") >= 2)
    val viaPrepared = TextAnalysis.removeFromHybridCorpus(full,
      TextAnalysis.prepareHybridCorpus(delDocs, "doc_id", "text",
        embOf(delDocs), "vec_id", "embedding"))
    val viaIds = TextAnalysis.removeDocsById(full,
      delDocs.select(col("doc_id")))
    viaIds.stats.collect().toSeq shouldBe viaPrepared.stats.collect().toSeq
    viaIds.alldf.orderBy("t").collect().toSeq shouldBe
      viaPrepared.alldf.orderBy("t").collect().toSeq
    viaIds.toks.orderBy("doc_id", "t").collect().toSeq shouldBe
      viaPrepared.toks.orderBy("doc_id", "t").collect().toSeq
    viaIds.dl.orderBy("doc_id").collect().toSeq shouldBe
      viaPrepared.dl.orderBy("doc_id").collect().toSeq
    viaIds.emb.select(col("vec_id")).collect().map(_.getLong(0)).sorted shouldBe
      Array(0L, 1L)
    // an id the store never held contributes nothing (no loud guard
    // needed here — the deleted side is derived from the store's rows)
    val noop = TextAnalysis.removeDocsById(full, Seq(99L).toDF("doc_id"))
    noop.stats.collect().toSeq shouldBe full.stats.collect().toSeq
  }

  test("ingestPostingsStream materialized delta write ≡ writeHybridCorpusDelta(prepareHybridCorpus) per frame") {
    // the ingest's per-batch write derives dl/stats/alldf from the WRITTEN
    // toks parquet (one tokenize pass per delta) — this law pins that the
    // store content is identical to the lazy reference path, frame by frame
    val docs = Seq((0L, "spark joins fast"), (1L, "slow scans spark"),
      (2L, (null: String)), (3L, "spark  spark"), ((null: Any), "orphan"))
      .map { case (i, t) => (i.asInstanceOf[java.lang.Long], t) }
      .toDF("doc_id", "text")
    val emb = Seq((0L, Array(1.0f, 0.0f)), (3L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val corpus = docs.join(emb, col("doc_id") === col("vec_id"), "full_outer")
    val src = java.nio.file.Files.createTempDirectory("graft_ingsrc").toString
    corpus.repartition(2).write.mode("overwrite").parquet(src)
    val ingested = java.nio.file.Files.createTempDirectory("graft_ingdst").toString
    val q = TextAnalysis.ingestPostingsStream(
        spark.readStream
          .schema("doc_id LONG, text STRING, vec_id LONG, embedding ARRAY<FLOAT>")
          .option("maxFilesPerTrigger", 1).parquet(src),
        "doc_id", "text", "vec_id", "embedding", ingested)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    // reference store: the lazy path, one delta per ingested delta with the
    // same rows (re-read each written delta's doc ids to slice identically)
    val reference = java.nio.file.Files.createTempDirectory("graft_ingref").toString
    val deltas = new java.io.File(s"$ingested/toks").listFiles()
      .map(_.getName).filter(_.startsWith("delta="))
      .map(_.stripPrefix("delta=").toLong).sorted.toSeq
    deltas.foreach { b =>
      val docIds = spark.read.parquet(s"$ingested/dl/delta=$b")
        .select(col("doc_id")).as[Long].collect().toSet
      val embIds = spark.read.parquet(s"$ingested/emb/delta=$b")
        .select(col("vec_id")).as[Long].collect().toSet
      val slice = corpus.where(
        coalesce(col("doc_id").isin(docIds.toSeq: _*), lit(false)) ||
        coalesce(col("vec_id").isin(embIds.toSeq: _*), lit(false)) ||
        (col("doc_id").isNotNull && col("text").isNull) ||
        col("doc_id").isNull)
      TextAnalysis.writeHybridCorpusDelta(TextAnalysis.prepareHybridCorpus(
        slice.select(col("doc_id"), col("text")).where(col("doc_id").isNotNull),
        "doc_id", "text",
        slice.select(col("vec_id"), col("embedding")).where(col("vec_id").isNotNull),
        "vec_id", "embedding"), reference, Some(b))
    }
    def frames(root: String) = Map(
      "toks" -> spark.read.parquet(s"$root/toks").orderBy("delta", "doc_id", "t").collect().toSeq,
      "dl" -> spark.read.parquet(s"$root/dl").orderBy("delta", "doc_id").collect().toSeq,
      "alldf" -> spark.read.parquet(s"$root/alldf").orderBy("delta", "t").collect().toSeq,
      "emb" -> spark.read.parquet(s"$root/emb").select(col("delta"), col("vec_id"))
        .orderBy("delta", "vec_id").collect().toSeq)
    frames(ingested) shouldBe frames(reference)
    // stats: per-delta rows identical after the serve-side re-reduction
    val a = TextAnalysis.readHybridCorpus(spark, ingested,
      "doc_id", "text", "vec_id", "embedding")
    val b = TextAnalysis.readHybridCorpus(spark, reference,
      "doc_id", "text", "vec_id", "embedding")
    a.stats.collect().toSeq shouldBe b.stats.collect().toSeq
  }

  test("readHybridCorpus: store-shape guard fails loud when embIdCol disagrees with the emb/ dir") {
    val docs = Seq((0L, "spark joins fast"), (1L, "slow scans"))
      .toDF("doc_id", "text")
    val emb = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    // lexical-only store: reading it WITH an embIdCol must be a
    // store-shape error, not an opaque path-not-found
    val lexDir = java.nio.file.Files.createTempDirectory("graft_store_lex").toString
    TextAnalysis.writeHybridCorpusDelta(
      TextAnalysis.prepareHybridCorpus(docs, "doc_id", "text", null, null, null),
      lexDir)
    val e1 = intercept[IllegalArgumentException] {
      TextAnalysis.readHybridCorpus(spark, lexDir,
        "doc_id", "text", "vec_id", "embedding")
    }
    e1.getMessage should include("no vector side")
    TextAnalysis.readHybridCorpus(spark, lexDir, "doc_id", "text", null, null)
      .dl.count() shouldBe 2L
    // hybrid store: reading it WITHOUT an embIdCol would silently drop
    // the store's vectors — also a loud store-shape error
    val hybDir = java.nio.file.Files.createTempDirectory("graft_store_hyb").toString
    TextAnalysis.writeHybridCorpusDelta(
      TextAnalysis.prepareHybridCorpus(docs, "doc_id", "text",
        emb, "vec_id", "embedding"),
      hybDir)
    val e2 = intercept[IllegalArgumentException] {
      TextAnalysis.readHybridCorpus(spark, hybDir, "doc_id", "text", null, null)
    }
    e2.getMessage should include("silently dropped")
    TextAnalysis.readHybridCorpus(spark, hybDir,
      "doc_id", "text", "vec_id", "embedding").emb.count() shouldBe 2L
    // the INTENTIONAL postings-only serve of a hybrid store stays
    // expressible behind the explicit opt-out
    val lexOnly = TextAnalysis.readHybridCorpus(spark, hybDir,
      "doc_id", "text", null, null, allowLexicalOnly = true)
    lexOnly.emb shouldBe null
    lexOnly.dl.count() shouldBe 2L
  }

  test("bm25QueryTopKPrepared: excludeSelf=false keeps a doc whose id collides with the query id") {
    // external query id space numerically overlapping the doc ids: doc 0
    // is a legitimate candidate for external query 0
    val docs = Seq((0L, "spark joins fast"), (1L, "slow scans"))
      .toDF("doc_id", "text")
    val hc = TextAnalysis.prepareHybridCorpus(docs, "doc_id", "text", null, null, null)
    val qt = Seq((0L, "spark"), (0L, "joins")).toDF("q_id", "term")
    val withSelf = TextAnalysis.bm25QueryTopKPrepared(hc, qt, k = 5,
      excludeSelf = false).collect().map(_.getLong(2)).toSet
    withSelf should contain(0L)
    // the default preserves the corpus-as-queries contract
    val without = TextAnalysis.bm25QueryTopKPrepared(hc, qt, k = 5)
      .collect().map(_.getLong(2)).toSet
    without should not contain 0L
  }
}
