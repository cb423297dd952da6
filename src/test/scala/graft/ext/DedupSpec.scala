package graft.ext

import java.security.MessageDigest

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class DedupSpec extends SparkTestBase {
  import spark.implicits._

  /** JVM-side replica of the engine's 48-bit hash (first 12 hex digits of
    * md5, as a long) — lets the specs compute expected signatures exactly. */
  private def h48(s: String): Long = {
    val hex = MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)
    java.lang.Long.parseLong(hex, 16)
  }

  private def shingles(text: String): Seq[String] = {
    val w = text.split(" ", -1)
    if (w.length >= 3) w.sliding(3).map(_.mkString(" ")).toSeq else Seq(text)
  }

  test("exactDupGroups: one keeper (min id) per distinct key, with cardinality") {
    val docs = Seq((1L, "same"), (2L, "same"), (3L, "other")).toDF("doc_id", "text")
    val out = Dedup.exactDupGroups(docs, "doc_id", md5(col("text").cast("binary")))
      .orderBy("keep_id").collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    out shouldBe Seq((1L, 2L), (3L, 1L))
  }

  test("minhashSignatures match a JVM-side replica of the permuted-min math") {
    val text = "the quick brown fox jumps"
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val row = Dedup.minhashSignatures(docs, "doc_id", "text", numPerm = 4).collect().head
    val hs = shingles(text).map(h48)
    (0 until 4).foreach { p =>
      val expected = hs.map(h => ((2L * p + 1) * h + (10007L * p + 1)) % Dedup.MinhashPrime).min
      row.getLong(row.fieldIndex(s"mh_$p")) shouldBe expected
    }
  }

  test("short documents (<3 words) fall back to whole-text shingle") {
    val docs = Seq((1L, "two words")).toDF("doc_id", "text")
    val row = Dedup.minhashSignatures(docs, "doc_id", "text", numPerm = 1).collect().head
    row.getLong(1) shouldBe (h48("two words") + 1L) % Dedup.MinhashPrime
  }

  test("minhashCandidatePairs surfaces near-duplicates, skips unrelated docs") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val nearDup = base + " lambda" // shares most shingles
    val unrelated = "one two three four five six seven eight nine ten"
    val docs = Seq((1L, base), (2L, nearDup), (3L, unrelated)).toDF("doc_id", "text")
    val pairs = Dedup.minhashCandidatePairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    pairs should contain((1L, 2L))
    pairs should not contain ((1L, 3L))
    pairs should not contain ((2L, 3L))
  }

  test("minhashCandidatePairs rejects numPerm not divisible by bands") {
    val docs = Seq((1L, "a b c d")).toDF("doc_id", "text")
    an[IllegalArgumentException] should be thrownBy
      Dedup.minhashCandidatePairs(docs, "doc_id", "text", numPerm = 10, bands = 4)
  }

  test("contaminationReport counts distinct shared 3-grams per corpus doc") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta"), // grams: "alpha beta gamma","beta gamma delta" — 1st shared
      (2L, "nothing in common here at all"),
      (3L, "alpha beta gamma alpha beta gamma"), // repeated shared gram counts ONCE
      (4L, null.asInstanceOf[String])) // null text: 0 shared, not contaminated
      .toDF("doc_id", "text")
    val eval_ = Seq((100L, "alpha beta gamma epsilon")).toDF("doc_id", "text")
    val out = Dedup.contaminationReport(corpus, eval_, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    out shouldBe Seq(
      (1L, 1L, true),
      (2L, 0L, false),
      (3L, 1L, true), // its repeats collapse: only "alpha beta gamma" is shared
      (4L, 0L, false))
  }

  test("contaminationReport broadcasts the eval n-gram set") {
    val corpus = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val eval_ = Seq((2L, "a b c")).toDF("doc_id", "text")
    val plan = Dedup.contaminationReport(corpus, eval_, "doc_id", "text")
      .queryExecution.executedPlan.toString
    plan should include("BroadcastHashJoin")
  }

  test("contaminationFractions counts distinct grams and eval hits per doc") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta"),      // grams: abg, bgd — 1 of 2 shared
      (2L, "nothing in common here at all"), // 4 grams, 0 shared
      (3L, "alpha beta gamma alpha beta gamma")) // repeats collapse: 3 distinct, 1 shared
      .toDF("doc_id", "text")
    val eval_ = Seq((100L, "alpha beta gamma epsilon")).toDF("doc_id", "text")
    val out = Dedup.contaminationFractions(corpus, eval_, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    out shouldBe Seq((1L, 2L, 1L), (2L, 4L, 0L), (3L, 3L, 1L))
    // the integer cross-multiplication gate: dirty iff shared·2 > total
    out.map { case (_, g, s) => s * 2 > g } shouldBe Seq(false, false, false)
  }

  test("contaminationReportBloom is result-identical to the broadcast-exact form") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "nothing in common here at all"),
      (3L, "alpha beta gamma alpha beta gamma"),
      (4L, null.asInstanceOf[String]),
      (5L, "short")) // < 3 words: whole text is the gram
      .toDF("doc_id", "text")
    val eval_ = Seq((100L, "alpha beta gamma epsilon"), (101L, "short")).toDF("doc_id", "text")
    val exact = Dedup.contaminationReport(corpus, eval_, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    val bloom = Dedup.contaminationReportBloom(corpus, eval_, "doc_id", "text",
      expectedGrams = 1000L, fpp = 0.01)
      .orderBy("doc_id").collect().toSeq
    bloom shouldBe exact
    // an undersized sketch degrades fpp, never correctness: the verify join
    // still removes every false positive
    val tiny = Dedup.contaminationReportBloom(corpus, eval_, "doc_id", "text",
      expectedGrams = 1L, fpp = 0.5)
      .orderBy("doc_id").collect().toSeq
    tiny shouldBe exact
  }

  test("minhashCandidatePairs maxBucket drops mega-buckets, keeps small ones") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    // 5 exact copies (every band collides → buckets of 5) plus a 2-doc near-dup pair
    val copies = (1L to 5L).map(i => (i, base))
    val other = Seq((10L, "one two three four five six seven"), (11L, "one two three four five six seven eight"))
    val docs = (copies ++ other).toDF("doc_id", "text")
    val capped = Dedup.minhashCandidatePairs(docs, "doc_id", "text", maxBucket = Some(4))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // the 5-copy mega-class never pairs (its buckets exceed the cap)…
    capped.filter(_._1 <= 5L) shouldBe empty
    // …while the small near-dup bucket still does
    capped should contain((10L, 11L))
    an[IllegalArgumentException] should be thrownBy
      Dedup.minhashCandidatePairs(docs, "doc_id", "text", maxBucket = Some(1))
  }

  test("simhashTable matches a JVM-side bit-vote replica") {
    val text = "the quick brown fox"
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val got = Dedup.simhashTable(docs, "doc_id", "text").collect().head.getLong(1)
    val hs = text.split(" ", -1).map(h48)
    val expected = (0 until 48).map { b =>
      val vote = hs.map(h => 2 * ((h >> b) & 1) - 1).sum
      if (vote > 0) 1L << b else 0L
    }.sum
    got shouldBe expected
  }

  test("identical texts share a simhash; a changed word flips few bits") {
    val a = "the quick brown fox jumps over the lazy dog today"
    val b = "the quick brown fox leaps over the lazy dog today"
    val docs = Seq((1L, a), (2L, a), (3L, b)).toDF("doc_id", "text")
    val m = Dedup.simhashTable(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    m(1L) shouldBe m(2L)
    java.lang.Long.bitCount(m(1L) ^ m(3L)) should be <= 24
  }

  test("simhashCandidatePairs equals brute-force Hamming pairs (pigeonhole recall)") {
    // with maxHamming < bands, banding guarantees RECALL; the bit_count
    // filter guarantees precision — so the candidate set must EQUAL the
    // all-pairs answer, not merely contain it
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val table = Dedup.simhashTable(docs, "doc_id", "text").localCheckpoint()
    val a = table.toDF("id_a", "ha")
    val b = table.toDF("id_b", "hb")
    val brute = a.crossJoin(b)
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long").as("hamming"))
      .where(col("hamming") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val banded = Dedup.simhashCandidatePairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    banded shouldBe brute
    brute should not be empty // the fixture has exact-dup classes
  }

  test("simhashCandidatePairs rejects a non-dividing band count and too-loose maxHamming") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    an[IllegalArgumentException] should be thrownBy
      Dedup.simhashCandidatePairs(docs, "doc_id", "text", bits = 48, bands = 5)
    an[IllegalArgumentException] should be thrownBy
      Dedup.simhashCandidatePairs(docs, "doc_id", "text", bands = 4, maxHamming = 4)
  }

  test("ngramJaccardPairs computes exact jaccard over distinct shingles") {
    // doc1: shingles {a b c, b c d}; doc2: {a b c, b c e} -> inter 1, union 3
    val docs = Seq(
      (1L, "a b c d", "en"), (2L, "a b c e", "en"), (3L, "x y z w", "en"),
      (4L, "a b c d", "de") // same text, different block: never paired with 1
    ).toDF("doc_id", "text", "lang")
    val out = Dedup.ngramJaccardPairs(docs, "doc_id", "text", Seq("lang"), 0.01)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    out shouldBe Seq((1L, 2L, 1.0 / 3.0))
  }

  test("null-text docs never bucket together (minhash) and keep a simhash-0 row") {
    val docs = Seq(
      (1L, null.asInstanceOf[String]), (2L, null.asInstanceOf[String]),
      (3L, "real text here body"), (4L, "real text here body")).toDF("doc_id", "text")
    // concat_ws would fold all-null signatures to "" and pair docs 1/2;
    // they must be excluded at the bucket stage instead
    Dedup.minhashCandidatePairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq shouldBe Seq((3L, 4L))
    // simhash keeps the doc with signature 0 (oracle's ELSE-0 branch)
    Dedup.simhashTable(docs, "doc_id", "text")
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq should
      contain inOrder ((1L, 0L), (2L, 0L))
  }

  test("incremental pairs: new batch joins the persisted corpus index, corpus never self-pairs") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"), // corpus-internal dup: must NOT emit
      (3L, "totally different text here now")).toDF("doc_id", "text")
    val fresh = Seq(
      (10L, "alpha beta gamma delta epsilon"), // dup of corpus 1 and 2
      (11L, "brand new unseen document words")).toDF("doc_id", "text")
    val corpusIdx = Dedup.minhashBuckets(corpus, "doc_id", "text")
    val newIdx = Dedup.minhashBuckets(fresh, "doc_id", "text")
    val pairs = Dedup.minhashIncrementPairs(newIdx, corpusIdx, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs shouldBe Set((10L, 1L), (10L, 2L))
  }

  test("incremental pairs: a re-ingested id is never its own duplicate") {
    val doc = Seq((42L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val idx = Dedup.minhashBuckets(doc, "doc_id", "text")
    Dedup.minhashIncrementPairs(idx, idx, "doc_id").count() shouldBe 0L
  }

  test("dedupCorpus refuses non-integral id columns loudly") {
    val docs = Seq(("a", "some text here now", 10L)).toDF("doc_id", "text", "n_chars")
    an[IllegalArgumentException] should be thrownBy
      Dedup.dedupCorpus(docs, "doc_id", "text", col("n_chars"))
  }

  test("NULL block keys never pair (SQL join-equality semantics)") {
    val docs = Seq(
      (1L, "a b c d", null.asInstanceOf[String]),
      (2L, "a b c d", null.asInstanceOf[String]),
      (3L, "a b c d", "en"), (4L, "a b c d", "en")).toDF("doc_id", "text", "lang")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", Seq("lang"), 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    pairs shouldBe Seq((3L, 4L)) // the NULL-lang docs stay unpaired
  }

  test("ngramJaccardPairs applies the threshold") {
    val docs = Seq((1L, "a b c d", "en"), (2L, "a b c e", "en")).toDF("doc_id", "text", "lang")
    Dedup.ngramJaccardPairs(docs, "doc_id", "text", Seq("lang"), 0.5).count() shouldBe 0L
    an[IllegalArgumentException] should be thrownBy
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", Seq("lang"), 0.0)
  }

  test("ngramJaccardPairs maxDf drops stop-shingles from pairing, lower-bounding scores") {
    // docs 1/2 truly near-identical; docs 3/4 share ONLY the boilerplate
    // shingle "x y z" that appears in every doc (df=4)
    val docs = Seq(
      (1L, "a b c d x y z", "en"),
      (2L, "a b c d x y z", "en"),
      (3L, "p q r x y z", "en"),
      (4L, "s t u x y z", "en")).toDF("doc_id", "text", "lang")
    val uncapped = Dedup.ngramJaccardPairs(docs, "doc_id", "text", Seq("lang"), 0.01)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    uncapped should contain((3L, 4L)) // boilerplate-only overlap pairs them
    val capped = Dedup.ngramJaccardPairs(docs, "doc_id", "text", Seq("lang"), 0.01, maxDf = Some(3))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    capped.map(p => (p._1, p._2)) shouldBe Seq((1L, 2L)) // stop-shingle pairs gone
    // 1/2 share all 5 shingles but "x y z" (df=4) is dropped from the
    // numerator while denominators still count it: 4 / (5 + 5 - 4)
    capped.head._3 shouldBe (4.0 / 6.0 +- 1e-12)
    an[IllegalArgumentException] should be thrownBy
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", Seq("lang"), 0.01, maxDf = Some(1))
  }

  test("prefix-filtered jaccard equals the inverted-index form (lossless pruning law)") {
    // mixed corpus: exact dups, a near-dup pair, unrelated docs, a shared
    // stop-shingle that must NOT create a surviving pair
    val docs = Seq(
      (1L, "en", "the quick brown fox jumps over the lazy dog"),
      (2L, "en", "the quick brown fox jumps over the lazy dog"),
      (3L, "en", "the quick brown fox leaps over the lazy dog"),
      (4L, "en", "completely different content the quick brown here"),
      (5L, "de", "the quick brown fox jumps over the lazy dog"), // other block
      (6L, "en", "tiny doc"),
      (7L, "en", null.asInstanceOf[String]))
      .toDF("doc_id", "lang", "text")
    for (t <- Seq(0.05, 0.3, 0.9)) {
      val fast = Dedup.prefixFilteredJaccardPairs(docs, "doc_id", "text", Seq("lang"), t)
        .orderBy("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      val full = Dedup.ngramJaccardPairs(docs, "doc_id", "text", Seq("lang"), t)
        .orderBy("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      withClue(s"threshold $t")(fast shouldBe full)
    }
    // sanity: the exact-dup pair is found at every threshold
    Dedup.prefixFilteredJaccardPairs(docs, "doc_id", "text", Seq("lang"), 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))) should contain((1L, 2L))
  }

  test("collapsed prefix jaccard equals the direct form (exact-dup pre-collapse law)") {
    // dup classes of size 3 and 2, a near-dup bridging a class, singletons,
    // a cross-block twin, and a null text — every re-expansion path
    val docs = Seq(
      (1L, "en", "the quick brown fox jumps over the lazy dog"),
      (2L, "en", "the quick brown fox jumps over the lazy dog"),
      (9L, "en", "the quick brown fox jumps over the lazy dog"),
      (3L, "en", "the quick brown fox leaps over the lazy dog"),
      (8L, "en", "the quick brown fox leaps over the lazy dog"),
      (4L, "en", "completely different content the quick brown here"),
      (5L, "de", "the quick brown fox jumps over the lazy dog"),
      (6L, "en", "tiny doc"),
      (7L, "en", null.asInstanceOf[String]))
      .toDF("doc_id", "lang", "text")
    for (t <- Seq(0.05, 0.3, 0.9, 1.0)) {
      val collapsed = Dedup.prefixFilteredJaccardPairsCollapsed(
          docs, "doc_id", "text", Seq("lang"), t)
        .orderBy("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      val direct = Dedup.prefixFilteredJaccardPairs(
          docs, "doc_id", "text", Seq("lang"), t)
        .orderBy("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      withClue(s"threshold $t")(collapsed shouldBe direct)
    }
    graft.util.Caches.releaseAll()
  }

  test("collapsed ngram jaccard equals the direct inverted-index form") {
    // same re-expansion paths as the prefix law, plus a NULL block key —
    // join-equality semantics say those docs never pair in either form
    val docs = Seq(
      (1L, "en", "the quick brown fox jumps over the lazy dog"),
      (2L, "en", "the quick brown fox jumps over the lazy dog"),
      (9L, "en", "the quick brown fox jumps over the lazy dog"),
      (3L, "en", "the quick brown fox leaps over the lazy dog"),
      (8L, "en", "the quick brown fox leaps over the lazy dog"),
      (4L, "en", "completely different content the quick brown here"),
      (5L, "de", "the quick brown fox jumps over the lazy dog"),
      (6L, "en", "tiny doc"),
      (7L, "en", null.asInstanceOf[String]),
      (10L, null.asInstanceOf[String], "the quick brown fox jumps over the lazy dog"),
      (11L, null.asInstanceOf[String], "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "lang", "text")
    for (t <- Seq(0.05, 0.3, 0.9, 1.0)) {
      val collapsed = Dedup.ngramJaccardPairsCollapsed(
          docs, "doc_id", "text", Seq("lang"), t)
        .orderBy("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      val direct = Dedup.ngramJaccardPairs(
          docs, "doc_id", "text", Seq("lang"), t)
        .orderBy("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      withClue(s"threshold $t")(collapsed shouldBe direct)
    }
    graft.util.Caches.releaseAll()
  }

  test("prefix filter survives FP ceil overshoot at the exact threshold boundary") {
    // 0.07·100 = 7.000000000000001 in IEEE doubles: a bare float ceil gives
    // 8 and silently shortens the prefix by one element, dropping this
    // exactly-at-threshold pair (J = 7/100 = 0.07) and breaking the
    // lossless contract. Regression for the 1e-9 ceiling guard: doc 1 has
    // 100 distinct shingles of which the 7 shared ones sort LAST (df 2 vs
    // df 1), so they sit at positions 94-100 — inside the correct 94-long
    // prefix, outside the buggy 93-long one.
    val aWords = (1 to 102).map(i => f"a$i%03d")
    val docs = Seq(
      (1L, "en", aWords.mkString(" ")),
      (2L, "en", aWords.slice(93, 102).mkString(" ")) // shingles 94..100 of doc 1
    ).toDF("doc_id", "lang", "text")
    val fast = Dedup.prefixFilteredJaccardPairs(docs, "doc_id", "text", Seq("lang"), 0.07)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    fast should contain((1L, 2L))
  }

  test("connectedComponents: transitive closure labels every node with the component min") {
    // chain 1-2-3 (transitive: 1 and 3 never share an edge), pair 10-11,
    // isolated-by-absence 99 (no edges -> not in output)
    val edges = Seq((2L, 1L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val out = Dedup.connectedComponents(edges, "a", "b")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    out shouldBe Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
  }

  test("connectedComponents converges on a long chain (diameter > 2 rounds)") {
    val chain = (1L until 12L).map(i => (i, i + 1)).toDF("a", "b")
    val out = Dedup.connectedComponents(chain, "a", "b").collect()
    out.map(_.getLong(1)).distinct.toSeq shouldBe Seq(1L)
    out.length shouldBe 12
  }

  test("dedupCorpus keeps the best doc per duplicate class and all singletons") {
    // keepBy is a quality column independent of the text, so the expected
    // clustering is hash-independent (identical texts ALWAYS share all bands)
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", 43L),
      (2L, "the quick brown fox jumps over the lazy dog", 43L), // dup of 1
      (3L, "completely unrelated text body standing alone here", 50L),
      (4L, "the quick brown fox jumps over the lazy dog", 99L) // dup, best quality
    ).toDF("doc_id", "text", "n_chars")
    val out = Dedup.dedupCorpus(docs, "doc_id", "text", col("n_chars"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(r.fieldIndex("doc_id")), r.getLong(r.fieldIndex("cluster_id"))))
      .toSeq
    // docs 1/2/4 cluster together (label 1): keeper = best quality = 4;
    // doc 3 survives as its own singleton cluster
    out shouldBe Seq((3L, 3L), (4L, 1L))
  }

  test("dedupCorpus with no duplicate pairs returns the corpus unchanged") {
    val docs = Seq(
      (1L, "alpha beta gamma delta words", 28L),
      (2L, "epsilon zeta eta theta words", 28L)).toDF("doc_id", "text", "n_chars")
    Dedup.dedupCorpus(docs, "doc_id", "text", col("n_chars")).count() shouldBe 2L
  }

  test("connectedComponents refuses silent non-convergence") {
    val chain = (1L until 12L).map(i => (i, i + 1)).toDF("a", "b")
    an[IllegalArgumentException] should be thrownBy
      Dedup.connectedComponents(chain, "a", "b", maxIter = 2)
  }

  test("stored-signature law: bucketPairs over a parquet round-trip equals from-scratch pairs") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "a completely different document body lives here"),
      (4L, "the quick brown fox jumps over the lazy cat")
    ).toDF("doc_id", "text")
    val fresh = Dedup.minhashCandidatePairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val tmp = java.nio.file.Files.createTempDirectory("graft_siglaw_")
    try {
      Dedup.minhashBuckets(docs, "doc_id", "text")
        .write.mode("overwrite").parquet(tmp.toString)
      val stored = Dedup.bucketPairs(spark.read.parquet(tmp.toString), "doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      stored shouldBe fresh
      fresh should not be empty // the law is vacuous on a pair-free corpus
    } finally graft.util.Fs.deleteRecursively(tmp)
  }

  test("repeatedSpans finds a planted cross-doc paragraph and merges overlapping windows") {
    // docs 1 and 2 share the 6-token paragraph "one two three four five six"
    // embedded at different positions; doc 3 is all-unique text. With
    // spanTokens=4, the shared paragraph yields 3 overlapping repeated
    // windows per doc that must merge into ONE island spanning exactly the
    // paragraph — and doc 3 must be absent.
    val docs = Seq(
      (1L, "aa bb one two three four five six cc dd"),
      (2L, "one two three four five six zz yy xx ww vv"),
      (3L, "totally unique words that never repeat anywhere else at all")
    ).toDF("doc_id", "text")
    val out = Dedup.repeatedSpans(docs, "doc_id", "text", spanTokens = 4, minDf = 2)
      .orderBy("doc_id", "start_pos").collect()
      .map(r => (r.getLong(r.fieldIndex("doc_id")),
        r.getLong(r.fieldIndex("start_pos")), r.getLong(r.fieldIndex("end_pos")),
        r.getLong(r.fieldIndex("span_tokens")), r.getLong(r.fieldIndex("n_windows"))))
      .toSeq
    // doc 1: paragraph at tokens 3-8; doc 2: tokens 1-6; 3 windows each
    out shouldBe Seq((1L, 3L, 8L, 6L, 3L), (2L, 1L, 6L, 6L, 3L))
  }

  test("repeatedSpans counts within-doc repeats and splits disjoint spans into islands") {
    // the 4-token phrase repeats INSIDE one doc with a gap: two islands
    val docs = Seq(
      (1L, "p q r s GAP1 GAP2 p q r s tail words here"),
      (2L, "completely different filler text with no overlap at all")
    ).toDF("doc_id", "text")
    val out = Dedup.repeatedSpans(docs, "doc_id", "text", spanTokens = 4, minDf = 2)
      .orderBy("doc_id", "start_pos").collect()
      .map(r => (r.getLong(r.fieldIndex("doc_id")), r.getLong(r.fieldIndex("island")),
        r.getLong(r.fieldIndex("start_pos")), r.getLong(r.fieldIndex("end_pos"))))
      .toSeq
    out shouldBe Seq((1L, 1L, 1L, 4L), (1L, 2L, 7L, 10L))
  }

  test("repeatedSpans maxDf drops a planted stop-phrase but keeps genuine spans") {
    // "click here to subscribe" is boilerplate planted in ALL five docs
    // (window df = 5); docs 4 and 5 additionally share a genuine repeated
    // span "alpha beta gamma delta" (df = 2). With maxDf = 3 the
    // stop-phrase must vanish — its positions never seed an island — while
    // the genuine span survives untouched.
    val docs = Seq(
      (1L, "click here to subscribe filler one two three"),
      (2L, "intro words click here to subscribe more filler"),
      (3L, "click here to subscribe yet other unique stuff"),
      (4L, "alpha beta gamma delta unique4 click here to subscribe"),
      (5L, "pre text alpha beta gamma delta distinct5 click here to subscribe")
    ).toDF("doc_id", "text")
    def run(cap: Option[Long]) = Dedup.repeatedSpans(
        docs, "doc_id", "text", spanTokens = 4, minDf = 2, maxDf = cap)
      .orderBy("doc_id", "start_pos").collect()
      .map(r => (r.getLong(r.fieldIndex("doc_id")),
        r.getLong(r.fieldIndex("start_pos")), r.getLong(r.fieldIndex("end_pos"))))
      .toSeq
    // capped: only the genuine df=2 span remains (doc 4 tokens 1-4, doc 5
    // tokens 3-6); the df=5 stop-phrase is dropped everywhere
    run(Some(3L)) shouldBe Seq((4L, 1L, 4L), (5L, 3L, 6L))
    // a cap no window exceeds is a no-op: the join formulation must agree
    // bit-for-bit with the default window-frame formulation
    run(Some(100L)) shouldBe run(None)
  }

  test("connectedComponents refuses non-integral edge id columns loudly (both algorithms)") {
    // a string id would null out under cast("long") and be silently dropped
    // by the isNotNull filter — the guard must fire before any job runs
    val edges = Seq(("a", "b"), ("b", "c")).toDF("x", "y")
    an[IllegalArgumentException] should be thrownBy
      Dedup.connectedComponents(edges, "x", "y")
    an[IllegalArgumentException] should be thrownBy
      Dedup.connectedComponents(edges, "x", "y", 12, starContraction = true)
  }

  test("minhashStream twin law: streaming min-id survivors equal the batch rule") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val docs = mem.toDS().toDF("doc_id", "ts", "text")
    // 30 s window: all three docs share one dedup horizon (cross-window
    // dups are out of minhashStream's scope by contract)
    val kept = Dedup.minhashStream(
      docs, "doc_id", "text", "ts", "10 seconds", "30 seconds")
    val q = kept.writeStream.outputMode("append").format("memory")
      .queryName("mh_stream_spec").start()
    try {
      val t0 = 1_700_000_000_000L
      def ts(s: Long) = new java.sql.Timestamp(t0 + s * 1000)
      val texts = Map(
        1L -> "the quick brown fox jumps over the lazy dog",
        2L -> "the quick brown fox jumps over the lazy dog", // exact dup of 1
        3L -> "completely unrelated text body standing alone here")
      // separate micro-batches: ownership must persist ACROSS batches
      mem.addData((1L, ts(0), texts(1L))); q.processAllAvailable()
      mem.addData((2L, ts(1), texts(2L))); q.processAllAvailable()
      mem.addData((3L, ts(2), texts(3L))); q.processAllAvailable()
      // flush: far-future doc advances the watermark past the test windows;
      // its own window never closes, so it is never emitted
      mem.addData((99L, ts(100000), "zz yy xx ww vv uu flush sentinel"))
      q.processAllAvailable()
      val streamed = spark.table("mh_stream_spec")
        .as[Long].collect().toSet
      // batch twin of the same rule: bucket owner = min id, a doc survives
      // iff it owns every bucket it lands in (ownership is id-decided, so
      // the law holds in ANY arrival order — see the same-batch test below)
      val b = Dedup.minhashBuckets(
        texts.toSeq.map { case (id, t) => (id, t) }.toDF("doc_id", "text"),
        "doc_id", "text")
      val owner = b.groupBy("band", "sig").agg(min("doc_id").as("owner"))
      val batchKept = b.join(owner, Seq("band", "sig"))
        .groupBy("doc_id")
        .agg(max(when(col("owner") =!= col("doc_id"), 1).otherwise(0)).as("lost"))
        .where(col("lost") === 0)
        .select("doc_id").as[Long].collect().toSet
      batchKept shouldBe Set(1L, 3L) // sanity: the dup was dropped
      streamed shouldBe batchKept
    } finally {
      q.stop()
      spark.catalog.dropTempView("mh_stream_spec")
    }
  }

  test("minhashStream keeps the min-id member when a dup group arrives in ONE micro-batch") {
    // Regression: first-arrival (dropDuplicatesWithinWatermark) ownership
    // could split a same-batch dup group's band wins between members —
    // per-key winners are partition-order-dependent — so that NO member
    // owned all its buckets and the content vanished entirely. Min-id
    // ownership must keep exactly the lowest id, deterministically.
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val docs = mem.toDS().toDF("doc_id", "ts", "text")
    val kept = Dedup.minhashStream(
      docs, "doc_id", "text", "ts", "10 seconds", "1 second")
    val q = kept.writeStream.outputMode("append").format("memory")
      .queryName("mh_stream_batch_race").start()
    try {
      val t0 = 1_700_000_000_000L
      def ts(s: Long) = new java.sql.Timestamp(t0 + s * 1000)
      val dup = "the quick brown fox jumps over the lazy dog"
      // the whole dup group + an unrelated doc in a SINGLE micro-batch
      mem.addData(
        (7L, ts(0), dup), (5L, ts(0), dup), (9L, ts(0), dup),
        (3L, ts(0), "completely unrelated text body standing alone here"))
      q.processAllAvailable()
      mem.addData((99L, ts(100000), "zz yy xx ww vv uu flush sentinel"))
      q.processAllAvailable()
      spark.table("mh_stream_batch_race").as[Long].collect().toSet shouldBe
        Set(3L, 5L) // min id of the dup group survives; nothing is lost
    } finally {
      q.stop()
      spark.catalog.dropTempView("mh_stream_batch_race")
    }
  }

  test("minhashStream rejects a non-dividing band count") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    an[IllegalArgumentException] should be thrownBy
      Dedup.minhashStream(mem.toDS().toDF("doc_id", "ts", "text"),
        "doc_id", "text", "ts", "10 seconds", numPerm = 16, bands = 5)
  }

  test("star contraction labels chains, pairs, and transitive closures like label-prop") {
    val edges = Seq((2L, 1L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val out = Dedup.connectedComponents(edges, "a", "b", 10, starContraction = true)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    out shouldBe Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
  }

  test("star contraction converges in O(log d) on adversarial 120- and 1000-node chains") {
    // label propagation needs diameter-many rounds (119 and 999 here — it
    // would trip its maxIter); the alternating large/small-star contraction
    // needs O(log d): 8 alternations must suffice for d = 119, 12 for
    // d = 999 (non-convergence throws)
    Seq(120L -> 8, 1000L -> 12).foreach { case (n, maxIter) =>
      val chain = (1L until n).map(i => (i, i + 1)).toDF("a", "b")
      val out = Dedup.connectedComponents(chain, "a", "b", maxIter, starContraction = true)
        .collect()
      out.length shouldBe n
      out.map(_.getLong(1)).distinct.toSeq shouldBe Seq(1L)
    }
  }

  test("star contraction agrees with label propagation on a random multi-component graph") {
    val rnd = new scala.util.Random(7)
    // 60 nodes, sparse random edges → several nontrivial components
    val edges = (1 to 50)
      .map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }
      .toDF("a", "b")
    val star = Dedup.connectedComponents(edges, "a", "b", 12, starContraction = true)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val label = Dedup.connectedComponents(edges, "a", "b", 25)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    star shouldBe label
  }

  test("star contraction: empty edge set yields no labels, self-loops are singletons") {
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    Dedup.connectedComponents(empty, "a", "b", 3, starContraction = true)
      .count() shouldBe 0L
    val selfy = Seq((5L, 5L), (6L, 7L)).toDF("a", "b")
    val out = Dedup.connectedComponents(selfy, "a", "b", 5, starContraction = true)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    out shouldBe Seq((5L, 5L), (6L, 6L), (7L, 6L))
  }

  private def segRows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, String)] =
    df.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq

  test("segmentDedup: first occurrence owns; later copies drop, novel segments survive") {
    // 2-token segments: doc 1 = [a b][c d], doc 2 = [a b][x y] — doc 2
    // loses its copied first segment but keeps its novel second one.
    val docs = Seq((1L, "a b c d"), (2L, "a b x y")).toDF("doc_id", "text")
    segRows(Dedup.segmentDedup(docs, "doc_id", "text", segTokens = 2)) shouldBe Seq(
      (1L, 2L, 2L, "a b c d"), (2L, 2L, 1L, "x y"))
  }

  test("segmentDedup: within-doc repeats keep only the first instance") {
    val docs = Seq((7L, "a b a b c")).toDF("doc_id", "text")
    // segments: [a b][a b][c] — the second [a b] is a within-doc copy
    segRows(Dedup.segmentDedup(docs, "doc_id", "text", segTokens = 2)) shouldBe Seq(
      (7L, 3L, 2L, "a b c"))
  }

  test("segmentDedup: a doc owned entirely elsewhere comes back empty, not missing") {
    val docs = Seq((1L, "a b"), (2L, "a b")).toDF("doc_id", "text")
    segRows(Dedup.segmentDedup(docs, "doc_id", "text", segTokens = 2)) shouldBe Seq(
      (1L, 1L, 1L, "a b"), (2L, 1L, 0L, ""))
  }

  test("segmentDedup: short tail segments dedup like any other; null text drops") {
    val docs = Seq((1L, "a b c"), (2L, "c"), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    // doc 1 = [a b][c]; doc 2 = [c] is a copy of doc 1's tail
    segRows(Dedup.segmentDedup(docs, "doc_id", "text", segTokens = 2)) shouldBe Seq(
      (1L, 2L, 2L, "a b c"), (2L, 1L, 0L, ""))
  }

  test("segmentDedup: ids beyond the old packed-key domain (>= 2^43) own correctly") {
    // the retired id*2^20+pos packing silently collided here; struct
    // ownership orders (id, pos) lexicographically at any magnitude
    val big = 1L << 50
    val docs = Seq((big, "a b c d"), (big + 1, "a b x y"), (3L, "a b q r"))
      .toDF("doc_id", "text")
    segRows(Dedup.segmentDedup(docs, "doc_id", "text", segTokens = 2)) shouldBe Seq(
      (3L, 2L, 2L, "a b q r"),          // lowest id owns the shared [a b]
      (big, 2L, 1L, "c d"), (big + 1, 2L, 1L, "x y"))
  }

  test("segmentDedupIncrement law: store+increment equals the full pass restricted to the increment") {
    // base ids strictly below increment ids (the q181 convention) makes
    // full-pass ownership and store-anti-join ownership coincide
    val base = Seq((1L, "a b c d"), (2L, "e f g h")).toDF("doc_id", "text")
    val inc = Seq((10L, "a b x y"), (11L, "x y e f"), (12L, "x y q r"))
      .toDF("doc_id", "text")
    val store = Dedup.segmentOwners(base, "doc_id", "text", 2)
    val incOut = segRows(
      Dedup.segmentDedupIncrement(inc, store, "doc_id", "text", 2))
    val fullOut = segRows(
      Dedup.segmentDedup(base.unionByName(inc), "doc_id", "text", 2))
      .filter(_._1 >= 10L)
    incOut shouldBe fullOut
    // and the content is right: [a b] and [e f] are base-owned, [x y] is
    // owned by the first increment doc that carries it
    incOut shouldBe Seq(
      (10L, 2L, 1L, "x y"), (11L, 2L, 0L, ""), (12L, 2L, 1L, "q r"))
  }

  test("segmentDedup: verdict is partitioning-independent") {
    val docs = (1L to 40L).map(i => (i, if (i % 4 == 0) "dup dup dup dup"
      else s"u$i v$i w$i x$i")).toDF("doc_id", "text")
    val one = segRows(Dedup.segmentDedup(docs.coalesce(1), "doc_id", "text", 2))
    val many = segRows(Dedup.segmentDedup(docs.repartition(7), "doc_id", "text", 2))
    many shouldBe one
    // exactly one of the ten "dup dup dup dup" docs survives with text
    many.count(r => r._4.nonEmpty && r._1 % 4 == 0) shouldBe 1
  }

  test("semDedup groups within clusters and keeps the least-centroid-similar member") {
    import org.apache.spark.sql.DataFrame
    val corpus: DataFrame = Seq(
      (1L, Seq(1.0, 0.0)),    // cluster 0, sim_c = 1.0
      (2L, Seq(1.0, 0.0)),    // exact dup of 1
      (3L, Seq(0.6, 0.8)),    // assigns to cluster 1 (cos 0.8 beats 0.6)
      (4L, Seq(0.0, 1.0)),    // cluster 1, sim_c = 1.0
      (5L, Seq(0.1, 0.995))   // cluster 1, sim_c ≈ 0.995 — near-dup of 4
    ).toDF("id", "vec")
    val cents: DataFrame = Seq(
      (0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0))).toDF("cid", "cvec")
    val out = Dedup.semDedup(corpus, cents, "id", "vec", "cid", "cvec",
        threshold = 0.99)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(r.fieldIndex("cid")),
        r.getLong(r.fieldIndex("comp")), r.getBoolean(r.fieldIndex("keep"))))
    // doc 3 assigns to cluster 1 (cos 0.8 > 0.6) but is below threshold
    // with both members, so it stays a singleton
    val byId = out.map(t => t._1 -> t).toMap
    byId(1L)._2 shouldBe 0L
    byId(2L)._2 shouldBe 0L
    byId(3L)._2 shouldBe 1L
    // dup groups: {1,2} labeled 1; {4,5} labeled 4; 3 labels itself
    out.map(t => t._1 -> t._3).toMap shouldBe
      Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L, 5L -> 4L)
    // keeper of {1,2}: sim_c ties at 1.0 → smaller id (1); keeper of
    // {4,5}: doc 5 is LESS similar to the centroid → 5 kept, 4 dropped
    out.map(t => t._1 -> t._4).toMap shouldBe
      Map(1L -> true, 2L -> false, 3L -> true, 4L -> false, 5L -> true)
    an[IllegalArgumentException] should be thrownBy
      Dedup.semDedup(corpus, cents, "id", "vec", "cid", "cvec", threshold = 0.0)
    graft.util.Caches.releaseAll()
  }

  test("semDedup maxClusterSize law: guarded == unguarded when every cluster is under the cap") {
    import org.apache.spark.sql.DataFrame
    // 12 vectors in 2 clusters (6 each) with several dup groups
    val corpus: DataFrame = (1L to 12L).map { i =>
      val base = if (i <= 6) Seq(1.0, 0.0) else Seq(0.0, 1.0)
      // three near-dup pairs per cluster: (1,2),(3,4),(5,6) etc.
      val eps = ((i - 1) / 2) * 0.05
      (i, Seq(base.head + eps, base(1) + eps))
    }.toDF("id", "vec")
    val cents: DataFrame = Seq(
      (0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0))).toDF("cid", "cvec")
    def run(cap: Int) = Dedup.semDedup(corpus, cents, "id", "vec", "cid",
        "cvec", threshold = 0.999, maxClusterSize = cap)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(r.fieldIndex("cid")),
        r.getLong(r.fieldIndex("comp")), r.getBoolean(r.fieldIndex("keep"))))
      .toSeq
    val unguarded = Dedup.semDedup(corpus, cents, "id", "vec", "cid",
        "cvec", threshold = 0.999)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(r.fieldIndex("cid")),
        r.getLong(r.fieldIndex("comp")), r.getBoolean(r.fieldIndex("keep"))))
      .toSeq
    graft.util.Caches.releaseAll()
    // cap at exactly the largest cluster, and far above it: both identical
    run(6) shouldBe unguarded
    graft.util.Caches.releaseAll()
    run(1000) shouldBe unguarded
    graft.util.Caches.releaseAll()
    // a BINDING cap still returns every vector exactly once, keeps the
    // per-component keeper invariant, and can only LOSE dup edges (never
    // invent them): every guarded component is a subset of an unguarded one
    val capped = run(2)
    capped.map(_._1) shouldBe (1L to 12L)
    capped.count(_._4) shouldBe capped.map(_._3).distinct.size
    val unComp = unguarded.map(t => t._1 -> t._3).toMap
    capped.groupBy(_._3).values.foreach { grp =>
      grp.map(t => unComp(t._1)).distinct.size shouldBe 1
    }
    graft.util.Caches.releaseAll()
    an[IllegalArgumentException] should be thrownBy
      Dedup.semDedup(corpus, cents, "id", "vec", "cid", "cvec",
        threshold = 0.9, maxClusterSize = 0)
  }

  test("editVerifiedPairs: exact distances, integer-exact normalized verdict") {
    val docs = Seq(
      (1L, "kitten in the yard"),
      (2L, "sitten in the yard"),   // lev 1 vs doc 1
      (3L, "totally different words here"),
      (4L, null.asInstanceOf[String]), // null → "" for distance purposes
      (5L, "")
    ).toDF("doc_id", "text")
    val cands = Seq((1L, 2L), (1L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val out = Dedup.editVerifiedPairs(docs, cands, "doc_id", "text", 20)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))
    // (1,2): lev 1, max_len 18 → 100 ≤ 360 near; boundary check is
    // cross-multiplied: lev·100 ≤ pct·max_len exactly
    val byPair = out.map(t => (t._1, t._2) -> t).toMap
    byPair((1L, 2L)) shouldBe ((1L, 2L, 1L, 18L, true))
    byPair((1L, 3L))._3 should be > 10L
    byPair((1L, 3L))._5 shouldBe false
    // empty-vs-empty: max_len 0, lev 0 → 0 ≤ 0, near
    byPair((4L, 5L)) shouldBe ((4L, 5L, 0L, 0L, true))
    an[IllegalArgumentException] should be thrownBy
      Dedup.editVerifiedPairs(docs, cands, "doc_id", "text", 101)
  }
}
