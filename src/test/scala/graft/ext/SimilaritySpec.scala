package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class SimilaritySpec extends SparkTestBase with org.scalatest.BeforeAndAfterEach {
  import spark.implicits._

  private val eps = 1e-12

  // serveIndexStream pins its model through Caches: free it after each test
  override def afterEach(): Unit =
    try graft.util.Caches.releaseAll() finally super.afterEach()

  test("native cosine matches hand-computed values") {
    val df = Seq(
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f), 0.0),        // orthogonal
      (Array(1.0f, 2.0f), Array(2.0f, 4.0f), 1.0),        // parallel
      (Array(1.0f, 0.0f), Array(-1.0f, 0.0f), -1.0),      // opposite
      (Array(3.0f, 4.0f), Array(4.0f, 3.0f), 24.0 / 25.0) // 24/(5*5)
    ).toDF("a", "b", "expected")
    val rows = df.select(
      Similarity.cosine(col("a"), col("b")).as("got"), col("expected")).collect()
    rows.foreach(r => r.getDouble(0) shouldBe (r.getDouble(1) +- eps))
  }

  test("native cosine is bit-identical to the composable HOF form") {
    val vecs = (1 to 50).map(i => (i.toLong, Array.tabulate(16)(j => ((i * 31 + j * 7) % 13 - 6).toFloat)))
    val df = vecs.toDF("id", "v")
    val pairs = df.select(col("id").as("ia"), col("v").as("va"))
      .crossJoin(df.select(col("id").as("ib"), col("v").as("vb")))
    val diff = pairs.select(
      Similarity.cosine(col("va"), col("vb")).as("n"),
      Similarity.cosineComposable(col("va"), col("vb")).as("h"))
      .where(col("n") =!= col("h") &&
        !(isnan(col("n")) && isnan(col("h")))).count()
    diff shouldBe 0L
  }

  test("bruteForceTopK returns k best neighbors, excluding self, ranked") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)),
      (4L, Array(-1.0f, 0.0f))).toDF("id", "v")
    val out = Similarity.bruteForceTopK(df.where(col("id") === 1), df, "id", "id", "v", 2)
      .orderBy("rank").collect().map(r => (r.getInt(r.fieldIndex("rank")), r.getLong(r.fieldIndex("n_id"))))
    out.toSeq shouldBe Seq((1, 2L), (2, 3L))
  }

  test("bucketedTopK only scores same-bucket candidates") {
    val df = Seq(
      (1L, Array(1.0f, 1.0f)),   // bucket 3 (both positive)
      (2L, Array(0.5f, 2.0f)),   // bucket 3
      (3L, Array(-1.0f, 1.0f))   // bucket 2
    ).toDF("id", "v")
    val out = Similarity.bucketedTopK(df.where(col("id") === 1), df, "id", "id", "v", 5, bits = 2)
      .collect().map(r => r.getLong(r.fieldIndex("n_id"))) // candidates actually scored
    out.toSeq shouldBe Seq(2L)
  }

  test("multiProbeTopK recalls a neighbor whose lowest-margin sign bit differs") {
    // id=2 is nearly parallel to the query but its tiny second component has
    // the opposite sign → different single-table bucket (bucketedTopK misses
    // it); the margin |0.01| is the lowest of the table, so the 1-flip probe
    // recovers it
    val df = Seq(
      (1L, Array(1.0f, 0.01f)),
      (2L, Array(1.0f, -0.01f)),
      (3L, Array(-1.0f, 1.0f))).toDF("id", "v")
    val q = df.where(col("id") === 1)
    val missed = Similarity.bucketedTopK(q, df, "id", "id", "v", 5, bits = 2)
      .collect().map(_.getLong(2))
    missed should not contain 2L
    val got = Similarity.multiProbeTopK(q, df, "id", "id", "v", 5,
      tables = 1, bits = 2, flips = 1)
      .collect().map(r => r.getLong(r.fieldIndex("n_id")))
    got should contain(2L)
  }

  test("multiProbeTopK never ranks a candidate twice across tables/probes") {
    // every vector lands in the same bucket of BOTH tables, and the flip
    // probes re-hit existing buckets — each neighbor must still appear once
    val df = Seq(
      (1L, Array(1.0f, 1.0f, 1.0f, 1.0f)),
      (2L, Array(0.9f, 1.1f, 1.0f, 1.0f)),
      (3L, Array(1.1f, 0.9f, 1.0f, 1.0f))).toDF("id", "v")
    val out = Similarity.multiProbeTopK(df.where(col("id") === 1), df, "id", "id", "v", 10,
      tables = 2, bits = 2, flips = 2)
      .collect().map(r => r.getLong(r.fieldIndex("n_id")))
    out.toSeq.sorted shouldBe Seq(2L, 3L)
  }

  test("multiProbeTopK with tables=1, flips=0 degenerates to the single-bucket candidate set") {
    val df = Seq(
      (1L, Array(1.0f, 1.0f)),
      (2L, Array(0.5f, 2.0f)),
      (3L, Array(-1.0f, 1.0f))).toDF("id", "v")
    val out = Similarity.multiProbeTopK(df.where(col("id") === 1), df, "id", "id", "v", 5,
      tables = 1, bits = 2, flips = 0)
      .collect().map(r => r.getLong(r.fieldIndex("n_id")))
    out.toSeq shouldBe Seq(2L)
  }

  test("cosineDupPairs finds within-bucket pairs above threshold, id_a < id_b") {
    val df = Seq(
      (1L, Array(1.0f, 1.0f)),
      (2L, Array(1.0f, 0.9f)),  // near-dup of 1, same bucket
      (3L, Array(-1.0f, -1.0f)) // different bucket entirely
    ).toDF("id", "v")
    val out = Similarity.cosineDupPairs(df, "id", "v", threshold = 0.9, bits = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    out shouldBe Seq((1L, 2L))
  }

  test("native cosine handles length mismatch via common-prefix dot, full norms") {
    val df = Seq((Array(1.0, 0.0, 3.0), Array(1.0, 0.0))).toDF("a", "b")
    val got = df.select(Similarity.cosine(col("a"), col("b"))).collect().head.getDouble(0)
    got shouldBe (1.0 / (math.sqrt(10.0) * 1.0) +- eps)
  }

  test("NaN similarities rank deterministically first, like a descending sort") {
    // corpus contains a zero vector (cosine = 0/0 = NaN); NaN sorts ABOVE
    // all finite values in a desc sort, and the bounded aggregator must
    // agree no matter the partition/merge order
    val df = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 0.0f))).toDF("id", "v")
    val out = Similarity.bruteForceTopK(df.where(col("id") === 1), df, "id", "id", "v", 2)
      .orderBy("rank").collect().map(r => r.getLong(r.fieldIndex("n_id")))
    out.toSeq shouldBe Seq(3L, 2L) // NaN candidate first, then best finite
  }

  test("non-integral id types fall back to the window ranking path") {
    val df = Seq(
      ("a", Array(1.0f, 0.0f)),
      ("b", Array(0.9f, 0.1f)),
      ("c", Array(0.0f, 1.0f))).toDF("id", "v")
    val out = Similarity.bruteForceTopK(df.where(col("id") === "a"), df, "id", "id", "v", 2)
      .orderBy("rank").collect().map(r => r.getString(r.fieldIndex("n_id")))
    out.toSeq shouldBe Seq("b", "c")
    // k = 0 used to return no rows here (and throw on long ids)
    an[IllegalArgumentException] should be thrownBy
      Similarity.bruteForceTopK(df.where(col("id") === "a"), df, "id", "id", "v", 0)
  }

  test("native cosine accepts mixed nullability (literal array vs column)") {
    // a literal array is containsNull=false, a read column usually true —
    // the type check must only care about the element type
    val df = Seq(Tuple1(Array(Some(3.0), Some(4.0)))).toDF("v") // containsNull=true
    val got = df.select(
      Similarity.cosine(col("v"), array(lit(3.0), lit(4.0)))).collect().head.getDouble(0)
    got shouldBe (1.0 +- 1e-12)
  }

  test("zero vector yields NaN (0/0), not an error") {
    val df = Seq((Array(0.0f, 0.0f), Array(1.0f, 1.0f))).toDF("a", "b")
    df.select(Similarity.cosine(col("a"), col("b"))).collect().head.getDouble(0).isNaN shouldBe true
  }

  // --------------------------------------------------- product quantization

  test("native l2DistSq is bit-identical to the composable HOF fold") {
    val vecs = (1 to 50).map(i => (i.toLong, Array.tabulate(16)(j => ((i * 31 + j * 7) % 13 - 6).toFloat)))
    val df = vecs.toDF("id", "v")
    val pairs = df.select(col("id").as("ia"), col("v").as("va"))
      .crossJoin(df.select(col("id").as("ib"), col("v").as("vb")))
    val hof = aggregate(
      zip_with(col("va").cast("array<double>"), col("vb").cast("array<double>"),
        (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)
    pairs.select(Similarity.l2DistSq(col("va"), col("vb")).as("n"), hof.as("h"))
      .where(col("n") =!= col("h")).count() shouldBe 0L
  }

  test("native adcDistance is bit-identical to the composable HOF LUT fold") {
    // 40 candidates x 8 subspaces, LUT rows of 16 partial distances with
    // non-associative-friendly magnitudes (so any fold-order drift shows)
    val rows = (1 to 40).map { i =>
      val codes = Array.tabulate(8)(s => (i * 13 + s * 5) % 16)
      val lut = Array.tabulate(8)(s =>
        Array.tabulate(16)(c => ((i + s * 3 + c * 7) % 101 - 50) / 7.0))
      (i.toLong, codes, lut)
    }
    val df = rows.toDF("id", "codes", "lut")
    val hof = aggregate(
      zip_with(col("codes"), col("lut"),
        (c, lrow) => element_at(lrow, (c + 1).cast("int"))),
      lit(0.0), (acc, x) => acc + x)
    df.select(
        graft.functions.VectorFunctions.adcDistance(col("codes"), col("lut")).as("n"),
        hof.as("h"))
      .where(col("n") =!= col("h")).count() shouldBe 0L
  }

  test("adcDistance fails loudly on an out-of-range code (never a silent skew)") {
    val df = Seq((1L, Array(0, 99), Array(Array(1.0, 2.0), Array(3.0, 4.0))))
      .toDF("id", "codes", "lut")
    val e = intercept[Exception] {
      df.select(graft.functions.VectorFunctions.adcDistance(
        col("codes"), col("lut"))).collect()
    }
    // the IllegalArgumentException may arrive wrapped (SparkException) —
    // search the cause chain for the loud failure
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    msgs should include("adc_distance")
  }

  test("pqEncode picks the argmin sub-centroid per subspace, ties to lowest cid") {
    // m=2 subspaces of dim 2; codebook has 2 centroids per subspace
    val cb = Seq(
      (0, 0L, Array(0.0, 0.0)), (0, 1L, Array(10.0, 10.0)),
      (1, 0L, Array(0.0, 0.0)), (1, 1L, Array(10.0, 10.0))
    ).toDF("sub", "cid", "c_vec")
    val corpus = Seq(
      (1L, Array(1.0f, 1.0f, 9.0f, 9.0f)),  // sub0 -> cid 0, sub1 -> cid 1
      (2L, Array(9.0f, 9.0f, 1.0f, 1.0f)),  // sub0 -> cid 1, sub1 -> cid 0
      (3L, Array(5.0f, 5.0f, 5.0f, 5.0f))   // equidistant: ties to cid 0
    ).toDF("id", "v")
    val codes = Similarity.pqEncode(corpus, cb, "id", "v", m = 2, subDim = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    codes(1L) shouldBe Seq(0L, 1L)
    codes(2L) shouldBe Seq(1L, 0L)
    codes(3L) shouldBe Seq(0L, 0L)
  }

  test("pqTopK: a candidate sharing all codes with the query ranks first at adist 0") {
    val cb = Seq(
      (0, 0L, Array(0.0, 0.0)), (0, 1L, Array(10.0, 10.0)),
      (1, 0L, Array(0.0, 0.0)), (1, 1L, Array(10.0, 10.0))
    ).toDF("sub", "cid", "c_vec")
    // query 100 sits exactly ON the (cid0, cid1) = (0, 1) centroid product;
    // candidate 1 shares both codes, candidates 2/3 differ in >= 1 code
    val corpus = Seq(
      (1L, Array(1.0f, 1.0f, 9.0f, 9.0f)),
      (2L, Array(9.0f, 9.0f, 1.0f, 1.0f)),
      (3L, Array(9.0f, 9.0f, 9.0f, 9.0f))
    ).toDF("id", "v")
    val qs = Seq((100L, Array(0.0f, 0.0f, 10.0f, 10.0f))).toDF("id", "v")
    val top = Similarity.pqTopK(qs, corpus, cb, "id", "id", "v", k = 3, m = 2, subDim = 2)
      .orderBy("rank").collect()
    top.head.getLong(top.head.fieldIndex("n_id")) shouldBe 1L
    top.head.getDouble(top.head.fieldIndex("adist")) shouldBe 0.0
  }

  test("pqTopK is invariant to arbitrary (non-contiguous) codebook cids") {
    val corpus = (1 to 40).map(i =>
      (i.toLong, Array.tabulate(4)(j => ((i * 13 + j * 5) % 9 - 4).toFloat))).toDF("id", "v")
    val qs = corpus.where(col("id") <= 2)
    val cb0 = Seq(
      (0, 0L, Array(-2.0, -2.0)), (0, 1L, Array(2.0, 2.0)),
      (1, 0L, Array(-2.0, -2.0)), (1, 1L, Array(2.0, 2.0))).toDF("sub", "cid", "c_vec")
    // same centroids, shifted cids (order preserved) -> identical results
    val cb1 = cb0.withColumn("cid", col("cid") * 7 + 100)
    val a = Similarity.pqTopK(qs, corpus, cb0, "id", "id", "v", 3, m = 2, subDim = 2)
    val b = Similarity.pqTopK(qs, corpus, cb1, "id", "id", "v", 3, m = 2, subDim = 2)
    a.exceptAll(b).count() shouldBe 0L
    b.exceptAll(a).count() shouldBe 0L
  }

  test("ivfPqTopK with nprobe = |centroids| degenerates to pqTopK") {
    // probing EVERY list removes the pruning, so IVF-PQ must equal plain
    // PQ/ADC exactly (same codebook, same candidates, same LUT sums)
    val corpus = (1 to 60).map(i =>
      (i.toLong, Array.tabulate(4)(j => ((i * 17 + j * 11) % 15 - 7).toFloat))).toDF("id", "v")
    val qs = corpus.where(col("id") <= 3)
    val cb = Seq(
      (0, 0L, Array(-3.0, -3.0)), (0, 1L, Array(3.0, 3.0)),
      (1, 0L, Array(-3.0, -3.0)), (1, 1L, Array(3.0, 3.0))).toDF("sub", "cid", "c_vec")
    val cents = corpus.where(col("id") % 20 === 0)
      .select(col("id").as("cid"), col("v"))
    val full = Similarity.ivfPqTopK(qs, corpus, cents, cb,
      "id", "id", "cid", "v", k = 3, m = 2, subDim = 2, nprobe = 3)
    val plain = Similarity.pqTopK(qs, corpus, cb, "id", "id", "v", 3, m = 2, subDim = 2)
    full.exceptAll(plain).count() shouldBe 0L
    plain.exceptAll(full).count() shouldBe 0L
  }

  test("ivfPqTopK with nprobe=1 returns only candidates from the query's own list") {
    // centroids ARE the two well-separated cluster centers; with one probe,
    // every retrieved neighbor must share the query's cluster
    val pts = for (c <- 0 until 2; p <- 0 until 6) yield {
      val base = if (c == 0) 10.0 else -10.0
      ((c * 6 + p).toLong,
        Array.tabulate(4)(j => (base + ((p * 7 + j * 3) % 5 - 2) * 0.1).toFloat))
    }
    val corpus = pts.toDF("id", "v")
    val cents = Seq(
      (0L, Array(10.0f, 10.0f, 10.0f, 10.0f)),
      (1L, Array(-10.0f, -10.0f, -10.0f, -10.0f))).toDF("cid", "v")
    val cb = Similarity.pqCodebookByStride(corpus, "id", "v", m = 2, subDim = 2, stride = 3)
    val top = Similarity.ivfPqTopK(corpus.where(col("id") === 0 || col("id") === 6),
      corpus, cents, cb, "id", "id", "cid", "v", k = 3, m = 2, subDim = 2, nprobe = 1)
      .collect()
    top should not be empty
    top.foreach { r =>
      val q = r.getLong(r.fieldIndex("q_id"))
      val n = r.getLong(r.fieldIndex("n_id"))
      (n / 6) shouldBe (q / 6)
    }
  }

  test("srpProject: native matvec is bit-identical to the unrolled literal sum") {
    val dim = 16
    val outDims = 4
    val vecs = (1 to 40).map(i =>
      (i.toLong, Array.tabulate(dim)(j => ((i * 31 + j * 7) % 13 - 6) * 0.25f)))
    val df = vecs.toDF("id", "v")
    val signs = Similarity.srpSigns(dim, outDims)
    signs.flatten.foreach(s => math.abs(s) shouldBe 1.0)
    val unrolled = array((0 until outDims).map { r =>
      (1 to dim).map(j =>
        element_at(col("v"), j).cast("double") * lit(signs(r)(j - 1))).reduce(_ + _)
    }: _*)
    val rows = df.select(
      Similarity.srpProject(col("v"), dim, outDims).as("native"),
      unrolled.as("ref")).collect()
    rows.foreach { r =>
      r.getSeq[Double](0) shouldBe r.getSeq[Double](1) // exact, not approx
    }
  }

  test("srpProject fails loudly on a short vector (never a silent truncated projection)") {
    val signs = Seq.fill(4)(Seq.fill(8)(1.0))
    val df = Seq((1L, Array.fill(5)(1.0f))).toDF("id", "v") // 5 < dim 8
    val e = intercept[Exception] {
      df.select(graft.functions.VectorFunctions.signedProjection(col("v"), signs))
        .collect()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    msgs should include("signed_projection")
  }

  test("srpProject runs inside whole-stage codegen") {
    // a Range source (not a LocalRelation, which the optimizer folds; not
    // an Exchange, which wraps the plan in an undecided AdaptiveSparkPlan)
    // so the explain shows the real codegen decision
    val df = spark.range(4).select(
      array((0 until 8).map(j => (col("id") + j).cast("float")): _*).as("v"))
    val formatted = df.select(Similarity.srpProject(col("v"), 8, 2).as("p"))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    formatted should include("signed_projection")
    formatted should include("* Project")
  }

  test("srpRerankTopK with a full-corpus rerank pool equals exact brute force") {
    val vecs = (1 to 30).map(i =>
      (i.toLong, Array.tabulate(12)(j => ((i * 17 + j * 5) % 11 - 5).toFloat)))
    val df = vecs.toDF("id", "v")
    val qs = df.where(col("id") <= 3)
    // m = |corpus| ⇒ stage 1 prunes nothing, so the rerank must reproduce
    // the exact top-k no matter how the projection scrambles distances
    val rerank = Similarity.srpRerankTopK(qs, df, "id", "id", "v",
        k = 3, m = 30, dim = 12, outDims = 4)
      .orderBy("q_id", "rank").collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val exact = Similarity.bruteForceTopK(qs, df, "id", "id", "v", 3)
      .orderBy("q_id", "rank").collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    rerank shouldBe exact
    an[IllegalArgumentException] should be thrownBy
      Similarity.srpRerankTopK(qs, df, "id", "id", "v", k = 5, m = 3, dim = 12)
  }

  test("hardNegativesTopK: only cross-label candidates, null labels are negatives") {
    val df = Seq(
      (1L, 0, Array(1.0f, 0.0f)),
      (2L, 0, Array(0.99f, 0.1f)),  // same label as q1: NEVER a negative
      (3L, 1, Array(0.9f, 0.2f)),   // closest cross-label
      (4L, 1, Array(0.0f, 1.0f)),   // cross-label, orthogonal
      (5L, 0, Array(-1.0f, 0.0f)))
      .toDF("id", "label", "v")
    // null-label row: <=> treats null as a VALUE, so it differs from 0
    val withNull = df.union(Seq((6L, null.asInstanceOf[Integer], Array(1.0f, 0.01f)))
      .toDF("id", "label", "v"))
    val out = Similarity.hardNegativesTopK(
        withNull.where(col("id") === 1), withNull, "id", "id", "v", "label", k = 2)
      .orderBy("rank").collect()
      .map(r => (r.getInt(r.fieldIndex("rank")), r.getLong(r.fieldIndex("n_id"))))
    // negatives for q1 (label 0): candidates are 3, 4, 6(null) — never 2 or 5
    out shouldBe Seq((1, 6L), (2, 3L))
    // and the negative's label survives the re-attach join
    val labels = Similarity.hardNegativesTopK(
        withNull.where(col("id") === 1), withNull, "id", "id", "v", "label", k = 2)
      .orderBy("rank").collect()
      .map(r => Option(r.get(r.fieldIndex("n_label"))))
    labels shouldBe Seq(None, Some(1))
  }

  test("fitPqCodebooks + pqTopK retrieves cluster-mates on clustered data") {
    // 3 well-separated cluster centers in 4-dim space; 8 points per cluster
    // with tiny deterministic jitter. PQ with a TRAINED codebook must rank
    // same-cluster candidates above other clusters for every query.
    val centers = Seq(
      Array(10.0, 0.0, 0.0, 10.0), Array(-10.0, 5.0, 5.0, -10.0),
      Array(0.0, -10.0, 10.0, 0.0))
    val pts = for {
      c <- centers.indices; p <- 0 until 8
    } yield {
      val jit = Array.tabulate(4)(j => ((c * 31 + p * 7 + j * 3) % 5 - 2) * 0.05)
      ((c * 8 + p).toLong, Array.tabulate(4)(j => (centers(c)(j) + jit(j)).toFloat))
    }
    val corpus = pts.toDF("id", "v")
    val cb = Similarity.fitPqCodebooks(corpus, "id", "v", m = 2, subDim = 2, ksub = 3, iters = 4)
    val qs = corpus.where(col("id") % 8 === 0) // one query per cluster
    val top = Similarity.pqTopK(qs, corpus, cb, "id", "id", "v", k = 3, m = 2, subDim = 2)
      .collect()
    top.foreach { r =>
      val q = r.getLong(r.fieldIndex("q_id"))
      val n = r.getLong(r.fieldIndex("n_id"))
      (n / 8) shouldBe (q / 8) // every retrieved neighbor is a cluster-mate
    }
  }

  // ------------------------------------------------- residual IVF-PQ (IVFADC)

  test("residuals: res + assigned centroid reconstructs the vector; assignment is argmin-L2") {
    val corpus = Seq(
      (1L, Array(9.5f, 10.2f)), (2L, Array(-10.1f, -9.8f)), (3L, Array(10.0f, 9.0f)))
      .toDF("id", "v")
    val cents = Seq((0L, Array(10.0f, 10.0f)), (1L, Array(-10.0f, -10.0f)))
      .toDF("cid", "v")
    val out = Similarity.residuals(corpus, cents, "id", "cid", "v")
      .orderBy("id").collect()
    out.map(_.getLong(1)).toSeq shouldBe Seq(0L, 1L, 0L) // nearest centroid
    // reconstruction: res + c == original, exactly (double subtraction)
    val res1 = out(0).getSeq[Double](2)
    res1(0) shouldBe (9.5f.toDouble - 10.0f.toDouble)
    res1(1) shouldBe (10.2f.toDouble - 10.0f.toDouble)
  }

  test("ivfPqResidualTopK degenerates to ivfPqTopK under a single zero centroid") {
    // one centroid at the origin makes every residual THE raw vector and
    // every probe list the whole corpus — the two forms must agree
    // bit-for-bit (same codebook, same candidates, same LUT sums)
    val corpus = (1 to 50).map(i =>
      (i.toLong, Array.tabulate(4)(j => ((i * 17 + j * 11) % 15 - 7).toFloat))).toDF("id", "v")
    val qs = corpus.where(col("id") <= 3)
    val cents = Seq((0L, Array(0.0f, 0.0f, 0.0f, 0.0f))).toDF("cid", "v")
    val cb = Similarity.pqCodebookByStride(corpus, "id", "v", m = 2, subDim = 2, stride = 7)
    val a = Similarity.ivfPqResidualTopK(qs, corpus, cents, cb,
      "id", "id", "cid", "v", k = 3, m = 2, subDim = 2, nprobe = 1)
    val b = Similarity.ivfPqTopK(qs, corpus, cents, cb,
      "id", "id", "cid", "v", k = 3, m = 2, subDim = 2, nprobe = 1)
    a.exceptAll(b).count() shouldBe 0L
    b.exceptAll(a).count() shouldBe 0L
  }

  test("ivfPqResidualTopK retrieves cluster-mates with nprobe=1 on clustered data") {
    val pts = for (c <- 0 until 2; p <- 0 until 6) yield {
      val base = if (c == 0) 10.0 else -10.0
      ((c * 6 + p).toLong,
        Array.tabulate(4)(j => (base + ((p * 7 + j * 3) % 5 - 2) * 0.1).toFloat))
    }
    val corpus = pts.toDF("id", "v")
    val cents = Seq(
      (0L, Array(10.0f, 10.0f, 10.0f, 10.0f)),
      (1L, Array(-10.0f, -10.0f, -10.0f, -10.0f))).toDF("cid", "v")
    // codebook over RESIDUALS — the residual form's contract
    val cb = Similarity.pqCodebookByStride(
      Similarity.residuals(corpus, cents, "id", "cid", "v"),
      "id", "res", m = 2, subDim = 2, stride = 3)
    val top = Similarity.ivfPqResidualTopK(
        corpus.where(col("id") === 0 || col("id") === 6),
        corpus, cents, cb, "id", "id", "cid", "v",
        k = 3, m = 2, subDim = 2, nprobe = 1)
      .collect()
    top should not be empty
    top.foreach { r =>
      val q = r.getLong(r.fieldIndex("q_id"))
      val n = r.getLong(r.fieldIndex("n_id"))
      (n / 6) shouldBe (q / 6)
    }
  }

  test("pqQuantizationError: residual encoding beats raw on clustered data; zero for a perfect codebook") {
    val pts = for (c <- 0 until 2; p <- 0 until 6) yield {
      val base = if (c == 0) 10.0 else -10.0
      ((c * 6 + p).toLong,
        Array.tabulate(4)(j => (base + ((p * 7 + j * 3) % 5 - 2) * 0.1).toFloat))
    }
    val corpus = pts.toDF("id", "v")
    val cents = Seq(
      (0L, Array(10.0f, 10.0f, 10.0f, 10.0f)),
      (1L, Array(-10.0f, -10.0f, -10.0f, -10.0f))).toDF("cid", "v")
    val resFrame = Similarity.residuals(corpus, cents, "id", "cid", "v")
    val cbRaw = Similarity.pqCodebookByStride(corpus, "id", "v", m = 2, subDim = 2, stride = 5)
    val cbRes = Similarity.pqCodebookByStride(resFrame, "id", "res", m = 2, subDim = 2, stride = 5)
    def mse(df: org.apache.spark.sql.DataFrame, vecCol: String, cb: org.apache.spark.sql.DataFrame) =
      Similarity.pqQuantizationError(df, cb, "id", vecCol, m = 2, subDim = 2)
        .collect().head.getDouble(2)
    val rawMse = mse(corpus, "v", cbRaw)
    val resMse = mse(resFrame, "res", cbRes)
    // the 5-codeword raw codebook must describe two ±10 clusters; the
    // residual codebook only the ±0.2 jitter — the IVFADC advantage in the
    // clustered regime (its reversal on isotropic data is documented at
    // the q213 gate)
    resMse should be < rawMse
    // a codebook containing every vector quantizes with zero error
    val perfect = Similarity.pqCodebookByStride(corpus, "id", "v", m = 2, subDim = 2, stride = 1)
    mse(corpus, "v", perfect) shouldBe 0.0 +- 1e-12
  }

  test("lloydInt: exact argmin assignment, floored means, shift invariance") {
    import org.apache.spark.sql.DataFrame
    // two tight clusters around (0,0) and (1,1); seeds 1 and 3 start one
    // in each cluster, so one round already separates them. All values
    // are exact binary fractions, so the grid coordinates are certain.
    val corpus: DataFrame = Seq(
      (1L, Seq(0.0f, 0.0f)), (2L, Seq(0.125f, 0.25f)),
      (3L, Seq(1.0f, 1.0f)), (4L, Seq(0.875f, 1.0f)),
      (5L, Seq(0.25f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.lloydInt(corpus, "vec_id", "embedding",
        initIds = Seq(1L, 3L), iters = 2)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    out.map(t => t._1 -> t._2).toMap shouldBe
      Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 3L -> 3L, 4L -> 3L)
    // dists are exact grid-space integers vs the FLOORED-mean centroid:
    // cluster 1 members {1,2,5} grid to (0,0),(125,250),(250,0) →
    // floored mean (125, 83); doc 1's dist = 125² + 83² = 22514
    out.find(_._1 == 1L).get._3 shouldBe 22514L
    // the shift is distance-invariant: a different shift, same output
    val shifted = Similarity.lloydInt(corpus, "vec_id", "embedding",
        initIds = Seq(1L, 3L), iters = 2, shift = 5000L)
      .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    shifted shouldBe out
    an[IllegalArgumentException] should be thrownBy
      Similarity.lloydInt(corpus, "vec_id", "embedding", Seq.empty, 1)
    an[IllegalArgumentException] should be thrownBy
      Similarity.lloydInt(corpus, "vec_id", "embedding", Seq(1L), 0)
    // the stateless literal-centroid inference form reproduces the batch
    // assignment exactly (the streaming twin's law)
    val model = Similarity.lloydIntCentroids(corpus, "vec_id", "embedding",
        Seq(1L, 3L), 2)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSeq)).toSeq
    val inf = Similarity.assignToCentroids(corpus, "vec_id", "embedding", model)
      .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    inf shouldBe out
  }

  test("compactIndex: latest wins, strict cap, serving identical to the raw union") {
    import org.apache.spark.sql.Row
    val corpus = (1 to 60).map(i =>
      (i.toLong, Array.tabulate(4)(j => ((i * 17 + j * 11) % 15 - 7).toFloat))).toDF("id", "v")
    val cents = Seq(
      (0L, Array(3.0f, 3.0f, 3.0f, 3.0f)),
      (1L, Array(-3.0f, -3.0f, -3.0f, -3.0f))).toDF("cid", "v")
    val cb = Similarity.pqCodebookByStride(
      Similarity.residuals(corpus, cents, "id", "cid", "v"),
      "id", "res", m = 2, subDim = 2, stride = 7)
    // a SECOND codebook (different stride) re-encodes a subset: the later
    // snapshot's codes for those ids genuinely differ
    val cb2 = Similarity.pqCodebookByStride(
      Similarity.residuals(corpus, cents, "id", "cid", "v"),
      "id", "res", m = 2, subDim = 2, stride = 11)
    val snap0 = Similarity.residualIndex(corpus, cents, cb,
      "id", "cid", "v", m = 2, subDim = 2).localCheckpoint(true)
    val snap1 = Similarity.residualIndex(corpus.where(col("id") % 5 === 0),
      cents, cb2, "id", "cid", "v", m = 2, subDim = 2).localCheckpoint(true)
    val cap = 8L
    val compacted = Similarity.compactIndex(Seq(snap0, snap1), cap)
      .localCheckpoint(true)
    // every id exactly once, and re-encoded ids carry snap1's codes
    compacted.count() shouldBe 60L
    val snap1Codes = snap1.collect()
      .map(r => r.getLong(0) -> r.getSeq[Any](2).toVector).toMap
    val snap0Codes = snap0.collect()
      .map(r => r.getLong(0) -> r.getSeq[Any](2).toVector).toMap
    compacted.collect().foreach { r =>
      val id = r.getLong(0)
      val codes = r.getSeq[Any](3).toVector
      codes shouldBe snap1Codes.getOrElse(id, snap0Codes(id))
    }
    // STRICT cap per (lcid, sub), and sub is the exact rank stride
    val cells = compacted.groupBy(col("lcid"), col("sub"))
      .agg(count(lit(1)).as("c")).collect()
    cells.foreach(_.getAs[Long]("c") should be <= cap)
    val perList = compacted.collect().groupBy(_.getLong(1))
    perList.foreach { case (_, rows) =>
      rows.sortBy(_.getLong(0)).zipWithIndex.foreach { case (r, i) =>
        r.getLong(2) shouldBe (i / cap)
      }
    }
    // serving the compacted store == serving the naive latest-union
    val latest = snap1.unionByName(
      snap0.join(snap1.select(col("n_id")), Seq("n_id"), "left_anti"))
    val qs = corpus.where(col("id") <= 6)
    def serve(ix: org.apache.spark.sql.DataFrame): Set[Row] =
      Similarity.ivfPqResidualStoredTopK(qs, ix, cents, cb,
        "id", "cid", "v", k = 3, m = 2, subDim = 2, nprobe = 2).collect().toSet
    serve(compacted.drop("sub")) shouldBe serve(latest)
  }

  test("serveIndexStream: union over any micro-batch split equals the one-shot batch serve") {
    import org.apache.spark.sql.streaming.Trigger
    val corpus = (1 to 60).map(i =>
      (i.toLong, Array.tabulate(4)(j => ((i * 17 + j * 11) % 15 - 7).toFloat))).toDF("id", "v")
    val cents = Seq(
      (0L, Array(3.0f, 3.0f, 3.0f, 3.0f)),
      (1L, Array(-3.0f, -3.0f, -3.0f, -3.0f))).toDF("cid", "v")
    val cb = Similarity.pqCodebookByStride(
      Similarity.residuals(corpus, cents, "id", "cid", "v"),
      "id", "res", m = 2, subDim = 2, stride = 7)
    val index = Similarity.residualIndex(corpus, cents, cb,
      "id", "cid", "v", m = 2, subDim = 2).localCheckpoint(true)
    val qs = corpus.where(col("id") <= 6)
    val expected = Similarity.ivfPqResidualStoredTopK(qs, index, cents, cb,
      "id", "cid", "v", k = 3, m = 2, subDim = 2, nprobe = 2).collect().toSet
    // split the same queries across 3 files → 3 micro-batches
    val tmp = java.nio.file.Files.createTempDirectory("graft_serve_law")
    qs.repartition(3).write.mode("overwrite").parquet(s"$tmp/queries")
    val got = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    val nBatches = new java.util.concurrent.atomic.AtomicInteger(0)
    val stream = spark.readStream.schema("id LONG, v ARRAY<FLOAT>")
      .option("maxFilesPerTrigger", 1).parquet(s"$tmp/queries")
    val q = Similarity.serveIndexStream(stream, index, cents, cb,
        "id", "cid", "v", k = 3, m = 2, subDim = 2, nprobe = 2) { (ans, _) =>
        val rows = ans.collect() // verification-harness boundary
        got.synchronized { got ++= rows }
        nBatches.incrementAndGet()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    nBatches.get() should be >= 2 // a real split, not a 1-batch pass
    got.toSet shouldBe expected
    got.size shouldBe expected.size // no duplicate answers across batches
  }

  test("probeLuts: probes and LUTs equal a plain-Scala reference bit for bit") {
    // centroids 7 and 3 are equidistant from query 1 (d = 1): the lcid
    // tie-break must probe 3 first; codebook cids are non-contiguous and
    // listed out of order; m = 2
    val qs = Seq(
      (1L, Array(0.0f, 0.0f, 1.0f, 2.0f)),
      (2L, Array(2.5f, -1.0f, 0.5f, 3.0f)),
      (3L, Array(-2.0f, 1.5f, -0.5f, 0.25f))).toDF("id", "v")
    val cents = Seq(
      (7L, Array(1.0f, 0.0f, 1.0f, 2.0f)),
      (5L, Array(4.0f, 4.0f, 4.0f, 4.0f)),
      (3L, Array(-1.0f, 0.0f, 1.0f, 2.0f))).toDF("cid", "v")
    val cb = Seq(
      (1, 100L, Array(1.5, 1.5)), (0, 40L, Array(0.5, 0.5)),
      (0, 3L, Array(-1.0, 0.25)), (1, 9L, Array(0.0, 1.0)),
      (0, 17L, Array(2.0, -0.5)), (1, 2L, Array(-0.75, 0.0))).toDF("sub", "cid", "c_vec")
    val (m, subDim) = (2, 2)
    // the reference: strict left-to-right (x − y)² folds over collected rows
    def d2(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => val d = x - y; acc + d * d }
    val centRows = cents.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble))
    val words = cb.collect().groupBy(_.getInt(0)).map { case (j, rs) =>
      j -> rs.sortBy(_.getLong(1)).map(_.getSeq[Double](2)).toSeq }
    def lut(v: Seq[Double]): Seq[Seq[Double]] = (0 until m).map(j =>
      words(j).map(w => d2(v.slice(j * subDim, (j + 1) * subDim), w)))
    def bits(l: collection.Seq[collection.Seq[Double]]) =
      l.map(_.map(java.lang.Double.doubleToRawLongBits).toVector).toVector
    val queries = qs.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble))
    val model = Similarity.pqModel(cb, m, cents, "cid", "v")
    for (nprobe <- 1 to 3; residual <- Seq(true, false)) {
      val expected = queries.flatMap { case (q, v) =>
        centRows.sortBy { case (c, cv) => (d2(v, cv), c) }(
          Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)).take(nprobe).map { case (c, cv) =>
          (q, c) -> bits(lut(if (residual) v.zip(cv).map { case (x, y) => x - y } else v))
        }
      }.toMap
      val got = Similarity.probeLuts(qs, model, "id", "v", subDim, nprobe, residual)
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          bits(r.getSeq[collection.Seq[Double]](2))).toMap
      withClue(s"nprobe=$nprobe residual=$residual: ") { got shouldBe expected }
    }
    // the tie: query 1's single probe is lcid 3, not 7
    Similarity.queryResidualLuts(qs.where(col("id") === 1), cents, cb,
      "id", "cid", "v", m, subDim, nprobe = 1).select("lcid").as[Long].collect() shouldBe Array(3L)
  }

  test("IVF-PQ paths fail loudly on a non-positive nprobe, m or subDim") {
    // nprobe = 0 used to return an empty answer without an error
    val corpus = (1 to 20).map(i =>
      (i.toLong, Array.tabulate(4)(j => ((i * 17 + j * 11) % 15 - 7).toFloat))).toDF("id", "v")
    val qs = corpus.where(col("id") <= 2)
    val cents = Seq((0L, Array(3.0f, 3.0f, 3.0f, 3.0f)),
      (1L, Array(-3.0f, -3.0f, -3.0f, -3.0f))).toDF("cid", "v")
    val cb = Similarity.pqCodebookByStride(corpus, "id", "v", m = 2, subDim = 2, stride = 5)
    val index = Similarity.residualIndex(corpus, cents, cb, "id", "cid", "v", m = 2, subDim = 2)
    val codes = Similarity.pqEncode(corpus, cb, "id", "v", 2, 2)
      .select(col("id").as("n_id"), col("codes"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_serve_args")
    qs.write.mode("overwrite").parquet(s"$tmp/queries")
    val stream = spark.readStream.schema("id LONG, v ARRAY<FLOAT>").parquet(s"$tmp/queries")
    val calls: Seq[(String, (Int, Int, Int) => Any)] = Seq(
      "ivfPqTopK" -> ((m, sd, np) => Similarity.ivfPqTopK(qs, corpus, cents, cb,
        "id", "id", "cid", "v", 3, m, sd, np)),
      "ivfPqTopKWithCodes" -> ((m, sd, np) => Similarity.ivfPqTopKWithCodes(qs, corpus,
        cents, codes, cb, "id", "id", "cid", "v", 3, m, sd, np)),
      "ivfPqResidualTopK" -> ((m, sd, np) => Similarity.ivfPqResidualTopK(qs, corpus,
        cents, cb, "id", "id", "cid", "v", 3, m, sd, np)),
      "ivfPqResidualStoredTopK" -> ((m, sd, np) => Similarity.ivfPqResidualStoredTopK(qs,
        index, cents, cb, "id", "cid", "v", 3, m, sd, np)),
      "queryResidualLuts" -> ((m, sd, np) => Similarity.queryResidualLuts(qs, cents, cb,
        "id", "cid", "v", m, sd, np)),
      "serveIndexStream" -> ((m, sd, np) => Similarity.serveIndexStream(stream, index,
        cents, cb, "id", "cid", "v", 3, m, sd, np)((_, _) => ())))
    for ((name, call) <- calls; (m, sd, np) <- Seq((2, 2, 0), (2, 2, -1), (0, 2, 2), (2, 0, 2)))
      withClue(s"$name(m=$m, subDim=$sd, nprobe=$np): ") {
        an[IllegalArgumentException] should be thrownBy call(m, sd, np)
      }
    // the encoders and plain PQ take no nprobe. subDim = 0 used to encode
    // every vector as all-zero codes with a 0.0 error; m = 0 died with an
    // unrelated analysis error
    val pqCalls: Seq[(String, (Int, Int) => Any)] = Seq(
      "pqEncode" -> ((m, sd) => Similarity.pqEncode(corpus, cb, "id", "v", m, sd)),
      "pqQuantizationError" -> ((m, sd) =>
        Similarity.pqQuantizationError(corpus, cb, "id", "v", m, sd)),
      "residualIndex" -> ((m, sd) =>
        Similarity.residualIndex(corpus, cents, cb, "id", "cid", "v", m, sd)),
      "pqTopK" -> ((m, sd) => Similarity.pqTopK(qs, corpus, cb, "id", "id", "v", 3, m, sd)))
    for ((name, call) <- pqCalls; (m, sd) <- Seq((0, 2), (2, 0), (-1, 2), (2, -1)))
      withClue(s"$name(m=$m, subDim=$sd): ") {
        an[IllegalArgumentException] should be thrownBy call(m, sd)
      }
  }

  test("deleteFromIndex / compactIndex tombstones: serving survivors ≡ index built without them") {
    val corpus = (1 to 60).map(i =>
      (i.toLong, Array.tabulate(4)(j => ((i * 17 + j * 11) % 15 - 7).toFloat))).toDF("id", "v")
    val cents = Seq(
      (0L, Array(3.0f, 3.0f, 3.0f, 3.0f)),
      (1L, Array(-3.0f, -3.0f, -3.0f, -3.0f))).toDF("cid", "v")
    val cb = Similarity.pqCodebookByStride(
      Similarity.residuals(corpus, cents, "id", "cid", "v"),
      "id", "res", m = 2, subDim = 2, stride = 7)
    def index(c: org.apache.spark.sql.DataFrame) =
      Similarity.residualIndex(c, cents, cb, "id", "cid", "v", m = 2, subDim = 2)
    val full = index(corpus).localCheckpoint(true)
    val tomb = corpus.where(col("id") % 4 === 0).select(col("id"))
    // the law: anti-joined full index ≡ index encoded on survivors only
    // (an index row is a pure per-vector function of the frozen model)
    Similarity.deleteFromIndex(full, tomb).collect().toSet shouldBe
      index(corpus.where(col("id") % 4 =!= 0)).collect().toSet
    // tombstones at compaction: applied AFTER latest-wins, layout re-ranked
    val compacted = Similarity.compactIndex(Seq(full), cap = 5L, tombstones = tomb)
    compacted.select(col("n_id"), col("lcid"), col("codes")).collect().toSet shouldBe
      index(corpus.where(col("id") % 4 =!= 0)).collect().toSet
    // strict cap still holds on the shrunken lists
    compacted.groupBy(col("lcid"), col("sub")).agg(count(lit(1)).as("c"))
      .collect().foreach(_.getAs[Long]("c") should be <= 5L)
    // and a deleted id never answers a query again
    val qs = corpus.where(col("id") <= 6)
    val answers = Similarity.ivfPqResidualStoredTopK(qs, compacted.drop("sub"),
      cents, cb, "id", "cid", "v", k = 3, m = 2, subDim = 2, nprobe = 2)
      .collect().map(_.getLong(2))
    answers.foreach(_ % 4 should not be 0)
  }

  test("ingestIndexStream: accumulated store over any micro-batch split equals the one-shot index") {
    import org.apache.spark.sql.streaming.Trigger
    val corpus = (1 to 60).map(i =>
      (i.toLong, Array.tabulate(4)(j => ((i * 17 + j * 11) % 15 - 7).toFloat))).toDF("id", "v")
    val cents = Seq(
      (0L, Array(3.0f, 3.0f, 3.0f, 3.0f)),
      (1L, Array(-3.0f, -3.0f, -3.0f, -3.0f))).toDF("cid", "v")
    val cb = Similarity.pqCodebookByStride(
      Similarity.residuals(corpus, cents, "id", "cid", "v"),
      "id", "res", m = 2, subDim = 2, stride = 7)
    val oneShot = Similarity.residualIndex(corpus, cents, cb,
      "id", "cid", "v", m = 2, subDim = 2).collect().toSet
    // the SAME vectors streamed across 3 micro-batches, encoded per batch
    // against the frozen model — the store's write path
    val tmp = java.nio.file.Files.createTempDirectory("graft_ingest_law")
    corpus.repartition(3).write.mode("overwrite").parquet(s"$tmp/vectors")
    val got = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    val nBatches = new java.util.concurrent.atomic.AtomicInteger(0)
    val stream = spark.readStream.schema("id LONG, v ARRAY<FLOAT>")
      .option("maxFilesPerTrigger", 1).parquet(s"$tmp/vectors")
    val q = Similarity.ingestIndexStream(stream, cents, cb,
        "id", "cid", "v", m = 2, subDim = 2) { (idx, _) =>
        val rows = idx.collect() // verification-harness boundary
        got.synchronized { got ++= rows }
        nBatches.incrementAndGet()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    nBatches.get() should be >= 2 // a real split, not a 1-batch pass
    got.toSet shouldBe oneShot
    got.size shouldBe oneShot.size // every vector encoded exactly once
    // and serving the streamed-in store answers like the one-shot index
    val qs = corpus.where(col("id") <= 6)
    val streamedIndex = spark.createDataFrame(
      spark.sparkContext.parallelize(got.toSeq),
      Similarity.residualIndex(corpus, cents, cb, "id", "cid", "v", 2, 2).schema)
    Similarity.ivfPqResidualStoredTopK(qs, streamedIndex, cents, cb,
        "id", "cid", "v", k = 3, m = 2, subDim = 2, nprobe = 2).collect().toSet shouldBe
      Similarity.ivfPqResidualStoredTopK(qs,
        Similarity.residualIndex(corpus, cents, cb, "id", "cid", "v", 2, 2),
        cents, cb, "id", "cid", "v", k = 3, m = 2, subDim = 2, nprobe = 2)
        .collect().toSet
  }

  test("mmrSelectSdc: store-miss candidates drop silently by default, loudly with requireAllInStore") {
    val corpus = (1 to 60).map(i =>
      (i.toLong, Array.tabulate(4)(j => ((i * 17 + j * 11) % 15 - 7).toFloat))).toDF("id", "v")
    val cents = Seq(
      (0L, Array(3.0f, 3.0f, 3.0f, 3.0f)),
      (1L, Array(-3.0f, -3.0f, -3.0f, -3.0f))).toDF("cid", "v")
    val cb = Similarity.pqCodebookByStride(
      Similarity.residuals(corpus, cents, "id", "cid", "v"),
      "id", "res", m = 2, subDim = 2, stride = 7)
    val index = Similarity.residualIndex(corpus, cents, cb,
      "id", "cid", "v", m = 2, subDim = 2).localCheckpoint(true)
    // a recall set computed BEFORE a tombstone compaction: ids 61/62 no
    // longer exist in the store
    val cands = Seq((1L, 10L, -1.0), (1L, 20L, -2.0), (1L, 61L, -0.5),
      (1L, 62L, -0.25)).toDF("q_id", "n_id", "rel")
    val picked = Similarity.mmrSelectSdc(cands, index, cb,
      k = 4, m = 2, subDim = 2).collect()
    // the pool shrank to the 2 surviving candidates — deleted docs can
    // never be re-ranked back into an answer
    picked.map(_.getLong(2)).toSet shouldBe Set(10L, 20L)
    // the loud form: a store-generation mismatch must not thin answers
    // silently
    val e = intercept[IllegalArgumentException] {
      Similarity.mmrSelectSdc(cands, index, cb, k = 4, m = 2, subDim = 2,
        requireAllInStore = true).collect()
    }
    e.getMessage should include("missing from the code store")
    // and the loud form passes when every candidate is in the store
    Similarity.mmrSelectSdc(cands.where(col("n_id") <= 60), index, cb,
        k = 4, m = 2, subDim = 2, requireAllInStore = true)
      .collect().map(_.getLong(2)).toSet shouldBe Set(10L, 20L)
  }

  test("pqEncodeAndError: codes and error equal the standalone pqEncode + pqQuantizationError pair") {
    val corpus = (1 to 60).map(i =>
      (i.toLong, Array.tabulate(8)(j => ((i * 17 + j * 5) % 11 - 5).toFloat)))
      .toDF("id", "v")
    val cb = Similarity.pqCodebookByStride(corpus, "id", "v",
      m = 2, subDim = 4, stride = 7)
    val (codes, err) = Similarity.pqEncodeAndError(corpus, cb, "id", "v",
      m = 2, subDim = 4)
    val codesRef = Similarity.pqEncode(corpus, cb, "id", "v", m = 2, subDim = 4)
    codes.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toList)).toSeq shouldBe
      codesRef.orderBy("id").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toList)).toSeq
    val errRef = Similarity.pqQuantizationError(corpus, cb, "id", "v",
      m = 2, subDim = 4)
    err.collect().map(_.toSeq).toSeq shouldBe errRef.collect().map(_.toSeq).toSeq
    graft.util.Caches.releaseAll()
  }

  test("residualIndexAndError equals residualIndex + pqQuantizationError over the residual frame") {
    val corpus = (1 to 60).map(i =>
      (i.toLong, Array.tabulate(8)(j => ((i * 13 + j * 3) % 9 - 4).toFloat)))
      .toDF("id", "v")
    val cents = corpus.where(col("id") % 20 === 0)
      .select(col("id").as("cid"), col("v"))
    val residFrame = Similarity.residuals(corpus, cents, "id", "cid", "v")
    val cb = Similarity.pqCodebookByStride(residFrame, "id", "res",
      m = 2, subDim = 4, stride = 7)
    val (idx, err) = Similarity.residualIndexAndError(corpus, cents, cb,
      "id", "cid", "v", m = 2, subDim = 4)
    val idxRef = Similarity.residualIndex(corpus, cents, cb,
      "id", "cid", "v", m = 2, subDim = 4)
    idx.orderBy("n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toList)).toSeq shouldBe
      idxRef.orderBy("n_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toList)).toSeq
    val errRef = Similarity.pqQuantizationError(residFrame, cb, "id", "res",
      m = 2, subDim = 4)
    err.collect().map(_.toSeq).toSeq shouldBe errRef.collect().map(_.toSeq).toSeq
    graft.util.Caches.releaseAll()
  }
}
