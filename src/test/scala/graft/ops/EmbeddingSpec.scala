package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class EmbeddingSpec extends SparkSpec {
  import spark.implicits._

  private val chunks = (0L until 10L).flatMap(d =>
    (0L until 3L).map(c => (d, c, s"chunk text $d $c with some words")))
    .toDF("doc_id", "chunk_id", "chunk_text")

  test("encodeChunks: one vector per chunk, right dim, deterministic") {
    val out = Embedding.encodeChunks(chunks, dim = 8)
    out.columns.toSeq shouldBe Seq("doc_id", "chunk_id", "embedding")
    out.count() shouldBe 30L
    val rows = out.collect().map(r =>
      (r.getLong(0), r.getLong(1)) -> r.getSeq[Double](2)).toMap
    rows.values.foreach(_.length shouldBe 8)
    // identical text -> identical vector (stub is a pure function)
    val again = Embedding.encodeChunks(chunks, dim = 8).collect().map(r =>
      (r.getLong(0), r.getLong(1)) -> r.getSeq[Double](2)).toMap
    again shouldBe rows
    // coordinates live in (-1, 1]
    rows.values.flatten.foreach { x =>
      x should be > -1.0000001
      x should be <= 1.0
    }
  }

  test("the encoder is called in batches, never per row") {
    // task closures serialize even in local mode — record batch sizes
    // through an accumulator
    val sizes = spark.sparkContext.collectionAccumulator[Int]("batch_sizes")
    val spy: Embedding.BatchEncoder = texts => {
      sizes.add(texts.length)
      Embedding.stubEncoder(4)(texts)
    }
    // single partition so the batch boundaries are deterministic
    val out = Embedding.encodeChunks(chunks.coalesce(1), dim = 4,
      encoder = Some(spy), batchSize = 8)
    out.count() shouldBe 30L
    // 30 rows at batch 8 means calls of 8,8,8,6 (never 1-row calls)
    import scala.jdk.CollectionConverters._
    sizes.value.asScala.map(_.toInt).sorted.toSeq shouldBe Seq(6, 8, 8, 8)
  }

  test("a lying encoder (wrong cardinality) fails loudly") {
    val bad: Embedding.BatchEncoder = texts => texts.drop(1).map(_ => Array(0.0))
    val ex = intercept[org.apache.spark.SparkException] {
      Embedding.encodeChunks(chunks.coalesce(1), encoder = Some(bad)).count()
    }
    ex.getMessage should include("encoder returned")
  }

  test("stubSeed matches the SQL formula shape: position-weighted mod 65521") {
    Embedding.stubSeed("") shouldBe 0L
    Embedding.stubSeed("ab") shouldBe ('a'.toLong * 1 + 'b'.toLong * 2) % 65521L
    // order matters (position weighting)
    Embedding.stubSeed("ab") should not be Embedding.stubSeed("ba")
  }

  test("encoded frame feeds the ANN tier directly") {
    val emb = Embedding.encodeChunks(chunks, dim = 8)
      .select((col("doc_id") * 100 + col("chunk_id")).as("id"),
        col("embedding").as("vec"))
    val top = Similarity.bruteForceTopK(emb.filter(col("id") < 3), emb, k = 3)
    top.groupBy("query_id").count().collect().foreach(_.getLong(1) shouldBe 3L)
  }

  private def md5BucketRef(s: String, dim: Int): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    val v = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    (v % dim).toInt
  }

  test("hashTfVectors: exact counts at md5-prefix buckets") {
    val docs = Seq((1L, "a b a c"), (2L, ""), (3L, "zz")).toDF("doc_id", "text")
    val got = Embedding.hashTfVectors(docs, "doc_id", "text", dim = 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    got(1L).sum shouldBe 4.0 // four tokens, counts preserved
    got(1L)(md5BucketRef("a", 16)) shouldBe 2.0
    got(1L)(md5BucketRef("b", 16)) should be >= 1.0
    // empty tokens are SKIPPED (phantom-mass rule): an empty document
    // gets the zero vector, never shared mass at md5("")'s bucket
    got(2L).sum shouldBe 0.0
    got(3L)(md5BucketRef("zz", 16)) should be >= 1.0
    // shingle mode: k=2 over 4 tokens = 3 shingles
    val g2 = Embedding.hashTfVectors(docs, "doc_id", "text", dim = 16, k = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    g2(1L).sum shouldBe 3.0
    g2(1L)(md5BucketRef("a b", 16)) should be >= 1.0
    g2(3L).sum shouldBe 0.0 // shorter than k
  }

  test("hashedShingleNearDup: integer cosine² gate matches naive arithmetic") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"), // near-dup of 1
      (3L, "completely different words in this one entirely"),
      (4L, "the quick brown fox jumps over the lazy dog today"))   // exact dup of 1
      .toDF("doc_id", "text")
    val out = Embedding.hashedShingleNearDup(docs, "doc_id", "text",
        dim = 65536, k = 3, tauSqNum = 64L, tauSqDen = 100L, dfCap = 100L)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    out.keySet shouldBe Set((1L, 2L), (1L, 4L), (2L, 4L))
    // naive reference for the (1,2) pair
    def counts(t: String) = t.split(" ").sliding(3).map(_.mkString(" "))
      .toSeq.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val (c1, c2) = (counts("the quick brown fox jumps over the lazy dog today"),
      counts("the quick brown fox jumps over the lazy dog tonight"))
    val dot = c1.map { case (g, c) => c * c2.getOrElse(g, 0L) }.sum
    val n1 = c1.values.map(c => c * c).sum
    val n2 = c2.values.map(c => c * c).sum
    out((1L, 2L)) shouldBe ((dot, n1, n2))
    dot * dot * 100L should be >= 64L * n1 * n2
    // exact dup: dot == both norms (identical count vectors)
    out((1L, 4L)) shouldBe ((n1, n1, n1))
  }

  test("incremental hashed near-dup == cross-parity slice of the full run") {
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog today",
      "the quick brown fox jumps over the lazy dog tonight",
      "completely different words in this one entirely",
      "the quick brown fox jumps over the lazy dog today really",
      "yet more unrelated filler content goes right here now")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val idx = Embedding.buildShingleTfIndex(corpus, "doc_id", "text",
      dim = 65536, k = 3)
    try {
      val inc = Embedding.hashedShingleNearDupIncremental(batch, idx,
          "doc_id", "text",
          tauSqNum = 25L, tauSqDen = 100L, dfCap = 100L)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
      // reference: the FULL self-run restricted to (odd, even) pairs
      val full = Embedding.hashedShingleNearDup(docs, "doc_id", "text",
          dim = 65536, k = 3, tauSqNum = 25L, tauSqDen = 100L, dfCap = 100L,
          persistIndex = false)
        .collect().flatMap { r =>
          val (a, b, dot) = (r.getLong(0), r.getLong(1), r.getLong(2))
          if (a % 2 == 1 && b % 2 == 0) Some((a, b) -> dot)
          else if (b % 2 == 1 && a % 2 == 0) Some((b, a) -> dot)
          else None
        }.toMap
      inc shouldBe full
      inc should not be empty
    } finally idx.release()
  }

  test("incremental near-dup: replayed ids already in the index yield no self-pair") {
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "totally different corpus document right here"))
      .toDF("doc_id", "text")
    val idx = Embedding.buildShingleTfIndex(docs, "doc_id", "text",
      dim = 65536, k = 3)
    try {
      // the batch IS a slice of the indexed corpus (a replay)
      val out = Embedding.hashedShingleNearDupIncremental(
          docs.filter(col("doc_id") === 0L), idx, "doc_id", "text",
          tauSqNum = 25L, tauSqDen = 100L)
        .collect()
      out shouldBe empty // the only candidate is the identity pair
    } finally idx.release()
  }

  test("integer cosine gate survives norms past the Long-overflow line") {
    // two identical docs of 60k repeated shingles: norm ≈ 3.6e9·k²,
    // dot = norm, so dot²·100 ≈ 1e21 — far past Long.MaxValue (9.2e18).
    // The decimal(38,0) gate must still classify them as duplicates
    // (cosine exactly 1.0) instead of wrapping.
    val big = (Seq.fill(60000)("w") :+ "tail").mkString(" ")
    val docs = Seq((1L, big), (2L, big)).toDF("doc_id", "text")
    val out = Embedding.hashedShingleNearDup(docs, "doc_id", "text",
        dim = 65536, k = 3, tauSqNum = 81L, tauSqDen = 100L,
        dfCap = 100L, persistIndex = false)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    out.toSeq shouldBe Seq((1L, 2L))
  }

  test("cosine gate: long fast path ≡ decimal slow path across the boundary") {
    // B = ⌊√(2⁶³-1 ÷ 100)⌋ at τ² = 81/100; build (dot, na, nb) triples
    // straddling it — mixed paths (one norm each side), both-fast,
    // both-slow — with dots AT the Cauchy–Schwarz ceiling and just
    // under τ, and compare every verdict against a BigInt reference.
    val maxT = 100L
    var b = math.sqrt(Long.MaxValue.toDouble / maxT).toLong
    while (BigInt(b) * b * maxT > Long.MaxValue) b -= 1
    (BigInt(b) * b * maxT <= Long.MaxValue) shouldBe true
    (BigInt(b + 1) * (b + 1) * maxT > Long.MaxValue) shouldBe true
    def isqrt(x: BigInt): Long = {
      var r = BigInt(math.sqrt(x.toDouble).toLong)
      while (r * r > x) r -= 1
      while ((r + 1) * (r + 1) <= x) r += 1
      r.toLong
    }
    val norms = Seq(b - 1, b, b + 1, 2 * b, 1000L, 1L)
    val triples = for {
      na <- norms; nb <- norms
      ceil = isqrt(BigInt(na) * nb)
      dot <- Seq(ceil, ceil - 1, ceil * 9 / 10, ceil * 9 / 10 + 1,
        ceil / 2, 0L).distinct if dot >= 0
    } yield (dot, na, nb)
    val df = triples.toDF("dot", "na", "nb")
    val got = df.withColumn("g",
        Embedding.cosineGate(col("dot"), 81L, 100L, col("na"), col("nb")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getBoolean(3))
      .toMap
    triples.foreach { case t @ (dot, na, nb) =>
      val want = BigInt(dot) * dot * 100 >= BigInt(81) * na * nb
      assert(got(t) == want, s"gate mismatch at $t: got ${got(t)}, want $want")
    }
  }

  test("cosine gate: seeded random sweep across magnitudes vs BigInt reference") {
    // 600 triples spanning 1..2^62 with dot clamped to the
    // Cauchy-Schwarz ceiling (the gate's input invariant) plus
    // near-threshold dots, across three tau settings — breadth the
    // deterministic boundary spec doesn't cover
    val rnd = new scala.util.Random(0xC051DE)
    def isqrt(x: BigInt): Long = {
      var r = BigInt(math.sqrt(x.toDouble).toLong).max(0)
      while (r * r > x) r -= 1
      while ((r + 1) * (r + 1) <= x) r += 1
      r.toLong
    }
    val taus = Seq((81L, 100L), (25L, 100L), (9999L, 10000L))
    taus.foreach { case (num, den) =>
      // magnitudes capped at 2^54 ≈ 1.8e16: keeps tau·na·nb < 1e38 at
      // every tau here — the gate's DOCUMENTED decimal exactness
      // domain (past it the gate fails loudly under ANSI, pinned by
      // the next test)
      val triples = (1 to 200).map { _ =>
        val na = math.abs(rnd.nextLong()) % (1L << (2 + rnd.nextInt(53))) + 1
        val nb = math.abs(rnd.nextLong()) % (1L << (2 + rnd.nextInt(53))) + 1
        val ceil = isqrt(BigInt(na) * nb)
        // half the dots hug the tau threshold, half are uniform in range
        val dot =
          if (rnd.nextBoolean()) {
            val t = isqrt(BigInt(num) * na * nb / den)
            (t + rnd.nextInt(3) - 1).max(0).min(ceil)
          } else math.abs(rnd.nextLong()) % (ceil + 1)
        (dot, na, nb)
      }
      val got = triples.toDF("dot", "na", "nb")
        .withColumn("g",
          Embedding.cosineGate(col("dot"), num, den, col("na"), col("nb")))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getBoolean(3))
        .toMap
      triples.foreach { case t @ (dot, na, nb) =>
        val want = BigInt(dot) * dot * den >= BigInt(num) * na * nb
        assert(got(t) == want, s"tau=$num/$den mismatch at $t")
      }
    }
  }

  test("cosine gate past the documented decimal domain fails LOUDLY under ANSI") {
    // norms past the doc'd ~1e34-product bound overflow decimal(38,0);
    // under Spark 4's default ANSI mode that is an ERROR, not a
    // silently dropped pair — pin the loud failure so the exactness
    // domain stays a visible contract
    val na = 1L << 62
    val df = Seq((na - 1, na, na)).toDF("dot", "na", "nb")
      .withColumn("g",
        Embedding.cosineGate(col("dot"), 81L, 100L, col("na"), col("nb")))
    a[Throwable] should be thrownBy df.collect()
  }

  test("cosine gate rejects tau^2 terms past the documented decimal bound") {
    an[IllegalArgumentException] should be thrownBy
      Embedding.cosineGate(col("dot"), 81L, 10001L, col("na"), col("nb"))
  }

  test("hashedShingleNearDup: dfCap drops flooded buckets, never inflates") {
    // 30 docs all sharing one hot shingle + two true near-dups
    val hot = (10L until 40L).map(i => (i, s"common shared phrase unique$i tail$i"))
    val dups = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"))
    val docs = (hot ++ dups).toDF("doc_id", "text")
    val capped = Embedding.hashedShingleNearDup(docs, "doc_id", "text",
      dim = 65536, k = 3, tauSqNum = 81L, tauSqDen = 100L, dfCap = 5L)
    val got = capped.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the true dup pair survives (its shingles are rare), the hot-
    // shingle crowd generates no candidate mass at all
    got shouldBe Set((1L, 2L))
  }

  test("sizedShingleDim: pow2 grid, clamps, kernel-exact position count") {
    // 4 docs, 6 tokens each -> 4 * (6-3+1) = 16 positions at k=3;
    // one short doc (2 tokens < k) contributes max(2-2, 0) = 0
    val docs = ((0L until 4L).map(i => (i, s"a b c d e f$i")) :+
      (9L, "x y")).toDF("doc_id", "text")
    // need = ceil(16/4) = 4 -> smallest pow2 >= 4 over floor 2 is 4
    Embedding.sizedShingleDim(docs, "text", k = 3, targetDf = 4L,
      minDim = 2, maxDim = 1 << 20) shouldBe 4
    // floor clamp
    Embedding.sizedShingleDim(docs, "text", k = 3, targetDf = 4L,
      minDim = 64, maxDim = 1 << 20) shouldBe 64
    // ceiling clamp
    Embedding.sizedShingleDim(docs, "text", k = 3, targetDf = 1L,
      minDim = 2, maxDim = 8) shouldBe 8
    // non-pow2 bounds are rejected loudly (the oracle grid contract)
    an[IllegalArgumentException] should be thrownBy
      Embedding.sizedShingleDim(docs, "text", minDim = 3)
    // empty corpus -> the floor, not an NPE
    Embedding.sizedShingleDim(docs.filter(col("doc_id") < 0), "text",
      minDim = 128) shouldBe 128
  }

  test("sizedShingleDimFromIndex equals the corpus-scan form integer-for-integer") {
    import graft.ops.Dedup
    // edge docs on purpose: a short doc (< k tokens, zero positions but
    // ALSO zero index rows), a repeated-shingle doc (distinct index rows
    // < positions — the mass must come from pos, not a row count)
    val docs = ((0L until 4L).map(i => (i, s"a b c d e f$i")) ++ Seq(
      (9L, "x y"), (10L, "t t t t t t t t"))).toDF("doc_id", "text")
    val ix = Dedup.shingleFpRowsWithPos(docs, "doc_id", "text", k = 3)
    for ((td, mn) <- Seq((4L, 2), (4L, 64), (1L, 2)))
      Embedding.sizedShingleDimFromIndex(ix, targetDf = td,
        minDim = mn, maxDim = 1 << 20) shouldBe
        Embedding.sizedShingleDim(docs, "text", k = 3, targetDf = td,
          minDim = mn, maxDim = 1 << 20)
    // empty corpus -> the floor from both forms
    Embedding.sizedShingleDimFromIndex(
      Dedup.shingleFpRowsWithPos(docs.filter(col("doc_id") < 0),
        "doc_id", "text", k = 3), minDim = 128) shouldBe 128
    // the Jaccard consumers' projection sees the exact shingleFpRows frame
    ix.select("id", "s").exceptAll(
      Dedup.shingleFpRows(docs, "doc_id", "text", k = 3)).count() shouldBe 0L
    Dedup.shingleFpRows(docs, "doc_id", "text", k = 3)
      .exceptAll(ix.select("id", "s")).count() shouldBe 0L
  }

  test("corpus-sized dim restores recall where a fixed dim saturates") {
    // 40 near-dup pairs with mutually disjoint vocabularies: every pair
    // is cosine ~1, no cross-pair similarity. At dim=4 every bucket
    // collects ~all 80 docs -> df > dfCap=50 -> ALL buckets dropped ->
    // zero pairs (the scale-ladder failure in miniature).
    // sizedShingleDim picks a dim that keeps bucket df near the
    // target (well under the cap, the production headroom), and all
    // 40 pairs come back.
    val docs = (0L until 40L).flatMap { g =>
      // 18 shared body tokens -> 17 shingles per doc, 16 shared:
      // dot²·100 = 16²·100 ≥ 81·17·17 (cosine 16/17 ≈ 0.941 ≥ 0.9)
      val body = (0 until 18).map(t => s"w${g}_$t").mkString(" ")
      Seq((2 * g, s"$body endA$g"), (2 * g + 1, s"$body endB$g"))
    }.toDF("doc_id", "text")
    val fixed = Embedding.hashedShingleNearDup(docs, "doc_id", "text",
      dim = 4, k = 3, tauSqNum = 81L, tauSqDen = 100L, dfCap = 50L)
    fixed.count() shouldBe 0L
    val dim = Embedding.sizedShingleDim(docs, "text", k = 3, targetDf = 2L,
      minDim = 1 << 10)
    val auto = Embedding.hashedShingleNearDup(docs, "doc_id", "text",
      dim = dim, k = 3, tauSqNum = 81L, tauSqDen = 100L, dfCap = 50L)
    val got = auto.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    got shouldBe (0L until 40L).map(g => (2 * g, 2 * g + 1)).toSet
  }
}
