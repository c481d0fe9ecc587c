package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Tier-6 substring (span-level) dedup: sampled char-k-gram
  * fingerprints. Small k (8) + empty selector (sample everything) make
  * the tests exhaustive; the queries pin the sampled (k=40, sel="0")
  * form against DuckDB.
  */
class SpanDedupSpec extends SparkSpec {
  import spark.implicits._

  private val span = "SHARED-VERBATIM-PASSAGE-ONE-TWO-THREE-FOUR"
  private val docs = Seq(
    (1L, s"alpha beta gamma $span delta epsilon"),
    (2L, s"totally different framing here $span with another tail"),
    // digits only: shares no 8-char window with the alpha docs above
    (3L, "0123456789 9876543210 1357924680 2468013579"),
    (4L, "short")) // under k chars -> zero fingerprints
    .toDF("doc_id", "text")

  test("spanFingerprints samples every k-gram with an empty selector and is distinct per doc") {
    val fp = Dedup.spanFingerprints(docs, "doc_id", "text", k = 8, sel = "")
    val byDoc = fp.groupBy("id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 4 is shorter than k: no rows at all
    byDoc.get(4L) shouldBe None
    // a doc with all-distinct 8-grams yields len - k + 1 fingerprints
    val len3 = docs.filter($"doc_id" === 3L)
      .select(org.apache.spark.sql.functions.length($"text"))
      .head().getInt(0)
    byDoc(3L) shouldBe ((len3 - 8 + 1).toLong: java.lang.Long)
    // distinct contract: no (id, h) dup rows
    fp.count() shouldBe fp.dropDuplicates("id", "h").count()
  }

  test("selector prefix keeps exactly the digests that start with it") {
    val all = Dedup.spanFingerprints(docs, "doc_id", "text", k = 8, sel = "")
    val sel = Dedup.spanFingerprints(docs, "doc_id", "text", k = 8, sel = "0")
    sel.collect().foreach(r => r.getString(1) should startWith("0"))
    sel.count() shouldBe all.filter($"h".startsWith("0")).count()
  }

  test("duplicateSpanPairs surfaces the planted shared span and nothing else") {
    // k=8, sample everything: the 42-char planted span alone shares
    // 42-8+1 = 35 grams between docs 1 and 2
    val pairs = Dedup.duplicateSpanPairs(docs, "doc_id", "text",
      k = 8, sel = "", minShared = 2, dfCap = 0)
    val m = pairs.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    m.keySet shouldBe Set((1L, 2L))
    // >= the span's own grams (boundary grams may add a few shared ones)
    m((1L, 2L)) should be >= 35L
  }

  test("dfCap bounds a planted hot span; surfaced pairs keep EXACT counts") {
    // 30 docs sharing one hot 20-char block (13 hot 8-grams, df=30 each)
    // plus per-doc digit filler that shares nothing: uncapped, the hot
    // block alone surfaces all C(30,2)=435 pairs; dfCap=8 drops the hot
    // grams from candidate generation so those pairs vanish (recall
    // contract: a pair is lost only when EVERY shared gram is over-cap)
    val hot = (10L until 40L).map(i =>
      (i, f"HOT-BLOCK-REPEATED-X doc$i%03d-${i * 7919}%06d-${i * 104729}%09d"))
    val wide = (docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ++ hot)
      .toDF("doc_id", "text")
    val uncapped = Dedup.duplicateSpanPairs(wide, "doc_id", "text",
      k = 8, sel = "", minShared = 2, dfCap = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val capped = Dedup.duplicateSpanPairs(wide, "doc_id", "text",
      k = 8, sel = "", minShared = 2, dfCap = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    uncapped.size should be >= 435
    // the hot-block quadratic is gone...
    capped.keySet.count(p => p._1 >= 10L) shouldBe 0
    // ...the organic pair survives (many low-df shared grams)...
    capped.keySet shouldBe Set((1L, 2L))
    // ...and every surfaced pair's count equals the uncapped truth
    // (the over-cap supplement restores hot-gram contributions)
    capped.foreach { case (p, n) => n shouldBe uncapped(p) }
  }

  test("spanDupProfile: ratios reflect the duplicated fraction; short docs carry nulls") {
    val prof = Dedup.spanDupProfile(docs, "doc_id", "text", k = 8, sel = "")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    prof.keySet shouldBe Set(1L, 2L, 3L, 4L)
    val (n4, d4, ratio4) = prof(4L)
    n4 shouldBe 0L; d4 shouldBe 0L; ratio4 shouldBe None
    val (n3, d3, ratio3) = prof(3L)
    d3 shouldBe 0L; ratio3 shouldBe Some(0.0); n3 should be > 0L
    // docs 1 and 2 share the span: dup counts > 0, ratio strictly between 0 and 1
    Seq(1L, 2L).foreach { id =>
      val (n, d, ratio) = prof(id)
      d should be > 0L
      ratio.get should (be > 0.0 and be < 1.0)
      d.toDouble / n shouldBe ratio.get
    }
  }

  test("spanPairsIncremental equals full span pairs restricted to cross pairs") {
    val wide = (docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ++
      Seq((5L, s"a second host of $span appears here too"),
        (6L, "yet another fully unrelated body of words entirely")))
      .toDF("doc_id", "text")
    val corpus = wide.filter($"doc_id" % 2 === 0)
    val batch = wide.filter($"doc_id" % 2 === 1)
    val idx = Dedup.spanFingerprints(corpus, "doc_id", "text", k = 8, sel = "")
      .select($"id", xxhash64($"h").as("s"))
    val inc = Dedup.spanPairsIncremental(
        Dedup.spanBatchFingerprints(batch, "doc_id", "text", k = 8, sel = ""), idx,
        minShared = 2, dfCap = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val full = Dedup.duplicateSpanPairs(wide, "doc_id", "text",
        k = 8, sel = "", minShared = 2, dfCap = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .collect { case (a, b, n) if a % 2 != b % 2 =>
        (if (a % 2 == 1) (a, b) else (b, a)) -> n
      }.toMap
    inc shouldBe full
    inc.keySet should contain((1L, 2L)) // planted cross pair
  }

  test("span index round-trips through a bucketed table; batch probe keeps corpus in place") {
    val name = "span_idx_rt"
    try {
      val direct = Dedup.spanFingerprints(docs, "doc_id", "text", k = 8, sel = "")
        .select($"id", xxhash64($"h").as("s"))
      // the standing index: fingerprints bucketed by the probe's join key
      direct.write.bucketBy(4, "s").saveAsTable(name)
      val loaded = spark.table(name)
      loaded.count() shouldBe direct.count()
      val batch = Seq((100L, s"fresh doc embedding $span once more")).toDF("doc_id", "text")
      val batchFp = Dedup.spanBatchFingerprints(batch, "doc_id", "text", k = 8, sel = "")
      val viaTable = Dedup.spanPairsIncremental(batchFp, loaded, minShared = 2, dfCap = 0)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val viaFrame = Dedup.spanPairsIncremental(batchFp, direct, minShared = 2, dfCap = 0)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      viaTable shouldBe viaFrame
      viaTable.keySet shouldBe Set((100L, 1L), (100L, 2L)) // both span hosts
      // bucketed layout: the probe join plans with NO exchange on the
      // corpus side (only the batch shuffles to the stored bucketing)
      val plan = Dedup.spanPairsIncremental(batchFp, loaded, minShared = 2, dfCap = 0)
        .queryExecution.executedPlan.toString
      plan should not include "CartesianProduct"
    } finally spark.sql(s"DROP TABLE IF EXISTS $name")
  }

  test("span pair plan: no cartesian product, fingerprint explode below the exchange") {
    val p = Dedup.duplicateSpanPairs(docs, "doc_id", "text",
      k = 8, sel = "0", minShared = 2).queryExecution.executedPlan.toString
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
    // no Exchange row may carry the raw text column — only ids and
    // 8-byte fingerprints shuffle
    p.linesIterator.filter(_.contains("Exchange")).foreach { line =>
      line should not include "text"
    }
  }

  test("fused kernel == relational pipeline, on ASCII and multi-byte text") {
    // multi-byte doc exercises the codepoint-exact fallback (Spark
    // substr counts codepoints; the kernel must match digest-for-digest)
    val mixed = docs.union(Seq(
      (5L, "héllo wörld ünïcode çontent — päragraph füll of ümlauts héllo wörld"),
      (6L, "日本語のテキストです 同じ部分文字列 日本語のテキストです 同じ部分文字列!")
    ).toDF("doc_id", "text"))
    for (sel <- Seq("", "0", "ab"); k <- Seq(4, 8)) {
      val fused = Dedup.spanFingerprints(mixed, "doc_id", "text", k, sel)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val plain = Oracles.spanFingerprintsUnfused(mixed, "doc_id", "text", k, sel)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      withClue(s"k=$k sel='$sel': ") { fused shouldBe plain }
    }
  }

  test("fused fingerprint plan has no exchange at all (dedup is in-kernel)") {
    val p = Dedup.spanFingerprints(docs, "doc_id", "text", k = 8, sel = "0")
      .queryExecution.executedPlan.toString
    p should not include "Exchange"
  }

  test("fused kernel == relational pipeline on a randomized mixed corpus") {
    // seeded random strings over a small alphabet (forces gram repeats
    // within docs, exercising the in-kernel dedup) with multi-byte
    // characters mixed in (exercising the codepoint fallback)
    val rnd = new scala.util.Random(7)
    val alphabet = "ab c0é日"
    val rdocs = (0L until 40L).map { i =>
      val len = rnd.nextInt(60)
      (i, (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    }.toDF("doc_id", "text")
    for (sel <- Seq("", "0"); k <- Seq(3, 6)) {
      val fused = Dedup.spanFingerprints(rdocs, "doc_id", "text", k, sel)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val plain = Oracles.spanFingerprintsUnfused(rdocs, "doc_id", "text", k, sel)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      withClue(s"k=$k sel='$sel': ") { fused shouldBe plain }
    }
  }
}
