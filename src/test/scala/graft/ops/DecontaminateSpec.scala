package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DecontaminateSpec extends SparkSpec {
  import spark.implicits._

  private val benchText = "what is the capital of france the capital of france is paris"
  // a long page embedding the benchmark verbatim: low Jaccard (its size
  // dominates the union), near-total containment
  private val contaminated = ("lots of unrelated web page chrome header nav footer " * 4) +
    benchText + " more trailing boilerplate about cookies and privacy settings on this site"
  private val clean = "an unrelated training document about spark query planning and shuffles"

  private val bench = Seq((100L, benchText)).toDF("doc_id", "text")
  private val train = Seq((1L, contaminated), (2L, clean)).toDF("doc_id", "text")

  private def shingleSet(text: String, k: Int = 3): Set[String] =
    text.split(" ").sliding(k).map(_.mkString(" ")).toSet

  test("verbatim inclusion is caught by containment but invisible to Jaccard") {
    val pairs = Decontaminate.containmentPairs(train, bench, "doc_id", "text")
      .collect().map(r => (r.getLong(1), r.getLong(0), r.getDouble(2)))
    pairs.map(p => (p._1, p._2)) shouldBe Array((100L, 1L))
    val (bs, ts) = (shingleSet(benchText), shingleSet(contaminated))
    val naive = (bs & ts).size.toDouble / bs.size
    pairs.head._3 shouldBe naive
    naive should be > 0.9
    // the same pair under symmetric Jaccard sits far below any dedup tau
    (bs & ts).size.toDouble / (bs | ts).size should be < 0.3
  }

  test("containment scores match naive set arithmetic on random near-misses") {
    val rnd = new scala.util.Random(3)
    val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    def doc() = (0 until 30).map(_ => words(rnd.nextInt(words.length))).mkString(" ")
    val b = (0L until 5L).map(i => (i, doc()))
    val t = (100L until 120L).map(i => (i, doc()))
    val got = Decontaminate.containmentPairs(
        t.toDF("doc_id", "text"), b.toDF("doc_id", "text"),
        "doc_id", "text", k = 3, tau = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val want = (for {
      (ti, tx) <- t; (bi, bx) <- b
      c = (shingleSet(tx) & shingleSet(bx)).size.toDouble / shingleSet(bx).size
      if c >= 0.1
    } yield (ti, bi) -> c).toMap
    got shouldBe want
  }

  test("df cap bounds hot shingles but the supplement keeps surfaced scores exact") {
    // every train doc shares one boilerplate sentence (hot shingles,
    // df = 40 >> cap = 5); train doc 1 ALSO embeds the benchmark's
    // unique body (low-df shingles), so its pair must surface — and its
    // containment must include the capped boilerplate contribution
    // (restored by the supplement join), i.e. match the uncapped score
    val boiler = "all rights reserved copyright notice terms of service apply here"
    val unique = "plus the unique benchmark question body"
    val b = Seq((0L, s"$boiler $unique")).toDF("doc_id", "text")
    val t = ((1L, s"$boiler $unique page one content") +:
      (2L to 40L).map(i => (i, s"$boiler unique page $i content body")))
      .toDF("doc_id", "text")
    val capped = Decontaminate.containmentPairs(t, b, "doc_id", "text",
        k = 3, tau = 0.1, dfCap = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val uncapped = Decontaminate.containmentPairs(t, b, "doc_id", "text",
        k = 3, tau = 0.1, dfCap = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    uncapped.size shouldBe 40 // all pages share the boilerplate shingles
    // docs 2..40 share ONLY over-cap shingles with bench: dropped by the
    // documented recall contract. Doc 1's pair survives via its low-df
    // unique shingles, at the EXACT full-set score.
    capped.keySet shouldBe Set((1L, 0L))
    capped((1L, 0L)) shouldBe uncapped((1L, 0L))
  }

  test("persistIndex=false yields identical pairs and leaves no cached RDDs behind") {
    // round-4 ADVICE: the shingle-frame persists had no opt-out and were
    // never released — a long-lived application accumulated executor cache
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val pairs = Decontaminate.containmentPairs(train, bench, "doc_id", "text",
        k = 3, tau = 0.5, persistIndex = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs shouldBe Set((1L, 100L))
    spark.sparkContext.getPersistentRDDs.keySet shouldBe before
  }

  test("decontaminate drops exactly the contaminated train docs") {
    val kept = Oracles.decontaminate(train, bench, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    kept shouldBe Set(2L)
  }

  test("contaminationScore: train-normalized overlap vs the bench union") {
    // doc 3 IS a benchmark item verbatim (overlap 1.0); doc 1 embeds it
    // in a big page (train-normalized overlap is LOW — the pair-level
    // containment above flags it instead); doc 4 is too short to shingle
    val t = train.union(Seq(
      (3L, benchText), (4L, "too short")).toDF("doc_id", "text"))
    val got = Decontaminate.contaminationScore(t, bench, "doc_id", "text",
        k = 3, tau = 0.5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))).toMap
    val bs = shingleSet(benchText)
    def expect(text: String) = {
      val ts = shingleSet(text)
      (ts.size.toLong, (ts & bs).size.toLong,
        if (ts.nonEmpty) (ts & bs).size.toDouble / ts.size else 0.0)
    }
    Seq(1L -> contaminated, 2L -> clean, 3L -> benchText).foreach {
      case (id, text) =>
        val (n, h, ov) = expect(text)
        got(id) shouldBe ((n, h, ov, ov >= 0.5))
    }
    got(3L)._4 shouldBe true   // verbatim benchmark: flagged
    got(1L)._4 shouldBe false  // embedded-in-big-page: per-doc score low
    got(4L) shouldBe ((0L, 0L, 0.0, false)) // unshingleable scores 0
  }

  test("contaminationScoreBloom equals the plain score; empty bench scores all zero") {
    val t = train.union(Seq((3L, benchText), (4L, "too short")).toDF("doc_id", "text"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))).toMap
    rows(Decontaminate.contaminationScoreBloom(t, bench, "doc_id", "text")) shouldBe
      rows(Decontaminate.contaminationScore(t, bench, "doc_id", "text"))
    // empty benchmark: the sketch-less path still emits the full schema
    val emptyBench = bench.filter(col("doc_id") < 0)
    val z = rows(Decontaminate.contaminationScoreBloom(t, emptyBench, "doc_id", "text"))
    z.keySet shouldBe Set(1L, 2L, 3L, 4L)
    z.values.foreach { case (_, h, ov, fl) =>
      h shouldBe 0L; ov shouldBe 0.0; fl shouldBe false
    }
  }

  test("gate reuse: one sketch build serves many clean() calls with exact results") {
    val docsA = Seq((1L, s"contains $benchText inside"),
      (2L, "nothing shared here at all with anything")).toDF("doc_id", "text")
    val docsB = Seq((3L, s"another embedding of $benchText verbatim"),
      (4L, "also fully unrelated body of words")).toDF("doc_id", "text")
    val gate = Decontaminate.bloomGate(bench, "doc_id", "text", k = 3, tau = 0.5)
    gate.clean(docsA).select("doc_id").collect().map(_.getLong(0)).toSeq shouldBe Seq(2L)
    gate.clean(docsB).select("doc_id").collect().map(_.getLong(0)).toSeq shouldBe Seq(4L)
  }
}
