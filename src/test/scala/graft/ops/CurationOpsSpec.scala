package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Boilerplate detection + vocabulary extraction (Curation's corpus-level
  * operators; oracle rows `text_boilerplate` / `text_vocab` pin them
  * against DuckDB on real data — these specs pin the semantics on
  * hand-built corpora where the expected values are derivable by eye).
  */
class CurationOpsSpec extends SparkSpec {
  import spark.implicits._

  // src-a stamps "home about contact" on 3 of its 4 docs; src-b shares
  // the same phrase in only 1 doc, so per-source scoping must NOT mark it
  private val docs = Seq(
    (1L, "home about contact alpha beta gamma", "src-a"),
    (2L, "home about contact delta epsilon zeta", "src-a"),
    (3L, "home about contact eta theta iota", "src-a"),
    (4L, "kappa lambda mu nu xi omicron", "src-a"),
    (5L, "home about contact pi rho sigma", "src-b"),
    (6L, "tau upsilon phi chi psi omega", "src-b")
  ).toDF("doc_id", "text", "source")

  test("boilerplateNgrams finds per-source repeated phrases only") {
    val b = Curation.boilerplateNgrams(docs, k = 3, minDocs = 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    b should contain(("src-a", "home about contact", 3L))
    // the phrase never reaches the threshold inside src-b
    b.map(_._1).toSet shouldBe Set("src-a")
    // only the shared prefix clears minDocs — doc-unique trigrams don't
    b.map(_._2).foreach(_ should startWith("home"))
  }

  test("boilerplateStats measures each doc against its own source's phrases") {
    val st = Curation.boilerplateStats(docs, k = 3, minDocs = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // 6 tokens -> 4 distinct trigrams; docs 1-3 carry exactly the marked
    // prefix trigram ("home about contact"); "about contact X" etc. are
    // doc-unique so only 1 of 4 shingles is boilerplate
    st(1L) shouldBe ((4L, 1L))
    st(2L) shouldBe ((4L, 1L))
    st(3L) shouldBe ((4L, 1L))
    st(4L) shouldBe ((4L, 0L))
    st(5L) shouldBe ((4L, 0L)) // src-b: below threshold there
    st(6L) shouldBe ((4L, 0L))
  }

  test("vocabulary returns exact tf and df, empty tokens dropped") {
    val corpus = Seq(
      (1L, "a b b  c"), // double space -> empty token, must not count
      (2L, "b c c"),
      (3L, "a")
    ).toDF("doc_id", "text")
    val v = Curation.vocabulary(corpus)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    v shouldBe Map(
      "a" -> ((2L, 2L)), // tf 2 across docs 1,3
      "b" -> ((3L, 2L)), // 2 in doc1 + 1 in doc2
      "c" -> ((3L, 2L)))
  }

  test("vocabulary minDf filters rare tokens") {
    val corpus = Seq((1L, "x y"), (2L, "x z")).toDF("doc_id", "text")
    Curation.vocabulary(corpus, minDf = 2).collect()
      .map(_.getString(0)).toSeq shouldBe Seq("x")
  }

  test("bpePairStats counts char pairs weighted by token frequency") {
    val corpus = Seq(
      (1L, "aba ab x"), // 'ab' from aba(1) + ab(1); 'ba' from aba; x too short
      (2L, "ab")        // ab again -> tf(ab)=2
    ).toDF("doc_id", "text")
    val p = Curation.bpePairStats(corpus)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    p shouldBe Map("ab" -> 3L, "ba" -> 1L) // aba once + ab twice
  }

  test("bpePairStats is code-point based (surrogate pairs stay whole)") {
    val corpus = Seq((1L, "a😀b")).toDF("doc_id", "text") // a😀b
    val p = Curation.bpePairStats(corpus)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    p shouldBe Map("a😀" -> 1L, "😀b" -> 1L)
  }

  test("tfidfTopTerms ranks doc-specific terms above corpus-wide ones") {
    // "the" appears in every doc (df=3 -> idf 1), "quark" only in doc 1
    val corpus = Seq(
      (1L, "the quark quark the model"),
      (2L, "the boson field the"),
      (3L, "the lattice gauge the")
    ).toDF("doc_id", "text")
    val top = Curation.tfidfTopTerms(corpus, topN = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(5).toLong))
    // doc 1: quark (tf=2, df=1 -> score 6.0) > model (tf=1, df=1 -> 3.0)
    // > the (tf=2 but df=3 -> 2.0): rarity outweighs raw frequency
    top.filter(_._1 == 1L).sortBy(_._3).map(_._2) shouldBe Seq("quark", "model")
    // rank is dense per doc, topN bounds it
    top.groupBy(_._1).values.foreach(_.map(_._3).sorted shouldBe Seq(1L, 2L))
  }

  test("tfidfTopTerms tie-breaks equal scores by token ascending") {
    val corpus = Seq((1L, "b a"), (2L, "c d")).toDF("doc_id", "text")
    // in doc 1 both tokens have tf=1, df=1 -> equal score; 'a' must rank 1
    val top = Curation.tfidfTopTerms(corpus, topN = 2)
      .filter(col("doc_id") === 1L)
      .collect().map(r => (r.getString(1), r.getInt(5).toLong))
    top.sortBy(_._2).map(_._1) shouldBe Seq("a", "b")
  }

  test("boilerplate pipeline shuffles only at the two aggregations and the join") {
    // plan-shape guard: the shingle explode itself must stay shuffle-free
    val sh = Dedup.shingleRowsKeep(docs, Seq("doc_id", "source"), "text", 3)
    val plan = sh.queryExecution.executedPlan.toString
    plan should not include "Exchange"
    plan should include("Generate")
  }

  test("docRarity: mean corpus tf, duplicates counted, exact integers") {
    val corpus = Seq(
      (1L, "the the rare"),   // tf(the)=4 (2 here + 2 in doc 2), tf(rare)=1
      (2L, "the the common")  // tf(common)=1
    ).toDF("doc_id", "text")
    val out = Curation.docRarity(corpus)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    out(1L) shouldBe ((3L, 9L, 3.0))  // 4+4+1 over 3 tokens
    out(2L) shouldBe ((3L, 9L, 3.0))
  }

  test("quantileGate drops at most dropFrac·n rows and keeps every outranking row") {
    val scored = (1 to 1000).map(i => (i.toLong, (i % 997).toDouble / 997.0))
      .toDF("id", "score")
    for (frac <- Seq(0.1, 0.25, 0.5)) {
      val kept = Curation.quantileGate(scored, "score", frac)
        .select("id", "score").collect().map(r => (r.getLong(0), r.getDouble(1)))
      val dropped = 1000 - kept.length
      withClue(s"dropFrac=$frac: ") {
        dropped should be <= (frac * 1000).toInt
        // threshold semantics: every kept row's quantized score >= every
        // dropped row's — the gate never drops a row that outranks a keeper
        val keptQ = kept.map(t => math.floor(t._2 * 1e6).toLong)
        val dropQ = scored.collect().map(r => (r.getLong(0), r.getDouble(1)))
          .filterNot(t => kept.map(_._1).toSet(t._1))
          .map(t => math.floor(t._2 * 1e6).toLong)
        if (dropQ.nonEmpty) keptQ.min should be > dropQ.max
      }
    }
    // dropFrac=0 is the identity
    Curation.quantileGate(scored, "score", 0.0).count() shouldBe 1000
  }

  test("quantileGate histogram stays tiny and the gate join is a 1-row cross") {
    val scored = (1 to 100).map(i => (i.toLong, i.toDouble / 100.0)).toDF("id", "score")
    val plan = Curation.quantileGate(scored, "score", 0.25)
      .queryExecution.executedPlan.toString
    // the corpus side must NOT be exchanged for the gate: the threshold
    // rides a nested-loop join of ONE row against the scored frame
    plan should include("NestedLoopJoin")
  }

  test("groupQuantiles returns the exact order statistic per group") {
    val rows = (1 to 100).map(i => (s"g${i % 2}", i.toDouble / 100.0))
    val scored = rows.toDF("grp", "score")
    val got = Curation.groupQuantiles(scored, "grp", "score", Seq(0.5, 0.9))
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    // quantized buckets floor at 1e-6 below the true score
    // g0: scores .02,.04,...,1.00 (n=50); median = 25th smallest = .50
    got(("g0", 0.5)) shouldBe 0.50 +- 2e-6
    got(("g0", 0.9)) shouldBe 0.90 +- 2e-6
    // g1: scores .01,.03,...,.99 (n=50); median = 25th = .49
    got(("g1", 0.5)) shouldBe 0.49 +- 2e-6
    got(("g1", 0.9)) shouldBe 0.89 +- 2e-6
  }

  test("groupPercentile is the exact within-group empirical CDF") {
    val rows = Seq(
      (1L, "a", 0.1), (2L, "a", 0.2), (3L, "a", 0.2), (4L, "a", 0.9),
      (5L, "b", 0.5), (6L, "b", 0.7))
    val scored = rows.toDF("id", "grp", "score")
    val got = Curation.groupPercentile(scored, "grp", "score")
      .select("id", "pct").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // group a (n=4): strictly-below counts are 0, 1, 1, 3
    got(1L) shouldBe 0.0
    got(2L) shouldBe 0.25
    got(3L) shouldBe 0.25 // ties share a percentile
    got(4L) shouldBe 0.75
    // group b (n=2)
    got(5L) shouldBe 0.0
    got(6L) shouldBe 0.5
  }

  test("groupPercentile windows run over the histogram, not the corpus") {
    val scored = (0 until 1000)
      .map(i => (i.toLong, s"g${i % 3}", (i % 10) / 10.0)).toDF("id", "grp", "score")
    val out = Curation.groupPercentile(scored, "grp", "score")
    out.count() shouldBe 1000
    // every pct in [0, 1); max strictly below 1 since the top row's
    // below-count is n-1 at most
    val pcts = out.select("pct").collect().map(_.getDouble(0))
    pcts.foreach { p => p should be >= 0.0; p should be < 1.0 }
    // plan: the window's exchange carries __q histogram rows — assert
    // the window sits above an Aggregate, not above the raw scan
    val plan = out.queryExecution.optimizedPlan.toString
    plan should include("Window")
    "Window".r.findAllMatchIn(plan).size shouldBe 1
  }

  test("classifierGate keeps exactly the rows with positive logit") {
    // weights isolate one feature each: with only wAlpha set, the gate
    // is a pure alpha-ratio threshold at bias
    val d = Seq(
      (1L, "abcde fghij"),   // alpha ratio 10/11
      (2L, "!!!!! !!!!!")    // alpha ratio 0
    ).toDF("doc_id", "text")
    val kept = Curation.classifierGate(d, "doc_id", "text",
        Curation.QualityModel(bias = -0.5, wTokens = 0, wStop = 0, wAlpha = 1.0))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    kept.map(_._1).toSeq shouldBe Seq(1L)
    kept.head._2 shouldBe (-0.5 + 10.0 / 11.0) +- 1e-12
  }

  test("classifierGate is a shuffle-free single projection") {
    val d = Seq((1L, "a b"), (2L, "c d")).toDF("doc_id", "text")
    val out = Curation.classifierGate(d, "doc_id", "text",
      Curation.QualityModel(-1, 1, 1, 1))
    val plan = out.queryExecution.executedPlan.toString
    plan should not include "Exchange"
  }

  test("corpusDiff labels added/removed/changed/unchanged") {
    val v1 = Seq((1L, "same"), (2L, "old text"), (3L, "gone")).toDF("doc_id", "text")
    val v2 = Seq((1L, "same"), (2L, "new text"), (4L, "fresh")).toDF("doc_id", "text")
    val out = Curation.corpusDiff(v1, v2, "doc_id", "text")
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    out shouldBe Array(
      (1L, "unchanged"), (2L, "changed"), (3L, "removed"), (4L, "added"))
  }

  test("corpusDiff joins on fingerprints, never full text") {
    val v1 = Seq((1L, "x")).toDF("doc_id", "text")
    val v2 = Seq((1L, "x")).toDF("doc_id", "text")
    val out = Curation.corpusDiff(v1, v2, "doc_id", "text")
    // the optimized plan's join inputs must project md5 BELOW the join:
    // no `text` attribute may survive into or above the join
    val join = out.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.head
    join.output.map(_.name) should not contain "text"
    join.children.foreach(c => c.output.map(_.name) should not contain "text")
  }

  test("bm25Scores matches a hand-computed reference and skips no-hit docs") {
    val docs = Seq(
      (1L, "table value table"), // hits both terms
      (2L, "value only here please"),
      (3L, "nothing relevant at all"),
      (4L, "table"))
      .toDF("doc_id", "text")
    val out = Curation.bm25Scores(docs, Seq("table", "value"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    out.keySet shouldBe Set(1L, 2L, 4L) // doc 3 matches nothing
    out(1L)._1 shouldBe 2L
    out(2L)._1 shouldBe 1L
    out(4L)._1 shouldBe 1L
    // reference: nd=4, avgdl=(3+4+4+1)/4=3.0; log-free idf=(nd-df+.5)/(df+.5)
    def term(tf: Double, df: Double, dl: Double): Double =
      ((4.0 - df + 0.5) / (df + 0.5)) *
        ((tf * (1.2 + 1.0)) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl / 3.0))))
    out(1L)._2 shouldBe (term(2, 2, 3) + term(1, 2, 3)) // table then value
    out(2L)._2 shouldBe term(1, 2, 4)
    out(4L)._2 shouldBe term(1, 2, 1)
    // rarer terms outrank common ones at equal tf/dl (idf is monotone in df)
    term(1, 1, 3) should be > term(1, 3, 3)
  }

  test("ngramLmScore: pooled transition likelihood + oov against a hand model") {
    // ref bigrams: "a b" x2, "b c" x2, "a c" x1; contexts: a x3, b x2
    val ref = Seq((100L, "a b c"), (101L, "a b c"), (102L, "a c"))
      .toDF("doc_id", "text")
    val cand = Seq(
      (1L, "a b c"),   // all bigrams seen: nb=2 nh=2 hs=2+2 cs=3+2
      (2L, "c a"),     // "c a" never seen, context c never seen
      (3L, "x y z"),   // fully OOV
      (4L, "solo")     // < 2 tokens -> no bigrams, null scores
    ).toDF("doc_id", "text")
    val out = Curation.ngramLmScore(ref, cand).collect()
      .map(r => r.getLong(0) -> r).toMap
    out(1L).getLong(1) shouldBe 2L            // n_bigrams
    out(1L).getLong(2) shouldBe 2L            // n_hits
    out(1L).getLong(3) shouldBe 4L            // hit_sum = c("a b")+c("b c")
    out(1L).getLong(4) shouldBe 5L            // ctx_sum = c1(a)+c1(b)
    out(1L).getDouble(5) shouldBe 4.0 / 5.0   // lm_score
    out(1L).getDouble(6) shouldBe 0.0         // oov_rate
    out(2L).getLong(2) shouldBe 0L
    out(2L).getLong(4) shouldBe 0L            // context c never seen in ref
    out(2L).isNullAt(5) shouldBe true
    out(2L).getDouble(6) shouldBe 1.0
    out(3L).getLong(4) shouldBe 0L
    out(3L).isNullAt(5) shouldBe true         // no seen context -> no score
    out(3L).getDouble(6) shouldBe 1.0
    out(4L).getLong(1) shouldBe 0L
    out(4L).isNullAt(5) shouldBe true
    out(4L).isNullAt(6) shouldBe true
  }

  test("binaryMetrics: confusion counts and tie-aware AUC on a hand case") {
    import spark.implicits._
    // scores: pos at 3,3,5 / neg at 1,3,4 -> with ties at 3:
    // U = pairs(pos>neg) + 0.5*ties = (p3>n1)*2 + (p5>all 3) + 0.5*(two p3 vs n3)
    //   = 2 + 3 + 1.0 = 6 ; AUC = 6/9
    val df = Seq((3.0, 1), (3.0, 1), (5.0, 1), (1.0, 0), (3.0, 0), (4.0, 0))
      .toDF("score", "label")
    val m = Curation.binaryMetrics(df, "label", "score", threshold = 3.5).head()
    m.getAs[Long]("n") shouldBe 6L
    m.getAs[Long]("tp") shouldBe 1L   // only the 5.0 positive clears 3.5
    m.getAs[Long]("fp") shouldBe 1L   // the 4.0 negative
    m.getAs[Long]("fn") shouldBe 2L
    m.getAs[Long]("tn") shouldBe 2L
    m.getAs[Double]("precision") shouldBe 0.5
    m.getAs[Double]("recall") shouldBe (1.0 / 3.0)
    m.getAs[Double]("auc") shouldBe (6.0 / 9.0)
    // degenerate single-class input: AUC null, counts still exact
    val onePos = Seq((1.0, 1), (2.0, 1)).toDF("score", "label")
    val m2 = Curation.binaryMetrics(onePos, "label", "score").head()
    m2.getAs[Long]("n_neg") shouldBe 0L
    m2.isNullAt(m2.fieldIndex("auc")) shouldBe true
  }

  test("calibrationBins: exact per-bin counts and rates, negatives floor down") {
    import spark.implicits._
    val df = Seq((-0.5, 0), (0.1, 0), (0.9, 1), (1.5, 1), (1.9, 0))
      .toDF("score", "label")
    val out = Curation.calibrationBins(df, "label", "score", width = 1.0)
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    out(-1L) shouldBe ((-1.0, 1L, 0L, 0.0))   // floor(-0.5) = -1, not 0
    out(0L) shouldBe ((0.0, 2L, 1L, 0.5))
    out(1L) shouldBe ((1.0, 2L, 1L, 0.5))
  }

  test("IRLS trainer reaches GD-or-better accuracy in 6 iterations") {
    val en = (0L until 40L).map(i =>
      (i, s"the quick fox and the dog are in the yard with a ball $i", 1))
    val junk = (100L until 140L).map(i =>
      (i, s"zzz qqq xxx kkk vvv www jjj ppp mmm nnn $i", 0))
    val docs = (en ++ junk).toDF("doc_id", "text", "label")
    val w = Curation.trainQualityModelIRLS(docs, "text", "label", iters = 6)
    Curation.modelAccuracy(docs, "text", "label", w) should be >= 0.95
    w.wStop should be > 0.0
    // the trained weights serve through the codegen gate: accepted set
    // is (approximately) the English side
    val kept = Curation.classifierGate(docs, "doc_id", "text", w)
      .collect().map(_.getLong(0)).toSet
    (kept.count(_ < 100L).toDouble / 40.0) should be >= 0.9
    (kept.count(_ >= 100L).toDouble / 40.0) should be <= 0.1
  }

  test("IRLS survives degenerate inputs (single class, constant features)") {
    import spark.implicits._
    // all-positive labels with identical text: weights diverge toward
    // +inf on the separable direction but the ridge keeps the solve
    // finite and the model still predicts the only class it ever saw
    val docs = (0L until 10L).map(i => (i, "the same text", 1))
      .toDF("doc_id", "text", "label")
    val w = Curation.trainQualityModelIRLS(docs, "text", "label", iters = 4)
    Seq(w.bias, w.wTokens, w.wStop, w.wAlpha).foreach { v =>
      java.lang.Double.isFinite(v) shouldBe true
    }
    Curation.modelAccuracy(docs, "text", "label", w) shouldBe 1.0
  }

  test("importanceWeights: exact pooled counts against a hand-built bucket model") {
    import org.apache.spark.sql.functions.col
    // buckets large enough that no two distinct bigrams collide here,
    // so counts are per-bigram-exact
    val docs = Seq(
      (1L, "a b a b"),   // bigrams: "a b","b a","a b"
      (2L, "x y"),       // bigram: "x y" — never in target
      (3L, "a b"),       // bigram: "a b"
      (4L, "solo"),      // no bigrams -> NULL weight
      (10L, "a b a")     // the target slice: "a b","b a"
    ).toDF("doc_id", "text")
    val out = Curation.importanceWeightsSelf(docs, col("doc_id") === 10L,
        buckets = 1 << 20)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), Option(r.get(4))))).toMap
    // corpus counts: "a b"=4, "b a"=2, "x y"=1; target: "a b"=1, "b a"=1
    out(1L) shouldBe ((3L, 1L + 1L + 1L, 4L + 2L + 4L, Some(3.0 / 10.0)))
    out(2L) shouldBe ((1L, 0L, 1L, Some(0.0)))
    out(3L) shouldBe ((1L, 1L, 4L, Some(1.0 / 4.0)))
    out(4L) shouldBe ((0L, 0L, 0L, None))
    out(10L) shouldBe ((2L, 2L, 6L, Some(2.0 / 6.0)))
    // target-like docs outrank the out-of-distribution one
    out(1L)._4.get.asInstanceOf[Double] should be >
      out(2L)._4.get.asInstanceOf[Double]
  }

  test("ccnetBuckets: integer-exact per-group terciles, ties collapse low, nulls dropped") {
    import org.apache.spark.sql.functions.col
    // group a: 7 distinct scores -> ceil(7/3)=3 tail, ceil(14/3)=5 ->
    // middle ends at rank 5, head = top 2
    val a = (1 to 7).map(i => (i.toLong, "a", Some(i / 10.0)))
    // group b: all tied -> single bucket q == t1 -> everything 'tail'
    val b = (11 to 14).map(i => (i.toLong, "b", Some(0.5)))
    // null scores are dropped
    val n = Seq((21L, "a", None: Option[Double]))
    val df = (a ++ b ++ n).toDF("id", "g", "score")
    val out = Curation.ccnetBuckets(df, "g", "score")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("bucket")).toMap
    (1L to 3L).foreach(i => out(i) shouldBe "tail")
    (4L to 5L).foreach(i => out(i) shouldBe "middle")
    (6L to 7L).foreach(i => out(i) shouldBe "head")
    (11L to 14L).foreach(i => out(i) shouldBe "tail")
    out.contains(21L) shouldBe false
  }

  test("pipelineV4Stages: stage flow invariants hold on a mixed corpus") {
    import org.apache.spark.sql.functions.col
    // en docs carry VARYING amounts of out-of-model noise so LM scores
    // spread across buckets (identical scores would put the whole lang
    // in one tercile = all tail); de/fr score null against the en model
    val docs = (1L to 90L).map { i =>
      val (lang, text) =
        if (i % 3 == 0)
          ("en", "the cat sat on the mat" + (" zz" * (i % 7).toInt))
        else if (i % 3 == 1) ("de", s"der hund und die katze nummer $i")
        else ("fr", s"qq ww rr vv $i")
      (i, lang, text)
    }.toDF("doc_id", "lang", "text")
    val st = Curation.pipelineV4Stages(docs)
    val selected = st.selected.collect().map(_.getLong(0)).toSet
    val bucketed = st.bucketed.select("doc_id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    // bucketed docs are all DSIR survivors; kept = head+middle only
    bucketed.map(_._1).toSet.subsetOf(selected) shouldBe true
    bucketed.map(_._2).toSet.subsetOf(Set("head", "middle", "tail")) shouldBe true
    val kept = st.kept.select("bucket").collect().map(_.getString(0)).toSet
    kept should not contain "tail"
    // the summary's token accounting: n_bigrams + 1 per doc, exact
    val total = st.summary.agg(org.apache.spark.sql.functions.sum("total_tokens"))
      .head().getLong(0)
    val expect = st.kept.agg(
      org.apache.spark.sql.functions.sum(col("n_bigrams") + 1)).head().getLong(0)
    total shouldBe expect
    st.release()
  }

  test("pipelineV5Stages: contamination gate feeds the weighted mixture, caches released") {
    import org.apache.spark.sql.functions.col
    // eval split = doc_id % 10 == 0. Doc 13 repeats eval doc 10's text
    // verbatim (overlap 1.0 -> gated); other train docs are unrelated.
    val evalText = "what is the capital of france the capital of france is paris"
    // per-doc-unique shingles so ambient overlap with the bench is 0
    val docs = ((1L to 29L).filterNot(Set(10L, 13L, 20L)).map { i =>
      val lang = Seq("en", "de", "fr")((i % 3).toInt)
      (i, lang, s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i")
    } :+ (10L, "en", evalText) :+ (20L, "de", "benchzwanzig eins zwei drei vier") :+
      (13L, "en", evalText)).toDF("doc_id", "lang", "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val st = Curation.pipelineV5Stages(docs,
      shares = Map("en" -> 1L, "de" -> 1L, "fr" -> 1L))
    val clean = st.clean.select("doc_id").collect().map(_.getLong(0)).toSet
    clean should not contain 13L       // contaminated: gated out
    clean should not contain 10L       // eval split: never train
    clean should contain (11L)
    // mixed ⊆ clean, and the summary's token accounting is exact
    val mixed = st.mixed.select("doc_id").collect().map(_.getLong(0)).toSet
    mixed.subsetOf(clean) shouldBe true
    val total = st.summary.agg(org.apache.spark.sql.functions.sum("total_tokens"))
      .head().getLong(0)
    val expect = st.mixed.agg(org.apache.spark.sql.functions.sum("n_tokens"))
      .head().getLong(0)
    total shouldBe expect
    st.release()
    spark.sparkContext.getPersistentRDDs.keySet shouldBe before
  }

  test("pipelineV6Stages: cluster-keyed split audits to zero leakage, caches released") {
    import org.apache.spark.sql.functions.col
    // docs 1/2 and 3/4 are verbatim near-dup pairs (Jaccard 1.0); the
    // rest are per-doc-unique so no ambient pairs form
    val dup1 = "the quick brown fox jumps over the lazy dog again and again"
    val dup2 = "colorless green ideas sleep furiously in the long quiet night"
    val docs = ((5L to 40L).map { i =>
      (i, s"src${i % 3}", s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i")
    } :+ (1L, "src0", dup1) :+ (2L, "src1", dup1) :+
      (3L, "src2", dup2) :+ (4L, "src0", dup2)).toDF("doc_id", "source", "text")
    val st = Curation.pipelineV6Stages(docs, capPerDomain = 100L)
    // near-dup pairs share a family, hence a split — even across sources
    val lab = st.labeled.select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    lab(1L) shouldBe lab(2L)
    lab(3L) shouldBe lab(4L)
    st.audit.where(col("split_a") =!= col("split_b")).count() shouldBe 0L
    // the summary's cross-pair column is all-zero and the cap bound holds
    val sm = st.summary.collect()
    sm.foreach(r => r.getAs[Long]("n_cross_pairs") shouldBe 0L)
    sm.foreach(r => r.getAs[Long]("n_kept") should be <= r.getAs[Long]("n_docs"))
    // capped survivors respect the per-(split, domain) token cap
    st.capped.groupBy(col("split"), col("source"))
      .agg(org.apache.spark.sql.functions.sum("n_tokens").as("t"))
      .collect().foreach(r => r.getAs[Long]("t") should be <= 100L)
    // release() owns the two pipeline caches (the union-find's internal
    // localCheckpoints are per-level RDDs the closure manages itself,
    // so exact persistent-set equality is not the contract here)
    st.labeled.storageLevel.useMemory shouldBe true
    st.release()
    st.labeled.storageLevel.useMemory shouldBe false
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  test("importanceResampleExact: a corpus with zero target affinity selects nothing") {
    import org.apache.spark.sql.functions.col
    // every doc is OOD vs the target condition -> all target_hits = 0
    // -> the max-weight reference pair is (0, rh). The cross-multiplied
    // gate must NOT collapse to 0 <= 0 (keep all); the ratio gate's
    // 0-threshold semantics (keep none) are the contract.
    val docs = (1L to 40L).map(i => (i, "zz qq ww rr tt yy")).toDF("doc_id", "text")
    val w = Curation.importanceWeightsSelf(docs, col("doc_id") < 0, buckets = 256)
    Curation.importanceResampleExact(w).count() shouldBe 0L
    Oracles.importanceResampleFrom(w).count() shouldBe 0L // double gate agrees
  }

  test("importanceResampleExact equals the double gate on off-boundary weights") {
    import org.apache.spark.sql.functions.col
    // a varied corpus: mixed target-likeness, repeated phrases, OOD docs
    // — weight ratios land off the 1e-6 quantization boundaries, where
    // the integer cross-multiplied gate and the IEEE divide chain must
    // select the SAME rows
    val phrases = Seq("the cat sat on the mat", "a dog ran in the park",
      "zz qq ww rr tt", "the dog sat on a mat near the park",
      "numbers one two three four", "the the the cat cat")
    val docs = (1L to 240L).map { i =>
      val t = phrases((i % phrases.size).toInt) +
        (if (i % 5 == 0) " the cat" else "") + s" tail${i % 7}"
      (i, t)
    }.toDF("doc_id", "text")
    val w = Curation.importanceWeightsSelf(docs,
      col("doc_id") % 3 === 0, buckets = 1024)
    val exact = Curation.importanceResampleExact(w)
      .collect().map(_.getLong(0)).sorted
    val dbl = Oracles.importanceResampleFrom(w)
      .collect().map(_.getLong(0)).sorted
    exact shouldBe dbl
    exact should not be empty
  }

  test("bpeTrain reproduces the classic Sennrich example by hand") {
    // low x5, lower x2, newest x6, widest x3 — pair counts give
    // (e,s)=9 (tie with (s,t)=9, broken left-asc), then (es,t)=9,
    // then (l,o)=7 (tie with (o,w), left-asc), then (lo,w)=7
    val docs = Seq(
      (1L, (Seq.fill(5)("low") ++ Seq.fill(2)("lower")).mkString(" ")),
      (2L, (Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")))
      .toDF("doc_id", "text")
    val merges = Curation.bpeTrain(docs, numMerges = 4)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    merges shouldBe Array(
      (0L, "e", "s", 9L),
      (1L, "es", "t", 9L),
      (2L, "l", "o", 7L),
      (3L, "lo", "w", 7L))
  }

  test("bpeSegmentWord applies trained merges; replace convention pinned") {
    val merges = Array(Array("e", "s"), Array("es", "t"),
      Array("l", "o"), Array("lo", "w"))
    graft.functions.TextKernel.bpeSegmentWord("lowest", merges).toSeq shouldBe
      Seq("low", "est")
    graft.functions.TextKernel.bpeSegmentWord("widest", merges).toSeq shouldBe
      Seq("w", "i", "d", "est")
    // back-to-back repeats follow the left-to-right non-overlapping
    // replace convention BOTH engines share (java String.replace ==
    // SQL replace — '|a|a|a|a|' -> '|aa|a|a|', verified in DuckDB)
    graft.functions.TextKernel.bpeSegmentWord("aaaa",
      Array(Array("a", "a"))).toSeq shouldBe Seq("aa", "a", "a")
    // delimiter contract: a '|'-carrying word returns raw codepoints
    // unmerged (the trainer excludes such tokens, so no merge can
    // target them) — total, no phantom empty symbols
    graft.functions.TextKernel.bpeSegmentWord("a|b",
      Array(Array("a", "b"))).toSeq shouldBe Seq("a", "|", "b")
    // and the trainer ignores '|' tokens entirely
    val pipey = Seq((1L, "a|b a|b a|b aa aa aa aa")).toDF("doc_id", "text")
    val m = Curation.bpeTrain(pipey, numMerges = 1)
      .collect().map(r => (r.getString(1), r.getString(2)))
    m.toSeq shouldBe Seq(("a", "a"))
    // encode count over a doc: empty tokens skipped
    graft.functions.TextKernel.bpeTokenCount(
      org.apache.spark.unsafe.types.UTF8String.fromString("lowest  widest"),
      merges) shouldBe 6L
  }

  test("distributed BPE merge rounds equal the driver loop merge for merge") {
    // force the distributed path with driverDictLimit = 0 and pin
    // bit-identical merge decisions against the driver loop on a
    // dictionary that exercises every tricky corner: count ties broken
    // by byte order, back-to-back repeats (left-to-right replace),
    // multi-byte UTF-8 (é, 中) and a SUPPLEMENTARY codepoint (the
    // regex (?s)(.) split must keep the surrogate pair whole exactly
    // like the driver's codePoints())
    val docs = Seq(
      (1L, (Seq.fill(5)("low") ++ Seq.fill(2)("lower")).mkString(" ")),
      (2L, (Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")),
      (3L, (Seq.fill(4)("aaaa") ++ Seq.fill(3)("café cafés")).mkString(" ")),
      (4L, Seq.fill(3)("中文😀中").mkString(" ")))
      .toDF("doc_id", "text")
    val vocab = Curation.vocabulary(docs)
    for (merges <- Seq(3, 8)) {
      val driver = Curation.bpeTrainFromVocab(vocab, numMerges = merges)
        .orderBy("rank").collect().map(_.toSeq)
      val dist = Curation.bpeTrainFromVocab(vocab, numMerges = merges,
          driverDictLimit = 0)
        .orderBy("rank").collect().map(_.toSeq)
      dist shouldBe driver
    }
    // a long merge run (40 merges over a 40-symbol word) crosses the
    // RewriteEvery(=16) flush boundary twice mid-loop — merge
    // decisions must be unaffected (the tighter rewrite/truncation
    // cadences are pinned with explicit knobs in the incremental spec)
    val long = Seq(
      (1L, Seq.fill(4)("abcdefghijklmnopqrstuvwxyz0123456789#$%&").mkString(" ")),
      (2L, Seq.fill(2)("abcdefghijklmnopqrst").mkString(" ")))
      .toDF("doc_id", "text")
    val lv = Curation.vocabulary(long)
    val driverLong = Curation.bpeTrainFromVocab(lv, numMerges = 40)
      .orderBy("rank").collect().map(_.toSeq)
    val distLong = Curation.bpeTrainFromVocab(lv, numMerges = 40,
        driverDictLimit = 0)
      .orderBy("rank").collect().map(_.toSeq)
    // the run is long enough to flush pending merges twice (the corpus
    // exhausts at 39 merges; RewriteEvery = 16)
    driverLong.length should be >= 33
    distLong shouldBe driverLong
    // threshold boundary: dict size exactly AT the limit runs the
    // driver loop, ONE PAST it runs the distributed loop — identical
    // merges either side (the path split is an implementation seam,
    // never a semantics seam)
    val nWords = Curation.vocabulary(docs).count().toInt
    val atLimit = Curation.bpeTrainFromVocab(vocab, numMerges = 5,
        driverDictLimit = nWords)
      .orderBy("rank").collect().map(_.toSeq)
    val pastLimit = Curation.bpeTrainFromVocab(vocab, numMerges = 5,
        driverDictLimit = nWords - 1)
      .orderBy("rank").collect().map(_.toSeq)
    pastLimit shouldBe atLimit
    // exhaustion: more merges than pairs exist terminates identically
    val tiny = Seq((1L, "ab ab")).toDF("doc_id", "text")
    val d1 = Curation.bpeTrain(tiny, numMerges = 10)
      .orderBy("rank").collect().map(_.toSeq)
    val d2 = Curation.bpeTrainFromVocab(Curation.vocabulary(tiny),
        numMerges = 10, driverDictLimit = 0)
      .orderBy("rank").collect().map(_.toSeq)
    d2 shouldBe d1
    d1.length shouldBe 1 // a+b, then the single-symbol word has no pairs
  }

  test("incremental distributed BPE: delta counts, rewrite cadence, tie adversary") {
    import Curation.bpeMergeRoundsDistributedWithStats
    def dict(vocab: org.apache.spark.sql.DataFrame) = vocab
      .filter(!col("token").contains("|"))
      .orderBy(col("tf").desc, col("token")).select("token", "tf")
    // (1) wide-alphabet dictionary: the incremental trainer must land
    // the bit-identical sequence with ZERO full-frame rewrites when
    // numMerges < rewriteEvery — every decision rides the delta-
    // maintained count table alone
    val wide = Seq((1L,
      (Seq.fill(9)("ab") ++ Seq.fill(8)("cd") ++ Seq.fill(7)("ef") ++
       Seq.fill(6)("gh") ++ Seq.fill(5)("ij") ++ Seq.fill(4)("kl"))
        .mkString(" "))).toDF("doc_id", "text")
    val wv = Curation.vocabulary(wide)
    val driverWide = Curation.bpeTrainFromVocab(wv, numMerges = 6)
      .orderBy("rank").collect().map(_.toSeq)
    val (distDf, rewrites) = bpeMergeRoundsDistributedWithStats(
      dict(wv), numMerges = 6)
    distDf.orderBy("rank").collect().map(_.toSeq) shouldBe driverWide
    driverWide.length shouldBe 6
    rewrites shouldBe 0 // 6 merges < RewriteEvery — heavy cycle never ran
    // (2) rewrite-boundary equality: rewriteEvery = 2 forces flushes
    // MID-SEQUENCE (pending chain folded into the frame between
    // merges); decisions must not move. Repeat-heavy dictionary makes
    // the deltas non-trivial (back-to-back merges, left-to-right
    // replace convention), and truncateEvery = 2 crosses the
    // localCheckpoint boundary under test as well.
    val chain = Seq(
      (1L, Seq.fill(10)("aaaa").mkString(" ")),
      (2L, Seq.fill(3)("aabb").mkString(" ")))
      .toDF("doc_id", "text")
    val cv = Curation.vocabulary(chain)
    val driverChain = Curation.bpeTrainFromVocab(cv, numMerges = 6)
      .orderBy("rank").collect().map(_.toSeq)
    val (chainDf, chainRewrites) = bpeMergeRoundsDistributedWithStats(
      dict(cv), numMerges = 6, rewriteEvery = 2, truncateEvery = 2)
    chainDf.orderBy("rank").collect().map(_.toSeq) shouldBe driverChain
    chainRewrites should be >= 2 // flushed mid-loop AND crossed truncation
    // (3) the tie ADVERSARY: dictionary {"acz", "bq"} with equal tf.
    // Round-0 pairs all count 100: (a,c) < (b,q) < (c,z) in byte
    // order. Merging (a,c) births ("ac","z") at count 100, and
    // "ac" < "b", so the TRUE sequential order is (a,c), (ac,z),
    // (b,q) — a batcher that applied same-count pairs together would
    // reorder; the delta-maintained table must not. (This killed the
    // round-12 disjoint-batch prototype; kept as the regression pin.)
    val adv = Seq((1L, (Seq.fill(100)("acz") ++ Seq.fill(100)("bq"))
      .mkString(" "))).toDF("doc_id", "text")
    val av = Curation.vocabulary(adv)
    val driverAdv = Curation.bpeTrainFromVocab(av, numMerges = 3)
      .orderBy("rank").collect().map(_.toSeq)
    driverAdv.map(s => (s(1), s(2))) shouldBe
      Seq(("a", "c"), ("ac", "z"), ("b", "q"))
    val distAdv = Curation.bpeTrainFromVocab(av, numMerges = 3,
        driverDictLimit = 0)
      .orderBy("rank").collect().map(_.toSeq)
    distAdv shouldBe driverAdv
  }

  test("pipelineV7Stages: gate feeds training, merges reflect survivors only") {
    // doc 3 is pure repetition ("spam spam ...") — its top bigram covers
    // nearly all characters, so the gate drops it; were it kept, BPE
    // would spend the first merges on s-p/sp-a/spa-m instead of the
    // clean corpus's vocabulary
    val docs = Seq(
      (1L, "sa", (Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")),
      (2L, "sb", (Seq.fill(5)("low") ++ Seq.fill(2)("lower")).mkString(" ")),
      (3L, "sa", Seq.fill(40)("spam").mkString(" ")))
      .toDF("doc_id", "source", "text")
    // note these tiny docs are word-repetitious by construction, and
    // the occurrence-mass ppm exceeds 1e6 under overlap: doc1 ~1.05e6,
    // doc2 ~0.90e6, doc3 ~1.76e6 — the 1.2e6 gate separates them
    val st = Curation.pipelineV7Stages(docs, maxTopBigramPpm = 1200000L,
      numMerges = 4)
    try {
      st.keptIds.collect().map(_.getLong(0)).sorted shouldBe Array(1L, 2L)
      // trained on the CLEAN survivors -> the classic Sennrich merges
      st.merges.map(m => (m(0), m(1))).toSeq shouldBe
        Seq(("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w"))
      val sum = st.summary.collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
        .toMap
      // sa: 2 docs, 1 kept (the spam doc dropped); newest/widest ->
      // n,e,w,est / w,i,d,est = 4 symbols each
      sum("sa") shouldBe ((2L, 1L, 1L, 6L * 4L + 3L * 4L))
      // sb: low -> "low" 1 symbol, lower -> low,e,r 3 symbols
      sum("sb") shouldBe ((1L, 1L, 0L, 5L * 1L + 2L * 3L))
    } finally st.release()
  }

  test("mixtureReweight converges toward the hard stratum on a skewed corpus") {
    // 'hard': 100 docs with doc-unique bigrams (only SELECTED docs'
    // bigrams enter the proxy model, so its miss rate ≈ unselected
    // share); 'easy': 10 docs sharing one bigram set (always covered).
    // DoReMi's ascent must shift weight toward 'hard' round over round,
    // which raises its selected share and lowers its miss.
    val hard = (1L to 100L).map(i => (i, "hard", s"h${i}a h${i}b h${i}c h${i}d"))
    val easy = (1001L to 1010L).map(i => (i, "easy", "e0 e1 e2 e3"))
    val docs = (hard ++ easy).toDF("doc_id", "lang", "text")
    val audit = Curation.mixtureReweight(docs, "lang", "doc_id", "text",
        initShares = Map("hard" -> 1L, "easy" -> 1L), rounds = 3)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    audit.length shouldBe 6 // 3 rounds x 2 strata
    // every row satisfies the exact update identities: wa = wb·(1000 +
    // miss) / g with g the gcd of the round's raw updated vector (the
    // lossless renormalization reweightShares applies)
    audit.groupBy(_._1).foreach { case (_, rows) =>
      val raws = rows.map { case (_, s, _, _, miss, wb, _) =>
        s -> BigInt(wb) * (1000L + miss) }.toMap
      val g = raws.values.reduce(_ gcd _)
      rows.foreach { case (_, s, nb, nh, miss, _, wa) =>
        miss shouldBe (if (nb > 0) (nb - nh) * 1000L / nb else 0L)
        BigInt(wa) shouldBe raws(s) / g
      }
    }
    // weights chain: round r's weight_before == round r-1's weight_after
    val byRound = audit.groupBy(_._1).view.mapValues(
      _.map(t => t._2 -> (t._6, t._7)).toMap).toMap
    for (r <- 2L to 3L; s <- Seq("hard", "easy"))
      byRound(r)(s)._1 shouldBe byRound(r - 1)(s)._2
    // easy is always fully covered; hard misses in round 1
    val missOf = audit.map(t => (t._1, t._2) -> t._5).toMap
    missOf((1L, "easy")) shouldBe 0L
    missOf((1L, "hard")) should be > 500L
    // the hard/easy weight RATIO strictly grows while hard still misses,
    // and hard's miss rate never increases as its share grows
    def ratio(r: Long) =
      BigDecimal(byRound(r)("hard")._2) / BigDecimal(byRound(r)("easy")._2)
    ratio(2L) should be > ratio(1L)
    ratio(3L) should be > ratio(2L)
    missOf((2L, "hard")) should be <= missOf((1L, "hard"))
    missOf((3L, "hard")) should be <= missOf((2L, "hard"))
  }

  test("pipelineV8Stages: summary weights ARE the audit's final-round weights") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val st = Curation.pipelineV8Stages(docs)
    val lastRound = st.audit.agg(max(col("round"))).head().getLong(0)
    lastRound shouldBe 2L
    val auditW = st.audit.filter(col("round") === lastRound)
      .collect().map(r => r.getString(1) -> r.getLong(6)).toMap
    st.shares shouldBe auditW // the run's shares chain from the audit
    val sumRows = st.summary.collect()
    sumRows should not be empty
    val langCounts = docs.groupBy(col("lang")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    sumRows.foreach { r =>
      r.getLong(1) shouldBe auditW(r.getString(0)) // weight column
      r.getLong(2) should be <= langCounts(r.getString(0)) // never oversample
      r.getLong(2) should be > 0L
    }
    st.release() // no-op by contract
  }

  test("mixtureReweight: gcd renormalization lifts the old round-6 ceiling") {
    // pre-gcd, round 7 from unit starts ALWAYS overflowed Long (factors
    // >= base per round). Now a 12-round schedule runs: the single
    // stratum renormalizes to weight 1 every round (gcd of a 1-vector
    // is the vector), and with two strata only irreducible ratio
    // history accumulates.
    val docs = Seq((1L, "en", "a b")).toDF("doc_id", "lang", "text")
    val audit = Curation.mixtureReweight(docs, "lang", "doc_id", "text",
      Map("en" -> 1L), rounds = 12).collect()
    audit.length shouldBe 12
    audit.foreach { r =>
      r.getLong(5) shouldBe 1L // weight_before
      r.getLong(6) shouldBe 1L // weight_after: w·factor / gcd == 1
    }
    // the sanity cap on sequential corpus passes is still enforced
    an[IllegalArgumentException] should be thrownBy
      Curation.mixtureReweight(docs, "lang", "doc_id", "text",
        Map("en" -> 1L), rounds = 33)
  }

  test("reweightShares: exact factors, gcd renormalization, loud overflow") {
    // raw update (4500, 5000), gcd 500 → lossless scale-down to (9, 10)
    Sampling.reweightShares(Map("a" -> 3L, "b" -> 5L),
      Map("a" -> 250L), eta = 2L) shouldBe Map("a" -> 9L, "b" -> 10L)
    // uniform factors cancel entirely (a converged mixture is a no-op)
    Sampling.reweightShares(Map("a" -> 2L, "b" -> 3L),
      Map("a" -> 700L, "b" -> 700L)) shouldBe Map("a" -> 2L, "b" -> 3L)
    // a single stratum never grows: gcd of a 1-vector is itself
    Sampling.reweightShares(Map("a" -> Long.MaxValue / 1000L),
      Map("a" -> 1000L)) shouldBe Map("a" -> 1L)
    // genuinely irreducible ratios still overflow LOUDLY, never wrap:
    // raw = (Long.MaxValue·1000, 1001); gcd divides 1001, so the big
    // component stays > Long.MaxValue after renormalization
    an[IllegalArgumentException] should be thrownBy
      Sampling.reweightShares(Map("a" -> Long.MaxValue, "b" -> 1L),
        Map("a" -> 0L, "b" -> 1L))
    // score domain is enforced
    an[IllegalArgumentException] should be thrownBy
      Sampling.reweightShares(Map("a" -> 1L), Map("a" -> 1001L))
    an[IllegalArgumentException] should be thrownBy
      Sampling.reweightShares(Map("a" -> 0L), Map.empty)
  }

  test("bpeTrain: 64-merge production-shape run — deterministic, total, monotone") {
    // the driver-loop bound (maxVocab · word length, corpus-independent)
    // exercised at 10x the oracle's 6-merge demo, on real testdata
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def decisions(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    val m64 = Curation.bpeTrain(docs, numMerges = 64)
    val d1 = decisions(m64)
    d1.length shouldBe 64
    d1.map(_._1) shouldBe (0L until 64L)
    d1.foreach { case (_, l, r, c) =>
      c should be >= 1L
      l should not be empty
      r should not be empty
    }
    // deterministic: a re-train reproduces every decision bit-for-bit
    decisions(Curation.bpeTrain(docs, numMerges = 64)) shouldBe d1
    // the 6-merge table is a PREFIX of the 64-merge table (greedy argmax
    // is history-deterministic), and deeper tables only shorten
    // encodings: per-doc symbol counts under 64 merges <= under 6
    val d6 = decisions(Curation.bpeTrain(docs, numMerges = 6))
    d1.take(6) shouldBe d6
    def cnt(m: Array[Array[String]]) =
      org.apache.spark.sql.classic.GraftExpressionBridge.column(
        graft.functions.BpeTokenCount(
          org.apache.spark.sql.classic.GraftExpressionBridge.expression(col("text")), m))
    val merges64 = Curation.collectMerges(Curation.bpeTrain(docs, numMerges = 64))
    val merges6 = merges64.take(6)
    val cmp = docs.select(cnt(merges64).as("c64"), cnt(merges6).as("c6"))
      .agg(sum(col("c64")).as("s64"), sum(col("c6")).as("s6"),
        count(when(col("c64") > col("c6"), 1)).as("bad"))
      .head()
    cmp.getLong(2) shouldBe 0L          // no doc ever grows
    cmp.getLong(0) should be < cmp.getLong(1) // corpus-wide strictly shorter
  }

  test("bpeTrain: maxVocab cap keeps the highest-tf words deterministically") {
    val docs = Seq((1L, (Seq.fill(10)("aa") ++ Seq.fill(2)("zz")).mkString(" ")))
      .toDF("doc_id", "text")
    // cap to 1 word: only "aa" (tf 10) trains, so the single merge is (a,a,10)
    val merges = Curation.bpeTrain(docs, numMerges = 1, maxVocab = 1)
      .collect().map(r => (r.getString(1), r.getString(2), r.getLong(3)))
    merges shouldBe Array(("a", "a", 10L))
    // numMerges beyond exhaustion stops early instead of looping
    val all = Curation.bpeTrain(docs, numMerges = 50)
    all.count() should be < 50L
  }
}
