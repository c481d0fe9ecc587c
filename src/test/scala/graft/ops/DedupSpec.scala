package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  // base text + a near-dup (one token changed) + an exact dup + an unrelated doc
  private val base = "the quick brown fox jumps over the lazy dog and runs far away today"
  private val near = "the quick brown fox jumps over the lazy cat and runs far away today"
  private val docs = Seq(
    (1L, base), (2L, near), (3L, base),
    (4L, "completely different content about spark engines and data quality checks"))
    .toDF("doc_id", "text")

  test("exactGroups groups identical texts under one keeper") {
    val out = Dedup.exactGroups(docs, "doc_id", "text")
      .orderBy("keeper").collect()
    out.length shouldBe 3
    val g = out.map(r => r.getLong(1) -> r.getLong(2)).toMap // keeper -> n
    g(1L) shouldBe 2 // docs 1 and 3
    g(2L) shouldBe 1
    g(4L) shouldBe 1
  }

  test("ngramJaccardPairs finds exact and near duplicates above tau") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 3, tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs should contain((1L, 3L)) // exact dup, jaccard 1.0
    pairs should contain((1L, 2L)) // near dup
    pairs should contain((2L, 3L))
    pairs.exists(p => p._1 == 4L || p._2 == 4L) shouldBe false
  }

  test("releasePairCaches drops the survivor caches; released frames still recompute correctly") {
    spark.catalog.clearCache()
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 3, tau = 0.5)
    val before = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the fused tail persisted its survivor frame (persistPairs default)
    val withCaches = spark.sparkContext.getPersistentRDDs.size
    withCaches should be > 0
    Dedup.releasePairCaches(spark)
    // the survivor cache is gone (the shingle-index cache, owned by the
    // clearCache harness, legitimately remains)
    spark.sparkContext.getPersistentRDDs.size should be < withCaches
    // releasing twice is a no-op, and a released result frame re-runs
    // its heavy chain rather than breaking
    Dedup.releasePairCaches(spark)
    val after = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    after shouldBe before
    spark.catalog.clearCache()
  }

  test("pair-cache registry evicts a stopped context's sessions (ADVICE r11: no driver leak)") {
    spark.catalog.clearCache()
    Dedup.releasePairCaches(spark)
    Dedup.pairCacheSessionCount shouldBe 0
    // register a survivor cache, then simulate the owning context's
    // applicationEnd (the listener calls exactly this hook); the entry
    // must drop WITHOUT releasePairCaches, so an application that stops
    // its context never leaks SessionState/plans through the registry
    Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 3, tau = 0.5)
      .collect()
    Dedup.pairCacheSessionCount should be >= 1
    Dedup.evictStoppedContext(spark.sparkContext)
    Dedup.pairCacheSessionCount shouldBe 0
    // eviction dropped refs only — the persisted blocks of a LIVE
    // context are the caller's to clear (here: the harness)
    spark.catalog.clearCache()
  }

  test("df-cap bounds candidates under a planted ubiquitous shingle") {
    // 40 distinct docs that all share one 3-gram ("common filler words"):
    // an uncapped inverted index makes all C(40,2)=780 pairs candidates
    // off that single hot shingle; with the cap the only candidates are
    // the planted near-dup pair (which shares many low-df shingles)
    val fill = "common filler words"
    val corpus = (0 until 40).map { i =>
      val body =
        if (i == 1) s"alpha$i beta0 gamma0 delta0 epsilon0 zeta0 eta0 theta0"
        else s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i theta$i"
      (i.toLong, s"$body $fill")
    }.toDF("doc_id", "text")
    // the capped pipeline still scores the true near-dup pair with
    // EXACT jaccard over the full shingle sets
    val pairs = Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
        k = 3, tau = 0.5, dfCap = 10)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    pairs.keySet shouldBe Set((0L, 1L))
    val exact = Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
        k = 3, tau = 0.5, dfCap = 0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    pairs((0L, 1L)) shouldBe exact((0L, 1L))
  }

  test("minhashLshPairs agrees with exact ngram pairs on this corpus") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 3, tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text", k = 3, tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    lsh shouldBe exact
  }

  test("minhash jaccard values match exact jaccard (verify step is exact)") {
    val byPair = Dedup.minhashLshPairs(docs, "doc_id", "text", k = 3, tau = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    byPair((1L, 3L)) shouldBe 1.0
  }

  test("simhashPairs recovers exact dups at tight tolerance") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs should contain((1L, 3L)) // identical → hamming 0
    pairs.exists(p => p._1 == 4L || p._2 == 4L) shouldBe false
  }

  test("simhashPairs recovers a one-token near-dup at matching tolerance") {
    // a 1-of-14-token change moves every bit whose signed sum sits within
    // ±2 of zero — on short docs that's many of the 63 bits, so the
    // hamming budget (and with it the pigeonhole banding) must widen
    val out = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 24)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    out.keySet should contain((1L, 2L))
    out((1L, 3L)) shouldBe 0
    // precision: every returned pair is within the budget
    all(out.values) should be <= 24
  }

  test("minhashLshIncremental equals full LSH restricted to cross pairs") {
    // corpus indexed once; a new batch carries a near-dup of corpus doc 1,
    // an exact dup of corpus doc 4, and an unrelated doc
    val corpus = docs
    val batch = Seq(
      (11L, "the quick brown fox jumps over the lazy dog and runs far away tonight"),
      (12L, "completely different content about spark engines and data quality checks"),
      (13L, "nothing in common with anything else in this tiny corpus at all"))
      .toDF("doc_id", "text")

    val idx = Dedup.minhashIndex(corpus, "doc_id", "text", k = 3)
    val inc = Dedup.minhashLshIncremental(batch, "doc_id", "text", idx, tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    // ground truth: full LSH over the union, restricted to batch x corpus
    val union = corpus.union(batch)
    val full = Dedup.minhashLshPairs(union, "doc_id", "text", k = 3, tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => (a > 10) != (b > 10) }
      .map { case (a, b, j) => if (a > 10) (a, b, j) else (b, a, j) }.toSet
    inc shouldBe full

    inc.map(p => (p._1, p._2)) should contain allOf ((11L, 1L), (12L, 4L))
    inc.exists(_._1 == 13L) shouldBe false
    // batch-internal pairs are out of scope by contract
    inc.forall(p => p._1 > 10 && p._2 <= 10) shouldBe true
    idx.unpersist() // the long-lived-app release handle
  }

  test("simhash bucketCap bounds a planted hot bucket without touching organic pairs") {
    // 30 docs sharing NO tokens pairwise except one planted near-dup
    // pair; plus the same corpus with 25 identical "boilerplate" docs
    // whose sketches all collide in every chunk (the hot bucket)
    val organic = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs far away today"),
      (2L, "the quick brown fox jumps over the lazy cat and runs far away today")) ++
      (10L until 30L).map(i => (i, s"unique$i words$i only$i here$i now$i then$i when$i how$i"))
    val boiler = (100L until 125L).map(i => (i, "identical boilerplate content repeated verbatim across the corpus"))
    val corpus = (organic ++ boiler).toDF("doc_id", "text")

    val uncapped = Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = 8,
        bucketCap = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // cap below the boilerplate cluster size: its 25x25 bucket is dropped
    val capped = Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = 8,
        bucketCap = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    uncapped should contain ((1L, 2L))
    capped should contain ((1L, 2L))              // organic pair survives
    capped.count(p => p._1 >= 100L) shouldBe 0    // hot cluster suppressed
    uncapped.count(p => p._1 >= 100L) shouldBe 25 * 24 / 2
  }

  test("minhash bandCap bounds a planted hot band without touching organic pairs") {
    // same planted-hot-bucket shape as the simhash spec: an organic
    // near-dup pair plus a 25-doc identical-boilerplate cluster whose
    // signatures collide in EVERY band (the degenerate m² bucket)
    val organic = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs far away today"),
      (2L, "the quick brown fox jumps over the lazy dog and runs far away tonight")) ++
      (10L until 30L).map(i => (i, s"unique$i words$i only$i here$i now$i then$i when$i how$i"))
    val boiler = (100L until 125L).map(i => (i, "identical boilerplate content repeated verbatim across the corpus"))
    val corpus = (organic ++ boiler).toDF("doc_id", "text")

    val uncapped = Dedup.minhashLshPairs(corpus, "doc_id", "text", tau = 0.5,
        persistIndex = false, bandCap = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.minhashLshPairs(corpus, "doc_id", "text", tau = 0.5,
        persistIndex = false, bandCap = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    uncapped should contain ((1L, 2L))
    capped should contain ((1L, 2L))              // organic pair survives
    capped.count(p => p._1 >= 100L) shouldBe 0    // hot cluster suppressed
    uncapped.count(p => p._1 >= 100L) shouldBe 25 * 24 / 2
  }

  test("incremental bandCap drops hot corpus bands, keeps organic cross pairs") {
    val organicCorpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs far away today")) ++
      (10L until 30L).map(i => (i, s"unique$i words$i only$i here$i now$i then$i when$i how$i"))
    val boiler = (100L until 125L).map(i => (i, "identical boilerplate content repeated verbatim across the corpus"))
    val corpus = (organicCorpus ++ boiler).toDF("doc_id", "text")
    val batch = Seq(
      (501L, "the quick brown fox jumps over the lazy dog and runs far away tonight"),
      (502L, "identical boilerplate content repeated verbatim across the corpus"))
      .toDF("doc_id", "text")
    val idx = Dedup.minhashIndex(corpus, "doc_id", "text", persistIndex = false)
    val uncapped = Dedup.minhashLshIncremental(batch, "doc_id", "text", idx,
        tau = 0.5, persistIndex = false, bandCap = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.minhashLshIncremental(batch, "doc_id", "text", idx,
        tau = 0.5, persistIndex = false, bandCap = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    uncapped should contain ((501L, 1L))
    uncapped.count(p => p._1 == 502L) shouldBe 25  // batch doc hits the whole cluster
    capped should contain ((501L, 1L))             // organic cross pair survives
    capped.count(p => p._1 == 502L) shouldBe 0     // hot corpus bands suppressed
  }

  test("bucketed bands table joins a batch without shuffling the corpus side") {
    // the 100 TB claim made checkable: store the index's bands table
    // bucketed by its join keys, and the band-bucket join shuffles ONLY
    // the incoming batch — the corpus side reads in place
    val conf = spark.conf
    val oldBroadcast = conf.get("spark.sql.autoBroadcastJoinThreshold")
    val oldAqe = conf.get("spark.sql.adaptive.enabled")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force a non-broadcast join
    conf.set("spark.sql.adaptive.enabled", "false") // stable plan string
    try {
      val idx = Dedup.minhashIndex(docs, "doc_id", "text", k = 3, persistIndex = false)
      spark.sql("DROP TABLE IF EXISTS corpus_bands")
      idx.bands.write.bucketBy(4, "band", "bh").saveAsTable("corpus_bands")
      val stored = spark.table("corpus_bands")

      val batch = Seq((21L, base)).toDF("doc_id", "text")
      val batchIdx = Dedup.minhashIndex(batch, "doc_id", "text", k = 3, persistIndex = false)
      val joined = batchIdx.bands.join(stored, Seq("band", "bh"))

      val plan = joined.queryExecution.executedPlan.toString
      // the corpus scan reads its buckets in place...
      plan should include ("Bucketed: true")
      // ...and the ONLY (band, bh) exchange is the batch side
      // re-bucketing to the stored table's layout (the batch's other
      // exchange is its own signature groupBy(id), upstream)
      plan.split("Exchange hashpartitioning\\(band").length - 1 shouldBe 1
      joined.count() should be > 0L // the exact dup collides in every band
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", oldBroadcast)
      conf.set("spark.sql.adaptive.enabled", oldAqe)
      spark.sql("DROP TABLE IF EXISTS corpus_bands")
    }
  }

  test("simhashPairs equals the all-pairs hamming filter (pigeonhole is lossless)") {
    // justifies the dedup_simhash query's shortcut: banding + verify
    // returns EXACTLY the pairs within the hamming budget
    val corpus = (0 until 12).map(i =>
      (i.toLong, s"tok${i % 3} alpha$i beta$i gamma${i % 2} delta$i common tail words here"))
      .toDF("doc_id", "text")
    for (h <- Seq(3, 8)) {
      val banded = Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = h)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val sk = Dedup.simhashSketches(corpus, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val allPairs = (for {
        a <- sk.keys; b <- sk.keys if a < b
        if java.lang.Long.bitCount(sk(a) ^ sk(b)) <= h
      } yield (a, b)).toSet
      withClue(s"maxHamming=$h:") { banded shouldBe allPairs }
    }
  }

  test("shingleRows: kernel, window, and HOF array forms agree exactly") {
    import docs.sparkSession.implicits._
    // include consecutive-space (empty-token) and repeated-shingle docs:
    // the three implementations must agree on tokenizer edge cases too
    val tricky = docs.union(Seq(
      (7L, "a b  c d e"), (8L, "x y x y x y x y")).toDF("doc_id", "text"))
    val kernel = Dedup.shingleRows(tricky, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val window = Oracles.shingleRowsWindow(tricky, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val arr = tricky.select(col("doc_id"), explode(Dedup.shingles(col("text"), 3)).as("s"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    kernel shouldBe window
    kernel shouldBe arr
    // short docs yield no rows
    Dedup.shingleRows(Seq((9L, "a b")).toDF("doc_id", "text"), "doc_id", "text", 3)
      .count() shouldBe 0
  }

  test("shingles produces distinct k-grams; short docs yield empty") {
    val out = Seq((1L, "a b c d"), (2L, "a b"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
      .orderBy("doc_id").collect()
    out(0).getSeq[String](1).toList shouldBe List("a b c", "b c d")
    out(1).getSeq[String](1).toList shouldBe Nil
  }

  test("connectedComponents closes pair chains into min-id clusters") {
    // chain 1-2-3 (no direct 1-3 edge), star 10-{11,12}, isolated pair 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (10L, 12L), (20L, 21L))
      .toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    cc shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L)
  }

  test("connectedComponents handles a long path and reversed edge order") {
    // worst case for min propagation: a path with the min at one end,
    // edges given high-to-low so naive single-direction passes fail
    val n = 12
    val pairs = (1 until n).map(i => (i.toLong + 1, i.toLong)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs)
    cc.count() shouldBe n
    cc.agg(countDistinct(col("cluster_id"))).head.getLong(0) shouldBe 1
    cc.agg(max(col("cluster_id"))).head.getLong(0) shouldBe 1L
  }

  test("connectedComponents: empty pairs, self-loops, duplicate edges") {
    Dedup.connectedComponents(Seq.empty[(Long, Long)].toDF("id_a", "id_b"))
      .count() shouldBe 0
    // self-loops are no-ops, duplicate/reversed edges don't distort labels
    val pairs = Seq((1L, 1L), (1L, 2L), (2L, 1L), (1L, 2L), (3L, 3L))
      .toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    cc shouldBe Map(1L -> 1L, 2L -> 1L) // pure self-loop vertices vanish
  }

  test("connectedComponents is exact under forced multi-level contraction") {
    // spread a path graph over many partitions with a tiny single-task
    // threshold, so components MUST be stitched across levels via the
    // contracted seam edges rather than inside one local union-find
    val n = 12
    val pairs = (1 until n).map(i => (i.toLong + 1, i.toLong))
      .toDF("id_a", "id_b").repartition(7)
    val rows = Dedup.connectedComponents(pairs, singleTaskEdges = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    // one row per node — a straddling node must not label twice
    rows.length shouldBe n
    rows.toMap shouldBe (1L to n.toLong).map(_ -> 1L).toMap
  }

  test("connectedComponents fails loudly when maxLevels leaves edges undrained") {
    // round-4 ADVICE: a non-drained exit silently returned UNDER-merged
    // labels (split clusters → duplicate survivors). maxLevels=0 never
    // enters the loop, so the residual-edge guard must throw.
    val pairs = Seq((2L, 1L), (3L, 2L)).toDF("id_a", "id_b")
    val e = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(pairs, maxLevels = 0)
    }
    e.getMessage should include ("undrained")
  }

  // independent in-driver union-find, the reference for CC specs
  private def driverComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      while (parent(x) != x) x = parent(x)
      x
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("connectedComponents matches a driver union-find on random graphs") {
    // seeded random graphs across densities, checked against an
    // independent in-driver union-find; singleTaskEdges=0 on odd trials
    // forces the pure multi-level contraction path
    val rnd = new scala.util.Random(20250813L)
    for (trial <- 0 until 8) {
      val n = 5 + rnd.nextInt(40)
      val m = rnd.nextInt(3 * n)
      val edges = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val expected = driverComponents(edges)
      val threshold = if (trial % 2 == 1) 0L else 4000000L
      val rows = Dedup.connectedComponents(
          edges.toDF("id_a", "id_b").repartition(5),
          singleTaskEdges = threshold)
        .collect().map(r => r.getLong(0) -> r.getLong(1))
      withClue(s"trial $trial (n=$n, m=${edges.size}, threshold=$threshold): ") {
        rows.length shouldBe expected.size // no duplicate labels per node
        rows.toMap shouldBe expected
      }
    }
  }

  test("connectedComponents handles a 10k-edge clustered graph via contraction") {
    // 1000 star clusters of 10 nodes, every 10th chained to the next —
    // the shape of real near-dup output at scale (many small clusters, a
    // few long chains); threshold forces at least one contraction level
    // before the single-task endgame
    val stars = (0 until 1000).flatMap { c =>
      val base = c * 10L
      (1 until 10).map(i => (base, base + i))
    }
    val chains = (0 until 999 by 10).map(c => (c * 10L + 9, (c + 1) * 10L))
    val edges = stars ++ chains
    val expected = driverComponents(edges)
    val rows = Dedup.connectedComponents(
        edges.toDF("id_a", "id_b").repartition(16),
        singleTaskEdges = 2000)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    rows.length shouldBe expected.size
    rows.toMap shouldBe expected
  }

  test("dropDuplicateMembers keeps canonical ids and singletons") {
    val corpus = (1L to 8L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val clusters = Dedup.connectedComponents(pairs)
    val kept = Dedup.dropDuplicateMembers(corpus, "doc_id", clusters)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // 2,3 fold into 1; 6 folds into 5; 4,7,8 are singletons
    kept shouldBe Set(1L, 4L, 5L, 7L, 8L)
  }

  test("zero-copy shingle hashes == shingleRows -> xxhash64, bit for bit") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val alphabet = Seq("alpha", "beta", "gamma", "", "日本語", "x")
    val docs = ((0L until 30L).map { i =>
      val len = rnd.nextInt(12)
      (i, (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString(" "))
    } ++ Seq((100L, "a  b   c"), (101L, " leading and trailing "), (102L, "")))
      .toDF("doc_id", "text")
    for (k <- Seq(1, 2, 3)) {
      val fused = Dedup.shingleFpRows(docs, "doc_id", "text", k)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val plain = Oracles.shingleFpRowsUnfused(docs, "doc_id", "text", k)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      withClue(s"k=$k: ") { fused shouldBe plain }
    }
  }

  test("exactGroupsBest elects the highest-score member, ties to lowest id") {
    import spark.implicits._
    val docs = Seq(
      (1L, "same body", 10L),  // group A: 2 outranks 1
      (2L, "same body", 50L),
      (3L, "other body", 7L),  // group B: tie on score -> lowest id 3
      (4L, "other body", 7L),
      (5L, "single", 1L)
    ).toDF("doc_id", "text", "q")
    val out = Dedup.exactGroupsBest(docs, "doc_id", "text", "q")
      .collect().map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3)))).toMap
    out shouldBe Map(2L -> ((50L, 2L)), 3L -> ((7L, 2L)), 5L -> ((1L, 1L)))
  }

  test("exactGroupsBest works with STRING ids (tie to lexicographic lowest)") {
    import spark.implicits._
    // the argmin negates only the score, so any ordered id type works —
    // a negated string id would be null (non-ANSI) or throw (ANSI)
    val docs = Seq(
      ("url-b", "same body", 10L),
      ("url-a", "same body", 50L),
      ("url-d", "other body", 7L),
      ("url-c", "other body", 7L)
    ).toDF("doc_id", "text", "q")
    val out = Dedup.exactGroupsBest(docs, "doc_id", "text", "q")
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    out shouldBe Map("url-a" -> 50L, "url-c" -> 7L)
  }
}
