package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def vecDf(rows: Seq[(Long, Seq[Double])]) =
    rows.toDF("id", "vec")

  test("dot and cosine fold deterministically") {
    val df = vecDf(Seq((1L, Seq(1.0, 2.0, 3.0)), (2L, Seq(4.0, 5.0, 6.0))))
    val a = df.filter($"id" === 1).select($"vec".as("a"))
    val b = df.filter($"id" === 2).select($"vec".as("b"))
    val d = a.crossJoin(b).select(Similarity.dot(col("a"), col("b"))).head().getDouble(0)
    d shouldBe 32.0
  }

  test("bruteForceTopK ranks by cosine, excludes self") {
    val corpus = vecDf(Seq(
      (1L, Seq(1.0, 0.0)),
      (2L, Seq(0.9, 0.1)),   // closest to 1
      (3L, Seq(0.0, 1.0)),   // orthogonal to 1
      (4L, Seq(0.7, 0.7))))
    val out = Similarity.bruteForceTopK(corpus.filter($"id" === 1), corpus, k = 2)
      .orderBy("rank").collect()
    out.map(_.getLong(1)).toList shouldBe List(2L, 4L)
    out(0).getDouble(3) should be > out(1).getDouble(3)
  }

  test("srpLshTopK recall vs brute force on a random corpus") {
    val rnd = new scala.util.Random(7)
    val corpus = vecDf((0L until 200L).map(i =>
      (i, Seq.fill(64)(rnd.nextGaussian()))))
    val queries = corpus.filter($"id" < 10)
    val exact = Similarity.bruteForceTopK(queries, corpus, k = 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.srpLshTopK(queries, corpus, k = 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 8 tables × 4 planes (OR-amplified): high recall even on unclustered data
    val recall = (exact intersect approx).size.toDouble / exact.size
    recall should be >= 0.5
    approx.size should be <= exact.size // LSH can only return fewer/equal

    // q8 twin: identical candidate bits (full-precision bucketing), so
    // its recall tracks the full-precision path — quantization only
    // reorders near-equal cosines inside a bucket
    val q8 = Similarity.srpLshTopKQ8(queries, corpus, k = 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recallQ8 = (exact intersect q8).size.toDouble / exact.size
    recallQ8 should be >= (recall - 0.1)
    q8.size shouldBe approx.size // same candidates, same per-query k
  }

  test("ivfTopK recall vs brute force; probing all cells is exact") {
    val rnd = new scala.util.Random(11)
    val corpus = vecDf((0L until 200L).map(i =>
      (i, Seq.fill(16)(rnd.nextGaussian()))))
    val queries = corpus.filter($"id" < 8)
    val exact = Similarity.bruteForceTopK(queries, corpus, k = 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val probed = Similarity.ivfTopK(queries, corpus, k = 5, nlist = 8, nprobe = 3)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect probed).size.toDouble / exact.size
    recall should be >= 0.5
    // nprobe = nlist degenerates to exact search
    val full = Similarity.ivfTopK(queries, corpus, k = 5, nlist = 8, nprobe = 8)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    full shouldBe exact
  }

  test("ivfRerankTopK: exhaustive probes + full over-fetch equal brute force; pairs dedup") {
    val rnd = new scala.util.Random(11)
    val corpus = vecDf((0L until 200L).map(i =>
      (i, Seq.fill(16)(rnd.nextGaussian()))))
    val queries = corpus.filter($"id" < 8)
    val exact = Similarity.bruteForceTopK(queries, corpus, k = 5)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // nprobe = nlist makes the candidate set the whole corpus and
    // overFetch large enough keeps ALL of it through the q8 stage, so
    // the exact re-rank must reproduce brute force RANK FOR RANK —
    // including that multi-assignment's duplicate (q, n) collisions
    // collapse before the window (a double-counted neighbor would
    // shift every later rank)
    val full = Similarity.ivfRerankTopK(queries, corpus, k = 5,
        nlist = 8, nprobe = 8, nassign = 3, overFetch = 40)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    full shouldBe exact
    // restricted probes: exactly k distinct neighbors per query, exact
    // cosines on every surviving pair (the re-rank contract)
    val rr = Similarity.ivfRerankTopK(queries, corpus, k = 5,
      nlist = 8, nprobe = 3, nassign = 2, overFetch = 4)
    val rows = rr.collect()
    rows.groupBy(_.getLong(0)).foreach { case (_, g) =>
      g.length shouldBe 5
      g.map(_.getLong(1)).distinct.length shouldBe 5
    }
    val bf = Similarity.bruteForceTopK(queries, corpus, k = 200)
      .select("query_id", "neighbor_id", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    rows.foreach { r =>
      r.getDouble(3) shouldBe bf((r.getLong(0), r.getLong(1))) +- 1e-12
    }
  }

  test("IvfRerankIndex save/load round-trips with identical top-k results") {
    val rnd = new scala.util.Random(17)
    val corpus = vecDf((0L until 120L).map(i =>
      (i, Seq.fill(12)(rnd.nextGaussian()))))
    val queries = corpus.filter($"id" < 6)
    try {
      val idx = Similarity.buildIvfRerankIndex(corpus, nlist = 8,
        nassign = 2, iters = 2)
      val direct = Similarity.ivfTopKIndexedRerank(queries, idx, k = 4,
          nprobe = 3, overFetch = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      Similarity.saveIvfRerankIndex(idx, "rrx_spec", buckets = 4)
      val loaded = Similarity.loadIvfRerankIndex(spark, "rrx_spec")
      loaded.nlist shouldBe idx.nlist
      loaded.nassign shouldBe 2
      loaded.centroids.toSeq shouldBe idx.centroids.toSeq
      val replay = Similarity.ivfTopKIndexedRerank(queries, loaded, k = 4,
          nprobe = 3, overFetch = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      replay shouldBe direct
      // the train-and-probe convenience is exactly build + probe
      val conv = Similarity.ivfRerankTopK(queries, corpus, k = 4,
          nlist = 8, nprobe = 3, nassign = 2, overFetch = 4, iters = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      conv shouldBe direct
    } finally Seq("rrx_spec_cells", "rrx_spec_vectors", "rrx_spec_centroids",
      "rrx_spec_meta").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("saved rerank index: probe scans both heavy sides in place (bucketed joins)") {
    // the standing-index contract made checkable: cells bucketed by the
    // probe key, vectors by the lookup key — the only exchanges on
    // those keys re-bucket the (small) query/survivor sides
    val conf = spark.conf
    val oldBroadcast = conf.get("spark.sql.autoBroadcastJoinThreshold")
    val oldAqe = conf.get("spark.sql.adaptive.enabled")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val rnd = new scala.util.Random(31)
      val corpus = vecDf((0L until 100L).map(i =>
        (i, Seq.fill(12)(rnd.nextGaussian()))))
      val idx = Similarity.buildIvfRerankIndex(corpus, nlist = 4,
        nassign = 2, iters = 1)
      Similarity.saveIvfRerankIndex(idx, "rrx_plan", buckets = 4)
      val loaded = Similarity.loadIvfRerankIndex(spark, "rrx_plan")
      val probed = Similarity.ivfTopKIndexedRerank(
        corpus.filter($"id" < 3), loaded, k = 3, nprobe = 2)
      val plan = probed.queryExecution.executedPlan.toString
      plan should include ("Bucketed: true")
      // one cell exchange (query side), one neighbor_id exchange
      // (survivor side) — the stored tables contribute none
      plan.split("Exchange hashpartitioning\\(cell").length - 1 shouldBe 1
      plan.split("Exchange hashpartitioning\\(neighbor_id").length - 1 shouldBe 1
      probed.count() should be > 0L
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", oldBroadcast)
      conf.set("spark.sql.adaptive.enabled", oldAqe)
      Seq("rrx_plan_cells", "rrx_plan_vectors", "rrx_plan_centroids",
        "rrx_plan_meta").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("ivfRerankTopK plan: no cross join, no broadcast hint, narrow candidate shuffle") {
    val rnd = new scala.util.Random(13)
    val corpus = vecDf((0L until 80L).map(i =>
      (i, Seq.fill(8)(rnd.nextGaussian()))))
    val df = Similarity.ivfRerankTopK(corpus.filter($"id" < 8), corpus,
      k = 3, nlist = 4, nprobe = 2, nassign = 2, overFetch = 4)
    df.queryExecution.optimizedPlan.toString should not include "strategy=broadcast"
    val physical = df.queryExecution.executedPlan.toString
    physical should not include "CartesianProduct"
    physical should not include "BroadcastNestedLoopJoin"
    // the candidate dedup aggregate sees only narrow (query_id,
    // neighbor_id, q8) rows — no vector column (not even the int8
    // payload) may cross the pair-dedup exchange: scoring happened
    // scan-side (the embeddingNearDupPairs narrow-row contract)
    df.count() // execute so AQE finalizes the plan
    def finalPlan(p: org.apache.spark.sql.execution.SparkPlan): org.apache.spark.sql.execution.SparkPlan = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val aggs = finalPlan(df.queryExecution.executedPlan).collect {
      case a: BaseAggregateExec => a.output.map(_.dataType)
    }
    aggs should not be empty
    aggs.flatten.foreach { dt =>
      dt.isInstanceOf[org.apache.spark.sql.types.ArrayType] shouldBe false
    }
  }

  test("perturbedVariants: deterministic jitter, tight clusters, IVF/RP recall ~1 on them") {
    // real testdata, the registry rows' exact construction at sf0.001
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"),
        Similarity.toDoubleVec(col("embedding")).as("vec"))
    val cl = Similarity.perturbedVariants(e, m = 6, eps = 0.02, dim = 64)
      .persist()
    try {
      cl.count() shouldBe e.count() * 6
      // deterministic: a re-build is bit-identical
      val again = Similarity.perturbedVariants(e, m = 6, eps = 0.02, dim = 64)
      cl.exceptAll(again).count() shouldBe 0L
      // the geometry is what the scaladoc claims: every query's exact
      // top-5 is its own cluster (ids sharing id div 6)
      val q = cl.filter(col("id") < 20)
      val exact = Similarity.bruteForceTopK(q, cl, k = 5)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      exact.foreach { case (qid, nid) => nid / 6 shouldBe qid / 6 }
      // and the ANN stacks recover essentially all of it (the registry
      // criterion is 0.9; actual is ~1.0 — this pins the margin)
      val exactSet = exact.toSet
      def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
        val s = df.select("query_id", "neighbor_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        (exactSet intersect s).size.toDouble / exactSet.size
      }
      recallOf(Similarity.ivfTopK(q, cl, k = 5)) should be >= 0.95
      recallOf(Similarity.rpIvfRerankTopK(q, cl, k = 5, dIn = 64, dOut = 48,
        overFetch = 16, nprobe = 8)) should be >= 0.95
    } finally cl.unpersist()
  }

  test("sizedIvfNlist: integer sqrt-ceiling on the pow2 grid, clamps") {
    // exact boundaries, no float sqrt: p is the smallest pow2 with p*p >= n
    Similarity.sizedIvfNlist(0) shouldBe 2
    Similarity.sizedIvfNlist(1) shouldBe 2
    Similarity.sizedIvfNlist(4) shouldBe 2   // 2*2 = 4 >= 4
    Similarity.sizedIvfNlist(5) shouldBe 4   // 2*2 = 4 < 5
    Similarity.sizedIvfNlist(256) shouldBe 16
    Similarity.sizedIvfNlist(257) shouldBe 32
    Similarity.sizedIvfNlist(500) shouldBe 32
    Similarity.sizedIvfNlist(2000) shouldBe 64
    // a count past the grid square saturates at the ceiling
    Similarity.sizedIvfNlist(Long.MaxValue, maxNlist = 1 << 10) shouldBe 1024
    // floor clamp
    Similarity.sizedIvfNlist(1, minNlist = 64) shouldBe 64
    an[IllegalArgumentException] should be thrownBy
      Similarity.sizedIvfNlist(10, minNlist = 3)
  }

  test("sizedSrpPlanes: integer log2-ceiling, clamps") {
    // smallest p with 32 * 2^p >= n
    Similarity.sizedSrpPlanes(0) shouldBe 2
    Similarity.sizedSrpPlanes(128) shouldBe 2   // 32*4 = 128 >= 128
    Similarity.sizedSrpPlanes(129) shouldBe 3
    Similarity.sizedSrpPlanes(3000) shouldBe 7  // 32*128 = 4096 >= 3000
    Similarity.sizedSrpPlanes(3000, targetBucket = 64) shouldBe 6
    // ceiling clamp: a huge corpus saturates at maxPlanes
    Similarity.sizedSrpPlanes(Long.MaxValue / 2, maxPlanes = 20) shouldBe 20
    // the shift comparison is exact past 2^63 (BigInt, no Long wrap):
    // 1024 << 53 = 2^63 > Long.MaxValue, so p stops at 53 — a wrapped
    // Long shift would have gone negative and run to maxPlanes
    Similarity.sizedSrpPlanes(Long.MaxValue, targetBucket = 1024,
      maxPlanes = 62) shouldBe 53
    // floor clamp
    Similarity.sizedSrpPlanes(1, minPlanes = 8) shouldBe 8
    an[IllegalArgumentException] should be thrownBy
      Similarity.sizedSrpPlanes(10, maxPlanes = 63)
  }

  test("nlist=256 cell assignment stays O(1) plan nodes and agrees with a naive argmax") {
    // round 1 inlined nlist x dim literal expressions (plan-size blowup
    // past nlist ~1k); the NearestCentroid expression carries the matrix
    // as one reference object, so the plan has a single node at any nlist
    val rnd = new scala.util.Random(13)
    val cents: Array[Seq[Double]] =
      Array.fill(256)(Seq.fill(16)(rnd.nextGaussian()))
    val corpus = vecDf((0L until 50L).map(i =>
      (i, Seq.fill(16)(rnd.nextGaussian()))))
    val colExpr = Similarity.nearestCell(col("vec"), cents)
    val planNodes = corpus.select(colExpr.as("cell")).queryExecution.analyzed
      .expressions.head.collect { case e => e }.size
    planNodes should be < 10 // one expression node + child, not 256*16 literals
    val cells = corpus.select($"id", colExpr.as("cell")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // naive driver-side argmax with the same tie semantics (>= keeps later)
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    corpus.collect().foreach { r =>
      val v = r.getSeq[Double](1)
      val expected = cents.zipWithIndex
        .map { case (c, i) => (cos(v, c), i) }
        .reduceLeft((a, b) => if (b._1 >= a._1) b else a)._2
      cells(r.getLong(0)) shouldBe expected
    }
  }

  test("IVF index save/load round-trips with identical top-k results") {
    // index-once lifecycle: train+assign -> persist bucketed by cell ->
    // reload in a later job -> probe batches with no re-training
    val rnd = new scala.util.Random(23)
    val corpus = vecDf((0L until 150L).map(i =>
      (i, Seq.fill(16)(rnd.nextGaussian()))))
    val queries = corpus.filter($"id" < 6)
    val names = Seq("_corpus", "_centroids").map("ivf_idx" + _)
    try {
      val idx = Similarity.buildIvfIndex(corpus, nlist = 8, iters = 2)
      Similarity.saveIvfIndex(idx, "ivf_idx", buckets = 4)
      val loaded = Similarity.loadIvfIndex(spark, "ivf_idx")
      loaded.nlist shouldBe 8
      loaded.centroids.map(_.toList).toList shouldBe idx.centroids.map(_.toList).toList

      def topk(i: Similarity.IvfIndex) =
        Similarity.ivfTopKIndexed(queries, i, k = 4, nprobe = 3)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      topk(loaded) shouldBe topk(idx)
      topk(loaded) shouldBe
        Similarity.ivfTopK(queries, corpus, k = 4, nlist = 8, nprobe = 3, iters = 2)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    } finally names.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("appendToIvfIndex folds a batch in without retraining; probes equal wholesale assignment") {
    val rnd = new scala.util.Random(41)
    val all = (0L until 160L).map(i => (i, Seq.fill(16)(rnd.nextGaussian())))
    val first = vecDf(all.take(100))
    val batch = vecDf(all.drop(100))
    val queries = vecDf(all.take(5))
    val names = Seq("_corpus", "_centroids").map("ivf_app" + _)
    try {
      val idx = Similarity.buildIvfIndex(first, nlist = 8, iters = 2)
      Similarity.saveIvfIndex(idx, "ivf_app", buckets = 4)
      val appended = Similarity.appendToIvfIndex(spark, batch, "ivf_app", buckets = 4)
      // centroids unchanged; corpus grew by the batch
      appended.centroids.map(_.toList).toList shouldBe idx.centroids.map(_.toList).toList
      appended.corpus.count() shouldBe 160L
      // probing the appended index == probing an index whose corpus was
      // assigned wholesale under the SAME centroids
      val wholesale = Similarity.IvfIndex(idx.centroids,
        vecDf(all).select(col("id").as("neighbor_id"), col("vec").as("cv"),
          Similarity.nearestCell(col("vec"), idx.centroids).as("cell"),
          Similarity.quantizeCol(col("vec")).as("qcv")),
        idx.nlist)
      def topk(i: Similarity.IvfIndex) =
        Similarity.ivfTopKIndexed(queries, i, k = 4, nprobe = 3)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      topk(appended) shouldBe topk(wholesale)
      // the q8 probe path sees the appended rows' pre-quantized vectors too
      def topkQ8(i: Similarity.IvfIndex) =
        Similarity.ivfTopKIndexedQ8(queries, i, k = 4, nprobe = 3)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      topkQ8(appended) shouldBe topkQ8(wholesale)
    } finally names.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("IVF index on a corpus smaller than nlist round-trips consistently") {
    val rnd = new scala.util.Random(31)
    val tiny = vecDf((0L until 6L).map(i => (i, Seq.fill(8)(rnd.nextGaussian()))))
    val names = Seq("_corpus", "_centroids").map("ivf_tiny" + _)
    try {
      val idx = Similarity.buildIvfIndex(tiny, nlist = 16, iters = 1)
      idx.nlist shouldBe idx.centroids.length // actual count, not the request
      Similarity.saveIvfIndex(idx, "ivf_tiny", buckets = 2)
      val loaded = Similarity.loadIvfIndex(spark, "ivf_tiny")
      loaded.nlist shouldBe idx.nlist
      loaded.centroids.length shouldBe idx.centroids.length
    } finally names.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("bucketed IVF corpus table joins a query batch without shuffling the corpus side") {
    // the 100 TB probe shape made checkable: with the corpus stored
    // bucketed by cell, the probe join's only cell exchange is the
    // (small) query side re-bucketing to the stored layout
    val conf = spark.conf
    val oldBroadcast = conf.get("spark.sql.autoBroadcastJoinThreshold")
    val oldAqe = conf.get("spark.sql.adaptive.enabled")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val rnd = new scala.util.Random(29)
      val corpus = vecDf((0L until 100L).map(i =>
        (i, Seq.fill(16)(rnd.nextGaussian()))))
      spark.sql("DROP TABLE IF EXISTS ivf_bucketed_corpus")
      val idx = Similarity.buildIvfIndex(corpus, nlist = 4, iters = 1)
      Similarity.saveIvfIndex(idx, "ivf_bucketed", buckets = 4)
      val loaded = Similarity.loadIvfIndex(spark, "ivf_bucketed")

      val joined = Similarity.ivfTopKIndexed(
        corpus.filter($"id" < 3), loaded, k = 3, nprobe = 2)
      val plan = joined.queryExecution.executedPlan.toString
      plan should include ("Bucketed: true")
      plan.split("Exchange hashpartitioning\\(cell").length - 1 shouldBe 1
      joined.count() should be > 0L
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", oldBroadcast)
      conf.set("spark.sql.adaptive.enabled", oldAqe)
      Seq("ivf_bucketed_corpus", "ivf_bucketed_centroids")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("ivfTopKQ8 recall vs brute force; tracks the full-precision IVF ranking") {
    val rnd = new scala.util.Random(17)
    val corpus = vecDf((0L until 200L).map(i =>
      (i, Seq.fill(16)(rnd.nextGaussian()))))
    val queries = corpus.filter($"id" < 8)
    val exact = Similarity.bruteForceTopK(queries, corpus, k = 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val q8 = Similarity.ivfTopKQ8(queries, corpus, k = 5, nlist = 8, nprobe = 3)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect q8).size.toDouble / exact.size
    recall should be >= 0.5
    // the q8 tier prunes with the SAME cells as full-precision IVF, so
    // its candidate set matches; only near-equal cosines may reorder
    val full = Similarity.ivfTopK(queries, corpus, k = 5, nlist = 8, nprobe = 3)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val overlap = (full intersect q8).size.toDouble / full.size
    overlap should be >= 0.8
  }

  test("q8 probe of a bucketed index shuffles only the query side, scans no full-precision vectors") {
    val conf = spark.conf
    val oldBroadcast = conf.get("spark.sql.autoBroadcastJoinThreshold")
    val oldAqe = conf.get("spark.sql.adaptive.enabled")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val rnd = new scala.util.Random(37)
      val corpus = vecDf((0L until 100L).map(i =>
        (i, Seq.fill(16)(rnd.nextGaussian()))))
      val idx = Similarity.buildIvfIndex(corpus, nlist = 4, iters = 1)
      Similarity.saveIvfIndex(idx, "ivf_q8", buckets = 4)
      val loaded = Similarity.loadIvfIndex(spark, "ivf_q8")

      val joined = Similarity.ivfTopKIndexedQ8(
        corpus.filter($"id" < 3), loaded, k = 3, nprobe = 2)
      val plan = joined.queryExecution.executedPlan.toString
      plan should include ("Bucketed: true")
      // ONE cell exchange: the query side re-bucketing to the stored
      // layout; the (large) corpus side stays in place
      plan.split("Exchange hashpartitioning\\(cell").length - 1 shouldBe 1
      // the candidate scan reads the int8 column, NOT the double vectors
      plan should include ("qcv")
      val readSchema = plan.split("ReadSchema: ").last.split("\n").head
      readSchema should not include "cv:array<double>"
      joined.count() should be > 0L
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", oldBroadcast)
      conf.set("spark.sql.adaptive.enabled", oldAqe)
      Seq("ivf_q8_corpus", "ivf_q8_centroids")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("loadIvfIndex derives qcv for a pre-q8 index table") {
    val rnd = new scala.util.Random(41)
    val corpus = vecDf((0L until 40L).map(i =>
      (i, Seq.fill(8)(rnd.nextGaussian()))))
    try {
      val idx = Similarity.buildIvfIndex(corpus, nlist = 4, iters = 1)
      // persist the OLD index shape (no qcv), as a pre-q8 build wrote it
      idx.corpus.drop("qcv").write.mode("overwrite")
        .bucketBy(2, "cell").saveAsTable("ivf_old_corpus")
      import spark.implicits._
      idx.centroids.zipWithIndex.map { case (c, i) => (i, c) }.toSeq
        .toDF("cell", "centroid")
        .write.mode("overwrite").saveAsTable("ivf_old_centroids")
      val loaded = Similarity.loadIvfIndex(spark, "ivf_old")
      loaded.corpus.columns should contain ("qcv")
      def topk(i: Similarity.IvfIndex) =
        Similarity.ivfTopKIndexedQ8(corpus.filter($"id" < 4), i, k = 3, nprobe = 2)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      topk(loaded) shouldBe topk(idx)
    } finally Seq("ivf_old_corpus", "ivf_old_centroids")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("embeddingNearDupPairs finds planted identical vectors") {
    val v = Seq.fill(64)(0.5)
    val corpus = vecDf(Seq((1L, v), (2L, v),
      (3L, Seq.tabulate(64)(i => if (i % 2 == 0) 1.0 else -1.0))))
    val pairs = Similarity.embeddingNearDupPairs(corpus, tau = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs shouldBe Set((1L, 2L))
  }

  test("embedding near-dup bucketCap suppresses a planted mass cluster, keeps organic pairs") {
    val rnd = new scala.util.Random(11)
    val organic = Seq.fill(16)(rnd.nextGaussian())
    val organicNear = organic.zipWithIndex.map { case (x, i) =>
      x + 0.01 * (if (i % 2 == 0) 1 else -1) }
    val mass = Seq.fill(16)(0.7) // 30 identical vectors: every table's hot bucket
    val corpus = vecDf(
      Seq((1L, organic), (2L, organicNear)) ++ (100L until 130L).map(i => (i, mass)))
    val capped = Similarity.embeddingNearDupPairs(corpus, tau = 0.9,
        numTables = 8, planesPerTable = 6, dim = 16, bucketCap = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    capped should contain ((1L, 2L))
    capped.count(_._1 >= 100L) shouldBe 0
    val uncapped = Similarity.embeddingNearDupPairs(corpus, tau = 0.9,
        numTables = 8, planesPerTable = 6, dim = 16, bucketCap = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    uncapped.count(_._1 >= 100L) shouldBe 30 * 29 / 2
  }

  test("SRP near-dup pairs are a subset of exact pairs with identical cosines") {
    // exactCosinePairs is the all-pairs ground truth; the SRP-bucketed
    // tier may MISS pairs (bucket non-collision) but must never emit a
    // pair the exact tier doesn't, and scores must be bit-identical
    // (both run the same VecCosine kernel)
    val rnd = new scala.util.Random(7)
    val base = Seq.fill(16)(rnd.nextGaussian())
    def jitter(eps: Double) = base.zipWithIndex.map { case (x, i) =>
      x + eps * (if (i % 2 == 0) 1 else -1)
    }
    val corpus = vecDf(
      Seq((1L, base), (2L, jitter(0.01)), (3L, jitter(0.02))) ++
        (4L until 30L).map(i => (i, Seq.fill(16)(rnd.nextGaussian()))))
    val exact = Similarity.exactCosinePairs(corpus, tau = 0.9)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val srp = Similarity.embeddingNearDupPairs(corpus, tau = 0.9,
        numTables = 8, planesPerTable = 6, dim = 16)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    srp.keySet.subsetOf(exact.keySet) shouldBe true
    srp.foreach { case (k, c) => c shouldBe exact(k) }
    // the planted cluster is near-identical (cos > 0.999) — every SRP
    // table buckets them together, so recovery is certain, not chancy
    srp.keySet should contain allOf ((1L, 2L), (1L, 3L), (2L, 3L))
  }

  test("SRP pair dedup shuffles narrow rows: no vector crosses an exchange above the join") {
    // regression pin for the scan-side-scoring fix (10.2 -> 4.5 s at
    // sf0.1): candidates are scored and tau-filtered BEFORE the
    // pair-dedup exchange, so no shuffle downstream of the bucket join
    // may carry a vector column — the old shape moved ~1 KB/candidate
    val rnd = new scala.util.Random(11)
    val corpus = vecDf((0L until 40L).map(i => (i, Seq.fill(16)(rnd.nextGaussian()))))
    val df = Similarity.embeddingNearDupPairs(corpus, tau = 0.9,
      numTables = 4, planesPerTable = 4, dim = 16)
    df.count() // execute so AQE finalizes the plan
    def finalPlan(p: org.apache.spark.sql.execution.SparkPlan): org.apache.spark.sql.execution.SparkPlan = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val exchanges = finalPlan(df.queryExecution.executedPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }
    // at least the dedup exchange exists, and every exchange that sits
    // ABOVE the self-join (i.e. outputs pair columns) is vector-free
    val pairExchanges = exchanges.filter(_.output.exists(_.name == "id_a"))
    pairExchanges should not be empty
    pairExchanges.foreach { e =>
      withClue(s"exchange ${e.output.map(_.name).mkString(",")}: ") {
        e.output.map(_.name).toSet.intersect(Set("va", "vb", "vec")) shouldBe empty
        e.output.forall(a =>
          !a.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]) shouldBe true
      }
    }
  }

  test("hardNegativeTopK returns the most-similar OTHER-label vectors only") {
    import org.apache.spark.sql.functions.col
    // label 0: two near-identical vectors (1, 2); label 1: one close (3)
    // and one orthogonal (4)
    val rows = Seq(
      (1L, Seq(1.0, 0.0, 0.0), 0L),
      (2L, Seq(0.999, 0.01, 0.0), 0L),
      (3L, Seq(0.9, 0.1, 0.0), 1L),
      (4L, Seq(0.0, 0.0, 1.0), 1L))
    val df = rows.toDF("id", "vec", "label")
    val got = Similarity.hardNegativeTopK(df, df, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getInt(4)))
    val byQuery = got.groupBy(_._1).view
      .mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    // query 1 (label 0): same-label vector 2 is its true NN but must be
    // excluded — hard negatives are 3 then 4
    byQuery(1L) shouldBe Seq(3L, 4L)
    byQuery(2L) shouldBe Seq(3L, 4L)
    // query 3 (label 1): negatives come from label 0 only (2 edges out
    // 1 on cosine: 0.99496 vs 0.99388)
    byQuery(3L) shouldBe Seq(2L, 1L)
  }

  test("marginPairs equals a rank-ordered Scala margin model; exclusive partners win") {
    val aRows = Seq((10L, Seq(1.0, 0.0)), (12L, Seq(0.0, 1.0)))
    val bRows = Seq((1L, Seq(0.98, 0.2)), (3L, Seq(0.7, 0.7)), (5L, Seq(0.05, 1.0)))
    val a = aRows.toDF("id", "vec")
    val b = bRows.toDF("id", "vec")
    val k = 2
    def cosD(x: Seq[Double], y: Seq[Double]): Double = {
      var d = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
      while (i < x.length) { d += x(i) * y(i); nx += x(i) * x(i); ny += y(i) * y(i); i += 1 }
      d / (math.sqrt(nx) * math.sqrt(ny))
    }
    // mean of top-k cosines, summed in RANK order (ties to lower id) —
    // the op's deterministic fold, reproduced bit for bit
    def meanK(x: Seq[Double], side: Seq[(Long, Seq[Double])]): Double =
      side.map { case (i, v) => (cosD(x, v), i) }
        .sortBy { case (c, i) => (-c, i) }.take(k)
        .map(_._1).reduce(_ + _) / k
    val model = aRows.map { case (qa, va) =>
      val best = bRows.map { case (nb, vb) =>
        val m = cosD(va, vb) / ((meanK(va, bRows) + meanK(vb, aRows)) / 2.0)
        (nb, cosD(va, vb), m)
      }.sortBy { case (nb, _, m) => (-m, nb) }.head
      qa -> best
    }.toMap
    val got = Similarity.marginPairs(a, b, k = k, minMargin = 1.0)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    got.keySet shouldBe model.filter(_._2._3 >= 1.0).keySet
    got.foreach { case (q, (n, c, m)) =>
      model(q) shouldBe ((n, c, m)) // exact: same fold order everywhere
    }
    // the margin picks each side's EXCLUSIVE partner (10->1, 12->5)
    // over the shared mid-angle vector 3 (hub suppression)
    got(10L)._1 shouldBe 1L
    got(12L)._1 shouldBe 5L
  }

  test("marginPairsIvf with exhaustive probes equals the exact miner bit for bit") {
    // deterministic 6-dim vectors, disjoint even/odd id spaces
    def vec(seed: Long): Seq[Double] =
      (0 until 6).map(j => (((seed * 31 + j * 2654435761L) % 1009L).toDouble / 1009.0) * 2.0 - 1.0)
    val a = (0L until 24L by 2).map(i => (i, vec(i))).toDF("id", "vec")
    val b = (1L until 24L by 2).map(i => (i, vec(i * 7))).toDF("id", "vec")
    val exact = Similarity.marginPairs(a, b, k = 4, minMargin = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1)
    // probe every cell and over-fetch the whole other side: the IVF
    // candidate stream then IS the full top-k universe, so the identical
    // rank-ordered margin arithmetic must reproduce the exact miner
    // exactly (same folds, same doubles)
    val ivf = Similarity.marginPairsIvf(a, b, k = 4, minMargin = 0.0,
        overfetch = 12, nlist = 4, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1)
    ivf shouldBe exact
  }

  test("hardNegativeTopKIvf with exhaustive probes equals the exact miner bit for bit") {
    def vec(seed: Long): Seq[Double] =
      (0 until 6).map(j => (((seed * 31 + j * 2654435761L) % 1009L).toDouble / 1009.0) * 2.0 - 1.0)
    val corpus = (0L until 30L).map(i => (i, vec(i * 3 + 1), i % 3))
      .toDF("id", "vec", "label")
    val q = corpus.filter(col("id") < 10)
    val exact = Similarity.hardNegativeTopK(q, corpus, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getInt(4), r.getDouble(5)))
      .sortBy(t => (t._1, t._3))
    // probing every cell makes the candidate pool the full corpus, so
    // the same label-filter-below-top-k must reproduce the exact miner
    val ivf = Similarity.hardNegativeTopKIvf(q, corpus, k = 3,
        nlist = 4, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getInt(4), r.getDouble(5)))
      .sortBy(t => (t._1, t._3))
    ivf shouldBe exact
  }

  test("knnClassify: majority vote with deterministic tie-breaks") {
    // query 0 at the origin of a fan: neighbors 1,2 (label 7) and 3,4,5
    // (label 2); k=4 takes 1,2,3,4 -> vote 2:2 tie -> smallest label 2
    val corpus = Seq(
      (0L, Seq(1.0, 0.0), 7L),
      (1L, Seq(0.99, 0.01), 7L),
      (2L, Seq(0.98, 0.02), 7L),
      (3L, Seq(0.97, 0.03), 2L),
      (4L, Seq(0.96, 0.04), 2L),
      (5L, Seq(0.0, 1.0), 2L)).toDF("id", "vec", "label")
    val q = corpus.filter($"id" === 0)
    val r4 = Similarity.knnClassify(q, corpus, k = 4).head()
    r4.getLong(0) shouldBe 0L
    r4.getLong(1) shouldBe 7L          // true_label
    r4.getLong(2) shouldBe 2L          // vote tie 2:2 -> smallest label
    r4.getLong(3) shouldBe 2L          // votes
    r4.getBoolean(4) shouldBe false
    val r3 = Similarity.knnClassify(q, corpus, k = 3).head()
    r3.getLong(2) shouldBe 7L          // 1,2 (label 7) beat 3 (label 2)
    r3.getLong(3) shouldBe 2L
    r3.getBoolean(4) shouldBe true
  }

  test("knnClassifyIvf with exhaustive probes reproduces the exact classifier") {
    def vec(seed: Long): Seq[Double] =
      (0 until 6).map(j => (((seed * 31 + j * 2654435761L) % 1009L).toDouble / 1009.0) * 2.0 - 1.0)
    val corpus = (0L until 60L).map(i => (i, vec(i), i % 5)).toDF("id", "vec", "label")
    val q = corpus.filter(col("id") < 12)
    val exact = Similarity.knnClassify(q, corpus, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).sortBy(_._1)
    val ivf = Similarity.knnClassifyIvf(q, corpus, k = 5, nlist = 4, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).sortBy(_._1)
    ivf shouldBe exact
  }

  test("knnClassifyFrom composes any top-k source into the same vote") {
    def vec(seed: Long): Seq[Double] =
      (0 until 6).map(j => (((seed * 31 + j * 2654435761L) % 1009L).toDouble / 1009.0) * 2.0 - 1.0)
    val corpus = (0L until 50L).map(i => (i, vec(i), i % 4)).toDF("id", "vec", "label")
    val labels = corpus.select("id", "label")
    val q = corpus.filter(col("id") < 10)
    val direct = Similarity.knnClassify(q, corpus, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).sortBy(_._1)
    // over the exact top-k stream
    val viaBrute = Similarity.knnClassifyFrom(
        Similarity.bruteForceTopK(q, corpus, k = 5), labels, labels)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).sortBy(_._1)
    viaBrute shouldBe direct
    // over a persisted-and-reloaded index with exhaustive probes: the
    // production serving path reproduces the exact classifier
    val idx = Similarity.buildIvfIndex(corpus, nlist = 4)
    Similarity.saveIvfIndex(idx, "knn_from_spec", buckets = 2)
    val loaded = Similarity.loadIvfIndex(spark, "knn_from_spec")
    val viaIndex = Similarity.knnClassifyFrom(
        Similarity.ivfTopKIndexed(q, loaded, k = 5, nprobe = 4), labels, labels)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).sortBy(_._1)
    viaIndex shouldBe direct
  }

  test("knnClassifyIvf plan: no cross join, no broadcast hint") {
    def vec(seed: Long): Seq[Double] =
      (0 until 6).map(j => (((seed * 31 + j * 2654435761L) % 1009L).toDouble / 1009.0) * 2.0 - 1.0)
    val corpus = (0L until 40L).map(i => (i, vec(i), i % 5)).toDF("id", "vec", "label")
    val df = Similarity.knnClassifyIvf(corpus.filter(col("id") < 8), corpus,
      k = 3, nlist = 4, nprobe = 2)
    df.queryExecution.optimizedPlan.toString should not include "strategy=broadcast"
    val physical = df.queryExecution.executedPlan.toString
    physical should not include "CartesianProduct"
    physical should not include "BroadcastNestedLoopJoin"
  }

  test("marginPairsIvf plan: no cross join, no broadcast hint") {
    def vec(seed: Long): Seq[Double] =
      (0 until 6).map(j => (((seed * 31 + j * 2654435761L) % 1009L).toDouble / 1009.0) * 2.0 - 1.0)
    val a = (0L until 40L by 2).map(i => (i, vec(i))).toDF("id", "vec")
    val b = (1L until 40L by 2).map(i => (i, vec(i * 7))).toDF("id", "vec")
    val df = Similarity.marginPairsIvf(a, b, k = 4, nlist = 4, nprobe = 2)
    df.queryExecution.optimizedPlan.toString should not include "strategy=broadcast"
    val physical = df.queryExecution.executedPlan.toString
    physical should not include "CartesianProduct"
    physical should not include "BroadcastNestedLoopJoin"
  }

  test("rademacherPlanes: ±1 entries, deterministic, md5-derived") {
    val p = Similarity.rademacherPlanes(dOut = 3, dIn = 8)
    p.length shouldBe 3
    p.foreach(_.foreach(v => math.abs(v) shouldBe 1.0))
    p shouldBe Similarity.rademacherPlanes(dOut = 3, dIn = 8)
    // independent derivation: first hex digit of md5("rp:j:i")
    val md = java.security.MessageDigest.getInstance("MD5")
    for (j <- 0 until 3; i <- 0 until 8) {
      val hex = md.digest(s"rp:$j:$i".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val expected = if ("02468ace".contains(hex.head)) 1.0 else -1.0
      p(j)(i) shouldBe expected
    }
  }

  test("randomProject matches a driver-side matrix multiply") {
    val vecs = Seq(
      (1L, Seq(1.0, 2.0, -3.0, 0.5)),
      (2L, Seq(0.0, 0.0, 0.0, 0.0)),
      (3L, Seq(-1.5, 4.0, 2.25, -0.125)))
    val df = vecs.toDF("id", "vec")
    val got = Similarity.randomProject(df, dIn = 4, dOut = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val planes = Similarity.rademacherPlanes(dOut = 2, dIn = 4)
    vecs.foreach { case (id, v) =>
      val exp = planes.map(row => v.zip(row).foldLeft(0.0) { case (s, (x, m)) => s + x * m })
      got(id) shouldBe exp.toSeq
    }
  }

  test("rpRerankTopK: exact recall on clustered data, rerank beats plain rp") {
    // three tight clusters in 16 dims: top-k within a cluster is
    // unambiguous, so the coarse-then-refine path must find it all
    def base(c: Int): Array[Double] =
      Array.tabulate(16)(j => if (j % 3 == c) 1.0 else 0.05 * ((j + c) % 5))
    val rows = (0L until 30L).map { i =>
      val c = (i % 3).toInt
      val b = base(c)
      (i, b.zipWithIndex.map { case (x, j) =>
        x + 0.01 * (((i * 31 + j) % 7).toDouble - 3.0) }.toSeq)
    }
    val e = rows.toDF("id", "vec")
    val q = e.filter(col("id") < 6)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceTopK(q, e, k = 4))
    val rerank = pairs(Similarity.rpRerankTopK(q, e, k = 4, dIn = 16, dOut = 8, overFetch = 4))
    val plain = pairs(Similarity.rpTopK(q, e, k = 4, dIn = 16, dOut = 8))
    val rRecall = (exact intersect rerank).size.toDouble / exact.size
    val pRecall = (exact intersect plain).size.toDouble / exact.size
    rRecall shouldBe 1.0
    rRecall should be >= pRecall
    // the IVF-candidate composition reaches the same exact answer on
    // clustered data (generous probes cover all cells here)
    val rpIvf = pairs(Similarity.rpIvfRerankTopK(q, e, k = 4, dIn = 16,
      dOut = 8, overFetch = 4, nlist = 4, nprobe = 4))
    (exact intersect rpIvf).size.toDouble / exact.size shouldBe 1.0
  }

  test("exact-by-configuration tiers return bruteForceTopK's rows, ties by neighbor_id") {
    // 140 vectors: 60 random ones, each copied under a second id and the
    // first 20 under a third, so every query meets tied cosines
    val rnd = new scala.util.Random(23)
    val base = (0 until 60).map(_ => Seq.fill(16)(rnd.nextGaussian()))
    val rows = (0L until 140L).map(i => (i, base((i % 60).toInt), s"l${i % 3}"))
    val corpus = rows.toDF("id", "vec", "label")
    val queries = corpus.filter($"id" < 10)
    val n = rows.size
    val k = 5
    val overFetch = n / k + 1
    def topk(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank", "cosine").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq.sorted
    val exact = topk(Similarity.bruteForceTopK(queries, corpus, k))
    exact.size shouldBe 10 * k
    // the fixture really ties: some adjacent ranks share a cosine, and
    // the lower neighbor id takes the better rank
    val tied = exact.sliding(2).collect { case Seq(a, b)
      if a._1 == b._1 && a._4 == b._4 => (a, b) }.toSeq
    tied should not be empty
    all(tied.map { case (a, b) => a._2 < b._2 }) shouldBe true

    topk(Similarity.ivfTopK(queries, corpus, k, nlist = 8, nprobe = 8)) shouldBe exact
    topk(Similarity.ivfRerankTopK(queries, corpus, k, nlist = 8, nprobe = 8,
      overFetch = overFetch)) shouldBe exact
    topk(Similarity.rpRerankTopK(queries, corpus, k, dIn = 16, dOut = 4,
      overFetch = overFetch)) shouldBe exact

    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.mkString("|")).toSeq.sorted
    val hardNeg = rowsOf(Similarity.hardNegativeTopK(queries, corpus, k))
    hardNeg.size shouldBe 10 * k
    rowsOf(Similarity.hardNegativeTopKIvf(queries, corpus, k, nlist = 8, nprobe = 8)) shouldBe
      hardNeg
    val knn = rowsOf(Similarity.knnClassify(queries, corpus, k))
    knn.size shouldBe 10
    rowsOf(Similarity.knnClassifyIvf(queries, corpus, k, nlist = 8, nprobe = 8)) shouldBe knn
  }

  test("sampled-Lloyd keep rule: unchanged up to 2^20·sampleN, bounded sample above") {
    val sampleN = 4096L
    val limit = (1L << 20) * sampleN
    def expected(n: Long, mk: (Long, Long)) = BigDecimal(n) * mk._2 / mk._1
    def floorRule(n: Long) = (1L << 20, math.max(1L, (1L << 20) * sampleN / n))
    for (n <- Seq(10000L, limit, 1L << 40)) {
      val mk = Similarity.lloydSampleKeep(n, sampleN)
      if (n <= limit) mk shouldBe floorRule(n)
      expected(n, mk) should be >= BigDecimal(sampleN / 2)
      expected(n, mk) should be <= BigDecimal(sampleN)
    }
    // the floor rule this replaces samples 2^20 rows at n = 2^40
    expected(1L << 40, floorRule(1L << 40)) shouldBe BigDecimal(1L << 20)
  }
}
