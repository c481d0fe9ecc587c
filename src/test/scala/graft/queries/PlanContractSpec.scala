package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Plan contracts: the scale properties the headline queries were tuned
  * for, pinned as assertions on the physical plan so a regression (a
  * forced broadcast, a lost pushdown, an extra shuffle) fails a test
  * instead of only showing up in a bench delta at 100×.
  */
class PlanContractSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("q1_pricing reads only the needed lineitem columns") {
    val p = plan("q1_pricing")
    p should include ("l_returnflag")
    // a scan that drags the wide/unused columns along is a 100 TB bug
    p should not include "l_comment"
    p should not include "l_orderkey"
  }

  test("q3_top_orders pushes every filter into its scan; no forced broadcasts") {
    val p = plan("q3_top_orders")
    // predicate pushdown reaches all three scans
    p should include ("(c_mktsegment")
    p should include ("(l_shipdate")
    p should include ("(o_orderdate")
    // joins are AQE/size-chosen (broadcast at this sf is fine — the
    // contract is that the SCALING side carries no hint forcing it;
    // hints print as left/rightHint=(strategy=broadcast) in the
    // optimized Join node, not in the executed plan)
    SparkEntry.queries("q3_top_orders")(spark, dir)
      .queryExecution.optimizedPlan.toString should not include "strategy=broadcast"
  }

  test("sim_topk_lsh query side carries no forced broadcast hint") {
    // the exploded query side is queries x numTables rows of full
    // vectors; a broadcast HINT there is a build-side OOM on a large
    // query batch. AQE may still choose broadcast at this sf — the
    // contract is the hint's absence in the optimized plan.
    // hints survive into the optimized Join node as
    // left/rightHint=(strategy=broadcast) — that's the detectable marker
    val p = SparkEntry.queries("sim_topk_lsh")(spark, dir)
      .queryExecution.optimizedPlan.toString
    p should not include "strategy=broadcast"
  }

  test("q8 ANN paths carry no forced broadcast hint") {
    // round-4 verdict: quantizedTopK force-broadcast the query side
    // (build-side OOM on a large batch). Both the exact q8 baseline and
    // the q8 IVF scale tier must leave join sizing to AQE. (The recall
    // QUERIES aggregate driver-side, so the contract pins the op plans.)
    import graft.ops.Similarity
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").as("id"), Similarity.toDoubleVec(col("embedding")).as("vec"))
    val q = e.filter(col("id") < 5)
    Similarity.quantizedTopK(q, e, k = 5)
      .queryExecution.optimizedPlan.toString should not include "strategy=broadcast"
    Similarity.ivfTopKQ8(q, e, k = 5, nlist = 4, nprobe = 2, iters = 1)
      .queryExecution.optimizedPlan.toString should not include "strategy=broadcast"
    Similarity.srpLshTopKQ8(q, e, k = 5)
      .queryExecution.optimizedPlan.toString should not include "strategy=broadcast"
  }

  test("curation pipeline consumers all read the cached survivor set — no corpus re-scan") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val docs = Tables.load(spark, dir, "documents")
    val run = graft.ops.Curation.pipeline(docs)
    try {
      val opt = run.summary.queryExecution.optimizedPlan
      // every pipeline stage downstream of the gated+deduped survivor
      // set (and decontamination's shingle indexes) reads a cache leaf:
      // the optimized plan outside those leaves holds NO file scan —
      // at 100 TB nothing re-reads the corpus or re-runs the scoring
      // regexes — and no residual dedup window
      val leaves = opt.collectLeaves()
      val cached = leaves.collect { case r: InMemoryRelation => r }
      cached.size should be >= 3 // deduped survivors + train/bench shingles
      leaves.filterNot(_.isInstanceOf[InMemoryRelation]) shouldBe empty
      // node traversal (stops at cache leaves): the fingerprint-dedup
      // row_number window lives only INSIDE the cached subtree; the
      // only live window is packing's running sum
      val liveWindows = opt.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
      liveWindows.flatMap(_.windowExpressions.map(_.toString))
        .count(_.contains("row_number")) shouldBe 0
    } finally run.release()
  }

  test("mixture gates: corpus side carries no broadcast hint, no corpus-sized cartesian") {
    // the only nested-loop joins allowed are the bounded tiny-frame
    // classes: the #strata² binding election and the 1-row binding
    // attach. The CORPUS join must stay an equi-join sized by AQE.
    for (name <- Seq("mixture_select", "mixture_select_tokens")) {
      val df = SparkEntry.queries(name)(spark, dir)
      df.queryExecution.optimizedPlan.toString should not include "strategy=broadcast"
      val joins = df.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }
      // corpus join on the strata key is an equi-join (has a condition
      // with the strata column); count the condition-less cross joins
      // and cap them at the two documented bounded attaches
      joins.count(_.condition.isEmpty) should be <= 1 // the 1-row binding attach
    }
  }

  // AQE wraps the root: descend to the adaptively-planned tree before
  // collecting node classes (the PlanAudit unwrap)
  private def unwrapped(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case other => other
    }

  test("interleave_shards is ONE window shuffle over the corpus") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions.col
    val docs = Tables.load(spark, dir, "documents")
    val df = graft.ops.Sampling.interleaveShards(
      docs.select(col("doc_id"), col("lang")), "lang", "doc_id",
      Map("en" -> 2L, "de" -> 1L), nShards = 4)
    val shuffles = unwrapped(df).collect {
      case s: ShuffleExchangeExec => s
    }
    shuffles.size shouldBe 1 // the (shard, stratum) window partitioning
    unwrapped(df).toString should not include "CartesianProduct"
  }

  test("split_by_group is a shuffle-free codegen projection") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions.{col, expr}
    val docs = Tables.load(spark, dir, "documents")
    val df = graft.ops.Sampling.splitByGroup(
      docs.select(col("doc_id"), expr("doc_id div 10").as("family")),
      "family", Seq(("train", 900000L), ("val", 50000L), ("test", 50000L)))
    unwrapped(df).collect { case s: ShuffleExchangeExec => s } shouldBe empty
    // the "*(1)" stage marker = the whole label CASE runs codegen'd
    // inside the scan stage
    unwrapped(df).toString should include("*(1) Project")
  }

  test("split_leakage_audit: label joins never cartesian; no forced broadcast") {
    val df = SparkEntry.queries("split_leakage_audit")(spark, dir)
    df.queryExecution.optimizedPlan.toString should not include "strategy=broadcast"
    val physical = df.queryExecution.executedPlan.toString
    physical should not include "BroadcastNestedLoopJoin"
    // the only cartesian allowed is the ngram tier's documented capped
    // candidate join — the audit's own label joins are keyed
    physical should not include "CartesianProduct"
  }

  test("group_token_cap: window rides the per-group histogram, threshold join is keyed") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.load(spark, dir, "documents")
    val scored = docs.select(col("doc_id"), col("source"),
      graft.ops.TextAnalysis.qualityScore(col("text")).as("score"),
      graft.ops.TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
    val df = graft.ops.Curation.groupTokenCap(scored, "source", "score",
      "n_tokens", capPerGroup = 800L)
    val plan = unwrapped(df)
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    windows should not be empty
    // the cumsum must partition by group — a corpus-wide funnel would
    // serialize the histogram through one task
    windows.foreach(w => w.partitionSpec should not be empty)
    // per-group thresholds attach by key, never the 1-row cross join
    // the corpus-level gate uses
    plan.toString should not include "CartesianProduct"
    plan.toString should not include "BroadcastNestedLoopJoin"
  }

  test("contamination score plans: no cartesian, no broadcast hint, one-pass aggregate") {
    for (name <- Seq("contamination_score", "contamination_score_bloom")) {
      val df = SparkEntry.queries(name)(spark, dir)
      df.queryExecution.optimizedPlan.toString should not include "strategy=broadcast"
      val physical = df.queryExecution.executedPlan.toString
      physical should not include "CartesianProduct"
      physical should not include "BroadcastNestedLoopJoin"
    }
    // the plain score's n_shingles and n_hits come from ONE aggregate
    // over one shingle pass: exactly one count-pair HashAggregate chain,
    // i.e. no second scan of the train shingle stream
    import org.apache.spark.sql.functions.col
    val docs = Tables.load(spark, dir, "documents")
    val plain = graft.ops.Decontaminate.contaminationScore(
      docs.filter(col("doc_id") % 10 =!= 0),
      docs.filter(col("doc_id") % 10 === 0), "doc_id", "text")
    val gens = unwrapped(plain).collect {
      case g: org.apache.spark.sql.execution.GenerateExec => g
    }
    // one shingle explode for train, one for bench — never a third
    gens.size shouldBe 2
  }

  test("q_window_top_parts shares ONE suppkey exchange between aggregate and window") {
    val p = plan("q_window_top_parts")
    val hashExchanges = p.split("Exchange hashpartitioning").length - 1
    hashExchanges shouldBe 1 // agg + window cluster on the same key
    // Spark's rank-limit pushdown must stay effective (top-k per group
    // prunes before the final window sort)
    p should include ("WindowGroupLimit")
  }

  test("shingleRows is scan -> kernel -> explode with NO shuffle") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = graft.ops.Dedup.shingleRows(docs, "doc_id", "text", 3)
      .queryExecution.executedPlan.toString
    p should not include "Exchange"
  }

  test("row-rule evaluation is one shuffle-free codegen projection") {
    import graft.eval.MaskedRowDqEvaluator
    import graft.model.Rule
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val rules = Seq(
      Rule("p", "t", "row_dq", "r1", "c", "l_quantity <= 45", "drop"),
      Rule("p", "t", "row_dq", "r2", "c", "l_discount BETWEEN 0 AND 0.05"),
      Rule("p", "t", "row_dq", "r3", "c", "l_extendedprice > 1000"))
    val plan = MaskedRowDqEvaluator.run(li, rules)
      .queryExecution.executedPlan.toString
    // N rules = ONE projection over the scan: no shuffle, no fallback
    // (the `*(1)` star marks the whole-stage-codegen stage in toString)
    plan should not include "Exchange"
    plan should include ("*(1) Project")
    plan should not include "CodegenFallback"
  }

  test("embed_partition assignment is a pure map stage (only the output sort exchanges)") {
    // the nearest-centroid kernel carries the matrix as a reference
    // object: no join against a centroid table, no shuffle — at 100 TB
    // the assignment is scan -> project, writable partitioned-by-cluster
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(org.apache.spark.sql.functions.col("vec_id").as("id"),
        graft.ops.Similarity.toDoubleVec(
          org.apache.spark.sql.functions.col("embedding")).as("vec"))
    val seeds = graft.ops.Clustering.seedCentroids(e, 8)
    val p = graft.ops.Clustering.assign(e, seeds)
      .queryExecution.executedPlan.toString
    p should not include "Exchange"
    p should not include "Join"
    // the full QueryDef adds exactly the deterministic output sort
    val q = plan("embed_partition")
    q.split("Exchange").length - 1 shouldBe 1
    q should include ("rangepartitioning")
  }

  test("text_vocab aggregates without a distinct Expand; tfidf carries no broadcast hint") {
    // the two-level (token, doc) -> token aggregation must not plan as
    // a countDistinct Expand (which doubles the exploded token stream)
    plan("text_vocab") should not include "Expand"
    SparkEntry.queries("text_tfidf")(spark, dir)
      .queryExecution.optimizedPlan.toString should not include "strategy=broadcast"
  }

  test("temperatureSample corpus side is one scan with no forced hint and no sort-merge") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // alpha = 0.5 (the division-free integer gate): per-stratum counts
    // join broadcast, the one-row n_min attaches as a broadcast cross —
    // the corpus itself never shuffles and nothing sort-merges
    val half = graft.ops.Sampling.temperatureSample(
      docs.select(col("doc_id"), col("lang")), "lang", "doc_id", 0.5)
    half.queryExecution.optimizedPlan.toString should not include "strategy=broadcast"
    val hp = half.queryExecution.executedPlan.toString
    hp should not include "SortMergeJoin"
    hp should include ("BroadcastHashJoin")
    // general alpha keeps the threshold join — <= #strata rows, so the
    // corpus must join it broadcast, never shuffle itself on the stratum
    val out = graft.ops.Sampling.temperatureSample(
      docs.select(col("doc_id"), col("lang")), "lang", "doc_id", 0.3)
    out.queryExecution.optimizedPlan.toString should not include "strategy=broadcast"
    val p = out.queryExecution.executedPlan.toString
    p should not include "SortMergeJoin"
    p should include ("BroadcastHashJoin")
  }

  test("epochMix is a pure generator stage: no shuffle, no join") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = graft.ops.Sampling.epochMix(
        docs.select(col("doc_id"), col("lang")), "lang", "doc_id",
        Map("en" -> 2.5, "de" -> 1.0, "fr" -> 1.0, "es" -> 1.0, "zh" -> 1.0))
      .queryExecution.executedPlan.toString
    p should not include "Exchange"
    p should not include "Join"
  }

  test("blockDedup is three keyed exchanges, no broadcast-nested-loop anywhere") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = graft.ops.Dedup.blockDedup(
        docs.select(col("doc_id"), col("text")), "doc_id", "text", 32)
      .queryExecution.executedPlan.toString
    // election groupBy (block hash) + decision join probe (same key) +
    // reassembly groupBy (doc) — all hash-keyed and linear
    p.split("Exchange hashpartitioning").length - 1 should be <= 3
    p should not include "BroadcastNestedLoopJoin"
    p should not include "CartesianProduct"
  }

  test("blockBoilerplateStrip keeps blockDedup's three-linear-shuffle shape") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = graft.ops.Dedup.blockBoilerplateStrip(
        docs.select(col("doc_id"), col("text")), "doc_id", "text", 32)
      .queryExecution.executedPlan.toString
    // df election (block hash, two partial-agg passes for the distinct
    // count — same key partitioning) + decision join + reassembly
    p should not include "BroadcastNestedLoopJoin"
    p should not include "CartesianProduct"
    // the distinct-doc count must NOT plan as an Expand over the corpus
    p should not include "Expand"
  }

  test("corpus_diff exchanges fingerprints, never document text") {
    val p = plan("corpus_diff")
    // both sides collapse to (id, md5) below the join: no Exchange row
    // may carry the text column (each Exchange prints its child output)
    p.linesIterator.filter(_.contains("Exchange")).foreach { line =>
      line should not include "text"
    }
  }

  test("decontaminateBloom tests the train side inside the scan stage") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val out = graft.ops.Decontaminate.decontaminateBloom(
      docs.filter(col("doc_id") % 10 =!= 0),
      docs.filter(col("doc_id") % 10 === 0), "doc_id", "text")
    val p = out.queryExecution.executedPlan.toString
    // the sketch probe is the codegen predicate, present right in the
    // plan (the corpus-wide shingle exchange of the exact form is gone
    // from the prefilter pass — only HIT ids and the candidate slice
    // shuffle)
    p should include ("bloom_might_contain")
  }

  test("ccnet_buckets: every window is group-partitioned (no corpus-wide funnel)") {
    // the registered QueryDef materializes its summary (leak-free
    // LocalRelation), so pin the contract on the operator composition
    // the QueryDef runs internally
    val docs = graft.queries.Tables.load(spark, dir, "documents")
    val lm = graft.ops.Curation.ngramLmScore(
      docs.filter(org.apache.spark.sql.functions.col("lang") === "en"), docs)
    val scored = lm.join(
        docs.select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("lang")), Seq("doc_id"))
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("lang"),
        org.apache.spark.sql.functions.col("lm_score"))
    val df = graft.ops.Curation.ccnetBuckets(scored, "lang", "lm_score")
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    windows should not be empty
    // an un-partitioned window funnels everything through ONE task; the
    // tercile cumsums must ride the per-language histogram partitions
    windows.foreach(w => w.partitionSpec should not be empty)
  }

  test("dsir_weights: bigram generators bind the token array; no forced broadcasts") {
    val df = SparkEntry.queries("dsir_weights")(spark, dir)
    // the bucket-count model tables are AQE's broadcast choice, never a
    // hint — a forced hint would pin an unbounded raw-count build side
    df.queryExecution.optimizedPlan.toString should not include "strategy=broadcast"
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val gens = plan.collect {
      case g: org.apache.spark.sql.execution.GenerateExec => g }
    gens should not be empty
    // interpreted-HOF linearity: a split() inside the generator would
    // re-evaluate the token array per element (O(tokens²) per doc)
    gens.foreach(g => g.generator.toString should not include "split(")
  }

  test("curation_pipeline_v3: no gate/span recompute downstream of the id caches; LM explode binds tokens once") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val st = graft.ops.Curation.pipelineV3Stages(docs)
    // InMemoryTableScanExec is a LEAF (the cached plan is not a child),
    // so collecting over the final plan sees only the work that would
    // RE-RUN: the span-md5 kernel and the gate regexes must both be
    // behind the eager caches, never in the downstream plan. (AQE's
    // wrapper is itself leaf-like — unwrap to its current plan first.)
    val plan = st.summary.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val exprStr = plan.collect { case p => p }
      .flatMap(_.expressions.map(_.toString)).mkString
    exprStr should not include "sampled_span_hashes"
    exprStr should not include "regexp_extract_all"
    plan.toString should include ("InMemoryTableScan")
    // the LM's bigram generators must reference a BOUND token array —
    // a split() inside the generator is re-evaluated per element by the
    // interpreted HOF path: O(tokens²) per doc (the round-5 v3 tail)
    val gens = plan.collect {
      case g: org.apache.spark.sql.execution.GenerateExec => g }
    gens should not be empty
    gens.foreach(g => g.generator.toString should not include "split(")
    st.release()
  }

  test("curation_pipeline_v2 post-dedup stages read the persisted survivor set") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val run = graft.ops.Curation.pipelineV2(docs)
    val p = run.summary.queryExecution.executedPlan.toString
    // the budget histogram and final summary must consume the cached
    // deduped frame, not re-run dedup + rescoring: every path from the
    // summary root down hits an InMemoryTableScan (plan toString
    // re-prints the cached subtree under each consumer, so parquet-scan
    // string counts are not meaningful here). The mix THRESHOLDS no
    // longer appear in this lazy plan at all — the integer-exact
    // temperature gate collects its per-stratum counts from the same
    // cache eagerly and compiles them to a CASE chain.
    ("InMemoryTableScan".r.findAllMatchIn(p).size) should be >= 2
    run.release()
  }

  test("OnWrite final frame carries its counts as CollectMetrics, no extra shuffle") {
    import graft.model.Rule
    import graft.orchestrator.{CountsMode, DqConfig, SparkExpectations}
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val out = java.nio.file.Files.createTempDirectory("graft_plan_obs").toString
    val res = new SparkExpectations("p", "t",
      Seq(Rule("p", "t", "row_dq", "r1", "c", "l_quantity <= 45", "drop")),
      DqConfig(countsMode = CountsMode.OnWrite,
        writeTargetTablePath = Some(s"$out/target"))).run(li)
    val plan = res.finalDf.queryExecution.optimizedPlan.toString
    // the zero-job counting claim, structurally: the metrics node rides
    // the final frame's own plan and adds no exchange of its own
    plan should include ("CollectMetrics")
    res.finalDf.queryExecution.executedPlan.toString should not include "Exchange"
    res.unpersist()
  }

  test("dq_stats queries release their cache and their temp dir") {
    spark.catalog.clearCache()
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def statsDirs = tmp.listFiles().map(_.getName).filter(_.startsWith("graft_obs_stats")).toSet
    val before = statsDirs
    Seq("dq_stats", "dq_stats_observe").foreach(q => SparkEntry.queries(q)(spark, dir).collect())
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty shouldBe true
    (statsDirs -- before) shouldBe empty
  }

  test("ngram_lm_score: no forced broadcast; candidate explode stays un-cached") {
    // the model sides are vocab-bounded and AQE-broadcastable, but a
    // FORCED hint would pin an unbounded reference corpus build-side;
    // and the doc-side bigram explode must stream, never cache
    val p = plan("ngram_lm_score")
    p should not include "broadcast"
    p should not include "InMemoryTableScan"
  }

  test("semantic_dedup: assignment is in-scan (no centroid-table join on the corpus side)") {
    val p = plan("semantic_dedup")
    // the NearestCentroid kernel carries the matrix as a reference
    // object: exactly zero BroadcastNestedLoop / cartesian anywhere,
    // and no forced broadcast hints
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
    p should not include "ResolvedHint"
  }

  test("loadSpread opt-in set is pinned — loader drift is a spec diff, not a bench surprise") {
    // The head round-robin exchange (Tables.loadSpread / Tables.spread)
    // is a per-query measured decision (see the Tables.loadSpread doc:
    // compute-fused scans win spread, fingerprint-shaped explode→agg
    // queries win the unsplit scan's perfect combine ratio). Round 7
    // shipped four compositions accidentally opted IN and regressed
    // ~1.3-1.5× idle; this pins the opt-in set at the source level so
    // any future loader change must update this list consciously.
    val expected = Map(
      "EngineExtQueries" -> Set("dq_wide_rules", "profile_stats", "profile_drift"),
      "AnalyticsQueries" -> Set("q_events_json"),
      "TextQueries" -> Set("langid_confusion", "emb_neardup", "text_hash_embed",
        "hash_embed_neardup", "hash_neardup_auto", "hash_neardup_incremental"),
      "PipelineExtQueries" -> Set("text_gopher", "text_gopher_cover",
        "edit_dist_join", "dsir_resample", "source_scorecard",
        "curation_pipeline_v7"),
      "DqQueries" -> Set.empty[String])
    val qdef = """QueryDef\(\s*"([^"]+)"""".r
    expected.foreach { case (file, want) =>
      val src = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"src/main/scala/graft/queries/$file.scala")), "UTF-8")
      val ms = qdef.findAllMatchIn(src).toVector
      val got = ms.zipWithIndex.flatMap { case (m, i) =>
        val end = if (i + 1 < ms.size) ms(i + 1).start else src.length
        val body = src.substring(m.start, end)
        if (body.contains("loadSpread") || body.contains("Tables.spread("))
          Some(m.group(1))
        else None
      }.toSet
      withClue(s"$file loadSpread opt-ins drifted: ") { got shouldBe want }
    }
  }

  test("dedup_scorecard rows equal counting the constituent tier ops directly") {
    // the scorecard must be a VIEW of the tiers, never a divergent
    // re-implementation: recompute each tier's pair count from the ops
    // at the scorecard's own parameters and compare row for row (the
    // DuckDB oracle independently re-derives the same six numbers)
    import org.apache.spark.sql.functions._
    import graft.ops.{Dedup, Embedding, TextAnalysis}
    val got = SparkEntry.queries("dedup_scorecard")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    def pairsOf(g: org.apache.spark.sql.DataFrame) = g
      .agg(coalesce(sum(expr("n_dups * (n_dups - 1) div 2")), lit(0L)))
      .head().getLong(0)
    got("exact") shouldBe pairsOf(Dedup.exactGroups(docs, "doc_id", "text"))
    got("exact_canon") shouldBe pairsOf(Dedup.exactGroups(
      docs.select(col("doc_id"),
        TextAnalysis.canonicalText(col("text")).as("text")),
      "doc_id", "text"))
    got("ngram") shouldBe
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 3, tau = 0.8,
        persistIndex = false).count()
    got("minhash") shouldBe
      Dedup.minhashLshPairs(docs, "doc_id", "text", k = 3, tau = 0.8,
        persistIndex = false).count()
    got("spans") shouldBe
      Dedup.duplicateSpanPairs(docs, "doc_id", "text", k = 40, sel = "0",
        minShared = 2, persistIndex = false).count()
    got("hashed_cosine") shouldBe
      Embedding.hashedShingleNearDup(docs, "doc_id", "text",
        dim = Embedding.sizedShingleDim(docs, "text", k = 3,
          targetDf = 4L, minDim = 1 << 10),
        k = 3, tauSqNum = 81L, tauSqDen = 100L, dfCap = 50L,
        persistIndex = false).count()
    spark.catalog.clearCache() // the scorecard's harness contract
  }

  test("fused span fingerprints reach the pair join without a distinct exchange") {
    // the kernel dedups per doc, so between scan and the candidate
    // self-join there is ONE exchange (the join key), not two (the old
    // distinct then the join): count Exchange nodes in the index subtree
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val idx = graft.ops.Dedup.spanFingerprints(docs, "doc_id", "text",
      k = 40, sel = "0")
    idx.queryExecution.executedPlan.toString should not include "Exchange"
  }
}
