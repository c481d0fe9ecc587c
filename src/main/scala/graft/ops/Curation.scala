package graft.ops

import graft.ops.{TextAnalysis => TA}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The end-to-end curation pipeline as ONE reusable operator:
  * quality-gate → exact (fingerprint) dedup → decontaminate against the
  * eval split → pack into fixed-token sequences per language → summary.
  *
  * The expensive subtree — token counting, quality scoring, and the
  * normalize-and-hash fingerprint are all regex/string arithmetic over
  * the full document text, plus the dedup window's shuffle — feeds BOTH
  * decontamination's shingle index and the surviving-rows anti-join, so
  * it is persisted ONCE and every later stage reads the cache; nothing
  * downstream re-scans the corpus or re-runs the scoring expressions.
  * At 100 TB that cache is the gated+deduped survivor set (a fraction
  * of the input), spilling to disk per executor — strictly cheaper than
  * recomputing three regexes over the raw corpus per consumer.
  */
object Curation {

  /** `summary`: one row per `langCol` value (total_tokens, n_docs,
    * n_sequences, last_fill). `release()` unpersists the pipeline's
    * caches — the survivor frame and decontamination's two shingle
    * indexes (call after the result is materialized; long-lived apps
    * otherwise accumulate executor cache).
    */
  final case class CurationRun(summary: DataFrame, release: () => Unit)

  def pipeline(
      docs: DataFrame,
      idCol: String = "doc_id",
      langCol: String = "lang",
      textCol: String = "text",
      benchMod: Int = 10,
      minQuality: Double = 0.5,
      minTokens: Long = 10L,
      k: Int = 3,
      tau: Double = 0.5,
      budget: Int = 256): CurationRun = Caches.owning { c =>
    val bench = docs.filter(col(idCol) % benchMod === 0)
    val train = docs.filter(col(idCol) % benchMod =!= 0)

    val scored = train.select(col(idCol), col(langCol), col(textCol),
      TA.tokenCount(col(textCol)).cast("long").as("n_tokens"),
      TA.qualityScore(col(textCol)).as("quality"),
      TA.fingerprint(col(textCol)).as("fp"))
    val kept = scored.filter(col("quality") >= minQuality && col("n_tokens") >= minTokens)
    // persist only the NARROW survivor frame (id, lang, n_tokens) and
    // materialize it eagerly; the one text consumer (decontamination's
    // shingle index) re-reads the source and semi-joins the cached ids.
    // A lazily-cached full-text frame races its consumers (each re-runs
    // the scoring regexes until the cache fills), and at 100 TB caching
    // surviving corpus TEXT per stage is not an option while the id set
    // is a few longs per survivor.
    val deduped = c.keep(TopK.rank(kept, Seq(col("fp")), Seq(col(idCol)), 1, "rn")
      .select(col(idCol), col(langCol), col("n_tokens")))

    val dedupedText = train.select(col(idCol), col(textCol))
      .join(deduped.select(col(idCol)), Seq(idCol))
    // the two shingle indexes are pipeline caches too: owned here
    val bad = Decontaminate.containmentPairsFromIndex(
        c.keep(Dedup.shingleFpRows(dedupedText, idCol, textCol, k)),
        c.keep(Dedup.shingleFpRows(bench, idCol, textCol, k)),
        tau)
      .select(col("train_id").as(idCol)).distinct()
    val clean = deduped.join(bad, Seq(idCol), "left_anti")
    val packed = Packing.packByOrder(
      clean.select(col(idCol), col(langCol), col("n_tokens")),
      tokensCol = "n_tokens", orderCol = idCol, partCol = langCol, budget = budget)
    val summary = Packing.packSummary(packed, langCol, budget = budget)
    CurationRun(summary, c.release)
  }

  /** The staged frames of [[pipelineV2]], exposed so each stage's
    * survivor set can be oracle-checked independently (the
    * `v2_stage_counts` bisection query). `gated` is (id, lang);
    * `deduped` is the narrow rescored survivor frame (id, lang,
    * n_tokens, q2) — q2 a quantized LONG from
    * [[TextAnalysis.qualityScoreQ]]; `mixed`/`budgeted` share its
    * schema. `deduped` is persisted AND eagerly materialized (it is
    * narrow — no document text — so the cache is a few longs per
    * survivor) before its three consumers fan out.
    */
  final case class PipelineV2Stages(
      gated: DataFrame,
      deduped: DataFrame,
      mixed: DataFrame,
      budgeted: DataFrame,
      release: () => Unit)

  /** The round-5 curation composition: absolute quality gate →
    * span-level block dedup ([[Dedup.blockDedup]]) → temperature-
    * flattened language mix ([[Sampling.temperatureSample]]) →
    * token-budget selection ([[tokenBudgetGate]]) → per-language
    * summary (n_docs, total_tokens). Every stage is an independently
    * oracle-checked operator; this pins their COMPOSITION (column
    * contracts, rescoring on the deduped text, mix-then-budget order)
    * end-to-end.
    *
    * Every gate comparison is INTEGER-exact: the quality gates score
    * through [[TextAnalysis.qualityScoreQ]] (a long), `minQuality`
    * quantizes once to `floor(minQuality·1e6)`, and the token-budget
    * histogram consumes the long directly (`quantized = true`) — no
    * double ever reaches a comparison, so the composition cannot flip
    * a survivor on an engine's last-ulp difference (the round-5
    * `curation_pipeline_v2` hash-mismatch mechanism).
    */
  def pipelineV2Stages(
      docs: DataFrame,
      idCol: String = "doc_id",
      langCol: String = "lang",
      textCol: String = "text",
      minQuality: Double = 0.5,
      blockSize: Int = 32,
      alpha: Double = 0.5,
      tokenBudget: Long = 15000L): PipelineV2Stages = Caches.owning { c =>
    val minQ = math.floor(minQuality * 1000000.0).toLong
    // `gated` is consumed twice (the dedup kernel and the lang
    // re-attach) inside the ONE action that materializes `deduped` —
    // both compute the gate regexes, deterministically (no lazy cache
    // involved, so no race; an id-cache restructure was measured
    // SLOWER here — the regexes are cheaper than the extra join +
    // eager action it would take to avoid them)
    val gated = docs
      .select(col(idCol), col(langCol), col(textCol))
      .filter(TA.qualityScoreQ(col(textCol)) >= minQ)
    val deduped = c.keep(Dedup.blockDedup(gated, idCol, textCol, blockSize)
      .join(gated.select(col(idCol), col(langCol)), Seq(idCol))
      .select(col(idCol), col(langCol),
        TA.tokenCount(col("text_dedup")).cast("long").as("n_tokens"),
        TA.qualityScoreQ(col("text_dedup")).as("q2")))
    val mixed = Sampling.temperatureSample(deduped, langCol, idCol, alpha)
    val budgeted = tokenBudgetGate(mixed, "q2", "n_tokens", tokenBudget,
      quantized = true)
    PipelineV2Stages(gated.select(col(idCol), col(langCol)), deduped, mixed,
      budgeted, c.release)
  }

  /** See [[pipelineV2Stages]] — this is its per-language summary. */
  def pipelineV2(
      docs: DataFrame,
      idCol: String = "doc_id",
      langCol: String = "lang",
      textCol: String = "text",
      minQuality: Double = 0.5,
      blockSize: Int = 32,
      alpha: Double = 0.5,
      tokenBudget: Long = 15000L): CurationRun = {
    val st = pipelineV2Stages(docs, idCol, langCol, textCol, minQuality,
      blockSize, alpha, tokenBudget)
    val summary = st.budgeted.groupBy(col(langCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
    CurationRun(summary, st.release)
  }

  /** Staged frames of [[pipelineV3Stages]]: `kept0`/`kept1` are the
    * narrow cached survivor sets (id, lang, n_tokens) after the
    * classifier gate and the span-duplication gate; `lm` is the
    * bigram-LM score frame over the span survivors (no zero-count
    * re-attach — docs without bigrams are absent, which the OOV
    * anti-join treats as kept); `batched` the
    * length-bucketed batching of the LM survivors; `summary` its
    * per-language rollup.
    */
  final case class PipelineV3Stages(
      kept0: DataFrame,
      kept1: DataFrame,
      lm: DataFrame,
      batched: DataFrame,
      summary: DataFrame,
      release: () => Unit)

  /** The session-3 curation composition: fixed-weight classifier gate →
    * tier-6 span-duplication gate ([[graft.ops.Dedup.spanDupStats]]) →
    * bigram-LM OOV gate (CCNet shape: the model trains on the surviving
    * `refLang` slice — non-`refLang` survivors mostly fail it, which is
    * the language+quality filter working) → length-bucketed batching
    * ([[Packing.lengthBucketBatches]]) → per-language summary.
    *
    * Stage discipline (the round-5 variance fix): persist only the
    * NARROW kept-id frames — (id, lang, n_tokens), a few longs per
    * survivor — and materialize each EAGERLY before its consumers fan
    * out. A lazily-cached full-text frame racing multiple consumers
    * (the LM reads the span survivors twice: ref slice + candidates)
    * re-runs the gate regexes and the span-md5 kernel a
    * nondeterministic number of times; and at 100 TB caching surviving
    * corpus TEXT per stage is not an option, while text consumers
    * re-scanning the source and semi-joining the id cache is exactly
    * the executor-friendly shape. The final batching stage is
    * text-free: (lang, n_tokens) ride the id caches from the gate scan.
    */
  def pipelineV3Stages(
      docs: DataFrame,
      idCol: String = "doc_id",
      langCol: String = "lang",
      textCol: String = "text",
      refLang: String = "en",
      model: QualityModel = QualityModel(-1.1, 0.8, 2.0, 0.9),
      spanK: Int = 40,
      spanSel: String = "0",
      maxDupRatio: Double = 0.5,
      maxOovRate: Double = 0.9,
      bucketWidth: Int = 32,
      batchSize: Int = 8,
      nShards: Int = 4,
      shardBy: Option[Column] = None): PipelineV3Stages = Caches.owning { c =>
    val kept0 = c.keep(classifierGate(docs, idCol, textCol, model,
        carry = Seq(col(langCol),
          TA.tokenCount(col(textCol)).cast("long").as("n_tokens")))
      .select(col(idCol), col(langCol), col("n_tokens")))
    val sv0 = docs.join(kept0.select(col(idCol)), Seq(idCol))
    // cover-free span stats: kept0 IS the id universe, so survivors are
    // its anti-join against the over-threshold ids (no sampled spans ≡
    // absent from the stats frame ≡ kept)
    val bad1 = Dedup.spanDupStatsFromIndex(
        c.keep(Dedup.spanDupIndex(sv0, idCol, textCol, spanK, spanSel)))
      .filter(col("n_dup").cast("double") / col("n_sampled") > maxDupRatio)
      .select(col("id").as(idCol))
    val kept1 = c.keep(kept0.join(bad1, Seq(idCol), "left_anti"))
    val sv1 = docs.join(kept1.select(col(idCol)), Seq(idCol))
    // attachMissing=false because the OOV gate below KEEPS docs absent
    // from the stats frame (no bigrams ≡ NULL oov_rate ≡ kept),
    // realized as an anti-join against the over-threshold ids — the
    // spanDupStats cover-free discipline
    val lm = ngramLmScore(sv1.filter(col(langCol) === refLang), sv1,
      idCol, textCol, attachMissing = false)
    val bad2 = lm.filter(col("oov_rate") > maxOovRate).select(col(idCol))
    val sv2 = kept1.join(bad2, Seq(idCol), "left_anti")
    val batched = Packing.lengthBucketBatches(sv2, idCol, "n_tokens",
      bucketWidth = bucketWidth, batchSize = batchSize, nShards = nShards,
      shardBy = shardBy)
    val summary = batched.groupBy(col(langCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        countDistinct(struct(col("bucket"), col("shard"), col("batch_id")))
          .as("n_batches"))
    PipelineV3Stages(kept0, kept1, lm, batched, summary, c.release)
  }

  /** Staged frames of [[pipelineV4Stages]]: `selected` the narrow
    * cached DSIR-survivor ids; `bucketed` every scored survivor with
    * its CCNet bucket; `kept` the head+middle slice; `summary` the
    * per-(lang, bucket) rollup.
    */
  final case class PipelineV4Stages(
      selected: DataFrame,
      bucketed: DataFrame,
      kept: DataFrame,
      summary: DataFrame,
      release: () => Unit)

  /** The round-6 data-SELECTION composition: DSIR importance resampling
    * against the `refLang` slice ([[importanceWeightsSelf]] +
    * [[importanceResampleExact]]) → bigram-LM scoring of the survivors
    * (model trained on the surviving `refLang` slice, CCNet-style) →
    * per-language head/middle/tail terciles ([[ccnetBuckets]]) → keep
    * head+middle → per-(lang, bucket) summary.
    *
    * Stage discipline as in [[pipelineV3Stages]], minus one barrier:
    * the narrow WEIGHTS frame persists eagerly (its lineage is the
    * fused one-explode DSIR plan), and the survivor id set derives
    * from that cache lazily — a trivial filter + one-row max attach —
    * so text consumers re-scan the source and semi-join the derived
    * ids without a second materialization stop. The summary's token
    * counts come FREE from the LM
    * pass: every bucketed doc has a non-null score, hence ≥ 1 bigram,
    * hence exactly `n_bigrams + 1` tokens — no extra text scan. Every
    * gate comparison is engine-stable (portable-hash membership,
    * integer-exact terciles).
    */
  def pipelineV4Stages(
      docs: DataFrame,
      idCol: String = "doc_id",
      langCol: String = "lang",
      textCol: String = "text",
      refLang: String = "en",
      buckets: Int = 65536): PipelineV4Stages = Caches.owning { c =>
    // the pipeline owns its caches so release() can free them. Only TWO
    // frames persist: the narrow weights (the resample's max aggregate
    // and membership filter both read it, and its lineage — the fused
    // one-explode DSIR plan — is the expensive part) and the narrow
    // scored frame below. `selected` is deliberately NOT cached: its
    // lineage past the weights cache is a trivial filter + one-row max
    // attach, so each text consumer re-deriving it costs a cache scan,
    // cheaper than another eager materialization barrier.
    val weights = c.keep(importanceWeightsSelf(docs, col(langCol) === refLang,
        idCol, textCol, buckets, attachMissing = false)
      .filter(col("weight").isNotNull)
      // carry the exact count columns: the integer resample gate below
      // decides membership by cross-multiplication on them (two more
      // longs per row — still narrow)
      .select(col(idCol), col("target_hits"), col("raw_hits"), col("weight")))
    val selected = importanceResampleExact(weights, idCol)
      .select(col(idCol))
    val sv = docs.join(selected, Seq(idCol))
    // no re-attach — ccnetBuckets drops NULL-score rows, so zero-count
    // rows would be dead weight
    val lm = ngramLmScore(sv.filter(col(langCol) === refLang), sv,
      idCol, textCol, attachMissing = false)
    // narrow scored frame kept HERE (ccnetBuckets caches nothing) —
    // otherwise the tercile histogram and the assignment join each
    // recompute the LM explodes
    val scored = c.keep(lm.join(docs.select(col(idCol), col(langCol)), Seq(idCol))
      .select(col(idCol), col(langCol), col("n_bigrams"), col("lm_score")))
    val bucketed = ccnetBuckets(scored, langCol, "lm_score")
    val kept = bucketed.filter(col("bucket") =!= "tail")
    val summary = kept.groupBy(col(langCol), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bigrams") + lit(1L)).as("total_tokens"))
    PipelineV4Stages(selected, bucketed, kept, summary, c.release)
  }

  /** Staged frames of [[pipelineV5Stages]]: `clean` the decontaminated
    * (id, lang, n_tokens) survivors; `mixed` the token-weighted mixture
    * selection; `summary` the per-language rollup.
    */
  final case class PipelineV5Stages(
      clean: DataFrame,
      mixed: DataFrame,
      summary: DataFrame,
      release: () => Unit)

  /** The round-7 MIX composition: per-document contamination gate
    * against the eval split ([[Decontaminate.contaminationScore]],
    * drop `overlap >= tau`) → token-weighted explicit-target language
    * mixture ([[Sampling.mixtureSelect]] with `weightCol`) →
    * per-language doc/token summary. Every stage is the oracle-checked
    * operator; composing them pins column contracts, the
    * flag-polarity join, and the weighted gate end-to-end with exact
    * integer outputs.
    *
    * Stage discipline (the v3/v4 narrow-persist pattern): ONE cache —
    * the narrow `clean` frame (id, lang, n_tokens; its lineage is the
    * shingle-join contamination pass) — persisted eagerly because the
    * mixture gate reads it twice (strata masses + membership) through
    * exchanges AQE cannot dedupe (an aggregate and a join-probe side);
    * everything downstream is tiny. `release()` owns the cache.
    * Token counts come from [[TextAnalysis.tokenCount]] — integer
    * length arithmetic, no array materialization.
    */
  def pipelineV5Stages(
      docs: DataFrame,
      idCol: String = "doc_id",
      langCol: String = "lang",
      textCol: String = "text",
      shares: Map[String, Long] =
        Map("en" -> 3L, "de" -> 1L, "es" -> 1L, "fr" -> 1L),
      tau: Double = 0.5,
      /** eval split: `id % benchMod == 0` ([[pipeline]]'s convention);
        * callers with a real held-out benchmark pass it via
        * `benchDf` instead.
        */
      benchMod: Int = 10,
      benchDf: Option[DataFrame] = None): PipelineV5Stages = Caches.owning { c =>
    val train = benchDf.map(_ => docs)
      .getOrElse(docs.filter(col(idCol) % benchMod =!= 0))
    val bench = benchDf
      .getOrElse(docs.filter(col(idCol) % benchMod === 0))
    val unflagged = Decontaminate
      .contaminationScore(train, bench, idCol, textCol, k = 3, tau = tau)
      .filter(!col("flagged")).select(col("train_id").as(idCol))
    val clean = c.keep(train.join(unflagged, Seq(idCol))
      .select(col(idCol), col(langCol),
        TA.tokenCount(col(textCol)).cast("long").as("n_tokens")))
    val mixed = Sampling.mixtureSelect(clean, langCol, idCol, shares,
      weightCol = Some("n_tokens"))
    val summary = mixed.groupBy(col(langCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"))
    PipelineV5Stages(clean, mixed, summary, c.release)
  }

  /** Stage handles of [[pipelineV6Stages]]: `labeled` the narrow
    * split-labeled corpus, `audit` the cross-split leakage counts,
    * `capped` the domain-cap survivors, `summary` the per-split
    * governance rollup. `release()` owns the three caches.
    */
  final case class PipelineV6Stages(
      labeled: DataFrame,
      audit: DataFrame,
      capped: DataFrame,
      summary: DataFrame,
      release: () => Unit)

  /** The round-7 GOVERNANCE composition: near-dup pairs
    * ([[Dedup.ngramJaccardPairs]]) → duplicate-cluster closure
    * ([[Dedup.connectedComponents]]) → CLUSTER-keyed train/val/test
    * split ([[Sampling.splitByGroup]] — so near-duplicates can never
    * straddle splits) → the split-leakage audit
    * ([[Sampling.splitLeakageAudit]]) proving exactly that → a
    * per-(split, domain) token cap ([[groupTokenCap]] on the quantized
    * quality score) → one per-split summary row: docs, distinct
    * families, cap survivors and their tokens, and `n_cross_pairs` —
    * which the composition guarantees is ZERO for every split, a fact
    * the DuckDB oracle derives independently (the cross-engine proof
    * of leakage safety, not an assumption).
    *
    * Stage discipline (the v3/v4/v5 narrow-persist pattern): THREE
    * eager caches — the pair list (id_a, id_b; consumed by the cluster
    * contraction AND the audit), the labeled narrow frame (id, source,
    * grp, split, n_tokens, q; consumed by the audit's two label joins,
    * the cap, and the summary base), and the audit result itself
    * (<= (#splits+1)² rows, three consumers). All id-set sized or
    * smaller, never document text; `release()` owns all three. The
    * pair tier's shingle index is built here (the FromIndex form),
    * cached for the pair list's one count and dropped right after.
    *
    * Scale shape: every stage is the already-audited operator — the
    * pair tier is df-capped, the closure is the union-find
    * contraction, the split is a codegen projection, the audit is two
    * keyed joins, the cap windows over per-group histograms. Nothing
    * quadratic, nothing corpus-wide-windowed.
    */
  def pipelineV6Stages(
      docs: DataFrame,
      idCol: String = "doc_id",
      srcCol: String = "source",
      textCol: String = "text",
      splits: Seq[(String, Long)] =
        Seq(("train", 900000L), ("val", 50000L), ("test", 50000L)),
      k: Int = 3,
      tau: Double = 0.8,
      capPerDomain: Long = 800L): PipelineV6Stages = Caches.owning { c =>
    // the pair tier's (id, s) shingle index feeds FOUR subtrees (sizes,
    // both self-join sides, the over-cap supplement) — own it HERE via
    // the FromIndex form and drop it the moment the pair list (the
    // durable cache) materializes: the index is scaffolding for one
    // build, never pipeline state (the former persistIndex=false
    // recomputed the shingle explode per consumer — measured ~25% of
    // the composition at sf0.1). It is cached LAZILY: the pair list's
    // one eager count is the only action that reads it.
    val shingleIx = Dedup.shingleFpRows(docs, idCol, textCol, k)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val pairs =
      try c.keep(Dedup.ngramJaccardPairsFromIndex(shingleIx, tau)
        .select(col("id_a"), col("id_b")))
      finally shingleIx.unpersist()
    val clusters = Dedup.connectedComponents(pairs)
      .select(col("doc_id").as(idCol), col("cluster_id"))
    val labeled = c.keep(Sampling.splitByGroup(
      docs.select(col(idCol), col(srcCol),
          TA.tokenCount(col(textCol)).cast("long").as("n_tokens"),
          TA.qualityScoreQ(col(textCol)).as("q"))
        .join(clusters, Seq(idCol), "left")
        .withColumn("grp", coalesce(col("cluster_id"), col(idCol)))
        .drop("cluster_id"),
      "grp", splits))
    // the audit is <= (#splits+1)^2 rows but its subtree (two label
    // joins + aggregate) feeds THREE consumers (returned handle + both
    // union branches of the per-split cross counts) — persist the tiny
    // result, owned by release()
    val audit = c.keep(Sampling.splitLeakageAudit(pairs, labeled, idCol))
    val capped = groupTokenCap(
        labeled.withColumn("__ss", concat_ws("|", col("split"), col(srcCol))),
        "__ss", "q", "n_tokens", capPerDomain, quantized = true)
      .drop("__ss")
    val cross = audit.filter(col("split_a") =!= col("split_b"))
    val crossPerSplit = cross
      .select(col("split_a").as("split"), col("n_pairs"))
      .union(cross.select(col("split_b").as("split"), col("n_pairs")))
      .groupBy(col("split")).agg(sum(col("n_pairs")).as("n_cross_pairs"))
    val summary = labeled.groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("grp")).as("n_families"))
      .join(capped.groupBy(col("split"))
          .agg(count(lit(1)).as("n_kept"),
            sum(col("n_tokens")).as("kept_tokens")),
        Seq("split"), "left")
      .join(crossPerSplit, Seq("split"), "left")
      .select(col("split"), col("n_docs"), col("n_families"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        coalesce(col("n_cross_pairs"), lit(0L)).as("n_cross_pairs"))
    PipelineV6Stages(labeled, audit, capped, summary, c.release)
  }

  /** Stage handles of [[pipelineV7Stages]]: `keptIds` the narrow gated
    * id set (the one eager cache, owned by `release()`), `merges` the
    * driver-side trained BPE table (bounded by maxVocab — see
    * [[bpeTrain]]), `encoded` per-kept-doc BPE token counts, `summary`
    * the per-source rollup.
    */
  final case class PipelineV7Stages(
      keptIds: DataFrame,
      merges: Array[Array[String]],
      encoded: DataFrame,
      summary: DataFrame,
      release: () => Unit)

  /** The TOKENIZER composition: Gopher repetition gate
    * ([[TextAnalysis.gopherRepetition]] — drop documents whose top
    * bigram covers more than `maxTopBigramPpm` ppm of their
    * characters) → train a BPE merge table on the CLEAN survivors
    * ([[bpeTrain]] — repetition-heavy docs would otherwise dominate
    * the pair counts and waste merges on boilerplate) → re-tokenize
    * the survivors under the trained table
    * ([[graft.functions.BpeTokenCount]], scan-side) → one row per
    * source: docs seen / kept / dropped and total BPE tokens — the
    * "what does my corpus cost under MY tokenizer" rollup.
    *
    * Stage discipline (the v3/v6 narrow-persist pattern): ONE eager
    * cache, the gated id SET (never document text); the vocabulary
    * scan and the encode scan each re-read the corpus and semi-join
    * the ids. The merge table itself is driver-side but bounded by
    * maxVocab — the documented collect class — and rides into the
    * encode kernel as a reference object. Scale shape: gate and
    * encode are zero-shuffle codegen projections; training is one
    * vocab aggregate + the bounded driver loop; the summary is two
    * source-keyed aggregates.
    */
  def pipelineV7Stages(
      docs: DataFrame,
      idCol: String = "doc_id",
      srcCol: String = "source",
      textCol: String = "text",
      maxTopBigramPpm: Long = 100000L,
      numMerges: Int = 6): PipelineV7Stages = Caches.owning { c =>
    val ppm = TA.gopherRepetition(docs, idCol, textCol,
      topNs = Seq(2), dupNs = Seq.empty)
    val keptIds = c.keep(ppm.filter(col("top2_ppm") <= maxTopBigramPpm)
      .select(col(idCol)))
    val kept = docs.join(keptIds, Seq(idCol), "left_semi")
    val merges = collectMerges(bpeTrain(kept, numMerges, idCol, textCol))
    val encoded = kept.select(col(idCol), col(srcCol),
      org.apache.spark.sql.classic.GraftExpressionBridge.column(
        graft.functions.BpeTokenCount(
          org.apache.spark.sql.classic.GraftExpressionBridge.expression(col(textCol)),
          merges)).as("n_bpe"))
    val summary = docs.groupBy(col(srcCol))
      .agg(count(lit(1)).as("n_docs"))
      .join(encoded.groupBy(col(srcCol))
          .agg(count(lit(1)).as("n_kept"), sum(col("n_bpe")).as("bpe_tokens")),
        Seq(srcCol), "left")
      .select(col(srcCol), col("n_docs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_docs") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"),
        coalesce(col("bpe_tokens"), lit(0L)).as("bpe_tokens"))
    PipelineV7Stages(keptIds, merges, encoded, summary, c.release)
  }

  /** Stage handles of [[pipelineV8Stages]]: `audit` the per-round
    * reweighting decisions (a driver-bounded LocalRelation), `shares`
    * the tuned final weights, `selected` the tuned-mixture corpus
    * slice, `summary` its per-stratum rollup. No cluster caches —
    * `release()` is a no-op kept for the pipeline-run convention.
    */
  final case class PipelineV8Stages(
      audit: DataFrame,
      shares: Map[String, Long],
      selected: DataFrame,
      summary: DataFrame,
      release: () => Unit)

  /** The MIXTURE-TUNING composition: DoReMi-style reweighting rounds
    * ([[mixtureReweightRun]] — each round trains the bigram proxy on
    * the live mixture and upweights high-miss strata multiplicatively,
    * integer-exact) → select the TUNED mixture
    * ([[Sampling.mixtureSelect]] under the final weights) → one row
    * per stratum: tuned weight, selected docs, selected char mass.
    * The end-to-end "let the data pick its own mix, then realize it"
    * pipeline; the DuckDB oracle re-derives every round's update AND
    * the final membership, so the tuned weights are cross-engine
    * facts, not training folklore.
    *
    * Scale shape: `rounds`+1 sequential mixture passes over the
    * corpus (each a strata-mass aggregate + membership probe + two
    * bigram explodes against buckets-bounded build sides — the
    * [[mixtureReweight]] shape); the only driver state is the
    * #strata-row audit. No corpus-sized caches, hence the no-op
    * release.
    */
  def pipelineV8Stages(
      docs: DataFrame,
      idCol: String = "doc_id",
      strataCol: String = "lang",
      textCol: String = "text",
      massCol: String = "n_chars",
      initShares: Map[String, Long] =
        Map("en" -> 1L, "de" -> 1L, "es" -> 1L, "fr" -> 1L, "zh" -> 1L),
      rounds: Int = 2,
      eta: Long = 1L): PipelineV8Stages = Caches.owning { c =>
    val (audit, tuned) = mixtureReweightRun(docs, strataCol, idCol, textCol,
      initShares, rounds, eta)
    val selected = Sampling.mixtureSelect(
      docs.select(col(idCol), col(strataCol), col(massCol)),
      strataCol, idCol, tuned)
    val weight = tuned.toSeq.sortBy(_._1).foldLeft(lit(0L)) {
      case (acc, (s, w)) => when(col(strataCol) === s, lit(w)).otherwise(acc)
    }
    val summary = selected.groupBy(col(strataCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(massCol).cast("long")).as("total_chars"))
      .withColumn("weight", weight)
      .select(col(strataCol), col("weight"), col("n_docs"), col("total_chars"))
    PipelineV8Stages(audit, tuned, selected, summary, c.release)
  }

  /** Per-source boilerplate phrases: the distinct k-token n-grams that
    * appear in at least `minDocs` documents OF THE SAME SOURCE — the
    * header/footer/navigation text a site stamps on every page (the
    * CCNet/Gopher boilerplate signal; this corpus has no newlines, so
    * the unit is the token n-gram rather than the line).
    *
    * Scale shape: codegen shingle explode (zero shuffles, shingles
    * deduped per doc inside the kernel so `count(*)` IS the document
    * frequency) → one partial-agged groupBy on (source, ngram). The
    * output is df-thresholded — a tiny fraction of the shingle stream —
    * so the downstream join in [[boilerplateStats]] has a small build
    * side AQE can broadcast on its own.
    */
  def boilerplateNgrams(
      docs: DataFrame,
      k: Int = 3,
      minDocs: Int = 3,
      srcCol: String = "source",
      textCol: String = "text"): DataFrame =
    Dedup.shingleRowsKeep(docs, Seq(srcCol), textCol, k)
      .groupBy(col(srcCol), col("s").as("ngram"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)

  /** Per-document boilerplate measurement against [[boilerplateNgrams]]:
    * (id, n_shingles, n_boiler, boiler_ratio). A curation pipeline
    * drops or rewrites documents above a ratio threshold; the ratio is
    * emitted rather than the filtered corpus so the cutoff stays a
    * caller policy.
    *
    * The shingle stream is computed twice (once under the boilerplate
    * aggregate, once as the probe side) — deliberate: it is a cheap
    * codegen projection of the scan, and at 100 TB re-scanning beats
    * caching a ~200x-exploded intermediate. The join keys on
    * (source, ngram); the build side is the df-thresholded phrase set.
    */
  def boilerplateStats(
      docs: DataFrame,
      k: Int = 3,
      minDocs: Int = 3,
      idCol: String = "doc_id",
      srcCol: String = "source",
      textCol: String = "text"): DataFrame = {
    val sh = Dedup.shingleRowsKeep(docs, Seq(idCol, srcCol), textCol, k)
    val boiler = boilerplateNgrams(docs, k, minDocs, srcCol, textCol)
    sh.join(boiler.withColumnRenamed("ngram", "s"), Seq(srcCol, "s"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        count(col("n_docs")).as("n_boiler"))
      .withColumn("boiler_ratio",
        col("n_boiler").cast("double") / col("n_shingles"))
  }

  /** Corpus vocabulary: every whitespace token with its collection term
    * frequency (`tf`) and document frequency (`df`) — the input to
    * tokenizer-vocab construction and idf weighting.
    *
    * One narrow two-level aggregation instead of `countDistinct`: the
    * first groupBy on (token, id) partial-aggregates the exploded token
    * stream map-side (a document's repeated tokens collapse before the
    * shuffle), the second folds per-doc counts into tf and counts rows
    * into df. No distinct-expand, both shuffles carry (string, long)
    * pairs.
    */
  def vocabulary(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      minDf: Int = 1): DataFrame =
    docs.select(col(idCol).as("id"),
        explode(split(col(textCol), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("token"), col("id")).agg(count(lit(1)).as("c"))
      .groupBy(col("token"))
      .agg(sum(col("c")).as("tf"), count(lit(1)).as("df"))
      .filter(col("df") >= minDf)

  /** Per-document rarity: how common a document's vocabulary is in the
    * corpus, as the mean collection term frequency of its tokens
    * (duplicates count — a doc repeating a rare word is still rare).
    * Low mean_tf = specialized/rare vocabulary, high = boilerplate-ish
    * common words; the cheap perplexity proxy that needs no model and
    * no `ln` (a log-based score would drift in the last ulp between
    * libm implementations and break cross-engine parity — the sums here
    * are exact longs, and the single final divide is IEEE-exact-rounded
    * in every engine).
    *
    * Shape: token explode → corpus tf aggregation ([[vocabulary]]) →
    * one shuffle joining the exploded stream back on token → per-doc
    * sum/count. The join's build side is the vocabulary (≪ corpus);
    * AQE broadcasts it when it fits, otherwise both sides shuffle on
    * the token key — either way nothing quadratic, no driver loops.
    */
  def docRarity(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // the token frame feeds BOTH the tf aggregation and the re-join, so
    // the explode runs twice — deliberately: the token stream is
    // corpus-sized, so caching it would write ~the whole corpus to
    // memory/disk (and measured SLOWER than the re-scan even at sf0.1);
    // re-reading one parquet string column is the cheaper side of the
    // trade at every scale
    val toks = docs.select(col(idCol).as("id"),
        explode(split(col(textCol), " ")).as("token"))
      .filter(length(col("token")) > 0)
    val vocab = toks.groupBy(col("token"), col("id")).agg(count(lit(1)).as("c"))
      .groupBy(col("token")).agg(sum(col("c")).as("tf"))
    toks.join(vocab, Seq("token"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("tf")).as("tf_sum"))
      .select(col("id").as(idCol), col("n_tokens"), col("tf_sum"),
        (col("tf_sum").cast("double") / col("n_tokens").cast("double")).as("mean_tf"))
  }

  /** BPE training's counting step: adjacent character-pair frequencies
    * across the corpus, weighted by token frequency. The highest-count
    * pair is the next BPE merge candidate.
    *
    * Scale shape — count over the DISTINCT vocabulary, not the corpus:
    * [[vocabulary]] collapses the token stream to (token, tf) first
    * (vocab ≪ corpus at any scale), then one codegen kernel explode
    * (graft.functions.CharPairs) and one pair groupBy with map-side
    * partial sums. Per-token work is O(len); nothing rescans documents.
    */
  def bpePairStats(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    vocabulary(docs, idCol, textCol)
      .select(col("tf"),
        explode(org.apache.spark.sql.classic.GraftExpressionBridge.column(
          graft.functions.CharPairs(
            org.apache.spark.sql.classic.GraftExpressionBridge.expression(col("token")))))
          .as("pair"))
      .groupBy(col("pair"))
      .agg(sum(col("tf")).as("n"))

  /** Full BPE merge TRAINING (Sennrich et al. 2016): `numMerges`
    * iterations of count-adjacent-symbol-pairs → merge the argmax —
    * the loop [[bpePairStats]] is one step of.
    *
    * Scale contract: the corpus is scanned ONCE ([[vocabulary]]'s
    * (token, tf) aggregate — vocab ≪ corpus at any scale); the merge
    * loop runs DRIVER-SIDE over the deterministic top-`maxVocab`
    * dictionary, the same design as every production BPE trainer (the
    * word-frequency dictionary, not the corpus, is the training set —
    * driver state is bounded by maxVocab · max word length, independent
    * of corpus size; the documented-bounded collect class).
    *
    * Cross-engine exactness: word state is a '|'-delimited padded
    * symbol string and each merge is
    * `replace("|l|r|" → "|lr|")` — left-to-right non-overlapping, the
    * exact semantics SQL `replace()` shares, so a DuckDB oracle
    * unrolling the same iterations reproduces every merge decision
    * bit-for-bit (including the back-to-back-repeat convention).
    * Argmax ties break by (count desc, left asc, right asc) in RAW
    * BYTE order (UTF8String / DuckDB binary collation).
    * Output: (rank, left_sym, right_sym, pair_count).
    *
    * NOT count-comparable to external BPE tokenizers on repeated
    * symbols: the single left-to-right replace pass merges only
    * alternating back-to-back repeats ("aaaa" under merge a+a →
    * [aa, a, a], where Sennrich-style BPE re-scans to [aa, aa]), so
    * token counts for repeat-heavy text differ from sentencepiece/
    * HF-BPE on the same merge table. The convention is deliberate —
    * it is the one semantics both engines execute identically, which
    * is what makes the merge decisions oracle-checkable; treat the
    * trained table + [[graft.functions.BpeTokenCount]] as one closed
    * system, not an interchange format.
    */
  def bpeTrain(docs: DataFrame, numMerges: Int,
               idCol: String = "doc_id", textCol: String = "text",
               maxVocab: Int = 1 << 20): DataFrame =
    bpeTrainFromVocab(vocabulary(docs, idCol, textCol), numMerges, maxVocab)

  /** [[bpeTrain]] from a STANDING (token, tf, ...) vocabulary table,
    * e.g. a [[vocabulary]] result: re-derive the merge table from the
    * standing counts whenever the tokenizer should refresh.
    */
  def bpeTrainFromVocab(vocab: DataFrame, numMerges: Int,
                        maxVocab: Int = 1 << 20,
                        driverDictLimit: Int = 1 << 16): DataFrame = {
    val spark = vocab.sparkSession
    import org.apache.spark.unsafe.types.UTF8String
    def byteLt(a: String, b: String): Boolean =
      UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0
    // delimiter contract: '|' separates symbols in the word-state
    // strings, so '|'-carrying tokens cannot ride the replace pipeline
    // — exclude them from the dictionary (the oracle mirrors with
    // NOT LIKE '%|%'; [[graft.functions.TextKernel.bpeSegmentWord]]
    // returns such words' raw codepoints, so no merge targets them)
    val dictDf = vocab
      .filter(!col("token").contains("|"))
      .orderBy(col("tf").desc, col("token"))
      .limit(maxVocab)
      .select("token", "tf")
    // PATH SPLIT on dictionary size: the merge loop is O(numMerges ×
    // Σ|word|) — a small dict (the common tokenizer-training case)
    // runs it zero-jobs-per-round on the driver, but at maxVocab = 2^20
    // that is ~1M words re-scanned per merge on ONE thread, a driver
    // bottleneck the cluster can't help with. Past `driverDictLimit`
    // the SAME rounds run as Spark aggregates over the word-state
    // frame (bit-identical merge decisions — spec-pinned equality,
    // including multi-byte/supplementary codepoints): explode adjacent
    // symbol pairs, ONE sum per round, argmax via the same
    // (count desc, left, right) byte order that Spark's UTF8String
    // sort IS. Peek one row past the limit so small dicts never pay a
    // separate count job.
    val head = dictDf.limit(driverDictLimit + 1).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    if (head.length > driverDictLimit)
      return bpeMergeRoundsDistributed(dictDf, numMerges)
    val dict = head
    var words: Array[(String, Long)] = dict.map { case (t, tf) =>
      val cps = t.codePoints().toArray
        .map(cp => new String(Character.toChars(cp)))
      ("|" + cps.mkString("|") + "|", tf)
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var rank = 0
    var continueLoop = true
    while (rank < numMerges && continueLoop) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (w, tf) =>
        val syms = w.substring(1, w.length - 1).split("\\|", -1)
        var i = 0
        while (i + 1 < syms.length) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + tf)
          i += 1
        }
      }
      if (counts.isEmpty) continueLoop = false
      else {
        var best: ((String, String), Long) = null
        counts.foreach { e =>
          if (best == null) best = e
          else {
            val ((bl, br), bn) = best
            val ((el, er), en) = e
            if (en > bn ||
                (en == bn && (byteLt(el, bl) ||
                  (el == bl && byteLt(er, br))))) best = e
          }
        }
        val ((l, r), n) = best
        out += ((rank.toLong, l, r, n))
        words = words.map { case (w, tf) =>
          (w.replace(s"|$l|$r|", s"|$l$r|"), tf)
        }
        rank += 1
      }
    }
    import spark.implicits._
    out.toSeq.toDF("rank", "left_sym", "right_sym", "pair_count")
  }

  /** The DISTRIBUTED merge loop behind [[bpeTrainFromVocab]] for
    * dictionaries past `driverDictLimit`: per round, ONE Spark
    * aggregate over the (w, tf) word-state frame — split the state
    * into symbols, zip-explode adjacent pairs, sum tf per pair — and a
    * 1-row TakeOrdered argmax under exactly the driver loop's
    * (count desc, left asc, right asc) tie-break (Spark string sort IS
    * UTF8 byte order, the same `UTF8String.compareTo` the driver path
    * calls). The winning merge rewrites the frame with the same
    * left-to-right non-overlapping `replace` and the result is
    * re-persisted (the previous round's cache released), so per-round
    * work stays O(dict), not O(rounds × dict). Driver state: one
    * (left, right, count) row per round. Codepoint splitting uses
    * Java-regex `(?s)(.)` — codepoint-aware like the driver path's
    * `codePoints()`, supplementary characters stay whole (spec-pinned
    * equality on a multi-byte dictionary).
    *
    * LINEAGE TRUNCATION — two mechanisms, both required at real merge
    * counts (10k+):
    *
    *   - PLAN lineage is cut EVERY round: persisting `withColumn` over
    *     the previous round's cache nests each round's
    *     InMemoryRelation inside the next one's cached plan, and plan
    *     PRINTING (AQE's per-stage `explainString`, listener events)
    *     re-renders the nested relation at every level — measured
    *     EXPONENTIAL in rounds (a 40-round loop wedged for minutes
    *     inside `QueryExecution.explainString` before this fix; ≤ 8
    *     rounds masked it). Rebuilding each round's frame as
    *     `createDataFrame(rdd, schema)` — a depth-1 LogicalRDD — keeps
    *     every cached plan flat, and the previous round unpersists
    *     deterministically.
    *   - RDD lineage is cut every [[LineageTruncateEvery]] rounds via
    *     eager `localCheckpoint`: the flat plans still chain RDD
    *     parents (~4/round), and at 10k rounds a task would serialize
    *     — and Java-serialization would RECURSE over — a 40k-deep
    *     dependency graph (StackOverflowError well before that).
    *     Tradeoff, documented: blocks lost AT a checkpoint cannot
    *     recompute past it (the standard iterative-algorithm
    *     discipline — MLlib/GraphX checkpoint the same way); boundary
    *     frames are freed by the ContextCleaner once unreferenced
    *     rather than by an explicit unpersist (localCheckpoint blocks
    *     are not CacheManager entries).
    */
  private val LineageTruncateEvery = 32

  /** Word-frame rewrite cadence of the incremental distributed trainer
    * (see [[bpeMergeRoundsDistributedWithStats]]): pending merges are
    * folded into the persisted word-state frame only every this-many
    * merges; between rewrites, scans apply the pending chain on the
    * fly. Bounds the chained-replace depth per scan AND cuts the heavy
    * rewrite+persist+count cycle — the old loop's dominant per-merge
    * cost — to 1/RewriteEvery per merge.
    */
  private val RewriteEvery = 16

  private def bpeMergeRoundsDistributed(dictDf: DataFrame,
                                        numMerges: Int): DataFrame =
    bpeMergeRoundsDistributedWithStats(dictDf, numMerges)._1

  /** The INCREMENTAL distributed merge loop behind [[bpeTrainFromVocab]]
    * for dictionaries past `driverDictLimit` (round 12, VERDICT r11
    * item 2 — replaces the one-full-recount-per-merge loop, whose
    * measured 0.6-1.5 s/merge at 2^17-2^19 words made a 10k-merge
    * tokenizer a ~4 h job; a top-m disjoint-batch variant was built
    * first and MEASURED at 1.1-1.8 merges/Spark-round on both probe
    * alphabets — symbol sharing at the head of the pair table caps it
    * structurally — so it was replaced by this, the standard
    * incremental trainer, distributed):
    *
    *   - the (pair -> count) table is maintained EXACTLY on the driver:
    *     seeded by ONE full adjacent-pair aggregate over the word-state
    *     frame, then updated per merge with a DELTA job that touches
    *     only the words containing the merged pair (signed-tf union:
    *     -tf for each affected word's old pairs, +tf for its rewritten
    *     pairs, one aggregate). By induction the table equals what a
    *     full recount would return after every merge — merge decisions
    *     are therefore BIT-IDENTICAL to the driver loop's, including
    *     count ties (argmax under (count desc, left, right) byte order
    *     via `UTF8String.compareTo`, the exact driver-path comparator)
    *     and the recorded pair_count.
    *   - argmax is a lazy max-heap with stale-entry invalidation (an
    *     entry is valid only if its count still matches the table), so
    *     per-merge driver work is O(log |pairs| + |delta|), never a
    *     table scan.
    *   - the word-state frame is REWRITTEN only every [[RewriteEvery]]
    *     merges (the flat-plan LogicalRDD rebuild + persist + eager
    *     count, with the RDD-lineage localCheckpoint every
    *     [[LineageTruncateEvery]] rewrites — both mechanisms unchanged,
    *     see the lineage note above); between rewrites, the delta scan
    *     applies the ≤ RewriteEvery pending replaces on the fly. Spark
    *     jobs per merge: ONE narrow delta aggregate; the heavy
    *     full-frame cycle runs once per RewriteEvery merges (16x fewer
    *     than the old loop, measured on synthetic 2^17/2^19-word
    *     dictionaries).
    *
    * DRIVER STATE, the documented trade: O(distinct adjacent pairs)
    * ≤ O(Σ|word|) map+heap entries (vs one row per round before).
    * At the 2^20-word `maxVocab` cap with width-20 words that is ≤ 20M
    * entries worst case — bounded by the vocab cap, not the corpus —
    * and real dictionaries share structure (synthetic 2^19-word
    * tables seed far under 1M pairs). The WORDS never pass through the
    * driver.
    *
    * Returns (merge table, rewrite-round count); specs read the count
    * to check the rewrite cadence. `rewriteEvery`/`truncateEvery` are
    * spec knobs (defaults are the production cadence).
    */
  private[graft] def bpeMergeRoundsDistributedWithStats(
      dictDf: DataFrame, numMerges: Int,
      rewriteEvery: Int = RewriteEvery,
      truncateEvery: Int = LineageTruncateEvery): (DataFrame, Int) = {
    val spark = dictDf.sparkSession
    import spark.implicits._
    import org.apache.spark.unsafe.types.UTF8String
    var words = Caches.eager(dictDf.select(
        concat(lit("|"), regexp_replace(col("token"), "(?s)(.)", "$1|")).as("w"),
        col("tf")))

    // adjacent-pair aggregate over a (w, tf) frame — the ONE pair-
    // extraction shape, used by both the seed recount and the deltas
    // (any divergence would break the induction; spec-pinned equality)
    def adjPairs(df: DataFrame): DataFrame = {
      val syms = split(expr("substring(w, 2, length(w) - 2)"), "[|]")
      df.select(col("tf"), syms.as("s"))
        .filter(size(col("s")) >= 2)
        .select(col("tf"), explode(arrays_zip(
          slice(col("s"), lit(1), size(col("s")) - 1).as("l"),
          slice(col("s"), lit(2), size(col("s")) - 1).as("r"))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("tf")).as("n"))
    }
    def chained(c0: Column, ms: Seq[(String, String)]): Column =
      ms.foldLeft(c0) { case (c, (l, r)) =>
        org.apache.spark.sql.functions.replace(
          c, lit(s"|$l|$r|"), lit(s"|$l$r|"))
      }

    // exact count table + lazy max-heap (priority: count desc, then
    // UTF8-byte-ascending left, right — the driver loop's tie-break)
    val counts = new java.util.HashMap[(String, String), java.lang.Long]()
    val ord = new Ordering[(Long, String, String)] {
      def compare(a: (Long, String, String), b: (Long, String, String)): Int = {
        if (a._1 != b._1) return java.lang.Long.compare(a._1, b._1)
        val cl = UTF8String.fromString(b._2).compareTo(UTF8String.fromString(a._2))
        if (cl != 0) return cl
        UTF8String.fromString(b._3).compareTo(UTF8String.fromString(a._3))
      }
    }
    val heap = new scala.collection.mutable.PriorityQueue[(Long, String, String)]()(ord)
    adjPairs(words).collect().foreach { r =>
      val (l, rr, n) = (r.getString(0), r.getString(1), r.getLong(2))
      counts.put((l, rr), n)
      heap.enqueue((n, l, rr))
    }

    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    val pending = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var rank = 0
    var rewrites = 0
    var continueLoop = true

    def flushRewrite(): Unit = if (pending.nonEmpty) {
      val stacked = words.withColumn("w", chained(col("w"), pending.toSeq))
      var next = Caches.eager(spark.createDataFrame(stacked.rdd, stacked.schema))
      words.unpersist()
      rewrites += 1
      if (rewrites % truncateEvery == 0) {
        val cut = next.localCheckpoint(true)
        next.unpersist()
        next = cut
      }
      words = next
      pending.clear()
    }

    // ---- speculative batching over the exact table ----------------
    //
    // A delta JOB per merge leaves ~0.5 s of fixed per-job cost as the
    // floor (measured). So each round SPECULATES a run of up to
    // `specCap` merges from the current exact table — the
    // argmax plus the next valid entries that are pairwise
    // symbol-disjoint with it (incl. concat symbols; disjoint pairs'
    // counts cannot change under each other's merges, so their
    // relative order is the likely sequential order) — computes ALL
    // their stage deltas in ONE job (stage i's scan applies the
    // pending chain + speculated merges 0..i-1 on the fly), then
    // VERIFIES each stage on the driver before accepting it:
    //
    //   spec(j) is the true argmax at its stage iff no CHALLENGER
    //   orders better under (count desc, left, right byte order).
    //   The challenger set is exact and small: (a) the valid
    //   interacting entries the speculation scan popped past (they
    //   ordered before spec(j) in the round's table; their counts may
    //   have dropped), and (b) every pair a prior accepted stage's
    //   delta INCREASED (the only counts that can rise). Everything
    //   else either ordered after spec(j) with a non-increasing count
    //   (cannot overtake) or is an accepted earlier stage (merged
    //   away). On the first failed stage the remaining speculation is
    //   discarded un-applied and its heap entries restored — the next
    //   round re-speculates from the true table, so a fully
    //   adversarial dictionary degrades to one merge per job, never
    //   below, and the sequence stays EXACT in every case.
    // ADAPTIVE width: the staged job's cost grows with the number of
    // speculated stages, so a low-acceptance dictionary (shared top
    // symbols, count ties — a synthetic base-4 table) must not pay a
    // 16-stage scan to land one merge. Start at 1, double on a fully
    // accepted round, shrink to half the accepted run on a rejection —
    // worst case degrades to exactly the one-merge round, and
    // well-separated dictionaries climb to the cap (measured on
    // synthetic dictionaries: a fixed 16-wide speculation was 2-3x
    // SLOWER than no speculation on those tables; adaptive recovers the
    // incremental floor there while keeping the batched ceiling).
    val specCap = math.max(1, rewriteEvery)
    var specWidth = 1
    while (rank < numMerges && continueLoop) {
      // exact argmax (lazy heap: entries whose count moved are stale)
      var best: (Long, String, String) = null
      while (best == null && heap.nonEmpty) {
        val cand = heap.dequeue()
        val cur = counts.get((cand._2, cand._3))
        if (cur != null && cur.longValue == cand._1) best = cand
      }
      if (best == null) continueLoop = false
      else {
        // gather speculative disjoint successors (bounded pop budget)
        val spec = scala.collection.mutable.ArrayBuffer(best)
        val used = scala.collection.mutable.HashSet(
          best._2, best._3, best._2 + best._3)
        val skipped = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String)]
        val wanted = math.min(specWidth, numMerges - rank)
        var budget = 4 * wanted
        while (spec.length < wanted && budget > 0 && heap.nonEmpty) {
          val cand = heap.dequeue()
          val cur = counts.get((cand._2, cand._3))
          if (cur != null && cur.longValue == cand._1) {
            if (!used(cand._2) && !used(cand._3)) {
              spec += cand
              used += cand._2; used += cand._3; used += (cand._2 + cand._3)
            } else skipped += cand
          }
          budget -= 1
        }
        // ONE job: signed stage deltas for every speculated merge
        val staged = spec.indices.map { i =>
          val st = chained(col("w"),
            pending.toSeq ++ spec.take(i).map(p => (p._2, p._3)))
          val pat = s"|${spec(i)._2}|${spec(i)._3}|"
          val cur = words.select(st.as("w"), col("tf"))
            .filter(col("w").contains(pat))
          cur.select(lit(i).as("stage"), col("w"), (-col("tf")).as("tf"))
            .union(cur.select(lit(i).as("stage"),
              org.apache.spark.sql.functions.replace(col("w"), lit(pat),
                lit(s"|${spec(i)._2}${spec(i)._3}|")).as("w"),
              col("tf")))
        }.reduce(_ union _)
        val syms = split(expr("substring(w, 2, length(w) - 2)"), "[|]")
        val deltaRows = staged
          .select(col("stage"), col("tf"), syms.as("s"))
          .filter(size(col("s")) >= 2)
          .select(col("stage"), col("tf"), explode(arrays_zip(
            slice(col("s"), lit(1), size(col("s")) - 1).as("l"),
            slice(col("s"), lit(2), size(col("s")) - 1).as("r"))).as("p"))
          .groupBy(col("stage"), col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum(col("tf")).as("n"))
          .filter(col("n") =!= 0)
          .collect()
          .groupBy(_.getInt(0))
        // verify + apply stage by stage; stop at the first miss
        def beats(an: Long, al: String, ar: String,
                  bn: Long, bl: String, br: String): Boolean = {
          if (an != bn) return an > bn
          val cl = UTF8String.fromString(al).compareTo(UTF8String.fromString(bl))
          if (cl != 0) return cl < 0
          UTF8String.fromString(ar).compareTo(UTF8String.fromString(br)) < 0
        }
        val challengers = scala.collection.mutable.HashSet.empty[(String, String)]
        skipped.foreach(q => challengers += ((q._2, q._3)))
        var j = 0
        var ok = true
        while (j < spec.length && ok) {
          val (n0, l, r) = spec(j)
          if (j > 0) {
            // disjointness keeps spec(j)'s own count at n0 (checked —
            // a violation falls back to re-speculation, never records
            // a wrong count); a challenger beats it only by
            // (count, byte-order)
            val cj = counts.get((l, r))
            ok = cj != null && cj.longValue == n0 &&
              challengers.forall { q =>
                val qc = counts.get(q)
                qc == null || !beats(qc.longValue, q._1, q._2, n0, l, r)
              }
          }
          if (ok) {
            out += ((rank.toLong, l, r, n0))
            deltaRows.getOrElse(j, Array.empty).foreach { row =>
              val key = (row.getString(1), row.getString(2))
              val d = row.getLong(3)
              val prev = counts.get(key)
              val nv = (if (prev == null) 0L else prev.longValue) + d
              if (nv <= 0L) { counts.remove(key); () }
              else {
                counts.put(key, nv)
                heap.enqueue((nv, key._1, key._2))
                if (d > 0) challengers += key
              }
            }
            pending += ((l, r))
            rank += 1
            if (pending.length >= rewriteEvery) flushRewrite()
            j += 1
          }
        }
        // restore: un-accepted speculation + popped interacting entries
        (j until spec.length).foreach(i => heap.enqueue(spec(i)))
        skipped.foreach(heap.enqueue(_))
        specWidth =
          if (j == spec.length) math.min(specCap, math.max(2, 2 * j))
          else math.max(1, j / 2)
      }
    }
    words.unpersist()
    (out.toSeq.toDF("rank", "left_sym", "right_sym", "pair_count"), rewrites)
  }

  /** Collect a merge table into the kernel-ready rank-ordered form —
    * the ONE place that knows [[bpeTrain]]'s output column positions
    * (rank, left_sym, right_sym, pair_count). Bounded by numMerges.
    */
  def collectMerges(merges: DataFrame): Array[Array[String]] =
    merges.orderBy("rank").collect()
      .map(r => Array(r.getString(1), r.getString(2)))

  /** Top-`topN` characteristic terms per document by idf-weighted term
    * frequency: score = tf × (N / df). The weighting is log-free so the
    * score is a pure IEEE divide-then-multiply over exact integers —
    * bit-identical in any engine (an `ln` idf would drift in the last
    * ulp between libm implementations and break the hash oracle; the
    * ORDER it induces within a document differs from log-idf only when
    * tf and df both vary, and either variant is a legitimate
    * tf-idf family member).
    *
    * Shape: token explode (codegen) → tf groupBy (map-side partial on
    * (doc, token)) → df groupBy (token) → tf⋈df shuffle on token →
    * per-doc window top-N. The 1-row corpus count rides a cross join
    * (BNLJ over one row). No driver loops, no HOFs.
    */
  def tfidfTopTerms(
      docs: DataFrame,
      topN: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val tf = docs.select(col(idCol),
        explode(split(col(textCol), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val scored = tf.join(dfT, Seq("token")).crossJoin(nDocs)
      .withColumn("score",
        col("tf").cast("double") * (col("n_docs") / col("df").cast("double")))
    TopK.rank(scored, Seq(col(idCol)), Seq(col("score").desc, col("token")), topN)
      .select(col(idCol), col("token"), col("tf"), col("df"),
        col("score"), col("rank"))
  }

  /** BM25 document scores for a fixed query-term set — the retrieval
    * ranking companion of [[tfidfTopTerms]] (data curation uses it to
    * pull topic-relevant subsets out of a web corpus: score against a
    * topic's seed terms, keep the head). Log-free variant for the same
    * reason tfidf is: both engines fold the IDENTICAL double parse tree
    * `((nd - df + 0.5) / (df + 0.5)) * tf(k1+1) / (tf + k1(1 - b +
    * b·dl/avgdl))`, so results are bit-comparable; dropping BM25's
    * outer `ln` keeps that true (libm log implementations differ in the
    * last ulp across engines) and preserves the ranking (ln is
    * monotone) though not the classic score values.
    *
    * Per-term scores combine by a FIXED left-to-right sum in `terms`
    * order (a float `sum()` aggregate would add in partition order —
    * non-associative doubles would then hash-diverge across engines and
    * even across runs). Returns (id, n_hit, bm25) for docs matching at
    * least one term. `nd`/`avgdl` count docs with ≥1 token.
    *
    * Shape: token explode → per-doc length agg + 1-row corpus stats
    * (broadcast cross join) → tf groupBy on (doc, term) with the term
    * IN-filter pushed into the scan → df groupBy over the tiny
    * (terms × docs) frame → fixed-width pivot agg. Nothing scales with
    * |terms| but the final projection.
    */
  def bm25Scores(
      docs: DataFrame,
      terms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val toks = docs.select(col(idCol),
        explode(split(col(textCol), " ")).as("token"))
      .filter(length(col("token")) > 0)
    val dl = toks.groupBy(col(idCol))
      .agg(count(lit(1)).cast("double").as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("nd"),
      avg(col("dl")).as("avgdl"))
    val tf = toks.filter(col("token").isin(terms: _*))
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val dfT = tf.groupBy(col("token")).agg(count(lit(1)).cast("double").as("df"))
    val scored = tf.join(dfT, Seq("token"))
      .join(dl, Seq(idCol))
      .crossJoin(broadcast(stats))
      .withColumn("s",
        ((col("nd") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
          ((col("tf") * (lit(k1) + lit(1.0))) /
            (col("tf") + lit(k1) *
              (lit(1.0) - lit(b) + lit(b) * (col("dl") / col("avgdl"))))))
    val pivots = terms.zipWithIndex.map { case (t, i) =>
      max(when(col("token") === t, col("s"))).as(s"__s$i")
    }
    val total = terms.indices
      .map(i => coalesce(col(s"__s$i"), lit(0.0)))
      .reduceLeft(_ + _)
    scored.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hit"), pivots: _*)
      .select(col(idCol), col("n_hit"), total.as("bm25"))
  }

  /** Global quantile gate: drop (approximately, and at most) the bottom
    * `dropFrac` of rows by `scoreCol`, with EXACT integer semantics that
    * any engine reproduces bit-for-bit. Scores are quantized to a 1e-6
    * grid (`q = floor(score·1e6)`, scores live in [0,1]); the threshold
    * is the k-th smallest q where `k = floor(dropFrac·n) + 1`, and rows
    * with `q < threshold` are dropped — so strictly fewer than
    * `dropFrac·n + 1` rows go, and every kept row outranks every dropped
    * row. A float percentile (`percentile` / DuckDB `quantile_cont`)
    * would interpolate in doubles and flip boundary rows between
    * engines; an order-statistic over quantized longs cannot.
    *
    * Plan shape: one hash aggregate on q (≤1e6+1 groups regardless of
    * corpus size — the histogram trick), a single-partition window
    * cumsum over that tiny histogram, and a 1-row threshold broadcast
    * back as a cross join. The scored frame feeds the histogram AND the
    * gate; the gate caches nothing (a cache it returned no handle for
    * could never be released), so a caller whose score expression is
    * too dear to run twice keeps `scored` in its own [[Caches]] owner
    * or shuffles it once ([[graft.queries.Tables.sharedScan]]).
    * Nothing global-sorts, nothing big reaches the driver.
    */
  def quantileGate(
      scored: DataFrame,
      scoreCol: String,
      dropFrac: Double): DataFrame = {
    require(dropFrac >= 0 && dropFrac < 1, "dropFrac out of [0,1)")
    if (dropFrac == 0) return scored
    val q = floor(col(scoreCol) * lit(1000000.0)).cast("long")
    val hist = scored.select(q.as("__q"))
      .groupBy(col("__q")).agg(count(lit(1)).as("__c"))
    // the histogram is tiny (≤1e6 rows): a single-partition running sum
    // is the cheapest correct cumsum, and n rides the same frame
    val wCum = Window.orderBy(col("__q"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val threshold = hist
      .select(col("__q"), sum(col("__c")).over(wCum).as("__cum"),
        sum(col("__c")).over(wAll).as("__n"))
      .filter(col("__cum") >= floor(lit(dropFrac) * col("__n")) + lit(1L))
      .agg(min(col("__q")).as("__thr"))
    scored.crossJoin(threshold).filter(q >= col("__thr")).drop("__thr")
  }

  /** Per-group percentile normalization: each row's `pct` = fraction of
    * its group's rows whose (quantized) score is STRICTLY below its own
    * — the empirical CDF, used to calibrate quality scores across
    * languages/sources before a single global gate (a raw score of 0.6
    * means different things in `en` web text and `zh` forum text; its
    * within-group percentile is comparable).
    *
    * Same histogram trick as [[quantileGate]], per group: scores
    * quantize to `floor(score·1e6)` longs, so the aggregate has at most
    * #groups·1e6 cells — independent of corpus size — and the cumsum
    * window runs over that tiny histogram, partitioned by group (never
    * over the corpus: the naive `percent_rank()` window would funnel
    * each group's full data through one task). The corpus itself is one
    * scan joined back on (group, bucket) — broadcast-sized build side.
    * `pct` is an exact ratio of two longs (one correctly-rounded
    * divide), so it is bit-identical across engines.
    */
  /** Data selection under a token budget: keep the highest-scoring
    * documents whose cumulative token count fits `budget` — the
    * "pick the best B tokens of the corpus" step every budgeted
    * pretraining run ends with. Selection is bucket-atomic over the
    * quantized score (floor(score·1e6)): keep every bucket `q` whose
    * above-or-equal cumulative tokens `cum(q) = Σ tokens[q' ≥ q]` is
    * within budget — i.e. the threshold is the smallest bucket that
    * still fits entirely. Deterministic integer semantics (token sums
    * are longs), no partial documents, engine-reproducible.
    *
    * Same plan skeleton as [[quantileGate]] but the histogram is
    * TOKEN-WEIGHTED (`sum(tokens)` per bucket instead of row counts):
    * one corpus aggregate into ≤1e6 buckets, a single-partition
    * descending cumsum over that tiny histogram, a 1-row threshold
    * cross-joined back. Nothing global-sorts. Caches nothing — see
    * [[quantileGate]].
    */
  def tokenBudgetGate(
      scored: DataFrame,
      scoreCol: String,
      tokensCol: String,
      budget: Long,
      quantized: Boolean = false): DataFrame = {
    require(budget > 0, "budget must be positive")
    // quantized=true: scoreCol already holds the integer bucket (e.g.
    // TextAnalysis.qualityScoreQ) — skip the double-path floor so the
    // gate is exact end-to-end for integer-scored compositions.
    val q = if (quantized) col(scoreCol).cast("long")
    else floor(col(scoreCol) * lit(1000000.0)).cast("long")
    val hist = scored.select(q.as("__q"), col(tokensCol).cast("long").as("__tk"))
      .groupBy(col("__q")).agg(sum(col("__tk")).as("__t"))
    val wDesc = Window.orderBy(col("__q").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val threshold = hist
      .select(col("__q"), sum(col("__t")).over(wDesc).as("__cum"))
      .filter(col("__cum") <= budget)
      .agg(min(col("__q")).as("__thr"))
    // an over-budget top bucket leaves __thr null: nothing fits
    scored.crossJoin(threshold)
      .filter(col("__thr").isNotNull && q >= col("__thr"))
      .drop("__thr")
  }

  /** Per-GROUP token cap: within each group (domain, source, language),
    * keep the highest-scored documents whose cumulative tokens fit
    * `capPerGroup` — the domain-cap stage of web curation (a handful of
    * template-heavy domains otherwise dominate the corpus; cf.
    * RefinedWeb's per-domain limits, Penedo et al. 2023 — public-paper
    * semantics, no reference analogue). Bucket-atomic over the
    * quantized score exactly like [[tokenBudgetGate]]: the threshold is
    * each group's smallest score bucket whose descending cumulative
    * token total still fits, so membership is engine-portable integer
    * arithmetic, not a per-row running sum.
    *
    * Scale shape: [[tokenBudgetGate]] lifted per group with every stage
    * still bounded — one corpus aggregate into a per-(group, bucket)
    * token histogram (map-side partials), a cumsum window over the
    * histogram partitioned BY GROUP (never a corpus-wide funnel; each
    * partition holds <= 1e6 bucket rows regardless of group size — a
    * hot domain costs the same as a cold one), and a keyed join of the
    * tiny per-group threshold table back onto the scan (AQE broadcasts
    * it; no hint forced). A per-group row-number window over documents
    * would funnel each domain through one task — this never touches
    * row granularity after the histogram.
    *
    * Groups whose TOP bucket alone overflows the cap keep nothing
    * (inner join against a threshold-less group drops it), matching
    * [[tokenBudgetGate]]'s nothing-fits contract. Caches nothing — see
    * [[quantileGate]].
    */
  def groupTokenCap(
      scored: DataFrame,
      groupCol: String,
      scoreCol: String,
      tokensCol: String,
      capPerGroup: Long,
      quantized: Boolean = false): DataFrame = {
    require(capPerGroup > 0, "capPerGroup must be positive")
    val q = if (quantized) col(scoreCol).cast("long")
    else floor(col(scoreCol) * lit(1000000.0)).cast("long")
    val hist = scored.select(col(groupCol), q.as("__q"),
        col(tokensCol).cast("long").as("__tk"))
      .groupBy(col(groupCol), col("__q")).agg(sum(col("__tk")).as("__t"))
    val wDesc = Window.partitionBy(col(groupCol)).orderBy(col("__q").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val thresholds = hist
      .select(col(groupCol), col("__q"),
        sum(col("__t")).over(wDesc).as("__cum"))
      .filter(col("__cum") <= capPerGroup)
      .groupBy(col(groupCol)).agg(min(col("__q")).as("__thr"))
    scored.join(thresholds, Seq(groupCol))
      .filter(q >= col("__thr"))
      .drop("__thr")
  }

  /** Per-group quantile VALUES over the quantized score domain: for
    * each group and each requested `q`, the smallest quantized bucket
    * whose cumulative count reaches `ceil(q·n)` — the inverse of
    * [[groupPercentile]] (type-7-free integer order statistic, so no
    * interpolation ambiguity between engines). Returns one row per
    * (group, quantile): `groupCol, quantile, value` where `value` is
    * the bucket floor `q_bucket / 1e6`.
    *
    * Same scale shape as [[groupPercentile]]: one corpus aggregate into
    * a ≤1e6-buckets-per-group histogram, one fused cumsum window over
    * the tiny histogram, then a broadcast-sized join against the
    * quantile list. The per-source median/p95 quality dashboard at
    * 100 TB is exactly this plan.
    */
  def groupQuantiles(
      scored: DataFrame,
      groupCol: String,
      scoreCol: String,
      quantiles: Seq[Double]): DataFrame = {
    require(quantiles.nonEmpty && quantiles.forall(q => q > 0 && q <= 1),
      "quantiles out of (0,1]")
    val spark = scored.sparkSession
    import spark.implicits._
    val q = floor(col(scoreCol) * lit(1000000.0)).cast("long")
    val hist = scored.select(col(groupCol), q.as("__q"))
      .groupBy(col(groupCol), col("__q")).agg(count(lit(1)).as("__c"))
    val wCum = Window.partitionBy(col(groupCol)).orderBy(col("__q"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col(groupCol)).orderBy(col("__q"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cdf = hist.select(col(groupCol), col("__q"),
      sum(col("__c")).over(wCum).as("__cum"), sum(col("__c")).over(wAll).as("__n"))
    val qs = quantiles.toDF("quantile")
    cdf.crossJoin(qs)
      // ceil(q*n) in long arithmetic: floor((q*n) - eps)+1 breaks on
      // exact products, so use the standard ceil on the double product —
      // both engines' ceil of the same correctly-rounded product agree
      .filter(col("__cum") >= ceil(col("quantile") * col("__n")).cast("long"))
      .groupBy(col(groupCol), col("quantile"))
      .agg(min(col("__q")).as("__qb"))
      .select(col(groupCol), col("quantile"),
        (col("__qb").cast("double") / lit(1000000.0)).as("value"))
  }

  /** CCNet-style head/middle/tail assignment: per `groupCol` (CCNet
    * buckets per language), split documents into score TERCILES —
    * `tail` = bottom third of `scoreCol`, `head` = top third (CCNet
    * orders by model perplexity; with a goodness score like
    * [[ngramLmScore]]'s `lm_score`, high = head). Rows with a NULL
    * score are dropped (no model evidence — CCNet cannot bucket them
    * either).
    *
    * Tercile thresholds are fully INTEGER-exact: scores quantize to
    * `floor(score·1e6)` longs, `ceil(k·n/3)` computes as
    * `(k·n + 2) div 3` on longs, and every comparison is long-vs-long —
    * nothing engine-variant anywhere ([[pipelineV2Stages]]'s gate
    * discipline). Same scale shape as [[groupQuantiles]]: one corpus
    * aggregate into a tiny per-group histogram, windows over the
    * histogram only, thresholds join back broadcast-sized. The scored
    * frame feeds the histogram AND the assignment join; caches nothing
    * — see [[quantileGate]].
    */
  def ccnetBuckets(scored: DataFrame, groupCol: String,
                   scoreCol: String): DataFrame = {
    val q = floor(col(scoreCol) * lit(1000000.0)).cast("long")
    val src = scored.filter(col(scoreCol).isNotNull)
    val hist = src.select(col(groupCol), q.as("__q"))
      .groupBy(col(groupCol), col("__q")).agg(count(lit(1)).as("__c"))
    val wCum = Window.partitionBy(col(groupCol)).orderBy(col("__q"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col(groupCol)).orderBy(col("__q"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    def intCeilThird(k: Int, n: Column): Column =
      ((n * lit(k.toLong) + lit(2L)) - pmod(n * lit(k.toLong) + lit(2L), lit(3L))) / lit(3L)
    val cdf = hist.select(col(groupCol), col("__q"),
      sum(col("__c")).over(wCum).as("__cum"),
      sum(col("__c")).over(wAll).as("__n"))
    val thr = cdf
      .select(col(groupCol), col("__q"), col("__cum"),
        intCeilThird(1, col("__n")).cast("long").as("__k1"),
        intCeilThird(2, col("__n")).cast("long").as("__k2"))
      .groupBy(col(groupCol))
      .agg(min(when(col("__cum") >= col("__k1"), col("__q"))).as("__t1"),
        min(when(col("__cum") >= col("__k2"), col("__q"))).as("__t2"))
    src.join(thr, Seq(groupCol))
      .withColumn("bucket",
        when(q <= col("__t1"), lit("tail"))
          .when(q <= col("__t2"), lit("middle"))
          .otherwise(lit("head")))
      .drop("__t1", "__t2")
  }

  def groupPercentile(
      scored: DataFrame,
      groupCol: String,
      scoreCol: String,
      outCol: String = "pct"): DataFrame = {
    val q = floor(col(scoreCol) * lit(1000000.0)).cast("long")
    val hist = scored.select(col(groupCol), q.as("__q"))
      .groupBy(col(groupCol), col("__q")).agg(count(lit(1)).as("__c"))
    // identical partition+order on both frames so they fuse into ONE
    // WindowExec (one sort, one pass over the tiny histogram)
    val wBelow = Window.partitionBy(col(groupCol)).orderBy(col("__q"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy(col(groupCol)).orderBy(col("__q"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cdf = hist.select(col(groupCol), col("__q"),
      coalesce(sum(col("__c")).over(wBelow), lit(0L)).as("__below"),
      sum(col("__c")).over(wAll).as("__n"))
    scored.withColumn("__q", q)
      .join(cdf, Seq(groupCol, "__q"))
      .withColumn(outCol, col("__below").cast("double") / col("__n"))
      .drop("__q", "__below", "__n")
  }

  /** Weights of a linear document-quality classifier over the standard
    * heuristic feature set (the same features [[TextAnalysis.qualityScore]]
    * mixes with fixed weights — here the weights are a TRAINED model's,
    * supplied by the caller). This is the serving half of the
    * fastText-style quality-classifier stage every large pretraining
    * pipeline runs (cf. GPT-3/CCNet quality filtering, public papers):
    * training happens offline; at corpus scale only the linear scoring
    * pass matters, and it compiles to pure codegen string arithmetic.
    */
  final case class QualityModel(
      bias: Double,
      wTokens: Double, // feature: least(1, whitespaceTokens / 100)
      wStop: Double,   // feature: en-stopword ratio
      wAlpha: Double)  // feature: [a-z] character ratio

  /** Train the [[QualityModel]] IN Spark by IRLS (Newton's method) on
    * logistic loss — the training half of the fastText-style quality
    * classifier, with no ML library. Features are the exact serving
    * features of [[classifierGate]], computed once by the same codegen
    * expressions, so the trained weights deploy into the shuffle-free
    * serving gate with zero train/serve skew. At cluster scale the
    * scarce resource is DRIVER ROUND-TRIPS (every iteration is a full
    * job), and IRLS converges in ~6 iterations where first-order
    * descent needs 40-150. Each iteration is ONE aggregate of 14
    * double sums — the 4×4 normal matrix Σ wᵢxxᵀ (10 unique entries,
    * wᵢ = pᵢ(1-pᵢ)) and the working response Σ x·(wᵢ(x·w) + (yᵢ-pᵢ)) —
    * followed by a driver-side 4×4 ridge-regularized Gaussian solve.
    * Sums are floating-point and partition-order dependent, so trained
    * weights are deterministic only up to summation order — assert
    * QUALITY (accuracy/loss), not bit-equal weights.
    *
    * `labelCol`: 0/1 (castable to double).
    */
  def trainQualityModelIRLS(docs: DataFrame, textCol: String, labelCol: String,
                            iters: Int = 6, ridge: Double = 1e-8,
                            init: QualityModel = QualityModel(0, 0, 0, 0)): QualityModel = {
    require(iters > 0, "iters must be positive")
    val t = col(textCol)
    val feats = docs.select(
        col(labelCol).cast("double").as("y"),
        lit(1.0).as("x0"),
        least(lit(1.0), TA.tokenCount(t).cast("double") / lit(100.0)).as("x1"),
        TA.stopwordRatio(t).as("x2"),
        TA.alphaRatio(t).as("x3"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    require(feats.count() > 0, "cannot train on an empty corpus")
    val xs = Seq("x0", "x1", "x2", "x3").map(col)
    var w = Array(init.bias, init.wTokens, init.wStop, init.wAlpha)
    var it = 0
    while (it < iters) {
      val z = xs.zip(w).map { case (x, wi) => x * lit(wi) }.reduce(_ + _)
      val p = lit(1.0) / (lit(1.0) + exp(-z))
      val wt = p * (lit(1.0) - p)
      val r = wt * z + (col("y") - p)
      val aggs =
        (for (j <- 0 until 4; k <- j until 4) yield sum(wt * xs(j) * xs(k))) ++
          (0 until 4).map(j => sum(xs(j) * r))
      val row = feats.agg(aggs.head, aggs.tail: _*).head()
      val a = Array.ofDim[Double](4, 5)
      var idx = 0
      for (j <- 0 until 4; k <- j until 4) {
        a(j)(k) = row.getDouble(idx); a(k)(j) = row.getDouble(idx); idx += 1
      }
      for (j <- 0 until 4) {
        a(j)(j) += ridge
        a(j)(4) = row.getDouble(idx); idx += 1
      }
      // 4x4 Gaussian elimination with partial pivoting
      for (c <- 0 until 4) {
        var piv = c
        for (rr <- c + 1 until 4) if (math.abs(a(rr)(c)) > math.abs(a(piv)(c))) piv = rr
        val tmp = a(c); a(c) = a(piv); a(piv) = tmp
        for (rr <- c + 1 until 4) {
          val f = a(rr)(c) / a(c)(c)
          for (cc <- c until 5) a(rr)(cc) -= f * a(c)(cc)
        }
      }
      val nw = new Array[Double](4)
      for (c <- 3 to 0 by -1) {
        var v = a(c)(4)
        for (cc <- c + 1 until 4) v -= a(c)(cc) * nw(cc)
        nw(c) = v / a(c)(c)
      }
      w = nw
      it += 1
    }
    feats.unpersist()
    QualityModel(w(0), w(1), w(2), w(3))
  }

  /** Fraction of docs the model labels correctly (logit > 0 vs the 0/1
    * label) — the train/eval metric for [[trainQualityModelIRLS]]; one
    * aggregate.
    */
  def modelAccuracy(docs: DataFrame, textCol: String, labelCol: String,
                    model: QualityModel): Double = {
    val t = col(textCol)
    val logit =
      lit(model.bias) +
        lit(model.wTokens) * least(lit(1.0),
          TA.tokenCount(t).cast("double") / lit(100.0)) +
        lit(model.wStop) * TA.stopwordRatio(t) +
        lit(model.wAlpha) * TA.alphaRatio(t)
    docs.agg(avg(when((logit > 0) === (col(labelCol).cast("double") > 0.5),
      1.0).otherwise(0.0))).head().getDouble(0)
  }

  /** Exact binary-classifier evaluation as distributed aggregates: the
    * confusion counts at `threshold` plus tie-aware AUC — the
    * Mann-Whitney U formulation, U = Σ over distinct scores of
    * cp·(cumNegBelow + cn/2). Every term is an exact half-integer, so
    * the cross-partition sum is ORDER-INDEPENDENT (each partial sum is
    * an exactly-representable multiple of 0.5) and the metric is
    * hash-oracle-able, unlike a per-row trapezoid over doubles.
    *
    * Scale note: the prefix sum runs over DISTINCT scores in one
    * ordered window — bounded work only when score cardinality is
    * bounded (integral scores, or quantize continuous scores first,
    * same discipline as [[quantileGate]]'s 1e6-bucket domain).
    * Confusion counts are a single partial-agged pass regardless.
    *
    * Output (one row): n, n_pos, n_neg, tp, fp, fn, tn, precision,
    * recall, f1, auc.
    */
  def binaryMetrics(df: DataFrame, labelCol: String, scoreCol: String,
                    threshold: Double = 0.0): DataFrame = {
    val y = col(labelCol).cast("double") > 0.5
    val pred = col(scoreCol).cast("double") > threshold
    val conf = df.agg(
      count(lit(1)).as("n"),
      count_if(y).as("n_pos"),
      count_if(!y).as("n_neg"),
      count_if(pred && y).as("tp"),
      count_if(pred && !y).as("fp"),
      count_if(!pred && y).as("fn"),
      count_if(!pred && !y).as("tn"))
    val per = df.groupBy(col(scoreCol).cast("double").as("s"))
      .agg(count_if(y).as("cp"), count_if(!y).as("cn"))
    val wBelow = Window.orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // terms in DOUBLE: a long cp*below product would overflow (ANSI
    // throw) once pair counts pass 2^63 at extreme scale; doubles stay
    // exact half-integers up to 2^53 pairs — far beyond any corpus this
    // gate meets — and degrade gracefully past it instead of failing
    val u = per
      .withColumn("below", coalesce(sum(col("cn")).over(wBelow), lit(0L)))
      .agg(sum(col("cp").cast("double") * col("below").cast("double") +
        col("cp").cast("double") * col("cn").cast("double") / lit(2.0)).as("u"))
    conf.crossJoin(u).select(
      col("n"), col("n_pos"), col("n_neg"),
      col("tp"), col("fp"), col("fn"), col("tn"),
      when(col("tp") + col("fp") > 0,
        col("tp").cast("double") / (col("tp") + col("fp"))).as("precision"),
      when(col("n_pos") > 0,
        col("tp").cast("double") / col("n_pos")).as("recall"),
      when(col("tp") * 2 + col("fp") + col("fn") > 0,
        col("tp") * lit(2.0) / (col("tp") * 2 + col("fp") + col("fn"))).as("f1"),
      when(col("n_pos") > 0 && col("n_neg") > 0,
        col("u") / (col("n_pos").cast("double") * col("n_neg").cast("double")))
        .as("auc"))
  }

  /** Classifier calibration curve on the SCORE scale: bucket rows by
    * `floor(score / width)` and report each bucket's size and positive
    * rate — the reliability diagram's data, kept on the raw-score axis
    * (bucketing a sigmoid would drag `exp`'s engine-varying last ulp
    * into bucket boundaries; the logit is exact IEEE arithmetic, so
    * bucket membership is cross-engine stable). Counts are exact longs,
    * the rate one final divide. One partial-agged groupBy; bucket
    * cardinality is score-range / width, independent of corpus size.
    */
  def calibrationBins(df: DataFrame, labelCol: String, scoreCol: String,
                      width: Double): DataFrame = {
    require(width > 0, "bin width must be positive")
    df.groupBy(floor(col(scoreCol).cast("double") / lit(width)).as("bin"))
      .agg(count(lit(1)).as("n"),
        count_if(col(labelCol).cast("double") > 0.5).as("n_pos"))
      .select(col("bin"), (col("bin") * width).as("bin_lo"), col("n"),
        col("n_pos"),
        (col("n_pos").cast("double") / col("n")).as("pos_rate"))
  }

  /** Score every document with the linear model and keep those the
    * classifier accepts. The decision is taken on the LOGIT (`> 0`
    * keeps), not the sigmoid — monotone-equivalent, and the logit is a
    * fixed left-associated sum of IEEE double products, so thresholds
    * are bit-identical across engines (no transcendental `exp` whose
    * last ulp could differ).
    *
    * Output: `idCol`, `logit` — accepted rows only.
    *
    * Scale shape: one shuffle-free codegen projection + filter over the
    * corpus scan; the three features are regex/split arithmetic on the
    * text column. Nothing aggregates, joins, or collects.
    */
  def classifierGate(docs: DataFrame, idCol: String, textCol: String,
                     model: QualityModel,
                     carry: Seq[Column] = Nil): DataFrame = {
    val t = col(textCol)
    val logit =
      lit(model.bias) +
        lit(model.wTokens) * least(lit(1.0),
          TA.tokenCount(t).cast("double") / lit(100.0)) +
        lit(model.wStop) * TA.stopwordRatio(t) +
        lit(model.wAlpha) * TA.alphaRatio(t)
    // `carry`: extra projections computed in the SAME scan as the gate
    // (e.g. lang / token counts a downstream text-free stage needs —
    // saves that stage its own corpus scan)
    docs.select((col(idCol) +: carry) :+ logit.as("logit"): _*)
      .filter(col("logit") > 0)
  }

  /** Snapshot diff between two corpus versions keyed by `idCol`:
    * `added` (only in new), `removed` (only in old), `changed` (both,
    * different content fingerprint), `unchanged`. The everyday
    * recrawl / re-release audit — what changed between corpus v1 and
    * v2 — run BEFORE incremental dedup decides what to reprocess.
    *
    * Scale shape: each side collapses to (id, md5) BEFORE the
    * full-outer join, so the exchange carries 32-byte fingerprints,
    * never document bodies; one co-keyed shuffle per side and the
    * status projection is codegen. Pre-bucketed snapshots join with no
    * exchange at all.
    */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame,
                 idCol: String, textCol: String): DataFrame = {
    val o = oldDocs.select(col(idCol), md5(col(textCol)).as("__oh"))
    val n = newDocs.select(col(idCol), md5(col(textCol)).as("__nh"))
    o.join(n, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("__oh").isNull, lit("added"))
          .when(col("__nh").isNull, lit("removed"))
          .when(col("__oh") === col("__nh"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  /** Per-source corpus health report — the "data card" a pipeline
    * publishes per release, as ONE declarative plan over exact-integer
    * aggregates (cross-engine-stable; every double is a single final
    * divide): docs, token volume, PII incidence (docs with ≥1
    * email/phone match), exact-duplicate incidence (docs whose text
    * fingerprint occurs ≥2 corpus-WIDE — cross-source dups count for
    * both sources), and the pooled bigram-LM transition likelihood vs
    * the `refFilter` slice ([[ngramLmScore]] semantics, pooled by
    * source instead of doc).
    *
    * Scale shape: three partial-agged groupBys on (source) /
    * (fingerprint) plus the vocab-bounded LM joins; source cardinality
    * is tiny so the final joins broadcast. Nothing corpus-sized is
    * collected or cached.
    */
  def corpusReport(docs: DataFrame,
                   textCol: String = "text",
                   srcCol: String = "source",
                   refFilter: org.apache.spark.sql.Column =
                     col("lang") === "en"): DataFrame = {
    val t = col(textCol)
    val base = docs.groupBy(col(srcCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(split(t, " "))).cast("long").as("total_tokens"),
        count_if(TA.countEmails(t) + TA.countPhones(t) > 0).as("pii_docs"))
    val fps = docs.select(col(srcCol), md5(t).as("fp"))
    val dupFps = fps.groupBy(col("fp")).agg(count(lit(1)).as("c_"))
      .filter(col("c_") >= 2).select(col("fp"))
    val dup = fps.join(dupFps, Seq("fp"), "left_semi")
      .groupBy(col(srcCol)).agg(count(lit(1)).as("dup_docs"))
    val refBg = bigramRows(docs.filter(refFilter), Nil, textCol)
    val c2 = refBg.groupBy(col("bigram")).agg(count(lit(1)).as("c2"))
    val c1 = refBg.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val lm = bigramRows(docs, Seq(srcCol), textCol)
      .join(c2, Seq("bigram"), "left")
      .join(c1, Seq("w1"), "left")
      .groupBy(col(srcCol))
      .agg(sum(coalesce(col("c2"), lit(0L))).as("lm_hit_sum"),
        sum(coalesce(col("c1"), lit(0L))).as("lm_ctx_sum"))
    base
      .join(dup, Seq(srcCol), "left")
      .join(lm, Seq(srcCol), "left")
      .select(col(srcCol), col("n_docs"), col("total_tokens"),
        (col("total_tokens").cast("double") / col("n_docs")).as("avg_tokens"),
        col("pii_docs"),
        coalesce(col("dup_docs"), lit(0L)).as("dup_docs"),
        coalesce(col("lm_hit_sum"), lit(0L)).as("lm_hit_sum"),
        coalesce(col("lm_ctx_sum"), lit(0L)).as("lm_ctx_sum"),
        when(col("lm_ctx_sum") > 0,
          col("lm_hit_sum").cast("double") / col("lm_ctx_sum").cast("double"))
          .as("lm_score"))
  }

  /** (w1, bigram) rows with MULTIPLICITY — the adjacency stream behind
    * the bigram language model (unlike [[graft.ops.Dedup.shingleRows]],
    * which dedups per doc: an LM needs every occurrence). Pure codegen
    * array arithmetic on the split-token array; docs with < 2 tokens
    * contribute no rows here (callers keep them via a final left join).
    */
  private def bigramRows(docs: DataFrame, keepCols: Seq[String],
                         textCol: String): DataFrame = {
    // LAMBDA-FREE adjacency explode: generate the small index sequence
    // 1..n-1 and compute w1/bigram per exploded row with element_at.
    // Two wins over the former transform(...)-built struct array:
    // (a) transform is CodegenFallback — the whole bigram build ran
    // interpreted; explode(sequence)+element_at stays inside
    // WholeStageCodegen end to end (the projection fuses onto the
    // Generate, so the carried token array is never materialized into
    // output rows); (b) lambda variables defeat plan canonicalization
    // (two clones of the same transform subtree never compare equal),
    // which silently disabled ReuseExchange for every fused
    // shared-subtree op built on this explode — the
    // [[importanceWeightsSelf]]/[[ngramLmScoreSelf]] one-explode
    // contract depends on this form. The token array is still bound to
    // its OWN projection first so it is computed once per row, not
    // re-split per element.
    val toks = col("__toks")
    val idx = col("__i")
    docs.select(keepCols.map(col) :+ split(col(textCol), " ").as("__toks"): _*)
      .select(keepCols.map(col) :+ toks :+
        explode(when(size(toks) >= 2, sequence(lit(1), size(toks) - 1))
          .otherwise(array().cast("array<int>"))).as("__i"): _*)
      .select(keepCols.map(col) :+
        element_at(toks, idx).as("w1") :+
        concat(element_at(toks, idx), lit(" "),
          element_at(toks, idx + 1)).as("bigram"): _*)
  }

  /** CCNet-style n-gram LM quality scoring: train a bigram model on a
    * REFERENCE corpus (CCNet trains on Wikipedia and scores CommonCrawl;
    * reference-free corpora use their own high-confidence slice) and
    * score every candidate document by how well the model predicts its
    * token transitions. Output per doc:
    *
    *   - `n_bigrams` / `n_hits` — adjacent pairs, and how many the model
    *     has seen;
    *   - `lm_score` = Σ c(w1,w2) / Σ c(w1) over the doc's bigrams — the
    *     POOLED transition likelihood. The classic per-bigram mean of
    *     c(w1,w2)/c(w1) needs a product/log chain whose last-ulp varies
    *     by libm, breaking cross-engine parity; pooling keeps both sums
    *     exact longs with ONE final IEEE divide (same trick as
    *     [[docRarity]]) while ordering docs the same way in practice:
    *     high = model-predicted transitions, low = unseen/garbled text;
    *   - `oov_rate` — the fraction of bigrams the model never saw (the
    *     hard signal CCNet's "tail" bucket keys on).
    *
    * Scale shape: the model tables are vocabulary-bounded (≪ corpus) and
    * df-aggregated once — AQE broadcasts them under the candidate
    * stream's two left joins (bigram key, then context key); the
    * candidate side is a codegen explode of the scan, never cached. The
    * per-doc aggregate partial-aggregates map-side; unmatched bigrams
    * count 0, so smoothing stays a caller policy on the emitted counts.
    */
  def ngramLmScore(ref: DataFrame, docs: DataFrame,
                   idCol: String = "doc_id",
                   textCol: String = "text",
                   /** emit a zero-count (NULL score) row for docs
                     * without bigrams (the reporting contract). Pass
                     * false when a downstream gate drops or anti-joins
                     * NULL-score rows anyway ([[ccnetBuckets]] does) —
                     * the re-attach is a whole extra corpus-id scan +
                     * join producing only rows the gate discards.
                     */
                   attachMissing: Boolean = true): DataFrame = {
    // no-op null guard (split-derived tokens are never null), present
    // EXPLICITLY so the model subtree's two consumers stay identical:
    // the scoring stream's c2 join infers isnotnull(bigram) on its
    // build side and the c1 join isnotnull(w1 = substring_index(bigram,
    // ' ', 1)); without the guard those inferred filters push below the
    // c2 aggregate in one branch each — divergent subtrees, no
    // exchange reuse, and the reference corpus explodes TWICE (once for
    // c2, once for c1). Guarded, both branches share c2's exchange and
    // the reference slice is exploded once per action.
    val c2 = bigramRows(ref, Nil, textCol)
      .filter(col("bigram").isNotNull &&
        substring_index(col("bigram"), " ", 1).isNotNull)
      .groupBy(col("bigram")).agg(count(lit(1)).as("c2"))
    scoreAgainstCounts(docs, c2, contextsFromBigrams(c2), idCol, textCol,
      attachMissing)
  }

  /** DoReMi-style iterative mixture reweighting (Xie et al. 2023,
    * "DoReMi: Optimizing Data Mixtures Speeds Up Language Model
    * Pretraining"), as an integer-exact miniature over the bigram-LM
    * proxy. Each round: (1) select the current mixture with
    * [[Sampling.mixtureSelect]] under the live shares; (2) train the
    * proxy model ON that mixture ([[ngramLmScore]]'s bigram counts
    * over the selected slice — DoReMi's proxy trained under the
    * current domain weights); (3) score EVERY stratum's full corpus
    * against it and take the per-stratum miss rate — permille of
    * bigram occurrences the mixture-trained model has never seen
    * (`(Σnb − Σnh)·1000 div Σnb`, exact integers) — as the excess-loss
    * proxy: a stratum the current mixture models badly scores high;
    * (4) update shares multiplicatively via
    * [[Sampling.reweightShares]] (`w′ = w·(base + eta·miss) / g` with
    * `g` the gcd of the updated vector — exact: shares are scale-free,
    * so the gcd renormalization is lossless and no round-off ever
    * enters, while weights stay small across long schedules).
    * Hard strata gain weight each round exactly as DoReMi's
    * multiplicative-weights ascent upweights high-excess-loss domains.
    *
    * Returns the per-round AUDIT frame — one row per (round, stratum):
    * `(round, strataCol, n_bigrams, n_hits, miss_permille,
    * weight_before, weight_after)` — every update decision an external
    * engine can re-derive bit-for-bit (the oracle unrolls the rounds).
    * Feed the final round's `weight_after` into [[Sampling
    * .mixtureSelect]] to realize the tuned mix.
    *
    * Scale shape: per round, the corpus sees one strata-mass
    * aggregate, one membership probe, one model-train bigram explode
    * over the selected slice, and one scoring explode — all keyed
    * linear shuffles against `buckets`-bounded or #strata-bounded
    * build sides; the only collect is the #strata-row per-round score
    * frame (the documented-bounded class). Rounds are sequential
    * corpus passes by design (each round's model depends on the last
    * round's weights); the narrow (id, strata, text) projection is
    * re-scanned per pass rather than persisted (A/B-measured cheaper
    * over parquet inputs — see mixtureReweightRun); persist upstream
    * only when the input lineage itself is expensive.
    */
  def mixtureReweight(docs: DataFrame, strataCol: String, idCol: String,
                      textCol: String, initShares: Map[String, Long],
                      rounds: Int, eta: Long = 1L,
                      weightCol: Option[String] = None): DataFrame =
    mixtureReweightRun(docs, strataCol, idCol, textCol, initShares,
      rounds, eta, weightCol)._1

  /** [[mixtureReweight]] returning BOTH the audit frame and the final
    * tuned shares map — the form a pipeline composes: feed the shares
    * into [[Sampling.mixtureSelect]] (what [[pipelineV8Stages]] does).
    * `weightCol` makes each round's MIXTURE SELECTION token-weighted (strata
    * masses become weight sums, the [[Sampling.mixtureSelect]]
    * contract — training mixes are specified in tokens, not
    * documents); the excess-loss scoring is per-occurrence either way.
    */
  def mixtureReweightRun(docs: DataFrame, strataCol: String, idCol: String,
                         textCol: String, initShares: Map[String, Long],
                         rounds: Int, eta: Long = 1L,
                         weightCol: Option[String] = None)
      : (DataFrame, Map[String, Long]) = {
    // the old round-6 STRUCTURAL Long ceiling is gone: reweightShares
    // gcd-renormalizes the share vector each round (lossless — shares
    // are scale-free), so uniform factors cancel and only genuinely
    // irreducible ratio history accumulates. Growth is data-dependent
    // now; an adversarial schedule that exhausts 63 bits still fails
    // LOUDLY inside reweightShares (after paying its earlier passes).
    // 32 is a sanity cap on sequential corpus passes, not arithmetic.
    require(rounds >= 1 && rounds <= 32, "rounds out of [1, 32]")
    val spark = docs.sparkSession
    // rounds are sequential corpus passes by design (each round's model
    // depends on the last round's weights): 2·rounds+1 scans of the
    // narrow projection. Deliberately NOT persisted: the bench-child
    // A/B (5 children x median-of-3, sf0.1 — SURVEY Appendix K) read
    // persist as a wash on mixture_reweight (2.85 s vs 2.97) and a
    // ~25% REGRESSION on curation_pipeline_v8 (3.32 s vs 2.65) — over
    // a raw parquet input the columnar re-scan of 3 columns is cheaper
    // than cache materialization + losing scan-side fusion. Callers
    // whose input lineage is genuinely expensive (a long transform
    // chain, a non-columnar source) should persist THAT upstream and
    // pass the materialized frame in.
    val base = docs.select(
      (Seq(col(idCol), col(strataCol), col(textCol)) ++
        weightCol.map(col)): _*)
    var shares = scala.collection.immutable.SortedMap.empty[String, Long] ++ initShares
    val audit = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, Long, Long, Long, Long, Long)]
    for (r <- 1 to rounds) {
      val sel = Sampling.mixtureSelect(base, strataCol, idCol, shares,
        weightCol)
      val lm = ngramLmScore(sel, base, idCol, textCol, attachMissing = false)
      val perStratum = lm
        .join(base.select(col(idCol), col(strataCol)), Seq(idCol))
        .groupBy(col(strataCol))
        .agg(sum(col("n_bigrams")).as("nb"), sum(col("n_hits")).as("nh"))
        .collect()
        .map(row => row.getString(0) -> (row.getLong(1), row.getLong(2)))
        .toMap
      val miss = shares.keys.map { s =>
        val (nb, nh) = perStratum.getOrElse(s, (0L, 0L))
        s -> (if (nb > 0) (nb - nh) * 1000L / nb else 0L)
      }.toMap
      val next = Sampling.reweightShares(shares, miss, eta)
      shares.foreach { case (s, w) =>
        val (nb, nh) = perStratum.getOrElse(s, (0L, 0L))
        audit += ((r.toLong, s, nb, nh, miss(s), w, next(s)))
      }
      shares = scala.collection.immutable.SortedMap.empty[String, Long] ++ next
    }
    import spark.implicits._
    (audit.toSeq.toDF("round", strataCol, "n_bigrams", "n_hits",
      "miss_permille", "weight_before", "weight_after"),
      shares)
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling") against a TARGET
    * that is a slice of the corpus (the common case: a labeled
    * high-quality subset): score each document by how much its
    * hashed-bigram profile looks like the target distribution. Bigrams
    * hash into `buckets` cells (md5-prefix modular — engine-portable,
    * fixed model size regardless of vocab), and each doc pools exact
    * long counts over its bigrams:
    *
    *   - `target_hits` = Σ c_target(bucket) — occurrences of the doc's
    *     buckets in the target slice;
    *   - `raw_hits`    = Σ c_raw(bucket) — same against the whole corpus;
    *   - `weight`      = target_hits / raw_hits, ONE final IEEE divide.
    *
    * DSIR proper sums log n-gram probability ratios; pooling the counts
    * keeps both sums exact longs (the [[ngramLmScore]] log-free
    * cross-engine trick) while ordering documents the same way in
    * practice. Docs without bigrams carry a NULL weight.
    *
    * Fused to ONE bigram explode: the explode aggregates once into
    * per-(doc, bucket) partial counts `nbb`; the bucket model derives
    * from the partials
    * (`cr = Σ nbb`, `ct = Σ nbb·[target]` per bucket — exactly the
    * conditional counts, since `targetCond` is constant per doc), and
    * the per-doc pools re-read the SAME partials joined to the model
    * (`th = Σ nbb·ct`, `rh = Σ nbb·cr` — each bigram occurrence
    * contributes its bucket's count, with multiplicity).
    *
    * The single physical explode needs NO cache: both consumers sit on
    * the identical `Exchange(id, target, bucket)` subtree, which AQE's
    * stage reuse executes once per action. That identity is why the
    * not-null id filter below is EXPLICIT on the shared input rather
    * than left to constraint inference — inference adds it only under
    * the join branch, splitting the canonical form and silently
    * doubling the corpus scan. (Consequence, documented: a null-id doc
    * contributes to neither the model nor the output.)
    */
  def importanceWeightsSelf(docs: DataFrame, targetCond: Column,
                            idCol: String = "doc_id",
                            textCol: String = "text",
                            buckets: Int = 65536,
                            /** emit a (0, 0, 0, NULL) row for docs
                              * without bigrams (the reporting
                              * contract). Pass false when a downstream
                              * gate drops NULL weights anyway — the
                              * no-bigram re-attach is a whole extra
                              * corpus-id scan + join producing only
                              * rows the gate discards.
                              */
                            attachMissing: Boolean = true): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    val partials = dsirBuckets(
        docs.filter(col(idCol).isNotNull).withColumn("__t", targetCond),
        Seq(idCol, "__t"), textCol, buckets)
      .groupBy(col(idCol), col("__t"), col("b"))
      .agg(count(lit(1)).as("__nbb"))
    val model = partials.groupBy(col("b"))
      .agg(sum(col("__nbb")).as("cr"),
        sum(when(col("__t"), col("__nbb")).otherwise(lit(0L))).as("ct"))
    val perDoc = partials.join(model, Seq("b"))
      .groupBy(col(idCol))
      .agg(sum(col("__nbb")).as("nb"),
        sum(col("__nbb") * col("ct")).as("th"),
        sum(col("__nbb") * col("cr")).as("rh"))
    val base = if (attachMissing)
      docs.select(col(idCol)).join(perDoc, Seq(idCol), "left")
    else perDoc
    base.select(col(idCol),
      coalesce(col("nb"), lit(0L)).as("n_bigrams"),
      coalesce(col("th"), lit(0L)).as("target_hits"),
      coalesce(col("rh"), lit(0L)).as("raw_hits"),
      when(col("rh") > 0, col("th").cast("double") / col("rh").cast("double"))
        .as("weight"))
  }

  /** Deterministic importance RESAMPLING over an
    * [[importanceWeightsSelf]]-shaped frame (id, target_hits, raw_hits,
    * weight): keep each weighted doc with probability proportional to
    * `weight / max(weight)`, realized by the portable modular hash
    * (membership replays bit-for-bit on any engine — same mechanism as
    * [[Sampling.temperatureSample]]). Docs with NULL weight (no
    * bigrams) are dropped — no signal, no selection.
    *
    * The gate is fully INTEGER: a ratio threshold
    * `floor(1e6·(th/rh)/(th_m/rh_m))` would go through an IEEE divide
    * chain that is engine-stable only while both engines mirror the
    * same parse tree; here the SAME gate is decided without any
    * division:
    *
    *   hash < ⌊1e6·(th·rh_m)/(rh·th_m)⌋  ⟺
    *   (hash+1)·rh·th_m ≤ 1e6·th·rh_m
    *
    * with the products exact in decimal(38,0) (≤ ~1e30 at 100 TB count
    * magnitudes — far inside both Spark's decimal and an int128
    * engine's range). The reference pair (th_m, rh_m) is the max-weight
    * doc's, chosen by (weight, th, rh) descending — and if several docs
    * tie on the exact maximal RATIO, any of them yields the equivalent
    * comparison, so the tie-break only has to be deterministic, not
    * ratio-exact.
    */
  def importanceResampleExact(weights: DataFrame,
                              idCol: String = "doc_id"): DataFrame = {
    val w = weights.filter(col("weight").isNotNull)
      .select(col(idCol), col("target_hits"), col("raw_hits"), col("weight"))
    val mx = w
      .orderBy(col("weight").desc, col("target_hits").desc,
        col("raw_hits").desc)
      .limit(1)
      .select(col("target_hits").as("__thm"), col("raw_hits").as("__rhm"))
    val dec = "decimal(38,0)"
    w.crossJoin(mx)
      // __thm > 0 guards the degenerate no-target corpus: with every
      // target_hits = 0 the cross-multiplied test collapses to 0 <= 0
      // (keep ALL), where the ratio gate's 0/0 threshold kept NOTHING —
      // zero target affinity must select zero documents
      .filter(col("__thm") > 0 &&
        (Sampling.hashBucket(col(idCol)) + lit(1L)).cast(dec)
          * col("raw_hits").cast(dec) * col("__thm").cast(dec)
          <= lit(1000000L).cast(dec) * col("target_hits").cast(dec)
            * col("__rhm").cast(dec))
      .select(col(idCol), col("weight"))
  }

  /** (keep-cols..., b) hashed-bigram bucket rows — the shared explode
    * of the DSIR family (md5-prefix modular hash, engine-portable).
    */
  private def dsirBuckets(df: DataFrame, keep: Seq[String], textCol: String,
                          buckets: Int): DataFrame =
    bigramRows(df, keep, textCol).select(keep.map(col) :+
      pmod(conv(substring(md5(col("bigram")), 1, 15), 16, 10).cast("long"),
        lit(buckets.toLong)).as("b"): _*)

  /** Context counts DERIVED from the bigram counts: c1(w1) = Σ_w2
    * c2(w1,w2), exactly the row count of the adjacency stream grouped
    * by w1 — but computed from the vocab-bounded c2 table instead of a
    * SECOND full scan + explode of the reference corpus (w1 is the
    * bigram's prefix before the separator space; tokens are space-split
    * so the prefix is unambiguous). Halves the reference-side cost of
    * [[ngramLmScore]].
    */
  private def contextsFromBigrams(c2: DataFrame): DataFrame =
    c2.select(substring_index(col("bigram"), " ", 1).as("w1"), col("c2"))
      .groupBy(col("w1")).agg(sum(col("c2")).as("c1"))

  private def scoreAgainstCounts(docs: DataFrame, c2: DataFrame, c1: DataFrame,
                                 idCol: String, textCol: String,
                                 attachMissing: Boolean = true): DataFrame = {
    val scored = bigramRows(docs, Seq(idCol), textCol)
      .join(c2, Seq("bigram"), "left")
      .join(c1, Seq("w1"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("nb"),
        count(col("c2")).as("nh"),
        sum(coalesce(col("c2"), lit(0L))).as("hs"),
        sum(coalesce(col("c1"), lit(0L))).as("cs"))
    val base = if (attachMissing)
      docs.select(col(idCol)).join(scored, Seq(idCol), "left")
    else scored
    base.select(col(idCol),
        coalesce(col("nb"), lit(0L)).as("n_bigrams"),
        coalesce(col("nh"), lit(0L)).as("n_hits"),
        coalesce(col("hs"), lit(0L)).as("hit_sum"),
        coalesce(col("cs"), lit(0L)).as("ctx_sum"),
        when(col("cs") > 0, col("hs").cast("double") / col("cs").cast("double"))
          .as("lm_score"),
        when(col("nb") > 0,
          (col("nb") - col("nh")).cast("double") / col("nb").cast("double"))
          .as("oov_rate"))
  }
}
