package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding-generation plumbing for retrieval/RAG ingestion: chunk →
  * batched encode → score/index. The encoder itself is a model call no
  * hermetic container can make (same situation as [[Multimodal]]'s
  * codecs), so the encode step takes an injectable BATCH function —
  * `Seq[String] => Seq[Array[Double]]`, the GPU-friendly shape: one
  * call per `batchSize` texts, never per row — and ships a
  * DETERMINISTIC STUB default. Everything around the stub is real and
  * tested: the typed `mapPartitions` batching, the output schema the
  * ANN tier consumes ([[Similarity]] takes (id, vec) frames), and the
  * downstream kernels.
  */
object Embedding {

  /** One call per batch of chunk texts; returns one vector per text,
    * in order. Swap in an ONNX/JNI/HTTP-backed implementation in
    * production — the plumbing does not change.
    */
  type BatchEncoder = Seq[String] => Seq[Array[Double]]

  /** STUB — clearly marked: NOT a semantic embedding. A deterministic
    * position-weighted character hash expanded to `dim` values in
    * (-1, 1] by portable integer modular arithmetic, so the DuckDB
    * oracle reproduces every coordinate bit-for-bit and the plumbing +
    * downstream cosine kernels verify end-to-end.
    */
  def stubEncoder(dim: Int): BatchEncoder = texts => texts.map { t =>
    val seed = stubSeed(t)
    Array.tabulate(dim) { j =>
      ((seed * (j + 1) * 2654435761L) % 1048573L).toDouble / 1048573.0 * 2.0 - 1.0
    }
  }

  /** Position-weighted char-code sum mod 65521 — exact in long
    * arithmetic at any text length this corpus carries, and
    * expressible in one SQL `list_transform` + `list_sum`.
    */
  def stubSeed(text: String): Long = {
    var s = 0L
    var i = 0
    while (i < text.length) { s += text.charAt(i).toLong * (i + 1); i += 1 }
    s % 65521L
  }

  /** Encode a (doc_id, chunk_id, chunk_text) frame —
    * [[Packing.chunkTokens]]' output shape — into (doc_id, chunk_id,
    * embedding array<double>). The encoder sees `batchSize` texts per
    * call; partitions stream through `grouped` so no partition is
    * materialized whole. At 100 TB this is the map-side stage between
    * chunking and [[Similarity.buildIvfIndex]]; nothing shuffles here.
    */
  def encodeChunks(chunks: DataFrame,
                   docIdCol: String = "doc_id",
                   chunkIdCol: String = "chunk_id",
                   textCol: String = "chunk_text",
                   dim: Int = 64,
                   encoder: Option[BatchEncoder] = None,
                   batchSize: Int = 64): DataFrame = {
    val spark = chunks.sparkSession
    import spark.implicits._
    val enc = encoder.getOrElse(stubEncoder(dim))
    chunks
      .select(col(docIdCol).cast("long"), col(chunkIdCol).cast("long"),
        col(textCol))
      .as[(Long, Long, String)]
      .mapPartitions(_.grouped(batchSize).flatMap { batch =>
        val vecs = enc(batch.map(_._3))
        require(vecs.length == batch.length,
          s"encoder returned ${vecs.length} vectors for ${batch.length} texts")
        batch.zip(vecs).map { case ((d, c, _), v) => (d, c, v) }
      })
      .toDF(docIdCol, chunkIdCol, "embedding")
  }

  private def fromExpr(e: org.apache.spark.sql.catalyst.expressions.Expression) =
    org.apache.spark.sql.classic.GraftExpressionBridge.column(e)
  private def toExpr(c: org.apache.spark.sql.Column) =
    org.apache.spark.sql.classic.GraftExpressionBridge.expression(c)

  /** Hashing-trick text featurizer: (id, text) → (id, vec array<double>
    * of `dim` exact shingle counts) through ONE codegen kernel call per
    * row ([[graft.functions.HashTfVec]] — md5-prefix buckets, the
    * engine-portable [[Sampling.stringBucket]] convention). No
    * vocabulary state, no fitting pass, zero shuffles — and the output
    * is exactly the (id, vec) shape every [[Similarity]] tier consumes,
    * so raw text rides the ANN stack (IVF index, JL re-rank, int8)
    * without a model encoder. Keep `dim` modest (the vector is DENSE);
    * the sparse large-dim form is [[hashedShingleNearDup]].
    */
  def hashTfVectors(df: DataFrame, idCol: String, textCol: String,
                    dim: Int = 64, k: Int = 1): DataFrame =
    df.select(col(idCol).as("id"),
      fromExpr(graft.functions.HashTfVec(toExpr(col(textCol)), dim, k)).as("vec"))

  /** Corpus-adaptive hash dimension for the hashed-shingle tiers —
    * the smallest power of two keeping EXPECTED bucket document-
    * frequency ≤ `targetDf` (`dim ≥ Σ_docs max(#tokens−k+1, 0) /
    * targetDf`), clamped to [minDim, maxDim].
    *
    * WHY THIS EXISTS (measured, SCALE.md): bucket df grows linearly
    * with corpus size at FIXED `dim`, so a dfCap calibrated at one
    * scale silently drops EVERY bucket once the corpus grows past
    * `dim·dfCap` shingle mass — the scale ladder measured
    * [[hashedShingleNearDup]] recall collapsing 255 → 714/765 → 0
    * pairs at 1×/3×/10× sf0.1 with `dim = 65536, dfCap = 50`. Sizing
    * `dim` with the corpus keeps per-bucket df — and therefore BOTH
    * the dfCap semantics ("drop shingles shared by more than dfCap
    * docs", not "drop saturated hash buckets") AND the
    * `Σ C(df,2) ≤ #buckets·dfCap²` join-fan-out bound — invariant at
    * any scale. One cheap column-pruned corpus scan (a single-row
    * aggregate; the only driver-side value is one long). Token count
    * follows the [[graft.functions.ShingleBuckets]] kernel exactly
    * (`split(" ", -1)`, positions = max(len−k+1, 0)), so an external
    * engine reproduces the same dim from the same corpus.
    */
  def sizedShingleDim(df: DataFrame, textCol: String, k: Int = 3,
                      targetDf: Long = 4L, minDim: Int = 1 << 10,
                      maxDim: Int = 1 << 30): Int = {
    require(targetDf >= 1, "targetDf must be >= 1")
    require(minDim >= 1 && maxDim >= minDim, "need 1 <= minDim <= maxDim")
    require(Integer.bitCount(minDim) == 1 && Integer.bitCount(maxDim) == 1,
      "minDim/maxDim must be powers of two (the oracle-reproducible grid)")
    val positions = df
      .select(greatest(size(split(col(textCol), " ", -1)) - lit(k - 1), lit(0))
        .cast("long").as("p"))
      .agg(coalesce(sum(col("p")), lit(0L))).head().getLong(0) // empty corpus -> minDim
    dimForPositions(positions, targetDf, minDim, maxDim)
  }

  /** [[sizedShingleDim]] from an already-persisted shingle index that
    * carries the per-doc position mass (the
    * [[Dedup.shingleFpRowsWithPos]] shape: (id, s, pos) with `pos`
    * repeated on every row of a doc) — the sizing aggregate then rides
    * the NARROW persisted rows instead of re-scanning and re-splitting
    * the corpus text a second time (the dedup_scorecard already holds
    * that index for its Jaccard tiers; its sizing pass was the one
    * remaining double corpus scan). A doc with no shingles has no
    * index row and contributes 0 to both forms, so the two compute the
    * IDENTICAL dim from the identical mass (spec-pinned), and the
    * DuckDB oracle CTE needs no second form.
    */
  def sizedShingleDimFromIndex(ix: DataFrame, targetDf: Long = 4L,
                               minDim: Int = 1 << 10,
                               maxDim: Int = 1 << 30): Int = {
    require(targetDf >= 1, "targetDf must be >= 1")
    require(minDim >= 1 && maxDim >= minDim, "need 1 <= minDim <= maxDim")
    require(Integer.bitCount(minDim) == 1 && Integer.bitCount(maxDim) == 1,
      "minDim/maxDim must be powers of two (the oracle-reproducible grid)")
    val positions = ix.groupBy(col("id")).agg(max(col("pos")).as("p"))
      .agg(coalesce(sum(col("p")), lit(0L))).head().getLong(0)
    dimForPositions(positions, targetDf, minDim, maxDim)
  }

  private def dimForPositions(positions: Long, targetDf: Long,
                              minDim: Int, maxDim: Int): Int = {
    val need = (positions + targetDf - 1) / targetDf
    var dim = minDim
    while (dim < need && dim < maxDim) dim <<= 1
    dim
  }

  /** A standing hashed-shingle count index: `v` the (id, d, c) sparse
    * vectors, `norms` the per-doc squared norms (derived from `v`, so
    * one cache covers both), and the `(dim, k)` hashing geometry the
    * index was built with — carried ON the index (the [[Dedup.MinhashIndex]]
    * convention) so a probe can never shingle a batch into a DIFFERENT
    * bucket space than the corpus it joins (a mismatch produces silent
    * garbage, not an error). `release()` owns the persist.
    */
  final case class ShingleTfIndex(v: DataFrame, norms: DataFrame,
                                  dim: Int, k: Int,
                                  release: () => Unit)

  /** Build the sparse hashed-shingle index a corpus side of
    * [[hashedShingleNearDup]]/[[hashedShingleNearDupIncremental]]
    * queries against. The (id, bucket, count) frame persists eagerly
    * (multi-consumer — see the Dedup inverted-index discipline);
    * norms derive from the cached frame, never a second corpus scan.
    */
  def buildShingleTfIndex(df: DataFrame, idCol: String, textCol: String,
                          dim: Int = 65536, k: Int = 3,
                          persist: Boolean = true): ShingleTfIndex = {
    val buckets = df.select(col(idCol).as("id"),
      explode(fromExpr(graft.functions.ShingleBuckets(toExpr(col(textCol)), dim, k)))
        .as("d"))
    val v0 = buckets.groupBy(col("id"), col("d")).agg(count(lit(1)).as("c"))
    val v = if (persist) Caches.eager(v0) else v0
    val norms = v.groupBy(col("id")).agg(sum(col("c") * col("c")).as("nn"))
    ShingleTfIndex(v, norms, dim, k, () => { if (persist) v.unpersist(); () })
  }

  /** Persist a [[ShingleTfIndex]] as a catalog table BUCKETED BY the
    * shingle bucket `d` — the incremental probe's join key, so a new
    * batch joins the standing corpus WITHOUT reshuffling it (the
    * minhash-index contract) — plus a one-row `<prefix>_stf_meta`
    * carrying (dim, k) so a loaded index always shingles incoming
    * batches into the bucket space it was built with. Norms re-derive
    * from the table on load.
    */
  def saveShingleTfIndex(index: ShingleTfIndex, prefix: String,
                         buckets: Int = 16): Unit = {
    val spark = index.v.sparkSession
    import spark.implicits._
    index.v.write.mode("overwrite")
      .bucketBy(buckets, "d").saveAsTable(s"${prefix}_stf")
    Seq((index.dim, index.k)).toDF("dim", "k")
      .write.mode("overwrite").saveAsTable(s"${prefix}_stf_meta")
  }

  /** Load a [[saveShingleTfIndex]] index (unpersisted — the table scan
    * IS the cache; release() is a no-op). */
  def loadShingleTfIndex(spark: org.apache.spark.sql.SparkSession,
                         prefix: String): ShingleTfIndex = {
    val v = spark.table(s"${prefix}_stf")
    val meta = spark.table(s"${prefix}_stf_meta").head()
    ShingleTfIndex(v,
      v.groupBy(col("id")).agg(sum(col("c") * col("c")).as("nn")),
      meta.getInt(0), meta.getInt(1),
      () => ())
  }

  /** Incremental [[hashedShingleNearDup]]: near-dup pairs of a NEW
    * batch against a standing corpus index — corpus history is never
    * re-shingled, cost scales with |batch| + the touched index slice.
    * `dfCap` applies to the CORPUS-side document frequency (hot-dim
    * pruning is a property of the standing index, so a replayed batch
    * meets the same candidate set). Same integer-exact cosine gate;
    * output (id_new, id_corpus, dot, norm_new, norm_corpus).
    */
  /** The integer cosine-≥-τ gate, overflow-safe, with a LONG FAST
    * PATH: when both squared norms are ≤ a bound B chosen so every
    * product fits signed 64-bit, the comparison runs in plain long
    * arithmetic — safe because dot² ≤ ∥a∥²·∥b∥² ≤ B² (Cauchy–Schwarz
    * over exact nonnegative counts), so B = ⌊√(2⁶³-1 ÷ max(τ²num,
    * τ²den))⌋ bounds BOTH sides (B ≈ 3.04·10⁸ at the default
    * τ² = 81/100 — docs up to ~17k total shingle mass, i.e.
    * essentially every real document; only adversarial giants take
    * the slow path). The slow path carries exact integer products in
    * decimal(38,0), which the DuckDB oracles mirror with HUGEINT
    * casts (int128 ⊃ decimal(38,0) range).
    *
    * Exactness domain of the slow path — honest bounds, not "room to
    * spare": decimal(38,0) products overflow past 10³⁸ — a LOUD error
    * under ANSI mode (Spark 4's default, spec-pinned), a NULL (pair
    * silently dropped) with ANSI off — so the gate is exact iff
    * dot²·τ²den < 10³⁸ and τ²num·∥a∥²·∥b∥² < 10³⁸. With the enforced
    * τ² num/den ≤ 10⁴ that is dot < 10¹⁷ and ∥a∥²·∥b∥² < 10³⁴ —
    * documents up to ~10⁸ total shingle occurrences each. Larger
    * τ²den shrinks the domain linearly, hence the require below
    * (user-supplied denominators past 10⁴ would silently drop pairs
    * well inside real-document range).
    */
  private[ops] def cosineGate(dot: Column, tauSqNum: Long, tauSqDen: Long,
                              normA: Column, normB: Column): Column = {
    require(tauSqNum <= 10000L && tauSqDen <= 10000L,
      "tau^2 num/den must be <= 1e4 — larger terms push the decimal(38,0) " +
        "slow path past its exactness bound (see cosineGate doc)")
    val maxT = math.max(1L, math.max(tauSqNum, tauSqDen))
    // largest B with maxT·B² ≤ Long.MaxValue, verified in BigInt (the
    // float sqrt seed can land one too high)
    var bound = math.sqrt(Long.MaxValue.toDouble / maxT).toLong
    while (BigInt(bound) * bound * maxT > Long.MaxValue) bound -= 1
    val dec = "decimal(38,0)"
    val slow = dot.cast(dec) * dot.cast(dec) * lit(tauSqDen).cast(dec) >=
      lit(tauSqNum).cast(dec) * normA.cast(dec) * normB.cast(dec)
    when(normA <= bound && normB <= bound,
      dot * dot * lit(tauSqDen) >= lit(tauSqNum) * normA * normB)
      .otherwise(slow)
  }

  def hashedShingleNearDupIncremental(batch: DataFrame, index: ShingleTfIndex,
                                      idCol: String, textCol: String,
                                      tauSqNum: Long = 81L, tauSqDen: Long = 100L,
                                      dfCap: Long = 1000L,
                                      persistBatch: Boolean = true): DataFrame = {
    // the batch shingles with the INDEX's (dim, k) — the geometry is a
    // property of the standing corpus, so a probe can never land in a
    // different bucket space (the MinhashIndex convention).
    // The batch index feeds TWO subtrees (the dot join and its norms) —
    // same multi-consumer persist rationale as the corpus side; owned
    // by the clearCache-per-query harness (persistBatch=false opts out)
    val b = buildShingleTfIndex(batch, idCol, textCol, index.dim, index.k,
      persist = persistBatch)
    val kept = index.v.groupBy(col("d")).agg(count(lit(1)).as("dfd"))
      .filter(col("dfd") <= dfCap).select(col("d"))
    // norms ride the index rows into the candidate join and fall out of
    // the pair aggregate — never joined onto the (largest) pair frame
    // afterwards; see [[hashedShingleNearDup]]'s tail note
    val dots = index.v.join(kept, Seq("d"))
      .join(index.norms.select(col("id"), col("nn")), Seq("id"))
      .select(col("d"), col("id").as("id_corpus"), col("c").as("cc"),
        col("nn").as("nc"))
      .join(b.v.join(b.norms.select(col("id"), col("nn")), Seq("id"))
        .select(col("d"), col("id").as("id_new"), col("c").as("cb"),
          col("nn").as("nb")), Seq("d"))
      // a replayed batch may contain ids the index already absorbed —
      // a self-pair is cosine 1.0 by construction and must not be
      // reported as a near-duplicate (the minhashLshIncremental rule)
      .filter(col("id_new") =!= col("id_corpus"))
      .groupBy(col("id_new"), col("id_corpus"))
      .agg(sum(col("cc") * col("cb")).as("dot"),
        max(col("nb")).as("norm_new"), max(col("nc")).as("norm_corpus"))
    dots
      .filter(cosineGate(col("dot"), tauSqNum, tauSqDen,
        col("norm_new"), col("norm_corpus")))
      .select(col("id_new"), col("id_corpus"), col("dot"),
        col("norm_new"), col("norm_corpus"))
  }

  /** Near-duplicate pairs by cosine over hashed k-shingle counts — the
    * inverted-index sparse-cosine tier, INTEGER-EXACT end to end:
    * cosine(a,b) ≥ τ is decided as `dot²·tauSqDen ≥ tauSqNum·∥a∥²·∥b∥²`
    * over exact integer shingle-count products (decimal(38,0) carried,
    * overflow-safe — see [[cosineGate]]; no square root, no float
    * boundary — the last-ulp-proof discipline of the other gates).
    * τ² DOMAIN: `tauSqNum` and `tauSqDen` must each be ≤ 10⁴ (enforced
    * loudly in the gate) — that bound is what keeps the decimal(38,0)
    * slow path exact past any real document size (exactness needs
    * τ²-term·∥a∥²·∥b∥² < 10³⁸); express finer thresholds as a reduced
    * rational within the bound (e.g. 0.8125² = 6602/10⁴).
    *
    * Scale shape: per-position buckets stream from the scan-side
    * [[graft.functions.ShingleBuckets]] kernel; counts, norms and the
    * candidate self-join are keyed linear shuffles on (id, bucket) /
    * bucket / id. `dfCap` drops buckets shared by more than `dfCap`
    * documents BEFORE the self-join (the [[Dedup]] inverted-index
    * discipline), structurally bounding join fan-out to
    * Σ_kept C(df,2) ≤ #buckets·dfCap² — hot boilerplate shingles can
    * never go quadratic. Norms are over the FULL vector (uncapped), so
    * capping only loses candidate mass, never inflates a cosine.
    *
    * SIZE `dim` WITH THE CORPUS ([[sizedShingleDim]]): at fixed `dim`,
    * bucket df grows linearly with corpus size, and once average df
    * crosses `dfCap` the cap drops EVERY bucket — recall collapses to
    * zero (measured on the scale ladder: 255 → 0 pairs at 10× sf0.1
    * with the defaults; SCALE.md). A corpus-sized dim keeps bucket df
    * — and with it both the dfCap semantics and the fan-out bound —
    * invariant at any scale.
    * Output: (id_a, id_b, dot, norm_a, norm_b), id_a < id_b.
    */
  def hashedShingleNearDup(df: DataFrame, idCol: String, textCol: String,
                           dim: Int = 65536, k: Int = 3,
                           tauSqNum: Long = 81L, tauSqDen: Long = 100L,
                           dfCap: Long = 1000L,
                           persistIndex: Boolean = true,
                           aggParts: Int = PairAggSizing.Auto): DataFrame = {
    require(tauSqNum >= 0 && tauSqDen > 0, "tau² must be a nonneg rational")
    // the (id, bucket, count) index feeds FOUR subtrees (norms, df cap,
    // both sides of the candidate self-join) — buildShingleTfIndex
    // persists it eagerly or Spark re-runs scan+kernel+aggregate per
    // consumer (the Dedup inverted-index discipline; measured
    // 4.6 → 1.9 s at sf0.1). Narrow (3 longs/row); released on
    // clearCache (persistIndex=false opts out).
    val idx = buildShingleTfIndex(df, idCol, textCol, dim, k, persist = persistIndex)
    val v = idx.v
    val norms = idx.norms
    // ONE df histogram serves the hot-bucket cap and — under Auto —
    // the candidate-mass measurement (persisted so the mass job is a
    // cached scan; released with Dedup.releasePairCaches / clearCache)
    val histRaw = v.groupBy(col("d")).agg(count(lit(1)).as("dfd"))
    val auto = aggParts == PairAggSizing.Auto
    val hist = if (auto) {
      val h = histRaw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      Dedup.registerPairCache(h)
      h
    } else histRaw
    val nAgg =
      if (auto) PairAggSizing.sizedParts(v.sparkSession,
        PairAggSizing.massFromHist(hist, "dfd", dfCap))
      else PairAggSizing.explicitParts(v.sparkSession, aggParts)
    val kept = hist.filter(col("dfd") <= dfCap).select(col("d"))
    // Norms ride the INDEX rows into the self-join (8 bytes/side on an
    // already-narrow stream) and fall out of the pair aggregate as
    // max() — NOT joined onto the pair frame afterwards: the candidate
    // pair frame is the largest frame in the query (x100 rung: ~10⁸
    // distinct pairs collapsing to 2.5·10⁴ survivors), and the former
    // shape dragged it through TWO shuffle joins + sorts against the
    // per-doc norms just to evaluate a gate that then discards 99.98%
    // of it (the round-10 ngram-tier lesson: never re-shuffle the
    // biggest frame for per-doc constants). The norm attach is one
    // id-keyed join of index rows — strictly smaller than one pair-
    // frame shuffle, and the identical subtree under both self-join
    // sides is served once by exchange reuse. Gate then filters the
    // aggregate output in the same stage — zero post-aggregate joins.
    val vkn = v.join(kept, Seq("d"))
      .join(norms.select(col("id"), col("nn")), Seq("id"))
    // pair-aggregate exchange sized from the measured candidate mass
    // (PairAggSizing, round 12) — the ngram tier's partition
    // discipline; a plan no-op below the session setting
    val dots = PairAggSizing.repartitionForAgg(
        vkn.select(col("d"), col("id").as("id_a"), col("c").as("ca"),
          col("nn").as("na"))
        .join(vkn.select(col("d"), col("id").as("id_b"), col("c").as("cb"),
          col("nn").as("nb")), Seq("d"))
        .filter(col("id_a") < col("id_b")),
        nAgg, col("id_a"), col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(col("ca") * col("cb")).as("dot"),
        max(col("na")).as("norm_a"), max(col("nb")).as("norm_b"))
    dots
      .filter(cosineGate(col("dot"), tauSqNum, tauSqDen,
        col("norm_a"), col("norm_b")))
      .select(col("id_a"), col("id_b"), col("dot"), col("norm_a"), col("norm_b"))
  }
}
