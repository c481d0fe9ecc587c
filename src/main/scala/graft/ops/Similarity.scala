package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Every retrieval tier is one *candidate source* × one *scorer*, ranked
  * per query by the one shared [[TopK.rank]] (cosine desc, neighbor id
  * asc):
  *   - candidate sources: [[allPairs]] (the exact baselines: a cross
  *     join), [[probe]] (IVF: queries explode over their probed cells and
  *     equi-join the cell-keyed corpus) and [[srp]] (multi-table SRP-LSH:
  *     same-bucket pairs, deduped before scoring);
  *   - scorers: [[cosine]] (fp64) and [[cosineQ8]] (int8);
  *   - the coarse-then-refine tiers (RP, IVF re-rank) end in one exact
  *     re-rank tail, [[rerankExact]].
  *
  * All arithmetic is double left-fold (cast each float element up first)
  * so results are bit-deterministic and oracle-comparable.
  */
object Similarity {

  private def fromExpr(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.classic.GraftExpressionBridge.column(e)
  private def toExpr(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.GraftExpressionBridge.expression(c)

  /** float[] → double[] (exact widening, makes the fold deterministic).
    * A native element-wise Cast — codegen, no HOF.
    */
  def toDoubleVec(c: Column): Column = c.cast("array<double>")

  /** Sequential left-fold dot product — matches an oracle computing
    * `fold(+, map(*, zip(a,b)))` element-by-element. Codegen kernel
    * (graft.functions.VecDot), bit-identical to the HOF fold it
    * replaces but without the interpreted per-element closures.
    */
  def dot(a: Column, b: Column): Column =
    fromExpr(graft.functions.VecDot(toExpr(a), toExpr(b)))

  def cosine(a: Column, b: Column): Column =
    fromExpr(graft.functions.VecCosine(toExpr(a), toExpr(b)))

  /** Cosine of two int8-quantized vectors (scale-invariant, so the
    * per-vector scale never enters).
    */
  private def cosineQ8(a: Column, b: Column): Column =
    fromExpr(graft.functions.VecCosineI8(toExpr(a), toExpr(b)))

  /** Candidate source of the exact tiers: every (query, corpus) pair that
    * passes `keep` (the self or label predicate).
    */
  private def allPairs(q: DataFrame, c: DataFrame, keep: Column): DataFrame =
    q.crossJoin(c).filter(keep)

  /** IVF candidate source: each query row (`qCols` of `queries`) explodes
    * over its `nprobe` nearest cells and equi-joins the cell-keyed
    * `cells`; pairs failing `keep` are dropped.
    */
  private def probe(queries: DataFrame, qCols: Seq[Column], cents: Array[Seq[Double]],
                    nprobe: Int, cells: DataFrame, keep: Column): DataFrame =
    queries.select(qCols :+ explode(probeCells(col("vec"), cents, nprobe)).as("cell"): _*)
      .join(cells, Seq("cell"))
      .filter(keep)

  private def notSelf: Column = col("query_id") =!= col("neighbor_id")

  /** Score every candidate into `cosine` and keep each query's top k. */
  private def scoreTopK(cands: DataFrame, score: Column, k: Int): DataFrame =
    TopK.rank(cands.withColumn("cosine", score), Seq(col("query_id")),
      Seq(col("cosine").desc, col("neighbor_id")), k)

  /** The (query_id, neighbor_id, rank, cosine) top-k of a candidate frame. */
  private def ranked(cands: DataFrame, score: Column, k: Int): DataFrame =
    scoreTopK(cands, score, k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cosine"))

  private def fp64: Column = cosine(col("qv"), col("cv"))

  /** Symmetric int8 quantization of an (id, vec) frame → (id, qvec
    * array<tinyint>, qscale): 8x smaller than the double vectors (4x vs
    * float parquet) — the compressed-scan tier for 100 TB embedding
    * stores. Zero vectors quantize to zeros with scale 1. All three
    * kernels (max-abs, quantize, int8 cosine) are codegen expressions.
    */
  def quantizeInt8(df: DataFrame): DataFrame = {
    val maxAbs = fromExpr(graft.functions.VecMaxAbs(toExpr(col("vec"))))
    df.select(col("id"),
        col("vec"), when(maxAbs === 0.0, lit(1.0)).otherwise(maxAbs / 127.0).as("qscale"))
      .select(col("id"),
        fromExpr(graft.functions.VecQuantI8(toExpr(col("vec")), toExpr(col("qscale"))))
          .as("qvec"),
        col("qscale"))
  }

  /** Int8 quantization of one vector column (per-vector symmetric
    * scale). Cosine is scale-invariant, so downstream scoring needs
    * only the byte array — the scale never leaves the expression.
    * Shared by [[quantizeInt8]], [[buildIvfIndex]] (corpus side) and
    * [[ivfTopKIndexedQ8]] (query side); codegen's common-subexpression
    * elimination folds the doubled VecMaxAbs.
    */
  def quantizeCol(vec: Column): Column = {
    val maxAbs = fromExpr(graft.functions.VecMaxAbs(toExpr(vec)))
    val qscale = when(maxAbs === 0.0, lit(1.0)).otherwise(maxAbs / 127.0)
    fromExpr(graft.functions.VecQuantI8(toExpr(vec), toExpr(qscale)))
  }

  /** Exact-scan top-k over int8-quantized vectors — the q8 arithmetic
    * BASELINE (all-pairs by definition, like [[bruteForceTopK]]): it
    * exists to pin the int8 kernels against the exact double scan in
    * the `sim_topk_q8` recall row. No broadcast hint — AQE broadcasts
    * a small query batch by itself, and a large batch must not be
    * forced build-side. The production scale tier is
    * [[ivfTopKIndexedQ8]]: the same kernels riding IVF candidate
    * pruning over a quantized, cell-bucketed index.
    */
  def quantizedTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = quantizeInt8(queries).select(col("id").as("query_id"), col("qvec").as("qa"))
    val c = quantizeInt8(corpus).select(col("id").as("neighbor_id"), col("qvec").as("qb"))
    ranked(allPairs(q, c, notSelf), cosineQ8(col("qa"), col("qb")), k)
  }

  /** Exact top-k neighbors for each query vector (brute force).
    * `queries`/`corpus`: (id, vec double[]). Self-pairs excluded.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("id").as("query_id"), col("vec").as("qv"))
    val c = corpus.select(col("id").as("neighbor_id"), col("vec").as("cv"))
    ranked(allPairs(broadcast(q), c, notSelf), fp64, k)
  }

  /** Hard-negative mining: for each vector, the top-k most similar
    * vectors carrying a DIFFERENT label — the contrastive-training pair
    * generator (a near-identical embedding with another label is
    * exactly the example the encoder must learn to separate).
    *
    * This is the exact all-pairs baseline (same shape and oracle role
    * as [[bruteForceTopK]], label predicate pushed below the top-k);
    * the 100 TB path is [[hardNegativeTopKIvf]] — the same label
    * filter below the same top-k, over the IVF probe join's cell-local
    * candidates instead of the cross product.
    */
  def hardNegativeTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("id").as("query_id"), col("vec").as("qv"),
      col("label").as("ql"))
    hardNegatives(allPairs(q, labelledCorpus(corpus), col("ql") =!= col("cl")), k)
  }

  /** The IVF scale tier of [[hardNegativeTopK]]: the label predicate
    * is pushed below the top-k exactly as in the exact miner, but the
    * candidate pool is the probe join's cell-local stream instead of
    * the cross product — the index corpus KEEPS its label column, so
    * the composition really is "a filter away" from the IVF probe.
    * Same output schema; approximate exactly where the probe is
    * (recall bounded by the `hard_negatives_ivf` oracle row). Scale
    * shape: one cell-keyed equi-join, no cross join, no broadcast
    * hint, per-query candidate lists bounded by the probed cells.
    */
  def hardNegativeTopKIvf(queries: DataFrame, corpus: DataFrame, k: Int,
                          nlist: Int = 16, nprobe: Int = 4,
                          iters: Int = 3): DataFrame = {
    require(k > 0, "k must be positive")
    hardNegatives(labelledProbe(queries, corpus, "ql", nlist, nprobe, iters,
      col("ql") =!= col("cl")), k)
  }

  /** The hard-negative top-k of labelled candidates, both labels kept. */
  private def hardNegatives(cands: DataFrame, k: Int): DataFrame =
    scoreTopK(cands, fp64, k)
      .select(col("query_id"), col("ql").as("query_label"),
        col("neighbor_id"), col("cl").as("neighbor_label"),
        col("rank"), col("cosine"))

  /** The corpus side of the labelled tiers: (neighbor_id, cv, cl), plus
    * `extra` columns (the IVF cell).
    */
  private def labelledCorpus(corpus: DataFrame, extra: Column*): DataFrame =
    corpus.select(Seq(col("id").as("neighbor_id"), col("vec").as("cv"),
      col("label").as("cl")) ++ extra: _*)

  /** [[probe]] candidates of the labelled IVF tiers, trained on the fly:
    * query label as `qLabel`, corpus label as `cl`.
    */
  private def labelledProbe(queries: DataFrame, corpus: DataFrame, qLabel: String,
                            nlist: Int, nprobe: Int, iters: Int,
                            keep: Column): DataFrame = {
    val cents = ivfCentroids(corpus, nlist, iters)
    probe(queries, Seq(col("id").as("query_id"), col("vec").as("qv"), col("label").as(qLabel)),
      cents, nprobe, labelledCorpus(corpus, nearestCell(col("vec"), cents).as("cell")), keep)
  }

  /** k-NN majority-vote label classification over embeddings — the
    * standard "is this embedding space any good" probe (label a query
    * by the majority label of its k nearest corpus neighbors). This is
    * the exact all-pairs baseline (same shape and oracle role as
    * [[bruteForceTopK]]); the 100 TB path is [[knnClassifyIvf]] — the
    * identical vote over the IVF probe join's cell-local candidates.
    *
    * Determinism: neighbor rank ties break to the lower neighbor id
    * (the [[bruteForceTopK]] contract) and vote ties break to the
    * SMALLEST winning label, so the prediction is a pure function of
    * the input — engine-portable and oracle-checkable exactly.
    *
    * Output: (query_id, true_label, predicted_label, votes, correct).
    */
  def knnClassify(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val q = queries.select(col("id").as("query_id"), col("vec").as("qv"),
      col("label").as("true_label"))
    majorityVote(scoreTopK(allPairs(q, labelledCorpus(corpus), notSelf), fp64, k))
  }

  /** The IVF scale tier of [[knnClassify]]: the same rank-k cut and the
    * same majority vote, but candidates come from the probe join's
    * cell-local stream instead of the cross product (the
    * [[hardNegativeTopKIvf]] skeleton, vote instead of label filter).
    * Scale shape: one cell-keyed equi-join, no cross join, no broadcast
    * hint; approximate exactly where the probe is — prediction
    * AGREEMENT with the exact classifier is pinned by the
    * `knn_classify_ivf` oracle row. Agreement tracks how decisive the
    * votes are: on clustered data a missed neighbor rarely flips a
    * majority, while on near-uniform embeddings (the synthetic
    * worst case) it tracks plain probe recall — raise `nprobe` to
    * buy it back.
    */
  def knnClassifyIvf(queries: DataFrame, corpus: DataFrame, k: Int,
                     nlist: Int = 16, nprobe: Int = 4,
                     iters: Int = 3): DataFrame = {
    require(k > 0, "k must be positive")
    majorityVote(scoreTopK(labelledProbe(queries, corpus, "true_label", nlist, nprobe,
      iters, notSelf), fp64, k))
  }

  /** Vote a prediction from ANY (query_id, neighbor_id) top-k stream —
    * the composition point that turns every retrieval tier into a
    * classifier: feed it [[bruteForceTopK]] (== [[knnClassify]],
    * spec-pinned), [[ivfTopKIndexed]]/[[ivfTopKIndexedQ8]] over a
    * PERSISTED index (classification without re-embedding or
    * re-training — the production serving shape), or [[srpLshTopK]].
    * Labels attach by equi-join on the ids both sides are already
    * keyed by; the vote itself is the [[knnClassify]] contract
    * (votes DESC, label ASC).
    */
  def knnClassifyFrom(neighbors: DataFrame, queryLabels: DataFrame,
                      corpusLabels: DataFrame): DataFrame = {
    val nn = neighbors
      .join(corpusLabels.select(col("id").as("neighbor_id"),
        col("label").as("cl")), Seq("neighbor_id"))
      .join(queryLabels.select(col("id").as("query_id"),
        col("label").as("true_label")), Seq("query_id"))
    majorityVote(nn)
  }

  /** Collapse ranked (query_id, true_label, cl) neighbor rows into one
    * prediction per query: count votes per candidate label, keep the
    * (votes DESC, label ASC) winner.
    */
  private def majorityVote(nn: DataFrame): DataFrame = {
    val votes = nn.groupBy(col("query_id"), col("true_label"), col("cl"))
      .agg(count(lit(1)).as("votes"))
    TopK.rank(votes, Seq(col("query_id")), Seq(col("votes").desc, col("cl")), 1, "vr")
      .select(col("query_id"), col("true_label"),
        col("cl").as("predicted_label"), col("votes"),
        (col("cl") === col("true_label")).as("correct"))
  }

  /** Deterministic random hyperplanes (fixed seed) as a plane-major
    * matrix — same RNG draw order as the round-1 literal-column form,
    * so bucket assignments are unchanged.
    */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(numPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** ±1 sign matrix derived from md5 — the PORTABLE counterpart of
    * [[hyperplanes]]: sign(j,i) = +1 iff the first hex digit of
    * `md5("<tag>:<j>:<i>")` is even. md5 is the one hash Spark, DuckDB
    * and `java.security.MessageDigest` share bit-for-bit (the
    * [[graft.ops.Sampling.stringBucket]] convention), so a DuckDB
    * oracle re-derives the whole matrix independently. Rademacher ±1
    * entries satisfy the JL lemma the same as Gaussians (Achlioptas
    * 2003, "Database-friendly random projections").
    */
  def rademacherPlanes(dOut: Int, dIn: Int, tag: String = "rp"): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(dOut) { j =>
      Array.tabulate(dIn) { i =>
        md.reset()
        val d = md.digest(s"$tag:$j:$i".getBytes(java.nio.charset.StandardCharsets.UTF_8))
        // first hex digit = high nibble of byte 0
        if (((d(0) >> 4) & 0xf) % 2 == 0) 1.0 else -1.0
      }
    }
  }

  /** Johnson-Lindenstrauss dimensionality reduction: (id, vec[dIn]) →
    * (id, vec[dOut]) through the md5-portable Rademacher matrix. ONE
    * codegen kernel call per row ([[graft.functions.VecProject]]), a
    * pure scan-side projection — zero shuffles, and downstream ANN
    * arithmetic shrinks by dIn/dOut (64→16 = 4x fewer multiplies per
    * scored candidate, 4x smaller shuffle payloads). Cosine is NOT
    * exactly preserved (JL distorts), so the production shape is
    * [[rpRerankTopK]]: over-fetch in the reduced space, re-rank the
    * small candidate set exactly.
    */
  def randomProject(df: DataFrame, dIn: Int, dOut: Int, tag: String = "rp"): DataFrame = {
    val planes = rademacherPlanes(dOut, dIn, tag)
    df.select(col("id"),
      fromExpr(graft.functions.VecProject(toExpr(col("vec")), planes)).as("vec"))
  }

  /** `m` deterministic jittered VARIANTS per vector: (id, vec[dim]) →
    * (id·m + k, vec + δ(id·m+k)) for k in [0, m) — the embedding
    * augmentation primitive (train-time jitter), doubling as the
    * CLUSTERED-geometry generator for ANN recall measurement: each
    * source vector becomes a tight m-point cluster (δ components are
    * uniform in ±eps/2 from xxhash64 bytes — deterministic, so a
    * re-build is bit-identical, spec-pinned), with intra-cluster
    * cosines ≈ 1 against the corpus's inter-vector spread. On this
    * production-like geometry a correct IVF/RP stack must score
    * recall ≈ 1, unlike the near-uniform raw corpus whose top-k gaps
    * are data-limited (the sim_topk_rp scaladoc).
    *
    * Scale shape: one scan-side explode(sequence) per row, dim/8
    * fixed-width hash calls per emitted variant (8 jitter bytes ride
    * each xxhash64), all codegen'd built-ins — zero shuffles, linear
    * in m·|corpus|. Round 12 (guide §"per-task work"): this replaced
    * one md5-of-built-string + hex substring + base-16 conv PER
    * DIMENSION — 64 string builds and cryptographic hashes per
    * variant row, measured as the dominant cost of building the
    * clustered corpora — with dim/8 xxhash64 calls on fixed-width
    * longs. Jitter VALUES change (they are uniform ±eps/2 either
    * way); no oracle or spec pins the values, only determinism, the
    * cluster geometry, and the recall gates — all re-verified at the
    * three SFs (OPTIMIZATION_r12.md).
    */
  def perturbedVariants(df: DataFrame, m: Int, eps: Double, dim: Int,
                        tag: String = "jit"): DataFrame = {
    require(m >= 1 && eps > 0 && dim >= 1, "bad jitter parameters")
    val withK = df
      .withColumn("__k", explode(sequence(lit(0L), lit(m - 1L))))
      .withColumn("__uid", col("id") * m + col("__k"))
    // one hash per 8 dims, materialized as columns so codegen evaluates
    // each exactly once (not once per referencing array slot)
    val blocks = (dim + 7) / 8
    val withH = (0 until blocks).foldLeft(withK) { (d, b) =>
      d.withColumn(s"__h$b", xxhash64(lit(tag), col("__uid"), lit(b)))
    }
    val jittered = array((0 until dim).map { j =>
      val h = shiftright(col(s"__h${j / 8}"), 8 * (j % 8))
        .bitwiseAND(lit(255L)).cast("double")
      element_at(col("vec"), j + 1) + (h / 255.0 - 0.5) * eps
    }: _*)
    withH.select(col("__uid").as("id"), jittered.as("vec"))
  }

  /** Brute-force top-k in the REDUCED space — the recall-measurement
    * baseline for [[randomProject]] (same oracle role as the LSH/IVF
    * tiers' probe stages; production pairs it with IVF bucketing over
    * the projected vectors, which composes because both are (id, vec)
    * → (id, vec) shapes).
    */
  def rpTopK(queries: DataFrame, corpus: DataFrame, k: Int,
             dIn: Int, dOut: Int, tag: String = "rp"): DataFrame =
    bruteForceTopK(randomProject(queries, dIn, dOut, tag),
      randomProject(corpus, dIn, dOut, tag), k)

  /** Reduced-space over-fetch + EXACT re-rank: generate `k·overFetch`
    * candidates per query with cheap dOut-dim scores, then score only
    * those candidates at full dimension and keep the exact top-k. The
    * coarse-then-refine shape of every production ANN stack (IVF-PQ,
    * ScaNN): recall approaches exact as overFetch grows while full-dim
    * work stays O(k·overFetch) per query instead of O(|corpus|). The
    * re-rank join is keyed on candidate ids (linear, no cross join);
    * full-dim vectors travel ONLY for candidate rows.
    */
  def rpRerankTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                   dIn: Int, dOut: Int, overFetch: Int = 4,
                   tag: String = "rp"): DataFrame =
    rerankExact(
      rpTopK(queries, corpus, k * overFetch, dIn, dOut, tag),
      queries, fullVectors(corpus), k)

  /** [[rpRerankTopK]] with IVF candidate generation IN the reduced
    * space: project both sides (4x cheaper vectors), bucket and probe
    * with IVF over the projections (candidate volume per query is
    * corpus-size independent), then the same exact full-dim re-rank of
    * only the candidates. The full production stack — cheap geometry
    * for candidates, exact geometry for the answer — with both
    * reductions composing because every tier is (id, vec) → pairs.
    */
  def rpIvfRerankTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                      dIn: Int, dOut: Int, overFetch: Int = 4,
                      nlist: Int = 16, nprobe: Int = 4,
                      tag: String = "rp"): DataFrame =
    rerankExact(
      ivfTopK(randomProject(queries, dIn, dOut, tag),
        randomProject(corpus, dIn, dOut, tag), k * overFetch, nlist, nprobe),
      queries, fullVectors(corpus), k)

  /** The (neighbor_id, cv) lookup side of the RP tiers' re-rank. */
  private def fullVectors(corpus: DataFrame): DataFrame =
    corpus.select(col("id").as("neighbor_id"), col("vec").as("cv"))

  /** The exact re-rank tail shared by the coarse-then-refine tiers
    * ([[rpRerankTopK]], [[rpIvfRerankTopK]], [[ivfTopKIndexedRerank]]):
    * score ONLY the candidate pairs at full dimension against the
    * (neighbor_id, cv) `vectors` (keyed joins — full-dim vectors travel
    * for candidate rows alone) and keep the exact top-k per query.
    */
  private def rerankExact(cands: DataFrame, queries: DataFrame,
                          vectors: DataFrame, k: Int): DataFrame =
    ranked(cands.select(col("query_id"), col("neighbor_id"))
      .join(queries.select(col("id").as("query_id"), col("vec").as("qv")), Seq("query_id"))
      .join(vectors, Seq("neighbor_id")), fp64, k)

  /** SRP bucket id: one sign bit per hyperplane. One codegen kernel
    * call per row (graft.functions.SrpBucket) instead of numPlanes
    * interpreted HOF dots over literal arrays.
    */
  def srpBucket(vec: Column, planes: Array[Array[Double]]): Column =
    fromExpr(graft.functions.SrpBucket(toExpr(vec), planes))

  /** (table, bucket) membership rows for multi-table SRP-LSH: `numTables`
    * independent hash tables of `planesPerTable` sign bits each
    * (OR-amplification — a pair is a candidate if it collides in ANY
    * table). Single-table SRP has poor recall on unclustered data: a
    * neighbor at 75° disagrees per plane with p=0.42, so an 8-bit single
    * table keeps it with p≈0.01; eight 4-bit tables keep it with p≈0.55.
    * Rows carry `vec` (the full-precision `col("vec")`, or its int8
    * quantization — computed ONCE per row, before the table explode);
    * the bucket bits always come from the full-precision vector.
    */
  private def tableBuckets(vecs: DataFrame, idAlias: String, vec: Column,
                           numTables: Int, planesPerTable: Int, dim: Int): DataFrame = {
    val entries = (0 until numTables).map { t =>
      val planes = hyperplanes(planesPerTable, dim, seed = 42L + t)
      struct(lit(t).as("tbl"), srpBucket(col("vec"), planes).as("bucket"))
    }
    val exploded = vecs.select(col("id").as(idAlias), vec, explode(array(entries: _*)).as("tb"))
    exploded.select(col(idAlias), col(exploded.columns(1)),
      col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
  }

  /** SRP candidate source: (query_id, `qName`, neighbor_id, `cName`)
    * pairs colliding in at least one table, self-pairs dropped, each pair
    * ONCE (deduped before scoring). No broadcast hint: the exploded query
    * side is queries x numTables rows carrying vectors — forcing it
    * build-side OOMs on a large query batch. AQE broadcasts small batches
    * on its own; otherwise the SMJ against a (tbl, bucket)-bucketed
    * corpus shuffles only the query side.
    */
  private def srp(queries: DataFrame, corpus: DataFrame, vec: Column,
                  qName: String, cName: String,
                  numTables: Int, planesPerTable: Int, dim: Int): DataFrame = {
    def side(df: DataFrame, idAlias: String, as: String): DataFrame = {
      val t = tableBuckets(df, idAlias, vec, numTables, planesPerTable, dim)
      t.withColumnRenamed(t.columns(1), as)
    }
    side(queries, "query_id", qName).join(side(corpus, "neighbor_id", cName), Seq("tbl", "bucket"))
      .filter(notSelf)
      .select("query_id", qName, "neighbor_id", cName)
      .dropDuplicates("query_id", "neighbor_id")
  }

  /** Approximate top-k via multi-table SRP-LSH: score only candidates
    * colliding with the query in at least one table. Recall/cost is
    * tuned by (numTables, planesPerTable); verified against
    * bruteForceTopK in tests. At scale the (tbl, bucket) pair is the
    * shuffle key and the corpus side can be bucketed on it.
    */
  def srpLshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                 numTables: Int = 8, planesPerTable: Int = 4,
                 dim: Int = 64): DataFrame =
    ranked(srp(queries, corpus, col("vec"), "qv", "cv", numTables, planesPerTable, dim),
      fp64, k)

  /** [[srpLshTopK]] with int8 scoring — the SRP twin of
    * [[ivfTopKIndexedQ8]]: same multi-table candidate generation (the
    * bucket bits come from the FULL-precision vectors, so candidate
    * recall is unchanged), but the join payload and the scoring kernel
    * are the 8×-smaller quantized vectors. No broadcast hint, same
    * rationale as [[srpLshTopK]].
    */
  def srpLshTopKQ8(queries: DataFrame, corpus: DataFrame, k: Int,
                   numTables: Int = 8, planesPerTable: Int = 4,
                   dim: Int = 64): DataFrame =
    ranked(srp(queries, corpus, quantizeCol(col("vec")).as("qv"), "qa", "qb",
      numTables, planesPerTable, dim), cosineQ8(col("qa"), col("qb")), k)

  /** IVF (inverted-file) top-k: a coarse quantizer of `nlist` centroids
    * partitions the corpus; each query probes its `nprobe` nearest
    * centroid cells only. The classic ANN scale path: at 100 TB the cell
    * id is the partitioning/bucketing key, the centroid table is a
    * driver-side broadcast, and per-query work is corpus_size *
    * nprobe/nlist.
    *
    * Training is deterministic: seeded sample + `iters` Lloyd rounds
    * over a bounded training sample, all distributed (mapPartitions-
    * free — groupBy(cell) mean).
    *
    * The seed draw is a hash-ordered TakeOrdered (`orderBy(xxhash64(
    * vec, seed)).limit(nlist)`): a uniform without-replacement sample
    * in ONE scan-side partial-top-k job (round 12, guide §1.2/§2.4 —
    * it replaced `RDD.takeSample`'s two jobs + full-corpus
    * deserialization), now deduped driver-side. Round 13 (VERDICT r12
    * item 3) additionally bounds the Lloyd TRAINING set to a
    * deterministic scan-side hash-filtered sample of ~`sampleFactor ·
    * nlist` rows when the corpus is meaningfully larger — see the body
    * comment. Centroids differ from round 12 wherever the sampled
    * branch engages (Lloyd means over a uniform sample — the FAISS
    * convention); every recall gate was re-verified at the three SFs
    * (OPTIMIZATION_r13.md). Ties on the hash break by the vector
    * value, so the draw is total-order deterministic.
    */
  def ivfCentroids(corpus: DataFrame, nlist: Int, iters: Int = 3,
                   seed: Long = 42L, sampleFactor: Int = 64,
                   knownCount: Option[Long] = None): Array[Seq[Double]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // seed draw: unchanged round-12 hash-ordered TakeOrdered, PLUS a
    // driver-side dedup of the nlist collected rows (zero extra jobs):
    // duplicate corpus vectors hash identically and sort adjacent, so
    // they would seed duplicate centroids whose empty twin cells
    // Lloyd's getOrElse(i, cents(i)) keeps stuck forever — the
    // round-12 ADVICE degenerate-corpus finding. Fewer than nlist
    // distinct drawn vectors now yields fewer centroids (the honest
    // geometry), and on all-distinct corpora the draw is bit-identical
    // to round 12.
    var cents: Array[Seq[Double]] = corpus.select(col("vec"))
      .orderBy(xxhash64(col("vec"), lit(seed)), col("vec"))
      .limit(nlist).as[Seq[Double]].collect()
      .distinct
    // Sample-based Lloyd (round 13, VERDICT r12 item 3 — the FAISS
    // convention of ~64 training points per centroid): training
    // previously assigned the FULL corpus to cells every iteration,
    // O(iters · n · nlist · dim) — with the sized grid's nlist ≈ √n
    // that is O(n^1.5 · dim), the dominant asymptotic cost of every
    // *_ivf* audit row and the x100 rungs. When the corpus is
    // meaningfully larger than the target sample (n > 6 · sampleFactor
    // · nlist — below that the saved assignment flops are smaller than
    // the sample cache's own materialization cost: at sf0.1 every
    // extra JOB is ~0.1 s of pure latency while a full cached Lloyd
    // scan is ~10 ms of flops, and an always-on TakeOrdered+distinct
    // sample form was A/B-measured 6-30% SLOWER, a filter+cache form
    // at 1.5· still ~10% slower on the one in-bracket row —
    // OPTIMIZATION_r13.md has both tables), Lloyd iterates over a
    // deterministic scan-side hash-filtered sample instead: a narrow
    // filter over the (caller-persisted) corpus — no sort, no
    // exchange, partitioning preserved, expected size sampleFactor ·
    // nlist — cutting training to O(iters · 64 · nlist² · dim) =
    // O(iters · 64 · n · dim) at the sized grid. The callers' one
    // full-corpus ASSIGNMENT pass is unchanged. The branch is decided
    // by `knownCount` — the corpus count the SIZED callers (the auto /
    // rerank audit rows, which size nlist from n) already hold — so no
    // extra job runs anywhere: a dedicated count() here was measured
    // at +85-190 ms per training at sf0.1, the whole
    // Lloyd cost at that scale. Unknown-count callers (fixed small
    // nlist — their training is O(n·16·dim), cheap at every rung) keep
    // the full-corpus path unconditionally.
    val sampleN = nlist.toLong * sampleFactor
    val train =
      if (knownCount.exists(_ > 6L * sampleN)) {
        val (m, keep) = lloydSampleKeep(knownCount.get, sampleN)
        corpus.select(col("vec"))
          .filter(pmod(xxhash64(col("vec"), lit(seed), lit(0x9E3779B9L)),
            lit(m)) < lit(keep))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      } else corpus
    for (_ <- 0 until iters) {
      val assigned = train.select(col("vec"),
        nearestCell(col("vec"), cents).as("cell"))
      val next = assigned.groupBy("cell")
        .agg(array((0 until cents(0).size).map(i =>
          avg(element_at(col("vec"), i + 1))): _*).as("c"))
        .select("cell", "c").as[(Int, Seq[Double])].collect().toMap
      cents = cents.indices.map(i => next.getOrElse(i, cents(i))).toArray
    }
    if (!(train eq corpus)) train.unpersist()
    cents
  }

  /** Sampled-Lloyd hash filter `(m, keep)`: a row trains iff its hash mod
    * `m` is below `keep`, so the expected sample is `n·keep/m`. `m` is
    * 2^20, or the smallest power of two ≥ ⌈n / sampleN⌉ when that is
    * larger: up to n = 2^20·sampleN the filter is `keep = 2^20·sampleN/n`
    * over 2^20 (≥ 1, the original rule), and past it the modulus grows
    * with n, keeping the expected sample in (sampleN/2, sampleN] instead
    * of letting a floor of `keep = 1` over 2^20 grow it linearly in n.
    */
  private[ops] def lloydSampleKeep(n: Long, sampleN: Long): (Long, Long) = {
    val need = (n + sampleN - 1) / sampleN
    var m = 1L << 20
    while (m < need) m <<= 1
    (m, m * sampleN / n)
  }

  /** Index of the nearest centroid by cosine — a native codegen
    * Expression carrying the whole centroid matrix as ONE reference
    * object (graft.functions.NearestCentroid). O(1) plan nodes at any
    * nlist, vs the round-1 literal form's nlist x dim literals which
    * blew up codegen/driver plan size past nlist ~1k. Runs once per
    * CORPUS row, the hot side; same left-fold arithmetic and ties-to-
    * highest-index argmax as before.
    */
  def nearestCell(vec: Column, cents: Array[Seq[Double]]): Column =
    org.apache.spark.sql.classic.GraftExpressionBridge.column(
      graft.functions.NearestCentroid(
        org.apache.spark.sql.classic.GraftExpressionBridge.expression(vec),
        cents.map(_.toArray)))

  /** `nprobe` nearest cells of a vector, as an array column (same
    * reference-object design; ties keep ascending index like the stable
    * array_sort it replaces).
    */
  private def probeCells(vec: Column, cents: Array[Seq[Double]], nprobe: Int): Column =
    org.apache.spark.sql.classic.GraftExpressionBridge.column(
      graft.functions.ProbeCentroids(
        org.apache.spark.sql.classic.GraftExpressionBridge.expression(vec),
        cents.map(_.toArray), nprobe))

  /** Approximate top-k via IVF: corpus rows keyed by cell, queries
    * exploded over their nprobe probe cells, equi-join on cell.
    * Trains on the fly; the index-once/probe-many deployment path is
    * [[buildIvfIndex]] + [[ivfTopKIndexed]], which this delegates to.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nlist: Int = 16, nprobe: Int = 4, iters: Int = 3,
              knownCount: Option[Long] = None): DataFrame =
    ivfTopKIndexed(queries,
      buildIvfIndex(corpus, nlist, iters, knownCount = knownCount), k, nprobe)

  /** Corpus-adaptive IVF cell count: the smallest power of two `p`
    * with `p·p ≥ n`, clamped to [minNlist, maxNlist] — i.e. ⌈√n⌉
    * rounded up the pow2 grid, computed in INTEGER arithmetic (no
    * float sqrt boundary; an external engine reproduces the same p
    * from the same count, the [[graft.ops.Embedding.sizedShingleDim]]
    * convention). √n cells is the standard IVF sizing (FAISS trains
    * 4√n–16√n): cells then hold ~√n vectors each, so a probe touches
    * `nprobe·√n` candidates — √-scale, not linear — as the corpus
    * grows. A FIXED nlist silently degrades instead: cells grow
    * linearly with the corpus and every probe re-scans them (the scale
    * ladder's x100 rung measures `sim_topk_ivf`'s fixed-16 probe cost
    * growing with corpus size; it stays fast only because the query
    * set is constant). Scale nprobe with the grid too (the registry's
    * auto row uses `max(4, nlist/4)` — a constant probed FRACTION, so
    * recall holds as nlist grows).
    */
  def sizedIvfNlist(n: Long, minNlist: Int = 2, maxNlist: Int = 1 << 20): Int = {
    require(n >= 0, "corpus count must be >= 0")
    require(Integer.bitCount(minNlist) == 1 && Integer.bitCount(maxNlist) == 1 &&
      maxNlist >= minNlist, "nlist bounds must be powers of two, min <= max")
    var p = minNlist
    while (p.toLong * p < n && p < maxNlist) p <<= 1
    p
  }

  /** Corpus-adaptive SRP plane count for the bucketed near-dup tier:
    * the smallest `p` with `targetBucket · 2^p ≥ n` — i.e.
    * ⌈log₂(n / targetBucket)⌉ computed in INTEGER arithmetic (shifts,
    * no float log boundary; an external engine reproduces the same p
    * from the same count — the [[sizedIvfNlist]] convention), clamped
    * to [minPlanes, maxPlanes]. Expected bucket occupancy is
    * n / 2^planes, so a FIXED plane count degrades quadratically as
    * the corpus grows (a bucket with m members emits m² candidate
    * rows) until `bucketCap` starts dropping whole buckets — the
    * [[graft.ops.Embedding.sizedShingleDim]] saturation disease in
    * SRP clothing. Sizing planes with the corpus keeps occupancy — and
    * with it BOTH the candidate mass and the cap semantics —
    * invariant; the per-table recall lost to finer buckets is bought
    * back with `numTables` (see [[embeddingNearDupPairs]]).
    */
  def sizedSrpPlanes(n: Long, targetBucket: Int = 32,
                     minPlanes: Int = 2, maxPlanes: Int = 30): Int = {
    require(n >= 0 && targetBucket >= 1, "need n >= 0, targetBucket >= 1")
    require(minPlanes >= 1 && maxPlanes >= minPlanes && maxPlanes <= 62,
      "need 1 <= minPlanes <= maxPlanes <= 62")
    // BigInt: targetBucket << p can pass 2^63 inside the legal
    // [minPlanes, 62] domain, and a wrapped-negative shift would
    // silently saturate the loop instead of comparing (the repo's
    // loud-exactness convention: never let wrap decide)
    var p = minPlanes
    while ((BigInt(targetBucket) << p) < n && p < maxPlanes) p += 1
    p
  }

  /** Corpus-adaptive knobs for the recall-lifted rerank tier
    * ([[ivfRerankTopK]]): `(nassign, overFetch)` from the corpus count,
    * completing the sized-grid discipline ([[sizedIvfNlist]],
    * [[sizedSrpPlanes]], `sizedShingleDim`) — the tier previously
    * shipped fixed `nassign = 2, overFetch = 4` while every other
    * capacity knob was corpus-sized.
    *
    * The rule is a MEASURED recall-target sweep, not theory (RecallCheck
    * at the sized grid, constant probed fraction 1/4, k = 5, BOTH
    * geometries — near-uniform raw embeddings and the 6-variant
    * clustered corpus; numbers in SCALE.md §rerank-knobs):
    *
    *   - small corpora need the EXTRA assignment: on coarse grids
    *     boundary misses dominate — nassign 2 measures 0.81/0.85/0.88
    *     at n = 500/500/2000 (no margin over the 0.8 gate at the
    *     bottom), nassign 3 measures 0.86/0.96/0.93.
    *   - large corpora don't: recall at fixed nassign RISES with n
    *     (finer cells concentrate candidates around the query;
    *     nassign 2 measures 0.96 at n = 2·10⁴ and 0.97 at 2·10⁵ —
    *     clustered geometry 1.0 at every size), so holding nassign = 3
    *     would pay 1.5× index rows and candidate fan-out for recall
    *     already past the target — the sized rule DROPS to 2 past
    *     `bigCorpus`, the scale-honest direction.
    *   - `overFetch = 4` is flat everywhere measured (= 2 = 8 at every
    *     SF and geometry: int8 barely reorders at 64 dims), so the
    *     sweep pins it constant.
    *
    * Integer-exact and trivially re-derivable by an external engine
    * from the same count (the sizing-rule convention).
    */
  def sizedRerankKnobs(n: Long, bigCorpus: Long = 65536L): (Int, Int) = {
    require(n >= 0 && bigCorpus >= 1, "need n >= 0, bigCorpus >= 1")
    (if (n <= bigCorpus) 3 else 2, 4)
  }

  /** A trained IVF index: the centroid matrix (small, driver-held — it
    * rides into executors inside the NearestCentroid / ProbeCentroids
    * codegen expressions) plus the cell-assigned corpus. Like
    * [[graft.ops.Dedup.MinhashIndex]], this is the index-once shape:
    * persist with [[saveIvfIndex]] (corpus bucketed by `cell`), reload
    * with [[loadIvfIndex]], and every later query batch probes without
    * re-training or re-assigning the corpus.
    */
  final case class IvfIndex(
      centroids: Array[Seq[Double]],
      corpus: DataFrame, // (neighbor_id, cv, cell, qcv)
      nlist: Int)

  /** Train centroids and assign every corpus row to its cell. `nlist`
    * records the ACTUAL centroid count — a corpus smaller than the
    * requested nlist yields fewer centroids, and the save/load
    * round-trip must be identity. The corpus is quantized ONCE here
    * (`qcv` int8 column) so the q8 probe path ([[ivfTopKIndexedQ8]])
    * scans 8× smaller candidate vectors with no per-query requantize.
    */
  def buildIvfIndex(corpus: DataFrame, nlist: Int = 16, iters: Int = 3,
                    seed: Long = 42L,
                    knownCount: Option[Long] = None): IvfIndex =
    buildIvfIndexWith(corpus,
      ivfCentroids(corpus, nlist, iters, seed, knownCount = knownCount))

  /** [[buildIvfIndex]] against PRE-TRAINED centroids — index a second
    * corpus (or a new batch) into an existing cell layout without
    * re-running Lloyd (the [[marginPairsIvf]] shared-training shape).
    */
  def buildIvfIndexWith(corpus: DataFrame,
                        cents: Array[Seq[Double]]): IvfIndex =
    IvfIndex(cents, assignCells(corpus, cents), cents.length)

  /** An (id, vec) frame as index rows under `cents`: (neighbor_id, cv,
    * cell, qcv), the vector pre-quantized once.
    */
  private def assignCells(vecs: DataFrame, cents: Array[Seq[Double]]): DataFrame =
    vecs.select(col("id").as("neighbor_id"), col("vec").as("cv"),
      nearestCell(col("vec"), cents).as("cell"),
      quantizeCol(col("vec")).as("qcv"))

  /** Write the centroid matrix as the one-row-per-cell `<prefix>_centroids`. */
  private def saveCentroids(cents: Array[Seq[Double]], spark: org.apache.spark.sql.SparkSession,
                            prefix: String): Unit = {
    import spark.implicits._
    cents.zipWithIndex.map { case (c, i) => (i, c) }.toSeq
      .toDF("cell", "centroid")
      .write.mode("overwrite").saveAsTable(s"${prefix}_centroids")
  }

  /** Read back a matrix written by [[saveCentroids]], in cell order. */
  private def loadCentroids(spark: org.apache.spark.sql.SparkSession,
                            prefix: String): Array[Seq[Double]] = {
    import spark.implicits._
    spark.table(s"${prefix}_centroids")
      .orderBy("cell").as[(Int, Seq[Double])].collect().map(_._2)
  }

  /** Persist an [[IvfIndex]] as catalog tables: `<prefix>_corpus`
    * BUCKETED BY `cell` (the probe join's key — bucket pruning keeps
    * the corpus scan in place, only the query side shuffles; at 100 TB
    * `buckets` scales with the corpus) and a tiny `<prefix>_centroids`
    * (one row per cell) that reloads into the driver-held matrix.
    */
  def saveIvfIndex(index: IvfIndex, prefix: String, buckets: Int = 16): Unit = {
    index.corpus.write.mode("overwrite")
      .bucketBy(buckets, "cell").saveAsTable(s"${prefix}_corpus")
    saveCentroids(index.centroids, index.corpus.sparkSession, prefix)
  }

  /** Load an [[IvfIndex]] persisted by [[saveIvfIndex]]. */
  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession,
                   prefix: String): IvfIndex = {
    val cents = loadCentroids(spark, prefix)
    val corpus = spark.table(s"${prefix}_corpus")
    // indexes persisted before the q8 tier lack qcv — derive it in the
    // scan projection (keeps the bucketed layout; no extra pass)
    val withQ = if (corpus.columns.contains("qcv")) corpus
                else corpus.withColumn("qcv", quantizeCol(col("cv")))
    IvfIndex(cents, withQ, cents.length)
  }

  /** Append a new vector batch to a PERSISTED IVF index without
    * retraining: each new vector is assigned to its nearest EXISTING
    * centroid (and pre-quantized) and appended into the cell-bucketed
    * corpus table — standard IVF maintenance, the vector-side companion
    * of [[graft.ops.Dedup.saveBlockIndex]]'s append mode. Only the
    * batch shuffles (into the bucket layout); the standing corpus rows
    * are untouched, and later probes see old + new rows through the
    * same bucket-pruned scan. Probing the appended index equals probing
    * an index whose corpus was assigned wholesale under the SAME
    * centroids (spec-pinned) — recall drifts only as the data
    * distribution drifts from the training sample; rebuild with
    * [[buildIvfIndex]]/[[saveIvfIndex]] when cell occupancy skews.
    */
  def appendToIvfIndex(spark: org.apache.spark.sql.SparkSession,
                       batch: DataFrame, prefix: String,
                       buckets: Int = 16): IvfIndex = {
    val idx = loadIvfIndex(spark, prefix)
    val assigned = assignCells(batch, idx.centroids)
    // an index persisted before the q8 tier has no qcv column — match
    // the standing schema rather than failing the append
    val out = if (spark.table(s"${prefix}_corpus").columns.contains("qcv"))
      assigned else assigned.drop("qcv")
    out.write.mode("append").bucketBy(buckets, "cell")
      .saveAsTable(s"${prefix}_corpus")
    loadIvfIndex(spark, prefix)
  }

  /** Probe a prebuilt/loaded index: queries explode over their `nprobe`
    * nearest cells and equi-join the cell-keyed corpus. No broadcast
    * hint — a small query batch broadcasts via AQE anyway, and a LARGE
    * batch must not be forced onto the driver; against a bucketed
    * corpus table the sort-merge fallback shuffles only the query side.
    */
  def ivfTopKIndexed(queries: DataFrame, index: IvfIndex, k: Int,
                     nprobe: Int = 4): DataFrame =
    ranked(probe(queries, Seq(col("id").as("query_id"), col("vec").as("qv")),
      index.centroids, nprobe, index.corpus, notSelf), fp64, k)

  /** The production int8 ANN tier: IVF candidate pruning + int8
    * scoring. Queries quantize on the fly (one kernel call per query
    * row), explode over their `nprobe` probe cells, and equi-join the
    * index's pre-quantized `qcv` column — so the hot candidate scan
    * reads 8× smaller vectors than [[ivfTopKIndexed]] and the join
    * inherits its exact scale shape: no broadcast hint (AQE broadcasts
    * small batches; against a cell-bucketed corpus table the SMJ
    * shuffles only the query side). Ranking deviates from the
    * full-precision IVF ranking only where quantization reorders
    * near-equal cosines (`sim_topk_q8_ivf` recall row bounds it).
    */
  def ivfTopKIndexedQ8(queries: DataFrame, index: IvfIndex, k: Int,
                       nprobe: Int = 4): DataFrame =
    ranked(probe(queries, quantizedQuery, index.centroids, nprobe,
      index.corpus.select(col("cell"), col("neighbor_id"), col("qcv")), notSelf),
      cosineQ8(col("qqv"), col("qcv")), k)

  /** Query columns of the int8 probe tiers: (query_id, qqv). */
  private def quantizedQuery: Seq[Column] =
    Seq(col("id").as("query_id"), quantizeCol(col("vec")).as("qqv"))

  /** Train-and-probe convenience for the q8 IVF tier (the index-once
    * deployment path is [[buildIvfIndex]]/[[saveIvfIndex]] +
    * [[ivfTopKIndexedQ8]]).
    */
  def ivfTopKQ8(queries: DataFrame, corpus: DataFrame, k: Int,
                nlist: Int = 16, nprobe: Int = 4, iters: Int = 3,
                knownCount: Option[Long] = None): DataFrame =
    ivfTopKIndexedQ8(queries,
      buildIvfIndex(corpus, nlist, iters, knownCount = knownCount), k, nprobe)

  /** The RECALL-LIFTED IVF tier: multi-assignment + int8 over-fetch +
    * exact re-rank, at the SAME probed fraction as [[ivfTopK]].
    *
    * Plain IVF recall at a constant probed fraction is capped by
    * cell-boundary misses: a true neighbor whose primary cell the query
    * does not probe is simply never a candidate, and no amount of
    * re-ranking recovers it. Two composed mechanisms fix the two loss
    * sources:
    *
    *   - '''dual/multi cell assignment''' (`nassign`, default 2): each
    *     CORPUS vector is indexed under its `nassign` nearest cells
    *     (FAISS's multi-assignment; the classic IVF recall lever that
    *     does NOT grow probe cost per cell — the index carries
    *     `nassign`x rows but each probe still touches `nprobe` cells of
    *     ~`nassign·n/nlist` rows, a constant factor, not a corpus
    *     factor). A boundary neighbor is now reachable through either
    *     of its two cells, squaring the per-neighbor miss probability.
    *   - '''int8 over-fetch + exact re-rank''' (`overFetch`): stage 1
    *     scores candidates with the 8x-narrower pre-quantized vectors
    *     (the [[ivfTopKIndexedQ8]] kernel) and keeps `k·overFetch` per
    *     query; stage 2 re-scores ONLY those `k·overFetch` rows at full
    *     precision through keyed joins ([[rpRerankTopK]]'s re-rank
    *     tail), so quantization reordering of near-equal cosines is
    *     absorbed by the over-fetch margin and the final ranking within
    *     the candidate set is EXACT.
    *
    * Scale shape (the 100 TB contract): the candidate fan-out carries
    * only `(cell, neighbor_id, int8vec)` — never full-precision vectors
    * — and collapses through a NARROW `(query_id, neighbor_id, q8)`
    * groupBy (multi-assignment means a pair can collide in up to
    * `min(nassign, nprobe)` shared cells; the groupBy dedups BEFORE the
    * window, so the rank never double-counts a neighbor). Full-dim
    * vectors travel only for the `k·overFetch` survivors per query.
    * Measured on the near-uniform embeddings table (the worst-case
    * geometry) at the sized grid, constant probed fraction 1/4
    * (RecallCheck sweep): recall@5 = 0.86/0.96/0.93 across the three
    * SFs at nassign=3 (0.81-0.88 at nassign=2) vs 0.51-0.76 for
    * single-assignment [[ivfTopK]] — the `sim_topk_ivf_rerank` oracle
    * row pins ≥ 0.8.
    */
  def ivfRerankTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                    nlist: Int = 16, nprobe: Int = 4, nassign: Int = 2,
                    overFetch: Int = 4, iters: Int = 3,
                    seed: Long = 42L,
                    knownCount: Option[Long] = None): DataFrame =
    ivfTopKIndexedRerank(queries,
      buildIvfRerankIndex(corpus, nlist, nassign, iters, seed, knownCount),
      k, nprobe, overFetch)

  /** The rerank tier's index-once shape: the int8 MULTI-ASSIGNED cell
    * table (what stage-1 probes scan — `nassign` narrow rows per
    * vector, no full-precision columns) and the full-precision vector
    * table (what stage-2 point-lookups — ONE row per vector), split
    * because they have different join keys and therefore different
    * bucketing: [[saveIvfRerankIndex]] buckets `cells` by `cell` (the
    * probe equi-join) and `vectors` by `neighbor_id` (the re-rank
    * lookup), so a standing index serves both joins with only the
    * (small) candidate side shuffling. The [[IvfIndex]] analogue for
    * [[ivfTopKIndexedRerank]].
    */
  final case class IvfRerankIndex(
      centroids: Array[Seq[Double]],
      cells: DataFrame, // (neighbor_id, cell, qcv) — nassign rows/vector
      vectors: DataFrame, // (neighbor_id, cv) — one row/vector
      nlist: Int, nassign: Int)

  /** Train centroids and multi-assign every corpus vector to its
    * `nassign` nearest cells. Like [[buildIvfIndex]], `nlist` records
    * the ACTUAL centroid count.
    */
  def buildIvfRerankIndex(corpus: DataFrame, nlist: Int = 16,
                          nassign: Int = 2, iters: Int = 3,
                          seed: Long = 42L,
                          knownCount: Option[Long] = None): IvfRerankIndex = {
    require(nassign >= 1, "need nassign >= 1")
    val cents = ivfCentroids(corpus, nlist, iters, seed, knownCount = knownCount)
    IvfRerankIndex(cents,
      corpus.select(col("id").as("neighbor_id"),
        quantizeCol(col("vec")).as("qcv"),
        explode(probeCells(col("vec"), cents, nassign)).as("cell")),
      corpus.select(col("id").as("neighbor_id"), col("vec").as("cv")),
      cents.length, nassign)
  }

  /** Persist an [[IvfRerankIndex]] as catalog tables:
    * `<prefix>_cells` bucketed by `cell`, `<prefix>_vectors` bucketed
    * by `neighbor_id`, `<prefix>_centroids` (one row per cell) plus a
    * 1-row `<prefix>_meta` carrying `nassign` so a loaded index always
    * reports the geometry it was built with.
    */
  def saveIvfRerankIndex(index: IvfRerankIndex, prefix: String,
                         buckets: Int = 16): Unit = {
    val spark = index.cells.sparkSession
    import spark.implicits._
    index.cells.write.mode("overwrite")
      .bucketBy(buckets, "cell").saveAsTable(s"${prefix}_cells")
    index.vectors.write.mode("overwrite")
      .bucketBy(buckets, "neighbor_id").saveAsTable(s"${prefix}_vectors")
    saveCentroids(index.centroids, spark, prefix)
    Seq(index.nassign).toDF("nassign")
      .write.mode("overwrite").saveAsTable(s"${prefix}_meta")
  }

  /** PRODUCTIZED versioned publish of an [[IvfRerankIndex]] (round 12,
    * VERDICT r11 item 5 — the versioned-prefix refresh contract with
    * the pointer built in, so a deployment doesn't invent one): writes
    * the index under `<basePrefix>_v<N>` (N = one past the manifest's
    * max, 1 for a fresh base) and THEN appends one `(version, prefix)`
    * row to `<basePrefix>_manifest`. The pointer append is LAST and
    * atomic at the row level, so a crash anywhere during the four
    * index-table writes leaves the manifest untouched — still
    * resolving the previous complete version — and a half-written
    * `_v<N>` is simply superseded by the next publish. Returns the
    * versioned prefix it wrote.
    *
    * Refresh is then: retrain → `saveIvfRerankIndexVersioned` → new
    * streams [[loadLatestIvfRerankIndex]] the new version; running
    * streams keep their loaded version untouched (the spec-pinned
    * versioned-prefix semantics — see `StreamingSimilarity`'s INDEX
    * REFRESH note).
    */
  def saveIvfRerankIndexVersioned(index: IvfRerankIndex, basePrefix: String,
                                  buckets: Int = 16): String = {
    val spark = index.cells.sparkSession
    import spark.implicits._
    val manifest = s"${basePrefix}_manifest"
    val next: Long =
      if (spark.catalog.tableExists(manifest)) {
        val m = spark.table(manifest).agg(max(col("version"))).head()
        if (m.isNullAt(0)) 1L else m.getLong(0) + 1L
      } else 1L
    val prefix = s"${basePrefix}_v$next"
    saveIvfRerankIndex(index, prefix, buckets)
    Seq((next, prefix)).toDF("version", "prefix")
      .write.mode("append").saveAsTable(manifest)
    prefix
  }

  /** Resolve `<basePrefix>_manifest`'s highest version and load it —
    * the read side of [[saveIvfRerankIndexVersioned]].
    */
  def loadLatestIvfRerankIndex(spark: org.apache.spark.sql.SparkSession,
                               basePrefix: String): IvfRerankIndex = {
    val latest = spark.table(s"${basePrefix}_manifest")
      .orderBy(col("version").desc).head()
    loadIvfRerankIndex(spark, latest.getString(1))
  }

  /** Load an [[IvfRerankIndex]] persisted by [[saveIvfRerankIndex]]. */
  def loadIvfRerankIndex(spark: org.apache.spark.sql.SparkSession,
                         prefix: String): IvfRerankIndex = {
    val cents = loadCentroids(spark, prefix)
    IvfRerankIndex(cents,
      spark.table(s"${prefix}_cells"),
      spark.table(s"${prefix}_vectors"),
      cents.length,
      spark.table(s"${prefix}_meta").head().getInt(0))
  }

  /** Probe a prebuilt/loaded [[IvfRerankIndex]]: stage-1 int8 scan of
    * the probed cells with the narrow pair dedup, stage-2 exact re-rank
    * of the `k·overFetch` survivors against the vectors table. Against
    * a saved index both heavy sides stay in place (cells bucketed by
    * the probe key, vectors by the lookup key) — only query rows and
    * the survivor frame shuffle. Same no-broadcast-hint contract as
    * [[ivfTopKIndexed]].
    */
  def ivfTopKIndexedRerank(queries: DataFrame, index: IvfRerankIndex,
                           k: Int, nprobe: Int = 4,
                           overFetch: Int = 4): DataFrame = {
    require(overFetch >= 1, "need overFetch >= 1")
    val cand = probe(queries, quantizedQuery, index.centroids, nprobe, index.cells, notSelf)
      .withColumn("q8", cosineQ8(col("qqv"), col("qcv")))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(max(col("q8")).as("q8"))
    val over = TopK.rank(cand, Seq(col("query_id")),
      Seq(col("q8").desc, col("neighbor_id")), k * overFetch, "r")
    rerankExact(over, queries, index.vectors, k)
  }

  /** Exact embedding-cosine pairs above `tau` — the brute-force baseline
    * of the embedding-space dedup tier (all-pairs by definition; the
    * corpus-scale path is the SRP-bucketed [[embeddingNearDupPairs]],
    * which scores only same-bucket candidates). One codegen cosine per
    * pair, pair order canonicalized id_a < id_b.
    */
  def exactCosinePairs(vecs: DataFrame, tau: Double): DataFrame =
    vecs.select(col("id").as("id_a"), col("vec").as("va"))
      .crossJoin(vecs.select(col("id").as("id_b"), col("vec").as("vb")))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", cosine(col("va"), col("vb")))
      .filter(col("cosine") >= tau)
      .select(col("id_a"), col("id_b"), col("cosine"))

  /** Embedding-cosine near-duplicate pairs above `tau` — the fifth dedup
    * tier (embedding-space). Brute force within multi-table SRP buckets;
    * at tau ≥ 0.95 (θ ≤ 18°) eight 6-bit tables miss a true pair with
    * p ≈ (1-(1-18/180)^6)^8 ≈ 2%.
    *
    * Scale dials: a bucket with m members emits m² candidate rows, and
    * expected bucket size is n / 2^planesPerTable — so `planesPerTable`
    * must GROW with the corpus (≈ log2(n / target-bucket-size); the
    * recall lost per table is bought back with more tables).
    * `bucketCap` is the backstop for degenerate clustering: buckets
    * over the cap are dropped from the join (a pair is lost only if
    * every table buckets it over-cap — mass-identical embeddings, which
    * exact dedup upstream removes); surfaced pairs keep exact cosines.
    */
  def embeddingNearDupPairs(vecs: DataFrame, tau: Double,
                            numTables: Int = 8, planesPerTable: Int = 6,
                            dim: Int = 64, bucketCap: Int = 65536): DataFrame = {
    val all = tableBuckets(vecs, "id", col("vec"), numTables, planesPerTable, dim)
    val v =
      if (bucketCap <= 0) all
      else all.join(
        all.groupBy(col("tbl"), col("bucket"))
          .agg(count(lit(1)).as("m_")).filter(col("m_") > bucketCap)
          .select(col("tbl"), col("bucket")),
        Seq("tbl", "bucket"), "left_anti")
    // cosine BEFORE the pair dedup: a pair surfaced by several tables
    // re-evaluates the (codegen, 64-FMA) cosine once per table, which
    // is noise next to what the old order shuffled — dropDuplicates
    // first meant every candidate carried BOTH 64-dim vectors (~1 KB/
    // row) through the exchange; scoring and tau-filtering scan-side
    // leaves only true pairs, as narrow (id, id, double) rows, for the
    // dedup shuffle (measured 10.2 -> 4.5 s child-median on the
    // sized-planes row at sf0.1). Same output: exact cosine is
    // per-pair deterministic, so first-per-pair == any-per-pair.
    v.as("a").join(v.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        cosine(col("a.vec"), col("b.vec")).as("cosine"))
      .filter(col("cosine") >= tau)
      .dropDuplicates("id_a", "id_b")
  }

  /** Margin-based cross-set pair mining (Artetxe & Schwenk 2019, the
    * LASER bitext-mining score): a candidate pair (x ∈ A, y ∈ B) is
    * scored by its cosine RELATIVE to each side's local neighborhood
    * density — `margin = cos(x,y) / ((meanK(x→B) + meanK(y→A)) / 2)`,
    * the "ratio" variant — which suppresses hub vectors that are close
    * to everything. Each A row surfaces its best B partner when the
    * margin clears `minMargin`.
    *
    * Determinism: the k-NN means fold in RANK order (one
    * `sum(when(rank = r))` term per r, added in fixed textual order),
    * never via `avg` — a floating sum in partition order would differ
    * run to run and engine to engine. Cosines/ranks are the
    * [[bruteForceTopK]] contract (ties break to the lower neighbor id).
    *
    * This is the exact all-pairs baseline (the oracle role); at scale,
    * over-fetch candidates from [[ivfTopKIndexed]] per direction and
    * feed the same margin arithmetic — the scored pair stream and the
    * two mean tables compose from any top-k source. Requires
    * `|A| >= k` and `|B| >= k` (the mining score is undefined on
    * thinner sides). The scored cross product feeds three consumers, so
    * it persists eagerly — at the oracle scale that is the point; the
    * IVF composition replaces it outright.
    */
  def marginPairs(a: DataFrame, b: DataFrame, k: Int = 4,
                  minMargin: Double = 1.0,
                  /** the handle-less wrapper defaults to NO cache — a
                    * cross-product-sized persist with no release is the
                    * leak class the QueryDefs shed this round, and the
                    * scored frame's consumers dedupe their shared
                    * exchanges under AQE stage reuse within one action.
                    * Callers spanning multiple actions opt in via
                    * [[marginPairsRun]], which owns the unpersist.
                    */
                  persistScored: Boolean = false): DataFrame =
    marginPairsRun(a, b, k, minMargin, persistScored).pairs

  /** [[marginPairs]] with ownership of its scored-cross-product cache:
    * embedding callers materialize `pairs` (one best-partner row per
    * query — far smaller than the cache backing it), then `release()`.
    */
  final case class MarginRun(pairs: DataFrame, release: () => Unit)

  /** See [[marginPairs]]. */
  def marginPairsRun(a: DataFrame, b: DataFrame, k: Int = 4,
                     minMargin: Double = 1.0,
                     persistScored: Boolean = true): MarginRun = {
    require(k > 0, "k must be positive")
    val scored0 = a.select(col("id").as("qid"), col("vec").as("qv"))
      .crossJoin(b.select(col("id").as("nid"), col("vec").as("nv")))
      .withColumn("cosine", cosine(col("qv"), col("nv")))
      .select(col("qid"), col("nid"), col("cosine"))
    val scored = if (persistScored) Caches.eager(scored0) else scored0
    def ranked(part: Column, order: Column, keyName: String): DataFrame =
      TopK.rank(scored, Seq(part), Seq(col("cosine").desc, order), k)
        .select(part.as(keyName), col("rank"), col("cosine"))
    val mx = rankedMean(ranked(col("qid"), col("nid"), "qid"), k, "qid", "mean_q")
    val my = rankedMean(ranked(col("nid"), col("qid"), "nid"), k, "nid", "mean_n")
    val pairs = bestByMargin(scored, mx, my, minMargin)
    MarginRun(pairs, () => { if (persistScored) scored.unpersist(); () })
  }

  /** The IVF scale tier of [[marginPairs]]: identical rank-ordered
    * margin arithmetic, but the candidate pair stream and both k-NN
    * neighborhood means come from [[ivfTopKIndexed]] probes instead of
    * the |A|x|B| cross product — each direction over-fetches
    * `k + overfetch` neighbors (the margin re-orders candidates by
    * neighborhood density, so the best-margin partner is not always the
    * best-cosine one; the over-fetch buys back that reordering). Output
    * schema matches [[marginPairs]]; the result is approximate exactly
    * where the IVF probe is (cell-local candidates, recall bounded by
    * the `margin_pairs_ivf` oracle row).
    *
    * Scale shape: two cell-keyed equi-joins (no cross join, no
    * broadcast hint — [[ivfTopKIndexed]]'s contract), per-query windows
    * over candidate lists bounded by `nprobe` cells, and two
    * `|A|`-/`|B|`-row mean tables. Nothing is cached — the candidate
    * frames each feed one mean and (A-side) the pair stream, and their
    * shared subtrees dedupe under AQE stage reuse within the action.
    * Ids must be distinct across A and B (the probe drops
    * identical-id pairs, the index contract). A query whose probed
    * cells yield fewer than `k` neighbors carries no mean and is
    * dropped — no neighborhood evidence, no mining score.
    */
  def marginPairsIvf(a: DataFrame, b: DataFrame, k: Int = 4,
                     minMargin: Double = 1.0, overfetch: Int = 4,
                     nlist: Int = 16, nprobe: Int = 4,
                     iters: Int = 3): DataFrame = {
    require(k > 0 && overfetch >= 0, "k must be positive, overfetch >= 0")
    // ONE centroid training over both sides: the cells only partition
    // the shared embedding space, so either direction probes them
    // equally well, and the second Lloyd run (iters more driver-side
    // aggregates) buys nothing
    val cents = ivfCentroids(a.unionByName(b), nlist, iters)
    val idxB = buildIvfIndexWith(b, cents)
    val idxA = buildIvfIndexWith(a, cents)
    val candAB = ivfTopKIndexed(a, idxB, k + overfetch, nprobe)
    // the B→A direction only has to cover B rows that actually appear
    // as candidates — |A|·(k+overfetch) at most, not |B|. In the
    // standing deployment (small new batch A mined against a corpus B)
    // that is the difference between probing a batch-sized slice and
    // probing the whole corpus; the mean values are unchanged (each
    // covered row still ranks over ALL of A). At oracle scale (|A| ≈
    // |B|) the candidate-id derivation re-runs the A-probe once —
    // measured well under a second — a cost the corpus-scale saving
    // dwarfs; nothing is cached (the frame is bounded but a lazy
    // persist would outlive the action, the leak class this round
    // removed elsewhere).
    val needed = candAB.select(col("neighbor_id").as("id")).distinct()
    val candBA = ivfTopKIndexed(b.join(needed, Seq("id"), "left_semi"),
      idxA, k + overfetch, nprobe)
    val mx = rankedMean(
      candAB.select(col("query_id").as("qid"), col("rank"), col("cosine")),
      k, "qid", "mean_q")
    val my = rankedMean(
      candBA.select(col("query_id").as("nid"), col("rank"), col("cosine")),
      k, "nid", "mean_n")
    val pairs = candAB.select(col("query_id").as("qid"),
      col("neighbor_id").as("nid"), col("cosine"))
    bestByMargin(pairs, mx, my, minMargin)
  }

  /** Mean of the top-`k` cosines of a ranked candidate frame
    * (`keyName`, rank, cosine), folded in RANK order — one
    * `sum(when(rank = r))` term per r in fixed textual order, never
    * `avg`, so the double is engine- and partition-order-identical
    * (the [[marginPairs]] determinism contract). A key with fewer than
    * `k` ranked rows folds a null term and yields a NULL mean.
    */
  private def rankedMean(cand: DataFrame, k: Int, keyName: String,
                         meanName: String): DataFrame = {
    val foldSum = (1 to k).map(r =>
      sum(when(col("rank") === r, col("cosine")))).reduce(_ + _)
    cand.filter(col("rank") <= k)
      .groupBy(col(keyName))
      .agg((foldSum / lit(k.toDouble)).as(meanName))
  }

  /** The shared mining tail of [[marginPairs]]/[[marginPairsIvf]]:
    * attach both neighborhood means to the candidate (qid, nid, cosine)
    * stream, score the ratio margin, and keep each query's best partner
    * above `minMargin`. NULL margins (a side without a full-k
    * neighborhood) never win: the window orders nulls last and the
    * final predicate drops them.
    */
  private def bestByMargin(pairs: DataFrame, mx: DataFrame, my: DataFrame,
                           minMargin: Double): DataFrame = {
    val scored = pairs.join(mx, Seq("qid")).join(my, Seq("nid"))
      .withColumn("margin",
        col("cosine") / ((col("mean_q") + col("mean_n")) / lit(2.0)))
    TopK.rank(scored, Seq(col("qid")), Seq(col("margin").desc, col("nid")), 1, "__r")
      .filter(col("margin") >= minMargin)
      .select(col("qid").as("query_id"), col("nid").as("neighbor_id"),
        col("cosine"), col("margin"))
  }
}
