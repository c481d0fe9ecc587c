package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Semantic clustering over an embedding column (`id`, `vec double[]`) —
  * the corpus-sharding step of a training-data pipeline: route documents
  * to semantically coherent shards for domain mixing, curriculum
  * ordering, or per-cluster quota sampling.
  *
  * Two tiers, both riding the IVF machinery ([[Similarity.ivfCentroids]]
  * / `graft.functions.NearestCentroid`):
  *
  *   - [[assign]]: nearest-centroid partition against a FIXED centroid
  *     matrix. One codegen kernel call per row, the matrix rides as one
  *     reference object (the moral broadcast) — zero shuffles, so at
  *     100 TB it is a pure map stage whose output can be written
  *     partitioned by `cluster`.
  *   - [[kmeans]]: Lloyd's rounds to LEARN the centroids (seeded sample
  *     init + distributed assign/mean iterations). Assignment is by
  *     cosine and the update is the plain mean — cosine is
  *     scale-invariant, so scoring against the mean equals scoring
  *     against the normalized mean (the spherical k-means update,
  *     modulo per-vector norm weighting).
  *
  * Reference scope note: clustering is an LLM-pipeline extension beyond
  * Nike-Inc/spark-expectations (which has no vector ops); the oracle
  * queries pin the kernel arithmetic (left-fold cosine, argmax ties to
  * highest index) against DuckDB directly.
  */
object Clustering {

  /** Deterministic seed centroids: the vectors of the `k` smallest ids.
    * Driver collect bounded by k (same class as IVF's nlist collect).
    */
  def seedCentroids(vecs: DataFrame, k: Int): Array[Seq[Double]] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    vecs.orderBy(col("id")).limit(k).select("vec").as[Seq[Double]].collect()
  }

  /** Nearest-centroid assignment: (id, cluster) — argmax cosine, ties to
    * the highest index (the CentroidKernel contract, oracle-pinned by
    * `embed_partition`). Shuffle-free map stage.
    */
  def assign(vecs: DataFrame, cents: Array[Seq[Double]]): DataFrame =
    vecs.select(col("id"),
      Similarity.nearestCell(col("vec"), cents).as("cluster"))

  /** [[assign]] plus the cosine to the assigned centroid, via an
    * equi-join against the k-row centroid table (AQE broadcasts it —
    * no hint; the scaling side is `vecs`).
    */
  def assignScored(vecs: DataFrame, cents: Array[Seq[Double]]): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val centsDf = cents.zipWithIndex
      .map { case (c, i) => (i, c) }.toSeq.toDF("cluster", "cent")
    vecs.select(col("id"), col("vec"),
        Similarity.nearestCell(col("vec"), cents).as("cluster"))
      .join(centsDf, Seq("cluster"))
      .select(col("id"), col("cluster"),
        Similarity.cosine(col("vec"), col("cent")).as("cosine"))
  }

  /** Trained centroids; `k` is how many there are, which is fewer than
    * requested when the corpus has fewer distinct seed vectors.
    */
  final case class KmeansModel(centroids: Array[Seq[Double]]) {
    def k: Int = centroids.length
  }

  /** Lloyd's k-means over (id, vec): seeded deterministic sample init,
    * `iters` distributed assign/mean rounds (delegates to
    * [[Similarity.ivfCentroids]] — groupBy(cell) mean, no mapPartitions,
    * centroid table never exceeds k×dim doubles on the driver).
    */
  def kmeans(vecs: DataFrame, k: Int, iters: Int = 3,
             seed: Long = 42L): KmeansModel =
    KmeansModel(Similarity.ivfCentroids(vecs, k, iters, seed))

  /** Per-cluster cardinality and mean cosine-to-centroid — the shard
    * quality report (a collapsed shard shows up as n≈0, an incoherent
    * one as low mean_cos). One shuffle on the int cluster key.
    */
  def clusterStats(vecs: DataFrame, cents: Array[Seq[Double]]): DataFrame =
    assignScored(vecs, cents)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"), avg(col("cosine")).as("mean_cos"))

  /** Corpus mean cosine-to-assigned-centroid — the (scale-invariant)
    * spherical k-means objective; used to compare centroid sets.
    */
  def meanCosine(vecs: DataFrame, cents: Array[Seq[Double]]): Double =
    assignScored(vecs, cents).agg(avg(col("cosine"))).head().getDouble(0)

  /** SemDeDup (Abbas et al. 2023): cluster the embedding space, then
    * prune near-duplicate pairs WITHIN each cluster only — the
    * clustering is what makes semantic dedup tractable, because the
    * pair search never leaves a cell. Greedy lowest-id survivor: a row
    * is dropped iff some LOWER id in its cluster sits within `tau`
    * cosine (deterministic, order-free — no dependence on a scan
    * order). Output (id, cluster, kept).
    *
    * Scale shape: assignment is a shuffle-free map ([[assign]]); the
    * pair search self-joins on the cluster key, so candidate volume is
    * Σ m_c² — bounded by making `k` GROW with the corpus (SemDeDup uses
    * ~100k clusters at LAION scale; target m ≈ 1-10k rows/cell) —
    * never |n|². `clusterCap` backstops degenerate clustering the same
    * way [[graft.ops.Similarity.embeddingNearDupPairs]]'s bucketCap
    * does: over-cap clusters skip pairing (their rows are all KEPT,
    * the conservative direction) rather than detonating a cell-local
    * quadratic.
    */
  def semanticDedup(vecs: DataFrame, k: Int, tau: Double,
                    cents: Option[Array[Seq[Double]]] = None,
                    clusterCap: Int = 65536): DataFrame = {
    val cs = cents.getOrElse(seedCentroids(vecs, k))
    val a = vecs.select(col("id"),
      Similarity.nearestCell(col("vec"), cs).as("cluster"), col("vec"))
    val small =
      if (clusterCap <= 0) a
      else a.join(
        a.groupBy(col("cluster")).agg(count(lit(1)).as("m_"))
          .filter(col("m_") > clusterCap).select(col("cluster")),
        Seq("cluster"), "left_anti")
    val dup = small.as("x").join(small.as("y"),
        col("x.cluster") === col("y.cluster") && col("x.id") < col("y.id"))
      .filter(Similarity.cosine(col("x.vec"), col("y.vec")) >= tau)
      .select(col("y.id").as("id")).distinct()
    a.join(dup.withColumn("__dup", lit(1)), Seq("id"), "left")
      .select(col("id"), col("cluster"), col("__dup").isNull.as("kept"))
  }

  /** Persist the KEPT survivor set of a [[semanticDedup]] run (or seed
    * an empty index from any assigned frame) as a cluster-bucketed
    * table — the probe side of [[semanticDedupIncremental]], same
    * index-once contract as [[graft.ops.Dedup.saveSpanIndex]]: later
    * batches pair against cell-mates through the bucketed layout
    * without the standing corpus shuffling.
    */
  def saveSemanticIndex(vecs: DataFrame, cents: Array[Seq[Double]],
                        table: String, buckets: Int = 16,
                        append: Boolean = false): Unit =
    vecs.select(col("id"),
        Similarity.nearestCell(col("vec"), cents).as("cluster"), col("vec"))
      .write.mode(if (append) "append" else "overwrite")
      .bucketBy(buckets, "cluster").saveAsTable(table)

  /** Incremental SemDeDup: dedup a NEW batch against the persisted
    * survivor index AND within itself, under FIXED centroids (retrain
    * when the distribution drifts, exactly like IVF). A batch row is
    * dropped iff some index row shares its cell within `tau`, or some
    * LOWER-id batch row does — so with batch ids above all index ids
    * this equals [[semanticDedup]] over (index ∪ batch) restricted to
    * the batch (spec-pinned), the same contract every incremental tier
    * carries. Only the batch assigns and shuffles; survivors append to
    * the index via [[saveSemanticIndex]] (caller's move, AFTER
    * consuming the result — idempotent replay).
    */
  def semanticDedupIncremental(batch: DataFrame, cents: Array[Seq[Double]],
                               index: DataFrame, tau: Double,
                               clusterCap: Int = 65536): DataFrame = {
    val b = batch.select(col("id"),
      Similarity.nearestCell(col("vec"), cents).as("cluster"), col("vec"))
    // the cap counts the INDEX side (the corpus-scaling one); an
    // over-cap cell skips pairing entirely — batch rows there are kept
    val capped =
      if (clusterCap <= 0) index
      else index.join(
        index.groupBy(col("cluster")).agg(count(lit(1)).as("m_"))
          .filter(col("m_") > clusterCap).select(col("cluster")),
        Seq("cluster"), "left_anti")
    // id inequality makes crash-replay idempotent: if a run dies AFTER
    // saveSemanticIndex(append) but BEFORE the sink commit, the
    // replayed batch joins an index already containing its own
    // survivors — without the guard every such row self-matches
    // (cosine = 1 >= tau) and the replay silently drops the kept
    // corpus. Ids are unique corpus-wide, so the guard is free in
    // normal operation.
    val dupVsIndex = b.as("x")
      .join(capped.as("y"), col("x.cluster") === col("y.cluster") &&
        col("x.id") =!= col("y.id"))
      .filter(Similarity.cosine(col("x.vec"), col("y.vec")) >= tau)
      .select(col("x.id").as("id")).distinct()
    val dupInBatch = b.as("x").join(b.as("y"),
        col("x.cluster") === col("y.cluster") && col("x.id") < col("y.id"))
      .filter(Similarity.cosine(col("x.vec"), col("y.vec")) >= tau)
      .select(col("y.id").as("id")).distinct()
    b.join(dupVsIndex.unionByName(dupInBatch).distinct()
        .withColumn("__dup", lit(1)), Seq("id"), "left")
      .select(col("id"), col("cluster"), col("__dup").isNull.as("kept"))
  }
}
