package graft.streaming

import graft.ops.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming near-dup detection: continuous ingestion deduped against a
  * persisted corpus index, the production shape for training-data
  * pipelines — documents arrive as a stream, and each micro-batch is
  * checked against the corpus WITHOUT re-reading or re-shingling it.
  *
  * Built on `foreachBatch` + [[Dedup.minhashLshIncremental]]: the
  * corpus-side index tables ([[Dedup.MinhashIndex]]) stay fixed (at
  * 100 TB: parquet/bucketed by their join keys `s` and `(band, bh)`, so
  * only the micro-batch side shuffles), while each batch is shingled,
  * banded, and verified with exact Jaccard inside one micro-batch
  * transaction. Batch-internal duplicates are intentionally not emitted
  * (run [[Dedup.minhashLshPairs]] on the batch in `onBatch` if needed);
  * checkpointing gives exactly-once batch ids for downstream sinks.
  */
object StreamingDedup {

  /** Start the stream: for every micro-batch, `onBatch` receives the
    * (id_new, id_corpus, jaccard) matches of that batch against the
    * index plus the batch id — write them to a table, drop matched ids,
    * or alert. The caller owns the sink decision, like the reference's
    * foreachBatch-style stats streaming.
    */
  def start(stream: DataFrame, idCol: String, textCol: String,
            index: Dedup.MinhashIndex, tau: Double = 0.8,
            checkpoint: Option[String] = None,
            queryName: String = "graft_streaming_dedup")
           (onBatch: (DataFrame, Long) => Unit): StreamingQuery = {
    MicroBatch.start(stream, queryName, checkpoint) { (batch, batchId) =>
      // per-batch frames are micro-batch-sized: skip index persistence
      // (the corpus-side tables are already materialized in `index`)
      onBatch(
        Dedup.minhashLshIncremental(batch, idCol, textCol, index, tau,
          persistIndex = false),
        batchId)
    }
  }

  /** [[start]] for the hashed sparse-cosine tier: every micro-batch
    * probes a standing [[graft.ops.Embedding.ShingleTfIndex]] with
    * [[graft.ops.Embedding.hashedShingleNearDupIncremental]] — the
    * integer-exact cosine gate, dfCap fixed on the index side so every
    * batch (and any replay) meets the same candidate set. `onBatch`
    * receives (id_new, id_corpus, dot, norm_new, norm_corpus) rows.
    */
  def startHashedNearDup(stream: DataFrame, idCol: String, textCol: String,
                         index: graft.ops.Embedding.ShingleTfIndex,
                         tauSqNum: Long = 81L, tauSqDen: Long = 100L,
                         dfCap: Long = 1000L,
                         checkpoint: Option[String] = None,
                         queryName: String = "graft_streaming_hashed_neardup")
                        (onBatch: (DataFrame, Long) => Unit): StreamingQuery = {
    MicroBatch.start(stream, queryName, checkpoint) { (batch, batchId) =>
      // micro-batch-sized frames: no batch-side persist; the batch
      // shingles with the index's own (dim, k) — see ShingleTfIndex
      onBatch(
        graft.ops.Embedding.hashedShingleNearDupIncremental(
          batch, index, idCol, textCol, tauSqNum, tauSqDen,
          dfCap, persistBatch = false),
        batchId)
    }
  }

  /** Running (doc_id, cluster_id) duplicate-cluster assignment maintained
    * across micro-batches. `assignment` is always the latest, eagerly
    * materialized frame — safe to read from any thread while the stream
    * runs.
    */
  final class ClusterState private[streaming] (initial: DataFrame) {
    @volatile private var current: DataFrame = initial
    def assignment: DataFrame = current
    private[streaming] def set(next: DataFrame): Unit = current = next
  }

  /** [[start]] plus live cluster maintenance: each micro-batch's matches
    * are folded into a running assignment with
    * [[Dedup.updateComponents]], so duplicate CLUSTERS stay transitive
    * across batches (batch-1 and batch-2 docs matching the same corpus
    * doc land in one cluster — pairwise match lists alone lose that).
    * Per-batch cost is ∝ |assignment| + |batch matches|, never the match
    * history; the assignment is truncated with an eager
    * `localCheckpoint` each batch so its plan never deepens.
    *
    * The state is driver-memory (match the contract by seeding `initial`
    * from a persisted assignment table on restart; write `assignment`
    * back out in `onBatch` for durability — the caller owns the sink,
    * as in [[start]]).
    */
  def startWithClusters(stream: DataFrame, idCol: String, textCol: String,
                        index: Dedup.MinhashIndex, tau: Double = 0.8,
                        initial: Option[DataFrame] = None,
                        checkpoint: Option[String] = None,
                        queryName: String = "graft_streaming_dedup_clusters")
                       (onBatch: (DataFrame, DataFrame, Long) => Unit)
      : (StreamingQuery, ClusterState) = {
    import org.apache.spark.sql.functions._
    val empty = stream.sparkSession.emptyDataFrame
      .select(lit(0L).as("doc_id"), lit(0L).as("cluster_id"))
    val state = new ClusterState(initial.getOrElse(empty))
    val q = start(stream, idCol, textCol, index, tau, checkpoint, queryName) {
      (matches, batchId) =>
        val updated = Dedup.updateComponents(state.assignment, matches,
          aCol = "id_new", bCol = "id_corpus").localCheckpoint(true)
        state.set(updated)
        onBatch(matches, updated, batchId)
    }
    (q, state)
  }

  /** Streaming span-level dedup: each micro-batch's blocks are deduped
    * within the batch and against the standing seen-block table
    * ([[Dedup.blockDedupIncremental]]), the surviving reassembled
    * documents go to `onBatch`, and the batch's new block hashes are
    * appended to the index table bucket-aligned — so folding the stream
    * equals the one-shot [[Dedup.blockDedup]] over everything ingested
    * (in arrival order). The index table is the only state; restarts
    * resume against it via checkpointed batch ids.
    */
  /** Streaming tier-6 substring dedup: each micro-batch's sampled span
    * fingerprints are checked against the persisted span index
    * ([[Dedup.saveSpanIndex]]'s bucketed table) and then appended to
    * it, so every batch sees all earlier ingestion. `onBatch` receives
    * the (id_new, id_corpus, n_shared) matches; folding the stream
    * equals running [[Dedup.spanPairsIncremental]] batch-by-batch
    * against a growing corpus (spec-pinned). Same delivery contract as
    * [[startBlockDedup]]: matches are delivered BEFORE the index
    * append, so a failed sink replays against the unchanged index.
    */
  def startSpanDedup(stream: DataFrame, idCol: String, textCol: String,
                     indexTable: String, k: Int = 40, sel: String = "0",
                     minShared: Int = 2, dfCap: Int = 256,
                     checkpoint: Option[String] = None,
                     queryName: String = "graft_streaming_span_dedup")
                    (onBatch: (DataFrame, Long) => Unit): StreamingQuery = {
    MicroBatch.start(stream, queryName, checkpoint) { (batch, batchId) =>
      val spark = batch.sparkSession
      val matches = Dedup.spanPairsIncremental(batch, idCol, textCol,
        spark.table(indexTable), k, sel, minShared, dfCap,
        persistIndex = false)
      onBatch(matches, batchId)
      Dedup.saveSpanIndex(batch, idCol, textCol, indexTable, k, sel,
        append = true)
    }
  }

  def startBlockDedup(stream: DataFrame, idCol: String, textCol: String,
                      indexTable: String, blockSize: Int = 64,
                      checkpoint: Option[String] = None,
                      queryName: String = "graft_streaming_block_dedup")
                     (onBatch: (DataFrame, Long) => Unit): StreamingQuery = {
    MicroBatch.start(stream, queryName, checkpoint) { (batch, batchId) =>
      val spark = batch.sparkSession
      val seen = spark.table(indexTable)
      val res = Dedup.blockDedupIncremental(batch, idCol, textCol, seen,
        blockSize)
      // deliver BEFORE appending the delta: if the sink fails the
      // batch replays against the unchanged index (idempotent-first)
      onBatch(res.deduped, batchId)
      Dedup.saveBlockIndex(res.newBlocks, indexTable, append = true)
    }
  }

  /** Streaming SemDeDup (tier 5, embedding space): every micro-batch of
    * (id, vec double[]) rows dedups against the persisted survivor
    * index AND within itself under FIXED centroids
    * ([[graft.ops.Clustering.semanticDedupIncremental]]), then its
    * SURVIVORS append into the cluster-bucketed index — so later
    * batches see every earlier batch's kept rows (cross-batch
    * visibility, same contract as [[startSpanDedup]]). Delivery
    * precedes the append: a failed sink replays the batch against the
    * unchanged index.
    */
  def startSemanticDedup(stream: DataFrame,
                         cents: Array[Seq[Double]], indexTable: String,
                         tau: Double, clusterCap: Int = 65536,
                         buckets: Int = 16,
                         checkpoint: Option[String] = None,
                         queryName: String = "graft_streaming_semantic_dedup")
                        (onBatch: (DataFrame, Long) => Unit): StreamingQuery = {
    MicroBatch.start(stream, queryName, checkpoint) { (batch, batchId) =>
      val spark = batch.sparkSession
      val res = graft.ops.Clustering.semanticDedupIncremental(
        batch.toDF(), cents, spark.table(indexTable), tau, clusterCap)
      onBatch(res, batchId)
      val kept = batch.toDF().join(
        res.filter(org.apache.spark.sql.functions.col("kept"))
          .select("id"), Seq("id"))
      graft.ops.Clustering.saveSemanticIndex(kept, cents, indexTable,
        buckets = buckets, append = true)
    }
  }
}
