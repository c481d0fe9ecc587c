package graft.streaming

import graft.ops.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming ANN: continuous ingestion probed against a STANDING IVF
  * index — the arrival-time shape of a training-data pipeline (tag
  * each incoming document's embedding with its nearest corpus
  * neighbors for near-dup candidacy, retrieval attribution, or
  * hard-negative mining) without retraining centroids or touching the
  * corpus layout.
  *
  * Built on `foreachBatch` + [[Similarity.ivfTopKIndexed]]: the
  * centroid matrix rides into executors inside the probe expressions
  * and the cell-assigned corpus stays fixed — with a
  * [[Similarity.saveIvfIndex]]-persisted index the probe equi-join is
  * bucket-pruned on `cell`, so at 100 TB only the micro-batch side
  * shuffles (the [[StreamingDedup]] contract, vector edition). Top-k
  * is stateless per query row, so batch ≡ stream and a replayed batch
  * emits exactly its original matches (spec-pinned alongside
  * `startHashedNearDup`'s).
  */
object StreamingSimilarity {

  /** Start the stream: for every micro-batch of (id, vec) rows,
    * `onBatch` receives that batch's (query_id, neighbor_id, rank,
    * cosine) top-k rows against the index plus the batch id. `q8 =
    * true` probes through the int8 tier ([[Similarity.ivfTopKIndexedQ8]]
    * — 8× smaller candidate vectors, the production scan path); the
    * caller owns the sink decision.
    */
  def startTopK(stream: DataFrame, index: Similarity.IvfIndex, k: Int,
                nprobe: Int = 4, q8: Boolean = false,
                checkpoint: Option[String] = None,
                queryName: String = "graft_streaming_ann")
               (onBatch: (DataFrame, Long) => Unit): StreamingQuery = {
    MicroBatch.start(stream, queryName, checkpoint) { (batch, batchId) =>
      // micro-batch-sized query side: no batch persist; the index's
      // corpus frame is the standing side
      val topk =
        if (q8) Similarity.ivfTopKIndexedQ8(batch.toDF(), index, k, nprobe)
        else Similarity.ivfTopKIndexed(batch.toDF(), index, k, nprobe)
      onBatch(topk, batchId)
    }
  }

  /** [[startTopK]] through the RECALL-LIFTED tier: every micro-batch
    * probes a standing [[Similarity.IvfRerankIndex]] (multi-assigned
    * int8 cells + exact re-rank of the k·overFetch survivors — the
    * [[Similarity.ivfTopKIndexedRerank]] stack). Against a
    * [[Similarity.saveIvfRerankIndex]]-persisted index BOTH standing
    * sides stay in place (cells bucketed by the probe key, vectors by
    * the re-rank lookup key) — only the micro-batch and its survivor
    * frame shuffle. Stateless per query row like the plain tier, so
    * batch ≡ stream and replay is idempotent (spec-pinned).
    *
    * INDEX REFRESH: swap by VERSIONED PREFIX — publish the retrained
    * index with [[Similarity.saveIvfRerankIndexVersioned]] (writes
    * `<base>_v<N>` then atomically appends the `<base>_manifest`
    * pointer row — round 12; a crash mid-publish leaves the manifest
    * resolving the previous complete version), have new streams
    * [[Similarity.loadLatestIvfRerankIndex]] it, and the running
    * stream keeps probing v1 untouched (spec-pinned). This is
    * the [[StreamingUpsample]] snapshot discipline for state too big to
    * snapshot: the centroid matrix IS snapshotted at load (driver-held
    * array), but `cells`/`vectors` from [[Similarity.loadIvfRerankIndex]]
    * are LIVE catalog-table references — overwriting the SAME prefix
    * under a running stream is not a supported swap (later batches
    * would probe v2 rows with v1's closed-over centroids: a mixed-
    * version cell space, silent garbage rather than an error).
    */
  def startTopKRerank(stream: DataFrame, index: Similarity.IvfRerankIndex,
                      k: Int, nprobe: Int = 4, overFetch: Int = 4,
                      checkpoint: Option[String] = None,
                      queryName: String = "graft_streaming_ann_rerank")
                     (onBatch: (DataFrame, Long) => Unit): StreamingQuery = {
    MicroBatch.start(stream, queryName, checkpoint) { (batch, batchId) =>
      onBatch(Similarity.ivfTopKIndexedRerank(batch.toDF(), index, k,
        nprobe, overFetch), batchId)
    }
  }
}
