package graft.streaming

import graft.ops.Sampling
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming mixture gating: documents arrive as a stream and every
  * micro-batch is filtered against a PERSISTED mixture recipe
  * ([[Sampling.saveMixtureRecipe]]) — the continuous-ingestion form of
  * explicit-target data mixing (the recipe's strata masses come from
  * the reference corpus of the training run; the crawl is not that
  * corpus, so thresholds must NOT be recomputed per batch).
  *
  * Each micro-batch pays one [[Sampling.mixtureGateWith]] pass: an
  * equi-join against the ≤ #strata-row recipe (AQE broadcasts it) plus
  * a portable-hash compare. Membership is per-document against fixed
  * thresholds, so per-batch gating composes exactly with the batch
  * form (spec-pinned) and replay is idempotent — the same document
  * gates the same way in any batch. No state crosses batches.
  */
object StreamingMixtureGate {

  /** Start the stream: `onBatch` receives each micro-batch's surviving
    * rows plus the batch id — route to shards, writers, or counters.
    * The caller owns the sink decision, like [[StreamingDsirGate]].
    */
  def start(stream: DataFrame, prefix: String,
            strataCol: String = "lang", idCol: String = "doc_id",
            checkpoint: Option[String] = None,
            queryName: String = "graft_streaming_mixture_gate")
           (onBatch: (DataFrame, Long) => Unit): StreamingQuery = {
    MicroBatch.start(stream, queryName, checkpoint) { (batch, batchId) =>
      val recipe = Sampling.mixtureRecipe(batch.sparkSession, prefix)
      onBatch(Sampling.mixtureGateWith(batch.toDF(), recipe,
        strataCol, idCol), batchId)
    }
  }
}
