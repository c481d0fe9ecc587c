package graft.streaming

import graft.ops.Curation
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming n-gram LM quality gating: documents arrive as a stream and
  * every micro-batch is scored against a PERSISTED bigram model
  * ([[Curation.saveLmModel]]) — the continuous-ingestion form of CCNet
  * filtering (the reference model is fixed per training run; the crawl
  * is not).
  *
  * Each micro-batch pays one [[Curation.scoreWithLmModel]] pass: two
  * vocab-bounded joins against the standing model tables (AQE
  * broadcasts them) plus the per-doc rollup. Scoring is per-document
  * against a fixed model, so per-batch scoring composes exactly with
  * the batch form (spec-pinned: streamed scores == batch scores on the
  * same documents). No state crosses batches — the stream runs
  * indefinitely with bounded executor memory; refresh the model by
  * [[Curation.appendLmModel]] between runs, not mid-stream.
  */
object StreamingLmGate {

  /** Start the stream: `onBatch` receives each micro-batch's scored
    * rows (the [[Curation.ngramLmScore]] schema joined back onto the
    * batch columns) plus the batch id — gate on `lm_score`/`oov_rate`,
    * route to quality buckets, or alert. The caller owns the sink
    * decision, like [[StreamingDecontaminate.start]].
    */
  def start(stream: DataFrame, modelPrefix: String,
            idCol: String = "doc_id", textCol: String = "text",
            checkpoint: Option[String] = None,
            queryName: String = "graft_streaming_lm_gate")
           (onBatch: (DataFrame, Long) => Unit): StreamingQuery = {
    MicroBatch.start(stream, queryName, checkpoint) { (batch, batchId) =>
      val scored = Curation.scoreWithLmModel(
        batch.toDF(), modelPrefix, idCol, textCol)
      onBatch(batch.toDF().join(scored, Seq(idCol)), batchId)
    }
  }
}
