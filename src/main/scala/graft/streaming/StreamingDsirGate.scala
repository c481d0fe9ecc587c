package graft.streaming

import graft.ops.Curation
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming DSIR importance gating: documents arrive as a stream and
  * every micro-batch scores against a PERSISTED bucket model
  * ([[Curation.saveDsirModel]]) — the continuous-ingestion form of
  * importance-based data selection (the target/raw distributions are
  * fixed per training run; the crawl is not).
  *
  * Each micro-batch pays one [[Curation.scoreWithDsirModel]] pass: a
  * `buckets`-bounded join against the standing count table (AQE
  * broadcasts it) plus the per-doc rollup. Scoring is per-document
  * against a fixed model, so per-batch scoring composes exactly with
  * the batch form (spec-pinned). No state crosses batches — bounded
  * executor memory at any stream length; fold new raw batches into the
  * model with `saveDsirModel(append = true)` between runs, not
  * mid-stream.
  */
object StreamingDsirGate {

  /** Start the stream: `onBatch` receives each micro-batch's scored
    * rows (the [[Curation.importanceWeights]] schema joined back onto
    * the batch columns) plus the batch id — gate on `weight`, route to
    * selection tiers, or alert. The caller owns the sink decision, like
    * [[StreamingLmGate.start]].
    */
  def start(stream: DataFrame, modelPrefix: String,
            idCol: String = "doc_id", textCol: String = "text",
            buckets: Int = 65536,
            checkpoint: Option[String] = None,
            queryName: String = "graft_streaming_dsir_gate")
           (onBatch: (DataFrame, Long) => Unit): StreamingQuery = {
    MicroBatch.start(stream, queryName, checkpoint) { (batch, batchId) =>
      val scored = Curation.scoreWithDsirModel(
        batch.toDF(), modelPrefix, idCol, textCol, buckets)
      onBatch(batch.toDF().join(scored, Seq(idCol)), batchId)
    }
  }
}
