package graft.streaming

import graft.ops.Decontaminate
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming train/eval decontamination: documents arrive as a stream
  * and every micro-batch is cleaned against a FIXED benchmark set —
  * the production shape for continuous-ingestion pretraining pipelines
  * (the benchmark is static per training run; the corpus is not).
  *
  * The benchmark folds ONCE into a driver-held Bloom sketch
  * ([[Decontaminate.bloomGate]]) when the stream starts; each
  * micro-batch then pays one scan + the exact containment re-check of
  * its (tiny) Bloom-hit slice — identical rows to batch
  * [[Decontaminate.decontaminate]] over the same documents
  * (spec-pinned: contamination is per-document against the fixed
  * bench, so per-batch cleaning composes exactly). No state crosses
  * batches and nothing caches per-batch, so the stream runs
  * indefinitely with bounded executor memory.
  */
object StreamingDecontaminate {

  /** Start the stream: `onBatch` receives each micro-batch's CLEAN
    * (uncontaminated) rows plus the batch id — write them to the
    * training sink, count the drops, or alert. The caller owns the
    * sink decision, like [[StreamingDedup.start]].
    */
  def start(stream: DataFrame, bench: DataFrame,
            idCol: String, textCol: String,
            k: Int = 3, tau: Double = 0.5, dfCap: Int = 512,
            fpp: Double = 0.01,
            checkpoint: Option[String] = None,
            queryName: String = "graft_streaming_decontaminate")
           (onBatch: (DataFrame, Long) => Unit): StreamingQuery = {
    val gate = Decontaminate.bloomGate(bench, idCol, textCol, k, tau, dfCap, fpp)
    MicroBatch.start(stream, queryName, checkpoint) { (batch, batchId) =>
      onBatch(gate.clean(batch), batchId)
    }
  }

  /** The SCORED form: `onBatch` receives every micro-batch row with
    * its per-document contamination statistics
    * ([[graft.ops.Decontaminate.BloomGate.score]] — exact behind the
    * sketch prefilter) instead of the pre-gated survivors: the
    * dataset-card/monitoring shape (alert on a contamination-rate
    * spike; route by overlap band) where [[start]] is the drop gate.
    * One sketch serves the whole stream; scoring is per-document
    * against the fixed benchmark, so per-batch scores equal the batch
    * run (spec-pinned).
    */
  def startScored(stream: DataFrame, bench: DataFrame,
                  idCol: String, textCol: String,
                  k: Int = 3, tau: Double = 0.5,
                  fpp: Double = 0.01,
                  checkpoint: Option[String] = None,
                  queryName: String = "graft_streaming_contamination_score")
                 (onBatch: (DataFrame, Long) => Unit): StreamingQuery = {
    val gate = Decontaminate.bloomGate(bench, idCol, textCol, k, tau, fpp = fpp)
    MicroBatch.start(stream, queryName, checkpoint) { (batch, batchId) =>
      onBatch(gate.score(batch), batchId)
    }
  }
}
