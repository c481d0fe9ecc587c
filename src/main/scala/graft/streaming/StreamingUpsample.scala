package graft.streaming

import graft.ops.Sampling
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming UP-sampling: documents arrive as a stream and every
  * micro-batch is repeated against a PERSISTED upsample recipe
  * ([[Sampling.saveUpsampleRecipe]]) — the continuous-ingestion form
  * of epoch-weighted training mixes, dual to [[StreamingMixtureGate]]
  * (which realizes target shares by dropping; this realizes them by
  * repeating). The recipe's factors are elected once from the training
  * run's reference corpus; the crawl is not that corpus, so factors
  * must NOT be re-elected per batch.
  *
  * Each micro-batch pays one [[Sampling.epochRepeatWith]] pass: an
  * equi-join against the ≤ #strata-row recipe (AQE broadcasts it) plus
  * the scan-side `explode(sequence(...))` — stateless per document
  * (floor copies from the factor, one hash-gated extra copy), so
  * per-batch repetition composes exactly with the batch form
  * (spec-pinned) and replay is idempotent: the same document emits the
  * same copies in any batch. No state crosses batches. Downstream
  * order keys must fold the emitted `copy` column into a unique uid
  * (the [[Sampling.epochRepeat]] composability contract).
  */
object StreamingUpsample {

  /** Start the stream: `onBatch` receives each micro-batch's up-sampled
    * rows (with the 1-based `copy` column) plus the batch id — route to
    * shards, writers, or counters. The caller owns the sink decision,
    * like [[StreamingMixtureGate]].
    */
  def start(stream: DataFrame, prefix: String,
            strataCol: String = "lang", idCol: String = "doc_id",
            checkpoint: Option[String] = None,
            queryName: String = "graft_streaming_upsample")
           (onBatch: (DataFrame, Long) => Unit): StreamingQuery = {
    // SNAPSHOT the standing recipe ONCE at stream start, then validate
    // the SNAPSHOT (loud guard against hand-edited tables — see
    // validateUpsampleRecipe). Order matters: collecting FIRST and
    // validating the collected rows closes the TOCTOU between a
    // validation read and a separate snapshot read — an overwrite
    // landing between two table reads could otherwise close an
    // UNVALIDATED recipe (a den = 0 or blow-up row) over the stream,
    // reinstating the silent-drop behavior the snapshot exists to
    // prevent. The validated rows and the closed-over rows are the
    // SAME local rows, so factors are fixed for the stream's lifetime
    // — exactly the "elected once" contract above. A RESTARTED stream
    // (new start() call, same checkpoint) re-reads and re-validates,
    // so a table edited between restarts fails loud.
    val standing = Sampling.upsampleRecipe(stream.sparkSession, prefix)
    val recipeSchema = standing.schema
    val recipeRows = java.util.Arrays.asList(standing.collect(): _*)
    Sampling.validateUpsampleRecipe(
      stream.sparkSession.createDataFrame(recipeRows, recipeSchema), strataCol)
    MicroBatch.start(stream, queryName, checkpoint) { (batch, batchId) =>
      val recipe = batch.sparkSession.createDataFrame(recipeRows, recipeSchema)
      onBatch(Sampling.epochRepeatWith(batch.toDF(), recipe,
        strataCol, idCol, validate = false), batchId)
    }
  }
}
