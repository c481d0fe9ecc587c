package graft.streaming

import graft.ops.{Caches, Profile}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous data-quality observability: profile every micro-batch
  * with the one-pass sketch profiler and flag drift against a FIXED
  * baseline profile — the streaming half of the
  * [[Profile.save]]/[[Profile.driftFromStore]] lifecycle (profile the
  * blessed corpus once, then watch ingestion drift away from it in
  * real time instead of at the next batch audit).
  *
  * Per micro-batch cost is [[Profile.profile]]'s single global
  * Aggregate over the batch — no state store, no corpus history; the
  * baseline rides the driver as a collected (column, metric, value)
  * frame (profiles are columns × ~10 metrics — bounded at any corpus
  * width). Batches too small to be meaningful can be skipped with
  * `minRows` (sketch metrics on a 3-row batch alert on noise).
  */
object StreamingProfile {

  /** Metrics whose value does not scale with row count — the only ones
    * comparable between a micro-batch and a whole-corpus baseline
    * (`count`/`null_count`/`sum`/`approx_distinct` grow with the batch
    * and would flag on every batch).
    */
  val ScaleFreeMetrics: Seq[String] =
    Seq("min", "max", "mean", "p50", "p95", "stddev")

  /** Start the monitor: `onBatch` receives (batch profile, drift rows
    * vs baseline, batch id) every micro-batch with at least `minRows`
    * rows; smaller batches are reported with an EMPTY drift frame
    * rather than silently dropped. Drift compares `metrics` only
    * (scale-free by default). The caller owns the sink — append the
    * profile to the store, page on non-empty drift, or both.
    */
  def start(stream: DataFrame, cols: Seq[String], baseline: DataFrame,
            tolerance: Double = 0.2, minRows: Long = 100L,
            metrics: Seq[String] = ScaleFreeMetrics,
            checkpoint: Option[String] = None,
            queryName: String = "graft_streaming_profile")
           (onBatch: (DataFrame, DataFrame, Long) => Unit): StreamingQuery = {
    import org.apache.spark.sql.functions.col
    // materialize the comparable slice of the baseline once — it feeds
    // every batch's drift join
    val base = Caches.eager(
      baseline.filter(col("metric").isin(metrics: _*)))
    MicroBatch.start(stream, queryName, checkpoint) { (batch, batchId) =>
      val n = batch.count()
      if (n == 0) ()
      else {
        val prof = Profile.profile(batch, cols)
        val comparable = prof.filter(col("metric").isin(metrics: _*))
        val d =
          if (n >= minRows) Profile.drift(base, comparable, tolerance)
          else Profile.drift(base, comparable, tolerance).limit(0)
        onBatch(prof, d, batchId)
      }
    }
  }
}
