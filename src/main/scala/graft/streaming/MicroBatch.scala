package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.StreamingQuery

/** The one micro-batch starter behind the `graft.streaming` monitors
  * and gates: an append-mode `foreachBatch` query named `queryName`,
  * checkpointed at `checkpoint` when one is given.
  */
private[streaming] object MicroBatch {
  def start(stream: DataFrame, queryName: String, checkpoint: Option[String])
           (perBatch: (DataFrame, Long) => Unit): StreamingQuery = {
    val w = stream.writeStream
      .outputMode("append")
      .queryName(queryName)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        perBatch(batch, batchId)
      }
    checkpoint.fold(w)(cp => w.option("checkpointLocation", cp)).start()
  }
}
