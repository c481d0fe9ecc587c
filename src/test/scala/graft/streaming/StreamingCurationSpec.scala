package graft.streaming

import graft.SparkSpec
import graft.ops.{Sampling, TextAnalysis => TA}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The deterministic curation ops are stateless projections/filters, so
  * the SAME column expressions run unchanged on a stream — no
  * foreachBatch, no state store. This pins that streamed output equals
  * the batch result for a quality-gate + hash-sample pipeline.
  */
class StreamingCurationSpec extends SparkSpec {

  test("hash sampling + quality gate on a stream equals the batch run") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = (0L until 200L).map { i =>
      (i, if (i % 7 == 0) "tiny" else
        "the quick brown fox jumps over the lazy dog near the river bank " * 3)
    }
    def curate(df: org.apache.spark.sql.DataFrame) =
      df.filter(Sampling.hashBucket(col("doc_id")) < lit((0.4 * Sampling.Buckets).toLong))
        .withColumn("n_tokens", TA.tokenCount(col("text")).cast("long"))
        .withColumn("quality", TA.qualityScore(col("text")))
        .filter(col("quality") >= 0.5 && col("n_tokens") >= 10L)
        .select("doc_id", "n_tokens", "quality")

    val batch = curate(docs.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    batch.length should be > 10 // the gate actually bites

    val mem = MemoryStream[(Long, String)]
    mem.addData(docs.take(100): _*)
    val q = curate(mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("curated_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      mem.addData(docs.drop(100): _*) // second micro-batch
      q.processAllAvailable()
      val streamed = spark.table("curated_out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
      streamed shouldBe batch
    } finally q.stop()
  }
}
