package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, processed partition-wise in batches.
  *
  * The DECODE step is a clearly-marked deterministic STUB (the container
  * has no image/audio codecs); everything around it — schema, binary
  * payload handling, partition-wise batch iteration (the Scala analogue
  * of `mapInPandas`), feature-column shape — is real and tested.
  */
object Multimodal {

  /** Attach a binary payload + media metadata. Real pipelines read the
    * bytes from object storage; here the payload is the utf-8 text, which
    * keeps everything deterministic.
    */
  def withBinaryPayload(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("payload", col(textCol).cast("binary"))
      .withColumn("media_type", lit("text/plain"))
      .withColumn("byte_len", length(col("payload")))

  /** STUB decode: a real implementation would hand each batch of payloads
    * to a codec (JPEG decode, mel-spectrogram, frame sampling). The fake
    * is deterministic — feature j = byte[j] / 255 of the payload — so the
    * distributed plumbing can be verified end-to-end.
    */
  private def decodeBatchStub(batch: Seq[(Long, Array[Byte])], dim: Int): Seq[(Long, Array[Float])] =
    batch.map { case (id, bytes) =>
      val f = Array.tabulate(dim)(j => if (j < bytes.length) (bytes(j) & 0xFF) / 255.0f else 0.0f)
      (id, f)
    }

  /** Partition-wise batched feature extraction over (id, payload).
    * Batching matters at scale: codecs amortize per-call overhead, and
    * the iterator never materializes a partition in memory.
    */
  def extractFeatures(df: DataFrame, idCol: String, payloadCol: String,
                      dim: Int = 8, batchSize: Int = 64): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val pairs = df.select(col(idCol).cast("long"), col(payloadCol)).as[(Long, Array[Byte])]
    pairs.mapPartitions { it =>
      it.grouped(batchSize).flatMap(b => decodeBatchStub(b, dim))
    }.toDF("doc_id", "features")
  }

  /** STUB resize: a real implementation hands each batch to an image
    * codec (decode -> scale -> re-encode). The fake is deterministic —
    * output = an 8-byte header (target w,h as big-endian int32 pair)
    * followed by the payload truncated/zero-padded to w*h bytes — so
    * schema, batching, and output sizing are verifiable end-to-end.
    */
  private def resizeBatchStub(batch: Seq[(Long, Array[Byte])], w: Int, h: Int): Seq[(Long, Array[Byte])] =
    batch.map { case (id, bytes) =>
      val out = new Array[Byte](8 + w * h)
      out(0) = (w >> 24).toByte; out(1) = (w >> 16).toByte
      out(2) = (w >> 8).toByte; out(3) = w.toByte
      out(4) = (h >> 24).toByte; out(5) = (h >> 16).toByte
      out(6) = (h >> 8).toByte; out(7) = h.toByte
      System.arraycopy(bytes, 0, out, 8, math.min(bytes.length, w * h))
      (id, out)
    }

  /** Partition-wise batched image resize to (w, h): (doc_id, payload) ->
    * (doc_id, resized). Same mapInPandas-shaped stage as
    * [[extractFeatures]]; the codec call is [[resizeBatchStub]].
    */
  def resizeImages(df: DataFrame, idCol: String, payloadCol: String,
                   w: Int, h: Int, batchSize: Int = 64): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol)).as[(Long, Array[Byte])]
      .mapPartitions(_.grouped(batchSize).flatMap(resizeBatchStub(_, w, h)))
      .toDF("doc_id", "resized")
  }

  /** STUB frame split: a real implementation demuxes the video container
    * and decodes every `stride`-th frame. The fake treats the payload as
    * a sequence of fixed-size `frameBytes` chunks and emits every
    * `stride`-th chunk — deterministic, so the one-row-in/many-rows-out
    * (flatMap) shape and frame indexing are verifiable.
    */
  private def frameBatchStub(batch: Seq[(Long, Array[Byte])], frameBytes: Int,
                             stride: Int): Seq[(Long, Int, Array[Byte])] =
    batch.flatMap { case (id, bytes) =>
      val nFrames = bytes.length / frameBytes
      (0 until nFrames by stride).map { f =>
        (id, f, java.util.Arrays.copyOfRange(bytes, f * frameBytes, (f + 1) * frameBytes))
      }
    }

  /** Partition-wise batched frame sampling: (doc_id, payload) ->
    * (doc_id, frame_idx, frame) rows, every `stride`-th frame. The
    * generator shape matters at scale: output rows >> input rows, and
    * the iterator stays lazy — no partition-sized materialization.
    */
  def sampleFrames(df: DataFrame, idCol: String, payloadCol: String,
                   frameBytes: Int = 256, stride: Int = 2,
                   batchSize: Int = 64): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol)).as[(Long, Array[Byte])]
      .mapPartitions(_.grouped(batchSize).flatMap(frameBatchStub(_, frameBytes, stride)))
      .toDF("doc_id", "frame_idx", "frame")
  }
}
