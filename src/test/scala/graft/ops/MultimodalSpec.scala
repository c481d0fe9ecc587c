package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq((1L, "abc"), (2L, "Z")).toDF("doc_id", "text")

  test("withBinaryPayload attaches payload bytes + metadata") {
    val out = Multimodal.withBinaryPayload(docs, "text").orderBy("doc_id").collect()
    out(0).getAs[Array[Byte]]("payload") shouldBe "abc".getBytes("UTF-8")
    out(0).getAs[String]("media_type") shouldBe "text/plain"
    out(0).getAs[Int]("byte_len") shouldBe 3
  }

  test("extractFeatures runs the batched partition-wise decode stub") {
    val withBin = Multimodal.withBinaryPayload(docs, "text")
    val feats = Multimodal.extractFeatures(withBin, "doc_id", "payload", dim = 4)
      .orderBy("doc_id").collect()
    feats(0).getSeq[Float](1).length shouldBe 4
    // f[j] = byte[j]/255; 'a' = 97
    feats(0).getSeq[Float](1).head shouldBe (97 / 255.0f)
    // short payload zero-pads
    feats(1).getSeq[Float](1).toList.drop(1) shouldBe List(0.0f, 0.0f, 0.0f)
  }

  test("resizeImages emits the header + w*h-sized payload per doc") {
    val withBin = Multimodal.withBinaryPayload(docs, "text")
    val out = Multimodal.resizeImages(withBin, "doc_id", "payload", w = 4, h = 2)
      .orderBy("doc_id").collect()
    out should have length 2
    val r = out(0).getAs[Array[Byte]]("resized")
    r.length shouldBe 8 + 4 * 2
    // big-endian header carries the target dims
    ((r(0) & 0xFF) << 24 | (r(1) & 0xFF) << 16 | (r(2) & 0xFF) << 8 | (r(3) & 0xFF)) shouldBe 4
    ((r(4) & 0xFF) << 24 | (r(5) & 0xFF) << 16 | (r(6) & 0xFF) << 8 | (r(7) & 0xFF)) shouldBe 2
    r(8) shouldBe 'a'.toByte // payload copied after the header
    r(11).toInt shouldBe 0 // short payload zero-padded
  }

  test("sampleFrames explodes every stride-th fixed-size chunk with its index") {
    // 10-byte payload, 3-byte frames -> frames 0,1,2; stride 2 keeps 0,2
    val vids = Seq((7L, Array.range(0, 10).map(_.toByte))).toDF("doc_id", "payload")
    val frames = Multimodal.sampleFrames(vids, "doc_id", "payload",
      frameBytes = 3, stride = 2).orderBy("frame_idx").collect()
    frames.map(_.getInt(1)).toSeq shouldBe Seq(0, 2)
    frames(0).getAs[Array[Byte]]("frame") shouldBe Array[Byte](0, 1, 2)
    frames(1).getAs[Array[Byte]]("frame") shouldBe Array[Byte](6, 7, 8)
  }

  test("batching never drops rows across partition boundaries") {
    val big = spark.range(0, 1000).select($"id".as("doc_id"),
      concat(lit("doc"), $"id").as("text")).repartition(7)
    val withBin = Multimodal.withBinaryPayload(big, "text")
    Multimodal.extractFeatures(withBin, "doc_id", "payload", dim = 8, batchSize = 64)
      .count() shouldBe 1000
  }
}
