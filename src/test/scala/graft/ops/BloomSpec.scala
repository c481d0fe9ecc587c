package graft.ops

import graft.SparkSpec
import graft.functions.{BloomFunctions, BloomRuntime}
import org.apache.spark.sql.functions._

class BloomSpec extends SparkSpec {
  import spark.implicits._

  test("sizeFor produces sane (m, k) and rounds bits to whole words") {
    val (m, k) = BloomRuntime.sizeFor(10000, 0.01)
    m % 64 shouldBe 0
    // textbook m for n=1e4, p=0.01 is ~95851 bits, k ~ 7
    m shouldBe 95872 +- 128
    k shouldBe 7
  }

  test("kernel has no false negatives and a bounded false-positive rate") {
    val (m, k) = BloomRuntime.sizeFor(1000, 0.01)
    val words = new Array[Long](m / 64)
    val members = (0L until 1000L).map(_ * 7919L + 13L)
    members.foreach(BloomRuntime.set(words, m, k, _))
    members.foreach { v =>
      BloomRuntime.mightContain(words, m, k, v) shouldBe true
    }
    val probes = (1L to 100000L).map(_ * 104729L + 5L).filterNot(members.contains)
    val fp = probes.count(BloomRuntime.mightContain(words, m, k, _))
    fp.toDouble / probes.size should be < 0.03
  }

  test("bloomAgg is partition-count invariant (mergeable word-wise OR)") {
    val vals = (0L until 5000L).map(i => i * 31L).toDF("v")
    def bits(parts: Int): Seq[Byte] =
      vals.repartition(parts)
        .agg(BloomFunctions.bloomAgg(col("v"), 4096, 5).as("bf"))
        .head().getAs[Array[Byte]]("bf").toSeq
    bits(1) shouldBe bits(13)
  }

  test("bloomMightContain column form agrees with the kernel") {
    val m = 4096; val k = 5
    val words = new Array[Long](m / 64)
    (0L until 100L).foreach(v => BloomRuntime.set(words, m, k, v * 3L))
    val bb = java.nio.ByteBuffer.allocate(words.length * 8)
    bb.asLongBuffer().put(words)
    val bytes = bb.array()
    val got = (0L until 300L).toDF("v")
      .select(col("v"), BloomFunctions.bloomMightContain(col("v"), bytes, m, k).as("hit"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    (0L until 300L).foreach { v =>
      got(v) shouldBe BloomRuntime.mightContain(words, m, k, v)
    }
    // and every true member hits
    (0L until 100L).foreach(v => got(v * 3L) shouldBe true)
  }

  test("decontaminateBloom equals exact decontaminate") {
    val docs = graft.queries.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val train = docs.filter(col("doc_id") % 10 =!= 0)
    val bench = docs.filter(col("doc_id") % 10 === 0)
    val exact = Oracles.decontaminate(train, bench, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    val bloom = Decontaminate.decontaminateBloom(train, bench, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    bloom shouldBe exact
    exact.length should be < 450 // the split does contaminate something
  }

  test("decontaminateBloom with an empty bench keeps the whole train set") {
    val docs = graft.queries.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val out = Decontaminate.decontaminateBloom(docs,
      docs.filter(col("doc_id") < 0), "doc_id", "text")
    out.count() shouldBe docs.count()
  }
}
