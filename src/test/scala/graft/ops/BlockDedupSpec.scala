package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class BlockDedupSpec extends SparkSpec {
  import spark.implicits._

  // 4-token blocks: doc 1 and doc 3 share block "a b c d"; doc 3 also
  // repeats it internally; doc 2 is unique throughout
  private def docs = Seq(
    (1L, "a b c d e f g h"),            // blocks: [a b c d][e f g h]
    (2L, "p q r s t"),                  // blocks: [p q r s][t]
    (3L, "a b c d x y z w a b c d")     // blocks: [a b c d][x y z w][a b c d]
  ).toDF("doc_id", "text")

  test("blockDedup keeps only the first occurrence of a repeated block") {
    val out = Dedup.blockDedup(docs, "doc_id", "text", blockSize = 4)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    out shouldBe Array(
      (1L, "a b c d e f g h", 2L, 0L),     // first occurrence of the dup block
      (2L, "p q r s t", 2L, 0L),
      (3L, "x y z w", 1L, 2L))             // both copies dropped (doc 1 owns it)
  }

  test("a document whose every block is a duplicate disappears") {
    val d = Seq((1L, "a b c d"), (2L, "a b c d")).toDF("doc_id", "text")
    val out = Dedup.blockDedup(d, "doc_id", "text", blockSize = 4)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    out shouldBe Array((1L, "a b c d"))
  }

  test("blockBoilerplateStrip removes EVERY occurrence of a cross-doc block") {
    val out = Dedup.blockBoilerplateStrip(docs, "doc_id", "text",
        blockSize = 4, minDf = 2)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // "a b c d" appears in docs 1 and 3 -> stripped everywhere,
    // including doc 1's first occurrence (unlike blockDedup)
    out shouldBe Array(
      (1L, "e f g h", 1L, 1L),
      (2L, "p q r s t", 2L, 0L),
      (3L, "x y z w", 1L, 2L))
  }

  test("blockBoilerplateStrip: within-doc repetition is NOT boilerplate") {
    // the repeated block lives in ONE document only -> distinct-doc df
    // is 1, so both copies stay (repetition, not template noise)
    val d = Seq((1L, "a b c d e f g h a b c d")).toDF("doc_id", "text")
    val out = Dedup.blockBoilerplateStrip(d, "doc_id", "text", 4, minDf = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    out shouldBe Array((1L, "a b c d e f g h a b c d", 3L, 0L))
  }

  test("result is invariant to input partitioning") {
    val base = Dedup.blockDedup(docs, "doc_id", "text", 4)
      .orderBy("doc_id").collect().toSeq
    val repart = Dedup.blockDedup(docs.repartition(7), "doc_id", "text", 4)
      .orderBy("doc_id").collect().toSeq
    repart shouldBe base
  }

  test("fuzz: reassembly always equals the original text minus dropped blocks, in order") {
    val rnd = new scala.util.Random(42)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee")
    (1 to 5).foreach { trial =>
      val blockSize = 1 + rnd.nextInt(5)
      val docs = (0L until 40L).map { id =>
        val n = 1 + rnd.nextInt(12)
        (id, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val df = docs.toDF("doc_id", "text")
      val out = Dedup.blockDedup(df, "doc_id", "text", blockSize)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSeq

      // reference model in plain Scala
      val model = scala.collection.mutable.Map.empty[String, (Long, Int)]
      val blocksByDoc = docs.map { case (id, text) =>
        val toks = text.split(" ").toSeq
        id -> toks.grouped(blockSize).map(_.mkString(" ")).toSeq
      }
      blocksByDoc.foreach { case (id, bs) =>
        bs.zipWithIndex.foreach { case (b, i) =>
          if (!model.contains(b)) model(b) = (id, i)
        }
      }
      val dfCount = blocksByDoc.flatMap(_._2).groupBy(identity).view.mapValues(_.size).toMap
      val want = blocksByDoc.flatMap { case (id, bs) =>
        val kept = bs.zipWithIndex.collect {
          case (b, i) if dfCount(b) == 1 || model(b) == (id, i) => b
        }
        if (kept.isEmpty) None
        else Some((id, kept.mkString(" "), kept.size.toLong, (bs.size - kept.size).toLong))
      }
      withClue(s"trial $trial blockSize $blockSize: ") {
        out.sortBy(_._1) shouldBe want.sortBy(_._1)
      }
    }
  }

  test("short final block participates in dedup like any other") {
    // "t" is a full block of doc 2 and the final short block of doc 4;
    // they are the same text, so the later one drops
    val d = Seq((2L, "p q r s t"), (4L, "m n o p t")).toDF("doc_id", "text")
    val out = Dedup.blockDedup(d, "doc_id", "text", 4).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3)))
    out shouldBe Array((2L, "p q r s t", 0L), (4L, "m n o p", 1L))
  }
}
