package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  private val df = Seq(
    (1L, "the quick fox and the dog"),
    (2L, "der hund und die katze"),
    (3L, "xyzzy qwerty 12345")).toDF("doc_id", "text")

  test("tokenCount counts whitespace tokens") {
    df.select($"doc_id", TextAnalysis.tokenCount($"text"))
      .orderBy("doc_id").collect().map(_.getInt(1)) shouldBe Array(6, 5, 3)
  }

  test("langId picks the language with most stopword hits") {
    df.select($"doc_id", TextAnalysis.langId($"text"))
      .orderBy("doc_id").collect().map(_.getString(1)) shouldBe
      Array("en", "de", "und")
  }

  test("avgTokenLen is exact (fold of integer lengths)") {
    val out = Seq((1L, "ab cdef")).toDF("doc_id", "text")
      .select(TextAnalysis.avgTokenLen($"text")).head().getDouble(0)
    out shouldBe 3.0 // (2+4)/2
  }

  test("alphaRatio counts only [a-z]") {
    val out = Seq((1L, "ab 12")).toDF("doc_id", "text")
      .select(TextAnalysis.alphaRatio($"text")).head().getDouble(0)
    out shouldBe 0.4 // 2 of 5 chars
  }

  test("qualityScore stays within [0,1] and rewards clean text") {
    val scores = df.select($"doc_id", TextAnalysis.qualityScore($"text"))
      .orderBy("doc_id").collect().map(_.getDouble(1))
    all(scores) should (be >= 0.0 and be <= 1.0)
    scores(0) should be > scores(2) // English text beats gibberish
  }

  test("empty text scores without DIVIDE_BY_ZERO under ANSI; alphaRatio = 0") {
    // ANSI mode (the Spark 4 default) raises on x/0 even for doubles —
    // an empty document must flow through every ratio, not crash the
    // corpus scan. tokenCount's +1 construction covers the token-based
    // denominators; alphaRatio's length(text) needs its explicit guard.
    val docs = Seq((1L, ""), (2L, "the fox")).toDF("doc_id", "text")
    val got = docs.select($"doc_id",
        TextAnalysis.alphaRatio($"text").as("ar"),
        TextAnalysis.qualityScore($"text").as("q"),
        TextAnalysis.avgTokenLen($"text").as("atl"),
        TextAnalysis.stopwordRatio($"text").as("sr"),
        TextAnalysis.qualityScoreQ($"text").as("qq"))
      .collect().map(r => r.getLong(0) -> r).toMap
    got(1L).getDouble(1) shouldBe 0.0 // alphaRatio of empty
    got(1L).getDouble(2) should (be >= 0.0 and be <= 1.0)
    got(1L).getLong(5) shouldBe 4000L // qualityScoreQ: 1 empty token * 4000
    got(2L).getDouble(1) should be > 0.0
  }

  test("qualityScoreQ equals the exact-integer model on adversarial inputs") {
    val docs = Seq(
      (1L, "the quick fox and the dog"),
      (2L, "a"),                               // single token, all alpha
      (3L, "12345 67890"),                     // zero alpha
      (4L, "the the the the the"),             // saturated stopword term
      (5L, ("the a of " * 60).trim),           // saturated length term
      (6L, "x Y z 9 ."),                       // mixed case + punct
      (7L, "the  a")                           // repeated separator (empty token)
    ).toDF("doc_id", "text")
    val got = docs.select($"doc_id", TextAnalysis.qualityScoreQ($"text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val stops = TextAnalysis.stopwords("en").toSet
    docs.collect().foreach { row =>
      val (id, text) = (row.getLong(0), row.getString(1))
      val nt = text.count(_ == ' ').toLong + 1
      val sw = text.split(" ", -1).count(stops.contains).toLong
      val al = text.count(c => c >= 'a' && c <= 'z').toLong
      val ln = text.length.toLong
      val expect = math.min(400000L, nt * 4000L) +
        math.min(300000L, sw * 1500000L / nt) +
        (if (ln > 0) al * 300000L / ln else 0L)
      got(id) shouldBe expect
    }
    all(got.values) should (be >= 0L and be <= 1000000L)
    // the quantized score tracks the double score (per-term floors can
    // only lose < 1 quantum each)
    val dbl = docs.select($"doc_id",
        floor(TextAnalysis.qualityScore($"text") * 1000000).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    dbl.foreach { case (id, d) => math.abs(got(id) - d) should be <= 3L }
  }

  test("qualityScoreQ fuzz: equals the integer model on 300 random strings") {
    val rnd = new scala.util.Random(20260814L)
    val charset = "abcdefghijklmnopqrstuvwxyz ABCZ019.,- "
    def randText(): String =
      (0 until (1 + rnd.nextInt(220))).map(_ => charset(rnd.nextInt(charset.length))).mkString
    val docs = (1L to 300L).map(i => (i, randText())).toDF("doc_id", "text")
    val got = docs.select($"doc_id", TextAnalysis.qualityScoreQ($"text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val stops = TextAnalysis.stopwords("en").toSet
    docs.collect().foreach { row =>
      val (id, text) = (row.getLong(0), row.getString(1))
      val nt = text.count(_ == ' ').toLong + 1
      val sw = text.split(" ", -1).count(stops.contains).toLong
      val al = text.count(c => c >= 'a' && c <= 'z').toLong
      val ln = text.length.toLong
      val expect = math.min(400000L, nt * 4000L) +
        math.min(300000L, sw * 1500000L / nt) +
        (if (ln > 0) al * 300000L / ln else 0L)
      withClue(s"text=<$text>: ") { got(id) shouldBe expect }
    }
  }

  test("codegen forms equal the token-array folds on adversarial inputs") {
    // the operators compute token stats WITHOUT materializing the token
    // array (length arithmetic + regexp_count); prove equivalence to the
    // literal split/filter/fold semantics the DuckDB oracle uses —
    // including empty tokens (double/leading/trailing spaces), trailing
    // newlines (Java's $ vs \z trap), and adjacent stopwords
    val texts = Seq(
      "the quick fox", "the the the", "a a", "a  a", " a", "a ",
      "the\n", "the\nquick", "and", "an", "x", "", " ", "  ",
      "der hund und die katze", "the. a, of", "inn in is", "to to to to")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val F = org.apache.spark.sql.functions
    val toks = F.split($"text", " ")
    def hofHits(lang: String) =
      F.size(F.filter(toks, t => t.isin(TextAnalysis.stopwords(lang): _*)))
    val rows = df.select(
      TextAnalysis.tokenCount($"text"),
      F.size(toks),
      TextAnalysis.stopwordHits($"text", "en"),
      hofHits("en"),
      TextAnalysis.stopwordHits($"text", "de"),
      hofHits("de"),
      TextAnalysis.avgTokenLen($"text"),
      F.aggregate(F.transform(toks, t => F.length(t)), lit(0), (a, x) => a + x)
        .cast("double") / F.size(toks)).collect()
    rows.foreach { r =>
      r.getInt(0) shouldBe r.getInt(1)
      r.getInt(2) shouldBe r.getInt(3)
      r.getInt(4) shouldBe r.getInt(5)
      r.getDouble(6) shouldBe r.getDouble(7)
    }
  }

  test("tokenCountBpe splits letter/digit/symbol runs where whitespace can't") {
    val out = Seq(
      (1L, "abc123 def!"),      // abc|123|def|! = 4 (2 whitespace tokens)
      (2L, "plain words only"), // = whitespace count on pure letters
      (3L, "v2.0-rc1"),         // v|2|.|0|-|rc|1 = 7
      (4L, "!!!"))              // one symbol run
      .toDF("doc_id", "text")
      .select($"doc_id", TextAnalysis.tokenCountBpe($"text").as("n"),
        TextAnalysis.tokenCount($"text").as("ws"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    out(1L) shouldBe ((4, 2))
    out(2L) shouldBe ((3, 3))
    out(3L) shouldBe ((7, 1))
    out(4L) shouldBe ((1, 1))
  }

  test("fingerprint is whitespace/punctuation-invariant") {
    val out = Seq((1L, "Hello, World!"), (2L, "hello world"), (3L, "different"))
      .toDF("doc_id", "text")
      .select(TextAnalysis.fingerprint($"text")).collect().map(_.getString(0))
    out(0) shouldBe out(1)
    out(0) should not be out(2)
  }

  test("redactPii scrubs planted emails and phones, counts match") {
    val out = Seq(
      (1L, "write to alice.smith@corp.example.org or bob@x.io today"),
      (2L, "call 555-0134 or 555-9999 now"),
      (3L, "mixed: c@d.com and 123-4567 here"),
      (4L, "nothing sensitive in this one"))
      .toDF("doc_id", "text")
      .select($"doc_id",
        TextAnalysis.countEmails($"text").as("e"),
        TextAnalysis.countPhones($"text").as("p"),
        TextAnalysis.redactPii($"text").as("r"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    out(1L) shouldBe ((2, 0, "write to <EMAIL> or <EMAIL> today"))
    out(2L) shouldBe ((0, 2, "call <PHONE> or <PHONE> now"))
    out(3L) shouldBe ((1, 1, "mixed: <EMAIL> and <PHONE> here"))
    out(4L) shouldBe ((0, 0, "nothing sensitive in this one"))
  }

  test("repetitionMetrics matches naive frequency arithmetic") {
    val docs = Seq(
      (1L, "a b c a b c a b c"),   // heavy 3-gram repetition
      (2L, "w x y z q r s t"),     // all distinct
      (3L, "a a a a"),             // one token repeated
      (4L, "a b"))                 // shorter than k
      .toDF("doc_id", "text")
    val got = TextAnalysis.repetitionMetrics(docs, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))).toMap
    docs.collect().foreach { row =>
      val (id, text) = (row.getLong(0), row.getString(1))
      val toks = text.split(" ")
      val counts = toks.groupBy(identity).view.mapValues(_.length)
      val n = toks.length.toLong
      val nd = counts.size.toLong
      val top = counts.values.max.toLong
      val shTotal = math.max(0, toks.length - 2)
      val shDistinct = toks.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet.size
      val dup = if (n >= 3) 1.0 - shDistinct.toDouble / shTotal else 0.0
      got(id) shouldBe ((n, nd, top, nd.toDouble / n, top.toDouble / n, dup))
    }
    // the repeated doc is flagged, the distinct doc is clean
    got(1L)._6 should be > 0.5
    got(2L)._6 shouldBe 0.0
  }

  test("gopherRepetition: ppm masses match a naive reference, incl. large n") {
    val docs = Seq(
      (1L, "a b c a b c a b c a b c"), // dup at every n up to 9
      (2L, "w x y z q r s t u v"),     // all grams unique
      (3L, "a a a a a a a a a a a a"), // total repetition
      (4L, "a b"),                     // shorter than most n
      (5L, "one two three four five one two three four five six"))
      .toDF("doc_id", "text")
    val ns = Seq(2, 5, 10)
    val got = TextAnalysis.gopherRepetition(docs, "doc_id", "text",
        topNs = ns, dupNs = ns)
      .collect().map(r => r.getLong(0) -> r).toMap
    docs.collect().foreach { row =>
      val (id, text) = (row.getLong(0), row.getString(1))
      val toks = text.split(" ", -1)
      ns.zipWithIndex.foreach { case (n, i) =>
        val grams = toks.sliding(n).filter(_.length == n).map(_.mkString(" ")).toSeq
        val counts = grams.groupBy(identity).view.mapValues(_.length.toLong).toMap
        val expTop =
          if (counts.isEmpty) 0L
          else {
            // tie-break: count desc, then LARGEST gram byte-lexicographically
            val (g, c) = counts.maxBy { case (g, c) => (c, g) }
            c * g.length * 1000000L / text.length
          }
        val all = counts.map { case (g, c) => c * g.length }.sum
        val dup = counts.collect { case (g, c) if c >= 2 => c * g.length }.sum
        val expDup = if (all > 0) dup * 1000000L / all else 0L
        got(id).getLong(1 + i) shouldBe expTop
        got(id).getLong(1 + ns.size + i) shouldBe expDup
      }
    }
    // the fully-repeated doc saturates; the unique doc has zero dup mass
    got(3L).getLong(1 + ns.size) shouldBe 1000000L    // dup2_ppm
    got(2L).getLong(1 + ns.size) shouldBe 0L
  }

  test("canonicalText: NFC composes, space runs collapse, ends trim") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "cafe\u0301 time"),   // decomposed e+U+0301 -> composed
      (2L, "caf\u00e9 time"),    // already composed - same canon
      (3L, "  doubled   spaces  "),     // runs collapse, ends trim
      (4L, "plain ascii"))              // identity
      .toDF("doc_id", "text")
    val out = docs.select(col("doc_id"),
        TextAnalysis.canonicalText(col("text")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    out(1L) shouldBe "caf\u00e9 time"
    out(2L) shouldBe out(1L) // both unicode forms canonicalize together
    out(3L) shouldBe "doubled spaces"
    out(4L) shouldBe "plain ascii"
    // the exact-hash stages see ONE form: fingerprints now agree
    out(1L).getBytes("UTF-8") shouldBe out(2L).getBytes("UTF-8")
  }

  test("gopherRepetitionCover: positional cover matches a naive interval-union reference") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "a b c a b c a b c a b c"),
      (2L, "w x y z q r s t u v"),
      (3L, "a a a a a a a a a a a a"),
      (4L, "a b"),
      (5L, "one two three four five one two three four five six"))
      .toDF("doc_id", "text")
    val ns = Seq(2, 5)
    val got = TextAnalysis.gopherRepetitionCover(docs, "doc_id", "text",
        dupNs = ns)
      .collect().map(r => r.getLong(0) -> r).toMap
    docs.collect().foreach { row =>
      val (id, text) = (row.getLong(0), row.getString(1))
      val toks = text.split(" ", -1)
      ns.zipWithIndex.foreach { case (n, i) =>
        val covered = Array.fill(text.length)(false)
        if (toks.length >= n) {
          val grams = (0 to toks.length - n)
            .map(p => (p, (p until p + n).map(toks).mkString(" ")))
          val counts = grams.groupBy(_._2).view.mapValues(_.size).toMap
          val starts = toks.scanLeft(0)((acc, t) => acc + t.length + 1)
          grams.foreach { case (p, g) =>
            if (counts(g) >= 2) {
              val e0 = starts(p + n - 1) + toks(p + n - 1).length
              (starts(p) until e0).foreach(covered(_) = true)
            }
          }
        }
        val cov = covered.count(identity).toLong
        val exp = if (text.nonEmpty) cov * 1000000L / text.length else 0L
        withClue(s"doc $id n=$n: ") { got(id).getLong(1 + i) shouldBe exp }
      }
    }
    // overlap counted once: total repetition covers EXACTLY the doc (1e6,
    // never more), where the occurrence-mass form would blow past it
    got(3L).getLong(1) shouldBe 1000000L
    got(2L).getLong(1) shouldBe 0L // all grams unique -> nothing covered
  }

  test("gopherRepetition: top-gram tie-break is (count, then largest gram)") {
    import org.apache.spark.sql.functions.col
    // "b c" and "a b" both occur twice at n=2; largest-gram tie-break
    // must pick "b c" (3 chars, same as "a b" — craft a LENGTH tie-break
    // case too: "zz y" vs "a b", both twice, different char lengths)
    val docs = Seq(
      (1L, "a b c a b c"),        // ties: "a b"=2, "b c"=2 -> picks "b c"
      (2L, "zz y x zz y x"))      // ties: "zz y"=2 > "y x"=2... largest is "zz y"
      .toDF("doc_id", "text")
    val out = TextAnalysis.gopherRepetition(docs, "doc_id", "text",
        topNs = Seq(2), dupNs = Seq(2))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 1: text len 11; top gram "b c" (3 chars, count 2) -> 2*3*1e6/11
    out(1L) shouldBe 2L * 3L * 1000000L / 11L
    // doc 2: text len 13; candidates with c=2: "zz y" (4), "y x" (3);
    // byte-largest is "zz y" -> 2*4*1e6/13
    out(2L) shouldBe 2L * 4L * 1000000L / 13L
  }
}
