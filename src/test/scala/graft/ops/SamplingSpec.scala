package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  private val ids = (0L until 10000L).map(i => (i, s"src${i % 4}")).toDF("id", "source")

  /** The documented portable formula, computed independently in Scala. */
  private def bucket(id: Long): Long = ((id % 1048573L) * 2654435761L) % 1000000L

  test("hashBucket matches the documented modular formula") {
    val got = ids.select(col("id"), Sampling.hashBucket(col("id")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    got.foreach { case (id, b) => b shouldBe bucket(id) }
  }

  test("stratifiedSample applies per-stratum thresholds with a default") {
    val kept = Sampling.stratifiedSample(ids, "source", "id",
        fractions = Map("src0" -> 0.5, "src1" -> 0.1), default = 0.0)
      .select("id", "source").collect().map(r => (r.getLong(0), r.getString(1)))
    kept.foreach { case (id, src) =>
      val thr = src match { case "src0" => 500000L; case "src1" => 100000L; case _ => 0L }
      assert(bucket(id) < thr, s"id $id in $src over threshold")
    }
    val bySrc = kept.groupBy(_._2).view.mapValues(_.size).toMap
    bySrc.keySet shouldBe Set("src0", "src1") // default 0 drops src2/src3 entirely
    bySrc("src0").toDouble / 2500 shouldBe 0.5 +- 0.06
    bySrc("src1").toDouble / 2500 shouldBe 0.1 +- 0.04
  }

  test("stratifiedFixedN returns exactly n per stratum, smallest hash first") {
    val out = Sampling.stratifiedFixedN(ids, "source", "id", 7)
      .collect().map(r => (r.getString(1), r.getLong(0)))
    out.groupBy(_._1).foreach { case (src, rows) =>
      rows.length shouldBe 7
      val want = (0L until 10000L).filter(i => s"src${i % 4}" == src)
        .sortBy(i => (bucket(i), i)).take(7).toSet
      rows.map(_._2).toSet shouldBe want
    }
    // smaller stratum than n: returns all of it
    val tiny = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "source")
    Sampling.stratifiedFixedN(tiny, "source", "id", 5).count() shouldBe 3
  }

  test("salted two-phase fixedN is bit-identical to the single-phase form") {
    for (salt <- Seq(2, 16, 64)) {
      val salted = Sampling.stratifiedFixedN(ids, "source", "id", 7, saltBuckets = salt)
        .collect().map(r => (r.getString(1), r.getLong(0))).sorted
      val plain = Sampling.stratifiedFixedN(ids, "source", "id", 7)
        .collect().map(r => (r.getString(1), r.getLong(0))).sorted
      withClue(s"saltBuckets=$salt: ") { salted shouldBe plain }
    }
    // salted plan: both windows partition on bounded key spaces; the
    // full table flows only through the (stratum, salt) window
    val p = Sampling.stratifiedFixedN(ids, "source", "id", 7, saltBuckets = 16)
      .queryExecution.executedPlan.toString
    "Exchange".r.findAllMatchIn(p).size shouldBe 2
  }

  test("sampling ops add no shuffle (fixedN adds exactly the window's one)") {
    val p1 = Sampling.stratifiedSample(ids, "source", "id",
        fractions = Map("src0" -> 0.5), default = 0.3)
      .queryExecution.executedPlan.toString
    "Exchange".r.findAllMatchIn(p1).size shouldBe 0
    val p2 = Sampling.stratifiedFixedN(ids, "source", "id", 5)
      .queryExecution.executedPlan.toString
    "Exchange".r.findAllMatchIn(p2).size shouldBe 1
  }

  test("shardShuffle: dense 1-based positions per shard, deterministic, one exchange") {
    val out = Sampling.shardShuffle(ids, "id", nShards = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getInt(3)))
    out.length shouldBe 10000
    // every shard's positions are exactly 1..count(shard)
    out.groupBy(_._2).foreach { case (shard, rows) =>
      rows.map(_._3).sorted shouldBe (1 to rows.length)
      (shard >= 0 && shard < 8) shouldBe true
    }
    // shard is a pure function of id: re-running reproduces bit-identically
    val again = Sampling.shardShuffle(ids, "id", nShards = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getInt(3)))
    again.sortBy(_._1) shouldBe out.sortBy(_._1)
    // plan: exactly the one exchange (on shard) any global reorder needs
    val plan = Sampling.shardShuffle(ids, "id", 8)
      .queryExecution.executedPlan.toString
    "Exchange".r.findAllMatchIn(plan).size shouldBe 1
  }

  test("temperatureSample(alpha=0.5) flattens the mix toward sqrt shares") {
    // 6400 "en", 400 "de": sqrt weights 80/20 → scale = min(6400/80,
    // 400/20) = 20 → en frac = 20*80/6400 = 0.25, de frac = 1.0
    val skewed = ((0L until 6400L).map((_, "en")) ++
      (10000L until 10400L).map((_, "de"))).toDF("id", "lang")
    val out = Sampling.temperatureSample(skewed, "lang", "id", 0.5)
      .select("id", "lang").collect().map(r => (r.getLong(0), r.getString(1)))
    val byLang = out.groupBy(_._2).view.mapValues(_.size).toMap
    byLang("de") shouldBe 400 // most under-represented stratum kept whole
    byLang("en").toDouble / 6400 shouldBe 0.25 +- 0.03
    // membership is the documented hash threshold: en threshold = 250000
    out.filter(_._2 == "en").foreach { case (id, _) =>
      assert(bucket(id) < 250000L, s"en id $id over threshold")
    }
  }

  test("temperatureSample(alpha=1) keeps the natural mix (everything)") {
    val df = (0L until 1000L).map(i => (i, s"s${i % 3}")).toDF("id", "lang")
    Sampling.temperatureSample(df, "lang", "id", 1.0).count() shouldBe 1000
  }

  test("temperatureSample(alpha=0.5) cross-multiplied gate equals the IEEE/isqrt forms off-boundary") {
    // irregular stratum sizes (non-squares, no boundary collisions).
    // Three formulations must agree: the retired IEEE double chain
    // floor(min(n/sqrt(n))*sqrt(n)/n * 1e6), the exact threshold
    // isqrt((1e12*nmin) div n), and the shipped division-free gate
    // (hash+1)^2 * n <= 1e12 * nmin.
    def isqrt(x: BigInt): BigInt = {
      if (x < 2) return x
      var r = BigInt(math.sqrt(x.doubleValue).toLong)
      while (r * r > x) r -= 1
      while ((r + 1) * (r + 1) <= x) r += 1
      r
    }
    val sizes = Map("a" -> 7321L, "b" -> 911L, "c" -> 2489L, "d" -> 353L)
    val rows = sizes.toSeq.flatMap { case (s, n) =>
      val base = s.hashCode.abs.toLong % 1000 * 100000L
      (0L until n).map(i => (base + i, s))
    }
    val df = rows.toDF("id", "lang")
    val got = Sampling.temperatureSample(df, "lang", "id", 0.5)
      .select("id").collect().map(_.getLong(0)).toSet
    val nMin = sizes.values.min
    val ieeeThr = sizes.view.mapValues { n =>
      math.floor(math.min(1.0,
        math.sqrt(nMin.toDouble) * math.sqrt(n.toDouble) / n.toDouble)
        * 1000000.0).toLong
    }.toMap
    val intThr = sizes.view.mapValues { n =>
      isqrt(BigInt(1000000000000L) * nMin / n).toLong
    }.toMap
    intThr shouldBe ieeeThr // off-boundary: the two formulas coincide
    val expectThr = rows.filter { case (id, s) => bucket(id) < intThr(s) }
      .map(_._1).toSet
    val expectGate = rows.filter { case (id, s) =>
      val h1 = BigInt(bucket(id) + 1)
      h1 * h1 * sizes(s) <= BigInt(1000000000000L) * nMin
    }.map(_._1).toSet
    expectGate shouldBe expectThr // the cross-multiplied identity
    got shouldBe expectThr
  }

  test("repeatFactors hits the target mix by repetition only") {
    val current = Map("web" -> 8000L, "code" -> 1000L, "books" -> 1000L)
    val target = Map("web" -> 0.5, "code" -> 0.25, "books" -> 0.25)
    val f = Sampling.repeatFactors(current, target)
    f("web") shouldBe 1.0 +- 1e-12 // most over-target: never dropped
    f("code") shouldBe 4.0 +- 1e-12
    f("books") shouldBe 4.0 +- 1e-12
    val mixed = current.map { case (k, v) => k -> v * f(k) }
    val tot = mixed.values.sum
    target.foreach { case (k, share) => mixed(k) / tot shouldBe share +- 1e-9 }
  }

  test("epochMix emits floor(f) copies plus a hash-decided extra, with epoch index") {
    val df = (0L until 2000L).map(i => (i, if (i < 1000) "a" else "b")).toDF("id", "lang")
    val out = Sampling.epochMix(df, "lang", "id", Map("a" -> 2.5, "b" -> 1.0))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byId = out.groupBy(_._1).view.mapValues(_.map(_._3).sorted.toSeq).toMap
    (0L until 1000L).foreach { id =>
      val want = if (bucket(id) < 500000L) 3L else 2L
      byId(id) shouldBe (0L until want)
    }
    (1000L until 2000L).foreach { id => byId(id) shouldBe Seq(0L) }
    // expected total: 1000*2.5 + 1000*1 within hash noise
    out.length.toDouble shouldBe 3500.0 +- 60.0
  }

  test("epochMix factor 0 drops the stratum") {
    val df = (0L until 100L).map(i => (i, if (i % 2 == 0) "a" else "b")).toDF("id", "lang")
    val out = Sampling.epochMix(df, "lang", "id", Map("a" -> 1.0, "b" -> 0.0))
    out.select("lang").distinct().collect().map(_.getString(0)).toSeq shouldBe Seq("a")
  }

  test("mixtureSelect hits explicit target shares by integer-exact downsampling") {
    // 6000 web / 1500 code / 500 books, target 2:1:1 -> books is binding
    // (500/1 < 1500/1 < 6000/2): books kept whole, code keeps 500/1500,
    // web keeps 2*500/6000
    val df = (0L until 8000L).map { i =>
      (i, if (i < 6000) "web" else if (i < 7500) "code" else "books")
    }.toDF("id", "lang")
    val shares = Map("web" -> 2L, "code" -> 1L, "books" -> 1L)
    val kept = Sampling.mixtureSelect(df, "lang", "id", shares)
      .select("id", "lang").collect().map(r => (r.getLong(0), r.getString(1)))
    val n = Map("web" -> 6000L, "code" -> 1500L, "books" -> 500L)
    // independent arithmetic: keep iff (h+1)*num_b*n_s <= 1e6*n_b*num_s
    val expect = (0L until 8000L).flatMap { i =>
      val s = if (i < 6000) "web" else if (i < 7500) "code" else "books"
      val lhs = BigInt(bucket(i) + 1) * shares("books") * n(s)
      val rhs = BigInt(1000000L) * n("books") * shares(s)
      if (lhs <= rhs) Some((i, s)) else None
    }.toSet
    kept.toSet shouldBe expect
    val byLang = kept.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    byLang("books") shouldBe 500L // binding stratum: kept whole
    // realized mix tracks 2:1:1 within hash quantization noise
    byLang("web").toDouble / byLang("books") shouldBe 2.0 +- 0.1
    byLang("code").toDouble / byLang("books") shouldBe 1.0 +- 0.1
  }

  test("mixtureSelect drops strata with share 0 or absent from the recipe") {
    val df = (0L until 300L).map(i => (i, s"s${i % 3}")).toDF("id", "lang")
    val kept = Sampling.mixtureSelect(df, "lang", "id",
        Map("s0" -> 1L, "s1" -> 1L, "s2" -> 0L))
      .select("lang").distinct().collect().map(_.getString(0)).toSet
    kept shouldBe Set("s0", "s1")
    val kept2 = Sampling.mixtureSelect(df, "lang", "id", Map("s1" -> 5L))
      .select("id", "lang").collect()
    kept2.map(_.getString(1)).toSet shouldBe Set("s1")
    kept2.length shouldBe 100 // sole recipe stratum is binding: kept whole
  }

  test("mixtureSelect weightCol: binding and thresholds by mass, not rows") {
    // equal ROW counts but web docs carry 10x the tokens: by rows the
    // 1:1 target would keep both whole; by mass web must shed 90%
    val df = (0L until 2000L).map { i =>
      val lang = if (i < 1000) "web" else "books"
      (i, lang, if (lang == "web") 100L else 10L)
    }.toDF("id", "lang", "toks")
    val shares = Map("web" -> 1L, "books" -> 1L)
    val kept = Sampling.mixtureSelect(df, "lang", "id", shares, Some("toks"))
      .select("id", "lang").collect().map(r => (r.getLong(0), r.getString(1)))
    val byLang = kept.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    byLang("books") shouldBe 1000L // binding by mass: kept whole
    // web threshold = 1e6*10000/100000 = 100000 -> ~10% of rows
    val expectWeb = (0L until 1000L).count(bucket(_) + 1 <= 100000L).toLong
    byLang("web") shouldBe expectWeb
    byLang("web").toDouble / 1000 shouldBe 0.1 +- 0.03
  }

  test("mixtureSelect fails loudly on NULL or negative weights") {
    val nulls = Seq((1L, "a", Some(5L)), (2L, "a", None), (3L, "b", Some(4L)))
      .toDF("id", "lang", "toks")
    val e1 = intercept[Exception] {
      Sampling.mixtureSelect(nulls, "lang", "id",
        Map("a" -> 1L, "b" -> 1L), Some("toks")).collect()
    }
    e1.getMessage should include ("NULL toks weight")
    val negs = Seq((1L, "a", 5L), (2L, "a", -2L), (3L, "b", 4L))
      .toDF("id", "lang", "toks")
    val e2 = intercept[Exception] {
      Sampling.mixtureSelect(negs, "lang", "id",
        Map("a" -> 1L, "b" -> 1L), Some("toks")).collect()
    }
    e2.getMessage should include ("negative toks weight")
  }

  test("interleaveShards rejects inputs that already carry its output columns") {
    val df = (0L until 20L).map(i => (i, "a")).toDF("id", "lang")
    val once = Sampling.interleaveShards(df, "lang", "id", Map("a" -> 1L), 2)
    intercept[IllegalArgumentException] {
      Sampling.interleaveShards(once, "lang", "id", Map("a" -> 1L), 2)
    }.getMessage should include ("already has")
  }

  test("mixtureSelect is deterministic across partitionings") {
    val df = (0L until 4000L).map(i => (i, s"s${i % 4}")).toDF("id", "lang")
    val shares = Map("s0" -> 3L, "s1" -> 2L, "s2" -> 1L, "s3" -> 1L)
    val a = Sampling.mixtureSelect(df, "lang", "id", shares)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    val b = Sampling.mixtureSelect(df.repartition(13), "lang", "id", shares)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    a shouldBe b
  }

  test("mixtureSelect membership fuzz: every kept/dropped verdict matches a BigInt reference") {
    // seeded random share maps over skewed strata sizes — re-derive the
    // binding-stratum election and the division-free membership gate in
    // BigInt and compare row for row (the oracle checks this at 3 SFs;
    // this covers share/size combinations no fixed oracle exercises)
    val rnd = new scala.util.Random(0x5E1EC7)
    val sizes = Map("a" -> 700, "b" -> 2300, "c" -> 150, "d" -> 5000)
    val rows = sizes.toSeq.flatMap { case (s, n) =>
      (0 until n).map(i => (rnd.nextLong().abs % 100000000L, s))
    }.distinct
    val df = rows.toDF("id", "lang")
    (1 to 5).foreach { trial =>
      val shares = Seq("a", "b", "c", "d")
        .map(s => s -> rnd.nextInt(8).toLong).toMap
      if (shares.values.exists(_ > 0)) {
        val kept = Sampling.mixtureSelect(df, "lang", "id", shares)
          .select("id").collect().map(_.getLong(0)).toSet
        // BigInt reference
        val counts = rows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
        val cc = counts.toSeq
          .map { case (s, n) => (s, n, shares.getOrElse(s, 0L)) }
          .filter { case (_, n, w) => w > 0 && n > 0 }
        val binding = cc.filter { case (_, n, w) =>
          cc.forall { case (_, no, wo) =>
            BigInt(n) * wo <= BigInt(no) * w }
        }.minBy(_._1)
        val (_, nb, wb) = binding
        val expect = rows.filter { case (id, s) =>
          cc.find(_._1 == s).exists { case (_, n, w) =>
            val h = BigInt((id % 1048573L) * 2654435761L % 1000000L)
            (h + 1) * wb * n <= BigInt(1000000L) * nb * w
          }
        }.map(_._1).toSet
        withClue(s"trial $trial shares=$shares: ") { kept shouldBe expect }
      }
    }
  }

  test("mixtureUpsample: no document dropped, binding stratum untouched, ratios realized") {
    // 4000 a / 500 b / 100 c rows at target 1:1:2 — 'a' is the most
    // over-represented (argmax n/share) and must keep factor exactly 1
    val df = ((0L until 4000L).map(i => (i, "a")) ++
      (10000L until 10500L).map(i => (i, "b")) ++
      (20000L until 20100L).map(i => (i, "c"))).toDF("id", "lang")
    val out = Sampling.mixtureUpsample(df, "lang", "id",
        Map("a" -> 1L, "b" -> 1L, "c" -> 2L))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // upsampling never drops: every input id appears with copy 1
    out.filter(_._3 == 1L).map(_._1).sorted shouldBe
      df.collect().map(_.getLong(0)).sorted
    val mass = out.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    mass("a") shouldBe 4000L // binding stratum: factor exactly 1
    // b repeats 4000/500 = 8x exactly; c repeats 2*4000/100 = 80x exactly
    mass("b") shouldBe 4000L
    mass("c") shouldBe 8000L
    // determinism across partitionings
    val again = Sampling.mixtureUpsample(df.repartition(7), "lang", "id",
        Map("a" -> 1L, "b" -> 1L, "c" -> 2L))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    again.sorted.toSeq shouldBe out.sorted.toSeq
  }

  test("epochRepeat: fractional factors quantize by the hash gate; loud blow-up guard") {
    val df = (0L until 3000L).map(i => (i, "x")).toDF("id", "lang")
    // 7/3 epochs: every row gets 2 copies, the 1/3 hash slice gets 3
    val out = Sampling.epochRepeat(df, "lang", "id", Map("x" -> (7L, 3L)))
      .groupBy("id").count().collect().map(r => (r.getLong(0), r.getLong(1)))
    out.foreach { case (id, k) =>
      val extra = ((id % 1048573L) * 2654435761L % 1000000L) * 3L < 1000000L * 1L
      k shouldBe (2L + (if (extra) 1L else 0L))
    }
    // realized mass within one quantization step of 3000*7/3 = 7000
    val total = out.map(_._2).sum
    (total - 7000L).abs.toDouble / 7000.0 should be < 0.05
    an[IllegalArgumentException] should be thrownBy
      Sampling.epochRepeat(df, "lang", "id", Map("x" -> (101L, 1L)))
    an[IllegalArgumentException] should be thrownBy
      Sampling.epochRepeat(df.withColumn("copy", lit(1)), "lang", "id",
        Map("x" -> (2L, 1L)))
  }

  test("splitByGroup: whole groups share a label, bands hit their ppm, remainder to last") {
    val df = (0L until 9000L).map(i => (i, i / 3)).toDF("id", "grp")
    val out = Sampling.splitByGroup(df, "grp",
        Seq(("train", 800000L), ("val", 100000L), ("test", 100000L)))
      .select("id", "grp", "split")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // leakage-safety: every row of a group carries the same label
    out.groupBy(_._2).values.foreach(g => g.map(_._3).distinct.length shouldBe 1)
    // labels follow the band arithmetic exactly
    out.foreach { case (_, g, s) =>
      val b = bucket(g)
      val expect = if (b < 800000L) "train" else if (b < 900000L) "val" else "test"
      s shouldBe expect
    }
    val frac = out.groupBy(_._3).view.mapValues(_.size / 9000.0).toMap
    frac("train") shouldBe 0.8 +- 0.03
    frac("val") shouldBe 0.1 +- 0.03
    // under-1e6 bands: the remainder joins the LAST label
    val loose = Sampling.splitByGroup(df, "grp",
        Seq(("a", 100000L), ("b", 100000L)))
      .select("split").distinct().collect().map(_.getString(0)).toSet
    loose shouldBe Set("a", "b")
  }

  test("splitLeakageAudit: orientation-normalized counts per split pair") {
    val labels = Seq((1L, "train"), (2L, "train"), (3L, "test"),
        (4L, "val"), (5L, "test")).toDF("doc_id", "split")
    // (1,3) and (3,2): both are train<->test regardless of orientation;
    // (1,2) intra-train; (4,5) val<->test
    val pairs = Seq((1L, 3L), (3L, 2L), (1L, 2L), (4L, 5L))
      .toDF("id_a", "id_b")
    val out = Sampling.splitLeakageAudit(pairs, labels)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    out shouldBe Set(("test", "train", 2L), ("train", "train", 1L),
      ("test", "val", 1L))
    // an endpoint MISSING from labels surfaces as '(unlabeled)', never
    // a silently dropped pair — the audit must count what it can't vouch for
    val holey = Sampling.splitLeakageAudit(
        Seq((1L, 9L), (9L, 8L)).toDF("id_a", "id_b"), labels)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    holey shouldBe Set(("(unlabeled)", "train", 1L), ("(unlabeled)", "(unlabeled)", 1L))
  }

  test("splitByGroup: NULL group key yields NULL split, not the last band") {
    val df = Seq((1L, Some(5L)), (2L, None)).toDF("id", "grp")
    val out = Sampling.splitByGroup(df, "grp",
        Seq(("train", 900000L), ("test", 100000L)))
      .collect().map(r => r.getLong(0) -> Option(r.getString(2))).toMap
    out(1L).isDefined shouldBe true
    out(2L) shouldBe None
  }

  test("foldByGroup: whole groups share a fold, folds are the exact band arithmetic") {
    val df = (0L until 5000L).map(i => (i, i / 5)).toDF("id", "grp")
    val out = Sampling.foldByGroup(df, "grp", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    out.groupBy(_._2).values.foreach(g => g.map(_._3).distinct.length shouldBe 1)
    out.foreach { case (_, g, f) =>
      f shouldBe ((bucket(g) * 4L) / 1000000L).toInt
    }
    // every fold is populated and roughly balanced
    val sizes = out.groupBy(_._3).view.mapValues(_.size).toMap
    sizes.keySet shouldBe Set(0, 1, 2, 3)
    sizes.values.foreach(_.toDouble / 5000 shouldBe 0.25 +- 0.05)
  }

  test("stringBucket matches the documented md5-prefix formula; splitByGroupStr groups hold") {
    // independent Scala computation of the documented formula
    def strBucket(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).take(4)
      md.foldLeft(0L)((a, b) => a * 256 + (b & 0xff)) % 1000000L
    }
    val keys = Seq("web-crawl-7", "github", "arxiv.org", "", "ünïcødé")
    val got = keys.toDF("k")
      .select(col("k"), Sampling.stringBucket(col("k")).as("b"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    keys.foreach(k => got(k) shouldBe strBucket(k))
    // grouped rows share a label
    val df = (0L until 600L).map(i => (i, s"domain${i % 7}")).toDF("id", "dom")
    val out = Sampling.splitByGroupStr(df, "dom",
        Seq(("train", 800000L), ("heldout", 200000L)))
      .select("dom", "split").collect().map(r => (r.getString(0), r.getString(1)))
    out.groupBy(_._1).values.foreach(g => g.map(_._2).distinct.length shouldBe 1)
  }

  test("splitByGroup keyed on dedup clusters: the leakage audit reads zero cross-split pairs") {
    // the end-to-end contract the op exists for: near-dup pairs ->
    // connected components -> cluster-keyed split -> audit all-diagonal
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (30L, 31L))
      .toDF("id_a", "id_b")
    val clusters = Dedup.connectedComponents(pairs)
    val corpus = Seq(1L, 2L, 3L, 10L, 11L, 20L, 30L, 31L).toDF("doc_id")
    val keyed = corpus.join(clusters, Seq("doc_id"), "left")
      .withColumn("grp", coalesce(col("cluster_id"), col("doc_id")))
    val labeled = Sampling.splitByGroup(keyed, "grp",
      Seq(("train", 700000L), ("val", 150000L), ("test", 150000L)))
    val audit = Sampling.splitLeakageAudit(pairs, labeled)
    audit.filter(col("split_a") =!= col("split_b")).count() shouldBe 0L
    // sanity: the audit saw every pair
    audit.agg(sum(col("n_pairs"))).collect()(0).getLong(0) shouldBe 4L
  }

  test("interleaveShards: window mix tracks the weights, order is deterministic") {
    val df = (0L until 6000L).map(i => (i, if (i % 3 == 0) "code" else "web"))
      .toDF("id", "lang") // web:code row ratio 2:1
    val weights = Map("web" -> 3L, "code" -> 1L)
    val out = Sampling.interleaveShards(df, "lang", "id", weights, nShards = 1)
      .select("id", "lang", "rank", "pos")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // key arithmetic: lcm(3,1)=3; web stride 1, code stride 3
    out.foreach { case (_, lang, rank, pos) =>
      pos shouldBe rank * (if (lang == "web") 1L else 3L)
    }
    // consume in (pos, lang, rank) order: every prefix window holds
    // web:code within one stride of 3:1
    val ordered = out.sortBy(t => (t._4, t._2, t._3))
    var web = 0L; var code = 0L
    ordered.take(2000).foreach { t =>
      if (t._2 == "web") web += 1 else code += 1
      if (web + code >= 8) {
        val ratio = web.toDouble / math.max(code, 1L)
        ratio should be >= 2.0; ratio should be <= 4.5
      }
    }
    // deterministic across partitionings
    val again = Sampling.interleaveShards(df.repartition(7), "lang", "id",
        weights, nShards = 1)
      .select("id", "pos").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    again.toSeq shouldBe out.map(t => (t._1, t._4)).sorted.toSeq
  }

  test("interleaveShards drops strata missing from the schedule, bounds windows by shard") {
    val df = (0L until 900L).map(i => (i, s"s${i % 3}")).toDF("id", "lang")
    val out = Sampling.interleaveShards(df, "lang", "id",
        Map("s0" -> 1L, "s1" -> 1L), nShards = 8)
      .select("lang", "shard", "rank")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    out.map(_._1).toSet shouldBe Set("s0", "s1")
    // ranks restart per (shard, stratum): max rank ~ 300/8, never 300
    val maxRank = out.map(_._3).max
    maxRank should be < 60L
    out.map(_._2).toSet.size shouldBe 8
  }

  test("temperatureSample is deterministic across partitionings") {
    val df = (0L until 5000L).map(i => (i, s"s${i % 5}")).toDF("id", "lang")
    val a = Sampling.temperatureSample(df, "lang", "id", 0.5)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    val b = Sampling.temperatureSample(df.repartition(11), "lang", "id", 0.5)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    a shouldBe b
  }
}
