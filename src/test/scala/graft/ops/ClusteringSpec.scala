package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Clustering (semantic corpus sharding): nearest-centroid assignment is
  * oracle-pinned by `embed_partition` on real data; these specs pin the
  * semantics — argmax-cosine routing, tie handling, Lloyd convergence —
  * on hand-built vectors where the geometry is derivable by eye.
  */
class ClusteringSpec extends SparkSpec {
  import spark.implicits._

  // two tight groups around the +x and +y axes
  private val vecs = Seq(
    (0L, Seq(1.0, 0.0)), (1L, Seq(0.9, 0.1)), (2L, Seq(1.0, 0.05)),
    (3L, Seq(0.0, 1.0)), (4L, Seq(0.1, 0.9)), (5L, Seq(0.05, 1.0))
  ).toDF("id", "vec")

  test("seedCentroids takes the k smallest-id vectors in id order") {
    val s = Clustering.seedCentroids(vecs, 2)
    s shouldBe Array(Seq(1.0, 0.0), Seq(0.9, 0.1))
  }

  test("assign routes each vector to its argmax-cosine centroid") {
    val cents = Array(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val a = Clustering.assign(vecs, cents)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    a shouldBe Map(0L -> 0, 1L -> 0, 2L -> 0, 3L -> 1, 4L -> 1, 5L -> 1)
  }

  test("assign breaks exact cosine ties to the highest centroid index") {
    // duplicate centroids -> identical cosines; kernel contract (and the
    // embed_partition oracle's ORDER BY cosine DESC, cid DESC) picks the
    // highest index
    val cents = Array(Seq(1.0, 0.0), Seq(1.0, 0.0), Seq(2.0, 0.0))
    val a = Clustering.assign(Seq((0L, Seq(3.0, 0.0))).toDF("id", "vec"), cents)
      .collect().map(_.getInt(1))
    a shouldBe Array(2)
  }

  test("assignScored cosine matches VecCosine against the assigned centroid") {
    val cents = Array(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val sc = Clustering.assignScored(vecs, cents)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    sc.length shouldBe 6
    // id 0 is exactly its centroid
    sc.find(_._1 == 0L).get._3 shouldBe 1.0 +- 1e-12
    // every cosine is the max over both centroids
    val m = vecs.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    sc.foreach { case (id, _, c) =>
      c shouldBe cents.map(cos(m(id), _)).max +- 1e-12
    }
  }

  test("kmeans recovers the two natural groups and improves the objective") {
    val model = Clustering.kmeans(vecs, k = 2, iters = 3)
    model.centroids.length shouldBe 2
    val a = Clustering.assign(vecs, model.centroids)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // the x-group and y-group land in different clusters, each pure
    Set(a(0L), a(1L), a(2L)).size shouldBe 1
    Set(a(3L), a(4L), a(5L)).size shouldBe 1
    a(0L) should not be a(3L)
    // Lloyd rounds don't regress the spherical objective vs the raw
    // sample init (same seed => same starting centroids)
    val init = Similarity.ivfCentroids(vecs, 2, iters = 0)
    Clustering.meanCosine(vecs, model.centroids) should be >=
      Clustering.meanCosine(vecs, init) - 1e-9
  }

  test("kmeans over one repeated vector reports the centroids it holds") {
    val same = (0L until 6L).map(i => (i, Seq(0.6, 0.8))).toDF("id", "vec")
    val model = Clustering.kmeans(same, k = 2, iters = 2)
    model.centroids.length shouldBe 1
    model.k shouldBe model.centroids.length
  }

  test("kmeans is deterministic across runs (fixed seed)") {
    val a = Clustering.kmeans(vecs, 2, iters = 2).centroids
    val b = Clustering.kmeans(vecs, 2, iters = 2).centroids
    a.map(_.toList).toList shouldBe b.map(_.toList).toList
  }

  test("semanticDedup drops higher-id near-dups within a cluster only") {
    val cents = Some(Array(Seq(1.0, 0.0), Seq(0.0, 1.0)))
    // cos(0,2)≈0.9988, cos(0,1)≈0.9939, cos(1,2)≈0.9965; tau=0.998
    // drops only id 2 (vs id 0); the +y cluster is looser at that tau
    // except (3,5): cos≈0.99875 — also over, drops id 5
    val out = Clustering.semanticDedup(vecs, k = 2, tau = 0.998, cents = cents)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    out(0L) shouldBe true
    out(1L) shouldBe true
    out(2L) shouldBe false
    out(3L) shouldBe true
    out(5L) shouldBe false
    // cross-cluster pairs are never compared: everything survives a tau
    // below every intra-cluster cosine only if within-cluster pairs miss
    val all = Clustering.semanticDedup(vecs, k = 2, tau = 1.01, cents = cents)
      .collect().map(_.getBoolean(2))
    all.forall(identity) shouldBe true
  }

  test("semanticDedup clusterCap skips pairing in over-cap clusters (all kept)") {
    val cents = Some(Array(Seq(1.0, 0.0), Seq(0.0, 1.0)))
    val out = Clustering.semanticDedup(vecs, k = 2, tau = 0.9,
        cents = cents, clusterCap = 2)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    // both clusters hold 3 > 2 rows: pairing is skipped, nothing dropped
    out.values.forall(identity) shouldBe true
  }
}
