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

  test("clusterStats reports cardinality and mean cosine per shard") {
    val cents = Array(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val st = Clustering.clusterStats(vecs, cents)
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    st(0)._1 shouldBe 3L
    st(1)._1 shouldBe 3L
    st(0)._2 should be > 0.98
    st(1)._2 should be > 0.98
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

  test("semanticDedupIncremental equals batch semanticDedup over index ∪ batch") {
    val cents = Array(Seq(1.0, 0.0), Seq(0.0, 1.0))
    // standing corpus = the six base vectors; batch ids are all higher,
    // with one near-dup of the corpus (+x), one internal batch dup pair
    // (+y), and one genuinely new direction
    val batch = Seq(
      (10L, Seq(0.95, 0.05)),  // near corpus +x cluster members
      (11L, Seq(0.04, 1.0)),   // near corpus +y members AND id 12
      (12L, Seq(0.05, 1.0)),
      (13L, Seq(0.7, 0.7))     // boundary vector, far from everything? no:
    ).toDF("id", "vec")         // assigns to a cell; cosine decides

    Clustering.saveSemanticIndex(vecs, cents, "sem_idx_spec", buckets = 2)
    val inc = Clustering.semanticDedupIncremental(
        batch, cents, spark.table("sem_idx_spec"), tau = 0.995)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toMap

    val union = vecs.unionByName(batch)
    val full = Clustering.semanticDedup(union, k = 2, tau = 0.995,
        cents = Some(cents))
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toMap
    inc shouldBe full.filter(_._1 >= 10L)

    // appending the batch survivors makes them visible to a later batch
    val kept = batch.join(
      Clustering.semanticDedupIncremental(batch, cents,
        spark.table("sem_idx_spec"), tau = 0.995)
        .filter(col("kept")).select("id"), Seq("id"))
    Clustering.saveSemanticIndex(kept, cents, "sem_idx_spec",
      buckets = 2, append = true)
    val batch2 = Seq((20L, Seq(0.7, 0.7))).toDF("id", "vec") // dup of 13
    val inc2 = Clustering.semanticDedupIncremental(
        batch2, cents, spark.table("sem_idx_spec"), tau = 0.995)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toMap
    // 13 must have survived batch 1 (nothing near (0.7, 0.7) yet), so
    // its appended copy now drops the identical-direction 20
    inc(13L) shouldBe true
    inc2(20L) shouldBe false

    // crash-replay idempotence: a failure AFTER the index append but
    // BEFORE the sink commit replays the same batch against an index
    // that already holds its own survivors — the id guard must keep
    // every previously-kept row kept (no self-match at cosine 1)
    val replay = Clustering.semanticDedupIncremental(
        batch, cents, spark.table("sem_idx_spec"), tau = 0.995)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toMap
    replay.filter(_._2).keySet shouldBe inc.filter(_._2).keySet
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
