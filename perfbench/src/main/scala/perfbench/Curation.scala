package perfbench

import graft.functions.{CentroidKernel, VectorKernel}
import graft.ops.{Curation, Similarity}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import scala.collection.mutable

/** Seeded corpus in clone shards, after the scale ladder's model.
  *
  * The base shard holds `baseDocs` documents of 10-99 words over a small
  * vocabulary, a seeded share of them near-duplicates (one word changed)
  * of a recent document, and `baseVecs` clustered 64-dim embeddings.
  * Shard k > 0 renames every token `t -> t~k` (near-duplicate structure
  * stays inside the shard) and rotates the embedding dimensions by
  * `13k mod 64` (an orthogonal transform: within-shard cosines are
  * unchanged, cross-shard ones decorrelate). Ids are offset by
  * `k * IdStride`.
  */
final class CorpusGen(spark: SparkSession, seed: Long, val baseDocs: Long, val baseVecs: Long,
                      val shards: Int, files: Int) {
  require(shards >= 1 && shards <= 64, "the rotation is injective for up to 64 shards")
  private val rnd = new scala.util.Random(seed ^ 0x5DEECE66DL)
  val nearDupRate: Double = 0.08 + 0.04 * rnd.nextDouble()
  val clusters: Int = 96 + rnd.nextInt(9)
  val IdStride = 1000000000L

  private def u(salt: Int): Column =
    pmod(xxhash64(col("id"), lit(seed), lit(salt)), lit(1000003L)).cast("double") / 1000003.0

  private val vocab = Seq("batch", "part", "spark", "line", "column", "order", "small",
    "sort", "fast", "value", "scan", "hash", "slow", "group", "agg", "filter", "query",
    "big", "key", "window", "row", "table", "stream", "merge", "data", "join", "vector",
    "customer", "the", "a", "index", "shard", "token", "model", "train", "cache", "plan",
    "stage", "task", "node", "graph", "edge", "score", "rank", "label", "split", "text",
    "word", "page", "site")

  private def shardsCol = explode(sequence(lit(0), lit(shards - 1)))

  def documents: DataFrame = {
    val vocabSql = vocab.map(w => s"'$w'").mkString("array(", ", ", ")")
    spark.range(0, baseDocs, 1, files)
      .withColumn("dup", col("id") > 10 && u(1) < nearDupRate)
      .withColumn("gid", when(col("dup"), col("id") - 1 - floor(u(2) * 10)).otherwise(col("id")))
      .withColumn("len", pmod(xxhash64(col("gid"), lit(seed), lit(3)), lit(90L)) + 10)
      .withColumn("p", when(col("dup"), floor(u(4) * col("len")) + 1).otherwise(lit(-1L)))
      .withColumn("text", expr(
        s"""concat_ws(' ', transform(sequence(1, CAST(len AS INT)), j -> element_at($vocabSql,
           |  CAST(pmod(xxhash64(IF(j = p, gid + 7777777, gid), j, ${seed}L), ${vocab.size}) AS INT) + 1)))"""
          .stripMargin))
      .withColumn("lang", element_at(array(Seq("en", "fr", "de", "zh").map(lit): _*),
        (u(5) * 4).cast("int") + 1))
      .withColumn("source", concat(lit("src"), pmod(col("id"), lit(20L))))
      .withColumn("shard", shardsCol)
      .select(
        (col("id") + col("shard") * IdStride).as("doc_id"),
        when(col("shard") === 0, col("text")).otherwise(regexp_replace(col("text"),
          lit("(\\S+)"), concat(lit("$1~"), col("shard")))).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  def embeddings: DataFrame =
    spark.range(0, baseVecs, 1, files)
      .withColumn("cid", floor(u(30) * clusters))
      .withColumn("embedding", expr(
        s"""transform(sequence(0, 63), d -> CAST(
           |  (pmod(xxhash64(cid, d, ${seed}L, 31), 2000001) / 1000000.0 - 1.0)
           |  + 0.3 * (pmod(xxhash64(id, d, ${seed}L, 32), 2000001) / 1000000.0 - 1.0) AS FLOAT))"""
          .stripMargin))
      .withColumn("shard", shardsCol)
      .withColumn("s", (col("shard") * 13) % 64)
      .select(
        (col("id") + col("shard") * IdStride).as("vec_id"),
        when(col("s") === 0, col("embedding")).otherwise(expr(
          "concat(slice(embedding, s + 1, 64 - s), slice(embedding, 1, s))")).as("embedding"),
        (col("cid") % 10).cast("int").as("label"))

  def write(dir: String): Unit = {
    documents.repartition(files).write.mode("overwrite").parquet(s"$dir/documents")
    embeddings.repartition(files).write.mode("overwrite").parquet(s"$dir/embeddings")
  }
}

/** Curation composition plus IVF top-k over the clone-sharded corpus. */
final class CurationTopK(spark: SparkSession, o: Opts) extends Workload {
  /** Queries: the first `Queries` vectors of shard 0; `K` neighbours each. */
  val Queries = 32
  val K = 10
  /** Least share of the exact top-k the IVF result must recover. */
  val MinRecall = 0.6

  private val gen = new CorpusGen(spark, o.seed, baseDocs = 1500, baseVecs = 1200, shards = 2,
    files = 2 * o.cores)
  private val dir = s"${o.scratch}/input"
  private var docCount = 0L
  private var vecCount = 0L
  private var exact: Set[(Long, Long)] = Set.empty
  private var reference: Option[Seq[(Long, Long)]] = None

  def rowsPerRun: Long = docCount

  def inputLabels: Map[String, Any] = Map(
    "documents_rows" -> docCount, "documents_bytes" -> Disk.bytes(s"$dir/documents"),
    "embeddings_rows" -> vecCount, "embeddings_bytes" -> Disk.bytes(s"$dir/embeddings"),
    "base_documents" -> gen.baseDocs, "base_vectors" -> gen.baseVecs, "shards" -> gen.shards,
    "near_dup_rate" -> gen.nearDupRate, "clusters" -> gen.clusters,
    "queries" -> Queries, "k" -> K)

  def setup(): Unit = {
    gen.write(dir)
    docCount = spark.read.parquet(s"$dir/documents").count()
    vecCount = spark.read.parquet(s"$dir/embeddings").count()
    if (o.injectWrongExpected) docCount += 1
    spark.read.parquet(s"$dir/embeddings").createOrReplaceTempView("pb_emb")
    exact = spark.sql(
      s"""WITH n AS (
         |  SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM pb_emb),
         |m AS (SELECT vec_id, v, sqrt(aggregate(v, 0D, (a, x) -> a + x * x)) AS nv FROM n),
         |q AS (SELECT vec_id AS qid, v AS qv, nv AS qn FROM m WHERE vec_id < $Queries),
         |s AS (SELECT qid, m.vec_id AS nid,
         |  aggregate(zip_with(qv, m.v, (a, b) -> a * b), 0D, (acc, x) -> acc + x) / (qn * m.nv) AS cos
         |  FROM q CROSS JOIN m WHERE m.vec_id <> qid)
         |SELECT qid, nid FROM (
         |  SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS r FROM s)
         |WHERE r <= $K""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.catalog.dropTempView("pb_emb")
  }

  def run(tr: Tracer): RunOut = {
    tr.phase(Tracer.RunPhase)
    val t0 = System.nanoTime()
    val docs = spark.read.parquet(s"$dir/documents")
    val st = tr.span("ops.v6_stages") { Curation.pipelineV6Stages(docs) }
    val summary = tr.span("ops.v6_summary") { st.summary.collect() }
    st.release()
    val emb = spark.read.parquet(s"$dir/embeddings")
      .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("vec"))
    val nlist = Similarity.sizedIvfNlist(vecCount)
    val top = tr.span("ops.topk") {
      Similarity.ivfTopK(emb.filter(col("id") < Queries), emb, K, nlist = nlist,
        nprobe = math.max(4, nlist / 4), knownCount = Some(vecCount))
        .select("query_id", "neighbor_id").collect()
    }
    val wall = (System.nanoTime() - t0) / 1e9
    tr.phase(Tracer.CheckPhase)
    val cacheLeft = Disk.cachedBytes(spark)

    val p = mutable.ArrayBuffer.empty[String]
    val splits = summary.map(r => r.getAs[String]("split")).toSet
    if (splits != Set("train", "val", "test")) p += s"splits ${splits.mkString(",")}"
    summary.foreach { r =>
      val cross = r.getAs[Long]("n_cross_pairs")
      if (cross != 0L) p += s"split ${r.getAs[String]("split")} has $cross cross-split pairs"
    }
    val docs0 = summary.map(_.getAs[Long]("n_docs")).sum
    if (docs0 != docCount) p += s"summary counts $docs0 documents, corpus has $docCount"
    val ids = top.map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    if (ids.size != Queries * K) p += s"top-k returned ${ids.size} rows, expected ${Queries * K}"
    val recall = ids.count(exact.contains).toDouble / exact.size
    if (recall < MinRecall) p += f"top-k recall $recall%.3f below $MinRecall"
    reference match {
      case None => reference = Some(ids)
      case Some(ref) => if (ref != ids) p += "top-k ids differ from the first run's"
    }
    val layers = if (!tr.enabled) Map.empty[String, Double] else Map(
      "ops.cache_left_bytes" -> cacheLeft.toDouble,
      "topk.results" -> (Queries * K).toDouble)
    RunOut(wall, p.toSeq, layers)
  }

  /** The `graft.functions` kernels that `ivfTopK`'s expressions
    * evaluate per row, called directly (no Spark job ever starts in
    * that module, so call-site attribution never sees it): the
    * NearestCentroid pass over the corpus plus ProbeCentroids over the
    * queries, and VecCosine of every query against every corpus vector.
    */
  def directLayers(tr: Tracer): Map[String, Double] = {
    tr.phase("direct")
    val emb = spark.read.parquet(s"$dir/embeddings")
      .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("vec"))
    val nlist = Similarity.sizedIvfNlist(vecCount)
    val cents = Similarity.ivfCentroids(emb, nlist, knownCount = Some(vecCount)).map(_.toArray)
    val norms = CentroidKernel.norms(cents)
    val rows = emb.collect().sortBy(_.getLong(0))
    val vecs = rows.map(r => UnsafeArrayData.fromPrimitiveArray(r.getSeq[Double](1).toArray))
    val queries = vecs.zip(rows).collect { case (v, r) if r.getLong(0) < Queries => v }
    val nprobe = math.max(4, nlist / 4)
    // each body returns what it computed, so none of the work is dead
    def med(body: => Any): Double = Main.median((0 until 7).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9 })
    Map(
      "functions.centroid_s" -> med {
        vecs.map(v => CentroidKernel.nearest(v, cents, norms)).sum +
          queries.map(q => CentroidKernel.probe(q, cents, norms, nprobe).numElements()).sum
      },
      "functions.cosine_s" -> med {
        queries.map(q => vecs.map(v => VectorKernel.cosine(q, v)).sum).sum
      })
  }
}
