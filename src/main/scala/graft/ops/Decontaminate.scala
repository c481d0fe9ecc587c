package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Train/eval decontamination: flag training documents that contain a
  * benchmark (eval-set) document's content, by n-gram CONTAINMENT —
  * `|sh(train) ∩ sh(bench)| / |sh(bench)|` — not symmetric Jaccard: a
  * long web page that embeds a whole benchmark item verbatim has low
  * Jaccard (the page's size dominates the union) but containment ~1.0,
  * and it's exactly the row a pretraining pipeline must drop.
  *
  * Same scale skeleton as [[Dedup.ngramJaccardPairs]] (shared 64-bit
  * shingle fingerprints, df-capped candidate join fused with
  * intersection counting, exact-score supplement for over-cap shingles),
  * but the candidate join is train-index × bench-index instead of a
  * self-join: at 100 TB the train side is the huge one and shuffles once
  * on the 8-byte fingerprint; the bench index (benchmarks are small —
  * thousands of documents) broadcasts under AQE.
  */
object Decontaminate {

  /** (train_id, bench_id, containment) for every pair at or above `tau`.
    *
    * The df cap bounds the train side's hot shingles: a boilerplate
    * shingle in m train docs × b bench docs would emit m·b candidate
    * rows. Capped shingles are excluded from candidate generation but
    * restored to surfaced pairs' scores by the supplement join, so
    * containment is EXACT for every emitted pair; a pair is lost only if
    * every shared shingle is over-cap (see [[Dedup]]'s recall contract —
    * run exact dedup first and boilerplate df collapses).
    */
  def containmentPairs(
      train: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      tau: Double = 0.5,
      dfCap: Int = 512,
      persistIndex: Boolean = true): DataFrame = {
    // Both shingle frames feed 2-4 consumers: cached by default
    // (Caches.eager). persistIndex=false opts out, so repeated calls in
    // a long-lived application don't accumulate executor cache.
    def persisted(df: DataFrame): DataFrame =
      if (persistIndex) Caches.eager(df) else df
    containmentPairsFromIndex(
      persisted(Dedup.shingleFpRows(train, idCol, textCol, k)),
      persisted(Dedup.shingleFpRows(bench, idCol, textCol, k)), tau, dfCap)
  }

  /** [[containmentPairs]] over (id, s) shingle frames
    * ([[Dedup.shingleFpRows]]) the caller built — and caches, when it
    * owns their lifetime (as [[Curation.pipeline]] does).
    */
  private[ops] def containmentPairsFromIndex(
      tEx: DataFrame,
      bEx: DataFrame,
      tau: Double,
      dfCap: Int = 512): DataFrame = {
    require(tau > 0 && tau <= 1, "tau out of (0,1]")
    val bSizes = bEx.groupBy(col("id")).agg(count(lit(1)).as("nb"))

    // train-side df only: the train corpus is the sf-scaling side; bench
    // df is bounded by the (small) benchmark count already
    val overCap = tEx.groupBy(col("s")).agg(count(lit(1)).as("df_"))
      .filter(col("df_") > dfCap).select(col("s"))
    val tKept = if (dfCap <= 0) tEx else tEx.join(overCap, Seq("s"), "left_anti")

    // fused candidates + kept-shingle intersection counts
    val cKept = tKept.select(col("id").as("train_id"), col("s"))
      .join(bEx.select(col("id").as("bench_id"), col("s")), Seq("s"))
      .groupBy(col("train_id"), col("bench_id"))
      .agg(count(lit(1)).as("c_kept"))

    val inter =
      if (dfCap <= 0) cKept.withColumnRenamed("c_kept", "ic")
      else {
        val tOver = tEx.join(overCap, Seq("s"), "left_semi")
        val cOver = cKept.select(col("train_id"), col("bench_id"))
          .join(tOver.select(col("id").as("train_id"), col("s")), Seq("train_id"))
          .join(bEx.select(col("id").as("bench_id"), col("s")), Seq("bench_id", "s"))
          .groupBy(col("train_id"), col("bench_id"))
          .agg(count(lit(1)).as("c_over"))
        cKept.join(cOver, Seq("train_id", "bench_id"), "left")
          .select(col("train_id"), col("bench_id"),
            (col("c_kept") + coalesce(col("c_over"), lit(0L))).as("ic"))
      }

    inter.join(bSizes.select(col("id").as("bench_id"), col("nb")), Seq("bench_id"))
      .withColumn("containment", col("ic").cast("double") / col("nb"))
      .filter(col("containment") >= tau)
      .select(col("train_id"), col("bench_id"), col("containment"))
  }

  /** Per-document contamination SCORE (the GPT-3 appendix-C shape):
    * for every training document, the fraction of its distinct k-gram
    * shingles that appear anywhere in the benchmark union —
    * `|sh(train) ∩ ∪sh(bench)| / |sh(train)|` — plus a `tau` flag.
    * Complements [[containmentPairs]] (which asks "does this train doc
    * CONTAIN a specific benchmark item": bench-normalized, per pair);
    * this is train-normalized and per document, the form reported as a
    * dataset-card contamination statistic and thresholded when the
    * pipeline wants "mostly-eval" documents gone rather than exact
    * embeddings.
    *
    * Scale shape: ONE pass — the train shingle stream left-joins the
    * distinct bench shingle set (bounded by the benchmark corpus, so
    * AQE broadcasts it) and a single per-doc aggregate counts total
    * and hit shingles together; no self-join, no df cap needed (each
    * bench shingle is distinct, so a train shingle row matches at most
    * once — join output is EXACTLY the train shingle stream). The only
    * exchange is the per-doc count, keyed on the id the corpus is
    * already keyed by. Docs too short to shingle score 0.
    */
  def contaminationScore(
      train: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      tau: Double = 0.5): DataFrame = {
    require(tau > 0 && tau <= 1, "tau out of (0,1]")
    val tEx = Dedup.shingleFpRows(train, idCol, textCol, k)
    val bSet = Dedup.shingleFpRows(bench, idCol, textCol, k)
      .select(col("s")).distinct().withColumn("__hit", lit(1))
    val counts = tEx.join(bSet, Seq("s"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shingles"), count(col("__hit")).as("n_hits"))
    train.select(col(idCol).as("id"))
      .join(counts, Seq("id"), "left")
      .select(col("id").as("train_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("overlap",
        when(col("n_shingles") > 0,
          col("n_hits").cast("double") / col("n_shingles"))
          .otherwise(lit(0.0)))
      .withColumn("flagged", col("overlap") >= tau)
  }

  /** Decontamination — drop every train document contaminated at or
    * above `tau` against any benchmark document — behind a Bloom-filter
    * prefilter: the SAME exact result as anti-joining the train ids of
    * [[containmentPairs]] (spec- and oracle-pinned), reached without
    * ever shuffling the training corpus on shingles.
    *
    * [[containmentPairs]] shuffles every train shingle once on its
    * 8-byte fingerprint — linear and fine, but at 100 TB that is still
    * a full-corpus exchange to find the <0.1% of documents that overlap
    * a benchmark at all. Here the bench shingle set (benchmarks are
    * thousands of documents) folds into ONE Bloom sketch
    * ([[graft.functions.BloomFilterAgg]], word-wise-OR mergeable,
    * driver-collected — a single bounded binary, ~1.2 MB at 1M shingles
    * / 1% fpp), which rides the plan as a codegen reference object. The
    * train pass is then scan → shingle → bloom-test → distinct over HIT
    * doc ids: the only exchange is over hit ids, whose volume tracks
    * the contamination rate (plus the deterministic fp rate), not the
    * corpus. The hit documents — a tiny semi-joined slice — rerun the
    * exact containment pipeline, so Bloom false positives cannot reach
    * the output: a false-positive shingle only costs a candidate doc
    * its exact re-check. No false negatives exist, so no contaminated
    * doc escapes the prefilter.
    */
  def decontaminateBloom(
      train: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      tau: Double = 0.5,
      dfCap: Int = 512,
      fpp: Double = 0.01): DataFrame =
    bloomGate(bench, idCol, textCol, k, tau, dfCap, fpp).clean(train)

  /** [[contaminationScore]] behind a Bloom prefilter — identical
    * output (see [[BloomGate.score]] for the exactness argument and
    * the scale shape). One-shot form; hold a [[bloomGate]] to score
    * many batches against one sketch.
    */
  def contaminationScoreBloom(
      train: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      tau: Double = 0.5,
      fpp: Double = 0.01): DataFrame =
    bloomGate(bench, idCol, textCol, k, tau, fpp = fpp).score(train)

  /** A PREBUILT Bloom decontamination gate: the benchmark shingle set
    * folded once into the driver-held sketch, reusable across many
    * train batches — the build-once/probe-many shape
    * ([[Dedup.MinhashIndex]], [[Similarity.IvfIndex]] are the same
    * lifecycle).
    */
  final class BloomGate private[ops] (
      bench: DataFrame,
      sketch: Option[(Array[Byte], Int, Int)],
      idCol: String, textCol: String,
      k: Int, tau: Double, dfCap: Int) extends Serializable {

    /** Exact decontaminate of `train` behind the sketch prefilter —
      * the SAME rows as the anti-join over [[containmentPairs]] (spec-pinned:
      * Bloom false positives only cost their exact re-check; no false
      * negatives exist). Per-call cost: one train scan + the exact
      * containment pipeline over the (tiny) hit slice. The bench side
      * is re-shingled per call — bounded by the benchmark size, and
      * deliberately NOT cached here so repeated gate use (a long
      * stream) accumulates no executor cache.
      */
    def clean(train: DataFrame): DataFrame = sketch match {
      case None => train
      case Some((bytes, numBits, numHashes)) =>
        import graft.functions.BloomFunctions
        val hitIds = Dedup.shingleFpRows(train, idCol, textCol, k)
          .filter(BloomFunctions.bloomMightContain(col("s"), bytes, numBits, numHashes))
          .select(col("id").as(idCol)).distinct()
        val candidates = train.join(hitIds, Seq(idCol), "left_semi")
        val bad = containmentPairs(candidates, bench, idCol, textCol, k, tau,
            dfCap, persistIndex = false)
          .select(col("train_id").as(idCol)).distinct()
        train.join(bad, Seq(idCol), "left_anti")
    }

    /** [[Decontaminate.contaminationScore]] behind the sketch — the
      * SAME rows exactly (spec-pinned): Bloom has no false negatives,
      * so every true hit shingle reaches the exact semi-join, and a
      * false-positive shingle fails there (it is not in the bench set)
      * before it can touch a count. The 100 TB win over the plain
      * score: the bench shingle set no longer meets the whole train
      * shingle stream — only the Bloom-hit slice (volume tracks the
      * contamination rate + the deterministic fp rate) shuffles into
      * the exact join; the per-doc `n_shingles` side is a join-free
      * scan→aggregate. Per-doc n_shingles still requires shingling
      * every doc — that pass is inherent to the statistic.
      */
    def score(train: DataFrame): DataFrame = {
      val tEx = Dedup.shingleFpRows(train, idCol, textCol, k)
      val nSh = tEx.groupBy(col("id")).agg(count(lit(1)).as("n_shingles"))
      val nHits = sketch match {
        case None =>
          // empty benchmark: nothing can hit; an empty keyed frame
          // keeps the assembly below uniform
          nSh.filter(lit(false)).select(col("id"), col("n_shingles").as("n_hits"))
        case Some((bytes, numBits, numHashes)) =>
          import graft.functions.BloomFunctions
          val bSet = Dedup.shingleFpRows(bench, idCol, textCol, k)
            .select(col("s")).distinct()
          tEx.filter(BloomFunctions.bloomMightContain(col("s"), bytes, numBits, numHashes))
            .join(bSet, Seq("s"), "left_semi")
            .groupBy(col("id")).agg(count(lit(1)).as("n_hits"))
      }
      train.select(col(idCol).as("id"))
        .join(nSh, Seq("id"), "left")
        .join(nHits, Seq("id"), "left")
        .select(col("id").as("train_id"),
          coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"))
        .withColumn("overlap",
          when(col("n_shingles") > 0,
            col("n_hits").cast("double") / col("n_shingles"))
            .otherwise(lit(0.0)))
        .withColumn("flagged", col("overlap") >= tau)
    }
  }

  /** Build a [[BloomGate]] from the benchmark set: size the sketch from
    * the bench shingle count (one bounded agg over the small persisted
    * bench index), fold it word-wise with [[graft.functions.BloomFilterAgg]],
    * release the build-time cache. An empty benchmark yields a pass-
    * through gate.
    */
  def bloomGate(
      bench: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      tau: Double = 0.5,
      dfCap: Int = 512,
      fpp: Double = 0.01): BloomGate = {
    import graft.functions.{BloomFunctions, BloomRuntime}
    val bFps = Dedup.shingleFpRows(bench, idCol, textCol, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nBench = bFps.count()
    val sketch =
      if (nBench == 0) None
      else {
        val (numBits, numHashes) = BloomRuntime.sizeFor(nBench, fpp)
        Some((bFps
          .agg(BloomFunctions.bloomAgg(col("s"), numBits, numHashes).as("bf"))
          .head().getAs[Array[Byte]]("bf"), numBits, numHashes))
      }
    bFps.unpersist()
    new BloomGate(bench, sketch, idCol, textCol, k, tau, dfCap)
  }
}
