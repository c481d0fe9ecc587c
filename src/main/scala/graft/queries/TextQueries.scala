package graft.queries

import graft.ops.{Dedup, Multimodal, Similarity, TextAnalysis => TA}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data pipeline queries: text analysis, dedup tiers, similarity
  * search, multimodal plumbing. Oracles re-express the exact same
  * arithmetic in DuckDB (left-fold doubles, integer counts cast to
  * BIGINT); hash-based ops (MinHash/SimHash/SRP) that depend on Spark's
  * xxhash64 either share the exact-verify oracle (MinHash: candidates are
  * verified with exact Jaccard) or are covered by ScalaTest instead.
  */
object TextQueries {

  private val sqlTokens = "string_split(text, ' ')"
  private def sqlStopHits(words: Seq[String]) =
    s"len(list_filter($sqlTokens, t -> t IN (${words.map(w => s"'$w'").mkString(",")})))"
  private val enHits = sqlStopHits(TA.stopwords("en"))
  private val deHits = sqlStopHits(TA.stopwords("de"))
  private val esHits = sqlStopHits(TA.stopwords("es"))
  private val frHits = sqlStopHits(TA.stopwords("fr"))

  /** Jaccard-pair oracle shared by the inverted-index and MinHash-LSH
    * implementations (both verify candidates with exact Jaccard; LSH
    * recall at j>=0.8 with 21x3 bands is 1 - 3e-7).
    */
  private val jaccardOracle = """
      WITH docs AS (
        SELECT doc_id, list_distinct(list_transform(
          range(1, len(string_split(text,' ')) - 1),
          i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])) AS sh
        FROM documents)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
      FROM docs a, docs b
      WHERE a.doc_id < b.doc_id
        AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8
      ORDER BY id_a, id_b"""

  private val dotSql = (x: String, y: String) =>
    s"list_reduce(list_transform(range(1, 65), i -> $x[i]*$y[i]), (a,b) -> a+b)"

  /** Recall-vs-brute-force check row for an ANN operator: the query
    * count is exactly oracle-checkable; recall@5 against the exact
    * top-k must clear a safe-margin threshold.
    *
    * The truth is derived FRESH per invocation, always. A round-12
    * draft memoized it per (dir, geometry, k) in a module-level map —
    * reverted: a cross-invocation result memo keyed on the data dir
    * means a bench rep after the first no longer computes from the
    * parquet inputs (the warmup would pay the truth scan and every
    * timed rep would skip it), which misstates the audit row's real
    * cost. Within ONE invocation nothing is derived twice (`e` is
    * persisted, truth and probe share it), which is the legitimate
    * form of that amortization.
    */
  private def annRecallRow(s: org.apache.spark.sql.SparkSession, dir: String,
      minRecall: Double = 0.4,
      vectors: Option[org.apache.spark.sql.DataFrame] = None)
      (ann: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) =>
        org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    // the (id, vec) frame feeds brute force + the ANN op (and, for IVF,
    // every Lloyd training pass) — persist the one small projection
    // instead of re-computing it per consumer. Default source: the
    // embeddings table; pass `vectors` for any other (id, vec) frame
    // (e.g. hashTfVectors over documents).
    val e = vectors.getOrElse(
        Tables.load(s, dir, "embeddings")
          .select(col("vec_id").as("id"), Similarity.toDoubleVec(col("embedding")).as("vec")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val q = e.filter(col("id") < 20)
    val exact = Similarity.bruteForceTopK(q, e, k = 5)
      .select("query_id", "neighbor_id")
    val approx = ann(q, e).select("query_id", "neighbor_id")
    // ONE job: both result sets are unique on (query_id, neighbor_id), so
    // a left join marks hits and a single aggregate yields total + hits
    // + query count (vs three actions re-running brute force each time)
    val c = exact
      .join(approx.withColumn("hit", lit(1)), Seq("query_id", "neighbor_id"), "left")
      .agg(count(lit(1)).as("total"), count(col("hit")).as("hits"),
        countDistinct(col("query_id")).as("nq"))
      .head()
    e.unpersist()
    val (total, hits, nq) = (c.getLong(0), c.getLong(1), c.getLong(2))
    Seq((nq, 5L, hits >= minRecall * total))
      .toDF("n_queries", "k", "recall_ok")
  }

  private val annRecallOracle = """
      SELECT (SELECT count(*) FROM embeddings WHERE vec_id < 20) AS n_queries,
             CAST(5 AS BIGINT) AS k, true AS recall_ok"""

  /** Production-like CLUSTERED geometry derived from the embeddings
    * table: 6 tight jittered variants per corpus vector
    * ([[Similarity.perturbedVariants]], eps = 0.02 against component
    * spread ±0.3), so every query's exact top-5 is its own cluster's
    * other 5 members at cosine ≈ 0.999 — far above the raw corpus's
    * inter-vector cosines (≤ ~0.15). The raw-table recall rows measure
    * the WORST case (near-uniform vectors, data-limited top-k gaps);
    * these rows pin that the same ANN stacks recover essentially
    * everything when the data has real neighborhood structure.
    *
    * [[ClusteredVariants]] is the single source of the variant count:
    * the derived corpus size (`n * ClusteredVariants`), the sized-knob
    * inputs of every clustered row, and each oracle's variant
    * arithmetic are all interpolated from it, so changing m here
    * re-sizes everything consistently instead of silently skewing a
    * hardcoded copy.
    */
  private val ClusteredVariants = 6

  private def clusteredVectors(s: org.apache.spark.sql.SparkSession,
                               dir: String): org.apache.spark.sql.DataFrame =
    Similarity.perturbedVariants(
      Tables.load(s, dir, "embeddings")
        .select(col("vec_id").as("id"),
          Similarity.toDoubleVec(col("embedding")).as("vec")),
      m = ClusteredVariants, eps = 0.02, dim = 64)

  private val annRecallClusteredOracle = s"""
      SELECT count(*) AS n_queries, CAST(5 AS BIGINT) AS k, true AS recall_ok
      FROM (SELECT vec_id * $ClusteredVariants + u AS id
            FROM embeddings, unnest(range($ClusteredVariants)) t(u))
      WHERE id < 20"""

  def all: Seq[QueryDef] = Seq(

    QueryDef("text_tokens", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      docs.select(col("doc_id"),
          TA.tokenCount(col("text")).cast("long").as("n_tokens"),
          length(col("text")).cast("long").as("text_len"))
        .orderBy("doc_id")
    }, Some(s"""
      SELECT doc_id, len($sqlTokens) AS n_tokens, length(text) AS text_len
      FROM documents ORDER BY doc_id""")),

    // cross-engine regex parity: Spark's regexp_count and DuckDB's
    // regexp_extract_all tokenize every document with the SAME
    // BPE-ish pattern (letter runs / digit runs / symbol runs)
    QueryDef("text_tokens_bpe", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      docs.select(col("doc_id"),
          TA.tokenCountBpe(col("text")).cast("long").as("n_bpe_tokens"))
        .orderBy("doc_id")
    }, Some(s"""
      SELECT doc_id,
        len(regexp_extract_all(text, '${TA.BpeTokenPattern}')) AS n_bpe_tokens
      FROM documents ORDER BY doc_id""")),

    QueryDef("text_quality", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      docs.select(col("doc_id"),
          TA.avgTokenLen(col("text")).as("avg_token_len"),
          TA.stopwordRatio(col("text")).as("stop_ratio"),
          TA.alphaRatio(col("text")).as("alpha_ratio"),
          TA.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")
    }, Some(s"""
      SELECT doc_id,
        CAST(list_reduce(list_transform($sqlTokens, t -> length(t)), (a,b) -> a+b) AS DOUBLE) / len($sqlTokens) AS avg_token_len,
        CAST($enHits AS DOUBLE) / len($sqlTokens) AS stop_ratio,
        CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) / length(text) AS alpha_ratio,
        least(CAST(1.0 AS DOUBLE), CAST(len($sqlTokens) AS DOUBLE) / 100.0) * 0.4
          + least(CAST(1.0 AS DOUBLE), (CAST($enHits AS DOUBLE) / len($sqlTokens)) * 5.0) * 0.3
          + CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) / length(text) * 0.3 AS quality
      FROM documents ORDER BY doc_id""")),

    QueryDef("text_langid", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      docs.select(col("doc_id"), col("lang"),
          TA.langId(col("text")).as("pred_lang"),
          TA.stopwordHits(col("text"), "en").cast("long").as("s_en"),
          TA.stopwordHits(col("text"), "de").cast("long").as("s_de"),
          TA.stopwordHits(col("text"), "es").cast("long").as("s_es"),
          TA.stopwordHits(col("text"), "fr").cast("long").as("s_fr"))
        .orderBy("doc_id")
    }, Some(s"""
      WITH sc AS (SELECT doc_id, lang,
        $enHits AS s_en, $deHits AS s_de, $esHits AS s_es, $frHits AS s_fr
        FROM documents)
      SELECT doc_id, lang,
        CASE WHEN s_en = 0 AND s_de = 0 AND s_es = 0 AND s_fr = 0 THEN 'und'
             WHEN s_en >= greatest(s_de, s_es, s_fr) THEN 'en'
             WHEN s_de >= greatest(s_es, s_fr) THEN 'de'
             WHEN s_es >= s_fr THEN 'es'
             ELSE 'fr' END AS pred_lang,
        s_en, s_de, s_es, s_fr
      FROM sc ORDER BY doc_id""")),

    // language-ID confusion matrix: the langid heuristic evaluated
    // against the labeled lang column, per (truth, prediction) cell with
    // per-truth recall — the eval view a pipeline reads before trusting
    // the classifier's routing. One partial-agged groupBy.
    QueryDef("langid_confusion", (s, dir) => {
      val docs = Tables.loadSpread(s, dir, "documents")
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
      docs.select(col("lang"), TA.langId(col("text")).as("pred_lang"))
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
        .withColumn("lang_share",
          col("n").cast("double") / sum(col("n")).over(w))
        .orderBy("lang", "pred_lang")
    }, Some(s"""
      WITH sc AS (SELECT doc_id, lang,
        $enHits AS s_en, $deHits AS s_de, $esHits AS s_es, $frHits AS s_fr
        FROM documents),
      pred AS (
        SELECT lang,
          CASE WHEN s_en = 0 AND s_de = 0 AND s_es = 0 AND s_fr = 0 THEN 'und'
               WHEN s_en >= greatest(s_de, s_es, s_fr) THEN 'en'
               WHEN s_de >= greatest(s_es, s_fr) THEN 'de'
               WHEN s_es >= s_fr THEN 'es'
               ELSE 'fr' END AS pred_lang
        FROM sc),
      cells AS (
        SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n
        FROM pred GROUP BY 1, 2)
      SELECT lang, pred_lang, n,
        CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY lang) AS lang_share
      FROM cells ORDER BY lang, pred_lang""")),

    QueryDef("text_fingerprint", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      docs.select(col("doc_id"), TA.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    }, Some("""
      SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp
      FROM documents ORDER BY doc_id""")),

    // an end-to-end training-data curation pipeline in ONE declarative
    // plan: score -> quality-gate -> exact-dedup (keep lowest doc_id per
    // fingerprint) -> per-language corpus stats. Integer-only outputs so
    // the oracle is exact; the double quality gate is safe because the
    // per-doc quality values are bit-identical across engines (proven by
    // text_quality's hash match).
    QueryDef("text_pipeline", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val scored = docs.select(col("doc_id"),
        TA.tokenCount(col("text")).cast("long").as("n_tokens"),
        TA.qualityScore(col("text")).as("quality"),
        TA.langId(col("text")).as("pred_lang"),
        TA.fingerprint(col("text")).as("fp"))
      val kept = scored.filter(col("quality") >= 0.5 && col("n_tokens") >= 10L)
      val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
      kept.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .groupBy(col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          min(col("doc_id")).as("first_doc"))
        .orderBy("pred_lang")
    }, Some(s"""
      WITH scored AS (
        SELECT doc_id, len($sqlTokens) AS n_tokens,
          least(CAST(1.0 AS DOUBLE), CAST(len($sqlTokens) AS DOUBLE) / 100.0) * 0.4
            + least(CAST(1.0 AS DOUBLE), (CAST($enHits AS DOUBLE) / len($sqlTokens)) * 5.0) * 0.3
            + CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) / length(text) * 0.3 AS quality,
          $enHits AS s_en, $deHits AS s_de, $esHits AS s_es, $frHits AS s_fr,
          md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp
        FROM documents),
      labeled AS (
        SELECT doc_id, n_tokens, quality, fp,
          CASE WHEN s_en = 0 AND s_de = 0 AND s_es = 0 AND s_fr = 0 THEN 'und'
               WHEN s_en >= greatest(s_de, s_es, s_fr) THEN 'en'
               WHEN s_de >= greatest(s_es, s_fr) THEN 'de'
               WHEN s_es >= s_fr THEN 'es'
               ELSE 'fr' END AS pred_lang
        FROM scored),
      kept AS (SELECT * FROM labeled WHERE quality >= 0.5 AND n_tokens >= 10),
      dedup AS (SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM kept)
      SELECT pred_lang, count(*) AS n_docs,
        CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        min(doc_id) AS first_doc
      FROM dedup WHERE rn = 1 GROUP BY pred_lang ORDER BY pred_lang""")),

    QueryDef("dedup_exact", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Dedup.exactGroups(docs, "doc_id", "text").orderBy("fp")
    }, Some("""
      SELECT md5(text) AS fp, min(doc_id) AS keeper, count(*) AS n_dups
      FROM documents GROUP BY 1 ORDER BY fp""")),

    // quality-aware survivor election: keeper = highest score (a
    // synthetic per-doc score that VARIES inside dup groups so the
    // argmax is actually exercised), ties to lowest id
    QueryDef("dedup_exact_best", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
        .withColumn("q", (col("doc_id") % 7).cast("long"))
      Dedup.exactGroupsBest(docs, "doc_id", "text", "q").orderBy("fp")
    }, Some("""
      SELECT fp, keeper, keeper_score, n_dups FROM (
        SELECT md5(text) AS fp, doc_id AS keeper, doc_id % 7 AS keeper_score,
          count(*) OVER (PARTITION BY md5(text)) AS n_dups,
          row_number() OVER (PARTITION BY md5(text)
            ORDER BY doc_id % 7 DESC, doc_id ASC) AS rn
        FROM documents)
      WHERE rn = 1 ORDER BY fp""")),

    QueryDef("dedup_ngram", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 3, tau = 0.8)
        .orderBy("id_a", "id_b")
    }, Some(jaccardOracle)),

    QueryDef("dedup_minhash", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Dedup.minhashLshPairs(docs, "doc_id", "text", k = 3, tau = 0.8)
        .orderBy("id_a", "id_b")
    }, Some(jaccardOracle)),

    // the closure step a real dedup needs after ANY pairwise tier: pair
    // chains (A,B),(B,C) are ONE duplicate group, keyed by its min doc
    // id. Oracle: DuckDB recursive-CTE transitive closure over the same
    // exact-jaccard pair list.
    QueryDef("dedup_clusters", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 3, tau = 0.8)
      Dedup.connectedComponents(pairs).orderBy("doc_id")
    }, Some("""
      WITH RECURSIVE docs AS (
        SELECT doc_id, list_distinct(list_transform(
          range(1, len(string_split(text,' ')) - 1),
          i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])) AS sh
        FROM documents),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM docs a, docs b
        WHERE a.doc_id < b.doc_id
          AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
      edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
      reach AS (
        SELECT src AS id, src AS r FROM edges
        UNION
        SELECT e.src AS id, reach.r FROM edges e JOIN reach ON reach.id = e.dst)
      SELECT id AS doc_id, min(r) AS cluster_id
      FROM reach GROUP BY id ORDER BY doc_id""")),

    // quality-aware survivor election over the SAME near-dup clusters:
    // keep the LONGEST member of each component (ties to lowest id) —
    // exactGroupsBest lifted to transitive near-dup components
    QueryDef("dedup_keep_best", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 3, tau = 0.8)
      val clusters = Dedup.connectedComponents(pairs)
      Dedup.bestClusterMembers(clusters,
          docs.select(col("doc_id"), col("n_chars")), "doc_id", "n_chars")
        .orderBy("cluster_id")
    }, Some("""
      WITH RECURSIVE docs AS (
        SELECT doc_id, list_distinct(list_transform(
          range(1, len(string_split(text,' ')) - 1),
          i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])) AS sh
        FROM documents),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM docs a, docs b
        WHERE a.doc_id < b.doc_id
          AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
      edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
      reach AS (
        SELECT src AS id, src AS r FROM edges
        UNION
        SELECT e.src AS id, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
      cc AS (
        SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id)
      SELECT cluster_id, keeper, keeper_score, n_members FROM (
        SELECT cc.cluster_id, d.doc_id AS keeper, d.n_chars AS keeper_score,
          count(*) OVER (PARTITION BY cc.cluster_id) AS n_members,
          row_number() OVER (PARTITION BY cc.cluster_id
            ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn
        FROM cc JOIN documents d ON cc.doc_id = d.doc_id)
      WHERE rn = 1 ORDER BY cluster_id""")),

    // the production shape: corpus indexed once, incoming batch deduped
    // against the stored index without re-shingling the corpus. Corpus =
    // even doc_ids, batch = odd; oracle is the exact cross-side jaccard.
    QueryDef("dedup_incremental", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val idx = Dedup.minhashIndex(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", k = 3)
      Dedup.minhashLshIncremental(docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", idx, tau = 0.8)
        .orderBy("id_new", "id_corpus")
    }, Some("""
      WITH docs AS (
        SELECT doc_id, list_distinct(list_transform(
          range(1, len(string_split(text,' ')) - 1),
          i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])) AS sh
        FROM documents)
      SELECT a.doc_id AS id_new, b.doc_id AS id_corpus,
        CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
      FROM docs a, docs b
      WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
        AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8
      ORDER BY id_new, id_corpus""")),

    // SimHash bit patterns depend on Spark's xxhash64, so the PAIR LIST
    // has no SQL oracle — but its RECOVERY of the exact near-dup truth
    // is engine-independent: emit the truth-pair count (DuckDB-checkable
    // exactly) plus a thresholded recall flag (measured recall at
    // maxHamming=8 is 0.96-1.0 across SFs; 0.7 leaves safe margin).
    QueryDef("dedup_simhash", (s, dir) => {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
      val truth = Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 3, tau = 0.8)
        .select("id_a", "id_b")
      // simhashPairs(maxHamming=h) returns EXACTLY {pairs: hamming<=h}:
      // pigeonhole banding guarantees every within-budget pair collides
      // in >=1 chunk, and the verify filter is hamming<=h (proven by
      // DedupSpec's all-pairs equivalence test). So recovery of the
      // small truth set needs only the sketches joined to the truth
      // pairs — not the full banding self-join, which at sf0.1 builds
      // ~2M bucket-collision candidates just to be intersected with 256
      // truth pairs.
      val sk = Dedup.simhashSketches(docs, "doc_id", "text")
      // ONE job for both counts — a second action would re-run the whole
      // ngram truth pipeline (inner joins keep every truth pair: every
      // doc with >= 1 token has a sketch)
      val c = truth
        .join(sk.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
        .join(sk.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
        .agg(count(lit(1)).as("n_true"),
          count_if(bit_count(col("sh_a").bitwiseXOR(col("sh_b"))) <= 8).as("n_rec"))
        .head()
      val (nTruth, nRecovered) = (c.getLong(0), c.getLong(1))
      Seq((nTruth, nRecovered >= 0.7 * nTruth))
        .toDF("n_true_pairs", "recall_ok")
    }, Some("""
      WITH docs AS (
        SELECT doc_id, list_distinct(list_transform(
          range(1, len(string_split(text,' ')) - 1),
          i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])) AS sh
        FROM documents)
      SELECT count(*) AS n_true_pairs, true AS recall_ok
      FROM docs a, docs b
      WHERE a.doc_id < b.doc_id
        AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8""")),

    QueryDef("sim_topk", (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id").as("id"), Similarity.toDoubleVec(col("embedding")).as("vec"))
      val q = e.filter(col("id") < 20)
      Similarity.bruteForceTopK(q, e, k = 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }, Some(s"""
      WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          ${dotSql("q.v", "c.v")} / (sqrt(${dotSql("q.v", "q.v")}) * sqrt(${dotSql("c.v", "c.v")})) AS cosine
        FROM e q, e c WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id)
      SELECT query_id, neighbor_id, rank, cosine FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored) WHERE rank <= 5
      ORDER BY query_id, rank""")),

    // -- hard-negative mining: top-3 most-similar embeddings with a
    // DIFFERENT label per query (Similarity.hardNegativeTopK — the
    // contrastive-pair generator; exact baseline, label predicate below
    // the top-k; scale path = IVF over-fetch + label filter) --
    QueryDef("hard_negatives", (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id").as("id"),
          Similarity.toDoubleVec(col("embedding")).as("vec"),
          col("label").cast("long").as("label"))
      val q = e.filter(col("id") < 40)
      Similarity.hardNegativeTopK(q, e, k = 3)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }, Some(s"""
      WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                 FROM embeddings),
      scored AS (
        SELECT q.vec_id AS query_id, q.label AS query_label,
          c.vec_id AS neighbor_id, c.label AS neighbor_label,
          ${dotSql("q.v", "c.v")} / (sqrt(${dotSql("q.v", "q.v")}) * sqrt(${dotSql("c.v", "c.v")})) AS cosine
        FROM e q, e c WHERE q.vec_id < 40 AND q.label <> c.label)
      SELECT query_id, query_label, neighbor_id, neighbor_label, rank, cosine
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, neighbor_id) AS rank FROM scored)
      WHERE rank <= 3 ORDER BY query_id, rank""")),

    // -- margin-based pair mining (Artetxe & Schwenk ratio margin, the
    // LASER bitext shape): best cross-set partner per query, scored
    // relative to both sides' k-NN neighborhood density; k-NN means
    // fold in RANK order so the doubles are engine-identical
    // (Similarity.marginPairsRun) --
    QueryDef("margin_pairs", (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id").as("id"),
          Similarity.toDoubleVec(col("embedding")).as("vec"))
      val a = e.filter(col("id") % 2 === 0 && col("id") < 200)
      val b = e.filter(col("id") % 2 === 1 && col("id") < 200)
      val run = Similarity.marginPairsRun(a, b, k = 4, minMargin = 1.0)
      Tables.materializeAndRelease(run.pairs.orderBy("query_id"), run.release)
    }, Some(s"""
      WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      a AS (SELECT vec_id, v FROM e WHERE vec_id % 2 = 0 AND vec_id < 200),
      b AS (SELECT vec_id, v FROM e WHERE vec_id % 2 = 1 AND vec_id < 200),
      scored AS (
        SELECT a.vec_id AS qid, b.vec_id AS nid,
          ${dotSql("a.v", "b.v")} / (sqrt(${dotSql("a.v", "a.v")}) * sqrt(${dotSql("b.v", "b.v")})) AS cosine
        FROM a, b),
      rq AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS r FROM scored),
      mq AS (SELECT qid,
          (sum(cosine) FILTER (r = 1) + sum(cosine) FILTER (r = 2)
           + sum(cosine) FILTER (r = 3) + sum(cosine) FILTER (r = 4)) / 4.0 AS mean_q
        FROM rq WHERE r <= 4 GROUP BY qid),
      rn AS (SELECT *, row_number() OVER (PARTITION BY nid ORDER BY cosine DESC, qid) AS r FROM scored),
      mn AS (SELECT nid,
          (sum(cosine) FILTER (r = 1) + sum(cosine) FILTER (r = 2)
           + sum(cosine) FILTER (r = 3) + sum(cosine) FILTER (r = 4)) / 4.0 AS mean_n
        FROM rn WHERE r <= 4 GROUP BY nid),
      m AS (SELECT s.qid, s.nid, s.cosine,
              s.cosine / ((mq.mean_q + mn.mean_n) / 2.0) AS margin
            FROM scored s JOIN mq USING (qid) JOIN mn USING (nid)),
      best AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY margin DESC, nid) AS br FROM m)
      SELECT qid AS query_id, nid AS neighbor_id, cosine, margin
      FROM best WHERE br = 1 AND margin >= 1.0
      ORDER BY query_id""")),

    // -- the hard-negative miner's IVF scale tier: same label filter
    // below the same top-k, over the probe join's cell-local
    // candidates (Similarity.hardNegativeTopKIvf). Neighbor lists are
    // centroid-seed dependent (no SQL oracle) so emit the exact query
    // count + a thresholded recall flag vs the exact miner (measured
    // 0.52-0.58 across SFs — the sim_topk_ivf probe recall, as
    // expected; 0.4 leaves safe margin) --
    QueryDef("hard_negatives_ivf", (s, dir) => {
      import s.implicits._
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id").as("id"),
          Similarity.toDoubleVec(col("embedding")).as("vec"),
          col("label").cast("long").as("label"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val q = e.filter(col("id") < 40)
      val exact = Similarity.hardNegativeTopK(q, e, k = 3)
        .select("query_id", "neighbor_id")
      val approx = Similarity.hardNegativeTopKIvf(q, e, k = 3)
        .select("query_id", "neighbor_id")
      val c = exact
        .join(approx.withColumn("hit", lit(1)),
          Seq("query_id", "neighbor_id"), "left")
        .agg(count(lit(1)).as("total"), count(col("hit")).as("hits"),
          countDistinct(col("query_id")).as("nq"))
        .head()
      e.unpersist()
      Seq((c.getLong(2), 3L, c.getLong(1) >= 0.4 * c.getLong(0)))
        .toDF("n_queries", "k", "recall_ok")
    }, Some("""
      SELECT (SELECT count(*) FROM embeddings WHERE vec_id < 40) AS n_queries,
             CAST(3 AS BIGINT) AS k, true AS recall_ok""")),

    // -- k-NN majority-vote label classification (Similarity.knnClassify
    // — the embedding-space probe): exact all-pairs baseline; neighbor
    // ties break to the lower id, vote ties to the smallest label, so
    // the prediction is a pure function of the input and the oracle is
    // exact --
    QueryDef("knn_classify", (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id").as("id"),
          Similarity.toDoubleVec(col("embedding")).as("vec"),
          col("label").cast("long").as("label"))
      val q = e.filter(col("id") < 60)
      Similarity.knnClassify(q, e, k = 5)
        .orderBy("query_id")
    }, Some(s"""
      WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                 FROM embeddings),
      scored AS (
        SELECT q.vec_id AS query_id, q.label AS true_label,
          c.vec_id AS neighbor_id, c.label AS cl,
          ${dotSql("q.v", "c.v")} / (sqrt(${dotSql("q.v", "q.v")}) * sqrt(${dotSql("c.v", "c.v")})) AS cosine
        FROM e q, e c WHERE q.vec_id < 60 AND q.vec_id <> c.vec_id),
      nn AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, neighbor_id) AS rank FROM scored)
             WHERE rank <= 5),
      votes AS (SELECT query_id, true_label, cl, CAST(count(*) AS BIGINT) AS votes
                FROM nn GROUP BY 1, 2, 3)
      SELECT query_id, true_label, cl AS predicted_label, votes,
        cl = true_label AS correct
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY votes DESC, cl) AS vr FROM votes)
      WHERE vr = 1 ORDER BY query_id""")),

    // -- the classifier's IVF scale tier (Similarity.knnClassifyIvf):
    // same rank-5 cut + majority vote over the probe join's cell-local
    // candidates. Predictions are centroid-seed dependent (no SQL
    // oracle), so emit the exact query count + a thresholded
    // prediction-AGREEMENT flag vs the exact classifier (measured
    // 0.65-0.70 across SFs at nprobe=8 — these near-uniform synthetic
    // embeddings are the worst case, every vote is marginal; 0.5
    // leaves safe margin) --
    QueryDef("knn_classify_ivf", (s, dir) => {
      import s.implicits._
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id").as("id"),
          Similarity.toDoubleVec(col("embedding")).as("vec"),
          col("label").cast("long").as("label"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val q = e.filter(col("id") < 60)
      val exact = Similarity.knnClassify(q, e, k = 5)
        .select(col("query_id"), col("predicted_label").as("pe"))
      val approx = Similarity.knnClassifyIvf(q, e, k = 5, nprobe = 8)
        .select(col("query_id"), col("predicted_label").as("pa"))
      // ONE job: both emit exactly one row per query, so a left join
      // marks agreement and a single aggregate yields the totals
      val c = exact.join(approx, Seq("query_id"), "left")
        .agg(count(lit(1)).as("total"),
          count(when(col("pa") === col("pe"), 1)).as("agree"))
        .head()
      e.unpersist()
      Seq((c.getLong(0), 5L, c.getLong(1) >= 0.5 * c.getLong(0)))
        .toDF("n_queries", "k", "agree_ok")
    }, Some("""
      SELECT (SELECT count(*) FROM embeddings WHERE vec_id < 60) AS n_queries,
             CAST(5 AS BIGINT) AS k, true AS agree_ok""")),

    // -- the margin miner's IVF scale tier: same rank-ordered margin
    // arithmetic fed by ivfTopKIndexed over-fetch per direction instead
    // of the cross product. Best-partner agreement with the exact miner
    // is centroid-seed dependent (no SQL oracle), so — like the
    // sim_topk_* rows — emit the exactly-checkable query count plus a
    // thresholded recall flag (measured 0.72-0.83 across SFs vs the
    // exact marginPairsRun best partners; 0.5 leaves safe margin) --
    QueryDef("margin_pairs_ivf", (s, dir) => {
      import s.implicits._
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id").as("id"),
          Similarity.toDoubleVec(col("embedding")).as("vec"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val a = e.filter(col("id") % 2 === 0 && col("id") < 200)
      val b = e.filter(col("id") % 2 === 1 && col("id") < 200)
      val run = Similarity.marginPairsRun(a, b, k = 4, minMargin = 0.0)
      val exact = run.pairs.select("query_id", "neighbor_id")
      val approx = Similarity.marginPairsIvf(a, b, k = 4, minMargin = 0.0,
          overfetch = 4, nlist = 8, nprobe = 4)
        .select("query_id", "neighbor_id")
      // ONE job over both miners: exact pairs are unique per query, so a
      // left join marks partner agreement and a single aggregate yields
      // totals (the annRecallRow shape)
      val c = exact
        .join(approx.withColumn("hit", lit(1)),
          Seq("query_id", "neighbor_id"), "left")
        .agg(count(lit(1)).as("total"), count(col("hit")).as("hits"))
        .head()
      // n_queries comes from the query SIDE, not the surviving-pair
      // count: a query whose best margin lands negative is dropped by
      // the miner, and the oracle's count(*) must still match
      val nq = a.count()
      run.release(); e.unpersist()
      Seq((nq, 4L, c.getLong(1) >= 0.5 * c.getLong(0)))
        .toDF("n_queries", "k", "recall_ok")
    }, Some("""
      SELECT (SELECT count(*) FROM embeddings WHERE vec_id % 2 = 0 AND vec_id < 200) AS n_queries,
             CAST(4 AS BIGINT) AS k, true AS recall_ok""")),

    // ANN neighbor LISTS depend on seeded hyperplanes/centroids (no SQL
    // oracle), but recall-vs-brute-force is engine-independent: emit the
    // query count (DuckDB-checkable exactly) and a thresholded recall
    // flag (measured: IVF 0.57-0.58, SRP-LSH 0.59-0.70 across SFs; 0.4
    // leaves safe margin). The approximate op still runs in full.
    QueryDef("sim_topk_ivf", (s, dir) =>
      annRecallRow(s, dir)((q, e) => Similarity.ivfTopK(q, e, k = 5)),
      Some(annRecallOracle)),

    // -- the SCALED form of sim_topk_ivf: nlist sized from the corpus
    // (smallest pow2 p with p*p >= n — integer-exact sqrt ceiling, the
    // sizedShingleDim convention) and nprobe held at a constant 1/4 of
    // the grid, so probe cost grows with sqrt(corpus) instead of
    // linearly while the probed fraction — and with it recall — stays
    // put. The oracle re-derives the CHOSEN nlist from the same corpus
    // count, pinning the sizing rule cross-engine; recall keeps the
    // thresholded-flag check (neighbor lists are centroid-seed
    // dependent; measured 0.60-0.76 across SFs at the sized grid —
    // ABOVE the fixed grid's 0.57-0.58 at the SAME probed fraction
    // (1/4): finer cells concentrate candidates around the query)
    QueryDef("sim_topk_ivf_auto", (s, dir) => {
      val n = Tables.load(s, dir, "embeddings").count()
      val nlist = Similarity.sizedIvfNlist(n)
      val nprobe = math.max(4, nlist / 4)
      annRecallRow(s, dir)((q, e) =>
          Similarity.ivfTopK(q, e, k = 5, nlist = nlist, nprobe = nprobe,
            knownCount = Some(n)))
        .withColumn("nlist", lit(nlist.toLong))
    }, Some("""
      WITH n AS (SELECT count(*) AS cnt FROM embeddings),
      nl AS (SELECT COALESCE(MIN(d), CAST(1048576 AS BIGINT)) AS nlist
             FROM (SELECT CAST(power(2, i) AS BIGINT) AS d FROM range(1, 21) t(i)), n
             WHERE d * d >= cnt)
      SELECT (SELECT count(*) FROM embeddings WHERE vec_id < 20) AS n_queries,
             CAST(5 AS BIGINT) AS k, true AS recall_ok,
             (SELECT nlist FROM nl) AS nlist""")),

    // -- the recall-LIFTED sized-grid tier (Similarity.ivfRerankTopK):
    // dual cell assignment on the corpus side + int8 over-fetch + exact
    // re-rank, at the SAME probed fraction (1/4 of the sized grid) as
    // sim_topk_ivf_auto. Dual assignment squares the per-neighbor
    // cell-miss probability (the recall loss source no re-rank can
    // recover), and the q8 over-fetch margin absorbs quantization
    // reordering before the exact re-rank restores true cosine order —
    // so the recall criterion RISES to 0.8 on the same near-uniform
    // worst-case geometry where single-assignment IVF measures
    // 0.51-0.76 (RecallCheck sweep: na=3 measures 0.86 / 0.96 / 0.93
    // at sf0.001/0.01/0.1 vs na=2's 0.81 at the smallest SF — too
    // close to the gate, so triple assignment buys the margin; of=4
    // equals of=8 everywhere, q8 barely reorders). The oracle
    // re-derives the sized nlist cross-engine like the auto row. --
    QueryDef("sim_topk_ivf_rerank", (s, dir) => {
      val n = Tables.load(s, dir, "embeddings").count()
      val nlist = Similarity.sizedIvfNlist(n)
      val nprobe = math.max(4, nlist / 4)
      annRecallRow(s, dir, minRecall = 0.8)((q, e) =>
          Similarity.ivfRerankTopK(q, e, k = 5, nlist = nlist,
            nprobe = nprobe, nassign = 3, overFetch = 4,
            knownCount = Some(n)))
        .withColumn("nlist", lit(nlist.toLong))
    }, Some("""
      WITH n AS (SELECT count(*) AS cnt FROM embeddings),
      nl AS (SELECT COALESCE(MIN(d), CAST(1048576 AS BIGINT)) AS nlist
             FROM (SELECT CAST(power(2, i) AS BIGINT) AS d FROM range(1, 21) t(i)), n
             WHERE d * d >= cnt)
      SELECT (SELECT count(*) FROM embeddings WHERE vec_id < 20) AS n_queries,
             CAST(5 AS BIGINT) AS k, true AS recall_ok,
             (SELECT nlist FROM nl) AS nlist""")),

    // -- the FULLY SIZED rerank tier: nassign/overFetch now corpus-
    // sized too (Similarity.sizedRerankKnobs — measured recall-target
    // sweep; the tier's last fixed capacity knobs). ONE row pins the
    // 0.8 recall gate on BOTH geometries — the near-uniform raw
    // embeddings (worst case: data-limited top-k gaps) AND the
    // 6-variant clustered corpus (production-like: every query's true
    // top-5 is its own cluster) — each at ITS OWN sized knobs (the
    // clustered corpus is 6x larger, so the rule is exercised at two
    // counts per SF). The oracle re-derives nlist AND the knob rule
    // from the same counts, pinning the sizing cross-engine. --
    QueryDef("sim_topk_ivf_rerank_auto", (s, dir) => {
      import s.implicits._
      val n = Tables.load(s, dir, "embeddings").count()
      val nlist = Similarity.sizedIvfNlist(n)
      val nprobe = math.max(4, nlist / 4)
      val (na, of) = Similarity.sizedRerankKnobs(n)
      val nc = n * ClusteredVariants // explode is exact: no second count job
      val cnlist = Similarity.sizedIvfNlist(nc)
      val cnprobe = math.max(4, cnlist / 4)
      val (cna, cof) = Similarity.sizedRerankKnobs(nc)
      // the two geometry audits share NOTHING (separate corpora,
      // separate trainings, separate truth) and each is a serial chain
      // of small jobs (sample, Lloyd collects, final aggregate) that
      // underfills the machine — run them as concurrent driver-thread
      // chains (guide §2.6) so one chain's tail back-fills the other's
      // idle cores; same frames, same results, FIFO-overlapped
      val Seq(uni, clu) = Chains.all(s)(Seq(
        () => annRecallRow(s, dir, minRecall = 0.8)((q, e) =>
          Similarity.ivfRerankTopK(q, e, k = 5, nlist = nlist,
            nprobe = nprobe, nassign = na, overFetch = of,
            knownCount = Some(n))).head(),
        () => annRecallRow(s, dir, minRecall = 0.8,
            vectors = Some(clusteredVectors(s, dir)))((q, e) =>
          Similarity.ivfRerankTopK(q, e, k = 5, nlist = cnlist,
            nprobe = cnprobe, nassign = cna, overFetch = cof,
            knownCount = Some(nc))).head()))
      Seq((uni.getLong(0), 5L, uni.getBoolean(2), clu.getBoolean(2),
          na.toLong, of.toLong, nlist.toLong, cna.toLong, cnlist.toLong))
        .toDF("n_queries", "k", "recall_ok", "recall_ok_clustered",
          "nassign", "over_fetch", "nlist", "nassign_clustered",
          "nlist_clustered")
    }, Some(s"""
      WITH n AS (SELECT count(*) AS cnt FROM embeddings),
      nl AS (SELECT COALESCE(MIN(d), CAST(1048576 AS BIGINT)) AS nlist
             FROM (SELECT CAST(power(2, i) AS BIGINT) AS d FROM range(1, 21) t(i)), n
             WHERE d * d >= cnt),
      nlc AS (SELECT COALESCE(MIN(d), CAST(1048576 AS BIGINT)) AS nlist
              FROM (SELECT CAST(power(2, i) AS BIGINT) AS d FROM range(1, 21) t(i)), n
              WHERE d * d >= $ClusteredVariants * cnt)
      SELECT (SELECT count(*) FROM embeddings WHERE vec_id < 20) AS n_queries,
             CAST(5 AS BIGINT) AS k, true AS recall_ok,
             true AS recall_ok_clustered,
             (SELECT CAST(CASE WHEN cnt <= 65536 THEN 3 ELSE 2 END AS BIGINT)
               FROM n) AS nassign,
             CAST(4 AS BIGINT) AS over_fetch,
             (SELECT nlist FROM nl) AS nlist,
             (SELECT CAST(CASE WHEN $ClusteredVariants * cnt <= 65536 THEN 3 ELSE 2 END AS BIGINT)
               FROM n) AS nassign_clustered,
             (SELECT nlist FROM nlc) AS nlist_clustered""")),

    QueryDef("sim_topk_lsh", (s, dir) =>
      annRecallRow(s, dir)((q, e) => Similarity.srpLshTopK(q, e, k = 5)),
      Some(annRecallOracle)),

    // the production int8 tier: IVF candidate pruning + VecCosineI8
    // scoring over the index's pre-quantized corpus column. Recall vs
    // the exact double scan tracks plain IVF (quantization reorders
    // only near-equal cosines; measured 0.56-0.58 across SFs)
    QueryDef("sim_topk_q8_ivf", (s, dir) =>
      annRecallRow(s, dir)((q, e) => Similarity.ivfTopKQ8(q, e, k = 5)),
      Some(annRecallOracle)),

    // the SRP twin: same multi-table candidate bits (full-precision
    // bucketing, so recall tracks sim_topk_lsh), int8 join payload +
    // scoring kernel
    QueryDef("sim_topk_q8_lsh", (s, dir) =>
      annRecallRow(s, dir)((q, e) => Similarity.srpLshTopKQ8(q, e, k = 5)),
      Some(annRecallOracle)),

    // -- the q8 tier LIFTED by the rerank shape (round 12, VERDICT r11
    // item 4) at the q8 tier's OWN geometry — nlist=16, nprobe=4, the
    // SAME probed fraction and the SAME VecCosineI8 stage-1 kernel as
    // sim_topk_q8_ivf (documented recall 0.56-0.58): corpus-sized
    // multi-assign + int8 over-fetch + exact re-rank of the
    // k*overFetch survivors pins >= 0.8 on BOTH geometries. The lift
    // is pure candidate shape (nassign) + rerank tail — full-precision
    // vectors still travel only for survivors. The oracle re-derives
    // both geometries' sized nassign from the corpus counts. --
    QueryDef("sim_topk_q8_rerank", (s, dir) => {
      import s.implicits._
      val n = Tables.load(s, dir, "embeddings").count()
      val (na, of) = Similarity.sizedRerankKnobs(n)
      val (cna, cof) = Similarity.sizedRerankKnobs(n * ClusteredVariants)
      // independent geometry chains overlapped from driver threads —
      // see sim_topk_ivf_rerank_auto
      val Seq(uni, clu) = Chains.all(s)(Seq(
        () => annRecallRow(s, dir, minRecall = 0.8)((q, e) =>
          Similarity.ivfRerankTopK(q, e, k = 5, nlist = 16, nprobe = 4,
            nassign = na, overFetch = of, knownCount = Some(n))).head(),
        () => annRecallRow(s, dir, minRecall = 0.8,
            vectors = Some(clusteredVectors(s, dir)))((q, e) =>
          Similarity.ivfRerankTopK(q, e, k = 5, nlist = 16, nprobe = 4,
            nassign = cna, overFetch = cof,
            knownCount = Some(n * ClusteredVariants))).head()))
      Seq((uni.getLong(0), 5L, uni.getBoolean(2), clu.getBoolean(2),
          na.toLong, of.toLong, cna.toLong))
        .toDF("n_queries", "k", "recall_ok", "recall_ok_clustered",
          "nassign", "over_fetch", "nassign_clustered")
    }, Some(s"""
      WITH n AS (SELECT count(*) AS cnt FROM embeddings)
      SELECT (SELECT count(*) FROM embeddings WHERE vec_id < 20) AS n_queries,
             CAST(5 AS BIGINT) AS k, true AS recall_ok,
             true AS recall_ok_clustered,
             (SELECT CAST(CASE WHEN cnt <= 65536 THEN 3 ELSE 2 END AS BIGINT)
               FROM n) AS nassign,
             CAST(4 AS BIGINT) AS over_fetch,
             (SELECT CAST(CASE WHEN $ClusteredVariants * cnt <= 65536 THEN 3 ELSE 2 END AS BIGINT)
               FROM n) AS nassign_clustered""")),

    // -- JL random projection: the md5-portable Rademacher matrix is ----
    // re-derived INDEPENDENTLY by the oracle (sign(j,i) = parity of the
    // first hex digit of md5('rp:j:i')), and the projected coordinates
    // are strict left folds of ±float terms — bit-identical across
    // engines, so this is a full-hash row pinning the VecProject kernel
    QueryDef("emb_project", (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id").as("id"),
          Similarity.toDoubleVec(col("embedding")).as("vec"))
      val proj = Similarity.randomProject(e, dIn = 64, dOut = 4)
      proj.select(col("id").as("vec_id") +:
          (0 until 4).map(j => element_at(col("vec"), j + 1).as(s"p$j")): _*)
        .orderBy("vec_id")
    }, Some {
      def pj(j: Int) =
        s"""list_reduce(list_transform(range(1, 65), i ->
           CASE WHEN substring(md5('rp:$j:' || CAST(i-1 AS VARCHAR)), 1, 1)
                     IN ('0','2','4','6','8','a','c','e')
                THEN CAST(embedding[i] AS DOUBLE)
                ELSE -CAST(embedding[i] AS DOUBLE) END), (a,b) -> a+b) AS p$j"""
      s"""
      SELECT vec_id, ${(0 until 4).map(pj).mkString(", ")}
      FROM embeddings ORDER BY vec_id"""
    }),

    // reduced-space over-fetch + exact re-rank (the coarse-then-refine
    // production ANN shape). The synthetic embeddings are near-uniform
    // random — all 500 pairwise cosines sit within ~±0.125 of 0, so JL
    // reordering of the tiny top-k gaps is inherent to the DATA, not
    // the op (measured 0.46-0.85 across SFs at dOut=48/overFetch=8;
    // clustered-data recall is spec-pinned at 1.0). 0.3 leaves the
    // sim_topk_ivf-style safe margin.
    QueryDef("sim_topk_rp", (s, dir) =>
      annRecallRow(s, dir, minRecall = 0.3)((q, e) =>
        Similarity.rpRerankTopK(q, e, k = 5, dIn = 64, dOut = 48, overFetch = 8)),
      Some(annRecallOracle)),

    // the full production stack: IVF candidates generated IN the
    // projected space (cheap geometry), exact full-dim re-rank of
    // candidates only. Measured 0.60-0.73 across SFs at
    // dOut=48/overFetch=16/nprobe=8; 0.4 leaves the standard margin
    QueryDef("sim_topk_rp_ivf", (s, dir) =>
      annRecallRow(s, dir, minRecall = 0.4)((q, e) =>
        Similarity.rpIvfRerankTopK(q, e, k = 5, dIn = 64, dOut = 48,
          overFetch = 16, nprobe = 8)),
      Some(annRecallOracle)),

    // -- the same IVF / RP+IVF stacks on PRODUCTION-LIKE geometry
    // (clusteredVectors: 6 jittered variants per corpus vector) — the
    // raw-table rows above measure the near-uniform worst case at 0.4+;
    // with real neighborhood structure the recall criterion is 0.9 --
    QueryDef("sim_topk_ivf_clustered", (s, dir) =>
      annRecallRow(s, dir, minRecall = 0.9,
        vectors = Some(clusteredVectors(s, dir)))((q, e) =>
        Similarity.ivfTopK(q, e, k = 5)),
      Some(annRecallClusteredOracle)),

    QueryDef("sim_topk_rp_ivf_clustered", (s, dir) =>
      annRecallRow(s, dir, minRecall = 0.9,
        vectors = Some(clusteredVectors(s, dir)))((q, e) =>
        Similarity.rpIvfRerankTopK(q, e, k = 5, dIn = 64, dOut = 48,
          overFetch = 16, nprobe = 8)),
      Some(annRecallClusteredOracle)),

    // -- the SCALED form of the SRP-bucketed embedding near-dup tier:
    // planesPerTable sized from the corpus (smallest p with
    // 32·2^p >= n — integer shifts, the sizedShingleDim/sizedIvfNlist
    // convention) so expected bucket occupancy stays ~32 at any scale;
    // a FIXED plane count grows buckets linearly with the corpus and
    // the m² candidate join quadratically, until bucketCap drops whole
    // buckets (the hash-dim saturation disease in SRP clothing). The
    // corpus is the clustered-geometry table (6 jittered variants per
    // base vector, within-cluster cosine ~0.999, cross-cluster <= 0.60
    // measured at all 3 SFs), so the tau=0.95 truth set is EXACTLY the
    // 15 within-cluster pairs per base vector; the oracle re-derives
    // the planted count AND the sized plane count cross-engine, and
    // the row asserts recall >= 0.9 over it (far from the floor by
    // construction: eight tables at theta ~2.6 deg miss a pair with
    // p ~ 2e-9 per pair; the flag held at all 3 SFs)
    QueryDef("emb_neardup_srp_auto", (s, dir) => {
      import s.implicits._
      val vecs = clusteredVectors(s, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = vecs.count()
      val planes = Similarity.sizedSrpPlanes(n)
      val found = Similarity.embeddingNearDupPairs(vecs, tau = 0.95,
        numTables = 8, planesPerTable = planes).count()
      vecs.unpersist()
      // within-cluster pairs per base vector: C(m, 2) over the variants
      val pairsPerCluster = ClusteredVariants * (ClusteredVariants - 1) / 2
      val planted = (n / ClusteredVariants) * pairsPerCluster
      Seq((n, planes.toLong, planted, found >= 0.9 * planted))
        .toDF("n_vectors", "planes", "n_planted", "recall_ok")
    }, Some(s"""
      WITH n AS (SELECT count(*) * $ClusteredVariants AS cnt FROM embeddings),
      pl AS (SELECT COALESCE(MIN(p), 30) AS planes
             FROM range(2, 31) t(p), n
             WHERE (CAST(32 AS BIGINT) << p) >= cnt)
      SELECT (SELECT cnt FROM n) AS n_vectors,
             (SELECT planes FROM pl) AS planes,
             (SELECT count(*) * ${ClusteredVariants * (ClusteredVariants - 1) / 2}
                FROM embeddings) AS n_planted,
             true AS recall_ok""")),

    // nearest-centroid corpus sharding against DETERMINISTIC seeds (the
    // k smallest-id vectors): full hash oracle — this is the query that
    // pins the NearestCentroid codegen kernel (left-fold cosine, argmax
    // ties to HIGHEST index) against an independent engine; every IVF
    // cell assignment rides the same kernel.
    QueryDef("embed_partition", (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id").as("id"), Similarity.toDoubleVec(col("embedding")).as("vec"))
      val seeds = graft.ops.Clustering.seedCentroids(e, 8)
      graft.ops.Clustering.assign(e, seeds)
        .select(col("id").as("vec_id"), col("cluster").cast("long").as("cluster"))
        .orderBy("vec_id")
    }, Some(s"""
      WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      seeds AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
                FROM (SELECT * FROM e ORDER BY vec_id LIMIT 8)),
      scored AS (
        SELECT e.vec_id, s.cid,
          ${dotSql("e.v", "s.c")} / (sqrt(${dotSql("e.v", "e.v")}) * sqrt(${dotSql("s.c", "s.c")})) AS cosine
        FROM e, seeds s)
      SELECT vec_id, CAST(cid AS BIGINT) AS cluster FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, cid DESC) AS rn
        FROM scored) WHERE rn = 1
      ORDER BY vec_id""")),

    // SemDeDup: cluster the embedding space (the deterministic seed
    // assignment embed_partition pins), prune near-dup pairs WITHIN each
    // cluster only, greedy lowest-id survivor. Full hash oracle — both
    // the assignment kernel and the pair pruning are replayed in SQL.
    QueryDef("semantic_dedup", (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id").as("id"), Similarity.toDoubleVec(col("embedding")).as("vec"))
      val seeds = graft.ops.Clustering.seedCentroids(e, 8)
      graft.ops.Clustering.semanticDedup(e, k = 8, tau = 0.4, cents = Some(seeds))
        .select(col("id").as("vec_id"), col("cluster").cast("long").as("cluster"),
          col("kept"))
        .orderBy("vec_id")
    }, Some(s"""
      WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      seeds AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
                FROM (SELECT * FROM e ORDER BY vec_id LIMIT 8)),
      scored AS (
        SELECT e.vec_id, s.cid,
          ${dotSql("e.v", "s.c")} / (sqrt(${dotSql("e.v", "e.v")}) * sqrt(${dotSql("s.c", "s.c")})) AS cosine
        FROM e, seeds s),
      asg AS (
        SELECT vec_id, cid AS cluster FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, cid DESC) AS rn
          FROM scored) WHERE rn = 1),
      dup AS (
        SELECT DISTINCT y.vec_id FROM asg x
        JOIN asg y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
        JOIN e ex ON ex.vec_id = x.vec_id
        JOIN e ey ON ey.vec_id = y.vec_id
        WHERE ${dotSql("ex.v", "ey.v")} / (sqrt(${dotSql("ex.v", "ex.v")}) * sqrt(${dotSql("ey.v", "ey.v")})) >= 0.4)
      SELECT a.vec_id, CAST(a.cluster AS BIGINT) AS cluster,
        (d.vec_id IS NULL) AS kept
      FROM asg a LEFT JOIN dup d ON a.vec_id = d.vec_id
      ORDER BY a.vec_id""")),

    // Lloyd's spherical k-means: centroid VALUES are partition-order
    // averages (not bit-stable), so — like the ANN recall rows — the
    // oracle checks exact cardinalities plus an engine-independent
    // quality flag: 3 Lloyd rounds must beat seed-assignment by >= 0.01
    // mean cosine (measured gain 0.034-0.09 across SFs — 3x margin).
    QueryDef("embed_kmeans", (s, dir) => {
      import s.implicits._
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id").as("id"), Similarity.toDoubleVec(col("embedding")).as("vec"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val seeds = graft.ops.Clustering.seedCentroids(e, 8)
      val model = graft.ops.Clustering.kmeans(e, 8, iters = 3)
      val seedCos  = graft.ops.Clustering.meanCosine(e, seeds)
      val finalCos = graft.ops.Clustering.meanCosine(e, model.centroids)
      val nAssigned = graft.ops.Clustering.assign(e, model.centroids).count()
      e.unpersist()
      Seq((nAssigned, 8L, finalCos - seedCos >= 0.01))
        .toDF("n_assigned", "k", "improved_ok")
    }, Some("""
      SELECT CAST(count(*) AS BIGINT) AS n_assigned, CAST(8 AS BIGINT) AS k,
             true AS improved_ok
      FROM embeddings""")),

    // semantic-balanced eval-set picking: clustering ∘ quota sampling —
    // assign every vector to its seed cluster (the embed_partition map
    // stage), then keep exactly 10 per cluster by the portable
    // (knuth-hash, id) rank. The composition a 100 TB pipeline runs to
    // build a per-domain eval split without a global sort.
    QueryDef("cluster_quota_sample", (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id").as("id"), Similarity.toDoubleVec(col("embedding")).as("vec"))
      val seeds = graft.ops.Clustering.seedCentroids(e, 8)
      val assigned = graft.ops.Clustering.assign(e, seeds)
      graft.ops.Sampling.stratifiedFixedN(assigned,
          strataCol = "cluster", idCol = "id", n = 10, saltBuckets = 16)
        .select(col("id").as("vec_id"), col("cluster").cast("long").as("cluster"))
        .orderBy("vec_id")
    }, Some(s"""
      WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      seeds AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
                FROM (SELECT * FROM e ORDER BY vec_id LIMIT 8)),
      scored AS (
        SELECT e.vec_id, s.cid,
          ${dotSql("e.v", "s.c")} / (sqrt(${dotSql("e.v", "e.v")}) * sqrt(${dotSql("s.c", "s.c")})) AS cosine
        FROM e, seeds s),
      assigned AS (
        SELECT vec_id, cid FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, cid DESC) AS rn
          FROM scored) WHERE rn = 1),
      ranked AS (
        SELECT vec_id, cid, row_number() OVER (PARTITION BY cid
          ORDER BY ((vec_id % 1048573) * 2654435761) % 1000000 ASC, vec_id ASC) AS rk
        FROM assigned)
      SELECT vec_id, CAST(cid AS BIGINT) AS cluster FROM ranked
      WHERE rk <= 10 ORDER BY vec_id""")),

    QueryDef("mm_binary_meta", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Multimodal.withBinaryPayload(docs, "text")
        .select(col("doc_id"), col("media_type"),
          col("byte_len").cast("long").as("byte_len"),
          sha2(col("text"), 256).as("sha"))
        .orderBy("doc_id")
    }, Some("""
      SELECT doc_id, 'text/plain' AS media_type,
        octet_length(encode(text)) AS byte_len, sha256(text) AS sha
      FROM documents ORDER BY doc_id""")),

    // exact embedding-cosine near-dup pairs: the brute-force baseline
    // tier, fully oracle-checkable (bit-exact left-fold cosine). The
    // scale path (SRP-bucketed embeddingNearDupPairs) is spec-verified
    // for recall; this query pins the arithmetic both share.
    QueryDef("emb_neardup", (s, dir) => {
      val e = Tables.loadSpread(s, dir, "embeddings")
        .select(col("vec_id").as("id"), Similarity.toDoubleVec(col("embedding")).as("vec"))
      Similarity.exactCosinePairs(e, tau = 0.45).orderBy("id_a", "id_b")
    }, Some(s"""
      WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        ${dotSql("a.v", "b.v")} / (sqrt(${dotSql("a.v", "a.v")}) * sqrt(${dotSql("b.v", "b.v")})) AS cosine
      FROM e a, e b
      WHERE a.vec_id < b.vec_id
        AND ${dotSql("a.v", "b.v")} / (sqrt(${dotSql("a.v", "a.v")}) * sqrt(${dotSql("b.v", "b.v")})) >= 0.45
      ORDER BY id_a, id_b""")),

    // -- hashing-trick text featurizer: exact nonzero (doc_id, dim, ----
    // cnt) triples pin the HashTfVec kernel (md5-prefix buckets,
    // integer counts) against an independent derivation; the dense
    // vector output is the (id, vec) shape the whole ANN stack consumes
    QueryDef("text_hash_embed", (s, dir) => {
      val v = graft.ops.Embedding.hashTfVectors(
        Tables.loadSpread(s, dir, "documents"), "doc_id", "text", dim = 64)
      v.select(col("id").as("doc_id"),
          posexplode(col("vec")).as(Seq("dim", "cnt")))
        .filter(col("cnt") > 0)
        .select(col("doc_id"), col("dim").cast("long").as("dim"),
          col("cnt").cast("long").as("cnt"))
        .orderBy("doc_id", "dim")
    }, Some("""
      WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
      SELECT doc_id,
        CAST(CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT) % 64 AS BIGINT) AS dim,
        CAST(count(*) AS BIGINT) AS cnt
      FROM tok WHERE length(t) > 0
      GROUP BY doc_id, dim ORDER BY doc_id, dim""")),

    // -- sparse-cosine near-dup over hashed 3-shingle counts, integer-
    // exact (dot² · 100 >= 81 · ∥a∥² · ∥b∥², all long shingle counts —
    // no sqrt, no float boundary). dfCap = 50 structurally bounds the
    // bucket self-join AND actually bites at sf0.1 (max df 54), so the
    // capped path is what the oracle hashes, not just dead insurance
    QueryDef("hash_embed_neardup", (s, dir) => {
      val docs = Tables.loadSpread(s, dir, "documents")
      graft.ops.Embedding.hashedShingleNearDup(docs, "doc_id", "text",
          dim = 65536, k = 3, tauSqNum = 81L, tauSqDen = 100L, dfCap = 50L)
        .orderBy("id_a", "id_b")
    }, Some("""
      WITH sh AS (
        SELECT doc_id, unnest(list_transform(
          range(1, greatest(len(string_split(text,' ')) - 1, 1)),
          i -> array_to_string(string_split(text,' ')[i:i+2], ' '))) AS g
        FROM documents),
      tb AS (SELECT doc_id,
        CAST(CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT) % 65536 AS BIGINT) AS d
        FROM sh),
      v AS (SELECT doc_id, d, CAST(count(*) AS BIGINT) AS c FROM tb GROUP BY doc_id, d),
      norms AS (SELECT doc_id, CAST(SUM(c*c) AS BIGINT) AS nn FROM v GROUP BY doc_id),
      kept AS (SELECT d FROM v GROUP BY d HAVING count(*) <= 50),
      vk AS (SELECT v.* FROM v JOIN kept USING (d)),
      dots AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(SUM(a.c * b.c) AS BIGINT) AS dot
               FROM vk a JOIN vk b ON a.d = b.d AND a.doc_id < b.doc_id
               GROUP BY 1, 2)
      SELECT dd.id_a, dd.id_b, dd.dot, na.nn AS norm_a, nb.nn AS norm_b
      FROM dots dd
      JOIN norms na ON na.doc_id = dd.id_a
      JOIN norms nb ON nb.doc_id = dd.id_b
      WHERE CAST(dd.dot AS HUGEINT) * CAST(dd.dot AS HUGEINT) * 100
            >= 81 * CAST(na.nn AS HUGEINT) * CAST(nb.nn AS HUGEINT)
      ORDER BY id_a, id_b""")),

    // -- the SCALED form of hash_embed_neardup: dim sized from the
    // corpus (smallest pow2 with expected bucket df <= 4, floor 1024)
    // so the dfCap semantics survive corpus growth — the scale ladder
    // measured the fixed-dim variant collapsing to 0 pairs at 10x
    // (SCALE.md); this one holds linear. The oracle re-derives the SAME
    // dim from the same corpus (integer arithmetic on an exact pow2
    // grid), then the same integer-exact cosine gate at that dim.
    QueryDef("hash_neardup_auto", (s, dir) => {
      val docs = Tables.loadSpread(s, dir, "documents")
      val dim = graft.ops.Embedding.sizedShingleDim(docs, "text", k = 3,
        targetDf = 4L, minDim = 1 << 10)
      graft.ops.Embedding.hashedShingleNearDup(docs, "doc_id", "text",
          dim = dim, k = 3, tauSqNum = 81L, tauSqDen = 100L, dfCap = 50L)
        .withColumn("dim", lit(dim.toLong))
        .orderBy("id_a", "id_b")
    }, Some(s"""
      WITH ${OracleSql.sizedShingleDimCte("").trim},
      sh AS (
        SELECT doc_id, unnest(list_transform(
          range(1, greatest(len(string_split(text,' ')) - 1, 1)),
          i -> array_to_string(string_split(text,' ')[i:i+2], ' '))) AS g
        FROM documents),
      tb AS (SELECT doc_id,
        CAST(CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT)
             % (SELECT dm FROM dim) AS BIGINT) AS d
        FROM sh),
      v AS (SELECT doc_id, d, CAST(count(*) AS BIGINT) AS c FROM tb GROUP BY doc_id, d),
      norms AS (SELECT doc_id, CAST(SUM(c*c) AS BIGINT) AS nn FROM v GROUP BY doc_id),
      kept AS (SELECT d FROM v GROUP BY d HAVING count(*) <= 50),
      vk AS (SELECT v.* FROM v JOIN kept USING (d)),
      dots AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(SUM(a.c * b.c) AS BIGINT) AS dot
               FROM vk a JOIN vk b ON a.d = b.d AND a.doc_id < b.doc_id
               GROUP BY 1, 2)
      SELECT dd.id_a, dd.id_b, dd.dot, na.nn AS norm_a, nb.nn AS norm_b,
        (SELECT dm FROM dim) AS dim
      FROM dots dd
      JOIN norms na ON na.doc_id = dd.id_a
      JOIN norms nb ON nb.doc_id = dd.id_b
      WHERE CAST(dd.dot AS HUGEINT) * CAST(dd.dot AS HUGEINT) * 100
            >= 81 * CAST(na.nn AS HUGEINT) * CAST(nb.nn AS HUGEINT)
      ORDER BY id_a, id_b""")),

    // -- text -> hashTf -> IVF, end to end: similarity search over raw
    // documents with NO model encoder and NO embedding column. The
    // hashed count vectors carry real token structure (unlike the
    // near-uniform synthetic embeddings), so IVF probe recall vs the
    // exact scan is high — measured 0.75-0.90 across SFs; 0.5 leaves
    // the standard safe margin
    QueryDef("hash_embed_topk", (s, dir) =>
      annRecallRow(s, dir, minRecall = 0.5,
        vectors = Some(graft.ops.Embedding.hashTfVectors(
          Tables.load(s, dir, "documents"), "doc_id", "text", dim = 64)))(
        (q, e) => Similarity.ivfTopK(q, e, k = 5)),
      Some("""
      SELECT (SELECT count(*) FROM documents WHERE doc_id < 20) AS n_queries,
             CAST(5 AS BIGINT) AS k, true AS recall_ok""")),

    // -- incremental hashed near-dup: a NEW batch (odd ids) probes the
    // standing even-id corpus index; corpus history is never
    // re-shingled, dfCap is a property of the INDEX side, same
    // integer-exact cosine gate
    QueryDef("hash_neardup_incremental", (s, dir) => {
      val docs = Tables.loadSpread(s, dir, "documents")
      val idx = graft.ops.Embedding.buildShingleTfIndex(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
        dim = 65536, k = 3)
      graft.ops.Embedding.hashedShingleNearDupIncremental(
          docs.filter(col("doc_id") % 2 === 1), idx, "doc_id", "text",
          tauSqNum = 81L, tauSqDen = 100L, dfCap = 50L)
        .orderBy("id_new", "id_corpus")
    }, Some("""
      WITH sh AS (
        SELECT doc_id, unnest(list_transform(
          range(1, greatest(len(string_split(text,' ')) - 1, 1)),
          i -> array_to_string(string_split(text,' ')[i:i+2], ' '))) AS g
        FROM documents),
      tb AS (SELECT doc_id,
        CAST(CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT) % 65536 AS BIGINT) AS d
        FROM sh),
      v AS (SELECT doc_id, d, CAST(count(*) AS BIGINT) AS c FROM tb GROUP BY doc_id, d),
      cv AS (SELECT * FROM v WHERE doc_id % 2 = 0),
      bv AS (SELECT * FROM v WHERE doc_id % 2 = 1),
      norms AS (SELECT doc_id, CAST(SUM(c*c) AS BIGINT) AS nn FROM v GROUP BY doc_id),
      kept AS (SELECT d FROM cv GROUP BY d HAVING count(*) <= 50),
      dots AS (SELECT b.doc_id AS id_new, a.doc_id AS id_corpus,
                 CAST(SUM(a.c * b.c) AS BIGINT) AS dot
               FROM (SELECT cv.* FROM cv JOIN kept USING (d)) a
               JOIN (SELECT bv.* FROM bv JOIN kept USING (d)) b ON a.d = b.d
               GROUP BY 1, 2)
      SELECT dd.id_new, dd.id_corpus, dd.dot,
        na.nn AS norm_new, nb.nn AS norm_corpus
      FROM dots dd
      JOIN norms na ON na.doc_id = dd.id_new
      JOIN norms nb ON nb.doc_id = dd.id_corpus
      WHERE CAST(dd.dot AS HUGEINT) * CAST(dd.dot AS HUGEINT) * 100
            >= 81 * CAST(na.nn AS HUGEINT) * CAST(nb.nn AS HUGEINT)
      ORDER BY id_new, id_corpus""")),

    // resize plumbing end-to-end: the stub codec writes an 8-byte (w,h)
    // big-endian header + the payload truncated/zero-padded to w*h, so
    // output length, decoded header, and body prefix are all exact.
    QueryDef("mm_resize", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val withBin = Multimodal.withBinaryPayload(docs, "text")
      val rs = Multimodal.resizeImages(withBin, "doc_id", "payload", w = 16, h = 8)
      rs.join(withBin.select(col("doc_id"), col("payload"), col("byte_len")), Seq("doc_id"))
        .select(col("doc_id"),
          length(col("resized")).cast("long").as("resized_len"),
          conv(hex(substring(col("resized"), 1, 4)), 16, 10).cast("long").as("w"),
          conv(hex(substring(col("resized"), 5, 4)), 16, 10).cast("long").as("h"),
          (col("resized").substr(lit(9), least(lit(128), col("byte_len"))) ===
            col("payload").substr(lit(1), least(lit(128), col("byte_len")))).as("body_ok"))
        .orderBy("doc_id")
    }, Some("""
      SELECT doc_id, CAST(136 AS BIGINT) AS resized_len,
        CAST(16 AS BIGINT) AS w, CAST(8 AS BIGINT) AS h, true AS body_ok
      FROM documents ORDER BY doc_id""")),

    // frame-sample plumbing: payload split into 64-byte frames, every
    // 2nd frame emitted (flatMap generator — rows out >> rows in). Count
    // and first-frame digest are exact; docs shorter than one frame
    // yield no rows. (Corpus is ASCII, so DuckDB's char-based substr
    // equals the byte slice Spark hashes.)
    QueryDef("mm_frames", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val withBin = Multimodal.withBinaryPayload(docs, "text")
      val fr = Multimodal.sampleFrames(withBin, "doc_id", "payload", frameBytes = 64, stride = 2)
      fr.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_frames"),
          max(when(col("frame_idx") === 0, md5(col("frame")))).as("first_frame_md5"))
        .orderBy("doc_id")
    }, Some("""
      SELECT doc_id,
        CAST((octet_length(encode(text)) // 64 + 1) // 2 AS BIGINT) AS n_frames,
        md5(substr(text, 1, 64)) AS first_frame_md5
      FROM documents WHERE octet_length(encode(text)) >= 64 ORDER BY doc_id""")),

    QueryDef("mm_features", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val withBin = Multimodal.withBinaryPayload(docs, "text")
      val feats = Multimodal.extractFeatures(withBin, "doc_id", "payload", dim = 8)
      feats.select(col("doc_id"), size(col("features")).cast("long").as("feature_dim"),
          // first fake feature = first byte / 255 — deterministic, so it
          // can be oracle-checked through the whole mapPartitions path
          element_at(col("features"), 1).cast("double").as("f0"))
        .orderBy("doc_id")
    }, Some("""
      SELECT doc_id, CAST(8 AS BIGINT) AS feature_dim,
        CAST(CAST(ord(substr(text, 1, 1)) AS FLOAT) / CAST(255 AS FLOAT) AS DOUBLE) AS f0
      FROM documents ORDER BY doc_id"""))
  )
}
