package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines.
  *
  * Tiers, in increasing tolerance:
  *   1. exact          — hash-groupBy on the raw text (one shuffle)
  *   2. n-gram Jaccard — shingle inverted-index candidates + exact verify
  *   3. MinHash-LSH    — banded signatures; candidate volume independent
  *                       of corpus size for a fixed collision rate
  *   4. SimHash        — 63-bit sketch, hamming-band join
  *   6. substring      — sampled char-k-gram fingerprints: doc pairs
  *                       sharing long VERBATIM spans even when whole-doc
  *                       similarity is low (tier 5, embedding-space, is
  *                       [[Similarity.embeddingNearDupPairs]])
  *
  * Scale design: every variant is generate-candidates → shuffle on a
  * candidate key → verify within groups; nothing is O(n²) except the
  * verification of actual candidate pairs. Sketches (MinHash signatures,
  * SimHash bit-sums) are computed via explode + ONE hash-aggregate with
  * N agg columns — whole-stage-codegen'd and fully parallel — rather
  * than nested higher-order-function transforms, which Spark evaluates
  * interpreted and re-evaluates the inner array once per outer element
  * (measured: 63-seed minhash over a 54-token corpus ran minutes-per-
  * partition interpreted vs seconds as an aggregate).
  */
object Dedup {

  /** Distinct k-token shingles of a text column, as an ARRAY — small
    * inputs / tests only: the `transform` lambda is CodegenFallback and
    * re-evaluates `split(text)` once per shingle (measured 420 s for
    * 5000×54-token docs in one task). The ops below use [[shingleRows]].
    */
  def shingles(text: Column, k: Int): Column = {
    val toks = split(text, " ")
    when(size(toks) >= k,
      array_distinct(transform(sequence(lit(0), size(toks) - k),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(k))))))
      .otherwise(array().cast("array<string>"))
  }

  /** Distinct k-shingle ROWS (id, s) — the scale form: ONE native
    * codegen expression (graft.functions.DistinctShingles) emits each
    * document's deduped shingle array in a single linear pass, and a
    * codegen Generate explodes it. scan → project → explode: NO window
    * shuffle, NO distinct shuffle (dedup happens inside the kernel,
    * per doc), perfectly parallel over input splits. Docs shorter than
    * k tokens yield no rows; null text yields no rows.
    *
    * (History: round 1 used explode→lead-window→distinct — 3 shuffles
    * over the ~200x-exploded token rows; round 2 collapsed it to one
    * WindowExec; this form removes the shuffles entirely. The window
    * form is kept below for the equivalence spec.)
    */
  def shingleRows(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    df.select(col(idCol).as("id"),
      explode(org.apache.spark.sql.classic.GraftExpressionBridge.column(
        graft.functions.DistinctShingles(
          org.apache.spark.sql.classic.GraftExpressionBridge.expression(col(textCol)), k)))
        .as("s"))

  /** [[shingleRows]] with passthrough columns — same codegen kernel +
    * Generate, but the caller picks which input columns ride along with
    * each shingle row (Curation's boilerplate detector keeps
    * (doc_id, source)). Plan shape is identical: scan → project →
    * explode, zero shuffles.
    */
  def shingleRowsKeep(df: DataFrame, keepCols: Seq[String], textCol: String, k: Int): DataFrame =
    df.select(keepCols.map(col) :+
      explode(org.apache.spark.sql.classic.GraftExpressionBridge.column(
        graft.functions.DistinctShingles(
          org.apache.spark.sql.classic.GraftExpressionBridge.expression(col(textCol)), k)))
        .as("s"): _*)

  /** The lead-window formulation of [[shingleRows]] — an independent
    * implementation kept for the three-way equivalence spec (kernel ==
    * window == HOF array form).
    */
  def shingleRowsWindow(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
      posexplode(split(col(textCol), " ")).as(Seq("pos", "tok")))
    val byId = Window.partitionBy(col("id")).orderBy(col("pos"))
    toks.select(col("id"),
        concat_ws(" ", col("tok") +: (1 until k).map(j => lead(col("tok"), j).over(byId)): _*).as("s"),
        lead(col("tok"), k - 1).over(byId).as("last_tok"))
      .filter(col("last_tok").isNotNull)
      .select(col("id"), col("s"))
      .distinct()
  }

  /** Tier 1: exact duplicate groups via md5 hash-groupBy. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_dups"))

  /** [[exactGroups]] with a QUALITY-AWARE survivor: the keeper is the
    * group member with the highest `scoreCol` (ties to the LOWEST id —
    * deterministic, unlike `max_by`). Production dedup rarely wants
    * min-id: when near-identical pages differ in metadata, keep the
    * best-scored copy (longest, highest quality gate, freshest crawl).
    * Same plan shape as [[exactGroups]] — ONE hash aggregate with
    * map-side partials; the argmax rides a struct max (lexicographic:
    * score, then negated id), no window, no second pass.
    */
  def exactGroupsBest(df: DataFrame, idCol: String, textCol: String,
                      scoreCol: String): DataFrame =
    // min over (negated score, id): max score, ties to the LOWEST id —
    // the id rides the struct UN-negated, so string/any-ordered id
    // types work (negating the id would null out or throw on strings;
    // only the score need be numeric)
    df.groupBy(md5(col(textCol)).as("fp"))
      .agg(
        min(struct((-col(scoreCol)).as("ns"), col(idCol).as("i"))).as("m"),
        count(lit(1)).as("n_dups"))
      .select(col("fp"), col("m.i").as("keeper"),
        (-col("m.ns")).as("keeper_score"), col("n_dups"))

  /** Drop shingles whose document frequency exceeds `dfCap` from an
    * inverted index. A shingle with df=m produces m² hits in a
    * candidate self-join — one ubiquitous "stop shingle" at web scale
    * is a quadratic hot-key blowup.
    *
    * Recall contract: a pair is lost only when EVERY shared shingle has
    * df > dfCap. For organically similar documents that never happens
    * (they share many low-df shingles). The one real loss case is a
    * cluster duplicated more than dfCap times with small mutations
    * (mass-replicated boilerplate): all of its shingles exceed the cap
    * together. Standard pipeline ordering handles this: run
    * [[exactGroups]] first and near-dup the surviving uniques (the
    * text_pipeline query shows the composition) — after exact
    * collapse, df counts measure distinct near-variants, which a
    * 512-default cap comfortably covers.
    * df is computed with a groupBy (map-side partial agg — skew-safe,
    * unlike a count-over-window which would funnel the hot key into one
    * task); the filter is a left-ANTI join against the shingles OVER
    * the cap — that set is tiny by construction (few shingles are
    * ubiquitous), so AQE turns the anti-join into a broadcast probe,
    * vs a semi-join whose keep-set is nearly the whole index.
    */
  private def dfCapped(ex: DataFrame, dfCap: Int): DataFrame =
    if (dfCap <= 0) ex
    else ex.join(
      ex.groupBy(col("s")).agg(count(lit(1)).as("df_"))
        .filter(col("df_") > dfCap).select(col("s")),
      Seq("s"), "left_anti")

  /** Exact |A∩B| for the candidate pairs only: attach A's full shingle
    * set, inner-join B's matching shingles, count per pair. Scale-safe
    * even with hot shingles present: the join key (id_b, s) is unique in
    * `ex` (shingles are distinct per doc), so output rows are bounded by
    * Σ|shingles(A)| over candidates — no quadratic key.
    */
  private def exactIntersections(cands: DataFrame, ex: DataFrame): DataFrame =
    cands
      .join(ex.select(col("id").as("id_a"), col("s")), Seq("id_a"))
      .join(ex.select(col("id").as("id_b"), col("s")), Seq("id_b", "s"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("ic"))

  /** jaccard from per-pair intersection counts + per-doc sizes:
    * |A∪B| = |A|+|B|−|A∩B| (shingles are distinct per doc).
    */
  private def jaccardFromCounts(inter: DataFrame, sizes: DataFrame, tau: Double): DataFrame =
    inter
      .join(sizes.select(col("id").as("id_a"), col("n").as("na")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n").as("nb")), Seq("id_b"))
      .withColumn("jaccard",
        col("ic").cast("double") / (col("na") + col("nb") - col("ic")))
      .filter(col("jaccard") >= tau)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** Candidate pairs from the df-capped inverted index: pairs of docs
    * sharing at least one kept shingle. Exposed so specs can assert the
    * candidate volume stays bounded under a planted ubiquitous shingle.
    */
  def ngramCandidates(ex: DataFrame, dfCap: Int): DataFrame = {
    val idx = dfCapped(ex, dfCap)
    idx.as("a").join(idx.as("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** The index frame through [[Caches.eager]]. Every caller hands it
    * to 2+ subtrees of the pair plan (df counts, sizes, candidate
    * self-join, exact verify): unpersisted, Spark re-runs the
    * scan+kernel+explode per consumer (measured at sf0.1:
    * dedup_simhash 16-18 s vs 10-12 s persisted). A few bytes per
    * shingle; released on `spark.catalog.clearCache()` or cache
    * eviction (`on = false` opts out for long-lived applications).
    */
  private def persisted(ex: DataFrame, on: Boolean): DataFrame =
    if (on) Caches.eager(ex) else ex

  /** Pair-tier caches keyed by session: the survivor frames
    * [[fusedIntersectionsPruned]] persists under `persistPairs = true`
    * (small — final-result-sized by the feasibility prune) and, since
    * round 12, the df histograms the Auto partition sizing persists
    * (one narrow row per distinct posting key). A long-running session
    * looping over pair calls would otherwise accumulate them for its
    * lifetime.
    *
    * Lifecycle (ADVICE r11 fix — this was a `WeakHashMap` whose
    * DataFrame values strongly referenced their key session, so the
    * weak keying never collected anything): the registry holds STRONG
    * refs — the survivor frame is internal to the fused tail and the
    * caller never holds it, so a weak ref could be cleared by any GC
    * before [[releasePairCaches]] runs, making release nondeterministic
    * exactly in the long-session loops it exists for. Instead, eviction
    * is explicit: the first registration against a `SparkContext`
    * installs a listener whose `onApplicationEnd` drops every entry of
    * that context's sessions (no unpersist needed — a stopping context
    * drops its blocks), so stopped applications release their
    * `SessionState`/plans deterministically. Sessions abandoned on a
    * still-live shared context must call [[releasePairCaches]] — the
    * documented contract.
    */
  private val pairCaches =
    new java.util.HashMap[org.apache.spark.sql.SparkSession,
      java.util.ArrayList[DataFrame]]()

  /** Contexts that already carry the eviction listener. */
  private val evictionHooked =
    new java.util.HashSet[org.apache.spark.SparkContext]()

  /** Drop (without unpersist — the context is stopping or stopped, its
    * blocks go with it) every registry entry whose session belongs to
    * `sc`. Called by the `onApplicationEnd` listener; package-visible
    * so the spec can pin the eviction without stopping the shared test
    * context.
    */
  private[graft] def evictStoppedContext(sc: org.apache.spark.SparkContext): Unit =
    pairCaches.synchronized {
      val it = pairCaches.entrySet().iterator()
      while (it.hasNext) if (it.next().getKey.sparkContext eq sc) it.remove()
      evictionHooked.remove(sc); ()
    }

  /** Number of sessions with live registry entries (spec hook). */
  private[graft] def pairCacheSessionCount: Int =
    pairCaches.synchronized { pairCaches.size() }

  private[ops] def registerPairCache(df: DataFrame): Unit =
    pairCaches.synchronized {
      val sess = df.sparkSession
      val sc = sess.sparkContext
      if (!evictionHooked.contains(sc)) {
        sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          override def onApplicationEnd(
              e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
            evictStoppedContext(sc)
        })
        evictionHooked.add(sc)
      }
      var l = pairCaches.get(sess)
      if (l == null) { l = new java.util.ArrayList[DataFrame](); pairCaches.put(sess, l) }
      l.add(df); ()
    }

  /** Release every survivor cache [[ngramJaccardPairsFromIndex]] /
    * [[duplicateSpanPairs]] persisted in this session — call after the
    * returned pair frames have materialized (re-executing a released
    * frame re-runs its heavy chain, it does not break). Equivalent to
    * `spark.catalog.clearCache()` but scoped to these frames only.
    */
  def releasePairCaches(spark: org.apache.spark.sql.SparkSession): Unit =
    pairCaches.synchronized {
      val l = pairCaches.remove(spark)
      if (l != null) l.forEach(df => { df.unpersist(); () })
    }

  /** 64-bit shingle fingerprints (id, s: long), Broder-style: the ops
    * below join/aggregate on the fingerprint, so every shuffle keys on
    * 8-byte longs instead of 20-40-byte strings (~4x shuffle volume,
    * long-keyed hash joins). Jaccard over fingerprints is exact up to
    * fingerprint collisions (P ~ n^2/2^65 ~ 3e-8 at a million distinct
    * shingles; one collision inflates one intersection count by 1).
    */
  def shingleFpRows(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    df.select(col(idCol).as("id"),
      explode(org.apache.spark.sql.classic.GraftExpressionBridge.column(
        graft.functions.DistinctShingleHashes(
          org.apache.spark.sql.classic.GraftExpressionBridge.expression(
            col(textCol)), k))).as("s"))

  /** [[shingleFpRows]] plus the per-doc shingle-POSITION mass riding
    * the same scan: (id, s, pos) with `pos = max(#tokens − k + 1, 0)`
    * repeated on every row of a doc (8 bytes/row on an already-narrow
    * frame). A multi-tier consumer that persists the index for its
    * Jaccard tiers can then also derive the corpus-sized hash
    * dimension from it ([[graft.ops.Embedding.sizedShingleDimFromIndex]])
    * without a second full text scan; the Jaccard consumers take
    * `.select("id", "s")` and see the exact [[shingleFpRows]] frame.
    * `pos` follows the sizing aggregate's token convention exactly
    * (`split(" ", -1)`, clamped at 0), so the two sizing forms agree
    * integer-for-integer.
    */
  def shingleFpRowsWithPos(df: DataFrame, idCol: String, textCol: String,
                           k: Int): DataFrame =
    df.select(col(idCol).as("id"),
      explode(org.apache.spark.sql.classic.GraftExpressionBridge.column(
        graft.functions.DistinctShingleHashes(
          org.apache.spark.sql.classic.GraftExpressionBridge.expression(
            col(textCol)), k))).as("s"),
      greatest(size(split(col(textCol), " ", -1)) - lit(k - 1), lit(0))
        .cast("long").as("pos"))

  /** The string-pipeline formulation of [[shingleFpRows]]
    * (shingleRows → xxhash64) — kept for the equivalence spec: the
    * fused kernel hashes byte SPANS of the input zero-copy where this
    * form materializes every shingle string through the Generate and
    * hashes it in a separate projection. Bit-identical output
    * (spec-pinned), so fingerprints from either form interoperate.
    */
  private[graft] def shingleFpRowsUnfused(
      df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    shingleRows(df, idCol, textCol, k).select(col("id"), xxhash64(col("s")).as("s"))

  /** Tier 2: n-gram Jaccard near-dup pairs above `tau`.
    *
    * Candidate generation and intersection counting are FUSED: the
    * df-capped index self-join emits one row per (pair, shared kept
    * shingle), so `groupBy(pair).count()` IS the kept-shingle
    * intersection — no distinct-pair materialization and no re-attach
    * of full shingle sets. (Round 2 built the distinct candidate list
    * and then verified via [[exactIntersections]]; at sf0.1 that is a
    * 1.1M-pair list exploded to a 72M-row join — measured 9-11 s vs
    * ~3 s for the fused form, and the gap grows with corpus size since
    * join volume is Σ|shingles(A)| over candidates.)
    *
    * Scores stay EXACT under the cap: shingles with df > dfCap are
    * excluded from the self-join (hot-key bound) but their contribution
    * to surfaced pairs is restored by a supplement join — candidate
    * pairs joined against the tiny over-cap slice of the index on both
    * sides. |supplement| = Σ over-cap shingles per candidate doc, and
    * the over-cap set is small by construction (few shingles are
    * ubiquitous), so the quadratic hot key never materializes while
    * ic = |A∩B| remains the full-set intersection. The cap only bounds
    * RECALL (pairs sharing exclusively over-cap shingles never surface
    * — see [[dfCapped]]'s contract), never a surfaced pair's score.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 3, tau: Double = 0.8, dfCap: Int = 512,
                        persistIndex: Boolean = true,
                        aggParts: Int = PairAggSizing.Auto): DataFrame =
    ngramJaccardPairsFromIndex(
      persisted(shingleFpRows(df, idCol, textCol, k), persistIndex),
      tau, dfCap, aggParts = aggParts)

  /** [[ngramJaccardPairs]] from a PREBUILT distinct (id, s)
    * shingle-fingerprint index ([[shingleFpRows]], usually persisted) —
    * so one cached index can feed several tiers (this one and
    * [[minhashLshPairsFromIndex]] share the same k-shingle index; the
    * dedup scorecard builds it once). Same exactness and hot-key-cap
    * contract as the df form.
    */
  def ngramJaccardPairsFromIndex(ex: DataFrame, tau: Double = 0.8,
                                 dfCap: Int = 512,
                                 persistPairs: Boolean = true,
                                 aggParts: Int = PairAggSizing.Auto): DataFrame =
    fusedIntersectionsPruned(ex, dfCap, persistPairs, aggParts) { (c, na, nb, oa, ob) =>
      // jaccard = ic/(na+nb-ic) is increasing in ic and ic can reach at
      // most c_kept + least(oa, ob) (every over-cap shingle of the
      // smaller over-set shared in the best case), so pairs failing the
      // bound can NEVER reach tau — sound prune, no surfaced pair lost
      val icMax = c + least(oa, ob)
      icMax.cast("double") / (na + nb - icMax) >= lit(tau)
    }
      .withColumn("jaccard",
        col("ic").cast("double") / (col("na") + col("nb") - col("ic")))
      .filter(col("jaccard") >= tau)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** Fused candidate generation + EXACT intersection counts with a
    * FEASIBILITY PRUNE between the candidate aggregate and the
    * exact-verify tail, over a distinct (id, s) inverted index.
    * Returns (id_a, id_b, ic, na, nb) for every pair that (a) shares
    * at least one under-cap key AND (b) passes `feasible(c_kept, na,
    * nb, oa, ob)` — the caller's upper-bound test, which MUST be a
    * relaxation of its final predicate (oa/ob are the docs' over-cap
    * key counts, so `c_kept + least(oa, ob)` bounds the full
    * intersection from above). ic on returned rows is the FULL
    * shared-key count (over-cap keys restored by the supplement join);
    * na/nb the docs' total key counts, returned so callers don't
    * re-join sizes onto the pair frame.
    *
    * Scale anatomy (measured at the x100 ladder rung, 500k docs):
    * candidate mass Σ_kept C(df,2) is 126.6M rows collapsing to 113M
    * DISTINCT pairs — of which only 25,600 survive tau = 0.8. The
    * round-9 shape dragged all 113M rows through the supplement joins,
    * the count merge, and TWO size joins, and ran the candidate
    * self-join TWICE (two consumers, no exchange reuse) — the
    * single-JVM GC wobble SCALE.md documented. Here the 113M-row
    * frame is touched by exactly ONE downstream pass (the two
    * doc-stat equi-joins + the prune filter, fused into one stage
    * pipeline); the supplement join, count merge, and final predicate
    * run on the ~10⁴-row survivor frame (eagerly [[persisted]] under
    * `persistPairs` — it has two consumers, and re-deriving it means
    * re-running the heavy chain).
    *
    * `aggParts` sizes the pair aggregate's exchange (round 12): under
    * the default [[PairAggSizing.Auto]] the candidate mass Σ C(df,2)
    * is measured (ONE extra aggregate job over `ex` — eager, like the
    * survivor persist) and the aggregate runs at ≤ ~2^20 distinct keys
    * per task, the measured stable bracket; every other stage keeps
    * the session setting. [[PairAggSizing.SessionDefault]] restores
    * the fully-lazy unsized plan.
    *
    * CACHE OWNERSHIP (`persistPairs = true`): the survivor cache must
    * outlive this call (both consumers sit in the RETURNED lazy plan),
    * so it cannot be unpersisted here — it is registered per session
    * instead and released by [[releasePairCaches]] (or by
    * `spark.catalog.clearCache()`, which the bench/ladder harnesses
    * already run per query). Long-running sessions that loop over
    * [[ngramJaccardPairsFromIndex]]/[[duplicateSpanPairs]] calls
    * should release after materializing each result, or pass
    * `persistPairs = false` and accept the heavy chain running twice.
    */
  private[ops] def fusedIntersectionsPruned(
      ex: DataFrame, dfCap: Int, persistPairs: Boolean = true,
      aggParts: Int = PairAggSizing.Auto)(
      feasible: (Column, Column, Column, Column, Column) => Column): DataFrame = {
    val sizes = ex.groupBy(col("id")).agg(count(lit(1)).as("n"))
    if (dfCap <= 0) {
      // uncapped path: mass measured with its own histogram job (no
      // hot-key cap to share one with); see [[PairAggSizing]]
      val nAgg = PairAggSizing.resolve(ex, "s", dfCap, aggParts)
      val cAll = PairAggSizing.repartitionForAgg(
          ex.as("a").join(ex.as("b"),
            col("a.s") === col("b.s") && col("a.id") < col("b.id"))
          .select(col("a.id").as("id_a"), col("b.id").as("id_b")),
          nAgg, col("id_a"), col("id_b"))
        .groupBy(col("id_a"), col("id_b"))
        .agg(count(lit(1)).as("c_kept"))
      cAll
        .join(sizes.select(col("id").as("id_a"), col("n").as("na")), Seq("id_a"))
        .join(sizes.select(col("id").as("id_b"), col("n").as("nb")), Seq("id_b"))
        .filter(feasible(col("c_kept"), col("na"), col("nb"), lit(0L), lit(0L)))
        .select(col("id_a"), col("id_b"), col("c_kept").as("ic"),
          col("na"), col("nb"))
    } else {
      // ONE df histogram feeds the over-cap key set (anti join for
      // candidate pruning, semi join for the score supplement — shared
      // subtree, one aggregation via ReuseExchange) AND, under Auto
      // sizing, the candidate-mass measurement: persisted there so the
      // mass job is a cached scan, not a second aggregation over the
      // index (the unshared mass job measured ~15% of the x100 rung)
      val histRaw = ex.groupBy(col("s")).agg(count(lit(1)).as("df_"))
      val auto = aggParts == PairAggSizing.Auto
      val hist = if (auto) {
        val h = histRaw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        registerPairCache(h)
        h
      } else histRaw
      val nAgg =
        if (auto) PairAggSizing.sizedParts(ex.sparkSession,
          PairAggSizing.massFromHist(hist, "df_", dfCap))
        else PairAggSizing.explicitParts(ex.sparkSession, aggParts)
      val overS = hist.filter(col("df_") > dfCap).select(col("s"))
      // the index-side joins share the sizing (measured at x100: the
      // 26M-row index joins left at the session 32 cost ~2x; the
      // explicit repartition REPLACES the join's own exchange — same
      // shuffle count, rung-sized task state); no-op below the session
      // setting
      val exS = PairAggSizing.repartitionForAgg(ex, nAgg, col("s"))
      val kept = exS.join(overS, Seq("s"), "left_anti")
      val over = exS.join(overS, Seq("s"), "left_semi")
      // per-doc stats ride ONE narrow frame: total keys + over-cap keys
      val oCnt = over.groupBy(col("id")).agg(count(lit(1)).as("o"))
      val docStats = sizes.join(oCnt, Seq("id"), "left")
        .select(col("id"), col("n"), coalesce(col("o"), lit(0L)).as("o"))
      val cKept = PairAggSizing.repartitionForAgg(
          kept.as("a").join(kept.as("b"),
            col("a.s") === col("b.s") && col("a.id") < col("b.id"))
          .select(col("a.id").as("id_a"), col("b.id").as("id_b")),
          nAgg, col("id_a"), col("id_b"))
        .groupBy(col("id_a"), col("id_b"))
        .agg(count(lit(1)).as("c_kept"))
      val surv = persisted(cKept
        .join(docStats.select(col("id").as("id_a"),
          col("n").as("na"), col("o").as("oa")), Seq("id_a"))
        .join(docStats.select(col("id").as("id_b"),
          col("n").as("nb"), col("o").as("ob")), Seq("id_b"))
        .filter(feasible(col("c_kept"), col("na"), col("nb"),
          col("oa"), col("ob"))), persistPairs)
      if (persistPairs) registerPairCache(surv)
      // the over-cap slice joins SURVIVORS only: distinct over-cap
      // shingles are few and the survivor frame is final-result-sized
      val cOver = surv.select(col("id_a"), col("id_b"))
        .join(over.select(col("id").as("id_a"), col("s")), Seq("id_a"))
        .join(over.select(col("id").as("id_b"), col("s")), Seq("id_b", "s"))
        .groupBy(col("id_a"), col("id_b"))
        .agg(count(lit(1)).as("c_over"))
      surv.join(cOver, Seq("id_a", "id_b"), "left")
        .select(col("id_a"), col("id_b"),
          (col("c_kept") + coalesce(col("c_over"), lit(0L))).as("ic"),
          col("na"), col("nb"))
    }
  }

  /** MinHash signatures + distinct-shingle counts from shingle ROWS in
    * ONE groupBy(id): `numHashes` min-aggregates (min over
    * xxhash64(seed, shingle)) + count — a single shuffle, all codegen.
    */
  def minhashSignatures(ex: DataFrame, numHashes: Int): DataFrame = {
    val aggs = count(lit(1)).as("n") +:
      (0 until numHashes).map(i => min(xxhash64(lit(i), col("s"))).as(s"h_$i"))
    ex.groupBy(col("id"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("id"), col("n"),
        array((0 until numHashes).map(i => col(s"h_$i")): _*).as("sig"))
  }

  /** Tier 3: MinHash-LSH near-dup pairs. Bands of `bandSize` signature
    * rows are hashed to a band key; only same-band-key pairs become
    * candidates; candidates are verified with EXACT Jaccard (shared-
    * shingle counts restricted to the candidate pairs), so the output
    * equals `ngramJaccardPairs` up to LSH recall
    * (21 bands × 3 rows ⇒ P[miss | j=0.8] ≈ 3e-7).
    */
  /** Drop (band, bh) buckets holding more than `cap` members — the same
    * degenerate-bucket quadratic guard as simhash's bucketCap and the
    * shingle df-cap: a band hash shared by m mass-near-identical docs
    * (that survived exact dedup) emits m² candidate rows. A pair is lost
    * only if EVERY band it collides on is over the cap; surfaced pairs
    * are still verified with exact Jaccard. At scale the count runs on
    * the (band, bh)-bucketed table, so it adds no shuffle of the corpus.
    */
  private def bandCapped(bands: DataFrame, cap: Int): DataFrame =
    if (cap <= 0) bands
    else bands.join(
      bands.groupBy(col("band"), col("bh"))
        .agg(count(lit(1)).as("m_")).filter(col("m_") > cap)
        .select(col("band"), col("bh")),
      Seq("band", "bh"), "left_anti")

  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      k: Int = 3, tau: Double = 0.8,
                      numHashes: Int = 63, bandSize: Int = 3,
                      persistIndex: Boolean = true,
                      bandCap: Int = 4096): DataFrame =
    minhashLshPairsFromIndex(
      persisted(shingleFpRows(df, idCol, textCol, k), persistIndex),
      tau, numHashes, bandSize, bandCap)

  /** [[minhashLshPairs]] from a PREBUILT distinct (id, s)
    * shingle-fingerprint index — the companion of
    * [[ngramJaccardPairsFromIndex]] (the two tiers share one cached
    * k-shingle index when run together). Same banding and exact-verify
    * contract as the df form.
    */
  def minhashLshPairsFromIndex(ex: DataFrame, tau: Double = 0.8,
                               numHashes: Int = 63, bandSize: Int = 3,
                               bandCap: Int = 4096): DataFrame = {
    val numBands = numHashes / bandSize
    val sigs = minhashSignatures(ex, numHashes)
    val sizes = sigs.select(col("id"), col("n"))
    val bands = bandCapped(bandRows(sigs, numBands, bandSize), bandCap)
    val cands = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    jaccardFromCounts(exactIntersections(cands, ex), sizes, tau)
  }

  /** A persistable MinHash-LSH index over a corpus: the three tables a
    * production deployment materializes ONCE (shingle inverted index,
    * per-doc sizes, banded signature buckets) so that incoming batches
    * dedup against the corpus without re-shingling it. At 100 TB these
    * are parquet tables bucketed by their join keys (`s` for shingles,
    * `(band, bh)` for bands); here they are DataFrames with exactly
    * those keys.
    */
  final case class MinhashIndex(
      shingles: DataFrame, // (id, s: 64-bit shingle fingerprint)
      sizes: DataFrame, // (id, n)
      bands: DataFrame, // (id, band, bh)
      k: Int, numHashes: Int, bandSize: Int) {
    /** Releases the persisted shingle frame (no-op when built with
      * persistIndex=false) — long-lived applications indexing batch
      * after batch need this handle; `spark.catalog.clearCache()` would
      * evict unrelated caches too.
      */
    def unpersist(): Unit = { shingles.unpersist(); () }
  }

  /** Persist a [[MinhashIndex]] as catalog tables BUCKETED BY their join
    * keys — the deployment shape the incremental/streaming dedup path
    * assumes: `<prefix>_shingles` bucketed by `s`, `<prefix>_bands`
    * bucketed by `(band, bh)`, `<prefix>_sizes` by-id, and a one-row
    * `<prefix>_meta` carrying (k, numHashes, bandSize) so a loaded index
    * always bands incoming batches identically. Joins against the
    * loaded tables shuffle ONLY the batch side (bucket pruning keeps the
    * corpus scan in place — proven by the bucketed-bands spec's plan
    * assertion); at 100 TB `buckets` scales with the corpus, and the
    * same tables back every batch, incremental, and streaming run.
    */
  def saveMinhashIndex(index: MinhashIndex, prefix: String,
                       buckets: Int = 64): Unit = {
    val spark = index.shingles.sparkSession
    import spark.implicits._
    index.shingles.write.mode("overwrite")
      .bucketBy(buckets, "s").saveAsTable(s"${prefix}_shingles")
    index.bands.write.mode("overwrite")
      .bucketBy(buckets, "band", "bh").saveAsTable(s"${prefix}_bands")
    index.sizes.write.mode("overwrite").saveAsTable(s"${prefix}_sizes")
    Seq((index.k, index.numHashes, index.bandSize))
      .toDF("k", "num_hashes", "band_size")
      .write.mode("overwrite").saveAsTable(s"${prefix}_meta")
  }

  /** Load a [[MinhashIndex]] persisted by [[saveMinhashIndex]]. */
  def loadMinhashIndex(spark: org.apache.spark.sql.SparkSession,
                       prefix: String): MinhashIndex = {
    val meta = spark.table(s"${prefix}_meta").head()
    MinhashIndex(
      shingles = spark.table(s"${prefix}_shingles"),
      sizes = spark.table(s"${prefix}_sizes"),
      bands = spark.table(s"${prefix}_bands"),
      k = meta.getInt(0), numHashes = meta.getInt(1), bandSize = meta.getInt(2))
  }

  private def bandRows(sigs: DataFrame, numBands: Int, bandSize: Int): DataFrame =
    sigs.select(col("id"),
      explode(array((0 until numBands).map(b =>
        struct(lit(b).as("band"),
          xxhash64(slice(col("sig"), b * bandSize + 1, bandSize)).as("bh"))): _*)).as("bd"))
      .select(col("id"), col("bd.band").as("band"), col("bd.bh").as("bh"))

  /** Build the index for [[minhashLshIncremental]]. Same parameters ⇒
    * same banding as [[minhashLshPairs]].
    */
  def minhashIndex(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 3, numHashes: Int = 63, bandSize: Int = 3,
                   persistIndex: Boolean = true): MinhashIndex = {
    val ex = persisted(shingleFpRows(df, idCol, textCol, k), persistIndex)
    val sigs = minhashSignatures(ex, numHashes)
    MinhashIndex(ex, sigs.select(col("id"), col("n")),
      bandRows(sigs, numHashes / bandSize, bandSize), k, numHashes, bandSize)
  }

  /** Incremental near-dup detection: pairs (id_new, id_corpus, jaccard)
    * between a NEW batch and an indexed corpus, `jaccard >= tau`.
    *
    * The corpus side is never re-read as text: candidates come from a
    * band-bucket equi-join of the batch's bands against the stored
    * bands (shuffle keyed on (band, bh) — the key the stored table is
    * bucketed by, so at scale only the small batch side moves), and
    * exact verification joins the batch's shingles to the stored
    * inverted index on `s`. Batch-internal pairs are NOT emitted — run
    * [[minhashLshPairs]] on the batch for those.
    *
    * Output equals `minhashLshPairs(batch ∪ corpus)` restricted to
    * cross pairs (up to LSH recall), proven by spec.
    */
  def minhashLshIncremental(newDf: DataFrame, idCol: String, textCol: String,
                            index: MinhashIndex, tau: Double = 0.8,
                            persistIndex: Boolean = true,
                            bandCap: Int = 4096): DataFrame = {
    val exN = persisted(shingleFpRows(newDf, idCol, textCol, index.k), persistIndex)
    val sigsN = minhashSignatures(exN, index.numHashes)
    val bandsN = bandRows(sigsN, index.numHashes / index.bandSize, index.bandSize)
    // the quadratic is batch-band-rows x corpus-bucket-membership, so the
    // cap counts CORPUS buckets (the sf-scaling side); the count rides the
    // (band, bh)-bucketed index table shuffle-free at scale
    val cands = bandsN.as("a")
      .join(bandCapped(index.bands, bandCap).as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.id") =!= col("b.id"))
      .select(col("a.id").as("id_new"), col("b.id").as("id_corpus"))
      .distinct()
    // exact |A∩B| across the two shingle stores; key (id_corpus, s) is
    // unique in the index so rows are bounded by Σ|shingles(new doc)|
    val inter = cands
      .join(exN.select(col("id").as("id_new"), col("s")), Seq("id_new"))
      .join(index.shingles.select(col("id").as("id_corpus"), col("s")), Seq("id_corpus", "s"))
      .groupBy(col("id_new"), col("id_corpus"))
      .agg(count(lit(1)).as("ic"))
    inter
      .join(sigsN.select(col("id").as("id_new"), col("n").as("na")), Seq("id_new"))
      .join(index.sizes.select(col("id").as("id_corpus"), col("n").as("nb")), Seq("id_corpus"))
      .withColumn("jaccard",
        col("ic").cast("double") / (col("na") + col("nb") - col("ic")))
      .filter(col("jaccard") >= tau)
      .select(col("id_new"), col("id_corpus"), col("jaccard"))
  }

  /** 63-bit SimHash sketches as a (id, sh long) frame: explode tokens,
    * hash each token ONCE, then one groupBy(id) with 63 signed bit-sum
    * aggregates; the sketch is assembled from the agg row in a final
    * projection. Bits 0..62 only — 2^63 does not fit a signed long.
    */
  def simhashSketches(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol).as("id"),
      explode(split(col(textCol), " ")).as("t"))
      .withColumn("h", xxhash64(col("t")))
    val bitSums = (0 until 63).map { i =>
      sum(when(col("h").bitwiseAND(lit(1L << i)) =!= 0L, 1).otherwise(-1)).as(s"b_$i")
    }
    tok.groupBy(col("id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("id"),
        (0 until 63).map(i =>
          when(col(s"b_$i") > 0, lit(1L << i)).otherwise(lit(0L)))
          .reduce((a, b) => a.bitwiseOR(b)).as("sh"))
  }

  /** Tier 4: SimHash near-dup pairs with hamming distance <= maxHamming.
    * Pigeonhole banding: split the 63-bit sketch into maxHamming+1
    * chunks; a pair within the hamming budget must agree EXACTLY on at
    * least one chunk, so the candidate join runs on chunk equality, then
    * exact popcount verifies. More tolerance ⇒ more, narrower chunks ⇒
    * more candidates — the standard simhash recall/cost dial.
    *
    * `bucketCap` bounds the hot-bucket quadratic exactly like the
    * shingle df-cap: a (chunk, value) bucket holding m sketches emits
    * m² join rows, and at web scale one degenerate bucket (e.g. the
    * all-zeros chunk of short/templated docs) is a scale-killer.
    * Buckets with more than `bucketCap` members are dropped from the
    * candidate join. Recall contract mirrors [[dfCapped]]: a pair is
    * lost only if EVERY chunk it agrees on is over the cap — true for
    * mass-replicated identical content, which the standard pipeline
    * removes with [[exactGroups]] FIRST; the verify popcount is exact
    * for every surfaced pair regardless.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, bucketCap: Int = 4096): DataFrame = {
    val numChunks = maxHamming + 1
    val width = (63 + numChunks - 1) / numChunks
    val sk = simhashSketches(df, idCol, textCol)
    val allChunks = sk.select(col("id"), col("sh"),
      explode(array((0 until numChunks).map(c =>
        struct(lit(c).as("chunk"),
          shiftright(col("sh"), c * width)
            .bitwiseAND(lit((1L << width) - 1L)).as("ck"))): _*)).as("cd"))
      .select(col("id"), col("sh"), col("cd.chunk").as("chunk"), col("cd.ck").as("ck"))
    val chunks =
      if (bucketCap <= 0) allChunks
      else allChunks.join(
        allChunks.groupBy(col("chunk"), col("ck"))
          .agg(count(lit(1)).as("m_")).filter(col("m_") > bucketCap)
          .select(col("chunk"), col("ck")),
        Seq("chunk", "ck"), "left_anti")
    val cands = chunks.as("a").join(chunks.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.ck") === col("b.ck") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("a.sh").as("sh_a"),
        col("b.id").as("id_b"), col("b.sh").as("sh_b"))
      .distinct()
    cands
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .distinct()
  }

  /** Connected components over a near-duplicate PAIR list: every vertex
    * gets the minimum doc id reachable through dup edges — the canonical
    * representative of its duplicate cluster. Pairwise output alone is
    * not a keep-list: with pairs (A,B) and (B,C), dropping "the right
    * side of each pair" loses that A/B/C are ONE group (and double-drops
    * or orphans depending on pair order); the transitive closure is what
    * a dedup pipeline actually keys its keep decision on.
    *
    * Algorithm: graph contraction by partition-local union-find. Each
    * level runs union-find (path compression, min-id roots) INSIDE every
    * partition — zero shuffle, one task per partition — then relabels
    * both edge endpoints by their local root; components that straddle
    * partitions survive as edges between roots, and that contracted edge
    * list shrinks geometrically (each level folds every
    * partition-internal structure into single vertices). Once the edge
    * list fits one task (`singleTaskEdges`, default 4M edges ≈ 64 MB —
    * executor-side, NEVER a driver collect) it is `coalesce(1)`d and one
    * final union-find closes the remaining cross-partition seams, so the
    * loop is join-depth O(log P) rather than O(cluster diameter): a
    * min-LABEL-propagation loop costs one shuffle round per diameter hop
    * and its per-round job latency dominates wall-clock on real (small,
    * star/chain-shaped) dup graphs — measured 8.6 s for a 477-vertex
    * graph at sf0.1 vs ~0.5 s for this scheme. Per-level frames are
    * truncated with eager `localCheckpoint` so the iterative plan stays
    * O(1) deep. Final labels compose the per-level mappings (level k+1
    * refines level k's roots) with small hash joins.
    *
    * The vertex set holds only docs that HAVE a near-dup — orders of
    * magnitude smaller than the corpus — so at 100 TB this runs over the
    * persisted pair table, never touching document text: billions of
    * pair edges contract to partition-root seam edges in one level and
    * to a single-task residue in two or three.
    *
    * Returns (doc_id, cluster_id); docs with no dup edges are absent
    * (they are their own singletons). `maxLevels` bounds the contraction
    * loop; labels are exact whenever the loop drains the edge list,
    * which the single-task endgame guarantees by `maxLevels` ≈
    * log(edges / singleTaskEdges) + 1 — far below the default 10.
    */
  def connectedComponents(pairs: DataFrame, aCol: String = "id_a",
                          bCol: String = "id_b", maxLevels: Int = 10,
                          singleTaskEdges: Long = 4000000L): DataFrame = {
    import org.apache.spark.sql.Encoders
    val pairEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    var edges = pairs
      .select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .localCheckpoint(true)
    var remaining = edges.count()
    var mappings = List.empty[DataFrame] // deepest level first
    var level = 0
    while (remaining > 0 && level < maxLevels) {
      val endgame = remaining <= singleTaskEdges
      val scoped = if (endgame) edges.coalesce(1) else edges
      // tuple encoders resolve fields by NAME (_1/_2), not position.
      // A node whose edges straddle partitions appears in SEVERAL
      // partitions' mappings with different local roots — reduce to ONE
      // row per node (min root: any local root is inside the node's
      // component) so the relabel join can't multiply rows and the
      // composed labels stay unique per node.
      val mapping = scoped.select(col("src").as("_1"), col("dst").as("_2"))
        .as(pairEnc)
        .mapPartitions(localUnionFind)(pairEnc)
        .toDF("node", "root")
        .groupBy(col("node")).agg(min(col("root")).as("root"))
        .localCheckpoint(true)
      mappings ::= mapping
      if (endgame) {
        // ONE partition saw every edge, so every relabeled edge is a
        // self-loop: the contracted list is provably empty — skip the
        // relabel join, its checkpoint, and the count
        remaining = 0
      } else {
        edges = edges
          .join(mapping.select(col("node").as("src"), col("root").as("r1")), Seq("src"))
          .join(mapping.select(col("node").as("dst"), col("root").as("r2")), Seq("dst"))
          .select(col("r1").as("src"), col("r2").as("dst"))
          .filter(col("src") =!= col("dst"))
          .distinct()
          .localCheckpoint(true)
        remaining = edges.count()
      }
      level += 1
    }
    // the single-task endgame drains the list by construction, so a
    // non-drained exit means maxLevels was set below
    // log(edges/singleTaskEdges)+1 for this graph — the composed labels
    // would be silently UNDER-merged (split clusters → duplicate
    // survivors in a keep-list). Fail loudly instead.
    require(remaining == 0,
      s"connectedComponents: contraction stopped at maxLevels=$maxLevels " +
        s"with $remaining cross-partition edges undrained; raise maxLevels " +
        s"or singleTaskEdges")
    mappings.reverse match {
      case Nil =>
        pairs.sparkSession.emptyDataFrame
          .select(lit(0L).as("doc_id"), lit(0L).as("cluster_id"))
      case first :: deeper =>
        // level k+1 maps level k's ROOTS; a root absent there is final
        deeper.foldLeft(first) { (labels, m) =>
          val refine = m.select(col("node").as("rk"), col("root").as("rv"))
          labels.join(refine, labels("root") === refine("rk"), "left")
            .select(labels("node"),
              coalesce(refine("rv"), labels("root")).as("root"))
        }.select(col("node").as("doc_id"), col("root").as("cluster_id"))
    }
  }

  /** Union-find with path compression over one partition's edges; roots
    * are the minimum member id, so labels are deterministic regardless
    * of partitioning or edge order. Emits one (node, root) row per
    * distinct node seen in this partition.
    */
  private def localUnionFind(
      it: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      while (parent.get(x) != x) {
        val gp = parent.get(parent.get(x))
        parent.put(x, gp) // path halving
        x = gp
      }
      x
    }
    it.foreach { case (a, b) =>
      parent.putIfAbsent(a, a)
      parent.putIfAbsent(b, b)
      val ra = find(a); val rb = find(b)
      // union by min id: the smaller root absorbs the larger
      if (ra < rb) parent.put(rb, ra)
      else if (rb < ra) parent.put(ra, rb)
    }
    import scala.jdk.CollectionConverters._
    parent.keySet().asScala.iterator.map(n => (n, find(n)))
  }

  /** Fold a new batch of near-dup pairs into a persisted
    * (doc_id, cluster_id) assignment — the cluster-side companion of
    * [[minhashLshIncremental]]: continuous ingestion finds batch-vs-index
    * pairs, and this closes them into the standing cluster table without
    * ever re-pairing history. Each existing assignment IS a closed edge
    * (member — canonical), so `updateComponents(connectedComponents(P1),
    * P2) == connectedComponents(P1 ∪ P2)` (spec-pinned on random
    * splits): clusters merged by a bridging batch re-key to the min id
    * across both generations. Cost scales with |assignment| + |batch
    * pairs|, not with pair history.
    */
  def updateComponents(existing: DataFrame, newPairs: DataFrame,
                       aCol: String = "id_a", bCol: String = "id_b"): DataFrame =
    connectedComponents(
      existing
        .select(col("doc_id").as("id_a"), col("cluster_id").as("id_b"))
        .unionByName(
          newPairs.select(col(aCol).cast("long").as("id_a"),
            col(bCol).cast("long").as("id_b"))))

  /** Keep-list filter over a cluster assignment: drops every row whose
    * id is a NON-canonical member of a duplicate cluster; canonical
    * members (id == cluster_id) and docs absent from `clusters`
    * (singletons) pass through. The drop-list holds only dup-involved
    * ids — tiny next to the corpus — so AQE broadcasts the anti-join's
    * build side; the corpus never shuffles.
    */
  def dropDuplicateMembers(df: DataFrame, idCol: String,
                           clusters: DataFrame): DataFrame = {
    val dupIds = clusters.filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"))
    df.join(dupIds, df(idCol) === dupIds("doc_id"), "left_anti")
  }

  /** Quality-aware winner election over near-dup clusters: per
    * `cluster_id`, the member with the highest `scoreCol` (ties to the
    * LOWEST id) plus the member count — [[exactGroupsBest]] lifted from
    * identical-text groups to transitive near-dup components. The
    * clusters frame is pair-derived (tiny vs the corpus) and the argmax
    * is one struct-max hash aggregate; no window, no second pass.
    */
  def bestClusterMembers(clusters: DataFrame, scores: DataFrame,
                         idCol: String, scoreCol: String): DataFrame =
    // same id-type-agnostic argmin as [[exactGroupsBest]]: negate only
    // the (numeric) score, never the id
    clusters
      .join(scores.select(col(idCol).as("doc_id"), col(scoreCol).as("__q")),
        Seq("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(
        min(struct((-col("__q")).as("ns"), col("doc_id").as("i"))).as("m"),
        count(lit(1)).as("n_members"))
      .select(col("cluster_id"), col("m.i").as("keeper"),
        (-col("m.ns")).as("keeper_score"), col("n_members"))

  /** [[dropDuplicateMembers]] with the quality-aware survivor: every
    * cluster keeps its [[bestClusterMembers]] winner instead of the
    * minimum id. Rows outside any cluster pass through untouched.
    */
  def dropDuplicateMembersBest(df: DataFrame, idCol: String,
                               scoreCol: String,
                               clusters: DataFrame): DataFrame = {
    val winners = bestClusterMembers(clusters,
      df.select(col(idCol), col(scoreCol)), idCol, scoreCol)
    val dupIds = clusters.join(winners, Seq("cluster_id"))
      .filter(col("doc_id") =!= col("keeper"))
      .select(col("doc_id"))
    df.join(dupIds, df(idCol) === dupIds("doc_id"), "left_anti")
  }

  /** Span-level (block) dedup — the C4/RefinedWeb "remove the duplicated
    * PASSAGE, keep the document" operator, complementary to the
    * whole-document tiers above: each document is split into
    * non-overlapping `blockSize`-token blocks ([[Packing.chunkTokens]]
    * with overlap 0), a block that occurs verbatim more than once
    * corpus-wide survives only at its FIRST occurrence (minimum
    * (doc id, block position) — deterministic, engine-independent), and
    * each document is reassembled from its surviving blocks in order.
    * Documents whose every block was dropped disappear from the output.
    *
    * Reference scope note: the reference engine has no passage-level
    * dedup; this extends its dedup surface for pretraining pipelines
    * (cf. C4's three-sentence-span dedup, Raffel et al. 2020).
    *
    * Output: `idCol`, `text_dedup`, `n_kept`, `n_dropped` (block counts).
    *
    * Scale shape: blocks are keyed by `xxhash64(block)` — 8-byte shuffle
    * keys, same collision contract as [[exactDuplicates]]. Three keyed
    * shuffles total, each linear in corpus size: (1) groupBy hash for
    * first-occurrence election, (2) the decision join back (co-keyed
    * with (1), and the election side is |distinct blocks| ≤ |blocks|),
    * (3) groupBy doc for reassembly. No candidate quadratics exist at
    * any tier — a block repeated in m documents contributes m rows to
    * the election group, never m² pairs.
    */
  def blockDedup(docs: DataFrame, idCol: String, textCol: String,
                 blockSize: Int = 64): DataFrame = {
    val blocks = Packing.chunkTokens(docs, idCol, textCol,
        size = blockSize, overlap = 0)
      .select(col(idCol), col("chunk_id"), col("chunk_text"),
        xxhash64(col("chunk_text")).as("__bh"))
    // struct min = lexicographic (doc, position): the first occurrence
    // under the corpus's natural order, with no arithmetic key-packing
    // assumptions about id ranges
    val firsts = blocks.groupBy(col("__bh"))
      .agg(min(struct(col(idCol), col("chunk_id"))).as("__first"),
        count(lit(1)).as("__df"))
    // keep-decision flag + ONE reassembly aggregate: collect_list skips
    // null entries, so kept blocks and the per-doc total ride the same
    // groupBy — no second aggregation, no count join
    reassemble(idCol,
      blocks.join(firsts, Seq("__bh"))
        .withColumn("__keep", col("__df") === 1 ||
          (col(idCol) === col("__first")(idCol) &&
            col("chunk_id") === col("__first")("chunk_id"))))
  }

  private def blockRows(docs: DataFrame, idCol: String, textCol: String,
                        blockSize: Int): DataFrame =
    Packing.chunkTokens(docs, idCol, textCol, size = blockSize, overlap = 0)
      .select(col(idCol), col("chunk_id"), col("chunk_text"),
        xxhash64(col("chunk_text")).as("__bh"))

  private def reassemble(idCol: String, flagged: DataFrame): DataFrame =
    flagged
      .groupBy(col(idCol))
      .agg(
        // sort_array, not array_sort: same (chunk_id-first) struct
        // ordering without the higher-order-function machinery
        sort_array(collect_list(when(col("__keep"),
          struct(col("chunk_id"), col("chunk_text"))))).as("__arr"),
        count(lit(1)).as("__total"))
      .filter(size(col("__arr")) > 0)
      .select(col(idCol),
        array_join(col("__arr")("chunk_text"), " ").as("text_dedup"),
        size(col("__arr")).cast("long").as("n_kept"),
        (col("__total") - size(col("__arr"))).as("n_dropped"))

  /** One batch of incremental [[blockDedup]]: dedup a NEW batch's blocks
    * against a standing seen-block index (one `bh` long column) AND
    * within the batch itself, returning the deduped batch plus the
    * index delta to append. When corpus documents precede batch
    * documents in (doc, pos) order, folding batches in order equals the
    * one-shot `blockDedup(corpus ∪ batch)` restricted to the batch
    * (spec-pinned) — the continuous-ingest contract.
    *
    * Scale: the standing index is never re-read as text and never
    * shuffles when persisted bucketed by `bh` ([[saveBlockIndex]]) —
    * the batch side alone moves through the seen join, exactly the
    * [[minhashLshIncremental]] deployment shape. The index delta is the
    * batch's DISTINCT new hashes (8 bytes each), appended bucket-aligned.
    */
  final case class BlockBatch(deduped: DataFrame, newBlocks: DataFrame)

  def blockDedupIncremental(batch: DataFrame, idCol: String, textCol: String,
                            seenBlocks: DataFrame,
                            blockSize: Int = 64): BlockBatch = {
    val blocks = blockRows(batch, idCol, textCol, blockSize)
    val firsts = blocks.groupBy(col("__bh"))
      .agg(min(struct(col(idCol), col("chunk_id"))).as("__first"),
        count(lit(1)).as("__df"))
    val seen = seenBlocks.select(col("bh").as("__bh"), lit(true).as("__seen"))
    val flagged = blocks.join(firsts, Seq("__bh"))
      .join(seen, Seq("__bh"), "left")
      .withColumn("__keep", col("__seen").isNull &&
        (col("__df") === 1 ||
          (col(idCol) === col("__first")(idCol) &&
            col("chunk_id") === col("__first")("chunk_id"))))
    val delta = blocks.select(col("__bh"))
      .distinct()
      .join(seen, Seq("__bh"), "left_anti")
      .select(col("__bh").as("bh"))
    BlockBatch(reassemble(idCol, flagged), delta)
  }

  /** Boilerplate-block STRIP: remove every occurrence of any block that
    * appears in >= `minDf` distinct documents — headers, footers, cookie
    * banners, license stubs. The dual of [[blockDedup]]: where dedup
    * keeps the FIRST occurrence of a repeated span, strip keeps NONE,
    * because a span shared by many documents is template noise, not
    * content (cf. RefinedWeb's line-frequency filter, Penedo et al.
    * 2023 §3.2 — public-paper semantics, no reference analogue).
    *
    * Document frequency counts DISTINCT documents (a block repeated
    * WITHIN one document is repetition, not boilerplate — it stays
    * unless [[blockDedup]] is also applied). Documents whose every
    * block was stripped disappear from the output.
    *
    * Output: `idCol`, `text_dedup`, `n_kept`, `n_dropped` — the same
    * contract as [[blockDedup]], so the two compose interchangeably.
    *
    * Scale shape: identical to [[blockDedup]] — three keyed linear
    * shuffles on 8-byte `xxhash64` keys (df election, decision join
    * back, per-doc reassembly); the df aggregate is
    * `count(distinct doc)` per hash, which Spark executes as two
    * partial-aggregated passes over the SAME key partitioning, never a
    * pair expansion. No quadratics at any tier.
    */
  def blockBoilerplateStrip(docs: DataFrame, idCol: String, textCol: String,
                            blockSize: Int = 32, minDf: Int = 2): DataFrame = {
    val blocks = blockRows(docs, idCol, textCol, blockSize)
    val dfs = blocks.groupBy(col("__bh"))
      .agg(countDistinct(col(idCol)).as("__docdf"))
    reassemble(idCol,
      blocks.join(dfs, Seq("__bh"))
        .withColumn("__keep", col("__docdf") < minDf))
  }

  /** Persist/append a seen-block index bucketed by `bh`, so batch joins
    * leave the standing side in place (same contract as
    * [[saveMinhashIndex]]). Append the [[BlockBatch.newBlocks]] delta
    * after each batch.
    */
  def saveBlockIndex(blocks: DataFrame, table: String, buckets: Int = 64,
                     append: Boolean = false): Unit =
    blocks.select(col("bh")).write
      .mode(if (append) "append" else "overwrite")
      .bucketBy(buckets, "bh").saveAsTable(table)

  // -------------------------------------------------------------------
  // Tier 6: substring (span-level) duplication. Whole-doc tiers (2-5)
  // miss the common web-scale failure mode where two otherwise-distinct
  // pages share one long verbatim passage (a quoted article, a license
  // block, a template). Exact substring matching over every position is
  // a suffix-array job; the scalable relational form is "0 mod p"
  // fingerprint sampling (Manber 1994 / MOSS): every character k-gram
  // whose md5 hex digest starts with `sel` is a fingerprint, so a
  // duplicated span of length L >= k shares an expected
  // (L - k + 1) / 16^|sel| sampled grams between its two hosts.
  // Selection is content-defined — edits elsewhere in a doc never shift
  // which grams inside the span are sampled (unlike fixed-stride
  // sampling) — and md5 keeps it engine-portable (the DuckDB oracle
  // reproduces the selection bit-for-bit).

  /** Sampled char-k-gram fingerprints: one (id, h) row per DISTINCT
    * selected gram per doc, h = the md5 hex digest. The whole
    * hash-select-dedup loop runs INSIDE the scan as ONE codegen kernel
    * ([[graft.functions.SampledSpanHashes]]): a sliding byte-window md5
    * per position with no per-position row, no hex encode for the
    * ~15/16 rejected digests (prefix checked on nibbles), and per-doc
    * dedup in place — so the plan is scan → kernel → Generate with ZERO
    * shuffles (the old relational form paid a distinct exchange and a
    * Generate row per character; it survives as
    * [[spanFingerprintsUnfused]] for the equivalence spec, and the
    * DuckDB oracle still replays selection bit-for-bit from md5). At
    * 100 TB: tune k to the shortest span worth catching (40-100 chars)
    * and |sel| so sampled rows per doc stay O(len/16^|sel|) ~ tens.
    */
  def spanFingerprints(df: DataFrame, idCol: String, textCol: String,
                       k: Int = 40, sel: String = "0"): DataFrame =
    df.filter(length(col(textCol)) >= k)
      .select(col(idCol).as("id"),
        explode(org.apache.spark.sql.classic.GraftExpressionBridge.column(
          graft.functions.SampledSpanHashes(
            org.apache.spark.sql.classic.GraftExpressionBridge.expression(
              col(textCol)), k, sel))).as("h"))

  /** The explode→substr→md5→startsWith→distinct formulation of
    * [[spanFingerprints]] — an independent implementation kept ONLY for
    * the equivalence spec (kernel == relational pipeline): the fused
    * kernel hashes a sliding byte window with no per-position row and
    * dedups in place, where this form materializes a Generate row per
    * character position, hex-encodes every rejected digest, and pays a
    * full distinct exchange.
    */
  private[graft] def spanFingerprintsUnfused(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 40, sel: String = "0"): DataFrame =
    df.filter(length(col(textCol)) >= k)
      .select(col(idCol).as("id"), col(textCol).as("__t"))
      // length >= k keeps the sequence ascending (Spark would otherwise
      // generate a DESCENDING sequence for stop < start, not an empty one)
      .select(col("id"), col("__t"),
        explode(sequence(lit(1), length(col("__t")) - lit(k - 1))).as("__p"))
      .select(col("id"), md5(col("__t").substr(col("__p"), lit(k))).as("h"))
      .filter(col("h").startsWith(sel))
      .distinct()

  /** Doc pairs sharing at least `minShared` sampled k-grams — i.e.
    * sharing verbatim spans totalling roughly `minShared * 16^|sel|`
    * chars. Same fused inverted-index shape as tier 2 (shuffles key on
    * 8-byte xxhash64 of the digest; `dfCap` bounds hot boilerplate
    * grams with the supplement join keeping surfaced counts exact), so
    * the all-pairs quadratic is structurally impossible here too.
    */
  def duplicateSpanPairs(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 40, sel: String = "0", minShared: Int = 2,
                         dfCap: Int = 256, persistIndex: Boolean = true,
                         aggParts: Int = PairAggSizing.Auto): DataFrame = {
    val ex = persisted(
      spanFingerprints(df, idCol, textCol, k, sel)
        .select(col("id"), xxhash64(col("h")).as("s")),
      persistIndex)
    // feasibility: the full shared count can reach at most
    // c_kept + least(oa, ob), so pairs below minShared there can never
    // surface — the exact count then runs on survivors only
    fusedIntersectionsPruned(ex, dfCap, aggParts = aggParts) { (c, _, _, oa, ob) =>
      c + least(oa, ob) >= lit(minShared.toLong)
    }
      .filter(col("ic") >= minShared)
      .select(col("id_a"), col("id_b"), col("ic").as("n_shared"))
  }

  /** Persist a tier-6 span-fingerprint index BUCKETED BY the 8-byte
    * fingerprint — the join key of [[spanPairsIncremental]], so batch
    * probes leave the corpus side in place (same contract as
    * [[saveMinhashIndex]]). Append each batch's fingerprints after
    * processing to keep the index current.
    */
  def saveSpanIndex(df: DataFrame, idCol: String, textCol: String,
                    table: String, k: Int = 40, sel: String = "0",
                    buckets: Int = 64, append: Boolean = false): Unit =
    spanFingerprints(df, idCol, textCol, k, sel)
      .select(col("id"), xxhash64(col("h")).as("s"))
      .write.mode(if (append) "append" else "overwrite")
      .bucketBy(buckets, "s").saveAsTable(table)

  /** Incremental tier-6: span pairs of a NEW batch against a persisted
    * corpus index — (id_new, id_corpus, n_shared) with n_shared >=
    * `minShared`, EXACT per surfaced pair (over-cap supplement, as in
    * [[duplicateSpanPairs]]). Only the batch side is fingerprinted and
    * shuffled; against a [[saveSpanIndex]] table the sort-merge join
    * reads corpus buckets in place, and the corpus-side df counts (the
    * sf-scaling side for the cap) ride that same bucketed layout
    * shuffle-free. Batch-internal pairs are intentionally not emitted
    * (run [[duplicateSpanPairs]] on the batch for those).
    */
  def spanPairsIncremental(newDf: DataFrame, idCol: String, textCol: String,
                           index: DataFrame, k: Int = 40, sel: String = "0",
                           minShared: Int = 2, dfCap: Int = 256,
                           persistIndex: Boolean = true): DataFrame = {
    val b = persisted(
      spanFingerprints(newDf, idCol, textCol, k, sel)
        .select(col("id").as("id_new"), xxhash64(col("h")).as("s")),
      persistIndex)
    val idx = index.select(col("id").as("id_corpus"), col("s"))
    // corpus-side df only: the corpus is the side that scales
    val overS = idx.groupBy(col("s")).agg(count(lit(1)).as("df_"))
      .filter(col("df_") > dfCap).select(col("s"))
    val keptIdx = if (dfCap <= 0) idx else idx.join(overS, Seq("s"), "left_anti")
    val keptB   = if (dfCap <= 0) b   else b.join(overS, Seq("s"), "left_anti")
    val cKept = keptB.join(keptIdx, Seq("s"))
      .groupBy(col("id_new"), col("id_corpus"))
      .agg(count(lit(1)).as("c_kept"))
    val inter =
      if (dfCap <= 0) cKept.select(col("id_new"), col("id_corpus"), col("c_kept").as("n_shared"))
      else {
        val overIdx = idx.join(overS, Seq("s"), "left_semi")
        val overB   = b.join(overS, Seq("s"), "left_semi")
        val cOver = cKept.select(col("id_new"), col("id_corpus"))
          .join(overB, Seq("id_new"))
          .join(overIdx, Seq("id_corpus", "s"))
          .groupBy(col("id_new"), col("id_corpus"))
          .agg(count(lit(1)).as("c_over"))
        cKept.join(cOver, Seq("id_new", "id_corpus"), "left")
          .select(col("id_new"), col("id_corpus"),
            (col("c_kept") + coalesce(col("c_over"), lit(0L))).as("n_shared"))
      }
    inter.filter(col("n_shared") >= minShared)
  }

  /** Per-doc span-duplication profile: of this doc's `n_sampled`
    * fingerprints, `n_dup` also occur in ANOTHER doc (corpus df >= 2);
    * `dup_ratio` = n_dup / n_sampled estimates the fraction of the doc
    * that is verbatim-duplicated elsewhere — the number a curation gate
    * thresholds on (docs under `k` chars or with no sampled gram carry
    * n_sampled = 0 and a null ratio). Two shuffles total: the df
    * groupBy on the 8-byte fingerprint and the per-doc rollup; the
    * doc-side left join re-attaches by id.
    */
  /** Per-doc sampled-span duplication counts for the ids that HAVE
    * sampled spans: (id, n_sampled > 0, n_dup). The cover-free core of
    * [[spanDupProfile]] — a pipeline that already holds the id universe
    * (e.g. a cached gate-survivor set) anti-joins the over-threshold
    * ids from THIS frame instead of paying the profile's extra source
    * scan for the all-ids left join. The span index feeds both the
    * df aggregate and the per-doc join, so when persisted it is
    * materialized EAGERLY — two consumers racing a lazy cache re-run
    * the fingerprint kernel a nondeterministic number of times.
    */
  def spanDupStats(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 40, sel: String = "0",
                   persistIndex: Boolean = true): DataFrame =
    spanDupStatsFromIndex(
      persisted(spanDupIndex(df, idCol, textCol, k, sel), persistIndex))

  /** The (id, s) sampled-span index [[spanDupStats]] reads. */
  private[ops] def spanDupIndex(df: DataFrame, idCol: String, textCol: String,
                                k: Int, sel: String): DataFrame =
    spanFingerprints(df, idCol, textCol, k, sel)
      .select(col("id"), xxhash64(col("h")).as("s"))

  /** [[spanDupStats]] over a [[spanDupIndex]] the caller built — and
    * caches, when it owns its lifetime (as [[Curation.pipelineV3Stages]]
    * does).
    */
  private[ops] def spanDupStatsFromIndex(ex: DataFrame): DataFrame = {
    val dfs = ex.groupBy(col("s")).agg(count(lit(1)).as("df_"))
    ex.join(dfs, Seq("s"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_sampled"),
        count_if(col("df_") >= 2).as("n_dup"))
  }

  def spanDupProfile(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 40, sel: String = "0",
                     persistIndex: Boolean = true): DataFrame = {
    val per = spanDupStats(df, idCol, textCol, k, sel, persistIndex)
    df.select(col(idCol).as("id"))
      .join(per, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        when(coalesce(col("n_sampled"), lit(0L)) > 0,
          coalesce(col("n_dup"), lit(0L)).cast("double") / col("n_sampled"))
          .as("dup_ratio"))
  }
}
