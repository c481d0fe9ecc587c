package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Deterministic sampling for training-data curation: reproducible
  * subsets keyed on a stable id, not on `rand()`. Every operator here is
  * a pure projection/filter (or one windowed shuffle for fixed-N), so
  * the same call on the same data always returns the same rows — across
  * runs, partitionings, AND engines: the hash is plain 64-bit modular
  * arithmetic (a Knuth multiplicative hash) that any SQL engine
  * reproduces exactly, which is what makes these ops oracle-checkable
  * and lets a pipeline re-derive "which rows were sampled" years later
  * without storing the sample.
  *
  * Scale: `hashBucket` is a codegen'd scalar — sampling 100 TB is a scan
  * with a pushable-ish filter and zero shuffles. `stratifiedFixedN` adds
  * one shuffle on the stratum column (the window), nothing else.
  */
object Sampling {

  /** Buckets per unit fraction: fractions are quantized to 1e-6. */
  val Buckets = 1000000L
  // id is folded mod a prime < 2^20 before the multiply so the product
  // stays < 2^62 — no overflow under ANSI arithmetic in any engine
  private val FoldPrime = 1048573L
  private val Knuth = 2654435761L

  /** Deterministic bucket in [0, Buckets) for a non-negative integral id.
    * SQL equivalent (any engine): `((id % 1048573) * 2654435761) % 1000000`.
    */
  def hashBucket(id: Column): Column =
    pmod(pmod(id, lit(FoldPrime)) * lit(Knuth), lit(Buckets))

  /** [[hashBucket]] for STRING keys (domains, authors, URLs):
    * the first 8 hex digits of md5 read as an integer, mod 1e6 —
    * engine-portable because md5 is, unlike `xxhash64` or JVM
    * `hashCode`. SQL equivalent (DuckDB):
    * `list_reduce(list_transform(range(1,9),
    *    i -> strpos('0123456789abcdef', substr(md5(s),i,1)) - 1),
    *    (a,b) -> a*16 + b) % 1000000`.
    * Still a codegen'd per-row scalar (md5 of a short key), zero
    * shuffles — but ~30x the cost of the integral fold, so prefer
    * [[hashBucket]] when a stable numeric id exists.
    */
  def stringBucket(s: Column): Column =
    pmod(conv(substring(md5(s), 1, 8), 16, 10).cast("long"), lit(Buckets))

  /** Per-stratum fractions: keep ~`fractions(stratum)` of each stratum
    * (`default` for strata not in the map). One scan, no shuffle, no
    * per-stratum jobs — the stratum→threshold lookup compiles to a CASE
    * chain (strata maps are small: languages, sources, quality bands).
    */
  def stratifiedSample(
      df: DataFrame,
      strataCol: String,
      idCol: String,
      fractions: Map[String, Double],
      default: Double = 0.0): DataFrame = {
    require((default +: fractions.values.toSeq).forall(f => f >= 0 && f <= 1),
      "fraction out of [0,1]")
    val threshold = fractions.foldLeft(lit((default * Buckets).toLong)) {
      case (acc, (stratum, frac)) =>
        when(col(strataCol) === stratum, lit((frac * Buckets).toLong)).otherwise(acc)
    }
    df.filter(hashBucket(col(idCol)) < threshold)
  }

  /** Exactly `n` rows per stratum (fewer if the stratum is smaller),
    * chosen deterministically: rank by (id hash, id) within each stratum
    * and keep the first `n`. The standard "N examples per language/domain
    * for eval" picker.
    *
    * With few strata (8 clusters, 30 languages) the naive window funnels
    * the WHOLE table through #strata tasks. `saltBuckets > 0` turns on a
    * two-phase selection: rank within (stratum, hash-salt) cells first —
    * `saltBuckets × #strata` tasks — keep `n` per cell, then rank the
    * surviving `n × saltBuckets` rows per stratum. Selecting the n
    * smallest keys is distributive over any partition of the rows, and
    * the (hash, id) order is total, so the result is bit-identical to
    * the single-phase form (spec-pinned); only the first shuffle carries
    * the table, and it spreads over the salted key space.
    */
  def stratifiedFixedN(df: DataFrame, strataCol: String, idCol: String, n: Int,
                       saltBuckets: Int = 0): DataFrame = {
    require(n > 0, "n must be positive")
    def topN(d: DataFrame, parts: Seq[Column]): DataFrame =
      TopK.rank(d, parts, Seq(hashBucket(col(idCol)).asc, col(idCol).asc), n, "__rn")
        .drop("__rn")
    if (saltBuckets <= 1) topN(df, Seq(col(strataCol)))
    else {
      // salt off a DIFFERENT fold of the id than the rank key so cell
      // membership doesn't correlate with rank order
      val salted = df.withColumn("__salt",
        pmod(pmod(col(idCol), lit(999983L)) * lit(Knuth), lit(saltBuckets.toLong)))
      topN(topN(salted, Seq(col(strataCol), col("__salt"))).drop("__salt"),
        Seq(col(strataCol)))
    }
  }

  /** Deterministic global training order: every row gets a `shard` in
    * [0, nShards) and a dense `pos` (1-based) within its shard, both
    * pure functions of the id — the "shuffle the corpus for training"
    * step, reproducible across runs and engines with no RNG state.
    * Shard assignment hashes with a DIFFERENT multiplier than the
    * within-shard order key, so position within a shard is uncorrelated
    * with which shard a row landed in (the two-level shuffle trainers
    * expect: shards are read in any order, rows stream within a shard).
    *
    * Plan shape: one exchange on `shard`, one in-partition sort — the
    * minimum any global reordering needs. Pick `nShards` at the output
    * file count (hundreds to tens of thousands at 100 TB), which also
    * keeps every post-shuffle task bounded; there is no global sort and
    * no driver involvement.
    */
  def shardShuffle(df: DataFrame, idCol: String, nShards: Int): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    val shard = pmod(pmod(col(idCol), lit(FoldPrime)) * lit(2246822519L),
      lit(nShards.toLong))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard"))
      .orderBy(hashBucket(col(idCol)).asc, col(idCol).asc)
    df.withColumn("shard", shard)
      .withColumn("pos", row_number().over(w))
  }

  /** Per-stratum repeat factors that hit `target` shares by REPETITION
    * (upsampling) only: the most over-target stratum gets factor 1.0
    * (its data is never dropped), every other stratum repeats
    * `scale·share/count ≥ 1` times. The dual of downsampling
    * ([[mixtureSelect]]); use this form when the corpus is the
    * bottleneck and training wants more epochs of the small sources
    * (the standard multilingual/code-mix recipe).
    */
  def repeatFactors(current: Map[String, Long], target: Map[String, Double]): Map[String, Double] = {
    require(current.nonEmpty && current.keySet == target.keySet, "strata sets must match")
    val tSum = target.values.sum
    require(target.values.forall(_ >= 0) && tSum > 0, "bad target shares")
    require(current.forall { case (s, c) => c > 0 || target(s) == 0.0 },
      "empty stratum with nonzero target share")
    val share = target.view.mapValues(_ / tSum).toMap
    val scale = current.collect { case (s, c) if share(s) > 0 => c / share(s) }.max
    current.map { case (s, c) =>
      s -> (if (share(s) == 0) 0.0 else scale * share(s) / c)
    }
  }

  /** Materialize a repeated corpus from per-stratum repeat factors: a
    * row in stratum `s` with factor `f` emits `floor(f)` copies plus one
    * more iff `hashBucket(id) < frac(f)·1e6` — so each stratum's
    * expected row count is exactly `f·count(s)`, membership of the
    * extra copy is deterministic/engine-portable, and every output row
    * carries its 0-based `epoch` copy index (trainers shard on it or
    * interleave epochs downstream).
    *
    * Scale shape: the factor map compiles to a CASE chain (strata are
    * few) — the corpus is ONE scan into a generator (explode of a
    * `sequence` whose length is per-row computed); no shuffle, no join,
    * no driver data motion. Output size is Σ f_s·n_s by construction —
    * the expansion the caller explicitly asked for.
    */
  def epochMix(df: DataFrame, strataCol: String, idCol: String,
               factors: Map[String, Double]): DataFrame = {
    require(factors.values.forall(f => f >= 0 && f <= 1000), "factor out of [0,1000]")
    val whole = factors.foldLeft(lit(0L)) { case (acc, (s, f)) =>
      when(col(strataCol) === s, lit(math.floor(f).toLong)).otherwise(acc)
    }
    val fracThr = factors.foldLeft(lit(0L)) { case (acc, (s, f)) =>
      when(col(strataCol) === s,
        lit(math.floor((f - math.floor(f)) * Buckets).toLong)).otherwise(acc)
    }
    val copies = whole + when(hashBucket(col(idCol)) < fracThr, 1L).otherwise(0L)
    df.withColumn("__n", copies)
      .filter(col("__n") > 0)
      .withColumn("epoch", explode(sequence(lit(0L), col("__n") - 1)))
      .drop("__n")
  }

  /** Temperature-flattened mixture sampling, the multilingual-training
    * rebalance (cf. mBERT/XLM-R exponential smoothing): target share of
    * stratum `s` ∝ count(s)^alpha, realized by deterministic
    * downsampling only (no upsampling — the most over-target stratum is
    * kept whole). alpha = 1 keeps the natural mix; alpha → 0 approaches
    * uniform; 0.5 is the common "flatten the head, keep the tail" point.
    *
    * Fully distributed: the stratum counts, the scale bound, and the
    * per-stratum thresholds are three TINY aggregates (≤ #strata rows)
    * joined back to the corpus —
    * AQE broadcasts them — so the corpus itself is ONE scan with a
    * pushed filter and no shuffle, and nothing ever collects.
    *
    * Engine-portable determinism: membership is `hashBucket(id) <
    * floor(frac·1e6)`, and for alpha = 0.5 the weight is computed with
    * `sqrt` (correctly-rounded in IEEE-754, bit-identical across
    * engines) — min/mul/div are likewise correctly rounded, so the
    * thresholds and therefore the sampled SET are reproducible
    * bit-for-bit in any engine (oracle-checked). Other alphas go
    * through `pow`, which is only ~1-ulp across libms — documented, not
    * oracle-pinned.
    */
  def temperatureSample(df: DataFrame, strataCol: String, idCol: String,
                        alpha: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1, "alpha out of (0,1]")
    if (alpha == 0.5) return temperatureSampleHalf(df, strataCol, idCol)
    def weight(n: Column): Column =
      if (alpha == 1.0) n else pow(n, lit(alpha))
    val counts = df.groupBy(col(strataCol))
      .agg(count(lit(1)).cast("double").as("__n"))
      .withColumn("__w", weight(col("__n")))
    val scale = counts.agg(min(col("__n") / col("__w")).as("__scale"))
    val thresholds = counts.crossJoin(scale)
      .select(col(strataCol),
        floor(least(lit(1.0), col("__scale") * col("__w") / col("__n"))
          * lit(Buckets)).as("__thr"))
    df.join(thresholds, Seq(strataCol))
      .filter(hashBucket(col(idCol)) < col("__thr"))
      .drop("__thr")
  }

  /** The alpha = 0.5 temperature gate with an INTEGER-exact membership
    * test and no square root anywhere: the per-stratum keep fraction is
    * `√(n_min/n_s)` (the scale factor `min_s n/√n` collapses to
    * `√n_min`), whose quantized threshold is
    * `⌊1e6·√(n_min/n_s)⌋ = isqrt((10¹²·n_min) div n_s)` — and
    * `hash < isqrt(y div n)` for integers is exactly
    * `(hash+1)² · n_s ≤ 10¹² · n_min`, a pure cross-multiplied
    * comparison (the [[graft.ops.Curation.importanceResampleExact]]
    * trick). Products run in decimal(38,0) so the identity holds to
    * ~1e32-count strata, far past any corpus. No IEEE sqrt/divide chain
    * means no last-ulp gate risk (the general-alpha path mirrors the
    * oracle's parse tree instead, which agrees only while both engines'
    * libm trees match); staying join-based keeps the op lazy and
    * cardinality-safe (thresholds per stratum ride a broadcast join,
    * not a driver collect or a CASE chain).
    */
  private def temperatureSampleHalf(df: DataFrame, strataCol: String,
                                    idCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val counts = df.groupBy(col(strataCol)).agg(count(lit(1)).as("__n"))
    val nMin = counts.agg(min(col("__n")).as("__nmin"))
    val h1 = (hashBucket(col(idCol)) + lit(1L)).cast(dec)
    df.join(counts, Seq(strataCol))
      .crossJoin(nMin)
      .filter(h1 * h1 * col("__n").cast(dec)
        <= lit(Buckets).cast(dec) * lit(Buckets).cast(dec)
          * col("__nmin").cast(dec))
      .drop("__n", "__nmin")
  }

  /** EXPLICIT-target mixture sampling — the "30% code / 50% web / 20%
    * books" recipe — as one distributed integer-exact gate; nothing is
    * collected to the driver. `shares` gives each stratum's
    * target weight as an integer (shares normalize, so (3,5,2) ≡
    * (30,50,20)); the mix is reached by downsampling only — the
    * BINDING stratum (minimal n_s/share_s, the one that runs out
    * first) is kept whole and every other stratum keeps
    * `n_b·share_s/(share_b·n_s)` of its rows, deterministically via
    * [[hashBucket]]. A stratum with share 0 — or absent from `shares`
    * — drops entirely (the decontamination-style "not in the recipe"
    * case).
    *
    * Integer-exact end to end: the binding stratum is the argmin of a
    * RATIONAL, decided by cross-multiplied long comparisons over the
    * tiny counts frame (ties break to the smallest stratum value — any
    * tied stratum yields the identical thresholds, so the tie-break
    * only needs determinism); membership `hash < ⌊1e6·n_b·share_s /
    * (share_b·n_s)⌋` is decided division-free as `(hash+1)·share_b·n_s
    * ≤ 1e6·n_b·share_s` (the [[temperatureSampleHalf]] /
    * importanceResampleExact identity — the ≥1e6 cap is subsumed: when
    * the ratio clears 1 the inequality holds for every hash). Products
    * run in decimal(38,0), good past 1e18-row strata.
    *
    * Training mixes are usually specified in TOKENS, not documents:
    * pass `weightCol` (e.g. a token count) and the strata masses — the
    * binding election and every threshold — become weight SUMS instead
    * of row counts. Membership stays per-row by id hash, so the
    * realized token share matches the target in expectation (docs are
    * dropped whole; the quantization is one document's tokens, noise
    * at corpus scale) while the gate itself stays integer-exact.
    *
    * Scale shape: counts, binding-stratum election, and thresholds are
    * aggregates/joins over ≤ #strata rows (the election self-join is
    * #strata², still tiny) — AQE broadcasts them — so the corpus
    * itself never shuffles and nothing collects. The input IS read
    * twice (the strata-mass aggregate and the membership join probe —
    * different exchange shapes, so AQE cannot dedupe them): persist a
    * narrow projection first when the lineage above it is expensive
    * (what [[graft.ops.Curation.pipelineV5Stages]] does).
    *
    * Weight hygiene: a NULL or negative `weightCol` value would
    * silently skew (or vanish) its stratum's mass, so both fail the
    * job loudly at the tiny counts frame ([[raise_error]] — zero
    * corpus-side cost).
    */
  def mixtureSelect(df: DataFrame, strataCol: String, idCol: String,
                    shares: Map[String, Long],
                    weightCol: Option[String] = None): DataFrame = {
    val dec = "decimal(38,0)"
    val (counts, binding) =
      mixtureCountsAndBinding(df, strataCol, shares, weightCol)
    val h1 = (hashBucket(col(idCol)) + lit(1L)).cast(dec)
    df.join(counts.select(col(strataCol), col("__n"), col("__num")),
        Seq(strataCol))
      .crossJoin(binding)
      .filter(h1 * col("__numb").cast(dec) * col("__n").cast(dec)
        <= lit(Buckets).cast(dec) * col("__nb").cast(dec)
          * col("__num").cast(dec))
      .drop("__n", "__num", "__nb", "__numb")
  }

  /** The strata-mass table and binding-stratum election of
    * [[mixtureSelect]]. Returns (counts(strata, __n, __num),
    * binding(__nb, __numb)); both are ≤ #strata-row frames.
    */
  private def mixtureCountsAndBinding(
      df: DataFrame, strataCol: String, shares: Map[String, Long],
      weightCol: Option[String]): (DataFrame, DataFrame) = {
    require(shares.nonEmpty && shares.values.forall(_ >= 0) &&
      shares.values.exists(_ > 0), "bad target shares")
    val dec = "decimal(38,0)"
    val num = shares.foldLeft(lit(0L)) { case (acc, (s, w)) =>
      when(col(strataCol) === s, lit(w)).otherwise(acc)
    }
    val counts0 = weightCol match {
      case None =>
        df.groupBy(col(strataCol)).agg(count(lit(1)).as("__n"))
      case Some(w) =>
        // loud weight hygiene, evaluated on the tiny counts frame:
        // NULLs (sum skips them -> mass undercounts) and negatives
        // (sign flips break the cross-multiplied election) both fail
        // the job instead of skewing the mix silently
        df.groupBy(col(strataCol))
          .agg(sum(col(w).cast("long")).as("__n"),
            count(lit(1)).as("__rows"), count(col(w)).as("__nonnull"),
            min(col(w).cast("long")).as("__minw"))
          .select(col(strataCol),
            when(col("__rows") =!= col("__nonnull"),
              raise_error(concat(lit(s"NULL $w weight in stratum "),
                col(strataCol).cast("string"))))
              .when(col("__minw") < 0,
                raise_error(concat(lit(s"negative $w weight in stratum "),
                  col(strataCol).cast("string"))))
              .otherwise(col("__n")).as("__n"))
    }
    val counts = counts0.withColumn("__num", num)
      .filter(col("__num") > 0 && col("__n") > 0)
    // binding stratum b: ∀o present: n_b·num_o ≤ n_o·num_b (argmin of
    // n/num by cross-multiplication), smallest stratum among ties
    val binding = counts.as("c").join(counts.as("o"),
        col("c.__n").cast(dec) * col("o.__num").cast(dec)
          > col("o.__n").cast(dec) * col("c.__num").cast(dec),
        "left_anti")
      .orderBy(col(strataCol)).limit(1)
      .select(col("__n").as("__nb"), col("__num").as("__numb"))
    (counts, binding)
  }

  /** Leakage-safe deterministic train/val/test assignment: the split
    * label is a pure function of `groupCol`'s hash, so every row of a
    * group — a near-dup cluster id from [[Dedup.connectedComponents]],
    * a source domain, an author — lands in the SAME split, and
    * near-duplicates can never straddle train/test (the eval-leakage
    * mode row-level splitting invites). `splits` are (label, ppm)
    * bands over the 1e6 hash buckets in the given order; they must sum
    * to ≤ 1e6 (a remainder falls in the LAST band, so (train 900000,
    * val 50000, test 50000) is exact).
    *
    * Scale shape: one hash + CASE per row, no shuffle, no lookup
    * table — composes with any downstream gate and holds under
    * incremental ingestion (a new row of an old group joins its
    * group's split forever). `groupCol` must be NUMERIC (the
    * [[hashBucket]] contract); use [[splitByGroupStr]] for string
    * group keys — both mappings are engine-portable.
    */
  def splitByGroup(df: DataFrame, groupCol: String,
                   splits: Seq[(String, Long)]): DataFrame =
    splitByBucket(df, hashBucket(col(groupCol)), splits)

  /** [[splitByGroup]] for STRING group keys (domain, author, URL
    * prefix) via [[stringBucket]] — same leakage-safety and band
    * contract, still engine-portable (md5). */
  def splitByGroupStr(df: DataFrame, groupCol: String,
                      splits: Seq[(String, Long)]): DataFrame =
    splitByBucket(df, stringBucket(col(groupCol)), splits)

  /** Deterministic k-FOLD assignment by group hash: `fold` in
    * [0, k) with each group's every row in the same fold — the
    * cross-validation companion of [[splitByGroup]] (leakage-safe for
    * the same reason: near-dup clusters never straddle folds). The
    * fold is `(bucket·k) div 1e6` — pure integer arithmetic, so folds
    * are equal-width bands of the same portable hash and any engine
    * reproduces the assignment. Zero shuffles.
    */
  def foldByGroup(df: DataFrame, groupCol: String, k: Int): DataFrame = {
    require(k >= 2 && k <= 1000, "k folds out of [2, 1000]")
    df.withColumn("fold",
      floor(hashBucket(col(groupCol)) * lit(k.toLong) / lit(Buckets)).cast("int"))
  }

  private def splitByBucket(df: DataFrame, h: Column,
                            splits: Seq[(String, Long)]): DataFrame = {
    require(splits.nonEmpty && splits.map(_._2).forall(_ > 0) &&
      splits.map(_._2).sum <= Buckets, "split ppm bands must be positive and sum to <= 1e6")
    require(splits.map(_._1).distinct.size == splits.size, "duplicate split labels")
    val cuts = splits.scanLeft(0L) { case (acc, (_, w)) => acc + w }.tail
    val named = splits.map(_._1).zip(cuts) // (label, upper cut), band order
    val label = named.init.foldRight(lit(named.last._1): Column) {
      case ((name, cut), acc) => when(h < cut, lit(name)).otherwise(acc)
    }
    // a NULL group key yields a NULL split (the foldByGroup convention),
    // NOT a silent fall-through into the last band — null-keyed rows
    // would otherwise all pile into the (usually smallest) final label
    df.withColumn("split", when(h.isNotNull, label))
  }

  /** Eval-leakage AUDIT: given near-duplicate pairs from any dedup
    * tier ([[Dedup.ngramJaccardPairs]], [[Dedup.minhashLshPairs]],
    * [[Dedup.duplicateSpanPairs]], ...) and a split-labeled corpus
    * (e.g. [[splitByGroup]]'s output), count duplicate pairs per
    * unordered split-label pair. Off-diagonal rows ARE the leakage —
    * a (train, test) row says test documents have near-duplicates in
    * the training split, the contamination mode that inflates evals;
    * diagonal rows measure residual intra-split duplication. Label
    * pairs are normalized (least, greatest) so the count is
    * independent of pair orientation.
    *
    * A pair endpoint MISSING from `labels` (or labeled NULL) surfaces
    * as the literal split `(unlabeled)` rather than silently dropping
    * the pair — an audit that discards exactly the rows it cannot
    * vouch for would report zero leakage it never saw (pairs computed
    * over the raw corpus vs labels over a gated subset is the natural
    * pipeline order).
    *
    * Scale shape: `labels` joins in twice on the id keys — two linear
    * keyed shuffles over the (tiny) pairs stream, no self-join, then a
    * #splits²-bounded aggregate. When pairs is small relative to the
    * label frame (the common case) AQE broadcasts it; no hint forced.
    */
  def splitLeakageAudit(pairs: DataFrame, labels: DataFrame,
                        idCol: String = "doc_id", splitCol: String = "split",
                        aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val lab = labels.select(col(idCol), col(splitCol))
    val unk = lit("(unlabeled)")
    val both = pairs.select(col(aCol), col(bCol))
      .join(lab.select(col(idCol).as(aCol), col(splitCol).as("__sa")),
        Seq(aCol), "left")
      .join(lab.select(col(idCol).as(bCol), col(splitCol).as("__sb")),
        Seq(bCol), "left")
      .select(coalesce(col("__sa"), unk).as("__sa"),
        coalesce(col("__sb"), unk).as("__sb"))
    both.groupBy(
        least(col("__sa"), col("__sb")).as("split_a"),
        greatest(col("__sa"), col("__sb")).as("split_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Deterministic WEIGHTED interleaving of strata into a training
    * order (the "2 parts web, 1 part code per batch window" schedule,
    * the HF-interleave shape made reproducible): within each shard,
    * stratum `s`'s rank-`rn` row lands at integer key `rn·(L/w_s)`
    * (L = lcm of the weights, so keys are exact longs) and the shard's
    * stream reads in `(key, stratum, rn)` order — any contiguous
    * window of it then carries the strata in ≈ `w` proportion, and
    * equal keys break to the smaller stratum value, so the order is a
    * pure function of the input (oracle-checkable).
    *
    * Sharding is the scale lever (same key layout as [[shardShuffle]]):
    * a GLOBAL per-stratum sequence number would serialize a corpus
    * through one window task, while per-(shard, stratum) ranks keep
    * every window partition bounded by corpus/nShards — grow `nShards`
    * with the corpus; each shard individually respects the mix, so a
    * trainer consuming shards in any order still sees the target
    * ratio. One exchange (the window shuffle); strata absent from
    * `weights` are dropped (not in the schedule).
    *
    * Output: input columns + `shard`, `rank` (the per-(shard, stratum)
    * sequence number), and `pos` (the in-shard interleave key) —
    * consume ordered by `(shard, pos, strata, rank)`.
    */
  def interleaveShards(df: DataFrame, strataCol: String, idCol: String,
                       weights: Map[String, Long],
                       nShards: Int): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    // withColumn would silently REPLACE these — fail loudly instead
    // (e.g. shardShuffle output fed back in would lose its shard/pos)
    Seq("shard", "rank", "pos").foreach(c =>
      require(!df.columns.contains(c), s"input already has a '$c' column"))
    // the 1e6 bound keeps lcm·rank inside Long for any real corpus
    // (mix recipes are small integer ratios; lcm of k values ≤ 1e6
    // stays ≤ 1e6^k only in theory — the explicit lcm check below is
    // the real guard)
    require(weights.nonEmpty && weights.values.forall(w => w > 0 && w <= 1000000L),
      "weights must be in [1, 1e6]")
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    val lcm = weights.values.reduce { (a, b) =>
      val l = a / gcd(a, b) * b
      require(l <= 1000000000L, "weight lcm too large — reduce the ratio terms")
      l
    }
    val stride = weights.foldLeft(lit(0L)) { case (acc, (s, w)) =>
      when(col(strataCol) === s, lit(lcm / w)).otherwise(acc)
    }
    val shard = pmod(pmod(col(idCol), lit(FoldPrime)) * lit(2246822519L),
      lit(nShards.toLong))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard"), col(strataCol))
      .orderBy(hashBucket(col(idCol)).asc, col(idCol).asc)
    df.withColumn("__stride", stride)
      .filter(col("__stride") > 0)
      .withColumn("shard", shard)
      .withColumn("rank", row_number().over(w).cast("long"))
      // rank·stride would WRAP under non-ANSI Long overflow (a corpus
      // too large for its nShards) and silently corrupt the training
      // order — fail the job instead; one compare per row, codegen'd
      .withColumn("pos",
        when(col("rank") > lit(Long.MaxValue) / col("__stride"),
          raise_error(lit("interleaveShards rank*stride overflows Long — raise nShards or reduce the weight ratio")))
          .otherwise(col("rank") * col("__stride")))
      .drop("__stride")
  }

  /** Repeat each stratum's rows a RATIONAL number of times — the
    * up-sampling primitive behind epoch-weighted training mixes
    * ("repeat the small high-quality corpus 3.2x per epoch of web",
    * the Pile/LLaMA-recipe shape, where [[mixtureSelect]] covers only
    * the down-sampling direction). A stratum with factor num/den
    * emits `num div den` copies of every row plus ONE extra copy for
    * the deterministic `(num mod den)/den` hash slice — realized mass
    * is exactly `n·num/den` in expectation with per-row quantization
    * of one copy, and membership of the extra copy is the usual
    * engine-portable division-free gate (`hash·den < 10⁶·(num mod
    * den)` in decimal(38,0)), so any engine reproduces the emitted
    * multiset bit-for-bit. Output gains a `copy` column (1-based) —
    * keep it in the training key so repeated rows stay
    * distinguishable downstream.
    *
    * Scale shape: one scan-side `explode(sequence(...))` per row —
    * zero shuffles, no joins (the factor map compiles to CASE
    * chains). `maxEpochs` bounds the blow-up loudly (a typo'd share
    * must not 1000x the corpus silently). Strata absent from
    * `epochs` are dropped (not in the mix).
    *
    * COMPOSABILITY: downstream of a repeat, `idCol` is no longer
    * unique — any deterministic order key ([[shardShuffle]],
    * [[interleaveShards]], window ranks) must fold `copy` in, or
    * copies tie and row_number breaks the tie nondeterministically.
    * Derive a unique key first (e.g. `id·(maxEpochs+1) + copy`); the
    * `upsample_order` query pins the pattern end to end.
    */
  def epochRepeat(df: DataFrame, strataCol: String, idCol: String,
                  epochs: Map[String, (Long, Long)],
                  maxEpochs: Long = 100L): DataFrame = {
    require(epochs.nonEmpty, "empty epochs map")
    epochs.foreach { case (s, (num, den)) =>
      require(num > 0 && den > 0, s"epoch factor for '$s' must be positive")
      // guard evaluated in BigInt: maxEpochs·den can itself wrap Long for
      // large user-supplied den/maxEpochs, making a raw-Long guard pass
      // or fail spuriously
      require(BigInt(num) <= BigInt(maxEpochs) * den,
        s"epoch factor for '$s' is ${num}/${den} > maxEpochs=$maxEpochs — " +
          "raise maxEpochs explicitly if the blow-up is intended")
    }
    require(!df.columns.contains("copy"), "input already has a 'copy' column")
    val dec = "decimal(38,0)"
    def cases(f: ((Long, Long)) => Long): Column =
      epochs.foldLeft(lit(-1L)) { case (acc, (s, nd)) =>
        when(col(strataCol) === s, lit(f(nd))).otherwise(acc)
      }
    val base = cases { case (num, den) => num / den }
    val remNum = cases { case (num, den) => num % den }
    val den = cases { case (_, d) => d }
    val extra = when(
      hashBucket(col(idCol)).cast(dec) * den.cast(dec) <
        lit(Buckets).cast(dec) * remNum.cast(dec), 1L).otherwise(0L)
    df.filter(den > 0)
      .withColumn("__k", base + extra)
      .filter(col("__k") > 0)
      .withColumn("copy", explode(sequence(lit(1L), col("__k"))))
      .drop("__k")
  }

  /** Epoch factors that REALIZE target `shares` by pure up-sampling:
    * the most over-represented stratum (argmax of n/share, smallest
    * stratum among ties — the [[mixtureSelect]] election run in
    * reverse) keeps factor 1 and every other stratum repeats
    * `(share_s·n_b) / (share_b·n_s)` ≥ 1 times, so realized masses are
    * proportional to the shares WITHOUT dropping a single document —
    * the dual of [[mixtureSelect]], which realizes the same ratios by
    * keeping the most UNDER-represented stratum whole and dropping
    * from the rest. Same tiny counts frame, same cross-multiplied
    * integer election; factors land in [[epochRepeat]].
    */
  def mixtureUpsample(df: DataFrame, strataCol: String, idCol: String,
                      shares: Map[String, Long],
                      maxEpochs: Long = 100L): DataFrame =
    epochRepeat(df, strataCol, idCol,
      upsampleFactors(df, strataCol, shares), maxEpochs)

  /** The [[mixtureUpsample]] ELECTION alone: the per-stratum rational
    * epoch factors (num, den) that realize `shares` over `df`'s strata
    * masses by pure repetition — the most over-represented stratum
    * (argmax of n/share, smallest among ties) gets factor 1 and every
    * other stratum `(share_s·n_b)/(share_b·n_s)` ≥ 1.
    */
  def upsampleFactors(df: DataFrame, strataCol: String,
                      shares: Map[String, Long]): Map[String, (Long, Long)] = {
    require(shares.nonEmpty && shares.values.forall(_ >= 0) &&
      shares.values.exists(_ > 0), "bad target shares")
    val counts = df.filter(col(strataCol).isin(shares.keys.toSeq: _*))
      .groupBy(col(strataCol)).agg(count(lit(1)).as("__n"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
      .filter { case (s, n) => n > 0 && shares.getOrElse(s, 0L) > 0 }
    require(counts.nonEmpty, "no stratum carries both rows and a positive share")
    // binding b: argmax of n/share by cross-multiplication (∀o:
    // n_b·share_o >= n_o·share_b), smallest stratum among ties
    val b = counts.keys.toSeq.sorted.filter { s =>
      counts.forall { case (o, no) =>
        BigInt(counts(s)) * shares(o) >= BigInt(no) * shares(s) }
    }.head
    // factors composed in BigInt then REQUIRED to fit Long: tuned DoReMi
    // shares reach 1e9-1e18 after a few reweight rounds, and a wrapped-
    // positive num/den would pass epochRepeat's requires and mis-sample
    // QUIETLY — the loud-overflow convention (reweightShares) applies.
    // gcd-reduce first so only genuinely irreducible ratios can fail.
    counts.keys.map { s =>
      val num = BigInt(shares(s)) * counts(b)
      val den = BigInt(shares(b)) * counts(s)
      val g = num.gcd(den)
      val (rn, rd) = (num / g, den / g)
      require(rn <= Long.MaxValue && rd <= Long.MaxValue,
        s"upsample factor for '$s' ($num/$den) exceeds Long even reduced — " +
          "gcd-normalize the shares (Sampling.reweightShares does) or coarsen them")
      s -> (rn.toLong, rd.toLong)
    }.toMap
  }

  /** One multiplicative-weights round over the strata shares — the
    * integer-exact update rule under DoReMi-style iterative mixture
    * reweighting ([[graft.ops.Curation.mixtureReweight]] composes it
    * with the LM scorer). Each stratum's share multiplies by the
    * RATIONAL factor `(base + eta·score_s) / base`; because
    * [[mixtureSelect]] shares are scale-free (only ratios matter), the
    * common denominator `base^round` never needs to materialize and
    * the weights stay exact integers with NO normalization step — the
    * importanceResampleExact discipline applied to the mixture stack.
    *
    * `scorePermille` values must lie in [0, base] (a permille "excess
    * loss": 0 = perfectly covered stratum → factor 1; base → factor
    * 1+eta). Strata missing from `scorePermille` get score 0.
    *
    * EXACT gcd RENORMALIZATION: after the multiplicative update the
    * whole share vector is divided by its gcd. Shares are scale-free,
    * so the division is LOSSLESS (ratios — the only observable — are
    * untouched; gcd is exact in DuckDB too, so oracles re-derive the
    * step bit-for-bit), and it removes the old STRUCTURAL overflow
    * ceiling: without it every factor is ≥ base, so r rounds grew
    * weights by ≥ base^r and round 7 from unit starts ALWAYS
    * overflowed Long. With it, uniform factors cancel entirely (a
    * converged mixture — all scores equal — renormalizes back to the
    * start), a single stratum NEVER grows, and only the genuinely
    * irreducible part of the ratio history accumulates. Growth is now
    * DATA-dependent: update products are taken in BigInt (never
    * wrapped) and only the post-gcd weights are REQUIRED to fit Long —
    * adversarial score sequences with coprime factors can still exhaust
    * 63 bits after many rounds, failing loudly here (the loud-failure
    * convention). [[graft.ops.Curation.mixtureReweight]] bounds its
    * schedule accordingly (a generous sanity cap, no longer the
    * round-6 structural wall). Driver-side pure function over
    * #strata-sized maps — zero cluster cost.
    */
  def reweightShares(shares: Map[String, Long],
                     scorePermille: Map[String, Long],
                     eta: Long = 1L, base: Long = 1000L): Map[String, Long] = {
    require(base > 0 && eta > 0 && eta <= base, "eta must be in [1, base]")
    require(shares.nonEmpty && shares.values.forall(_ > 0),
      "shares must be positive (drop zero-share strata before reweighting)")
    scorePermille.values.foreach(s => require(s >= 0 && s <= base,
      s"scorePermille out of [0, $base]"))
    val raw = shares.map { case (k, w) =>
      k -> BigInt(w) * (base + eta * scorePermille.getOrElse(k, 0L))
    }
    val g = raw.values.reduce(_ gcd _)
    raw.map { case (k, v) =>
      val next = v / g
      require(next <= Long.MaxValue,
        s"reweighted share for '$k' overflows Long even after gcd " +
          "renormalization — fewer rounds, smaller eta, or coarser scores")
      k -> next.toLong
    }
  }
}
