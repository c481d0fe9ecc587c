package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality scoring, language ID, fingerprinting.
  *
  * Scale design: every operator is pure per-row string arithmetic —
  * `length`/`replace`/`regexp_count` — with NO array allocation and NO
  * higher-order functions (transform/filter/aggregate are
  * CodegenFallback: interpreted, and measured 30-60x slower on this
  * exact op class — see Dedup's header note). Everything here stays
  * inside whole-stage codegen and scales linearly with a parquet scan,
  * no shuffle at all. Common subexpressions (the space-stripped length,
  * the per-language hit counts) are shared across derived columns by
  * Spark's subexpression elimination because all of them ARE codegen'd.
  *
  * Tokenizer contract (matches DuckDB `string_split(text, ' ')`): the
  * separator is a single space, every space is a separator, so
  *   n_tokens            = n_spaces + 1
  *   sum(token lengths)  = length(text) - n_spaces
  * which turns the token-array fold into two `length` calls.
  */
object TextAnalysis {

  /** length(text) with all spaces removed = exact sum of token lengths. */
  private def lenNoSpaces(text: Column): Column =
    length(regexp_replace(text, " ", ""))

  def tokenCount(text: Column): Column =
    length(text) - lenNoSpaces(text) + lit(1)

  /** Mean token length: exact integer sum (total chars minus separator
    * count), one final double division (deterministic).
    */
  def avgTokenLen(text: Column): Column =
    lenNoSpaces(text).cast("double") / tokenCount(text)

  /** Per-language stopword lists for the n-gram-free language heuristic. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "is", "in", "to"),
    "de" -> Seq("der", "die", "und", "das", "ein"),
    "es" -> Seq("el", "los", "y", "las", "una"),
    "fr" -> Seq("le", "la", "et", "les", "des"))

  /** Count of tokens that belong to `lang`'s stopword list, as ONE
    * regexp_count pass: a token boundary is start-of-string or a space
    * on the left (consumed — each token owns its immediately preceding
    * separator, so adjacent stopword tokens each match) and a zero-width
    * space/end lookahead on the right (`\z`, not `$` — Java's `$` also
    * matches before a trailing newline, which the token list does not).
    * Equivalent to `size(filter(split(text,' '), t -> t IN list))` for
    * any input, including repeated separators (empty tokens never match).
    */
  def stopwordHits(text: Column, lang: String): Column =
    regexp_count(text, lit(s"(?:^| )(?:${stopwords(lang).mkString("|")})(?= |\\z)"))

  /** Ratio of English stopwords to all tokens (quality signal). */
  def stopwordRatio(text: Column): Column =
    stopwordHits(text, "en").cast("double") / tokenCount(text)

  /** Ratio of [a-z] characters to total length; 0 for an EMPTY text —
    * the guard matters under ANSI mode (the Spark 4 default), where the
    * bare divide raises DIVIDE_BY_ZERO instead of NaN. (The other
    * ratio denominators need no guard: `tokenCount` is >= 1 by
    * construction on any input.) Mirrors [[qualityScoreQ]]'s `ln > 0`
    * branch; an oracle over a corpus WITH empty documents must carry
    * the matching CASE.
    */
  def alphaRatio(text: Column): Column =
    when(length(text) > 0,
      length(regexp_replace(text, "[^a-z]", "")).cast("double") / length(text))
      .otherwise(lit(0.0))

  /** Composite quality score in [0,1]: length saturation + stopword
    * presence + alphabetic density. The exact op order is part of the
    * contract (oracle parity).
    */
  def qualityScore(text: Column): Column =
    least(lit(1.0), tokenCount(text).cast("double") / 100.0) * 0.4 +
      least(lit(1.0), stopwordRatio(text) * 5.0) * 0.3 +
      alphaRatio(text) * 0.3

  /** Integer-exact quantized quality score: a LONG in [0, 1e6] computed
    * with pure integer arithmetic (each term is a floor division of
    * exact integer counts), so the value is bit-identical across
    * engines — the composition-safe form of [[qualityScore]] for gates
    * that compare or histogram the score downstream.  Terms mirror
    * [[qualityScore]]'s weights scaled by 1e6:
    * {{{
    *   min(400000, n_tokens * 4000)             // 0.4 * min(1, nt/100)
    * + min(300000, (stop_hits * 1500000) div nt) // 0.3 * min(1, 5*sw/nt)
    * + (alpha_chars * 300000) div length         // 0.3 * alpha_ratio
    * }}}
    * The divisions run as `floor(double-div)`: numerators stay below
    * 2^53 so operands are exact, the IEEE quotient is correctly
    * rounded, and a non-integer rational p/q (q = a document length)
    * sits at least 1/q >> ulp away from any integer — so the floor
    * equals exact integer division on every engine.  Note the sum of
    * per-term floors is NOT floor(1e6 * qualityScore); this is its own
    * deterministic contract, paired with DuckDB `//` in the oracles.
    */
  def qualityScoreQ(text: Column): Column = {
    val nt = tokenCount(text).cast("long")
    val sw = stopwordHits(text, "en").cast("long")
    val al = length(regexp_replace(text, "[^a-z]", "")).cast("long")
    val ln = length(text).cast("long")
    val t1 = least(lit(400000L), nt * lit(4000L))
    val t2 = least(lit(300000L),
      floor((sw * lit(1500000L)).cast("double") / nt.cast("double")).cast("long"))
    val t3 = when(ln > 0,
      floor((al * lit(300000L)).cast("double") / ln.cast("double")).cast("long"))
      .otherwise(lit(0L))
    t1 + t2 + t3
  }

  /** Heuristic language ID: stopword-hit argmax with fixed precedence
    * en > de > es > fr; 'und' when nothing matches.
    */
  def langId(text: Column): Column = {
    val en = stopwordHits(text, "en")
    val de = stopwordHits(text, "de")
    val es = stopwordHits(text, "es")
    val fr = stopwordHits(text, "fr")
    when(en === 0 && de === 0 && es === 0 && fr === 0, lit("und"))
      .when(en >= greatest(de, es, fr), lit("en"))
      .when(de >= greatest(es, fr), lit("de"))
      .when(es >= fr, lit("es"))
      .otherwise(lit("fr"))
  }

  /** BPE-ish pre-tokenizer pattern (GPT-2-style word/number/punctuation
    * split, lookaround-free so Java regex and RE2 engines agree): a
    * letter run, a digit run, or a run of anything else non-space. The
    * public pattern constant lets oracles re-express it verbatim.
    */
  val BpeTokenPattern = "[a-z]+|[0-9]+|[^a-z0-9 ]+"

  /** Token count under [[BpeTokenPattern]] — one codegen `regexp_count`
    * per row, no array materialization. Differs from [[tokenCount]]
    * exactly where BPE-style tokenizers differ from whitespace splits:
    * "abc123 def!" is 2 whitespace tokens but 4 BPE-ish tokens
    * (abc / 123 / def / !).
    */
  def tokenCountBpe(text: Column): Column =
    regexp_count(text, lit(BpeTokenPattern))

  /** Normalization fingerprint: md5 over the text with whitespace
    * stripped — the classic key-collision dedup fingerprint.
    */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(text), "[^a-z0-9]", ""))

  // --- PII redaction ------------------------------------------------------

  /** PII patterns shared verbatim with oracles. Deliberately
    * lookaround-free and anchored by literal character classes so Java
    * regex (Spark) and RE2 (DuckDB) agree on every match — the same
    * dialect-parity contract as [[BpeTokenPattern]].
    */
  val EmailPattern = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val PhonePattern = "[0-9]{3}-[0-9]{4}"

  def countEmails(text: Column): Column = regexp_count(text, lit(EmailPattern))
  def countPhones(text: Column): Column = regexp_count(text, lit(PhonePattern))

  /** Redact emails then phone numbers to fixed tokens — the standard
    * pre-training scrub pass. Order matters (it is part of the oracle
    * contract): an email is never re-scanned for phone shapes.
    */
  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailPattern, "<EMAIL>"),
      PhonePattern, "<PHONE>")

  // --- intra-document repetition (Gopher-style quality signals) -----------

  /** Per-document repetition metrics: distinct-token ratio, top-token
    * fraction, and duplicate-k-gram fraction — the Gopher/MassiveText
    * repetition filters. Unlike the scalar ops above these need per-doc
    * frequency tables, so this is a DataFrame op: explode → two
    * map-side-combining groupBys (shuffle keys (id, tok) then id) plus
    * the shingle kernel for distinct k-grams. Linear at any corpus
    * size; no per-row HOF frequency maps (interpreted + quadratic).
    *
    * Output per doc: n_tokens, n_distinct, top_c (top token's count),
    * distinct_ratio, top_token_frac, dup_kgram_frac
    * (`1 - distinct_kgrams / (n_tokens - k + 1)`, 0.0 when the doc is
    * shorter than k tokens).
    */
  def repetitionMetrics(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, k: Int = 3): org.apache.spark.sql.DataFrame = {
    val toks = df.select(col(idCol).as("id"),
      explode(split(col(textCol), " ")).as("tok"))
    val tokAgg = toks.groupBy(col("id"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("id"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_c"))
    val distinctShingles = Dedup.shingleRows(df, idCol, textCol, k)
      .groupBy(col("id")).agg(count(lit(1)).as("nds"))
    tokAgg.join(distinctShingles, Seq("id"), "left")
      .select(col("id"), col("n_tokens"), col("n_distinct"), col("top_c"),
        (col("n_distinct").cast("double") / col("n_tokens")).as("distinct_ratio"),
        (col("top_c").cast("double") / col("n_tokens")).as("top_token_frac"),
        when(col("n_tokens") >= k,
          lit(1.0) - coalesce(col("nds"), lit(0L)).cast("double") /
            (col("n_tokens") - k + 1))
          .otherwise(lit(0.0)).as(s"dup_${k}gram_frac"))
  }

  /** Unicode NFC normalization of one column — the canonicalization
    * every exact-hash stage (fingerprints, exact dedup, span hashing)
    * should run FIRST on real web text, where "café" arrives both
    * precomposed (U+00E9) and decomposed (e + U+0301) and would
    * otherwise hash apart. Codegen kernel; zero shuffles.
    */
  def normalizeNfc(c: Column): Column =
    org.apache.spark.sql.classic.GraftExpressionBridge.column(
      graft.functions.NormalizeNfc(
        org.apache.spark.sql.classic.GraftExpressionBridge.expression(c)))

  /** Canonical text: NFC → collapse space runs → trim. The normal form
    * to fingerprint/dedup on; every step is engine-portable
    * (DuckDB: nfc_normalize + the same regex + trim).
    */
  def canonicalText(c: Column): Column =
    trim(regexp_replace(normalizeNfc(c), " +", " "))

  /** Gopher/MassiveText CHARACTER-level repetition signals, integer-exact
    * and zero-shuffle. For each `n` in `topNs`: `top{n}_ppm` — ppm of the
    * document's characters covered by its most frequent n-gram
    * (`top_c · top_chars · 10⁶ div len(text)`; Gopher's "fraction of
    * characters contained in the most frequently-occurring n-gram",
    * Rae et al. 2021 §A1.1, computed for n = 2..4 there). For each `n`
    * in `dupNs`: `dup{n}_ppm` — ppm of the document's n-gram OCCURRENCE
    * char mass carried by duplicated n-grams
    * (`dup_chars · 10⁶ div all_chars`; Gopher's "fraction of characters
    * inside duplicate n-grams" for n = 5..10, in the order-free
    * occurrence-mass form — see [[graft.functions.TextKernel
    * .ngramCharStats]] for the tie-break and double-counting contract).
    *
    * THRESHOLDS DO NOT TRANSFER from the published Gopher filter: both
    * families here are OCCURRENCE-mass ratios (overlapping occurrences
    * each count their full n-gram width), not Gopher's positional
    * character coverage (each text position counted at most once).
    * Consequences a gate author must know: (a) `dup{n}_ppm`'s
    * denominator is total n-gram occurrence mass, not doc length, so
    * Gopher's `dup_5gram ≤ 0.15`-style cutoffs are NOT comparable —
    * calibrate cutoffs on this metric's own distribution; (b)
    * `top{n}_ppm` can EXCEED 10⁶ when the top n-gram's occurrences
    * overlap (`top_c · n > len`). The occurrence form is the cheaper
    * one-pass kernel; for REFERENCE-comparable thresholds use
    * [[gopherRepetitionCover]], the positional-cover variant (each
    * character counted once, ppm ≤ 10⁶ by construction).
    *
    * All fractions are ppm LONGS (numerator·10⁶ integer-divided), so the
    * gate thresholds and the DuckDB oracle compare integers — the same
    * last-ulp-proof discipline as [[qualityScoreQ]]. Everything computes
    * in ONE scan-side codegen projection: per-doc kernels, no explode,
    * no groupBy, no window — at 100 TB this runs at scan speed with
    * map-side-only tasks.
    */
  def gopherRepetition(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, topNs: Seq[Int] = Seq(2, 3, 4),
      dupNs: Seq[Int] = Seq(5, 10)): org.apache.spark.sql.DataFrame = {
    def statsCol(n: Int): Column =
      org.apache.spark.sql.classic.GraftExpressionBridge.column(
        graft.functions.NgramCharStats(
          org.apache.spark.sql.classic.GraftExpressionBridge.expression(col(textCol)), n))
    val ns = (topNs ++ dupNs).distinct.sorted
    val withStats = df.select(
      col(idCol) +: length(col(textCol)).cast("long").as("doc_chars") +:
        ns.map(n => statsCol(n).as(s"s$n")): _*)
    val topCols = topNs.map { n =>
      when(col("doc_chars") > 0,
        expr(s"element_at(s$n, 1) * element_at(s$n, 2) * 1000000L DIV doc_chars"))
        .otherwise(lit(0L)).as(s"top${n}_ppm")
    }
    val dupCols = dupNs.map { n =>
      when(expr(s"element_at(s$n, 4)") > 0,
        expr(s"element_at(s$n, 3) * 1000000L DIV element_at(s$n, 4)"))
        .otherwise(lit(0L)).as(s"dup${n}_ppm")
    }
    withStats.select(col(idCol) +: (topCols ++ dupCols): _*)
  }

  /** Gopher/MassiveText duplicate-n-gram POSITIONAL-COVER fractions —
    * the reference definition: `dup{n}_cover_ppm` = ppm of the
    * document's characters lying inside at least one occurrence of a
    * duplicated n-gram, each character counted ONCE however many
    * duplicated grams overlap it (interval union over the char string,
    * joining spaces inside a covered span included). Bounded ≤ 10⁶ by
    * construction, so the PUBLISHED Gopher thresholds transfer directly
    * (Rae et al. 2021 §A1.1: e.g. drop when dup_5gram > 0.15 →
    * `dup5_cover_ppm > 150000`) — unlike [[gopherRepetition]]'s cheaper
    * occurrence-mass form, whose ratios need recalibration.
    *
    * Still one scan-side codegen projection ([[graft.functions
    * .NgramCoverStats]] — two bounded passes per doc, no explode, no
    * shuffle): positional cover costs a per-doc boolean array, not a
    * plan change. Integer ppm via `covered·10⁶ div total` on exact
    * codepoint counts, the usual last-ulp-proof oracle discipline.
    */
  def gopherRepetitionCover(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, dupNs: Seq[Int] = Seq(5, 10)): org.apache.spark.sql.DataFrame = {
    def statsCol(n: Int): Column =
      org.apache.spark.sql.classic.GraftExpressionBridge.column(
        graft.functions.NgramCoverStats(
          org.apache.spark.sql.classic.GraftExpressionBridge.expression(col(textCol)), n))
    val ns = dupNs.distinct.sorted
    val withStats = df.select(
      col(idCol) +: ns.map(n => statsCol(n).as(s"s$n")): _*)
    val covCols = ns.map { n =>
      when(expr(s"element_at(s$n, 2)") > 0,
        expr(s"element_at(s$n, 1) * 1000000L DIV element_at(s$n, 2)"))
        .otherwise(lit(0L)).as(s"dup${n}_cover_ppm")
    }
    withStats.select(col(idCol) +: covCols: _*)
  }
}
