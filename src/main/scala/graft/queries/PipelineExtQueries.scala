package graft.queries

import graft.ops.{Decontaminate, Packing, Sampling, Similarity, Temporal, TextAnalysis => TA}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-4 training-pipeline extensions, oracle-checked: temporal joins
  * (as-of / bounded range — operators Spark lacks natively, re-expressed
  * shuffle-minimal), concat-then-chunk sequence packing, deterministic
  * hash sampling, and train/eval decontamination. The sampling hash is
  * engine-portable modular arithmetic by design, so DuckDB reproduces
  * membership bit-for-bit; the as-of oracle is the argmax formulation
  * (identical to DuckDB's native ASOF JOIN here, but with the tie order
  * pinned explicitly).
  */
object PipelineExtQueries {

  private val hashSql = "((doc_id % 1048573) * 2654435761) % 1000000"

  // DuckDB fragments shared with TextQueries' oracles (same tokenizer /
  // stopword-count contract)
  private val sqlTokens = "string_split(text, ' ')"
  private val enHits =
    s"len(list_filter($sqlTokens, t -> t IN (${TA.stopwords("en").map(w => s"'$w'").mkString(",")})))"

  /** DuckDB rendering of [[TA.qualityScoreQ]] — integer-exact quantized
    * quality score as a BIGINT; `//` is DuckDB floor division, matching
    * Spark's exact `floor(double-div)` for these operand ranges.
    */
  private def qualityQSql(src: String): String = {
    val toks = s"string_split($src, ' ')"
    val hits =
      s"len(list_filter($toks, t -> t IN (${TA.stopwords("en").map(w => s"'$w'").mkString(",")})))"
    s"""(least(CAST(400000 AS BIGINT), CAST(len($toks) AS BIGINT) * 4000)
       + least(CAST(300000 AS BIGINT),
           (CAST($hits AS BIGINT) * 1500000) // CAST(len($toks) AS BIGINT))
       + CASE WHEN length($src) > 0
           THEN (CAST(length(regexp_replace($src, '[^a-z]', '', 'g')) AS BIGINT) * 300000)
             // CAST(length($src) AS BIGINT)
           ELSE 0 END)"""
  }

  /** Shared CTE chain of the v2 curation composition (quality gate →
    * block dedup → temperature mix → token budget), used by both the
    * `curation_pipeline_v2` summary oracle and the `v2_stage_counts`
    * bisection oracle. Gate scores are the integer-exact
    * [[qualityQSql]] BIGINTs — no double reaches a comparison, matching
    * [[graft.ops.Curation.pipelineV2Stages]] stage for stage.
    */
  private lazy val v2CtesSql: String = s"""
      WITH g AS (
        SELECT doc_id, lang, text FROM documents
        WHERE ${qualityQSql("text")} >= 500000),
      toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM g),
      idx AS (SELECT doc_id, t,
          unnest(generate_series(0, (len(t)-1)//32)) AS block_id FROM toks),
      blocks AS (SELECT doc_id, block_id,
          array_to_string(t[block_id*32+1 : block_id*32+32], ' ') AS block FROM idx),
      firsts AS (SELECT block, min(doc_id*1000000 + block_id) AS fk, count(*) AS df
                 FROM blocks GROUP BY block),
      keep AS (SELECT b.doc_id, b.block_id, b.block
               FROM blocks b JOIN firsts f USING(block)
               WHERE f.df = 1 OR b.doc_id*1000000 + b.block_id = f.fk),
      dd0 AS (SELECT doc_id, string_agg(block, ' ' ORDER BY block_id) AS td
              FROM keep GROUP BY doc_id),
      dd1 AS (SELECT d.doc_id, g.lang, d.td AS text FROM dd0 d JOIN g USING(doc_id)),
      dd AS (SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               ${qualityQSql("text")} AS q2
             FROM dd1),
      c AS (SELECT lang, count(*) AS n FROM dd GROUP BY lang),
      cm AS (SELECT min(n) AS nmin FROM c),
      mixed AS (SELECT dd.* FROM dd JOIN c USING(lang), cm
                WHERE CAST($hashSql + 1 AS HUGEINT) * CAST($hashSql + 1 AS HUGEINT)
                    * CAST(c.n AS HUGEINT)
                  <= CAST(1000000000000 AS HUGEINT) * CAST(cm.nmin AS HUGEINT)),
      qz AS (SELECT doc_id, lang, n_tokens, q2 AS q FROM mixed),
      hist AS (SELECT q, sum(n_tokens) AS tk FROM qz GROUP BY q),
      cum AS (SELECT q, sum(tk) OVER (ORDER BY q DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM hist),
      bthr AS (SELECT min(q) AS t FROM cum WHERE cum <= 15000),
      sel AS (SELECT z.* FROM qz z, bthr WHERE z.q >= bthr.t)"""

  /** Unrolled BPE-training CTEs (`numMerges` iterations): word states
    * as '|'-delimited padded symbol strings, pair counts weighted by
    * token frequency, argmax with (n desc, l, r) byte-order tie-break,
    * `replace()` rewrite — mirrors [[graft.ops.Curation.bpeTrain]]
    * decision for decision (both engines' replace is left-to-right
    * non-overlapping). Exposes b1..b{n} (the merges) and w{n} (final
    * word states).
    */
  private def bpeCtes(n: Int, from: String = "documents"): String = {
    val blocks = (1 to n).map { it =>
      val prev = s"w${it - 1}"
      s"""
      p$it AS (
        SELECT split_part(pr, '|', 1) AS l, split_part(pr, '|', 2) AS r,
               CAST(SUM(tf) AS BIGINT) AS n
        FROM (
          SELECT tf, unnest(list_transform(range(1, greatest(len(sy), 1)),
            i -> sy[i] || '|' || sy[i+1])) AS pr
          FROM (SELECT tf, string_split(substr(w, 2, length(w) - 2), '|') AS sy FROM $prev)
        ) GROUP BY 1, 2),
      b$it AS (
        SELECT l, r, n FROM (
          SELECT l, r, n, row_number() OVER (ORDER BY n DESC, l, r) AS rn FROM p$it)
        WHERE rn = 1),
      w$it AS (
        SELECT CASE WHEN b.l IS NULL THEN w
               ELSE replace(w, '|' || b.l || '|' || b.r || '|', '|' || b.l || b.r || '|')
               END AS w, tf
        FROM $prev LEFT JOIN b$it b ON TRUE)"""
    }
    s"""tok0 AS (SELECT unnest(string_split(text, ' ')) AS token FROM $from),
      v0 AS (SELECT token, CAST(count(*) AS BIGINT) AS tf FROM tok0
             WHERE length(token) > 0 AND token NOT LIKE '%|%' GROUP BY token),
      w0 AS (SELECT '|' || array_to_string(string_split(token, ''), '|') || '|' AS w, tf FROM v0),
      ${blocks.mkString(",")}"""
  }

  /** One DoReMi reweighting round as DuckDB CTEs: given weight table
    * `$w` (lang, w) emits `r$it` with (lang, n_bigrams, n_hits,
    * miss_permille, weight_before, weight_after) — mirrors
    * [[graft.ops.Curation.mixtureReweight]] round for round (mixture
    * membership under the live weights, bigram proxy trained on the
    * selected slice via the shared `bg`/`cnt` CTEs, integer permille
    * miss, multiplicative update in HUGEINT, then the EXACT gcd
    * renormalization of the updated vector — `list_reduce(list(wraw),
    * gcd)` re-derives [[graft.ops.Sampling.reweightShares]]'s lossless
    * scale-down bit-for-bit). Shared by the `mixture_reweight`,
    * `mixture_reweight_tokens` and `curation_pipeline_v8` oracles.
    */
  private def mwRoundCte(it: Int, w: String, cnt: String = "cnt"): String = s"""
      cc$it AS (SELECT c.lang, c.n, $w.w AS num FROM $cnt c JOIN $w USING (lang)
                WHERE c.n > 0 AND $w.w > 0),
      bs$it AS (SELECT n AS nb, num AS numb FROM cc$it x
                WHERE NOT EXISTS (SELECT 1 FROM cc$it o
                                  WHERE x.n * o.num > o.n * x.num)
                ORDER BY lang LIMIT 1),
      sel$it AS (SELECT d.doc_id
                 FROM documents d JOIN cc$it ON d.lang = cc$it.lang CROSS JOIN bs$it
                 WHERE ($hashSql + 1) * bs$it.numb * cc$it.n
                    <= 1000000 * bs$it.nb * cc$it.num),
      m$it AS (SELECT bigram, count(*) AS c FROM bg JOIN sel$it USING (doc_id)
               GROUP BY bigram),
      s$it AS (SELECT b.lang, count(*) AS nb, count(m$it.c) AS nh
               FROM bg b LEFT JOIN m$it USING (bigram) GROUP BY b.lang),
      ra$it AS (SELECT $w.lang,
          CAST(coalesce(s$it.nb, 0) AS BIGINT) AS n_bigrams,
          CAST(coalesce(s$it.nh, 0) AS BIGINT) AS n_hits,
          CAST(CASE WHEN coalesce(s$it.nb, 0) > 0
               THEN (s$it.nb - s$it.nh) * 1000 // s$it.nb ELSE 0 END AS BIGINT)
            AS miss_permille,
          CAST($w.w AS BIGINT) AS weight_before,
          CAST($w.w AS HUGEINT) * (1000 + CASE WHEN coalesce(s$it.nb, 0) > 0
               THEN (s$it.nb - s$it.nh) * 1000 // s$it.nb ELSE 0 END) AS wraw
        FROM $w LEFT JOIN s$it USING (lang)),
      g$it AS (SELECT list_reduce(list(wraw), (a, b) -> gcd(a, b)) AS g
               FROM ra$it),
      r$it AS (SELECT lang, n_bigrams, n_hits, miss_permille, weight_before,
          CAST(wraw // g AS BIGINT) AS weight_after
        FROM ra$it CROSS JOIN g$it)"""

  /** The shared head CTEs of the reweighting oracles: full-corpus
    * bigram stream, per-lang counts, unit initial weights. */
  private val mwHeadCte: String = """
      bg AS (
        SELECT doc_id, lang,
          unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS bigram
        FROM (SELECT doc_id, lang, string_split(text, ' ') AS tk FROM documents)),
      cnt AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
      cntw AS (SELECT lang, CAST(sum(n_chars) AS BIGINT) AS n
               FROM documents GROUP BY lang),
      w1 AS (SELECT lang, CAST(w AS BIGINT) AS w FROM (VALUES
        ('de', 1), ('en', 1), ('es', 1), ('fr', 1), ('zh', 1)) t(lang, w))"""

  /** Null-tolerant unrolled BPE encode chain over b1..b{n}: each step
    * `replace(acc, '|l|r|' → '|lr|')` with l/r COALESCE'd to '' and the
    * b{i} singletons LEFT-JOINed ON TRUE — an exhausted vocabulary
    * (some b{i} empty before `n` merges) then degrades the missing
    * merges to no-ops ('|||' cannot occur in a well-formed word state:
    * symbols are non-empty) instead of zeroing every document through
    * an empty cross join while the Spark side still counts symbols
    * (the latent degenerate-corpus oracle/engine divergence).
    * Returns (replaceChain, joinClause).
    */
  private def bpeEncodeSql(n: Int): (String, String) = {
    val chain = (1 to n).foldLeft(
      "'|' || array_to_string(string_split(token, ''), '|') || '|'") { (acc, it) =>
      s"replace($acc, '|' || coalesce(b$it.l, '') || '|' || coalesce(b$it.r, '') || '|', " +
        s"'|' || coalesce(b$it.l, '') || coalesce(b$it.r, '') || '|')"
    }
    val joins = (1 to n).map(it => s"LEFT JOIN b$it ON TRUE").mkString(" ")
    (chain, joins)
  }

  /** Shared CTEs of the DSIR oracles: hashed-bigram buckets (md5-prefix
    * modular, engine-portable), target (en) and raw count tables, and
    * the per-doc pooled sums — mirrors
    * [[graft.ops.Curation.importanceWeightsSelf]] step for step.
    */
  private lazy val dsirCtesSql: String = """
      WITH bg AS (
        SELECT doc_id, lang,
          unnest(list_transform(range(1, len(tk)),
            i -> tk[i] || ' ' || tk[i+1])) AS bigram
        FROM (SELECT doc_id, lang, string_split(text, ' ') AS tk FROM documents)
        WHERE len(tk) >= 2),
      bb AS (SELECT doc_id, lang,
          CAST(concat('0x', substr(md5(bigram), 1, 15)) AS BIGINT) % 65536 AS b
        FROM bg),
      ct AS (SELECT b, count(*) AS ct FROM bb WHERE lang = 'en' GROUP BY b),
      cr AS (SELECT b, count(*) AS cr FROM bb GROUP BY b),
      pd AS (SELECT bb.doc_id, count(*) AS nb,
               sum(coalesce(ct.ct, 0)) AS th, sum(cr.cr) AS rh
             FROM bb LEFT JOIN ct USING (b) JOIN cr USING (b)
             GROUP BY bb.doc_id)"""

  def all: Seq[QueryDef] = Seq(

    // -- as-of join: each purchase ← latest prior click by the same user --
    QueryDef("q_asof_join", (s, dir) => {
      val ev = Tables.loadEvents(s, dir)
      val p = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val c = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      Temporal.asofJoinBackward(p, c, keys = Seq("user_id"), tsCol = "ts",
          payload = Seq("event_id", "ts"), rightTieBreak = "event_id")
        .select(col("event_id"), col("user_id"),
          col("asof_event_id").as("click_id"),
          (unix_micros(col("ts")) - unix_micros(col("asof_ts"))).as("gap_us"))
        .orderBy("event_id")
    }, Some("""
      WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
           c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
           j AS (SELECT p.event_id, p.user_id, c.event_id AS click_id,
                   date_diff('microsecond', c.ts, p.ts) AS gap_us,
                   row_number() OVER (PARTITION BY p.event_id
                     ORDER BY c.ts DESC, c.event_id DESC) AS rn
                 FROM p LEFT JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts)
      SELECT event_id, user_id, click_id, gap_us FROM j WHERE rn = 1
      ORDER BY event_id""")),

    // -- as-of join with NULL payload fields: the matched click's value
    // is nulled on a deterministic subset, pinning the atomic
    // struct-latch semantics (a matched row's legitimately-NULL field
    // must SURVIVE — per-column latching would stitch in an older
    // click's value; the argmax oracle is row-atomic by construction) --
    QueryDef("q_asof_nulls", (s, dir) => {
      val ev = Tables.loadEvents(s, dir)
      val p = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val c = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"),
          when(col("event_id") % 3 === 0, lit(null).cast("double"))
            .otherwise(col("value")).as("value_n"))
      Temporal.asofJoinBackward(p, c, keys = Seq("user_id"), tsCol = "ts",
          payload = Seq("event_id", "value_n"), rightTieBreak = "event_id")
        .select(col("event_id"), col("user_id"),
          col("asof_event_id").as("click_id"),
          col("asof_value_n").as("click_value"))
        .orderBy("event_id")
    }, Some("""
      WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
           c AS (SELECT event_id, user_id, ts,
                   CASE WHEN event_id % 3 = 0 THEN NULL ELSE value END AS value_n
                 FROM events WHERE event_type = 'click'),
           j AS (SELECT p.event_id, p.user_id, c.event_id AS click_id,
                   c.value_n AS click_value,
                   row_number() OVER (PARTITION BY p.event_id
                     ORDER BY c.ts DESC, c.event_id DESC) AS rn
                 FROM p LEFT JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts)
      SELECT event_id, user_id, click_id, click_value FROM j WHERE rn = 1
      ORDER BY event_id""")),

    // -- forward as-of with tolerance: each click -> EARLIEST following
    // purchase by the same user, nulled when farther than 10 minutes
    // (the row survives — left-outer tolerance contract) --
    QueryDef("q_asof_forward", (s, dir) => {
      val ev = Tables.loadEvents(s, dir)
      val c = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val p = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      Temporal.asofJoin(c, p, keys = Seq("user_id"), tsCol = "ts",
          payload = Seq("event_id", "ts"), rightTieBreak = "event_id",
          forward = true, toleranceUs = Some(600000000L))
        .select(col("event_id"), col("user_id"),
          col("asof_event_id").as("purchase_id"),
          (unix_micros(col("asof_ts")) - unix_micros(col("ts"))).as("gap_us"))
        .orderBy("event_id")
    }, Some("""
      WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
           p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
           j AS (SELECT c.event_id, c.user_id, p.event_id AS purchase_id,
                   date_diff('microsecond', c.ts, p.ts) AS gap_us,
                   row_number() OVER (PARTITION BY c.event_id
                     ORDER BY p.ts ASC, p.event_id DESC) AS rn
                 FROM c LEFT JOIN p ON c.user_id = p.user_id AND p.ts >= c.ts)
      SELECT event_id, user_id,
        CASE WHEN gap_us <= 600000000 THEN purchase_id END AS purchase_id,
        CASE WHEN gap_us <= 600000000 THEN gap_us END AS gap_us
      FROM j WHERE rn = 1 ORDER BY event_id""")),

    // -- bounded range join: clicks in the 10 minutes before a purchase --
    QueryDef("q_range_join", (s, dir) => {
      val ev = Tables.loadEvents(s, dir)
      val p = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val c = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      Temporal.rangeJoinCount(p, c, keys = Seq("user_id"), tsCol = "ts",
          lowerUs = -600000000L, upperUs = 0L, rightIdCol = "event_id")
        .select(col("event_id"), col("user_id"),
          col("n_in_range").as("n_clicks_10m"),
          col("first_in_range").as("first_click_id"))
        .orderBy("event_id")
    }, Some("""
      WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
           c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
      SELECT p.event_id, p.user_id,
        count(c.event_id) AS n_clicks_10m,
        min(c.event_id) AS first_click_id
      FROM p LEFT JOIN c ON p.user_id = c.user_id
        AND c.ts >= p.ts - INTERVAL 10 MINUTE AND c.ts < p.ts
      GROUP BY p.event_id, p.user_id
      ORDER BY p.event_id""")),

    // -- concat-then-chunk packing of the token stream, per language -----
    QueryDef("pack_sequences", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val withTok = docs.select(col("doc_id"), col("lang"),
        TA.tokenCount(col("text")).cast("long").as("n_tokens"))
      Packing.packByOrder(withTok, tokensCol = "n_tokens",
          orderCol = "doc_id", partCol = "lang", budget = 256)
        .orderBy("doc_id")
    }, Some("""
      WITH t AS (SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
           FROM documents),
           o AS (SELECT doc_id, lang, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_off
           FROM t WHERE n_tokens > 0)
      SELECT doc_id, lang, n_tokens, end_off - n_tokens AS start_off, end_off,
        (end_off - n_tokens) // 256 AS first_seq,
        (end_off - 1) // 256 AS last_seq,
        (end_off - 1) // 256 - (end_off - n_tokens) // 256 + 1 AS n_seqs
      FROM o ORDER BY doc_id""")),

    // -- packing under the TRAINED tokenizer's lengths: identical
    // packing arithmetic, but the per-doc length is the BPE symbol
    // count under the corpus-trained 6-merge table — sequence budgets
    // are real only in the tokenizer's own units (whitespace counts
    // under-estimate by the fertility factor)
    QueryDef("pack_bpe", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val merges = graft.ops.Curation.collectMerges(
        graft.ops.Curation.bpeTrain(docs, numMerges = 6))
      val withTok = docs.select(col("doc_id"), col("lang"),
        org.apache.spark.sql.classic.GraftExpressionBridge.column(
          graft.functions.BpeTokenCount(
            org.apache.spark.sql.classic.GraftExpressionBridge.expression(col("text")),
            merges)).as("n_bpe"))
      Packing.packByOrder(withTok, tokensCol = "n_bpe",
          orderCol = "doc_id", partCol = "lang", budget = 1024)
        .orderBy("doc_id")
    }, Some {
      val (encReplaced, encJoins) = bpeEncodeSql(6)
      s"""
      WITH ${bpeCtes(6)},
      ltok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token FROM documents),
      enc AS (
        SELECT doc_id, lang, len(string_split(substr(w6e, 2, length(w6e) - 2), '|')) AS nsym
        FROM (SELECT doc_id, lang, $encReplaced AS w6e
              FROM ltok $encJoins
              WHERE length(token) > 0)),
      t AS (SELECT doc_id, lang, CAST(SUM(nsym) AS BIGINT) AS n_bpe
            FROM enc GROUP BY doc_id, lang),
      o AS (SELECT doc_id, lang, n_bpe,
        CAST(sum(n_bpe) OVER (PARTITION BY lang ORDER BY doc_id
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_off
      FROM t WHERE n_bpe > 0)
      SELECT doc_id, lang, n_bpe, end_off - n_bpe AS start_off, end_off,
        (end_off - n_bpe) // 1024 AS first_seq,
        (end_off - 1) // 1024 AS last_seq,
        (end_off - 1) // 1024 - (end_off - n_bpe) // 1024 + 1 AS n_seqs
      FROM o ORDER BY doc_id"""
    }),

    // -- deterministic per-stratum fraction sampling ---------------------
    QueryDef("sample_stratified", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val fracs = (0 until 5).map(i => s"src$i" -> 0.5).toMap
      Sampling.stratifiedSample(docs, strataCol = "source", idCol = "doc_id",
          fractions = fracs, default = 0.2)
        .select(col("doc_id"), col("source"),
          Sampling.hashBucket(col("doc_id")).as("bucket"))
        .orderBy("doc_id")
    }, Some(s"""
      SELECT doc_id, source, $hashSql AS bucket
      FROM documents
      WHERE $hashSql < CASE WHEN source IN ('src0','src1','src2','src3','src4')
                            THEN 500000 ELSE 200000 END
      ORDER BY doc_id""")),

    // -- explicit-target mixture sampling (Sampling.mixtureSelect): the
    // "3 parts en, 1 part each de/es/fr, no zh" recipe as one
    // integer-exact distributed gate — binding stratum elected by
    // cross-multiplied long comparisons, membership division-free
    // ((hash+1)·num_b·n_s <= 1e6·n_b·num_s), zh dropped by share 0 --
    QueryDef("mixture_select", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Sampling.mixtureSelect(docs.select(col("doc_id"), col("lang")),
          strataCol = "lang", idCol = "doc_id",
          shares = Map("en" -> 3L, "de" -> 1L, "es" -> 1L, "fr" -> 1L))
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    }, Some(s"""
      WITH c AS (SELECT lang, count(*) AS n,
               CASE lang WHEN 'en' THEN 3 WHEN 'de' THEN 1
                         WHEN 'es' THEN 1 WHEN 'fr' THEN 1 ELSE 0 END AS num
             FROM documents GROUP BY lang),
      cc AS (SELECT * FROM c WHERE num > 0),
      b AS (SELECT n AS nb, num AS numb FROM cc x
            WHERE NOT EXISTS (SELECT 1 FROM cc o WHERE x.n * o.num > o.n * x.num)
            ORDER BY lang LIMIT 1)
      SELECT d.doc_id, d.lang
      FROM documents d JOIN cc ON d.lang = cc.lang CROSS JOIN b
      WHERE ($hashSql + 1) * b.numb * cc.n <= 1000000 * b.nb * cc.num
      ORDER BY doc_id""")),

    // -- the token-weighted mixture gate: same recipe, strata masses =
    // sum(n_chars) instead of row counts (training mixes are specified
    // in tokens; n_chars is the deterministic proxy in this corpus) --
    QueryDef("mixture_select_tokens", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Sampling.mixtureSelect(
          docs.select(col("doc_id"), col("lang"), col("n_chars")),
          strataCol = "lang", idCol = "doc_id",
          shares = Map("en" -> 3L, "de" -> 1L, "es" -> 1L, "fr" -> 1L),
          weightCol = Some("n_chars"))
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    }, Some(s"""
      WITH c AS (SELECT lang, CAST(sum(n_chars) AS BIGINT) AS n,
               CASE lang WHEN 'en' THEN 3 WHEN 'de' THEN 1
                         WHEN 'es' THEN 1 WHEN 'fr' THEN 1 ELSE 0 END AS num
             FROM documents GROUP BY lang),
      cc AS (SELECT * FROM c WHERE num > 0 AND n > 0),
      b AS (SELECT n AS nb, num AS numb FROM cc x
            WHERE NOT EXISTS (SELECT 1 FROM cc o WHERE x.n * o.num > o.n * x.num)
            ORDER BY lang LIMIT 1)
      SELECT d.doc_id, d.lang
      FROM documents d JOIN cc ON d.lang = cc.lang CROSS JOIN b
      WHERE ($hashSql + 1) * b.numb * cc.n <= 1000000 * b.nb * cc.num
      ORDER BY doc_id""")),

    // -- UP-SAMPLING mixture (Sampling.mixtureUpsample): realize the
    // target ratios by REPEATING under-represented strata instead of
    // dropping over-represented ones — per-stratum rational epoch
    // factors (the most over-represented stratum keeps factor 1),
    // floor copies + one hash-gated extra; the oracle re-derives the
    // argmax election, every factor, and every emitted copy --
    QueryDef("mixture_upsample", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Sampling.mixtureUpsample(docs.select(col("doc_id"), col("lang")),
          strataCol = "lang", idCol = "doc_id",
          shares = Map("en" -> 3L, "de" -> 1L, "es" -> 1L, "fr" -> 1L))
        .orderBy("doc_id", "copy")
    }, Some(s"""
      WITH c AS (SELECT lang, count(*) AS n,
               CASE lang WHEN 'en' THEN 3 WHEN 'de' THEN 1
                         WHEN 'es' THEN 1 WHEN 'fr' THEN 1 ELSE 0 END AS w
             FROM documents GROUP BY lang),
      cc AS (SELECT * FROM c WHERE w > 0 AND n > 0),
      b AS (SELECT n AS nbv, w AS wb FROM cc x
            WHERE NOT EXISTS (SELECT 1 FROM cc o WHERE x.n * o.w < o.n * x.w)
            ORDER BY lang LIMIT 1),
      f AS (SELECT cc.lang, cc.w * b.nbv AS num, b.wb * cc.n AS den
            FROM cc CROSS JOIN b)
      SELECT d.doc_id, d.lang, CAST(t.copy AS BIGINT) AS copy
      FROM documents d JOIN f ON d.lang = f.lang,
        UNNEST(range(1, num // den
          + CASE WHEN ($hashSql) * den < 1000000 * (num % den)
                 THEN 1 ELSE 0 END + 1)) t(copy)
      ORDER BY doc_id, copy""")),

    // -- deterministic training ORDER over the up-sampled mix: copies
    // from epochRepeat tie on doc_id, so the shard/pos key folds the
    // copy index into a unique uid FIRST (the epochRepeat
    // composability contract) — repeated documents land at distinct,
    // engine-reproducible positions --
    QueryDef("upsample_order", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val up = Sampling.mixtureUpsample(docs.select(col("doc_id"), col("lang")),
          strataCol = "lang", idCol = "doc_id",
          shares = Map("en" -> 3L, "de" -> 1L, "es" -> 1L, "fr" -> 1L))
        .withColumn("uid", col("doc_id") * 256L + col("copy"))
      Sampling.shardShuffle(up, idCol = "uid", nShards = 4)
        .select(col("doc_id"), col("lang"), col("copy"), col("uid"),
          col("shard"), col("pos").cast("long").as("pos"))
        .orderBy("uid")
    }, Some {
      val uidHash = "((uid % 1048573) * 2654435761) % 1000000"
      s"""
      WITH c AS (SELECT lang, count(*) AS n,
               CASE lang WHEN 'en' THEN 3 WHEN 'de' THEN 1
                         WHEN 'es' THEN 1 WHEN 'fr' THEN 1 ELSE 0 END AS w
             FROM documents GROUP BY lang),
      cc AS (SELECT * FROM c WHERE w > 0 AND n > 0),
      b AS (SELECT n AS nbv, w AS wb FROM cc x
            WHERE NOT EXISTS (SELECT 1 FROM cc o WHERE x.n * o.w < o.n * x.w)
            ORDER BY lang LIMIT 1),
      f AS (SELECT cc.lang, cc.w * b.nbv AS num, b.wb * cc.n AS den
            FROM cc CROSS JOIN b),
      up AS (
        SELECT d.doc_id, d.lang, CAST(t.copy AS BIGINT) AS copy,
          d.doc_id * 256 + CAST(t.copy AS BIGINT) AS uid
        FROM documents d JOIN f ON d.lang = f.lang,
          UNNEST(range(1, num // den
            + CASE WHEN ($hashSql) * den < 1000000 * (num % den)
                   THEN 1 ELSE 0 END + 1)) t(copy))
      SELECT doc_id, lang, copy, uid,
        ((uid % 1048573) * 2246822519) % 4 AS shard,
        row_number() OVER (
          PARTITION BY ((uid % 1048573) * 2246822519) % 4
          ORDER BY $uidHash, uid) AS pos
      FROM up ORDER BY uid"""
    }),

    // -- DoReMi-style iterative mixture reweighting (Curation
    // .mixtureReweight): THREE multiplicative-weights rounds — select
    // the live mixture, train the bigram proxy ON it, per-stratum miss
    // permille as excess loss, w' = w·(1000 + miss) / gcd(vector) —
    // the oracle unrolls ALL rounds (mixture membership, model train,
    // scoring, update, gcd renormalization) and re-derives every
    // weight bit-for-bit --
    QueryDef("mixture_reweight", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      graft.ops.Curation.mixtureReweight(docs,
          strataCol = "lang", idCol = "doc_id", textCol = "text",
          initShares = Map("en" -> 1L, "de" -> 1L, "es" -> 1L,
            "fr" -> 1L, "zh" -> 1L),
          rounds = 3)
        .orderBy("round", "lang")
    }, Some {
      s"""
      WITH ${mwHeadCte.trim},
      ${mwRoundCte(1, "w1")},
      w2 AS (SELECT lang, weight_after AS w FROM r1),
      ${mwRoundCte(2, "w2")},
      w3 AS (SELECT lang, weight_after AS w FROM r2),
      ${mwRoundCte(3, "w3")}
      SELECT CAST(1 AS BIGINT) AS round, * FROM r1
      UNION ALL
      SELECT CAST(2 AS BIGINT) AS round, * FROM r2
      UNION ALL
      SELECT CAST(3 AS BIGINT) AS round, * FROM r3
      ORDER BY round, lang"""
    }),

    // -- TOKEN-WEIGHTED DoReMi rounds: the mixture each round selects
    // is token-mass-targeted (strata masses = sum(n_chars), the
    // mixture_select_tokens convention) while the excess-loss scoring
    // stays per-occurrence; the oracle swaps only the counts table --
    QueryDef("mixture_reweight_tokens", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      graft.ops.Curation.mixtureReweight(docs,
          strataCol = "lang", idCol = "doc_id", textCol = "text",
          initShares = Map("en" -> 1L, "de" -> 1L, "es" -> 1L,
            "fr" -> 1L, "zh" -> 1L),
          rounds = 3, weightCol = Some("n_chars"))
        .orderBy("round", "lang")
    }, Some {
      s"""
      WITH ${mwHeadCte.trim},
      ${mwRoundCte(1, "w1", "cntw")},
      w2 AS (SELECT lang, weight_after AS w FROM r1),
      ${mwRoundCte(2, "w2", "cntw")},
      w3 AS (SELECT lang, weight_after AS w FROM r2),
      ${mwRoundCte(3, "w3", "cntw")}
      SELECT CAST(1 AS BIGINT) AS round, * FROM r1
      UNION ALL
      SELECT CAST(2 AS BIGINT) AS round, * FROM r2
      UNION ALL
      SELECT CAST(3 AS BIGINT) AS round, * FROM r3
      ORDER BY round, lang"""
    }),

    // -- the MIXTURE-TUNING pipeline (Curation.pipelineV8Stages):
    // DoReMi rounds tune the weights, the tuned mixture is then
    // SELECTED and rolled up per stratum — the oracle re-derives the
    // rounds AND the final membership, so the tuned mix is a
    // cross-engine fact end to end --
    QueryDef("curation_pipeline_v8", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val st = graft.ops.Curation.pipelineV8Stages(docs)
      Tables.materializeAndRelease(st.summary.orderBy("lang"), st.release)
    }, Some {
      s"""
      WITH ${mwHeadCte.trim},
      ${mwRoundCte(1, "w1")},
      w2 AS (SELECT lang, weight_after AS w FROM r1),
      ${mwRoundCte(2, "w2")},
      w3 AS (SELECT lang, weight_after AS w FROM r2),
      cc3 AS (SELECT c.lang, c.n, w3.w AS num FROM cnt c JOIN w3 USING (lang)
              WHERE c.n > 0 AND w3.w > 0),
      bs3 AS (SELECT n AS nb, num AS numb FROM cc3 x
              WHERE NOT EXISTS (SELECT 1 FROM cc3 o
                                WHERE x.n * o.num > o.n * x.num)
              ORDER BY lang LIMIT 1)
      SELECT d.lang, CAST(cc3.num AS BIGINT) AS weight,
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(d.n_chars) AS BIGINT) AS total_chars
      FROM documents d JOIN cc3 ON d.lang = cc3.lang CROSS JOIN bs3
      WHERE ($hashSql + 1) * bs3.numb * cc3.n
         <= 1000000 * bs3.nb * cc3.num
      GROUP BY d.lang, cc3.num
      ORDER BY d.lang"""
    }),

    // -- deterministic weighted interleaving into a training order
    // (Sampling.interleaveShards): per-(shard, lang) ranks keyed at
    // rank·(lcm/w) so any contiguous window carries the 2:1:1:1:1 mix;
    // windows stay bounded by corpus/nShards --
    QueryDef("interleave_shards", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Sampling.interleaveShards(docs.select(col("doc_id"), col("lang")),
          strataCol = "lang", idCol = "doc_id",
          weights = Map("en" -> 2L, "de" -> 1L, "es" -> 1L,
            "fr" -> 1L, "zh" -> 1L),
          nShards = 4)
        .orderBy("doc_id")
    }, Some(s"""
      SELECT doc_id, lang, shard, rank,
        rank * (CASE lang WHEN 'en' THEN 1 ELSE 2 END) AS pos
      FROM (
        SELECT doc_id, lang,
          ((doc_id % 1048573) * 2246822519) % 4 AS shard,
          row_number() OVER (
            PARTITION BY ((doc_id % 1048573) * 2246822519) % 4, lang
            ORDER BY $hashSql, doc_id) AS rank
        FROM documents)
      ORDER BY doc_id""")),

    // -- leakage-safe 90/5/5 split: the label is a pure function of the
    // GROUP hash (here: doc families of 10 adjacent ids standing in
    // for near-dup clusters / domains), so grouped documents can never
    // straddle train/test (Sampling.splitByGroup) --
    QueryDef("split_by_group", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Sampling.splitByGroup(
          docs.select(col("doc_id"),
            expr("doc_id div 10").as("family")),
          groupCol = "family",
          splits = Seq(("train", 900000L), ("val", 50000L), ("test", 50000L)))
        .orderBy("doc_id")
    }, Some("""
      SELECT doc_id, doc_id // 10 AS family,
        CASE WHEN ((doc_id // 10 % 1048573) * 2654435761) % 1000000 < 900000 THEN 'train'
             WHEN ((doc_id // 10 % 1048573) * 2654435761) % 1000000 < 950000 THEN 'val'
             ELSE 'test' END AS split
      FROM documents ORDER BY doc_id""")),

    // -- k-fold assignment by group hash: equal-width bands of the
    // portable bucket, whole families share a fold — leakage-safe
    // cross-validation (Sampling.foldByGroup) --
    QueryDef("fold_assign", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Sampling.foldByGroup(
          docs.select(col("doc_id"), expr("doc_id div 10").as("family")),
          groupCol = "family", k = 5)
        .orderBy("doc_id")
    }, Some("""
      SELECT doc_id, doc_id // 10 AS family,
        CAST((((doc_id // 10 % 1048573) * 2654435761) % 1000000) * 5 // 1000000 AS INT) AS fold
      FROM documents ORDER BY doc_id""")),

    // -- string-keyed leakage-safe split: the group key is the DOMAIN
    // (source) string, bucketed through the md5-prefix portable hash —
    // every doc of a domain shares a split (Sampling.splitByGroupStr) --
    QueryDef("split_by_domain", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Sampling.splitByGroupStr(
          docs.select(col("doc_id"), col("source")),
          groupCol = "source",
          splits = Seq(("train", 800000L), ("heldout", 200000L)))
        .orderBy("doc_id")
    }, Some("""
      SELECT doc_id, source,
        CASE WHEN list_reduce(list_transform(range(1,9),
            i -> strpos('0123456789abcdef', substr(md5(source),i,1)) - 1),
            (a,b) -> a*16 + b) % 1000000 < 800000
          THEN 'train' ELSE 'heldout' END AS split
      FROM documents ORDER BY doc_id""")),

    // -- eval-leakage AUDIT: near-dup pairs (3-gram Jaccard >= 0.8, the
    // dedup_ngram tier) joined to a ROW-level 90/5/5 hash split; an
    // off-diagonal (train, test) row counts test docs whose near-dup
    // lives in train — the contamination splitByGroup prevents when fed
    // cluster ids (Sampling.splitLeakageAudit) --
    QueryDef("split_leakage_audit", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val labeled = Sampling.splitByGroup(
          docs.select(col("doc_id")), groupCol = "doc_id",
          splits = Seq(("train", 900000L), ("val", 50000L), ("test", 50000L)))
      val pairs = graft.ops.Dedup.ngramJaccardPairs(
          docs, "doc_id", "text", k = 3, tau = 0.8)
      Sampling.splitLeakageAudit(pairs, labeled)
        .orderBy("split_a", "split_b")
    }, Some(s"""
      WITH docs AS (
        SELECT doc_id, list_distinct(list_transform(
          range(1, len(string_split(text,' ')) - 1),
          i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])) AS sh
        FROM documents),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM docs a, docs b
        WHERE a.doc_id < b.doc_id
          AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
      lab AS (SELECT doc_id,
        CASE WHEN $hashSql < 900000 THEN 'train'
             WHEN $hashSql < 950000 THEN 'val'
             ELSE 'test' END AS split FROM documents)
      SELECT least(sa.split, sb.split) AS split_a,
        greatest(sa.split, sb.split) AS split_b,
        CAST(count(*) AS BIGINT) AS n_pairs
      FROM pairs p JOIN lab sa ON p.id_a = sa.doc_id
                   JOIN lab sb ON p.id_b = sb.doc_id
      GROUP BY 1, 2 ORDER BY split_a, split_b""")),

    // -- deterministic fixed-N per stratum (eval-set picker) -------------
    QueryDef("sample_per_source", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Sampling.stratifiedFixedN(docs.select(col("doc_id"), col("source")),
          strataCol = "source", idCol = "doc_id", n = 5)
        .orderBy("doc_id")
    }, Some(s"""
      SELECT doc_id, source FROM (
        SELECT doc_id, source,
          row_number() OVER (PARTITION BY source ORDER BY $hashSql, doc_id) AS rn
        FROM documents) WHERE rn <= 5
      ORDER BY doc_id""")),

    // -- Gopher-style repetition metrics ---------------------------------
    QueryDef("text_repetition", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      TA.repetitionMetrics(docs, "doc_id", "text", k = 3)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }, Some("""
      WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      counts AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2),
      agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                count(*) AS n_distinct, CAST(max(c) AS BIGINT) AS top_c
              FROM counts GROUP BY 1),
      sh AS (SELECT doc_id, len(list_distinct(list_transform(
               range(1, len(string_split(text,' ')) - 1),
               i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]))) AS nds
             FROM documents)
      SELECT a.doc_id, n_tokens, n_distinct, top_c,
        CAST(n_distinct AS DOUBLE) / n_tokens AS distinct_ratio,
        CAST(top_c AS DOUBLE) / n_tokens AS top_token_frac,
        CASE WHEN n_tokens >= 3
             THEN CAST(1 AS DOUBLE) - CAST(coalesce(nds, 0) AS DOUBLE) / (n_tokens - 2)
             ELSE CAST(0 AS DOUBLE) END AS dup_3gram_frac
      FROM agg a LEFT JOIN sh USING (doc_id) ORDER BY doc_id""")),

    // -- Gopher CHARACTER-level repetition fractions (integer ppm). ------
    // The op's production defaults are Gopher's n = 2..4 (top) and
    // 5..10 (dup), but the synthetic corpus — random words — has ZERO
    // duplicated 5-grams at every SF (verified in DuckDB), so the
    // oracle row exercises dup at n = 2/3 (349 and 27 of 500 docs
    // non-zero at sf0.01) where the arithmetic actually bites; large-n
    // behavior and the tie-break contract are spec-pinned on crafted
    // docs instead.
    QueryDef("text_gopher", (s, dir) => {
      val docs = Tables.loadSpread(s, dir, "documents")
      TA.gopherRepetition(docs, "doc_id", "text",
          topNs = Seq(2, 3), dupNs = Seq(2, 3))
        .orderBy("doc_id")
    }, Some {
      def ncte(n: Int) = s"""
      g$n AS (
        SELECT doc_id, unnest(list_transform(
          range(1, greatest(len(string_split(text,' ')) - $n + 2, 1)),
          i -> array_to_string(string_split(text,' ')[i:i+$n-1], ' '))) AS g
        FROM documents),
      c$n AS (SELECT doc_id, g, count(*) AS c, length(g) AS lg
              FROM g$n GROUP BY doc_id, g),
      top$n AS (SELECT doc_id, c AS top_c, lg AS top_chars FROM (
          SELECT doc_id, c, lg,
                 row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g DESC) AS rn
          FROM c$n) WHERE rn = 1),
      d$n AS (SELECT doc_id,
                CAST(COALESCE(SUM(CASE WHEN c >= 2 THEN c*lg END), 0) AS BIGINT) AS dup_chars,
                CAST(SUM(c*lg) AS BIGINT) AS all_chars
              FROM c$n GROUP BY doc_id)"""
      s"""
      WITH ${ncte(2).trim}, ${ncte(3).trim}
      SELECT d.doc_id,
        CAST(COALESCE((t2.top_c * t2.top_chars * 1000000) // length(d.text), 0) AS BIGINT) AS top2_ppm,
        CAST(COALESCE((t3.top_c * t3.top_chars * 1000000) // length(d.text), 0) AS BIGINT) AS top3_ppm,
        CAST(COALESCE(CASE WHEN d2.all_chars > 0 THEN (d2.dup_chars * 1000000) // d2.all_chars END, 0) AS BIGINT) AS dup2_ppm,
        CAST(COALESCE(CASE WHEN d3.all_chars > 0 THEN (d3.dup_chars * 1000000) // d3.all_chars END, 0) AS BIGINT) AS dup3_ppm
      FROM documents d
      LEFT JOIN top2 t2 USING (doc_id)
      LEFT JOIN top3 t3 USING (doc_id)
      LEFT JOIN d2 USING (doc_id)
      LEFT JOIN d3 USING (doc_id)
      ORDER BY doc_id"""
    }),

    // -- Gopher POSITIONAL-COVER duplicate-gram fractions (TextAnalysis
    // .gopherRepetitionCover): ppm of characters inside >=1 duplicated
    // n-gram occurrence, each char counted once — the reference
    // definition, published thresholds transfer, <= 1e6 by
    // construction. Oracle re-derives the interval union as covered
    // token indexes + covered inter-token gaps --
    QueryDef("text_gopher_cover", (s, dir) => {
      val docs = Tables.loadSpread(s, dir, "documents")
      TA.gopherRepetitionCover(docs, "doc_id", "text", dupNs = Seq(2, 3))
        .orderBy("doc_id")
    }, Some {
      def ncte(n: Int) = s"""
      g$n AS (
        SELECT doc_id, i, array_to_string(string_split(text,' ')[i:i+$n-1], ' ') AS g
        FROM documents,
          UNNEST(range(1, greatest(len(string_split(text,' ')) - $n + 2, 1))) r(i)),
      d$n AS (SELECT doc_id, g FROM g$n GROUP BY doc_id, g HAVING count(*) >= 2),
      t$n AS (SELECT DISTINCT g$n.doc_id, j
              FROM g$n JOIN d$n USING (doc_id, g),
                UNNEST(range(g$n.i, g$n.i + $n)) rr(j)),
      p$n AS (SELECT DISTINCT g$n.doc_id, j
              FROM g$n JOIN d$n USING (doc_id, g),
                UNNEST(range(g$n.i, g$n.i + $n - 1)) rr(j)),
      ct$n AS (SELECT t$n.doc_id,
                 CAST(sum(length(string_split(d.text,' ')[CAST(t$n.j AS INT)])) AS BIGINT) AS ctok
               FROM t$n JOIN documents d USING (doc_id) GROUP BY t$n.doc_id),
      cg$n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS cgap FROM p$n GROUP BY doc_id),
      cov$n AS (SELECT ct$n.doc_id,
                  ct$n.ctok + COALESCE(cg$n.cgap, 0) AS cov
                FROM ct$n LEFT JOIN cg$n USING (doc_id))"""
      s"""
      WITH ${ncte(2).trim}, ${ncte(3).trim}
      SELECT d.doc_id,
        CAST(COALESCE(CASE WHEN length(d.text) > 0
          THEN (cov2.cov * 1000000) // length(d.text) END, 0) AS BIGINT) AS dup2_cover_ppm,
        CAST(COALESCE(CASE WHEN length(d.text) > 0
          THEN (cov3.cov * 1000000) // length(d.text) END, 0) AS BIGINT) AS dup3_cover_ppm
      FROM documents d
      LEFT JOIN cov2 USING (doc_id)
      LEFT JOIN cov3 USING (doc_id)
      ORDER BY doc_id"""
    }),

    // -- PII redaction (emails/phones planted deterministically: the -----
    // corpus itself is PII-free, so each doc gets a synthetic contact
    // line derived from its id; both engines then scrub with the SAME
    // dialect-portable patterns and the redacted text is hash-compared
    QueryDef("text_redact", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val planted = docs.select(col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com or call 555-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")).as("ptext"))
      planted.select(col("doc_id"),
          TA.countEmails(col("ptext")).cast("long").as("n_emails"),
          TA.countPhones(col("ptext")).cast("long").as("n_phones"),
          md5(TA.redactPii(col("ptext"))).as("redacted_md5"))
        .orderBy("doc_id")
    }, Some(s"""
      WITH planted AS (
        SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR)
          || '@example.com or call 555-'
          || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS ptext
        FROM documents)
      SELECT doc_id,
        CAST(len(regexp_extract_all(ptext, '${TA.EmailPattern}')) AS BIGINT) AS n_emails,
        CAST(len(regexp_extract_all(ptext, '${TA.PhonePattern}')) AS BIGINT) AS n_phones,
        md5(regexp_replace(regexp_replace(ptext, '${TA.EmailPattern}', '<EMAIL>', 'g'),
          '${TA.PhonePattern}', '<PHONE>', 'g')) AS redacted_md5
      FROM planted ORDER BY doc_id""")),

    // -- int8-quantized exact scan: recall vs the double brute force -----
    // neighbor lists depend on quantization rounding (no SQL oracle),
    // but the query count is exact and recall@5 of the compressed scan
    // is bounded (measured 0.95-1.0 across SFs; 0.7 leaves safe margin)
    QueryDef("sim_topk_q8", (s, dir) => {
      import s.implicits._
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id").as("id"), Similarity.toDoubleVec(col("embedding")).as("vec"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val q = e.filter(col("id") < 20)
      val exact = Similarity.bruteForceTopK(q, e, k = 5).select("query_id", "neighbor_id")
      val approx = Similarity.quantizedTopK(q, e, k = 5).select("query_id", "neighbor_id")
      val c = exact
        .join(approx.withColumn("hit", lit(1)), Seq("query_id", "neighbor_id"), "left")
        .agg(count(lit(1)).as("total"), count(col("hit")).as("hits"),
          countDistinct(col("query_id")).as("nq"))
        .head()
      e.unpersist()
      Seq((c.getLong(2), 5L, c.getLong(1) >= 0.7 * c.getLong(0)))
        .toDF("n_queries", "k", "recall_ok")
    }, Some("""
      SELECT (SELECT count(*) FROM embeddings WHERE vec_id < 20) AS n_queries,
             CAST(5 AS BIGINT) AS k, true AS recall_ok""")),

    // -- train/eval contamination pairs by n-gram containment ------------
    // bench = every 10th doc standing in for an eval set; scores are
    // exact (the supplement join restores over-cap shingles), so the
    // DuckDB list-intersect oracle hash-matches like dedup_ngram's
    QueryDef("decontaminate", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Decontaminate.containmentPairs(
          train = docs.filter(col("doc_id") % 10 =!= 0),
          bench = docs.filter(col("doc_id") % 10 === 0),
          idCol = "doc_id", textCol = "text", k = 3, tau = 0.5)
        .orderBy("train_id", "bench_id")
    }, Some("""
      WITH docs AS (
        SELECT doc_id, list_distinct(list_transform(
          range(1, len(string_split(text,' ')) - 1),
          i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])) AS sh
        FROM documents),
      b AS (SELECT * FROM docs WHERE doc_id % 10 = 0 AND len(sh) > 0),
      t AS (SELECT * FROM docs WHERE doc_id % 10 <> 0)
      SELECT t.doc_id AS train_id, b.doc_id AS bench_id,
        CAST(len(list_intersect(t.sh, b.sh)) AS DOUBLE) / len(b.sh) AS containment
      FROM t, b
      WHERE CAST(len(list_intersect(t.sh, b.sh)) AS DOUBLE) / len(b.sh) >= 0.5
      ORDER BY train_id, bench_id""")),

    // -- per-document contamination score (Decontaminate
    // .contaminationScore, the GPT-3 appendix-C statistic):
    // train-normalized overlap of each train doc's shingles against the
    // bench UNION — one pass, no self-join (vs containmentPairs'
    // per-bench-pair containment above) --
    QueryDef("contamination_score", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Decontaminate.contaminationScore(
          train = docs.filter(col("doc_id") % 10 =!= 0),
          bench = docs.filter(col("doc_id") % 10 === 0),
          idCol = "doc_id", textCol = "text", k = 3, tau = 0.5)
        .orderBy("train_id")
    }, Some("""
      WITH docs AS (
        SELECT doc_id, list_distinct(list_transform(
          range(1, len(string_split(text,' ')) - 1),
          i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])) AS sh
        FROM documents),
      b AS (SELECT DISTINCT unnest(sh) AS g FROM docs WHERE doc_id % 10 = 0),
      t AS (SELECT doc_id, unnest(sh) AS g FROM docs WHERE doc_id % 10 <> 0),
      counts AS (SELECT t.doc_id, count(*) AS n_sh, count(b.g) AS n_hit
                 FROM t LEFT JOIN b ON t.g = b.g GROUP BY t.doc_id)
      SELECT d.doc_id AS train_id,
        CAST(coalesce(c.n_sh, 0) AS BIGINT) AS n_shingles,
        CAST(coalesce(c.n_hit, 0) AS BIGINT) AS n_hits,
        CASE WHEN coalesce(c.n_sh, 0) > 0
          THEN CAST(c.n_hit AS DOUBLE) / c.n_sh ELSE 0.0 END AS overlap,
        CASE WHEN coalesce(c.n_sh, 0) > 0
          THEN CAST(c.n_hit AS DOUBLE) / c.n_sh ELSE 0.0 END >= 0.5 AS flagged
      FROM (SELECT doc_id FROM documents WHERE doc_id % 10 <> 0) d
      LEFT JOIN counts c ON d.doc_id = c.doc_id
      ORDER BY train_id""")),

    // -- the score's Bloom scale tier: identical rows (no false
    // negatives; false positives die in the exact semi-join), the bench
    // set only ever meets the Bloom-hit shingle slice — so the oracle
    // is contamination_score's, verbatim --
    QueryDef("contamination_score_bloom", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Decontaminate.contaminationScoreBloom(
          train = docs.filter(col("doc_id") % 10 =!= 0),
          bench = docs.filter(col("doc_id") % 10 === 0),
          idCol = "doc_id", textCol = "text", k = 3, tau = 0.5)
        .orderBy("train_id")
    }, Some("""
      WITH docs AS (
        SELECT doc_id, list_distinct(list_transform(
          range(1, len(string_split(text,' ')) - 1),
          i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])) AS sh
        FROM documents),
      b AS (SELECT DISTINCT unnest(sh) AS g FROM docs WHERE doc_id % 10 = 0),
      t AS (SELECT doc_id, unnest(sh) AS g FROM docs WHERE doc_id % 10 <> 0),
      counts AS (SELECT t.doc_id, count(*) AS n_sh, count(b.g) AS n_hit
                 FROM t LEFT JOIN b ON t.g = b.g GROUP BY t.doc_id)
      SELECT d.doc_id AS train_id,
        CAST(coalesce(c.n_sh, 0) AS BIGINT) AS n_shingles,
        CAST(coalesce(c.n_hit, 0) AS BIGINT) AS n_hits,
        CASE WHEN coalesce(c.n_sh, 0) > 0
          THEN CAST(c.n_hit AS DOUBLE) / c.n_sh ELSE 0.0 END AS overlap,
        CASE WHEN coalesce(c.n_sh, 0) > 0
          THEN CAST(c.n_hit AS DOUBLE) / c.n_sh ELSE 0.0 END >= 0.5 AS flagged
      FROM (SELECT doc_id FROM documents WHERE doc_id % 10 <> 0) d
      LEFT JOIN counts c ON d.doc_id = c.doc_id
      ORDER BY train_id""")),

    // -- the whole curation pipeline as ONE declarative plan -------------
    // quality-gate → exact-dedup → decontaminate vs the eval split →
    // pack into 256-token sequences per language → per-language summary.
    // Every stage is the oracle-checked operator above; this pins their
    // COMPOSITION (column contracts, join semantics, order sensitivity)
    // end-to-end with exact integer outputs.
    QueryDef("curation_pipeline", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val run = graft.ops.Curation.pipeline(docs)
      Tables.materializeAndRelease(run.summary.orderBy("lang"), run.release)
    }, Some(s"""
      WITH scored AS (
        SELECT doc_id, lang, text, len($sqlTokens) AS n_tokens,
          least(CAST(1.0 AS DOUBLE), CAST(len($sqlTokens) AS DOUBLE) / 100.0) * 0.4
            + least(CAST(1.0 AS DOUBLE), (CAST($enHits AS DOUBLE) / len($sqlTokens)) * 5.0) * 0.3
            + CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) / length(text) * 0.3 AS quality,
          md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp
        FROM documents WHERE doc_id % 10 <> 0),
      kept AS (SELECT * FROM scored WHERE quality >= 0.5 AND n_tokens >= 10),
      dedup AS (SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM kept)
        WHERE rn = 1),
      tsh AS (SELECT doc_id, lang, n_tokens, list_distinct(list_transform(
          range(1, len(string_split(text,' ')) - 1),
          i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])) AS sh
        FROM dedup),
      bsh AS (SELECT doc_id, list_distinct(list_transform(
          range(1, len(string_split(text,' ')) - 1),
          i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])) AS sh
        FROM documents WHERE doc_id % 10 = 0),
      clean AS (SELECT t.doc_id, t.lang, t.n_tokens FROM tsh t
        WHERE NOT EXISTS (SELECT 1 FROM bsh b WHERE len(b.sh) > 0
          AND CAST(len(list_intersect(t.sh, b.sh)) AS DOUBLE) / len(b.sh) >= 0.5)),
      packed AS (SELECT doc_id, lang, n_tokens,
          CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_off
        FROM clean WHERE n_tokens > 0),
      summary AS (SELECT lang, CAST(max(end_off) AS BIGINT) AS total_tokens,
          count(*) AS n_docs FROM packed GROUP BY lang)
      SELECT lang, total_tokens, n_docs,
        (total_tokens + 255) // 256 AS n_sequences,
        CAST(total_tokens - ((total_tokens + 255) // 256 - 1) * 256 AS DOUBLE) / 256 AS last_fill
      FROM summary ORDER BY lang""")),

    // -- per-source boilerplate: phrases a source stamps across >= 3 of
    // its documents, measured back onto every document as a ratio a
    // curation gate can threshold --
    QueryDef("text_boilerplate", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      graft.ops.Curation.boilerplateStats(docs, k = 3, minDocs = 3)
        .select(col("doc_id"), col("n_shingles").cast("long").as("n_shingles"),
          col("n_boiler").cast("long").as("n_boiler"), col("boiler_ratio"))
        .orderBy("doc_id")
    }, Some("""
      WITH sh AS (
        SELECT doc_id, source, unnest(list_distinct(list_transform(
          range(1, len(string_split(text,' ')) - 1),
          i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]))) AS g
        FROM documents),
      boiler AS (
        SELECT source, g, count(*) AS n_docs FROM sh
        GROUP BY source, g HAVING count(*) >= 3)
      SELECT s.doc_id, count(*) AS n_shingles, count(b.n_docs) AS n_boiler,
        CAST(count(b.n_docs) AS DOUBLE) / count(*) AS boiler_ratio
      FROM sh s LEFT JOIN boiler b ON s.source = b.source AND s.g = b.g
      GROUP BY s.doc_id ORDER BY doc_id""")),

    // -- corpus vocabulary: token -> (collection tf, doc df), the input
    // to tokenizer-vocab construction and idf weighting --
    QueryDef("text_vocab", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      graft.ops.Curation.vocabulary(docs)
        .select(col("token"), col("tf").cast("long").as("tf"),
          col("df").cast("long").as("df"))
        .orderBy(col("df").desc, col("tf").desc, col("token"))
    }, Some("""
      WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      td AS (
        SELECT token, doc_id, count(*) AS c FROM tok
        WHERE length(token) > 0 GROUP BY token, doc_id)
      SELECT token, CAST(sum(c) AS BIGINT) AS tf, count(*) AS df
      FROM td GROUP BY token ORDER BY df DESC, tf DESC, token""")),

    // -- top characteristic terms per doc by idf-weighted tf (log-free
    // score = tf * N/df so the double arithmetic is bit-identical across
    // engines; see Curation.tfidfTopTerms) --
    QueryDef("text_tfidf", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      graft.ops.Curation.tfidfTopTerms(docs, topN = 3)
        .select(col("doc_id"), col("token"),
          col("tf").cast("long").as("tf"), col("df").cast("long").as("df"),
          col("score"), col("rank").cast("long").as("rank"))
        .orderBy("doc_id", "rank")
    }, Some("""
      WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      tf AS (
        SELECT doc_id, token, count(*) AS tf FROM tok
        WHERE length(token) > 0 GROUP BY doc_id, token),
      dfx AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
      n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
      scored AS (
        SELECT tf.doc_id, tf.token, tf.tf, dfx.df,
          CAST(tf.tf AS DOUBLE) * (n.n_docs / CAST(dfx.df AS DOUBLE)) AS score
        FROM tf, dfx, n WHERE tf.token = dfx.token)
      SELECT doc_id, token, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
        score, rank
      FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS rank
            FROM scored)
      WHERE rank <= 3 ORDER BY doc_id, rank""")),

    // -- BM25 retrieval scores against a fixed 3-term query (log-free
    // for cross-engine bit parity — see Curation.bm25Scores; per-term
    // scores combine in fixed left-to-right order so the double sum is
    // deterministic) --
    QueryDef("text_bm25", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      graft.ops.Curation.bm25Scores(docs, Seq("table", "value", "row"))
        .select(col("doc_id"), col("n_hit").cast("long").as("n_hit"),
          col("bm25"))
        .orderBy("doc_id")
    }, Some("""
      WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      tk AS (SELECT doc_id, token FROM tok WHERE length(token) > 0),
      dl AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl FROM tk GROUP BY doc_id),
      st AS (SELECT CAST(count(*) AS DOUBLE) AS nd, avg(dl) AS avgdl FROM dl),
      tf AS (SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf FROM tk
             WHERE token IN ('table','value','row') GROUP BY doc_id, token),
      dfx AS (SELECT token, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY token),
      sc AS (SELECT tf.doc_id, tf.token,
               ((st.nd - dfx.df + 0.5) / (dfx.df + 0.5)) *
               ((tf.tf * (1.2 + 1.0)) /
                (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / st.avgdl)))) AS s
             FROM tf, dfx, dl, st
             WHERE tf.token = dfx.token AND tf.doc_id = dl.doc_id),
      ag AS (SELECT doc_id, count(*) AS n_hit,
               max(CASE WHEN token = 'table' THEN s END) AS s0,
               max(CASE WHEN token = 'value' THEN s END) AS s1,
               max(CASE WHEN token = 'row'   THEN s END) AS s2
             FROM sc GROUP BY doc_id)
      SELECT doc_id, CAST(n_hit AS BIGINT) AS n_hit,
        coalesce(s0, 0.0) + coalesce(s1, 0.0) + coalesce(s2, 0.0) AS bm25
      FROM ag ORDER BY doc_id""")),

    // -- BPE training step 1: adjacent char-pair counts weighted by token
    // frequency, computed over the DISTINCT vocabulary (vocab << corpus;
    // see Curation.bpePairStats) --
    QueryDef("bpe_pairs", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      graft.ops.Curation.bpePairStats(docs)
        .select(col("pair"), col("n").cast("long").as("n"))
        .orderBy(col("n").desc, col("pair"))
    }, Some("""
      WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents),
      tf AS (
        SELECT token, count(*) AS tf FROM tok
        WHERE length(token) > 0 GROUP BY token),
      pairs AS (
        SELECT unnest(list_transform(range(1, length(token)),
          i -> substring(token, CAST(i AS INTEGER), 2))) AS pair, tf
        FROM tf)
      SELECT pair, CAST(sum(tf) AS BIGINT) AS n
      FROM pairs GROUP BY pair ORDER BY n DESC, pair""")),

    // -- full BPE merge training: the DuckDB oracle UNROLLS the same ----
    // numMerges iterations (pair count over the padded '|'-delimited
    // word states → argmax with byte-order tie-break → replace()
    // rewrite — replace is left-to-right non-overlapping in BOTH
    // engines, so every merge decision reproduces bit-for-bit)
    QueryDef("bpe_train", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      graft.ops.Curation.bpeTrain(docs, numMerges = 6)
        .orderBy("rank")
    }, Some(s"""
      WITH ${bpeCtes(6)}
      SELECT * FROM (${(1 to 6).map(it =>
        s"SELECT CAST(${it - 1} AS BIGINT) AS rank, l AS left_sym, r AS right_sym, n AS pair_count FROM b$it")
        .mkString(" UNION ALL ")})
      ORDER BY rank""")),

    // -- encode under the trained table: documents re-tokenized by the
    // 6-merge BPE (the BpeTokenCount scan-side kernel); the oracle
    // re-derives the merge table AND applies the same six replaces to
    // every token
    QueryDef("bpe_encode", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val merges = graft.ops.Curation.collectMerges(
        graft.ops.Curation.bpeTrain(docs, numMerges = 6))
      docs.select(col("doc_id"),
          org.apache.spark.sql.classic.GraftExpressionBridge.column(
            graft.functions.BpeTokenCount(
              org.apache.spark.sql.classic.GraftExpressionBridge.expression(col("text")),
              merges)).as("n_bpe"))
        .orderBy("doc_id")
    }, Some {
      val (replaced, encJoins) = bpeEncodeSql(6)
      s"""
      WITH ${bpeCtes(6)},
      tok2 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      enc AS (
        SELECT doc_id, len(string_split(substr(w6, 2, length(w6) - 2), '|')) AS nsym
        FROM (SELECT doc_id, $replaced AS w6
              FROM tok2 $encJoins
              WHERE length(token) > 0)),
      sums AS (SELECT doc_id, CAST(SUM(nsym) AS BIGINT) AS n_bpe FROM enc GROUP BY doc_id)
      SELECT d.doc_id, CAST(COALESCE(s.n_bpe, 0) AS BIGINT) AS n_bpe
      FROM documents d LEFT JOIN sums s USING (doc_id)
      ORDER BY doc_id"""
    }),

    // -- deterministic training order: shard + in-shard position, both
    // pure functions of doc_id (Sampling.shardShuffle) --
    QueryDef("train_order", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Sampling.shardShuffle(docs.select(col("doc_id"), col("source")),
          idCol = "doc_id", nShards = 8)
        .select(col("doc_id"), col("source"), col("shard"),
          col("pos").cast("long").as("pos"))
        .orderBy("doc_id")
    }, Some(s"""
      SELECT doc_id, source,
        ((doc_id % 1048573) * 2246822519) % 8 AS shard,
        row_number() OVER (
          PARTITION BY ((doc_id % 1048573) * 2246822519) % 8
          ORDER BY $hashSql, doc_id) AS pos
      FROM documents ORDER BY doc_id""")),

    // -- global quantile quality gate: drop the bottom quartile by the
    // composite quality score, via the quantized-histogram order
    // statistic (Curation.quantileGate) — integer threshold semantics,
    // so no float-percentile boundary flips between engines --
    QueryDef("quality_gate", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val scored = Tables.sharedScan(docs.select(col("doc_id"),
        TA.qualityScore(col("text")).as("quality")))
      graft.ops.Curation.quantileGate(scored, "quality", dropFrac = 0.25)
        .select(col("doc_id"), col("quality"))
        .orderBy("doc_id")
    }, Some(s"""
      WITH s AS (
        SELECT doc_id,
          least(CAST(1.0 AS DOUBLE), CAST(len($sqlTokens) AS DOUBLE) / 100.0) * 0.4
            + least(CAST(1.0 AS DOUBLE), (CAST($enHits AS DOUBLE) / len($sqlTokens)) * 5.0) * 0.3
            + CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) / length(text) * 0.3 AS quality
        FROM documents),
      qz AS (SELECT doc_id, quality,
               CAST(floor(quality * 1000000.0) AS BIGINT) AS q FROM s),
      hist AS (SELECT q, count(*) AS c FROM qz GROUP BY q),
      cum AS (SELECT q,
        sum(c) OVER (ORDER BY q ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumc,
        sum(c) OVER () AS n FROM hist),
      thr AS (SELECT min(q) AS t FROM cum WHERE cumc >= floor(0.25 * n) + 1)
      SELECT doc_id, quality FROM qz, thr WHERE q >= t ORDER BY doc_id""")),

    // -- sliding-window chunking (RAG / context-window splitter):
    // 64-token windows advancing by 48 (16-token overlap), last window
    // short, all codegen expressions (Packing.chunkTokens) --
    QueryDef("chunk_documents", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Packing.chunkTokens(docs.select(col("doc_id"), col("text")),
          idCol = "doc_id", textCol = "text", size = 64, overlap = 16)
        .orderBy("doc_id", "chunk_id")
    }, Some("""
      WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      c AS (SELECT doc_id, toks,
          unnest(range(0, ((greatest(len(toks) - 64, 0) + 47) // 48) + 1)) AS chunk_id
        FROM d)
      SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        CAST(len(list_slice(toks, chunk_id*48 + 1, chunk_id*48 + 64)) AS BIGINT) AS n_tokens,
        array_to_string(list_slice(toks, chunk_id*48 + 1, chunk_id*48 + 64), ' ') AS chunk_text
      FROM c ORDER BY doc_id, chunk_id""")),

    // -- RAG ingestion end-to-end: chunk -> batched stub-encode
    // (Embedding.encodeChunks; deterministic portable-arithmetic stub,
    // real mapPartitions batching) -> cosine vs a fixed probe vector
    // (VecCosine kernel) -> distributed top-20 (TakeOrdered, ranked
    // after the limit so no corpus-wide window) --
    QueryDef("rag_ingest", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val chunks = Packing.chunkTokens(docs.select(col("doc_id"), col("text")),
          idCol = "doc_id", textCol = "text", size = 64, overlap = 16)
        .filter(col("n_tokens") > 0)
      val emb = graft.ops.Embedding.encodeChunks(chunks, dim = 16)
      val probe = array((0 until 16).map(j =>
        lit((((j + 1) * 40503L) % 1048573L).toDouble / 1048573.0 * 2.0 - 1.0)): _*)
      val top = emb
        .withColumn("cosine", Similarity.cosine(col("embedding"), probe))
        .select("doc_id", "chunk_id", "cosine")
        .orderBy(col("cosine").desc, col("doc_id"), col("chunk_id"))
        .limit(20)
      top.withColumn("rank", row_number().over(
          Window.orderBy(col("cosine").desc, col("doc_id"), col("chunk_id")))
          .cast("long"))
        .orderBy("rank")
    }, Some("""
      WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      c AS (SELECT doc_id, toks,
          unnest(range(0, ((greatest(len(toks) - 64, 0) + 47) // 48) + 1)) AS chunk_id
        FROM d),
      ch AS (SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
          array_to_string(list_slice(toks, chunk_id*48 + 1, chunk_id*48 + 64), ' ') AS t
        FROM c WHERE len(list_slice(toks, chunk_id*48 + 1, chunk_id*48 + 64)) > 0),
      sd AS (SELECT doc_id, chunk_id,
          list_reduce(list_transform(range(1, len(t)+1),
            i -> CAST(ascii(substr(t, CAST(i AS INT), 1)) AS BIGINT) * i),
            (a, b) -> a + b) % 65521 AS seed
        FROM ch),
      v AS (SELECT doc_id, chunk_id,
          list_transform(range(1, 17),
            j -> CAST((seed * j * 2654435761) % 1048573 AS DOUBLE) / 1048573.0 * 2.0 - 1.0) AS e
        FROM sd),
      p AS (SELECT list_transform(range(1, 17),
          j -> CAST((j * 40503) % 1048573 AS DOUBLE) / 1048573.0 * 2.0 - 1.0) AS pv),
      sc AS (SELECT doc_id, chunk_id,
          list_reduce(list_transform(range(1, 17), i -> e[i]*pv[i]), (a,b) -> a+b) /
            (sqrt(list_reduce(list_transform(range(1, 17), i -> e[i]*e[i]), (a,b) -> a+b)) *
             sqrt(list_reduce(list_transform(range(1, 17), i -> pv[i]*pv[i]), (a,b) -> a+b))) AS cosine
        FROM v, p)
      SELECT doc_id, chunk_id, cosine, rank FROM (
        SELECT *, row_number() OVER (ORDER BY cosine DESC, doc_id, chunk_id) AS rank
        FROM sc)
      WHERE rank <= 20 ORDER BY rank""")),

    // -- rarity score: mean corpus term frequency of each doc's tokens —
    // the log-free perplexity proxy (Curation.docRarity); exact integer
    // sums, one final divide --
    QueryDef("doc_rarity", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      graft.ops.Curation.docRarity(docs)
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          col("tf_sum").cast("long").as("tf_sum"), col("mean_tf"))
        .orderBy("doc_id")
    }, Some("""
      WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      tf AS (
        SELECT token, count(*) AS tf FROM tok
        WHERE length(token) > 0 GROUP BY token)
      SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        CAST(sum(tf.tf) AS BIGINT) AS tf_sum,
        CAST(sum(tf.tf) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_tf
      FROM tok t JOIN tf ON t.token = tf.token
      WHERE length(t.token) > 0
      GROUP BY t.doc_id ORDER BY doc_id""")),

    // -- the round-5 curation composition as ONE declarative plan:
    // absolute quality gate → block dedup → temperature language mix →
    // token-budget selection → per-language summary. Every stage is an
    // oracle-checked operator above; this pins their composition
    // (rescoring on the DEDUPED text, mix-then-budget order) --
    QueryDef("curation_pipeline_v2", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val run = graft.ops.Curation.pipelineV2(docs)
      Tables.materializeAndRelease(run.summary.orderBy("lang"), run.release)
    }, Some(s"""
      $v2CtesSql
      SELECT lang, count(*) AS n_docs,
        CAST(sum(n_tokens) AS BIGINT) AS total_tokens
      FROM sel GROUP BY lang ORDER BY lang""")),

    // -- per-stage survivor counts of the v2 composition (the round-5
    // hash-mismatch bisection instrument): one (stage, lang, n_docs)
    // row per pipeline stage, so a future engine divergence pins to
    // the exact gate that flipped a document --
    QueryDef("v2_stage_counts", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val st = graft.ops.Curation.pipelineV2Stages(docs)
      def cnt(df: org.apache.spark.sql.DataFrame, stage: String) =
        df.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
          .withColumn("stage", lit(stage))
      Tables.materializeAndRelease(
        cnt(st.gated, "1_gate")
          .unionByName(cnt(st.deduped, "2_dedup"))
          .unionByName(cnt(st.mixed, "3_mix"))
          .unionByName(cnt(st.budgeted, "4_budget"))
          .select(col("stage"), col("lang"), col("n_docs"))
          .orderBy("stage", "lang"),
        st.release)
    }, Some(s"""
      $v2CtesSql
      SELECT stage, lang, n_docs FROM (
        SELECT '1_gate' AS stage, lang, CAST(count(*) AS BIGINT) AS n_docs
        FROM g GROUP BY lang
        UNION ALL
        SELECT '2_dedup', lang, CAST(count(*) AS BIGINT) FROM dd GROUP BY lang
        UNION ALL
        SELECT '3_mix', lang, CAST(count(*) AS BIGINT) FROM mixed GROUP BY lang
        UNION ALL
        SELECT '4_budget', lang, CAST(count(*) AS BIGINT) FROM sel GROUP BY lang)
      ORDER BY stage, lang""")),

    // -- span-level (block) dedup, C4-style: a 32-token block occurring
    // verbatim more than once corpus-wide survives only at its first
    // (doc_id, position); docs reassemble from surviving blocks
    // (Dedup.blockDedup — hash-keyed election, no pair quadratics) --
    QueryDef("dedup_blocks", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      graft.ops.Dedup.blockDedup(docs.select(col("doc_id"), col("text")),
          idCol = "doc_id", textCol = "text", blockSize = 32)
        .orderBy("doc_id")
    }, Some("""
      WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      idx AS (SELECT doc_id, t,
          unnest(generate_series(0, (len(t)-1)//32)) AS block_id FROM toks),
      blocks AS (SELECT doc_id, block_id,
          array_to_string(t[block_id*32+1 : block_id*32+32], ' ') AS block FROM idx),
      firsts AS (SELECT block, min(doc_id*1000000 + block_id) AS fk, count(*) AS df
                 FROM blocks GROUP BY block),
      keep AS (SELECT b.doc_id, b.block_id, b.block
               FROM blocks b JOIN firsts f USING(block)
               WHERE f.df = 1 OR b.doc_id*1000000 + b.block_id = f.fk),
      tot AS (SELECT doc_id, count(*) AS total FROM blocks GROUP BY doc_id)
      SELECT k.doc_id, string_agg(k.block, ' ' ORDER BY k.block_id) AS text_dedup,
        count(*) AS n_kept, any_value(t.total) - count(*) AS n_dropped
      FROM keep k JOIN tot t ON k.doc_id = t.doc_id
      GROUP BY k.doc_id ORDER BY k.doc_id""")),

    // -- temperature-flattened language mix (alpha = 0.5): share ∝
    // sqrt(count), realized by deterministic hash downsampling — the
    // multilingual rebalance (Sampling.temperatureSample). Thresholds
    // are INTEGER-exact on both sides with NO sqrt anywhere:
    // hash < isqrt((10^12*nmin) div n) is exactly the cross-multiplied
    // (hash+1)^2 * n <= 10^12 * nmin, run in decimal(38,0)/HUGEINT --
    QueryDef("mix_temperature", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Sampling.temperatureSample(
          docs.select(col("doc_id"), col("lang"), col("source")),
          strataCol = "lang", idCol = "doc_id", alpha = 0.5)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy("doc_id")
    }, Some(s"""
      WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
      cm AS (SELECT min(n) AS nmin FROM c)
      SELECT d.doc_id, d.lang, d.source FROM documents d JOIN c USING(lang), cm
      WHERE CAST($hashSql + 1 AS HUGEINT) * CAST($hashSql + 1 AS HUGEINT)
          * CAST(c.n AS HUGEINT)
        <= CAST(1000000000000 AS HUGEINT) * CAST(cm.nmin AS HUGEINT)
      ORDER BY doc_id""")),

    // -- epoch-repeat materialization toward a UNIFORM language mix:
    // the upsampling dual of mix_temperature — the most over-represented
    // language keeps factor 1.0, the rest repeat scale*share/count
    // times, fractional copies decided by the portable hash
    // (Sampling.repeatFactors + epochMix; corpus is one scan into a
    // generator, factors compile to a CASE chain) --
    QueryDef("mix_epochs", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val counts = docs.groupBy(col("lang")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val f = Sampling.repeatFactors(counts, counts.keys.map(_ -> 1.0).toMap)
      Sampling.epochMix(docs.select(col("doc_id"), col("lang")),
          strataCol = "lang", idCol = "doc_id", factors = f)
        .select(col("doc_id"), col("lang"), col("epoch"))
        .orderBy("doc_id", "epoch")
    }, Some(s"""
      WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
      sc AS (SELECT max(CAST(n AS DOUBLE) / (1.0/5.0)) AS scale FROM c),
      f AS (SELECT lang, sc.scale * (1.0/5.0) / CAST(n AS DOUBLE) AS fac FROM c, sc),
      e AS (SELECT d.doc_id, d.lang,
          CAST(floor(f.fac) AS BIGINT) + CASE WHEN $hashSql <
            CAST(floor((f.fac - floor(f.fac)) * 1000000) AS BIGINT)
            THEN 1 ELSE 0 END AS n_copies
        FROM documents d JOIN f USING(lang))
      SELECT doc_id, lang,
        unnest(generate_series(0, n_copies - 1)) AS epoch
      FROM e WHERE n_copies > 0
      ORDER BY doc_id, epoch""")),

    // -- per-source percentile normalization of a quality score: the
    // empirical within-group CDF via the quantized-histogram trick
    // (Curation.groupPercentile) — no corpus-wide window, exact
    // long-ratio pct --
    QueryDef("score_percentile", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val scored = docs.select(col("doc_id"), col("source"),
        (col("n_chars").cast("double") / lit(4.0)).as("score"))
      graft.ops.Curation.groupPercentile(scored, "source", "score")
        .select(col("doc_id"), col("source"), col("score"), col("pct"))
        .orderBy("doc_id")
    }, Some("""
      WITH s AS (SELECT doc_id, source, CAST(n_chars AS DOUBLE) / 4.0 AS score
                 FROM documents),
      qz AS (SELECT doc_id, source, score,
             CAST(floor(score * 1000000.0) AS BIGINT) AS q FROM s),
      hist AS (SELECT source, q, count(*) AS c FROM qz GROUP BY source, q),
      cdf AS (SELECT source, q,
          coalesce(sum(c) OVER (PARTITION BY source ORDER BY q
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below,
          sum(c) OVER (PARTITION BY source) AS n FROM hist)
      SELECT z.doc_id, z.source, z.score, CAST(cdf.below AS DOUBLE) / cdf.n AS pct
      FROM qz z JOIN cdf ON z.source = cdf.source AND z.q = cdf.q
      ORDER BY doc_id""")),

    // -- per-language heavy hitters through the Misra-Gries sketch
    // aggregate (functions/FrequentItemsAgg): 4096 counters per group —
    // far above this corpus's vocabulary, so counts are exact and
    // engine-reproducible (the sketch's bounded-undercount mode is
    // spec-tested; the oracle pins the exact mode) --
    QueryDef("text_heavy_hitters", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val tok = docs.select(col("lang"),
          explode(split(col("text"), " ")).as("token"))
        .filter(length(col("token")) > 0)
      val sk = tok.groupBy(col("lang"))
        .agg(graft.functions.FrequentItems.frequentItems(col("token"), 4096).as("fi"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("cnt").desc, col("token").asc)
      sk.select(col("lang"), explode(col("fi")).as(Seq("token", "cnt")))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 5)
        .select(col("lang"), col("token"), col("cnt"), col("rn"))
        .orderBy("lang", "rn")
    }, Some("""
      WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS token
                   FROM documents),
      c AS (SELECT lang, token, count(*) AS cnt FROM tok
            WHERE length(token) > 0 GROUP BY lang, token),
      r AS (SELECT lang, token, cnt,
            row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, token) AS rn
            FROM c)
      SELECT lang, token, cnt, rn FROM r WHERE rn <= 5 ORDER BY lang, rn""")),

    // -- token-budget data selection: keep the best-scoring documents
    // whose cumulative tokens fit a 15k budget, bucket-atomic over the
    // quantized score (Curation.tokenBudgetGate — token-WEIGHTED
    // histogram + descending cumsum, no global sort) --
    QueryDef("token_budget", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val scored = Tables.sharedScan(docs.select(col("doc_id"),
        TA.qualityScore(col("text")).as("score"),
        TA.tokenCount(col("text")).cast("long").as("n_tokens")))
      graft.ops.Curation.tokenBudgetGate(scored, "score", "n_tokens",
          budget = 15000L)
        .orderBy("doc_id")
    }, Some(s"""
      WITH s AS (
        SELECT doc_id,
          least(CAST(1.0 AS DOUBLE), CAST(len($sqlTokens) AS DOUBLE) / 100.0) * 0.4
            + least(CAST(1.0 AS DOUBLE), (CAST($enHits AS DOUBLE) / len($sqlTokens)) * 5.0) * 0.3
            + CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) / length(text) * 0.3 AS score,
          CAST(len($sqlTokens) AS BIGINT) AS n_tokens
        FROM documents),
      qz AS (SELECT doc_id, score, n_tokens,
             CAST(floor(score * 1000000.0) AS BIGINT) AS q FROM s),
      hist AS (SELECT q, sum(n_tokens) AS t FROM qz GROUP BY q),
      cum AS (SELECT q, sum(t) OVER (ORDER BY q DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM hist),
      thr AS (SELECT min(q) AS t FROM cum WHERE cum <= 15000)
      SELECT z.doc_id, z.score, z.n_tokens FROM qz z, thr
      WHERE z.q >= thr.t ORDER BY z.doc_id""")),

    // -- per-DOMAIN token cap (the RefinedWeb domain-limit stage): each
    // source keeps its best-scored docs up to 800 tokens, bucket-atomic
    // over the quantized score; the cumsum window partitions by group,
    // never a corpus-wide funnel (Curation.groupTokenCap) --
    QueryDef("group_token_cap", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      // quantized integer score end to end (qualityScoreQ): no double
      // ever reaches the bucket comparison, the pipelineV2 discipline
      val scored = Tables.sharedScan(docs.select(col("doc_id"), col("source"),
        TA.qualityScoreQ(col("text")).as("q"),
        TA.tokenCount(col("text")).cast("long").as("n_tokens")))
      graft.ops.Curation.groupTokenCap(scored, "source", "q",
          "n_tokens", capPerGroup = 800L, quantized = true)
        .orderBy("doc_id")
    }, Some(s"""
      WITH qz AS (
        SELECT doc_id, source, ${qualityQSql("text")} AS q,
          CAST(len($sqlTokens) AS BIGINT) AS n_tokens
        FROM documents),
      hist AS (SELECT source, q, sum(n_tokens) AS t FROM qz GROUP BY source, q),
      cum AS (SELECT source, q, sum(t) OVER (PARTITION BY source ORDER BY q DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM hist),
      thr AS (SELECT source, min(q) AS t FROM cum WHERE cum <= 800 GROUP BY source)
      SELECT z.doc_id, z.source, z.q, z.n_tokens
      FROM qz z JOIN thr ON z.source = thr.source
      WHERE z.q >= thr.t ORDER BY z.doc_id""")),

    // -- per-group quantile values (median/p90/p99 of the score per
    // source) via the same quantized-histogram order statistic — the
    // inverse of score_percentile (Curation.groupQuantiles) --
    QueryDef("group_quantiles", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val scored = docs.select(col("source"),
        (col("n_chars").cast("double") / lit(4.0)).as("score"))
      graft.ops.Curation.groupQuantiles(scored, "source", "score",
          quantiles = Seq(0.5, 0.9, 0.99))
        .orderBy("source", "quantile")
    }, Some("""
      WITH s AS (SELECT source, CAST(n_chars AS DOUBLE) / 4.0 AS score
                 FROM documents),
      qz AS (SELECT source, CAST(floor(score * 1000000.0) AS BIGINT) AS q FROM s),
      hist AS (SELECT source, q, count(*) AS c FROM qz GROUP BY source, q),
      cdf AS (SELECT source, q,
          sum(c) OVER (PARTITION BY source ORDER BY q
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
          sum(c) OVER (PARTITION BY source) AS n FROM hist),
      qs AS (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE), CAST(0.99 AS DOUBLE)]) AS quantile),
      sel AS (SELECT source, quantile, min(q) AS qb FROM cdf, qs
              WHERE cum >= CAST(ceil(quantile * n) AS BIGINT)
              GROUP BY source, quantile)
      SELECT source, quantile, CAST(qb AS DOUBLE) / 1000000.0 AS value
      FROM sel ORDER BY source, quantile""")),

    // -- shuffle-key skew diagnosis: top user_ids by event count with
    // share-of-total and ratio-to-uniform (Profile.keySkew — distributed
    // TakeOrdered top-N, never a corpus-wide window) --
    QueryDef("profile_skew", (s, dir) => {
      val ev = Tables.loadEvents(s, dir)
      graft.ops.Profile.keySkew(ev, "user_id", topN = 10)
        .orderBy("rank")
    }, Some("""
      WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id),
      t AS (SELECT sum(cnt) AS total, count(*) AS n_keys FROM c),
      r AS (SELECT user_id, cnt,
            row_number() OVER (ORDER BY cnt DESC, user_id) AS rank FROM c)
      SELECT r.user_id, r.cnt, r.rank,
        CAST(r.cnt AS DOUBLE) / t.total AS frac,
        CAST(r.cnt AS DOUBLE) * t.n_keys / t.total AS skew
      FROM r, t WHERE r.rank <= 10 ORDER BY rank""")),

    // -- bloom-prefiltered decontamination: same exact result as the
    // shuffle-everything form (false positives re-verified, no false
    // negatives), but the train corpus never exchanges on shingles —
    // only bloom-HIT doc ids shuffle (Decontaminate.decontaminateBloom) --
    QueryDef("decontaminate_bloom", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Decontaminate.decontaminateBloom(
          train = docs.filter(col("doc_id") % 10 =!= 0),
          bench = docs.filter(col("doc_id") % 10 === 0),
          idCol = "doc_id", textCol = "text", k = 3, tau = 0.5)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    }, Some("""
      WITH docs AS (
        SELECT doc_id, source, list_distinct(list_transform(
          range(1, len(string_split(text,' ')) - 1),
          i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])) AS sh
        FROM documents),
      b AS (SELECT * FROM docs WHERE doc_id % 10 = 0 AND len(sh) > 0),
      t AS (SELECT * FROM docs WHERE doc_id % 10 <> 0)
      SELECT t.doc_id, t.source FROM t
      WHERE NOT EXISTS (SELECT 1 FROM b
        WHERE CAST(len(list_intersect(t.sh, b.sh)) AS DOUBLE) / len(b.sh) >= 0.5)
      ORDER BY doc_id""")),

    // -- contamination audit per source: which corpus slices leak eval
    // content, at what rate — the report a curation run publishes
    // alongside the cleaned corpus (containmentPairs -> distinct
    // contaminated ids -> per-source rates; one extra rollup) --
    QueryDef("decontaminate_report", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val train = docs.filter(col("doc_id") % 10 =!= 0)
      val bench = docs.filter(col("doc_id") % 10 === 0)
      val bad = Decontaminate.containmentPairs(train, bench,
          idCol = "doc_id", textCol = "text", k = 3, tau = 0.5)
        .select(col("train_id").as("doc_id")).distinct()
      train.join(bad.withColumn("contaminated", lit(1L)), Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("contaminated"), lit(0L))).as("n_contaminated"),
          (sum(coalesce(col("contaminated"), lit(0L))).cast("double") /
            count(lit(1))).as("rate"))
        .orderBy("source")
    }, Some("""
      WITH docs AS (
        SELECT doc_id, source, list_distinct(list_transform(
          range(1, len(string_split(text,' ')) - 1),
          i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])) AS sh
        FROM documents),
      b AS (SELECT * FROM docs WHERE doc_id % 10 = 0 AND len(sh) > 0),
      t AS (SELECT * FROM docs WHERE doc_id % 10 <> 0),
      bad AS (SELECT DISTINCT t.doc_id FROM t JOIN b
              ON CAST(len(list_intersect(t.sh, b.sh)) AS DOUBLE) / len(b.sh) >= 0.5)
      SELECT d.source, count(*) AS n_docs,
        CAST(sum(CASE WHEN bad.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
        CAST(sum(CASE WHEN bad.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS rate
      FROM documents d LEFT JOIN bad ON d.doc_id = bad.doc_id
      WHERE d.doc_id % 10 <> 0
      GROUP BY d.source ORDER BY d.source""")),

    // -- boilerplate-block STRIP (RefinedWeb line-frequency semantics):
    // every occurrence of any 32-token block appearing in >= 2 distinct
    // documents is removed — the dual of dedup_blocks' keep-first
    // (Dedup.blockBoilerplateStrip; same three linear keyed shuffles) --
    QueryDef("boilerplate_strip", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      graft.ops.Dedup.blockBoilerplateStrip(
          docs.select(col("doc_id"), col("text")),
          idCol = "doc_id", textCol = "text", blockSize = 32, minDf = 2)
        .orderBy("doc_id")
    }, Some("""
      WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      idx AS (SELECT doc_id, t,
          unnest(generate_series(0, (len(t)-1)//32)) AS block_id FROM toks),
      blocks AS (SELECT doc_id, block_id,
          array_to_string(t[block_id*32+1 : block_id*32+32], ' ') AS block FROM idx),
      dfs AS (SELECT block, count(distinct doc_id) AS df FROM blocks GROUP BY block),
      keep AS (SELECT b.doc_id, b.block_id, b.block
               FROM blocks b JOIN dfs f USING(block) WHERE f.df < 2),
      tot AS (SELECT doc_id, count(*) AS total FROM blocks GROUP BY doc_id)
      SELECT k.doc_id, string_agg(k.block, ' ' ORDER BY k.block_id) AS text_dedup,
        count(*) AS n_kept, any_value(t.total) - count(*) AS n_dropped
      FROM keep k JOIN tot t ON k.doc_id = t.doc_id
      GROUP BY k.doc_id ORDER BY k.doc_id""")),

    // -- linear quality-classifier gate: a TRAINED model's weights over
    // the heuristic feature set, decided on the logit (> 0 keeps) so no
    // transcendental enters the comparison — shuffle-free codegen
    // projection + filter (Curation.classifierGate) --
    QueryDef("quality_classifier", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      graft.ops.Curation.classifierGate(docs, idCol = "doc_id",
          textCol = "text",
          model = graft.ops.Curation.QualityModel(
            bias = -1.1, wTokens = 0.8, wStop = 2.0, wAlpha = 0.9))
        .orderBy("doc_id")
    }, Some(s"""
      SELECT doc_id, logit FROM (
        SELECT doc_id,
          CAST(-1.1 AS DOUBLE)
            + 0.8 * least(CAST(1.0 AS DOUBLE), CAST(len($sqlTokens) AS DOUBLE) / 100.0)
            + 2.0 * (CAST($enHits AS DOUBLE) / len($sqlTokens))
            + 0.9 * (CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) / length(text)) AS logit
        FROM documents)
      WHERE logit > 0 ORDER BY doc_id""")),

    // -- tier-6 substring dedup: doc pairs sharing long verbatim spans
    // via "0 mod p"-sampled char-40-gram md5 fingerprints (engine-
    // portable selection — DuckDB reproduces it bit-for-bit) --
    QueryDef("dedup_spans", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      graft.ops.Dedup.duplicateSpanPairs(docs, "doc_id", "text",
          k = 40, sel = "0", minShared = 2)
        .orderBy("id_a", "id_b")
    }, Some("""
      WITH g AS (SELECT DISTINCT doc_id, md5(substr(text, CAST(i AS INT), 40)) AS h
                 FROM documents, UNNEST(range(1, len(text)-40+2)) AS t(i)),
           s AS (SELECT doc_id, h FROM g WHERE h LIKE '0%')
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
      FROM s a JOIN s b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY 1, 2""")),

    // -- edit-distance similarity join (PassJoin pigeonhole blocking +
    // bounded-levenshtein verify; Fuzzy.editDistancePairs). The oracle
    // is the brute-force ground truth — DuckDB's levenshtein costs
    // ~20 ms/pair at these lengths, so the query runs on the doc_id%3
    // slice to keep the oracle's pair count bounded; the operator
    // itself never goes all-pairs at any size --
    QueryDef("edit_dist_join", (s, dir) => {
      val docs = Tables.loadSpread(s, dir, "documents")
        .filter(col("doc_id") % 3 === 0)
      graft.ops.Fuzzy.editDistancePairs(docs, "doc_id", "text", maxDist = 4)
        .orderBy("id_a", "id_b")
    }, Some("""
      WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
           j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
                 FROM d a JOIN d b
                   ON a.doc_id < b.doc_id
                   AND abs(len(a.text) - len(b.text)) <= 4)
      SELECT id_a, id_b, dist FROM j WHERE dist <= 4 ORDER BY 1, 2""")),

    // -- tier-6 incremental: a new batch (odd doc_ids) span-checked
    // against the standing corpus index (even doc_ids) — only the
    // batch is fingerprinted/shuffled (Dedup.spanPairsIncremental;
    // the bucketed-table path is spec-pinned) --
    QueryDef("span_incremental", (s, dir) => graft.ops.Caches.owning { c =>
      val docs = Tables.load(s, dir, "documents")
      // production holds the index as a materialized bucketed table;
      // the inline frame feeds 4 consumers (df counts, kept, over
      // slice, supplement) — the cache stands in for the table. The
      // batch fingerprints feed 2 (kept, over slice). The two caches
      // fill as concurrent chains, so neither scan leaves cores idle.
      val Seq(idx, batch) = Chains.all(s)(Seq(
        () => c.keep(graft.ops.Dedup.spanFingerprints(
            docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", k = 40, sel = "0")
          .select(col("id"), xxhash64(col("h")).as("s"))),
        () => c.keep(graft.ops.Dedup.spanBatchFingerprints(
          docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", k = 40, sel = "0"))))
      Tables.materializeAndRelease(
        graft.ops.Dedup.spanPairsIncremental(batch, idx, minShared = 2)
          .orderBy("id_new", "id_corpus"),
        c.release)
    }, Some("""
      WITH g AS (SELECT DISTINCT doc_id, md5(substr(text, CAST(i AS INT), 40)) AS h
                 FROM documents, UNNEST(range(1, len(text)-40+2)) AS t(i)),
           s AS (SELECT doc_id, h FROM g WHERE h LIKE '0%')
      SELECT b.doc_id AS id_new, c.doc_id AS id_corpus, count(*) AS n_shared
      FROM s b JOIN s c ON b.h = c.h
      WHERE b.doc_id % 2 = 1 AND c.doc_id % 2 = 0
      GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY 1, 2""")),

    // -- tier-6 end-to-end keep-list: span pairs -> duplicate-cluster
    // closure -> drop every member but the min-id representative; docs
    // with no shared span survive untouched (composition of
    // duplicateSpanPairs + connectedComponents + dropDuplicateMembers;
    // oracle closes the same pairs with WITH RECURSIVE) --
    QueryDef("span_dedup_keep", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val pairs = graft.ops.Dedup.duplicateSpanPairs(docs, "doc_id", "text",
        k = 40, sel = "0", minShared = 2)
      val clusters = graft.ops.Dedup.connectedComponents(pairs)
      graft.ops.Dedup.dropDuplicateMembers(docs, "doc_id", clusters)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    }, Some("""
      WITH RECURSIVE g AS (
        SELECT DISTINCT doc_id, md5(substr(text, CAST(i AS INT), 40)) AS h
        FROM documents, UNNEST(range(1, len(text)-40+2)) AS t(i)),
      s AS (SELECT doc_id, h FROM g WHERE h LIKE '0%'),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM s a JOIN s b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING count(*) >= 2),
      edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
      reach AS (
        SELECT src AS id, src AS r FROM edges
        UNION
        SELECT e.src AS id, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
      drop_ids AS (
        SELECT id AS doc_id FROM reach GROUP BY id HAVING id <> min(r))
      SELECT d.doc_id, d.source FROM documents d
      LEFT JOIN drop_ids x ON d.doc_id = x.doc_id
      WHERE x.doc_id IS NULL ORDER BY d.doc_id""")),

    // -- two-table record linkage: noisy slice (doc_id%3=1) matched to a
    // canonical slice (doc_id%3=2) within edit distance 4
    // (Fuzzy.editDistanceJoin — both pigeonhole directions, no
    // intra-table candidates; oracle subsetting as in edit_dist_join) --
    QueryDef("fuzzy_link", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      graft.ops.Fuzzy.editDistanceJoin(
          docs.filter(col("doc_id") % 3 === 1),
          docs.filter(col("doc_id") % 3 === 2),
          "doc_id", "text", "doc_id", "text", maxDist = 4)
        .select(col("left_id"), col("right_id"), col("dist"))
        .orderBy("left_id", "right_id")
    }, Some("""
      WITH l AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1),
           r AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 2),
           j AS (SELECT l.doc_id AS left_id, r.doc_id AS right_id,
                   CAST(levenshtein(l.text, r.text) AS BIGINT) AS dist
                 FROM l JOIN r ON abs(len(l.text) - len(r.text)) <= 4)
      SELECT left_id, right_id, dist FROM j WHERE dist <= 4
      ORDER BY 1, 2""")),

    // -- per-doc span-duplication profile: fraction of each doc's
    // sampled fingerprints that occur in another doc — the verbatim-
    // duplication ratio a curation gate thresholds on --
    QueryDef("span_profile", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      graft.ops.Dedup.spanDupProfile(docs, "doc_id", "text", k = 40, sel = "0")
        .select(col("id").as("doc_id"), col("n_sampled"), col("n_dup"),
          col("dup_ratio"))
        .orderBy("doc_id")
    }, Some("""
      WITH g AS (SELECT DISTINCT doc_id, md5(substr(text, CAST(i AS INT), 40)) AS h
                 FROM documents, UNNEST(range(1, len(text)-40+2)) AS t(i)),
           s AS (SELECT doc_id, h FROM g WHERE h LIKE '0%'),
           d AS (SELECT h, count(*) AS df FROM s GROUP BY h),
           p AS (SELECT s.doc_id, count(*) AS n_sampled,
                   count(*) FILTER (WHERE d.df >= 2) AS n_dup
                 FROM s JOIN d USING (h) GROUP BY s.doc_id)
      SELECT doc_id, coalesce(n_sampled, 0) AS n_sampled,
        coalesce(n_dup, 0) AS n_dup,
        CAST(coalesce(n_dup, 0) AS DOUBLE) / nullif(n_sampled, 0) AS dup_ratio
      FROM documents LEFT JOIN p USING (doc_id) ORDER BY doc_id""")),

    // -- corpus snapshot diff: recrawl audit between two corpus
    // versions — added / removed / changed / unchanged by content
    // fingerprint; each side collapses to (id, md5) BEFORE the
    // full-outer join so the exchange never carries document bodies
    // (Curation.corpusDiff) --
    QueryDef("corpus_diff", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val v1 = docs.filter(col("doc_id") % 10 =!= 3)
      val v2 = docs.filter(col("doc_id") % 10 =!= 7)
        .withColumn("text", when(col("doc_id") % 5 === 0,
          upper(col("text"))).otherwise(col("text")))
      graft.ops.Curation.corpusDiff(v1, v2, idCol = "doc_id",
          textCol = "text")
        .orderBy("doc_id")
    }, Some("""
      WITH o AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 10 <> 3),
      n AS (SELECT doc_id,
          md5(CASE WHEN doc_id % 5 = 0 THEN upper(text) ELSE text END) AS h
          FROM documents WHERE doc_id % 10 <> 7)
      SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        CASE WHEN o.h IS NULL THEN 'added'
             WHEN n.h IS NULL THEN 'removed'
             WHEN o.h = n.h THEN 'unchanged'
             ELSE 'changed' END AS status
      FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
      ORDER BY doc_id""")),

    // -- CCNet-style bigram-LM quality scoring: model trained on the
    // English slice, every doc scored by pooled transition likelihood +
    // OOV rate. Exact long sums, one final IEEE divide (the log-free
    // parity discipline of doc_rarity) --
    QueryDef("ngram_lm_score", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      graft.ops.Curation.ngramLmScore(docs.filter(col("lang") === "en"), docs)
        .orderBy("doc_id")
    }, Some("""
      WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
      bg AS (
        SELECT doc_id, lang,
          unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1,
          unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bigram
        FROM toks),
      c2 AS (SELECT bigram, count(*) AS c2 FROM bg WHERE lang = 'en' GROUP BY 1),
      c1 AS (SELECT w1, count(*) AS c1 FROM bg WHERE lang = 'en' GROUP BY 1),
      scored AS (
        SELECT b.doc_id, count(*) AS nb, count(c2.c2) AS nh,
          sum(coalesce(c2.c2, 0)) AS hs, sum(coalesce(c1.c1, 0)) AS cs
        FROM bg b LEFT JOIN c2 USING (bigram) LEFT JOIN c1 USING (w1)
        GROUP BY 1)
      SELECT d.doc_id,
        CAST(coalesce(nb, 0) AS BIGINT) AS n_bigrams,
        CAST(coalesce(nh, 0) AS BIGINT) AS n_hits,
        CAST(coalesce(hs, 0) AS BIGINT) AS hit_sum,
        CAST(coalesce(cs, 0) AS BIGINT) AS ctx_sum,
        CASE WHEN cs > 0 THEN CAST(hs AS DOUBLE) / CAST(cs AS DOUBLE) END AS lm_score,
        CASE WHEN nb > 0 THEN CAST(nb - nh AS DOUBLE) / CAST(nb AS DOUBLE) END AS oov_rate
      FROM documents d LEFT JOIN scored ON d.doc_id = scored.doc_id
      ORDER BY d.doc_id""")),

    // -- CCNet-style head/middle/tail buckets: per-language LM-score
    // terciles over the en-trained bigram model (Curation.ccnetBuckets
    // — fully integer-exact thresholds: quantized longs + integer
    // ceil(k·n/3), so the assignment is engine-stable by construction) --
    QueryDef("ccnet_buckets", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      // no re-attach — ccnetBuckets drops NULL-score rows either way
      val lm = graft.ops.Curation.ngramLmScore(
        docs.filter(col("lang") === "en"), docs, attachMissing = false)
      val scored = Tables.sharedScan(
        lm.join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
          .select(col("doc_id"), col("lang"), col("lm_score")))
      graft.ops.Curation.ccnetBuckets(scored, "lang", "lm_score")
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "bucket")
    }, Some("""
      WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
      bg AS (
        SELECT doc_id, lang,
          unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1,
          unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bigram
        FROM toks),
      c2 AS (SELECT bigram, count(*) AS c2 FROM bg WHERE lang = 'en' GROUP BY 1),
      c1 AS (SELECT w1, count(*) AS c1 FROM bg WHERE lang = 'en' GROUP BY 1),
      scored AS (
        SELECT b.doc_id, count(*) AS nb,
          sum(coalesce(c2.c2, 0)) AS hs, sum(coalesce(c1.c1, 0)) AS cs
        FROM bg b LEFT JOIN c2 USING (bigram) LEFT JOIN c1 USING (w1)
        GROUP BY 1),
      lm AS (SELECT d.doc_id, d.lang,
          CASE WHEN cs > 0 THEN CAST(hs AS DOUBLE) / CAST(cs AS DOUBLE) END AS lm_score
        FROM documents d LEFT JOIN scored ON d.doc_id = scored.doc_id),
      src AS (SELECT doc_id, lang,
          CAST(floor(lm_score * 1000000.0) AS BIGINT) AS q
        FROM lm WHERE lm_score IS NOT NULL),
      hist AS (SELECT lang, q, count(*) AS c FROM src GROUP BY lang, q),
      cdf AS (SELECT lang, q,
          sum(c) OVER (PARTITION BY lang ORDER BY q
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
          sum(c) OVER (PARTITION BY lang) AS n FROM hist),
      thr AS (SELECT lang,
          min(CASE WHEN cum >= (n * 1 + 2) // 3 THEN q END) AS t1,
          min(CASE WHEN cum >= (n * 2 + 2) // 3 THEN q END) AS t2
        FROM cdf GROUP BY lang)
      SELECT s.lang,
        CASE WHEN s.q <= thr.t1 THEN 'tail'
             WHEN s.q <= thr.t2 THEN 'middle'
             ELSE 'head' END AS bucket,
        CAST(count(*) AS BIGINT) AS n_docs
      FROM src s JOIN thr USING (lang)
      GROUP BY 1, 2 ORDER BY lang, bucket""")),

    // -- IN-Spark quality-classifier training (no ML library): batch
    // IRLS/Newton (6 iterations, ONE 14-sum aggregate each + a 4x4
    // driver solve — driver round-trips are the scarce resource, so the
    // second-order method wins over 40-150 rounds of descent). Trained
    // weights are summation-order dependent, so — like embed_kmeans —
    // the oracle checks exact cardinalities plus an engine-independent
    // quality flag: accuracy >= 0.85 on a label the feature set
    // genuinely carries (long-doc detection via the saturating
    // token-count feature; measured 0.996-0.998 across SFs vs a
    // 0.75-0.79 majority baseline) --
    QueryDef("classifier_train", (s, dir) => {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
        .withColumn("label", (size(split(col("text"), " ")) >= 80).cast("int"))
      val w = graft.ops.Curation.trainQualityModelIRLS(docs, "text", "label",
        iters = 6)
      val acc = graft.ops.Curation.modelAccuracy(docs, "text", "label", w)
      val n = docs.count()
      val nPos = docs.agg(sum(col("label"))).head().getLong(0)
      Seq((n, nPos, acc >= 0.85)).toDF("n_docs", "n_long_docs", "learned_ok")
    }, Some("""
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
        CAST(count(*) FILTER (len(string_split(text, ' ')) >= 80) AS BIGINT) AS n_long_docs,
        true AS learned_ok
      FROM documents""")),

    // -- the session-3 curation composition as ONE declarative plan:
    // fixed-weight classifier gate → tier-6 span-duplication gate →
    // bigram-LM OOV gate (CCNet shape: model trained on the surviving
    // English slice — non-English survivors mostly fail it, which is
    // the language+quality filter working) → length-bucketed batching →
    // per-language summary. Every stage is an oracle-checked operator
    // above; this pins their composition and the staged survivor flow.
    QueryDef("curation_pipeline_v3", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      // see Curation.pipelineV3Stages for the stage discipline (narrow
      // eager id caches, text-free batching — the round-5 variance fix)
      val st = graft.ops.Curation.pipelineV3Stages(docs,
        shardBy = Some(pmod(col("doc_id") % 1048573 * 2654435761L, lit(4))))
      Tables.materializeAndRelease(st.summary.orderBy("lang"), st.release)
    }, Some(s"""
      WITH gate AS (
        SELECT doc_id, lang, text FROM (
          SELECT *, CAST(-1.1 AS DOUBLE)
            + 0.8 * least(CAST(1.0 AS DOUBLE), CAST(len($sqlTokens) AS DOUBLE) / 100.0)
            + 2.0 * (CAST($enHits AS DOUBLE) / len($sqlTokens))
            + 0.9 * (CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) / length(text)) AS logit
          FROM documents) WHERE logit > 0),
      sg AS (SELECT DISTINCT doc_id, md5(substr(text, CAST(i AS INT), 40)) AS h
             FROM gate, UNNEST(range(1, len(text)-40+2)) AS t(i)),
      ss AS (SELECT doc_id, h FROM sg WHERE h LIKE '0%'),
      sd AS (SELECT h, count(*) AS df FROM ss GROUP BY h),
      sp AS (SELECT ss.doc_id, count(*) AS n_sampled,
               count(*) FILTER (WHERE sd.df >= 2) AS n_dup
             FROM ss JOIN sd USING (h) GROUP BY ss.doc_id),
      sv1 AS (
        SELECT gate.doc_id, lang, text FROM gate LEFT JOIN sp USING (doc_id)
        WHERE sp.doc_id IS NULL
           OR CAST(n_dup AS DOUBLE) / nullif(n_sampled, 0) <= 0.5),
      toks1 AS (SELECT doc_id, lang, string_split(text, ' ') AS tk FROM sv1),
      bg AS (
        SELECT doc_id, lang,
          unnest(list_transform(range(1, len(tk)), i -> tk[i])) AS w1,
          unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS bigram
        FROM toks1),
      c2 AS (SELECT bigram, count(*) AS c2 FROM bg WHERE lang = 'en' GROUP BY 1),
      lmx AS (
        SELECT b.doc_id, count(*) AS nb, count(c2.c2) AS nh
        FROM bg b LEFT JOIN c2 USING (bigram) GROUP BY 1),
      sv2 AS (
        SELECT t.doc_id, t.lang, CAST(len(t.tk) AS BIGINT) AS n_tokens
        FROM toks1 t LEFT JOIN lmx ON t.doc_id = lmx.doc_id
        WHERE lmx.doc_id IS NULL
           OR CAST(nb - nh AS DOUBLE) / nullif(nb, 0) <= 0.9),
      bb AS (
        SELECT doc_id, lang, n_tokens, n_tokens // 32 AS bucket,
          ((doc_id % 1048573) * 2654435761) % 4 AS shard
        FROM sv2 WHERE n_tokens > 0),
      ob AS (
        SELECT *, (row_number() OVER (PARTITION BY bucket, shard ORDER BY doc_id) - 1) // 8 AS batch_id
        FROM bb)
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        CAST(count(DISTINCT (bucket, shard, batch_id)) AS BIGINT) AS n_batches
      FROM ob GROUP BY lang ORDER BY lang""")),

    // -- DSIR-style importance weights: pooled hashed-bigram counts of
    // each doc against the target (en) vs raw distributions — exact
    // long sums, one final divide (Curation.importanceWeightsSelf; md5-
    // prefix bucket hash is engine-portable) --
    QueryDef("dsir_weights", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      graft.ops.Curation.importanceWeightsSelf(
          docs, col("lang") === "en", buckets = 65536)
        .orderBy("doc_id")
    }, Some(s"""
      $dsirCtesSql
      SELECT d.doc_id,
        CAST(coalesce(nb, 0) AS BIGINT) AS n_bigrams,
        CAST(coalesce(th, 0) AS BIGINT) AS target_hits,
        CAST(coalesce(rh, 0) AS BIGINT) AS raw_hits,
        CASE WHEN rh > 0 THEN CAST(th AS DOUBLE) / CAST(rh AS DOUBLE) END AS weight
      FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
      ORDER BY d.doc_id""")),

    // -- deterministic importance resampling: keep with probability
    // proportional to weight / max(weight) via the portable modular
    // hash (replays bit-for-bit in any engine) --
    QueryDef("dsir_resample", (s, dir) => {
      val docs = Tables.loadSpread(s, dir, "documents")
      graft.ops.Curation.importanceResampleExact(
          graft.ops.Curation.importanceWeightsSelf(
            docs, col("lang") === "en", buckets = 65536))
        .orderBy("doc_id")
    }, Some(s"""
      $dsirCtesSql,
      w AS (SELECT doc_id, th, rh,
            CAST(th AS DOUBLE) / CAST(rh AS DOUBLE) AS weight
            FROM pd WHERE rh > 0),
      mx AS (SELECT th AS thm, rh AS rhm FROM w
             ORDER BY weight DESC, th DESC, rh DESC LIMIT 1)
      SELECT doc_id, weight FROM w, mx
      WHERE thm > 0
        AND CAST($hashSql + 1 AS HUGEINT) * CAST(rh AS HUGEINT) * CAST(thm AS HUGEINT)
        <= CAST(1000000 AS HUGEINT) * CAST(th AS HUGEINT) * CAST(rhm AS HUGEINT)
      ORDER BY doc_id""")),

    // -- the round-6 data-SELECTION composition as ONE declarative
    // plan: DSIR resample vs the en slice → bigram-LM scoring of the
    // survivors (model = surviving en slice) → per-language CCNet
    // terciles → keep head+middle → per-(lang, bucket) summary
    // (Curation.pipelineV4Stages; every gate engine-stable) --
    // -- the round-7 MIX composition (Curation.pipelineV5Stages):
    // contamination gate vs the eval split → token-weighted
    // explicit-target language mixture → per-language summary. Every
    // stage is the oracle-checked operator above; the composition pins
    // the flag-polarity join and the weighted gate end-to-end --
    QueryDef("curation_pipeline_v5", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val st = graft.ops.Curation.pipelineV5Stages(docs)
      Tables.materializeAndRelease(st.summary.orderBy("lang"), st.release)
    }, Some(s"""
      WITH sh AS (
        SELECT doc_id, list_distinct(list_transform(
          range(1, len(string_split(text,' ')) - 1),
          i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])) AS sh
        FROM documents),
      b AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 10 = 0),
      t AS (SELECT doc_id, unnest(sh) AS g FROM sh WHERE doc_id % 10 <> 0),
      hits AS (SELECT t.doc_id, count(*) AS n_sh, count(b.g) AS n_hit
               FROM t LEFT JOIN b ON t.g = b.g GROUP BY t.doc_id),
      clean AS (
        SELECT d.doc_id, d.lang,
          CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
        FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
        WHERE d.doc_id % 10 <> 0
          AND NOT (coalesce(h.n_sh, 0) > 0
                   AND CAST(h.n_hit AS DOUBLE) / h.n_sh >= 0.5)),
      c AS (SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS n,
              CASE lang WHEN 'en' THEN 3 WHEN 'de' THEN 1
                        WHEN 'es' THEN 1 WHEN 'fr' THEN 1 ELSE 0 END AS num
            FROM clean GROUP BY lang),
      cc AS (SELECT * FROM c WHERE num > 0 AND n > 0),
      bnd AS (SELECT n AS nb, num AS numb FROM cc x
              WHERE NOT EXISTS (SELECT 1 FROM cc o WHERE x.n * o.num > o.n * x.num)
              ORDER BY lang LIMIT 1)
      SELECT cl.lang, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(cl.n_tokens) AS BIGINT) AS total_tokens
      FROM clean cl JOIN cc ON cl.lang = cc.lang CROSS JOIN bnd
      WHERE (((cl.doc_id % 1048573) * 2654435761) % 1000000 + 1) * bnd.numb * cc.n
            <= 1000000 * bnd.nb * cc.num
      GROUP BY cl.lang ORDER BY cl.lang""")),

    // -- the round-7 GOVERNANCE composition (Curation.pipelineV6Stages):
    // near-dup pairs → cluster closure → CLUSTER-keyed 90/5/5 split →
    // leakage audit (n_cross_pairs, provably 0 — the oracle derives it
    // independently) → per-(split, domain) token cap → summary --
    QueryDef("curation_pipeline_v6", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val st = graft.ops.Curation.pipelineV6Stages(docs)
      Tables.materializeAndRelease(st.summary.orderBy("split"), st.release)
    }, Some(s"""
      WITH RECURSIVE sh AS (
        SELECT doc_id, list_distinct(list_transform(
          range(1, len(string_split(text,' ')) - 1),
          i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])) AS sh
        FROM documents),
      prs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sh a, sh b
        WHERE a.doc_id < b.doc_id
          AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
      edges AS (SELECT id_a AS src, id_b AS dst FROM prs
                UNION SELECT id_b, id_a FROM prs),
      reach AS (SELECT src AS id, src AS r FROM edges
                UNION SELECT e.src AS id, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
      comp AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
      lab AS (
        SELECT d.doc_id, d.source,
          CAST(len(string_split(d.text,' ')) AS BIGINT) AS n_tokens,
          ${qualityQSql("d.text")} AS q,
          coalesce(c.cluster_id, d.doc_id) AS grp
        FROM documents d LEFT JOIN comp c USING (doc_id)),
      lab2 AS (
        SELECT *, CASE
          WHEN ((grp % 1048573) * 2654435761) % 1000000 < 900000 THEN 'train'
          WHEN ((grp % 1048573) * 2654435761) % 1000000 < 950000 THEN 'val'
          ELSE 'test' END AS split
        FROM lab),
      hist AS (SELECT split, source, q, sum(n_tokens) AS t
               FROM lab2 GROUP BY split, source, q),
      cum AS (SELECT split, source, q,
                sum(t) OVER (PARTITION BY split, source ORDER BY q DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM hist),
      thr AS (SELECT split, source, min(q) AS t FROM cum
              WHERE cum <= 800 GROUP BY split, source),
      keepr AS (SELECT l.* FROM lab2 l
                JOIN thr ON l.split = thr.split AND l.source = thr.source
                WHERE l.q >= thr.t),
      cr AS (SELECT a.split AS sa, b.split AS sb FROM prs p
             JOIN lab2 a ON p.id_a = a.doc_id
             JOIN lab2 b ON p.id_b = b.doc_id
             WHERE a.split <> b.split),
      cps AS (SELECT split, CAST(count(*) AS BIGINT) AS n_cross FROM (
                SELECT sa AS split FROM cr UNION ALL SELECT sb FROM cr)
              GROUP BY split),
      base AS (SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(count(DISTINCT grp) AS BIGINT) AS n_families
               FROM lab2 GROUP BY split),
      kept AS (SELECT split, CAST(count(*) AS BIGINT) AS n_kept,
                 CAST(sum(n_tokens) AS BIGINT) AS kept_tokens
               FROM keepr GROUP BY split)
      SELECT b.split, b.n_docs, b.n_families,
        coalesce(k.n_kept, CAST(0 AS BIGINT)) AS n_kept,
        coalesce(k.kept_tokens, CAST(0 AS BIGINT)) AS kept_tokens,
        coalesce(c.n_cross, CAST(0 AS BIGINT)) AS n_cross_pairs
      FROM base b LEFT JOIN kept k ON b.split = k.split
                  LEFT JOIN cps c ON b.split = c.split
      ORDER BY b.split""")),

    // -- vocabulary coverage: what fraction of token OCCURRENCES the
    // top-N dictionary entries cover — the number that sizes a
    // vocabulary (integer ppm; ties broken tf desc, token asc in both
    // engines). Vocab-bounded aggregates; nothing corpus-sized moves
    QueryDef("vocab_coverage", (s, dir) => graft.ops.Caches.owning { c =>
      val docs = Tables.load(s, dir, "documents")
      // (token, tf, df); three consumers: total agg + two top-k
      val vocab = c.keep(graft.ops.Curation.vocabulary(docs))
      // distributed top-k (orderBy+limit = TakeOrdered, no global
      // window over the vocabulary) — the ranks beyond 25 are never
      // materialized, so this scales to any vocabulary size
      def topTf(n: Int) = vocab.orderBy(col("tf").desc, col("token")).limit(n)
        .agg(sum(col("tf")).as(s"top${n}_tf"))
      val totals = vocab.agg(count(lit(1)).as("n_vocab"), sum(col("tf")).as("total_tf"))
      val out = totals.crossJoin(topTf(10)).crossJoin(topTf(25))
        .select(col("n_vocab"), col("total_tf"), col("top10_tf"), col("top25_tf"),
          expr("top10_tf * 1000000L DIV total_tf").as("cov10_ppm"),
          expr("top25_tf * 1000000L DIV total_tf").as("cov25_ppm"))
      Tables.materializeAndRelease(out, c.release)
    }, Some("""
      WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
      v AS (SELECT token, CAST(count(*) AS BIGINT) AS tf FROM tok
            WHERE length(token) > 0 GROUP BY token),
      r AS (SELECT tf, row_number() OVER (ORDER BY tf DESC, token) AS rk FROM v)
      SELECT CAST(count(*) AS BIGINT) AS n_vocab,
        CAST(SUM(tf) AS BIGINT) AS total_tf,
        CAST(SUM(CASE WHEN rk <= 10 THEN tf ELSE 0 END) AS BIGINT) AS top10_tf,
        CAST(SUM(CASE WHEN rk <= 25 THEN tf ELSE 0 END) AS BIGINT) AS top25_tf,
        (CAST(SUM(CASE WHEN rk <= 10 THEN tf ELSE 0 END) AS BIGINT) * 1000000)
          // CAST(SUM(tf) AS BIGINT) AS cov10_ppm,
        (CAST(SUM(CASE WHEN rk <= 25 THEN tf ELSE 0 END) AS BIGINT) * 1000000)
          // CAST(SUM(tf) AS BIGINT) AS cov25_ppm
      FROM r""")),

    // -- Unicode canonicalization: the corpus is ASCII, so (like
    // text_redact's planted PII) each doc gets a planted decomposed
    // suffix — "caf" + e + COMBINING ACUTE (U+0301) + doubled spaces —
    // and both engines must canonicalize to the identical md5 (NFC
    // composes to U+00E9, space runs collapse, ends trim)
    QueryDef("text_normalize", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val planted = concat(col("text"), lit("  caf"), lit("e\u0301"), lit(" "))
      docs.select(col("doc_id"),
          md5(TA.canonicalText(planted)).as("canon_md5"),
          (TA.canonicalText(planted) =!= planted).as("changed"),
          length(TA.canonicalText(planted)).cast("long").as("canon_len"))
        .orderBy("doc_id")
    }, Some("""
      WITH planted AS (
        SELECT doc_id, text || '  caf' || 'e' || chr(769) || ' ' AS p FROM documents),
      canon AS (
        SELECT doc_id, trim(regexp_replace(nfc_normalize(p), ' +', ' ', 'g')) AS c, p
        FROM planted)
      SELECT doc_id, md5(c) AS canon_md5, c != p AS changed,
        CAST(length(c) AS BIGINT) AS canon_len
      FROM canon ORDER BY doc_id""")),

    // -- exact dedup on the CANONICAL form: plant two byte-DISTINCT
    // unicode variants of each of the first 5 docs (decomposed
    // combining mark vs precomposed + doubled spaces); raw-md5 grouping
    // keeps them apart, canonical-md5 grouping merges each pair — the
    // integration that makes canonicalText a dedup stage, not a gadget
    QueryDef("dedup_exact_canon", (s, dir) => {
      val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
      val seed = docs.filter(col("doc_id") < 5)
      val planted = seed.select((col("doc_id") + 100000L).as("doc_id"),
          concat(col("text"), lit(" cafe\u0301")).as("text"))
        .union(seed.select((col("doc_id") + 200000L).as("doc_id"),
          concat(col("text"), lit("  caf\u00e9 ")).as("text")))
      val all = docs.union(planted)
      val nRaw = all.select(md5(col("text")).as("fp")).distinct().count()
      val nCanon = all.select(md5(TA.canonicalText(col("text"))).as("fp"))
        .distinct().count()
      import s.implicits._
      Seq((all.count(), nRaw, nCanon, nRaw - nCanon))
        .toDF("n_docs", "raw_groups", "canon_groups", "merged_by_canon")
    }, Some("""
      WITH planted AS (
        SELECT doc_id + 100000 AS doc_id, text || ' caf' || 'e' || chr(769) AS text
        FROM documents WHERE doc_id < 5
        UNION ALL
        SELECT doc_id + 200000, text || '  caf' || chr(233) || ' '
        FROM documents WHERE doc_id < 5),
      allr AS (SELECT doc_id, text FROM documents UNION ALL SELECT * FROM planted)
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
        CAST(count(DISTINCT md5(text)) AS BIGINT) AS raw_groups,
        CAST(count(DISTINCT md5(trim(regexp_replace(nfc_normalize(text), ' +', ' ', 'g')))) AS BIGINT) AS canon_groups,
        CAST(count(DISTINCT md5(text)) - count(DISTINCT md5(trim(regexp_replace(nfc_normalize(text), ' +', ' ', 'g')))) AS BIGINT) AS merged_by_canon
      FROM allr""")),

    // -- per-TIER dedup comparison scorecard: one row per dedup tier
    // (exact / canonical-exact / ngram-jaccard / minhash-LSH / span /
    // hashed-cosine), each row the tier's duplicate-PAIR count over
    // the SAME documents input — the "which tier catches what" summary
    // a curation run reads before picking its dedup stack. All six
    // counts union into ONE action, so the independent tier subtrees
    // schedule concurrently and wall-clock tracks the slowest tier,
    // not the sum. The oracle re-derives every count independently
    // (group-size combinatorics for the exact tiers, all-pairs jaccard
    // at oracle scale, the md5-bucket sparse-cosine gate in HUGEINT).
    // FIXTURE NOTE (oracle): the 'minhash' row reuses the exact-jaccard
    // pair set, i.e. it asserts the 21-band/3-row LSH finds EVERY
    // tau>=0.8 pair in THIS testdata. That holds here because the
    // fixtures' near-dup pairs sit well above the banding S-curve's
    // miss region (P(miss) = (1-s^3)^21 < 1e-4 at s=0.8, and the
    // fixture pairs are mostly s~1), but banding has a nonzero
    // false-negative probability in general — a testdata regeneration
    // with pairs hugging tau could break this row with NO code bug.
    // The op-level contract is engine-side: PlanContractSpec pins
    // scorecard-vs-dedup_minhash equality, and the dedup_minhash
    // oracle checks the banded candidate semantics directly --
    QueryDef("dedup_scorecard", (s, dir) => graft.ops.Caches.owning { c =>
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      import graft.ops.{Dedup, Embedding}
      def pairsOfGroups(g: org.apache.spark.sql.DataFrame) =
        g.agg(coalesce(sum(expr("n_dups * (n_dups - 1) div 2")), lit(0L))
          .as("n_pairs"))
      def cnt(p: org.apache.spark.sql.DataFrame) =
        p.agg(count(lit(1)).as("n_pairs"))
      // the pair tiers materialize their inverted indexes EAGERLY at
      // construction (the multi-consumer persist discipline) — built
      // sequentially those index jobs would serialize into the sum of
      // the tiers; constructing from driver threads lets the scheduler
      // overlap them (each tier underfills the cluster on its own),
      // so scorecard wall-clock tracks the slowest tier, not the sum —
      // the same pattern a production multi-tier audit would use
      // ngram + minhash + the hashed tier's SIZING share ONE persisted
      // k=3 shingle index (the FromIndex forms; WithPos rides the
      // per-doc position mass on the same scan so sizedShingleDim no
      // longer re-reads the corpus text) — built once, consumed by
      // three tiers; lazy val init is synchronized, so whichever tier
      // thread gets here first materializes it and the others block on
      // the same cache
      lazy val shingleIx =
        c.keep(Dedup.shingleFpRowsWithPos(docs, "doc_id", "text", k = 3))
      val tiers: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
        "exact" -> (() =>
          pairsOfGroups(Dedup.exactGroups(docs, "doc_id", "text"))),
        "exact_canon" -> (() => pairsOfGroups(Dedup.exactGroups(
          docs.select(col("doc_id"), TA.canonicalText(col("text")).as("text")),
          "doc_id", "text"))),
        "ngram" -> (() =>
          cnt(Dedup.ngramJaccardPairsFromIndex(
            shingleIx.select("id", "s"), tau = 0.8))),
        "minhash" -> (() =>
          cnt(Dedup.minhashLshPairsFromIndex(
            shingleIx.select("id", "s"), tau = 0.8))),
        "spans" -> (() => cnt(Dedup.duplicateSpanPairs(docs, "doc_id", "text",
          k = 40, sel = "0", minShared = 2))),
        // corpus-sized dim (the hash_neardup_auto convention): at fixed
        // dim this tier's row reads 0 once corpus mass crosses
        // dim*dfCap while every other tier scales — exactly the
        // misleading audit artifact SCALE.md documents. The sizing
        // mass comes FROM the shared persisted index (FromIndex form),
        // not a second corpus text scan
        "hashed_cosine" -> (() => cnt(Embedding.hashedShingleNearDup(
          docs, "doc_id", "text",
          dim = Embedding.sizedShingleDimFromIndex(shingleIx,
            targetDf = 4L, minDim = 1 << 10),
          k = 3, tauSqNum = 81L, tauSqDen = 100L, dfCap = 50L))))
      val built = Chains.all(s)(tiers.map { case (name, f) =>
        () => f().select(lit(name).as("tier"), col("n_pairs"))
      })
      Tables.materializeAndRelease(built.reduce(_ union _).orderBy("tier"),
        c.release)
    }, Some(s"""
      WITH sh3 AS (
        SELECT doc_id, list_distinct(list_transform(
          range(1, len(string_split(text,' ')) - 1),
          i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])) AS sh
        FROM documents),
      jac AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sh3 a, sh3 b
        WHERE a.doc_id < b.doc_id
          AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
      spang AS (SELECT DISTINCT doc_id, md5(substr(text, CAST(i AS INT), 40)) AS h
                FROM documents, UNNEST(range(1, len(text)-40+2)) AS t(i)),
      spans0 AS (SELECT doc_id, h FROM spang WHERE h LIKE '0%'),
      spanp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
                FROM spans0 a JOIN spans0 b ON a.h = b.h AND a.doc_id < b.doc_id
                GROUP BY 1, 2 HAVING count(*) >= 2),
      ${OracleSql.sizedShingleDimCte("h").trim},
      hsh AS (SELECT doc_id, unnest(list_transform(
                range(1, greatest(len(string_split(text,' ')) - 1, 1)),
                i -> array_to_string(string_split(text,' ')[i:i+2], ' '))) AS g
              FROM documents),
      htb AS (SELECT doc_id,
        CAST(CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT)
             % (SELECT dm FROM hdim) AS BIGINT) AS d
        FROM hsh),
      hv AS (SELECT doc_id, d, CAST(count(*) AS BIGINT) AS c FROM htb GROUP BY doc_id, d),
      hnorm AS (SELECT doc_id, CAST(SUM(c*c) AS BIGINT) AS nn FROM hv GROUP BY doc_id),
      hkept AS (SELECT d FROM hv GROUP BY d HAVING count(*) <= 50),
      hvk AS (SELECT hv.* FROM hv JOIN hkept USING (d)),
      hdots AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                  CAST(SUM(a.c * b.c) AS BIGINT) AS dot
                FROM hvk a JOIN hvk b ON a.d = b.d AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
      hpairs AS (SELECT dd.id_a
                 FROM hdots dd
                 JOIN hnorm na ON na.doc_id = dd.id_a
                 JOIN hnorm nb ON nb.doc_id = dd.id_b
                 WHERE CAST(dd.dot AS HUGEINT) * CAST(dd.dot AS HUGEINT) * 100
                       >= 81 * CAST(na.nn AS HUGEINT) * CAST(nb.nn AS HUGEINT))
      SELECT * FROM (
        SELECT 'exact' AS tier, CAST(coalesce(sum(n*(n-1)//2), 0) AS BIGINT) AS n_pairs
        FROM (SELECT count(*) AS n FROM documents GROUP BY md5(text))
        UNION ALL
        SELECT 'exact_canon', CAST(coalesce(sum(n*(n-1)//2), 0) AS BIGINT)
        FROM (SELECT count(*) AS n FROM documents
              GROUP BY md5(trim(regexp_replace(nfc_normalize(text), ' +', ' ', 'g'))))
        UNION ALL SELECT 'ngram', CAST(count(*) AS BIGINT) FROM jac
        UNION ALL SELECT 'minhash', CAST(count(*) AS BIGINT) FROM jac
        UNION ALL SELECT 'spans', CAST(count(*) AS BIGINT) FROM spanp
        UNION ALL SELECT 'hashed_cosine', CAST(count(*) AS BIGINT) FROM hpairs)
      ORDER BY tier""")),

    // -- per-source SCORECARD: the "which sources should I buy more
    // of" rollup — docs, corpus-wide exact-duplicate membership,
    // integer quality mass, Gopher repetition failures — one row per
    // source, every number an exact integer
    QueryDef("source_scorecard", (s, dir) => {
      val docs = Tables.loadSpread(s, dir, "documents")
      val stats2 = org.apache.spark.sql.classic.GraftExpressionBridge.column(
        graft.functions.NgramCharStats(
          org.apache.spark.sql.classic.GraftExpressionBridge.expression(col("text")), 2))
      val base = docs.select(col("doc_id"), col("source"),
          md5(col("text")).as("fp"),
          TA.qualityScoreQ(col("text")).as("q"),
          length(col("text")).cast("long").as("doc_chars"),
          stats2.as("s2"))
        .select(col("doc_id"), col("source"), col("fp"), col("q"),
          when(col("doc_chars") > 0,
            expr("element_at(s2, 1) * element_at(s2, 2) * 1000000L DIV doc_chars"))
            .otherwise(lit(0L)).as("top2_ppm"))
      val dupFps = base.groupBy(col("fp")).agg(count(lit(1)).as("n"))
        .filter(col("n") >= 2).select(col("fp"))
      val flagged = base.join(dupFps.withColumn("is_dup", lit(1)), Seq("fp"), "left")
      flagged.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count(col("is_dup")).as("n_dup_docs"),
          sum(col("q")).as("sum_q"),
          sum(when(col("top2_ppm") > 100000L, 1L).otherwise(0L)).as("n_rep_fail"))
        .orderBy("source")
    }, Some(s"""
      WITH g2 AS (
        SELECT doc_id, unnest(list_transform(
          range(1, greatest(len(string_split(text,' ')), 1)),
          i -> array_to_string(string_split(text,' ')[i:i+1], ' '))) AS g
        FROM documents),
      c2 AS (SELECT doc_id, g, count(*) AS c, length(g) AS lg
             FROM g2 GROUP BY doc_id, g),
      top2 AS (SELECT doc_id, c AS top_c, lg AS top_chars FROM (
          SELECT doc_id, c, lg,
                 row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g DESC) AS rn
          FROM c2) WHERE rn = 1),
      base AS (
        SELECT d.doc_id, d.source, md5(d.text) AS fp,
          ${qualityQSql("d.text")} AS q,
          COALESCE(CASE WHEN length(d.text) > 0
            THEN (t.top_c * t.top_chars * 1000000) // length(d.text) END, 0) AS top2_ppm
        FROM documents d LEFT JOIN top2 t USING (doc_id)),
      dupfp AS (SELECT fp FROM base GROUP BY fp HAVING count(*) >= 2)
      SELECT b.source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(SUM(CASE WHEN dupfp.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
        CAST(SUM(b.q) AS BIGINT) AS sum_q,
        CAST(SUM(CASE WHEN b.top2_ppm > 100000 THEN 1 ELSE 0 END) AS BIGINT) AS n_rep_fail
      FROM base b LEFT JOIN dupfp ON b.fp = dupfp.fp
      GROUP BY b.source ORDER BY b.source""")),

    // -- per-language BPE fertility (symbols per whitespace token, ppm)
    // under the corpus-trained table — THE tokenizer-quality metric a
    // mixture decision reads (a language the tokenizer fragments pays
    // more sequence length per word). Integer end to end
    QueryDef("bpe_fertility", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val merges = graft.ops.Curation.collectMerges(
        graft.ops.Curation.bpeTrain(docs, numMerges = 6))
      docs.select(col("lang"),
          org.apache.spark.sql.classic.GraftExpressionBridge.column(
            graft.functions.BpeTokenCount(
              org.apache.spark.sql.classic.GraftExpressionBridge.expression(col("text")),
              merges)).as("n_bpe"),
          TA.tokenCount(col("text")).cast("long").as("n_ws"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_bpe")).as("bpe_tokens"),
          sum(col("n_ws")).as("ws_tokens"))
        .select(col("lang"), col("n_docs"), col("bpe_tokens"), col("ws_tokens"),
          expr("bpe_tokens * 1000000L DIV ws_tokens").as("fertility_ppm"))
        .orderBy("lang")
    }, Some {
      val (encReplaced, encJoins) = bpeEncodeSql(6)
      s"""
      WITH ${bpeCtes(6)},
      ltok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token FROM documents),
      enc AS (
        SELECT doc_id, lang, len(string_split(substr(w6e, 2, length(w6e) - 2), '|')) AS nsym
        FROM (SELECT doc_id, lang, $encReplaced AS w6e
              FROM ltok $encJoins
              WHERE length(token) > 0)),
      dsum AS (SELECT doc_id, lang, CAST(SUM(nsym) AS BIGINT) AS n_bpe
               FROM enc GROUP BY doc_id, lang),
      ws AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws
             FROM documents)
      SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(SUM(COALESCE(ds.n_bpe, 0)) AS BIGINT) AS bpe_tokens,
        CAST(SUM(w.n_ws) AS BIGINT) AS ws_tokens,
        (CAST(SUM(COALESCE(ds.n_bpe, 0)) AS BIGINT) * 1000000) // CAST(SUM(w.n_ws) AS BIGINT) AS fertility_ppm
      FROM documents d
      LEFT JOIN dsum ds USING (doc_id)
      JOIN ws w ON w.doc_id = d.doc_id
      GROUP BY d.lang ORDER BY d.lang"""
    }),

    // -- v7: the TOKENIZER composition — Gopher top-bigram repetition
    // gate -> BPE training on the clean survivors -> re-tokenize under
    // the trained table -> per-source docs/tokens rollup. The oracle
    // re-derives the gate (integer ppm), every merge decision (the
    // unrolled bpeCtes chain over the GATED corpus), and the encode
    // replaces, end to end
    QueryDef("curation_pipeline_v7", (s, dir) => {
      val docs = Tables.loadSpread(s, dir, "documents")
      val st = graft.ops.Curation.pipelineV7Stages(docs)
      Tables.materializeAndRelease(st.summary.orderBy("source"), st.release)
    }, Some {
      val (encReplaced, encJoins) = bpeEncodeSql(6)
      s"""
      WITH g2 AS (
        SELECT doc_id, unnest(list_transform(
          range(1, greatest(len(string_split(text,' ')), 1)),
          i -> array_to_string(string_split(text,' ')[i:i+1], ' '))) AS g
        FROM documents),
      c2 AS (SELECT doc_id, g, count(*) AS c, length(g) AS lg
             FROM g2 GROUP BY doc_id, g),
      top2 AS (SELECT doc_id, c AS top_c, lg AS top_chars FROM (
          SELECT doc_id, c, lg,
                 row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g DESC) AS rn
          FROM c2) WHERE rn = 1),
      kdocs AS (
        SELECT d.* FROM documents d LEFT JOIN top2 t USING (doc_id)
        WHERE COALESCE((t.top_c * t.top_chars * 1000000) // length(d.text), 0) <= 100000),
      ${bpeCtes(6, "kdocs")},
      ktok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM kdocs),
      enc AS (
        SELECT doc_id, len(string_split(substr(w6e, 2, length(w6e) - 2), '|')) AS nsym
        FROM (SELECT doc_id, $encReplaced AS w6e
              FROM ktok $encJoins
              WHERE length(token) > 0)),
      dsum AS (SELECT doc_id, CAST(SUM(nsym) AS BIGINT) AS n_bpe FROM enc GROUP BY doc_id),
      ksum AS (SELECT k.source, CAST(count(*) AS BIGINT) AS n_kept,
                 CAST(SUM(COALESCE(ds.n_bpe, 0)) AS BIGINT) AS bpe_tokens
               FROM kdocs k LEFT JOIN dsum ds USING (doc_id) GROUP BY k.source),
      allsrc AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
                 FROM documents GROUP BY source)
      SELECT a.source, a.n_docs,
        COALESCE(k.n_kept, CAST(0 AS BIGINT)) AS n_kept,
        a.n_docs - COALESCE(k.n_kept, CAST(0 AS BIGINT)) AS n_dropped,
        COALESCE(k.bpe_tokens, CAST(0 AS BIGINT)) AS bpe_tokens
      FROM allsrc a LEFT JOIN ksum k USING (source)
      ORDER BY a.source"""
    }),

    QueryDef("curation_pipeline_v4", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val st = graft.ops.Curation.pipelineV4Stages(docs)
      Tables.materializeAndRelease(
        st.summary.orderBy("lang", "bucket"), st.release)
    }, Some(s"""
      $dsirCtesSql,
      w AS (SELECT doc_id, th, rh,
            CAST(th AS DOUBLE) / CAST(rh AS DOUBLE) AS weight
            FROM pd WHERE rh > 0),
      mx AS (SELECT th AS thm, rh AS rhm FROM w
             ORDER BY weight DESC, th DESC, rh DESC LIMIT 1),
      sel AS (SELECT doc_id FROM w, mx
              WHERE thm > 0
                AND CAST($hashSql + 1 AS HUGEINT) * CAST(rh AS HUGEINT) * CAST(thm AS HUGEINT)
                <= CAST(1000000 AS HUGEINT) * CAST(th AS HUGEINT) * CAST(rhm AS HUGEINT)),
      s AS (SELECT d.doc_id, d.lang, d.text FROM documents d JOIN sel USING (doc_id)),
      ltoks AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM s),
      lbg AS (
        SELECT doc_id, lang,
          unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1,
          unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bigram
        FROM ltoks),
      lc2 AS (SELECT bigram, count(*) AS c2 FROM lbg WHERE lang = 'en' GROUP BY 1),
      lc1 AS (SELECT w1, count(*) AS c1 FROM lbg WHERE lang = 'en' GROUP BY 1),
      lsc AS (
        SELECT b.doc_id, count(*) AS nb,
          sum(coalesce(lc2.c2, 0)) AS hs, sum(coalesce(lc1.c1, 0)) AS cs
        FROM lbg b LEFT JOIN lc2 USING (bigram) LEFT JOIN lc1 USING (w1)
        GROUP BY 1),
      llm AS (SELECT s.doc_id, s.lang, lsc.nb,
          CASE WHEN cs > 0 THEN CAST(hs AS DOUBLE) / CAST(cs AS DOUBLE) END AS lm_score
        FROM s LEFT JOIN lsc USING (doc_id)),
      lsrc AS (SELECT doc_id, lang, nb,
          CAST(floor(lm_score * 1000000.0) AS BIGINT) AS q
        FROM llm WHERE lm_score IS NOT NULL),
      lhist AS (SELECT lang, q, count(*) AS c FROM lsrc GROUP BY lang, q),
      lcdf AS (SELECT lang, q,
          sum(c) OVER (PARTITION BY lang ORDER BY q
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
          sum(c) OVER (PARTITION BY lang) AS n FROM lhist),
      lthr AS (SELECT lang,
          min(CASE WHEN cum >= (n * 1 + 2) // 3 THEN q END) AS t1,
          min(CASE WHEN cum >= (n * 2 + 2) // 3 THEN q END) AS t2
        FROM lcdf GROUP BY lang),
      assigned AS (
        SELECT z.lang,
          CASE WHEN z.q <= lthr.t1 THEN 'tail'
               WHEN z.q <= lthr.t2 THEN 'middle'
               ELSE 'head' END AS bucket,
          z.nb
        FROM lsrc z JOIN lthr USING (lang))
      SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(nb + 1) AS BIGINT) AS total_tokens
      FROM assigned WHERE bucket <> 'tail'
      GROUP BY lang, bucket ORDER BY lang, bucket""")),

    // -- per-source corpus health report (the release "data card"): doc
    // and token volume, PII incidence, exact-dup incidence (corpus-wide
    // fingerprints), pooled bigram-LM score vs the English slice — all
    // exact long sums, single final divides --
    QueryDef("corpus_report", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      graft.ops.Curation.corpusReport(docs).orderBy("source")
    }, Some("""
      WITH toks AS (
        SELECT doc_id, source, lang, text, string_split(text, ' ') AS tk
        FROM documents),
      base AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(len(tk)) AS BIGINT) AS total_tokens,
          CAST(count(*) FILTER (
            len(regexp_extract_all(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}')) +
            len(regexp_extract_all(text, '[0-9]{3}-[0-9]{4}')) > 0) AS BIGINT) AS pii_docs
        FROM toks GROUP BY source),
      fps AS (SELECT source, md5(text) AS fp FROM documents),
      dupfp AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) >= 2),
      dup AS (
        SELECT source, CAST(count(*) AS BIGINT) AS dup_docs
        FROM fps WHERE fp IN (SELECT fp FROM dupfp) GROUP BY source),
      bg AS (
        SELECT source, lang,
          unnest(list_transform(range(1, len(tk)), i -> tk[i])) AS w1,
          unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS bigram
        FROM toks),
      c2 AS (SELECT bigram, count(*) AS c2 FROM bg WHERE lang = 'en' GROUP BY 1),
      c1 AS (SELECT w1, count(*) AS c1 FROM bg WHERE lang = 'en' GROUP BY 1),
      lm AS (
        SELECT b.source,
          CAST(sum(coalesce(c2.c2, 0)) AS BIGINT) AS lm_hit_sum,
          CAST(sum(coalesce(c1.c1, 0)) AS BIGINT) AS lm_ctx_sum
        FROM bg b LEFT JOIN c2 USING (bigram) LEFT JOIN c1 USING (w1)
        GROUP BY 1)
      SELECT base.source, n_docs, total_tokens,
        CAST(total_tokens AS DOUBLE) / n_docs AS avg_tokens,
        pii_docs, coalesce(dup_docs, 0) AS dup_docs,
        coalesce(lm_hit_sum, 0) AS lm_hit_sum,
        coalesce(lm_ctx_sum, 0) AS lm_ctx_sum,
        CASE WHEN lm_ctx_sum > 0
          THEN CAST(lm_hit_sum AS DOUBLE) / CAST(lm_ctx_sum AS DOUBLE) END AS lm_score
      FROM base LEFT JOIN dup USING (source) LEFT JOIN lm USING (source)
      ORDER BY base.source""")),

    // -- calibration / reliability curve on the score axis: per-bin
    // exact counts + positive rate (companion to eval_metrics) --
    QueryDef("eval_calibration", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
        .withColumn("label", (col("lang") === "en").cast("int"))
      graft.ops.Curation.calibrationBins(docs, "label", "n_chars",
          width = 100.0)
        .orderBy("bin")
    }, Some("""
      SELECT CAST(floor(n_chars / 100.0) AS BIGINT) AS bin,
        CAST(CAST(floor(n_chars / 100.0) AS BIGINT) * 100.0 AS DOUBLE) AS bin_lo,
        CAST(count(*) AS BIGINT) AS n,
        CAST(count(*) FILTER (lang = 'en') AS BIGINT) AS n_pos,
        CAST(count(*) FILTER (lang = 'en') AS DOUBLE) / count(*) AS pos_rate
      FROM documents GROUP BY 1 ORDER BY bin""")),

    // -- exact evaluation metrics: confusion counts + tie-aware AUC via
    // the Mann-Whitney half-integer sum (order-independent, so the full
    // row hash-matches DuckDB). Score = n_chars, label = English,
    // threshold 600 — an arbitrary but fixed operating point --
    QueryDef("eval_metrics", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
        .withColumn("label", (col("lang") === "en").cast("int"))
      graft.ops.Curation.binaryMetrics(docs, "label", "n_chars",
          threshold = 600.0)
        .select(col("n"), col("n_pos"), col("n_neg"), col("tp"), col("fp"),
          col("fn"), col("tn"), col("precision").as("prec"), col("recall"),
          col("f1"), col("auc"))
    }, Some("""
      WITH d AS (
        SELECT CAST(n_chars AS DOUBLE) AS s, (lang = 'en') AS y FROM documents),
      conf AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(count(*) FILTER (y) AS BIGINT) AS n_pos,
          CAST(count(*) FILTER (NOT y) AS BIGINT) AS n_neg,
          CAST(count(*) FILTER (s > 600 AND y) AS BIGINT) AS tp,
          CAST(count(*) FILTER (s > 600 AND NOT y) AS BIGINT) AS fp,
          CAST(count(*) FILTER (s <= 600 AND y) AS BIGINT) AS fn,
          CAST(count(*) FILTER (s <= 600 AND NOT y) AS BIGINT) AS tn
        FROM d),
      per AS (
        SELECT s, count(*) FILTER (y) AS cp, count(*) FILTER (NOT y) AS cn
        FROM d GROUP BY s),
      wb AS (
        SELECT cp, cn, coalesce(sum(cn) OVER (ORDER BY s
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
        FROM per),
      uu AS (SELECT sum(cp * below + cp * cn / 2.0) AS u FROM wb)
      SELECT n, n_pos, n_neg, tp, fp, fn, tn,
        CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / (tp + fp) END AS prec,
        CASE WHEN n_pos > 0 THEN CAST(tp AS DOUBLE) / n_pos END AS recall,
        CASE WHEN tp * 2 + fp + fn > 0 THEN tp * 2.0 / (tp * 2 + fp + fn) END AS f1,
        CASE WHEN n_pos > 0 AND n_neg > 0 THEN u / CAST(n_pos * n_neg AS DOUBLE) END AS auc
      FROM conf, uu""")),

    // -- length-bucketed inference batching: batch peers share a token-
    // length bucket so per-batch padding is bounded by the bucket width;
    // deterministic portable shard hash so DuckDB replays the grouping --
    QueryDef("batch_by_length", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
      Packing.lengthBucketBatches(docs, "doc_id", "n_tokens",
          bucketWidth = 32, batchSize = 8, nShards = 4,
          shardBy = Some(pmod(col("doc_id") % 1048573 * 2654435761L, lit(4))))
        .select(col("doc_id"), col("n_tokens"), col("bucket"),
          col("shard").cast("long").as("shard"), col("batch_id"),
          col("batch_max_tokens"), col("pad_tokens"))
        .orderBy("doc_id")
    }, Some("""
      WITH t AS (
        SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents),
      b AS (
        SELECT doc_id, n_tokens, n_tokens // 32 AS bucket,
          ((doc_id % 1048573) * 2654435761) % 4 AS shard
        FROM t WHERE n_tokens > 0),
      o AS (
        SELECT *, (row_number() OVER (PARTITION BY bucket, shard ORDER BY doc_id) - 1) // 8 AS batch_id
        FROM b)
      SELECT doc_id, n_tokens, bucket, shard, batch_id,
        max(n_tokens) OVER (PARTITION BY bucket, shard, batch_id) AS batch_max_tokens,
        max(n_tokens) OVER (PARTITION BY bucket, shard, batch_id) - n_tokens AS pad_tokens
      FROM o ORDER BY doc_id"""))
  )
}
