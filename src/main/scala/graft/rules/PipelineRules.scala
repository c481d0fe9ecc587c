package graft.rules

import graft.model.Rule

/** Curation expectations as ORDINARY DQ rules — the §7.5 composition:
  * the rule compiler admits dedup / profile / LM-quality gates with NO
  * structural change, because every one of them is expressible as an
  * `agg_dq` aggregate or a `query_dq` SELECT riding the SQL kernels
  * [[graft.functions.GraftExtensions]] registers (`distinct_shingles`,
  * `sampled_span_hashes`, …). These builders emit the exact rule rows,
  * so a pipeline gates its training corpus with the same five-stage
  * engine, stats tables, and notification fan-out it already uses for
  * classic data quality — "no duplicate spans" sits in the rules table
  * next to "col1 > 0".
  *
  * Sessions evaluating kernel-backed rules must be built
  * `.withExtensions(new GraftExtensions)` (or the static
  * `spark.sql.extensions` conf); the pure-SQL builders (exact dup,
  * distinct count) run on any session.
  *
  * Each builder targets the SOURCE stage view `<table>_source` by
  * default (reference view-naming: `core/expectations.py:905-941`) —
  * gate the corpus BEFORE row rules drop anything; pass
  * `stage = "target"` to assert on the post-drop frame instead.
  */
object PipelineRules {

  private def viewOf(table: String, stage: String): String = {
    require(stage == "source" || stage == "target",
      s"stage must be 'source' or 'target', got: $stage")
    s"${table.split('.').last}_$stage"
  }

  /** Exact-duplicate gate: at most `maxDupRows` rows whose `textCol`
    * collides with another row (count − distinct md5). Pure SQL.
    */
  def exactDupRule(productId: String, table: String, textCol: String,
                   maxDupRows: Long, action: String = "fail",
                   stage: String = "source"): Rule =
    Rule(productId, table, "query_dq", "exact_dup_rows", textCol,
      s"(select count(*) - count(distinct md5($textCol)) " +
        s"from ${viewOf(table, stage)}) <= $maxDupRows",
      action,
      description = "at most " + maxDupRows + " exact-duplicate documents",
      enableForSourceDqValidation = stage == "source",
      enableForTargetDqValidation = stage == "target")

  /** Verbatim-span duplication gate (tier-6): at most `maxSharedSpans`
    * sampled char-`k`-gram fingerprints occur in ≥ 2 documents. Rides
    * the `sampled_span_hashes` SQL kernel (extensions required).
    */
  def spanDupRule(productId: String, table: String, textCol: String,
                  maxSharedSpans: Long, k: Int = 40, sel: String = "0",
                  action: String = "fail", stage: String = "source"): Rule =
    Rule(productId, table, "query_dq", "span_dup_fingerprints", textCol,
      s"(select count(*) from (select h from (select " +
        s"explode(sampled_span_hashes($textCol, $k, '$sel')) as h " +
        s"from ${viewOf(table, stage)}) group by h having count(*) >= 2)) " +
        s"<= $maxSharedSpans",
      action,
      description = s"at most $maxSharedSpans cross-document verbatim span fingerprints",
      enableForSourceDqValidation = stage == "source",
      enableForTargetDqValidation = stage == "target")

  /** Cardinality profile gate as a plain `agg_dq` rule:
    * `approx_count_distinct(col) >= minDistinct` (HLL++ sketch, one
    * pass, merges map-side — the sketch-backed profile rule of
    * SURVEY §7.5).
    */
  def distinctCountRule(productId: String, table: String, column: String,
                        minDistinct: Long, action: String = "fail"): Rule =
    Rule(productId, table, "agg_dq", s"${column}_distinct_min", column,
      s"approx_count_distinct($column) >= $minDistinct", action,
      description = s"$column must carry >= $minDistinct distinct values")

  /** Corpus-level OOV gate against a persisted bigram LM: a catalog
    * table `<modelPrefix>_bigrams(bigram, c2)` of bigram counts,
    * referenced from SQL by name. The fraction of the corpus's token
    * transitions the model never saw must stay ≤ `maxOovRate`. Pure
    * Spark SQL (split / transform / sequence — no kernel needed); the
    * model-side subquery sums the counts per bigram, so a table that
    * several appended batches wrote reads as one model.
    */
  def lmOovRule(productId: String, table: String, textCol: String,
                modelPrefix: String, maxOovRate: Double,
                action: String = "fail", stage: String = "source"): Rule =
    Rule(productId, table, "query_dq", "lm_oov_rate", textCol,
      s"""(select (count(*) - count(m.c2)) / cast(count(*) as double)
          from (select explode(transform(sequence(1, size(tk) - 1),
                  i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1)))) as b
                from (select split($textCol, ' ') as tk
                      from ${viewOf(table, stage)}) where size(tk) >= 2) bg
          left join (select bigram, sum(c2) as c2
                     from ${modelPrefix}_bigrams group by bigram) m
            on bg.b = m.bigram) <= $maxOovRate""".stripMargin,
      action,
      description = s"corpus bigram OOV rate vs $modelPrefix must be <= $maxOovRate",
      enableForSourceDqValidation = stage == "source",
      enableForTargetDqValidation = stage == "target")
}
