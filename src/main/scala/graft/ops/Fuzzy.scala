package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Edit-distance similarity joins (entity resolution / fuzzy
  * matching): all pairs with `levenshtein(a, b) <= maxDist`, as a
  * self-join over one corpus ([[editDistancePairs]]) or a join between
  * two tables ([[editDistanceJoin]] — noisy records against a
  * canonical reference list, the classic record-linkage shape).
  *
  * The naive form is an all-pairs O(n²·L²) quadratic — structurally
  * impossible at scale, and q-gram blocking (the tier-2 trick) does not
  * prune it: common grams make nearly every pair a candidate on real
  * text. The scalable relational form is the PassJoin partition scheme
  * (Li, Deng, Feng — VLDB'11): split the SHORTER string of a pair into
  * `maxDist + 1` contiguous segments; by pigeonhole, `maxDist` edits
  * touch at most `maxDist` segments, so at least one segment appears
  * VERBATIM in the longer string, shifted by at most `maxDist`
  * positions. Candidate generation is therefore an equi-join:
  *
  *   - seg rows:   every doc emits its `maxDist+1` segments, keyed
  *                 (segment index, own length, xxhash64(content))
  *   - probe rows: every doc emits, for each partner length
  *                 `l' ∈ [len-maxDist, len]` and segment index, the
  *                 substrings at the ±maxDist candidate positions —
  *                 O((maxDist+1)²·(2·maxDist+1)) rows per doc, constant
  *                 in corpus size
  *
  * Join on the 3-part key, dedup pairs, then verify with Spark's
  * native bounded `levenshtein(l, r, threshold)` (codegen; early-exits
  * above the threshold) — the expensive exact ED runs once per
  * CANDIDATE, never per pair. Both generates stay inside the scan
  * stage; the only shuffles are the candidate equi-join on an 8-byte
  * hash + id-keyed text re-attach joins. `maxDist` drives the probe
  * blowup cubically — keep it small (it is a NEAR-dup predicate), and
  * run exact dedup first so identical strings don't re-verify.
  *
  * Strings shorter than `maxDist+1` cannot host `maxDist+1` nonempty
  * segments; their partners are at most `2·maxDist` chars. That residue
  * broadcasts the DISTINCT short texts (bounded by the content space of
  * ≤ 2·maxDist chars, never by row count — a corpus of billions of
  * duplicate one-char cells stays a tiny build side), pre-verifies the
  * text pairs, and re-attaches ids with text-keyed equi-joins.
  */
object Fuzzy {

  // segment i of a length-l string: [floor(i*l/parts)+1,
  // floor((i+1)*l/parts)] (1-based, nonempty for l >= parts)
  private def segStart(parts: Int)(i: Column, l: Column): Column =
    floor(i * l / parts) + lit(1L)
  private def segLen(parts: Int)(i: Column, l: Column): Column =
    floor((i + lit(1L)) * l / parts) - floor(i * l / parts)

  /** (id, t, l) normalized frame, optionally persisted — it feeds seg
    * rows, probe rows, the short residue, and the verify re-attach.
    */
  private def prep(df: DataFrame, idCol: String, textCol: String,
                   persistIt: Boolean): DataFrame = {
    val d = df.select(col(idCol).cast("long").as("id"), col(textCol).as("t"),
      length(col(textCol)).cast("long").as("l"))
    if (persistIt) Caches.eager(d) else d
  }

  /** (id_s, ls, i, h) — one row per segment of each long-enough doc. */
  private def segRows(d: DataFrame, e: Int): DataFrame = {
    val parts = e + 1
    d.filter(col("l") >= parts)
      .select(col("id").as("id_s"), col("l").as("ls"), col("t"),
        explode(sequence(lit(0L), lit(e.toLong))).as("i"))
      .select(col("id_s"), col("ls"), col("i"),
        xxhash64(col("t").substr(
          segStart(parts)(col("i"), col("ls")).cast("int"),
          segLen(parts)(col("i"), col("ls")).cast("int"))).as("h"))
  }

  /** (id_p, ls, i, h) — position-bounded probe substrings of each
    * long-enough doc, for every partner length it can pair with.
    */
  private def probeRows(d: DataFrame, e: Int): DataFrame = {
    val parts = e + 1
    d.filter(col("l") >= parts)
      // partner (= shorter-side) length this row probes for
      .select(col("id").as("id_p"), col("l").as("lp"), col("t"),
        explode(sequence(greatest(col("l") - e, lit(parts.toLong)), col("l"))).as("ls"))
      .select(col("id_p"), col("lp"), col("t"), col("ls"),
        explode(sequence(lit(0L), lit(e.toLong))).as("i"))
      .withColumn("p", segStart(parts)(col("i"), col("ls")))
      .withColumn("m", segLen(parts)(col("i"), col("ls")))
      // start ∈ [p-e, p+e] clamped to [1, lp-m+1]; always ascending
      // because p <= lp - m + 1 (segment fits the shorter string)
      .select(col("id_p"), col("ls"), col("i"), col("t"), col("m"),
        explode(sequence(greatest(col("p") - e, lit(1L)),
          least(col("p") + e, col("lp") - col("m") + lit(1L)))).as("q"))
      .select(col("id_p"), col("ls"), col("i"),
        xxhash64(col("t").substr(col("q").cast("int"), col("m").cast("int"))).as("h"))
  }

  /** Self-join: canonical (id_a < id_b, dist) pairs within one corpus. */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
                        maxDist: Int, persistIndex: Boolean = true): DataFrame = {
    require(maxDist >= 0, "maxDist must be non-negative")
    val e = maxDist
    val parts = e + 1
    val d = prep(df, idCol, textCol, persistIndex)

    val mainCands = segRows(d, e).join(probeRows(d, e), Seq("h", "i", "ls"))
      .filter(col("id_s") =!= col("id_p"))
      .select(least(col("id_s"), col("id_p")).as("id_a"),
        greatest(col("id_s"), col("id_p")).as("id_b"))

    // residue: shorter side under parts chars ⇒ partner is at most
    // 2e chars. The broadcast build side is the DISTINCT short TEXTS,
    // never rows: a flood of duplicate short strings (billions of
    // single-char cells) is bounded by its content space, not its
    // count. Matching texts pre-verify with the bounded levenshtein,
    // then ids re-attach by equi-join on the text — both re-attach
    // joins key on text, shuffling only the short slices.
    val shortTexts = d.filter(col("l") < parts)
      .select(col("t").as("ts"), col("l").as("lsh")).distinct()
    val partnerTexts = d.filter(col("l") <= 2L * e)
      .select(col("t").as("tp"), col("l").as("lp")).distinct()
    val shortPairTexts = broadcast(shortTexts).join(partnerTexts,
        abs(col("lsh") - col("lp")) <= e &&
          levenshtein(col("ts"), col("tp"), e) >= 0)
      .select(col("ts"), col("tp"))
    val shortCands = shortPairTexts
      .join(d.filter(col("l") < parts)
        .select(col("id").as("id_s"), col("t").as("ts")), Seq("ts"))
      .join(d.filter(col("l") <= 2L * e)
        .select(col("id").as("id_p"), col("t").as("tp")), Seq("tp"))
      .filter(col("id_s") =!= col("id_p"))
      .select(least(col("id_s"), col("id_p")).as("id_a"),
        greatest(col("id_s"), col("id_p")).as("id_b"))

    mainCands.unionByName(shortCands)
      .distinct()
      .join(d.select(col("id").as("id_a"), col("t").as("ta")), Seq("id_a"))
      .join(d.select(col("id").as("id_b"), col("t").as("tb")), Seq("id_b"))
      // bounded levenshtein: -1 above the threshold (early-exit codegen)
      .withColumn("dist", levenshtein(col("ta"), col("tb"), e))
      .filter(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))
  }

  /** Two-table join: (left_id, right_id, dist) for every cross pair
    * within `maxDist` — match noisy records to a canonical list. Same
    * machinery as the self-join, run in both directions (the seg side
    * must be the SHORTER of a pair, and either table can hold it):
    * segs(L)⨝probes(R) catches pairs where the left string is shorter
    * or equal, segs(R)⨝probes(L) the reverse; equal-length pairs
    * surface in both and collapse in the distinct. No intra-table
    * candidate work is generated at all.
    */
  def editDistanceJoin(left: DataFrame, right: DataFrame,
                       leftId: String, leftText: String,
                       rightId: String, rightText: String,
                       maxDist: Int, persistIndex: Boolean = true): DataFrame = {
    require(maxDist >= 0, "maxDist must be non-negative")
    val e = maxDist
    val parts = e + 1
    val dl = prep(left, leftId, leftText, persistIndex)
    val dr = prep(right, rightId, rightText, persistIndex)

    val lShortSide = segRows(dl, e).join(probeRows(dr, e), Seq("h", "i", "ls"))
      .select(col("id_s").as("left_id"), col("id_p").as("right_id"))
    val rShortSide = segRows(dr, e).join(probeRows(dl, e), Seq("h", "i", "ls"))
      .select(col("id_p").as("left_id"), col("id_s").as("right_id"))

    // short residue, both directions: any string under parts chars can
    // only pair with strings of length <= 2e. Distinct-TEXT broadcast +
    // id re-attach, same as the self-join (build side bounded by
    // content space, not row count).
    def shortDir(ds: DataFrame, dp: DataFrame): DataFrame = {
      val shortTexts = ds.filter(col("l") < parts)
        .select(col("t").as("ts"), col("l").as("lsh")).distinct()
      val partnerTexts = dp.filter(col("l") <= 2L * e)
        .select(col("t").as("tp"), col("l").as("lp")).distinct()
      broadcast(shortTexts).join(partnerTexts,
          abs(col("lsh") - col("lp")) <= e &&
            levenshtein(col("ts"), col("tp"), e) >= 0)
        .select(col("ts"), col("tp"))
        .join(ds.filter(col("l") < parts)
          .select(col("id").as("sid"), col("t").as("ts")), Seq("ts"))
        .join(dp.filter(col("l") <= 2L * e)
          .select(col("id").as("pid"), col("t").as("tp")), Seq("tp"))
    }
    val shortCands = shortDir(dl, dr)
      .select(col("sid").as("left_id"), col("pid").as("right_id"))
      .unionByName(shortDir(dr, dl)
        .select(col("pid").as("left_id"), col("sid").as("right_id")))

    lShortSide.unionByName(rShortSide).unionByName(shortCands)
      .distinct()
      .join(dl.select(col("id").as("left_id"), col("t").as("ta")), Seq("left_id"))
      .join(dr.select(col("id").as("right_id"), col("t").as("tb")), Seq("right_id"))
      .withColumn("dist", levenshtein(col("ta"), col("tb"), e))
      .filter(col("dist") >= 0)
      .select(col("left_id"), col("right_id"), col("dist").cast("long").as("dist"))
  }
}
