package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Independent reference implementations the specs compare the
  * operators against. None of them runs in the library: each is the
  * plain relational form of an operator whose production path is a
  * fused kernel or a prefiltered plan.
  */
object Oracles {

  /** The lead-window formulation of [[Dedup.shingleRows]] (kernel ==
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

  /** The string-pipeline formulation of [[Dedup.shingleFpRows]]
    * (shingleRows → xxhash64): the fused kernel hashes byte SPANS of
    * the input zero-copy, where this form materializes every shingle
    * string and hashes it in a separate projection. Bit-identical.
    */
  def shingleFpRowsUnfused(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    Dedup.shingleRows(df, idCol, textCol, k).select(col("id"), xxhash64(col("s")).as("s"))

  /** The explode→substr→md5→startsWith→distinct formulation of
    * [[Dedup.spanFingerprints]]: a Generate row per character position,
    * a hex digest per position, and a full distinct exchange.
    */
  def spanFingerprintsUnfused(df: DataFrame, idCol: String, textCol: String,
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

  /** Exact decontamination without the Bloom prefilter: drop every
    * train document contaminated at or above `tau` against any
    * benchmark document (the oracle for
    * [[Decontaminate.decontaminateBloom]] and `BloomGate.clean`).
    */
  def decontaminate(train: DataFrame, bench: DataFrame, idCol: String, textCol: String,
                    k: Int = 3, tau: Double = 0.5): DataFrame = {
    val bad = Decontaminate.containmentPairs(train, bench, idCol, textCol, k, tau)
      .select(col("train_id").as(idCol)).distinct()
    train.join(bad, Seq(idCol), "left_anti")
  }

  /** Importance resampling through the double ratio gate
    * `hash < floor(1e6·weight/max(weight))` — the oracle for the
    * division-free [[Curation.importanceResampleExact]].
    */
  def importanceResampleFrom(weights: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val w = weights
      .filter(col("weight").isNotNull)
      .select(col(idCol), col("weight"))
    val wmax = w.agg(max(col("weight")).as("__wmax"))
    w.crossJoin(wmax)
      .withColumn("__thr",
        when(col("__wmax") > 0,
          floor(col("weight") / col("__wmax") * lit(1000000.0)).cast("long"))
          .otherwise(lit(0L)))
      .filter(Sampling.hashBucket(col(idCol)) < col("__thr"))
      .select(col(idCol), col("weight"))
  }
}
