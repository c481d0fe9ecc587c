package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One-pass dataset profiling for sketch-backed DQ at scale (SURVEY
  * §7.5: `approx_count_distinct`-backed profile rules layered on the
  * rule-compiler architecture).
  *
  * Every metric for every profiled column computes inside ONE global
  * Aggregate — a single partial+final job with no shuffle of the data
  * itself — where the naive per-column approach runs a job (and for
  * exact distincts a full shuffle) per column. The cardinality metrics
  * are sketches on purpose: at 100 TB, `approx_count_distinct` (HLL++,
  * mergeable partials) and `percentile_approx` are the only viable
  * forms, and their error bounds (~2.3% default rsd) are pinned by
  * spec against exact counts.
  *
  * Output is long-form `(column_name, metric, value: double)` — the
  * shape a profile store persists per partition/day, which makes drift
  * checking a self-join (`drift`).
  */
object Profile {

  /** Exact metrics every column gets (DuckDB-oracle-comparable). */
  private def exactMetrics(c: String): Seq[(String, Column)] = Seq(
    "count" -> count(col(c)).cast("double"),
    "null_count" -> sum(when(col(c).isNull, 1).otherwise(0)).cast("double"),
    "min" -> min(col(c)).cast("double"),
    "max" -> max(col(c)).cast("double"),
    // decimal-exact sum/mean: double-sum order sensitivity would break
    // hash-compare parity between engines (and between partitionings)
    "sum" -> sum(col(c).cast("decimal(38,2)")).cast("double"),
    "mean" -> (sum(col(c).cast("decimal(38,2)")) /
      count(col(c))).cast("double"))

  /** Sketch metrics (approximate — spec-bounded, not oracle-hashed). */
  private def sketchMetrics(c: String): Seq[(String, Column)] = Seq(
    "approx_distinct" -> approx_count_distinct(col(c)).cast("double"),
    "p50" -> percentile_approx(col(c), lit(0.5), lit(10000)).cast("double"),
    "p95" -> percentile_approx(col(c), lit(0.95), lit(10000)).cast("double"),
    "stddev" -> stddev_samp(col(c)))

  /** Profile `cols` (numeric) in one aggregate pass. `withSketches=false`
    * restricts to the exact metrics (the oracle-checked subset).
    */
  def profile(df: DataFrame, cols: Seq[String],
              withSketches: Boolean = true): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val metrics: Seq[(String, String, Column)] = cols.flatMap { c =>
      val ms = if (withSketches) exactMetrics(c) ++ sketchMetrics(c)
               else exactMetrics(c)
      ms.map { case (m, e) => (c, m, e.as(s"${c}__$m")) }
    }
    // ONE agg row -> long form. The explode is over a literal-shaped
    // array of (column, metric, value) structs built from that row; no
    // second pass over the data.
    val aggRow = df.agg(metrics.head._3, metrics.tail.map(_._3): _*)
    val entries = metrics.map { case (c, m, _) =>
      struct(lit(c).as("column_name"), lit(m).as("metric"),
        col(s"${c}__$m").cast("double").as("value"))
    }
    aggRow.select(explode(array(entries: _*)).as("e"))
      .select(col("e.column_name"), col("e.metric"), col("e.value"))
  }

  /** Drift between a baseline profile and a current one: rows where the
    * relative change exceeds `tolerance` (or a metric exists on one side
    * only). The join is on (column_name, metric) — profile frames are a
    * handful of rows regardless of data size, so this is trivially
    * cheap; the VALUE of drift checking at 100 TB is that the profiles
    * themselves were one-pass sketches.
    */
  def drift(baseline: DataFrame, current: DataFrame,
            tolerance: Double = 0.1): DataFrame = {
    val b = baseline.select(col("column_name"), col("metric"),
      col("value").as("baseline_value"))
    val c = current.select(col("column_name"), col("metric"),
      col("value").as("current_value"))
    b.join(c, Seq("column_name", "metric"), "full_outer")
      .withColumn("rel_change",
        when(col("baseline_value").isNull || col("current_value").isNull, lit(null))
          .when(col("baseline_value") === 0.0,
            when(col("current_value") === 0.0, 0.0).otherwise(Double.PositiveInfinity))
          .otherwise(abs(col("current_value") - col("baseline_value")) /
            abs(col("baseline_value"))))
      .filter(col("rel_change").isNull || col("rel_change") > tolerance)
  }

  /** Join/shuffle-key skew diagnosis: the top `topN` keys by frequency
    * with their share of all rows and their ratio to the uniform share
    * (`skew` = cnt·n_keys/total — 1.0 means perfectly balanced; a key
    * at 50 means one post-shuffle partition does 50 keys' worth of
    * work). Run this BEFORE keying a 100 TB join/groupBy on a column:
    * a skew > ~20 on a hot key is the signal to salt it or rely on AQE
    * skew-join splitting.
    *
    * Plan shape: one groupBy on the key, then a DISTRIBUTED top-N
    * (`orderBy.limit` plans as TakeOrderedAndProject — per-partition
    * heaps, never a global sort or single-task window), a 1-row totals
    * aggregate cross-joined back, and a rank window over the ≤ topN
    * surviving rows. Nothing corpus-sized moves after the first
    * aggregate.
    */
  def keySkew(df: DataFrame, keyCol: String, topN: Int = 20): DataFrame = {
    require(topN > 0, "topN must be positive")
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // totals are TWO scalars — materialize them now (also warms the
    // persisted counts for the top-N pass) and release the cache after
    // the top-N (≤ topN rows) is computed; no cache outlives the call
    val t = counts.agg(sum(col("cnt")), count(lit(1))).head()
    val (total, nKeys) = (t.getLong(0), t.getLong(1))
    val top = counts.orderBy(col("cnt").desc, col(keyCol).asc).limit(topN)
      .collect().toSeq
    counts.unpersist()
    val spark = df.sparkSession
    val topDf = spark.createDataFrame(
      spark.sparkContext.parallelize(top, 1),
      counts.schema)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col(keyCol).asc)
    topDf.withColumn("rank", row_number().over(w).cast("long"))
      .select(col(keyCol), col("cnt"), col("rank"),
        (col("cnt").cast("double") / lit(total)).as("frac"),
        (col("cnt").cast("double") * lit(nKeys) / lit(total)).as("skew"))
  }

  /** Equi-width histogram of a numeric column — the distribution view
    * the scalar metrics can't give. Bucketing is EXACT INTEGER
    * arithmetic on the quantileGate 1e-6 grid (`q = floor(x·1e6)`;
    * bucket = `(q - qlo)·bins div (qhi - qlo + 1)`), so no
    * double-division boundary row can flip buckets between engines or
    * partitionings. Two passes: a 1-row min/max agg (broadcast back as
    * a cross join) and one groupBy over ≤ `bins` groups. A constant
    * column (qhi = qlo) lands entirely in bucket 0. Only non-empty
    * buckets are emitted, with their [lo, hi) value bounds.
    */
  def histogram(df: DataFrame, c: String, bins: Int = 20): DataFrame = {
    require(bins > 0, "bins must be positive")
    val q = df.filter(col(c).isNotNull)
      .select(floor(col(c).cast("double") * lit(1e6)).cast("long").as("q"))
    val bounds = q.agg(min(col("q")).as("qlo"), max(col("q")).as("qhi"))
    // `div` (true integer division; all operands non-negative after the
    // qlo shift) — a double `/` + truncate could flip boundary rows
    // between engines
    q.crossJoin(broadcast(bounds))
      .select(expr(s"((q - qlo) * $bins) div (qhi - qlo + 1)").as("bucket"),
        col("qlo"), col("qhi"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), first(col("qlo")).as("qlo"), first(col("qhi")).as("qhi"))
      .select(col("bucket"),
        (expr(s"qlo + ((qhi - qlo + 1) * bucket) div $bins")
          .cast("double") / lit(1e6)).as("lo"),
        (expr(s"qlo + ((qhi - qlo + 1) * (bucket + 1)) div $bins")
          .cast("double") / lit(1e6)).as("hi"),
        col("n"))
  }

  /** Pearson correlation of two numeric columns with ENGINE-PORTABLE
    * arithmetic: the five sufficient statistics are decimal-EXACT sums
    * (2-dp source columns; products carry scale 4), cast to double
    * once, and r folds through the IDENTICAL parse tree
    * `(n·Sxy − Sx·Sy) / (sqrt(n·Sxx − Sx²)·sqrt(n·Syy − Sy²))` in
    * both engines — the one-pass textbook form, safe here because the
    * sums are exact (no catastrophic cancellation from float partial
    * sums). One aggregate pass; a zero-variance side yields null.
    */
  def corrStats(df: DataFrame, x: String, y: String): DataFrame = {
    val dx = col(x).cast("decimal(19,2)")
    val dy = col(y).cast("decimal(19,2)")
    df.filter(col(x).isNotNull && col(y).isNotNull)
      .agg(
        count(lit(1)).as("n"),
        sum(dx).cast("double").as("sx"),
        sum(dy).cast("double").as("sy"),
        sum(dx * dx).cast("double").as("sxx"),
        sum(dy * dy).cast("double").as("syy"),
        sum(dx * dy).cast("double").as("sxy"))
      .select(col("n"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("vx"),
        (col("n") * col("syy") - col("sy") * col("sy")).as("vy"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("cxy"))
      // zero variance -> null, guarded BEFORE the division (ANSI mode
      // raises DIVIDE_BY_ZERO even for doubles)
      .select(col("n"),
        when(col("vx") > 0 && col("vy") > 0,
          col("cxy") / (sqrt(col("vx")) * sqrt(col("vy")))).as("pearson_r"))
  }
}
