package graft.queries

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}

/** One verifiable operator query: a Spark implementation plus (when
  * SQL-expressible) an equivalent DuckDB oracle over the same parquet
  * tables. Column names/aliases must match between the two — the driver's
  * compare sorts columns by name before hashing.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** [[load]] with the scan redistributed across all cores. The
    * driver's testdata ships each table as ONE parquet file with ONE
    * row group, which Spark cannot split: the scan — and every map
    * stage fused onto it — runs as a single task. A real corpus
    * arrives as thousands of multi-row-group files and parallelizes at
    * the source; this emulates that for queries whose cost is the
    * per-row COMPUTE fused onto the scan (bigram md5 explodes, rule
    * regex batteries, vector arithmetic), measured 1.2-2x faster
    * spread. It is deliberately NOT the default: fingerprint-shaped
    * ops (explode → groupBy(hash)) are measured FASTER on the
    * unsplit scan, because one partition holding the whole corpus
    * gives map-side partial aggregation a perfect combine ratio that
    * 32 partitions dilute — a test-scale artifact either way, so each
    * query picks the loader that matches its production shape.
    * (Round-robin repartition locally sorts rows first for retry
    * determinism — pointless on single-attempt local runs, so the
    * harness sessions set
    * `spark.sql.execution.sortBeforeRepartition=false`.)
    */
  def loadSpread(spark: SparkSession, dir: String, name: String): DataFrame =
    spread(load(spark, dir, name))

  /** See [[loadSpread]] — the redistribution alone, for derived loads
    * like [[loadEvents]].
    */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** `df` shuffled once by its first column, for a narrow frame that is
    * dear to compute and that two branches of ONE action read (a
    * histogram gate's aggregate and its threshold join). Both branches
    * then hold the same exchange, which Spark runs once and reuses, so
    * `df`'s expressions run once and no cache outlives the query. The
    * identity `mapPartitions` stops the optimizer from pushing the
    * not-null filter it infers for the join side below the exchange,
    * which would make the two exchanges differ.
    */
  def sharedScan(df: DataFrame): DataFrame =
    df.repartition(df.col(df.columns.head))
      .mapPartitions((rows: Iterator[Row]) => rows)(Encoders.row(df.schema))

  /** Materialize a SMALL (driver-bounded — per-language/per-stage
    * summary rows) frame, then release the pipeline caches backing it.
    * The rows come back as a LocalRelation, so the returned frame
    * survives the unpersist without recompute and the QueryDef leaks no
    * executor cache into embedding callers — the collect is bounded by
    * the summary's group count, same class as the other documented
    * driver-side sites. `release` runs even when the collect throws.
    */
  def materializeAndRelease(df: DataFrame, release: () => Unit): DataFrame = {
    val rows = try df.collect() finally release()
    df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
  }

  /** The events table's `ts` precision depends on the testdata
    * generation: earlier rounds shipped TIMESTAMP(NANOS) parquet (which
    * Spark rejects by default — read as raw longs via the legacy conf
    * and truncate to micros, the same truncation DuckDB applies), the
    * current data ships plain microsecond timestamps (NTZ). Branch on
    * the loaded type so both generations work; either way the result is
    * a session-TZ (UTC) microsecond TimestampType column.
    */
  def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => // nanos read as long
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case _ => // already a (micro) timestamp; pin NTZ -> session-TZ type
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  val all = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")
}

/** SQL fragments shared by several DuckDB oracles — one definition so
  * the engine-side sizing helpers and every oracle that mirrors them
  * stay in lockstep (the mwRoundCte convention, cross-file edition).
  */
object OracleSql {

  /** CTEs deriving the corpus-sized shingle hash dimension — the DuckDB
    * mirror of [[graft.ops.Embedding.sizedShingleDim]] at its registry
    * parameters (k = 3, targetDf = 4, minDim 2^10, maxDim 2^30):
    * `<prefix>pos` the exact shingle-position mass, `<prefix>need` the
    * INTEGER ceiling pos/4 (integer division — the engine computes
    * (pos + targetDf - 1) / targetDf in Long; a double `ceil` here
    * would round past 2^53 and could pick a different pow2), and
    * `<prefix>dim(dm)` the smallest grid power of two >= need. The
    * engine CLAMPS at both ends, so the CTE must too: an empty corpus
    * sums to NULL (→ need 0 → the grid's minimum, matching the
    * engine's minDim), and a need above the 2^30 grid top leaves no
    * satisfying row (→ COALESCE to maxDim, matching the saturated
    * while-loop) — without these the oracle goes NULL exactly at the
    * boundaries where the engine stays defined.
    */
  def sizedShingleDimCte(prefix: String): String = s"""
      ${prefix}pos AS (SELECT SUM(greatest(len(string_split(text,' ')) - 2, 0)) AS pos
                 FROM documents),
      ${prefix}need AS (SELECT (COALESCE(pos, 0) + 3) // 4 AS need FROM ${prefix}pos),
      ${prefix}dim AS (SELECT COALESCE(MIN(d), CAST(1073741824 AS BIGINT)) AS dm
              FROM (SELECT CAST(power(2, i) AS BIGINT) AS d FROM range(10, 31) t(i)), ${prefix}need
              WHERE d >= need)""".stripMargin
}
