package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The one per-key top-k operator of the ops layer: every retrieval tier,
  * vote, margin pick and per-key keep-first selects through [[rank]].
  *
  * Today it is a `row_number` window plus a `<= k` filter, which Spark
  * plans as a `WindowGroupLimit` below the window (a partial per-key
  * top-k before the exchange). The algorithm stays behind this one call
  * so a bounded-heap selector can replace it at a single site.
  */
object TopK {

  /** Rows of `df` ranked 1..k within each `part` key by `order` (which
    * must be a total order for a deterministic result), the 1-based rank
    * kept in column `as`.
    */
  def rank(df: DataFrame, part: Seq[Column], order: Seq[Column], k: Int,
           as: String = "rank"): DataFrame =
    df.withColumn(as, row_number().over(Window.partitionBy(part: _*).orderBy(order: _*)))
      .filter(col(as) <= k)
}
