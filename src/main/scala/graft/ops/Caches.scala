package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The ops layer's one cache owner: records every frame it [[keep]]s
  * and [[release]]s them together. Pipelines build inside
  * [[Caches.owning]], hand `release` to their caller on success, and
  * release at once when a stage throws.
  */
final class Caches {
  private val kept = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /** Record `df`, then [[Caches.eager]] it — recorded first, so a
    * `count()` that throws still leaves it to [[release]].
    */
  def keep(df: DataFrame): DataFrame = {
    synchronized { kept += df }
    Caches.eager(df)
  }

  /** Unpersist every kept frame, newest first, once. */
  def release(): Unit = {
    val frames = synchronized { try kept.reverse.toList finally kept.clear() }
    frames.foreach(_.unpersist())
  }
}

object Caches {

  /** Persist `df` `MEMORY_AND_DISK` and fill the cache with one
    * `count()` now; returns `df`. Every multi-consumer cache in the ops
    * layer goes through here. A LAZY cache fills during the first
    * action that reads it, and when that action reads it through
    * several consumers (a histogram and the join back onto it, both
    * sides of a self-join) the consumers race the half-filled cache:
    * each re-runs the lineage a nondeterministic number of times (the
    * round-5 `curation_pipeline_v3` variance). The eager count is the
    * work the first consumer would do anyway, paid once and
    * deterministically; `MEMORY_AND_DISK` spills instead of recomputing.
    */
  def eager(df: DataFrame): DataFrame = {
    df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    df
  }

  /** Run `body` with a fresh owner; if it throws, release what it kept
    * and rethrow. On success the caller owns the release.
    */
  def owning[A](body: Caches => A): A = {
    val c = new Caches
    try body(c)
    catch {
      case t: Throwable =>
        try c.release() catch { case s: Throwable => t.addSuppressed(s) }
        throw t
    }
  }
}
