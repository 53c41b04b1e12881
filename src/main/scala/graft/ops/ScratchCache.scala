package graft.ops

import org.apache.spark.sql.{Dataset, SparkSession}

/** Lifecycle registry for operator-internal persisted intermediates.
  *
  * Multi-pass operators (dedup, similarity, size-batching) persist frames
  * that are consumed more than once INSIDE one logical result — the
  * postings index both sides of a self-join, the cell assignment feeds the
  * radii pass and both pair-join sides. Those frames must stay cached until
  * the caller materializes the result, so the operator cannot unpersist
  * them itself; but left alone in a long-lived session they accumulate
  * executor storage until eviction pressure degrades unrelated jobs.
  *
  * Every such persist registers here under the session it belongs to; a
  * session-level caller releases that session's frames between jobs with
  * [[release]] (`graft.Harness.release`: `Bench` clears between timed
  * queries, `Verify` between dumped queries), leaving the frames of other
  * sessions of the same SparkContext cached. [[releaseAll]] drops every
  * session's. Frames whose last consumer is INSIDE the operator are not
  * registered — they are unpersisted eagerly at the internal
  * materialization point instead.
  */
object ScratchCache {
  private val frames = scala.collection.mutable.ArrayBuffer.empty[Dataset[_]]

  /** Register an operator-internal persisted frame for later release by
    * its session. */
  private[graft] def register[T <: Dataset[_]](df: T): T = synchronized {
    frames += df
    df
  }

  /** Unpersist (blocking=false) and forget the frames registered from
    * `spark`. Safe to call between jobs; a released frame that is re-read
    * simply recomputes. */
  def release(spark: SparkSession): Unit = synchronized {
    frames.filter(_.sparkSession eq spark).foreach(_.unpersist())
    frames.filterInPlace(_.sparkSession ne spark)
  }

  /** Unpersist every registered frame of every session and forget them. */
  def releaseAll(): Unit = synchronized {
    frames.foreach(_.unpersist())
    frames.clear()
  }

  /** Number of currently-registered frames (monitoring/tests). */
  def registered: Int = synchronized(frames.size)
}
