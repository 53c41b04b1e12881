package graft.ops

import org.apache.commons.io.FileUtils
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.graftbridge.Checkpoint

/** Lifecycle registry for operator-internal materialized intermediates.
  *
  * Multi-pass operators (dedup, similarity, size-batching) persist frames
  * that are consumed more than once INSIDE one logical result — the
  * postings index both sides of a self-join, the cell assignment feeds the
  * radii pass and both pair-join sides. Those frames must stay cached until
  * the caller materializes the result, so the operator cannot unpersist
  * them itself; but left alone in a long-lived session they accumulate
  * executor storage until eviction pressure degrades unrelated jobs.
  *
  * Iterative operators (connected components, BPE training) and
  * read-then-overwrite writers (the corpus sink's manifest) instead CUT
  * lineage with [[cut]]: the frame is materialized now and later plans
  * start at its rows, not at the plan that made them.
  *
  * Every such persist or cut registers here under the session it belongs
  * to; a session-level caller releases that session's frames between jobs
  * with [[release]] (`graft.Harness.release`: `Bench` clears between timed
  * queries, `Verify` between dumped queries), leaving the frames of other
  * sessions of the same SparkContext cached. [[releaseAll]] drops every
  * session's. Frames whose last consumer is INSIDE the operator are not
  * left registered — they are unpersisted (a persist) or [[free]]d (a cut)
  * at the internal materialization point instead.
  *
  * Queries whose result reads scratch files lazily take their directory
  * from [[tempDir]]; it is deleted with the session's frames, once the
  * caller has collected the result.
  */
object ScratchCache {
  private val frames = scala.collection.mutable.ArrayBuffer.empty[Dataset[_]]

  /** A cut: its session, the frame [[cut]] returned, the blocks it reads. */
  private final case class Cut(spark: SparkSession, frame: DataFrame, rdd: RDD[_])
  private val cuts = scala.collection.mutable.ArrayBuffer.empty[Cut]

  /** A scratch directory and the session it belongs to. */
  private final case class TempDir(spark: SparkSession, dir: java.io.File)
  private val dirs = scala.collection.mutable.ArrayBuffer.empty[TempDir]

  /** Register an operator-internal persisted frame for later release by
    * its session. */
  private[graft] def register[T <: Dataset[_]](df: T): T = synchronized {
    frames += df
    df
  }

  /** Lineage cut: materializes `df` now (one job) as an eager local
    * checkpoint and returns a frame that reads those rows, with `df`'s
    * physical output partitioning kept (a hash aggregate's or a
    * `repartition(n, key)`'s `HashPartitioning` survives, so a later join
    * or aggregation on that key does not shuffle it again). A plan built
    * on the result holds one scan node in place of `df`'s whole plan. The
    * blocks are registered under `df`'s session: [[release]] and
    * [[releaseAll]] drop them, [[free]] drops them sooner. */
  private[graft] def cut(df: DataFrame): DataFrame = {
    val (frame, rdd) = Checkpoint.local(df)
    synchronized(cuts += Cut(df.sparkSession, frame, rdd))
    frame
  }

  /** Drop now the blocks of the cut `df` is (the frame [[cut]] returned,
    * or a typed view of it) and forget it; a frame that is no cut is left
    * alone. For cuts whose last consumer is inside the operator. */
  private[graft] def free(df: Dataset[_]): Unit = synchronized {
    val plan = df.queryExecution.logical
    cuts.filter(_.frame.queryExecution.logical eq plan).foreach(c => Checkpoint.free(c.rdd))
    cuts.filterInPlace(_.frame.queryExecution.logical ne plan)
  }

  /** A new directory under `java.io.tmpdir`, named `prefix` + a unique
    * suffix, registered under `spark`: [[release]] and [[releaseAll]]
    * delete it. */
  private[graft] def tempDir(spark: SparkSession, prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    synchronized(dirs += TempDir(spark, dir))
    dir.toString
  }

  /** Unpersist (blocking=false) and forget the frames and cuts registered
    * from `spark`, and delete its [[tempDir]]s. Safe to call between
    * jobs; a released persisted frame that is re-read simply recomputes
    * (a released cut cannot be re-read: its rows are gone with its
    * blocks). */
  def release(spark: SparkSession): Unit = synchronized {
    frames.filter(_.sparkSession eq spark).foreach(_.unpersist())
    frames.filterInPlace(_.sparkSession ne spark)
    cuts.filter(_.spark eq spark).foreach(c => Checkpoint.free(c.rdd))
    cuts.filterInPlace(_.spark ne spark)
    dirs.filter(_.spark eq spark).foreach(d => FileUtils.deleteQuietly(d.dir))
    dirs.filterInPlace(_.spark ne spark)
  }

  /** Unpersist every registered frame and cut of every session, delete
    * every [[tempDir]], and forget them. */
  def releaseAll(): Unit = synchronized {
    frames.foreach(_.unpersist())
    frames.clear()
    cuts.foreach(c => Checkpoint.free(c.rdd))
    cuts.clear()
    dirs.foreach(d => FileUtils.deleteQuietly(d.dir))
    dirs.clear()
  }

  /** Number of currently-registered frames and cuts (monitoring/tests). */
  def registered: Int = synchronized(frames.size + cuts.size)
}
